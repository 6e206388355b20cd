package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-13 statistics wave, gated in round 14: Benford first-digit
  * conformance, lag-k autocorrelation, histogram-fold Gini,
  * l-diversity release, CUSUM changepoint.
  */
class Round14StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("benfordReport: 9 rows per group, zero-fill for absent digits, " +
      "exact per-mille deviations, non-positive values excluded") {
    val df = Seq(("a", 10L), ("a", 19L), ("a", 25L), ("a", 300L),
      ("a", 0L), ("a", -7L)).toDF("g", "v")
    val got = Relational.benfordReport(df, col("g"), col("v"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 9, "one row per digit 1..9")
    val byDigit = got.map(t => t._1 -> t).toMap
    // n = 4 positive values; digit 1 observed twice: dev = 2000 - 4*301
    assert(byDigit(1L) == ((1L, 2L, 4L, 2000L - 4L * 301L)))
    assert(byDigit(2L) == ((2L, 1L, 4L, 1000L - 4L * 176L)))
    assert(byDigit(3L) == ((3L, 1L, 4L, 1000L - 4L * 125L)))
    // absent digit zero-filled, deviation fully negative
    assert(byDigit(5L) == ((5L, 0L, 4L, -4L * 79L)))
  }

  test("autocorrInt: a linear series has acf 1 at any lag; groups with " +
      "fewer than lag+1 points are omitted") {
    val df = Seq(("a", 1, 10L), ("a", 2, 20L), ("a", 3, 30L), ("a", 4, 40L),
      ("a", 5, 50L), ("a", 6, 60L),
      ("tiny", 1, 5L)) // 1 point < lag+1 → no pair at all
      .toDF("g", "t", "x")
    val got = Relational.autocorrInt(df, col("g"), col("t"), col("x"), lag = 1)
      .collect()
    assert(got.length == 1, s"short group must be omitted: ${got.toSeq}")
    assert(got(0).getString(0) == "a" && got(0).getLong(1) == 5L &&
      got(0).getDouble(2) == 1.0)
    // alternating series at lag 1 → acf -1 (x and lead(x) perfectly anti)
    val alt = Seq(("b", 1, 0L), ("b", 2, 10L), ("b", 3, 0L), ("b", 4, 10L),
      ("b", 5, 0L), ("b", 6, 10L)).toDF("g", "t", "x")
    val a = Relational.autocorrInt(alt, col("g"), col("t"), col("x"), 1)
      .collect()(0)
    assert(a.getDouble(2) == -1.0)
  }

  test("giniInt: all-equal values give 0, one-holder concentration " +
      "gives (n-1)/n, exact integer numer/denom, tie-permutation safe") {
    val eq = Seq(("a", 5L), ("a", 5L), ("a", 5L), ("a", 5L)).toDF("g", "v")
    val g0 = Relational.giniInt(eq, col("g"), col("v")).collect()(0)
    assert(g0.getLong(1) == 4L)
    assert(g0.getDecimal(2).longValueExact == 0L, "numer must be exactly 0")
    assert(g0.getLong(4) == 0L)
    // (0,0,0,10): G = (2*40 - 5*10) / (4*10) = 30/40 = 0.75
    val conc = Seq(("a", 0L), ("a", 0L), ("a", 10L), ("a", 0L)).toDF("g", "v")
    val g1 = Relational.giniInt(conc, col("g"), col("v")).collect()(0)
    assert(g1.getDecimal(2).longValueExact == 30L &&
      g1.getDecimal(3).longValueExact == 40L && g1.getLong(4) == 750000L)
    // all-zero values: denom = 0 → NULL gini_micro in BOTH engines
    // (the explicit guard — Spark would null silently, DuckDB errors)
    val zs = Seq(("a", 0L), ("a", 0L)).toDF("g", "v")
    assert(Relational.giniInt(zs, col("g"), col("v")).collect()(0).isNullAt(4))
    // repartitioned ties: the histogram fold is order-independent
    val g2 = Relational.giniInt(conc.repartition(7), col("g"), col("v"))
      .collect()(0)
    assert(g2.getDecimal(2).longValueExact == 30L)
    // the plan must aggregate the fact table BEFORE any window: the
    // window sort runs over the (grp, v) histogram, never raw rows
    val plan = Relational.giniInt(conc, col("g"), col("v"))
      .queryExecution.optimizedPlan.toString
    val winIdx = plan.indexOf("Window")
    val aggBelow = plan.indexOf("Aggregate", winIdx)
    assert(winIdx >= 0 && aggBelow > winIdx,
      s"expected histogram Aggregate BELOW the Window, plan:\n$plan")
  }

  test("lDiversify: k-passing but l-failing groups suppressed; NULL " +
      "quasi-identifier groups release via the null-safe join") {
    val df = Seq(
      // group (1, x): 3 rows but only 1 distinct sensitive → suppressed
      (1L, java.lang.Long.valueOf(1L), "s1"),
      (2L, java.lang.Long.valueOf(1L), "s1"),
      (3L, java.lang.Long.valueOf(1L), "s1"),
      // group (2, x): 3 rows, 2 distinct sensitive → released
      (4L, java.lang.Long.valueOf(2L), "s1"),
      (5L, java.lang.Long.valueOf(2L), "s2"),
      (6L, java.lang.Long.valueOf(2L), "s1"),
      // NULL quasi group: 3 rows, 2 distinct → must release too
      (7L, null.asInstanceOf[java.lang.Long], "s1"),
      (8L, null.asInstanceOf[java.lang.Long], "s2"),
      (9L, null.asInstanceOf[java.lang.Long], "s2"),
      // singleton: fails k
      (10L, java.lang.Long.valueOf(3L), "s9"))
      .toDF("id", "q", "sens")
    val got = Relational.lDiversify(df, "id", Seq(col("q")), Seq("qi"),
      col("sens"), k = 2, l = 2)
    assert(got.count() == 6L, "released = group 2 (3 rows) + NULL group (3 rows)")
    val nullRows = got.filter(col("qi").isNull).collect()
    assert(nullRows.length == 3,
      "NULL quasi rows must survive the null-safe release join")
    assert(nullRows.forall(r => r.getLong(2) == 3L && r.getLong(3) == 2L))
    assert(got.columns.toSeq ==
      Seq("pseud", "qi", "group_size", "sensitive_diversity"))
  }

  test("cusumChangepoint: a planted level shift is detected at the " +
      "first threshold crossing; a flat series never triggers") {
    // group a: 10 for t=1..5, 20 for t=6..10 — n=10, S=150,
    // d_t = 10*x_t - 150 = ∓50; cusum after the shift: 50,100,...,250
    val rows = (1 to 5).map(t => ("a", t, 10L)) ++
      (6 to 10).map(t => ("a", t, 20L)) ++
      (1 to 10).map(t => ("flat", t, 7L))
    val df = rows.toDF("g", "t", "x")
    val m = Relational.cusumChangepoint(df, col("g"), col("t"), col("x"), 20L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getLong(3)))).toMap
    // threshold h*n = 200: first strict crossing is t=10 (cusum 250;
    // t=9 sits exactly AT 200 and must not trigger)
    assert(m("a") == ((10L, Some(10), 250L)))
    assert(m("flat") == ((10L, None, 0L)))
    // lower threshold h=15 → h*n = 150 < 200: t=9 now triggers
    val m2 = Relational.cusumChangepoint(df, col("g"), col("t"), col("x"), 15L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getLong(3)))).toMap
    assert(m2("a")._2 == Some(9))
  }

  test("cusumFixedTarget: closed form equals the clamped recurrence, " +
      "and the carry identity folds a split series to the same result") {
    // series: x = 5,1,9,9,1,9 target 4 → d = 1,-3,5,5,-3,5
    // recurrence s: 1,0,5,10,7,12 — s_max 12, h=9 detects at t=4
    val full = Seq(("a", 1, 5L), ("a", 2, 1L), ("a", 3, 9L), ("a", 4, 9L),
      ("a", 5, 1L), ("a", 6, 9L)).toDF("g", "t", "x")
    val got = Relational.cusumFixedTarget(full, col("g"), col("t"), col("x"),
      target = 4L, h = 9L).collect()(0)
    assert((got.getLong(1), Option(got.get(2)), got.getLong(3)) ==
      ((6L, Some(4), 12L)))
    // carry identity: fold the prefix, then continue on the suffix
    // with s0 = prefix's final s — must reproduce the full-series
    // tail values: s_t = max(s0 + c_t, c_t - min_{1<=k<=t} c_k)
    // prefix t=1..3 ends at s0 = 5; suffix d = 5,-3,5 → c = 5,2,7,
    // min-prefix = 5,2,2 → max(s0+c, c-min) = (10,7,12) — matches
    val s0 = 5L
    val sufD = Seq(5L, -3L, 5L)
    val c = sufD.scanLeft(0L)(_ + _).tail
    val mins = c.inits.toSeq.reverse.tail.map(_.min)
    val s = c.zip(mins).map { case (ct, mn) => math.max(s0 + ct, ct - mn) }
    assert(s == Seq(10L, 7L, 12L))
  }

  test("trimmedMeanInt: exact interval-overlap trim, small groups " +
      "degrade to the plain mean, ties span the cut") {
    // group a: 1..10, trim 100 permille → k=1, keep 2..9, mean 5.5
    // group b: 9 rows of value 7 and one 1000 outlier, k=1 → the
    //   outlier drops entirely, one 7 drops from the low side
    // group c: 3 rows (n·100/1000 = 0) → nothing trimmed, plain mean
    val rows = (1L to 10L).map(v => ("a", v)) ++
      (Seq.fill(9)(7L) :+ 1000L).map(v => ("b", v)) ++
      Seq(("c", 1L), ("c", 2L), ("c", 4L))
    val df = rows.toDF("g", "v")
    val got = Relational.trimmedMeanInt(df, col("g"), col("v"),
        trimPermille = 100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      ("a", 10L, 8L, 5500000L),
      ("b", 10L, 8L, 7000000L),
      ("c", 3L, 3L, (7L * 1000000L) / 3L)))
  }
}
