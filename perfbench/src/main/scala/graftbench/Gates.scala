package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{GraftCaches, Tables}
import graft.streaming.StreamGates

/** A declared gate: its name in `SparkEntry.queries`/`oracleSql`, the
  * module that implements it, and how to build its result frame.
  */
final case class Gate(name: String, module: String, body: (SparkSession, String) => DataFrame)

/** Shared by the two gate workloads: dump each gate's result once for
  * the DuckDB check (the untimed warm-up pass), then answer the gates
  * again in timed rounds.
  */
abstract class GateWorkload(spark: SparkSession, dataDir: String) extends Workload {
  def gates: Seq[Gate]
  /** The gates of the warm-up pass: the same queries, possibly cut
    * into fewer shards. */
  def warmGates: Seq[Gate] = gates

  /** Warm-up pass: every gate once, its result written as Parquet for
    * the check, and its DuckDB twin recorded beside it.
    */
  def dump(outDir: String): Unit = {
    writeTwins(outDir)
    warmGates.foreach { g =>
      g.body(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${g.name}")
      GraftCaches.release(spark)
      afterGate(null, g)
    }
  }

  protected def writeTwins(outDir: String): Unit = {
    val twins = gates.map(g => Json.str(g.name) + ":" + Json.str(SparkEntry.oracleSql(g.name)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      twins.mkString("{", ",", "}"))
    ()
  }

  /** Hook run after each gate; `sink` is null in the warm-up pass. */
  protected def afterGate(sink: OpSink, g: Gate): Unit

  def check(): Seq[String] = Nil
  def close(): Unit = ()
}

/** The `query_mix` workload: one closed-loop client answering a fixed,
  * seed-ordered sequence of declared non-streaming gates in one
  * long-lived session; each result goes to the noop sink. Op: one
  * query. Work: queries answered.
  */
final class QueryMix(spark: SparkSession, dataDir: String, seed: Long)
    extends GateWorkload(spark, dataDir) {
  private def q(name: String, module: String) = Gate(name, module, SparkEntry.queries(name))

  // The fastest gates of each family: on four task slots a declared
  // gate costs 0.2-1 s however small its input, so a round of eleven
  // keeps four rounds (44 queries) inside one run.
  val gates: Seq[Gate] = new scala.util.Random(seed).shuffle(Seq(
    // relational and event operators (graft.ops)
    q("q02_filter_pushdown", "ops"), q("q15_monthly_orders", "ops"),
    // TPC-H as DataFrame and as SQL text
    q("q69_tpch06", "analytics"), q("q93_tpch06_sql", "analytics"),
    q("q101_tpch14_sql", "analytics"),
    // connector analyses over the fixture payloads
    q("q39_widen_arrays", "sources"), q("q40_map_pivot", "sources"),
    q("q41_hero_win_rate", "analytics"),
    // light similarity, text and corpus operators
    q("q123_cosine_topk_sql", "analytics"), q("t29_token_counts", "ops"),
    q("t58_vocabulary", "ops")))

  // one noop pass after the dump pass
  val warmRounds = 1

  def runRound(sink: OpSink): Unit = gates.foreach { g =>
    val t0 = System.nanoTime()
    val ok = try {
      g.body(spark, dataDir).write.format("noop").mode("overwrite").save(); true
    } catch { case scala.util.control.NonFatal(e) => System.err.println(s"[perfbench] ${g.name}: $e"); false }
    sink.op(g.name, g.module, (System.nanoTime() - t0) / 1e6, ok, 1L)
    GraftCaches.release(spark)
  }

  protected def afterGate(sink: OpSink, g: Gate): Unit = ()
}

/** The `stream_gates` workload: the oracle-gated streaming forms,
  * driven micro-batch by micro-batch with a cold restart per shard.
  * Op: one shard's streaming query, timed from start to termination
  * by a `StreamingQueryListener`. Work: input rows streamed.
  */
final class StreamMix(spark: SparkSession, dataDir: String, probe: StreamProbe,
    shards: Int, warmShards: Int, timedDump: String)
    extends GateWorkload(spark, dataDir) {
  private def t(s: SparkSession, d: String) = Tables.load(s, d)
  private def g(name: String, module: String)(f: Tables => DataFrame) =
    Gate(name, module, (s, d) => f(t(s, d)))

  val gates: Seq[Gate] = build(shards)
  override val warmGates: Seq[Gate] = build(warmShards)
  writeTwins(timedDump)

  private def build(shards: Int): Seq[Gate] = Seq(
    // restart-bound stateful gates
    g("t96_stream_hourly", "streaming")(x => StreamGates.hourlyGate(x.events, shards)),
    g("t142_stream_sliding", "streaming")(x => StreamGates.slidingGate(x.events, shards)),
    g("t97_stream_sessions", "streaming")(x => StreamGates.sessionGate(x.events, shards)),
    g("t98_stream_state", "streaming")(x => StreamGates.runningTotalsGate(x.events, shards)),
    g("t186_stream_dropdup", "streaming")(x => StreamGates.dropDupGate(x.events, shards)),
    g("t184_stream_outer_join", "streaming")(x => StreamGates.outerJoinGate(x.events, shards)),
    g("t176_stream_mv", "streaming")(x => StreamGates.mvGate(x.orders, shards)),
    // batch-heavy foreachBatch intakes over persisted bucketed indexes
    g("t88_stream_exact_dedup", "streaming")(x => StreamGates.exactDedupGate(x.documents, shards)),
    g("t89_stream_paragraph_dedup", "streaming")(x => StreamGates.paragraphGate(x.documents, shards)),
    g("t90_stream_neardup_pairs", "streaming")(x => StreamGates.nearDupGate(x.documents, shards)),
    g("t153_stream_cc", "streaming")(x => StreamGates.ccGate(x.lineitem, shards)))

  val warmRounds = 0

  def runRound(sink: OpSink): Unit = gates.foreach { gate =>
    try {
      // the result of every timed round is kept for the check as well
      gate.body(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$timedDump/${gate.name}")
      afterGate(sink, gate)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] ${gate.name}: $e")
        probe.awaitAll(); probe.drain()
        sink.op(gate.name, gate.module, 0.0, ok = false, 0L)
    }
    GraftCaches.release(spark)
  }

  protected def afterGate(sink: OpSink, g: Gate): Unit = {
    probe.awaitAll()
    val lives = probe.drain()
    if (sink != null) lives.foreach { l =>
      sink.op(g.name, g.module, l.ms, !l.failed, l.inputRows.get)
      sink.life(l)
    }
  }
}
