package graft.streaming

import java.io.File

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables
import graft.ops.{EventOps, TextOps}

/** Run ownership for the stream gates: a gate, finished or failed,
  * leaves no `sgate*` directory under `java.io.tmpdir` and no `sgate_*`
  * table in the catalog, and one run's drive never frees another
  * run's shard sources. Suites run serially in one forked JVM, so a
  * before/after listing of the temp directory sees only this suite.
  */
class StreamRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val t = Tables.load(spark, "/root/testdata/sf0.001")

  private def sgateDirs: Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("sgate")).toSet

  private def sgateTables: Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("sgate_")).toSeq

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("hourly, MV and exact-dedup gates leave nothing behind and still " +
      "equal their batch twins") {
    val before = sgateDirs
    val hourly = rows(StreamGates.hourlyGate(t.events))
    val mv = rows(StreamGates.mvGate(t.orders))
    val exact = rows(StreamGates.exactDedupGate(t.documents))
    assert(sgateDirs -- before == Set.empty)
    assert(sgateTables.isEmpty)

    assert(hourly.nonEmpty && hourly == rows(EventOps.hourlyStats(t.events)))

    val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
    assert(mv.nonEmpty && mv == rows(t.orders
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s"))
      .orderBy("grp")))

    // the gate's planted corpus, min doc_id per fingerprint
    val docs = t.documents.select("doc_id", "text")
    val novel = docs.filter(col("doc_id") % 25 === 10)
      .withColumn("text", concat(col("text"), lit(" zz novel tail")))
    val planted = docs
      .unionByName(docs.filter(col("doc_id") % 9 === 2)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(novel.withColumn("doc_id", col("doc_id") + 2000000L))
      .unionByName(novel.withColumn("doc_id", col("doc_id") + 3000000L))
    assert(exact.nonEmpty && exact == rows(planted
      .groupBy(TextOps.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id", "fp")
      .orderBy("doc_id")))
  }

  test("a run whose stream fails still drops its tables and deletes " +
      "its directories") {
    val before = sgateDirs
    val docs = t.documents.select("doc_id")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    intercept[StreamingQueryException] {
      Using.resource(new StreamRun(spark)) { run =>
        val tbl = run.table("sgate_failing_state")
        val root = run.dir("failing")
        run.foreachBatch(run.shards(docs, mx, 2)) { (batch, _) =>
          new graft.sinks.LakeWriter(root)
            .commitBucketed(batch, tbl, 2, Seq("doc_id"))
          throw new IllegalStateException("injected after a commit")
        }
      }
    }
    assert(sgateDirs -- before == Set.empty)
    assert(sgateTables.isEmpty)
  }

  test("two interleaved runs: the first run's drive leaves the second " +
      "run's shard sources intact") {
    val docs = t.documents.select("doc_id", "text")
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val expected = rows(docs.orderBy("doc_id"))
    def delivered(run: StreamRun, shards: Seq[DataFrame]): Seq[String] = {
      val out = run.dir("emit")
      run.foreachBatch(shards) { (batch, _) =>
        batch.write.mode("append").parquet(out)
      }
      rows(spark.read.parquet(out).orderBy("doc_id"))
    }
    Using.resource(new StreamRun(spark)) { a =>
      Using.resource(new StreamRun(spark)) { b =>
        // both runs' sources are checkpointed before either drives
        val shardsA = a.shards(docs, mx, 2)
        val shardsB = b.shards(docs, mx, 2)
        assert(delivered(a, shardsA) == expected)
        assert(delivered(b, shardsB) == expected)
      }
    }
  }
}
