package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.gates._
import graft.ops.Relational

/** Driver contract — the declared operator surface (SURVEY.md §2).
  *
  * Every declared query is a [[graft.gates.Gate]]: its name, its
  * DuckDB-oracle twin and its body, written side by side in one gate
  * family under `graft/gates/` — including the LSH/minhash/ANN family,
  * whose seeded constants (hyperplanes, probe masks, affine
  * coefficients) are baked into the twin SQL as literals so the
  * candidate rules match by construction. Streaming and connector
  * ingestion (not expressible as queries over the gate tables) are
  * covered by ScalaTest specs instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables.load(spark, "/root/testdata/sf0.001")
    Relational.segmentRevenue(t.lineitem, t.orders, t.customer)
  }

  /** Every declared gate, family by family; built on each call, so no
    * twin string outlives its caller. */
  def gates: Seq[Gate] =
    RelationalGates.gates ++ EventGates.gates ++ TpchGates.gates ++
      SqlGates.gates ++ TextGates.gates ++ SimilarityGates.gates ++
      GraphGates.gates ++ MediaGates.gates ++ StreamingGates.gates ++
      SourceGates.gates ++ LakeGates.gates

  // Name-keyed views of `gates`, kept because the benchmark harness
  // under perfbench/ looks gates up by name in both.
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> ((s: SparkSession, d: String) => g.run(s, d))).toMap
  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.twin).toMap
}
