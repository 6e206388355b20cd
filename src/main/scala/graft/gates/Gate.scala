package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** One declared query and its DuckDB twin.
  *
  * `body` builds the query from the gate tables; `twin` is the DuckDB
  * SQL whose rows it must equal exactly (`tools/check_oracles.py`). A
  * gate cannot be declared without its twin.
  */
final case class Gate(name: String, twin: String, body: Tables => DataFrame) {
  /** The query over the gate tables under `dir`, loaded lazily. */
  def run(spark: SparkSession, dir: String): DataFrame = body(Tables.load(spark, dir))
}
