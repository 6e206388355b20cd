package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables
import graft.ops.{EventOps, Relational}

/** SQL-text ≡ DataFrame for the non-TPC-H front door (q110–q115):
  * each flagship shape's `spark.sql` rendering must equal its library
  * body row for row and type for type at sf0.001 — the same contract
  * TpchSqlSpec pins for the TPC-H suite.
  */
class GraftSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val t = Tables.load(spark, "/root/testdata/sf0.001")

  private def dfBody(name: String): DataFrame = name match {
    case "sessionize" => EventOps.sessionize(t.events)
    case "top3_brand" => Relational.topPartsPerBrand(t.lineitem, t.part)
    case "exact_median" => Relational.exactMedianQty(t.lineitem)
    case "islands" =>
      Relational.islands(t.orders.filter(col("o_orderkey") % 13 =!= 5),
        col("o_orderkey"))
    case "mode" => Relational.modeQuantity(t.lineitem)
    case "rollup" => Relational.rollupQty(t.lineitem)
    case "range_frame" => Relational.rolling30dOrders(t.orders)
    // the q62 body is inline in its gate — compare through the gate
    case "ignore_nulls" =>
      graft.SparkEntry.gates.find(_.name == "q62_ignore_nulls").get
        .run(spark, "/root/testdata/sf0.001")
  }

  GraftSql.sql.keys.toSeq.sorted.foreach { name =>
    test(s"$name: SQL text equals the DataFrame body, value for value") {
      val sqlOut = GraftSql.run(spark, t, name)
      val dfOut = dfBody(name)
      assert(sqlOut.columns.toSeq == dfOut.columns.toSeq,
        "column names must match")
      assert(sqlOut.schema.map(_.dataType) == dfOut.schema.map(_.dataType),
        s"column types must match: ${sqlOut.schema} vs ${dfOut.schema}")
      val a = sqlOut.collect().map(_.toString).sorted.toSeq
      val b = dfOut.collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty && a == b,
        s"$name: SQL-text rows diverge from DataFrame rows")
    }
  }
}
