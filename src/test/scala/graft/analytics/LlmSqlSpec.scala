package graft.analytics

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables
import graft.ops.{Dedup, Similarity}

/** SQL-text ≡ DataFrame for the LLM-pipeline front door (q121–q123):
  * the `spark.sql` rendering of exact dedup, MinHash-LSH near-dup
  * pairs, and cosine top-k — each driving the engine's native
  * expressions from a query string — must equal its library body row
  * for row and type for type at sf0.001 (the GraftSqlSpec contract).
  */
class LlmSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val t = Tables.load(spark, "/root/testdata/sf0.001")

  private def dfBody(name: String): DataFrame = name match {
    case "exact_dedup" => Dedup.exactDedup(t.documents)
    case "minhash_lsh" => Dedup.minhashLshPairs(t.documents)
    case "cosine_topk" => Similarity.cosineTopK(t.embeddings)
    // the t243 body plants its contamination in-query — compare
    // through the gate (the GraftSqlSpec "ignore_nulls" pattern)
    case "decontaminate_13gram" =>
      graft.SparkEntry.gates.find(_.name == "t243_ngram_decontaminate").get
        .run(spark, "/root/testdata/sf0.001")
  }

  LlmSql.sql.keys.toSeq.sorted.foreach { name =>
    test(s"$name: SQL text equals the DataFrame body, value for value") {
      val sqlOut = LlmSql.run(spark, t, name)
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
