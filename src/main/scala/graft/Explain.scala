package graft

/** Plan auditor: prints the formatted physical plan for declared
  * queries — the feedback loop for pushdown/broadcast/codegen checks.
  *
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = graft.core.GraftSession.cpus().toString
    val spark = graft.core.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query: $name")
        case Some(fn) =>
          println(s"\n========== $name ==========")
          fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
