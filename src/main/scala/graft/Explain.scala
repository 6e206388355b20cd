package graft

/** Plan auditor: prints the formatted physical plan for declared
  * queries — the feedback loop for pushdown/broadcast/codegen checks.
  *
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val gates = SparkEntry.gates.sortBy(_.name)
    val names = if (args.length > 1) args.drop(1).toSeq else gates.map(_.name)
    val cpus = graft.core.GraftSession.cpus().toString
    val spark = graft.core.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      gates.find(_.name == name) match {
        case None => System.err.println(s"unknown query: $name")
        case Some(g) =>
          println(s"\n========== $name ==========")
          g.run(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
