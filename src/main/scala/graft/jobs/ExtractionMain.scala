package graft.jobs

import java.time.LocalDate

import graft.sinks.LakeWriter
import graft.sources.{Endpoints, JavaHttpTransport, RestClient, RetryPolicy}

/** Schedulable entry point (the engine-side contract for the
  * reference's cron workflow — any scheduler can exec this):
  *
  *   runMain graft.jobs.ExtractionMain <baseUrl> <lakeRoot> [loadDate]
  *
  * s3a lake roots work once credentials are in the Hadoop conf
  * (LakeWriter.configureS3a or spark.hadoop.fs.s3a.* properties).
  * Exits nonzero if every step failed; partial runs exit 0 with
  * skips logged, mirroring the reference's guard-and-continue runs.
  */
object ExtractionMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExtractionMain <baseUrl> <lakeRoot> [loadDate]")
    val Array(baseUrl, lakeRoot) = args.take(2)
    val loadDate = args.lift(2).getOrElse(LocalDate.now().toString)
    val spark = graft.core.GraftSession.builder(graft.core.GraftSession.cpus().toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val client = new RestClient(new JavaHttpTransport(), RetryPolicy(minIntervalMillis = 1100L))
    val job = new ExtractionJob(spark, client, new LakeWriter(lakeRoot), baseUrl)
    val results = job.run(Endpoints.fullLoad, loadDate)
    results.foreach(r =>
      println(s"[extract] ${r.entity}: ${r.rows.map(n => s"$n rows").getOrElse(s"SKIPPED (${r.error.get})")}"))
    spark.stop()
    if (results.forall(!_.ok)) sys.exit(1)
  }
}
