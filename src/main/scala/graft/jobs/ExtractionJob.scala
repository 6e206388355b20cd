package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.sinks.LakeWriter
import graft.sources.{EndpointSpec, FetchError, RestClient, RestSource}

/** Per-step outcome — the engine's record of the reference's
  * console-logged skip-on-failure semantics.
  */
final case class StepResult(
    entity: String,
    rows: Option[Long],
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Full-load orchestrator: fetch → normalize → sink for each endpoint
  * spec, sequentially (API rate limits are global — SURVEY.md §7.4),
  * with per-step skip-on-failure mirroring the reference's guard-and-
  * continue loop (`extract-data-dota.py:126-199`): one failing entity
  * never aborts the entities after it. Unlike the reference — whose
  * S3 write re-raises and kills the whole run
  * (`extract-data-dota.py:83,206-209`) — sink failures are also
  * per-step: they mark the step failed and move on.
  *
  * Each successful step is one Spark write job (plus the schema
  * inference job of an inferred-schema entity) that leaves one Parquet
  * file per entity and load date, committed by
  * [[graft.sinks.LakeWriter.write]]'s staged swap into that date's
  * directory (no `_SUCCESS` marker); [[StepResult.rows]] is the count
  * observed on that write, with no re-read of the payload or the lake.
  * A re-run replaces its own date only. An empty payload is a clean
  * load: with an explicit schema it commits a 0-row file carrying the
  * schema; an inferred `[]` has no columns, so its date is removed and
  * the step reports 0 rows.
  */
final class ExtractionJob(
    spark: SparkSession,
    client: RestClient,
    sink: LakeWriter,
    baseUrl: String) {

  def runStep(spec: EndpointSpec, loadDate: String): StepResult =
    try {
      client.fetch(spec.url(baseUrl), spec.params) match {
        case Left(err) => StepResult(spec.name, None, Some(errMsg(err)))
        case Right(body) =>
          val df = spec.rawNormalize match {
            case Some(f) => f(spark, body)
            case None    => spec.normalize(RestSource.readJson(spark, body, spec.schema))
          }
          // the payload is already one in-memory string, so one
          // task is all it needs, and it leaves one file per load date
          val rows = sink.write(df.coalesce(1), spec.name, loadDate)
          StepResult(spec.name, Some(rows), None)
      }
    } catch {
      case e: Exception =>
        StepResult(spec.name, None, Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }

  /** Run all steps; returns every outcome (callers decide whether a
    * partial run is acceptable — the reference treats it as success
    * with logged skips).
    */
  def run(specs: Seq[EndpointSpec], loadDate: String): Seq[StepResult] =
    specs.map { spec =>
      val r = runStep(spec, loadDate)
      r.error.foreach(e => System.err.println(s"[extract] ${spec.name} skipped: $e"))
      r
    }

  private def errMsg(e: FetchError): String = e match {
    case FetchError.HttpError(s, m)   => s"http $s: $m"
    case FetchError.EmptyBody(m)      => s"empty body: $m"
    case FetchError.TransportError(m) => s"transport: $m"
    case FetchError.RateLimited(m)    => s"rate limited: $m"
  }
}
