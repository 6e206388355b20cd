package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.TestSpark
import graft.sinks.LakeWriter
import graft.sources._

/** End-to-end fixture-replay of the full-load pipeline: scripted
  * transport (zero egress), injected failure in the middle step,
  * partitioned lake round-trip.
  */
class ExtractionJobSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark

  private final class RouteTransport(routes: Map[String, RestResponse]) extends Transport {
    override def get(url: String, params: Map[String, String]): RestResponse =
      routes.getOrElse(url.split('?').head, RestResponse(500, ""))
  }

  private def mkJob(routes: Map[String, RestResponse], root: String): ExtractionJob = {
    val client = new RestClient(new RouteTransport(routes),
      RetryPolicy(maxRetries = 1, backoffMillis = 1), _ => ())
    new ExtractionJob(spark, client, new LakeWriter(root), "http://api.test")
  }

  private val specs = Seq(
    Endpoints.publicMatches,
    Endpoints.heroes,
    Endpoints.lobbyTypes)

  test("failing middle step is skipped, later steps still run, lake is partitioned") {
    val root = Files.createTempDirectory("lake").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson),
      // heroes endpoint down → step must fail WITHOUT killing the run
      "http://api.test/heroes" -> RestResponse(503, ""),
      "http://api.test/constants/lobby_type" -> RestResponse(200, Fixtures.lobbyTypesJson)),
      root)

    val results = job.run(specs, loadDate = "2026-08-01")
    assert(results.map(_.ok) == Seq(true, false, true))
    assert(results(0).rows.contains(3L))
    assert(results(2).rows.contains(3L))

    // lake round-trip: date is a real partition column
    val pm = spark.read.parquet(s"$root/public_matches")
    assert(pm.count() == 3)
    assert(pm.columns.contains("load_date"))
    assert(pm.columns.contains("radiant_hero_1")) // normalize ran before sink
    assert(new java.io.File(s"$root/public_matches/load_date=2026-08-01").isDirectory)
  }

  test("partition pruning reaches the scan when filtering on load_date") {
    val root = Files.createTempDirectory("lake").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson)), root)
    job.run(Seq(Endpoints.publicMatches), "2026-07-01")
    job.run(Seq(Endpoints.publicMatches), "2026-08-01")

    val pruned = spark.read.parquet(s"$root/public_matches")
      .filter(org.apache.spark.sql.functions.col("load_date") === "2026-08-01")
    assert(pruned.count() == 3) // not 6: only one snapshot read
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("load_date"),
      s"expected partition pruning in plan:\n$plan")
  }

  test("dynamic partition overwrite re-runs replace only their own date") {
    val root = Files.createTempDirectory("lake").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson)), root)
    job.run(Seq(Endpoints.publicMatches), "2026-07-01")
    job.run(Seq(Endpoints.publicMatches), "2026-08-01")
    job.run(Seq(Endpoints.publicMatches), "2026-08-01") // re-run same month
    assert(spark.read.parquet(s"$root/public_matches").count() == 6) // both months, no dupes
    for (d <- Seq("2026-07-01", "2026-08-01"))
      assert(parquetFiles(s"$root/public_matches/load_date=$d").size == 1, d)
  }

  private def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.endsWith(".parquet"))

  private val heroStats = Endpoints.passthrough.find(_.name == "hero_stats").get
  private val proPlayers = Endpoints.passthrough.find(_.name == "pro_players").get

  test("rows is the count observed on the write: it equals the lake's rows, one file per date") {
    val root = Files.createTempDirectory("lake").toString
    // an earlier month gives `teams` a readable table to hold the empty month
    mkJob(Map("http://api.test/teams" -> RestResponse(200, Fixtures.teamsJson)), root)
      .run(Seq(Endpoints.teams), "2026-08-01")
    val date = "2026-09-01"
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson), // explicit
      "http://api.test/heroStats" -> RestResponse(200, Fixtures.heroesJson),            // inferred
      "http://api.test/constants/lobby_type" -> RestResponse(200, Fixtures.lobbyTypesJson),
      "http://api.test/teams" -> RestResponse(200, "[]"),      // explicit schema, no rows
      "http://api.test/proPlayers" -> RestResponse(200, "[]")), // inferred schema, no columns
      root)
    val specs = Seq(Endpoints.publicMatches, heroStats, Endpoints.lobbyTypes, Endpoints.teams, proPlayers)

    val results = job.run(specs, date)
    assert(results.map(_.rows) == Seq(Some(3L), Some(2L), Some(3L), Some(0L), None))
    // an inferred `[]` has no column besides load_date: still a failed step
    assert(results(4).error.exists(_.contains("ALL_PARTITION_COLUMNS_NOT_ALLOWED")), results(4))

    val lake = new LakeWriter(root)
    for (r <- results.filter(_.ok)) {
      val held = lake.read(spark, r.entity).filter(col("load_date") === date).count()
      assert(r.rows.contains(held), r.entity)
    }
    for (r <- results.take(3))
      assert(parquetFiles(s"$root/${r.entity}/load_date=$date").size == 1, r.entity)
    assert(parquetFiles(s"$root/teams/load_date=2026-08-01").size == 1)
  }

  test("a step whose exception has no message records the exception's class") {
    val root = Files.createTempDirectory("lake").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson)), root)
    val npe = Endpoints.publicMatches.copy(normalize = _ => throw new NullPointerException())
    val r = job.runStep(npe, "2026-09-01")
    assert(r.error.contains("java.lang.NullPointerException"))
    assert(r.rows.isEmpty)
  }

  test("a failed write fails the step instead of waiting on its row count") {
    val root = Files.createTempFile("lake", ".not-a-dir").toString
    val job = mkJob(Map(
      "http://api.test/publicMatches" -> RestResponse(200, Fixtures.publicMatchesJson)), root)
    implicit val signaler: Signaler = ThreadSignaler
    val r = failAfter(Span(60, Seconds))(job.runStep(Endpoints.publicMatches, "2026-09-01"))
    assert(!r.ok && r.rows.isEmpty, r)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer, named when it is not") {
    assert(ExtractionMain.cpus(None) == 4)
    assert(ExtractionMain.cpus(Some("8")) == 8)
    for (bad <- Seq("0", "-2", "four", "", " 4", "4*")) {
      val e = intercept[IllegalArgumentException](ExtractionMain.cpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
