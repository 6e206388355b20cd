package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.jobs.ExtractionJob
import graft.sinks.LakeWriter
import graft.sources._

/** What one payload must leave in the lake for one load date. */
final case class Expect(rows: Long, keySum: Long, columnSums: Map[String, Long] = Map.empty,
    pairs: Set[(String, String)] = Set.empty)

/** One served payload and what the lake must hold after it lands. */
final case class Payload(body: String, expect: Expect)

/** Seeded OpenDota-shaped payloads for the 13-entity full load. Each
  * entity has [[Variants]] versions; the server hands out version
  * `n % Variants` on the n-th successful fetch of a URL, so a load date
  * sees different rows than the one before it. Expected lake contents
  * are computed here, from the generator's own values, not by reading
  * anything back through the engine.
  */
object Payloads {
  val Variants = 3

  /** Entity name → (URL path, key column summed by the check). */
  val paths: Map[String, (String, String)] = Map(
    "public_matches" -> ("/publicMatches", "match_id"),
    "lobby_type" -> ("/constants/lobby_type", ""),
    "game_mode" -> ("/constants/game_mode", ""),
    "cluster" -> ("/constants/cluster", ""),
    "heroes" -> ("/heroes", "id"),
    "hero_stats" -> ("/heroStats", "id"),
    "leagues" -> ("/leagues", "leagueid"),
    "teams" -> ("/teams", "team_id"),
    "pro_players" -> ("/proPlayers", "account_id"),
    "pro_matches" -> ("/proMatches", "match_id"),
    "distributions" -> ("/distributions", "total"),
    "scenarios_item_timings" -> ("/scenarios/itemTimings", "hero_id"),
    "scenarios_lane_roles" -> ("/scenarios/laneRoles", "hero_id"))

  /** URLs that answer their first request (and every other one after
    * it) with an error, so each load retries them exactly once.
    */
  val faults: Map[String, Int] = Map(
    "/heroes" -> 503, "/proMatches" -> 429, "/scenarios/laneRoles" -> 503)

  private def q(s: String): String = "\"" + s + "\""

  private def list(n: Int)(row: Int => String): String =
    (0 until n).map(row).mkString("[", ",", "]")

  def make(entity: String, seed: Long, variant: Int): Payload = {
    val rnd = new scala.util.Random(seed * 1000003L + entity.hashCode * 31L + variant)
    val base = variant * 1000000L
    def ids(n: Int) = (0 until n).map(i => base + i)
    entity match {
      case "public_matches" =>
        val n = 3000
        val radiant = Array.fill(n, 5)(1 + rnd.nextInt(130))
        val dire = Array.fill(n, 5)(1 + rnd.nextInt(130))
        // row 0 has no radiant_team: widening must keep the row with nulls
        val body = list(n) { i =>
          val teams = (if (i == 0) "" else s""""radiant_team":${radiant(i).mkString("[", ",", "]")},""") +
            s""""dire_team":${dire(i).mkString("[", ",", "]")}"""
          s"""{"match_id":${base + i},"match_seq_num":${base + 7 * i},"radiant_win":${rnd.nextBoolean()},""" +
            s""""start_time":${1700000000L + 60L * i},"duration":${900 + rnd.nextInt(3000)},""" +
            s""""lobby_type":${rnd.nextInt(20)},"game_mode":${1 + rnd.nextInt(22)},""" +
            s""""avg_rank_tier":${10 + rnd.nextInt(70)},"num_rank_tier":${rnd.nextInt(10)},""" +
            s""""cluster":${100 + rnd.nextInt(200)},$teams}"""
        }
        val sums = (1 to 5).flatMap { k =>
          Seq(s"radiant_hero_$k" -> (1 until n).map(i => radiant(i)(k - 1).toLong).sum,
            s"dire_hero_$k" -> (0 until n).map(i => dire(i)(k - 1).toLong).sum)
        }.toMap
        Payload(body, Expect(n, ids(n).sum, sums))
      case "lobby_type" | "game_mode" | "cluster" =>
        val n = entity match { case "lobby_type" => 20; case "game_mode" => 25; case _ => 60 }
        val pairs = (0 until n).map(i => (base + i).toString -> s"${entity}_${rnd.alphanumeric.take(8).mkString}")
        Payload(pairs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"),
          Expect(n, 0L, pairs = pairs.toSet))
      case "heroes" =>
        val n = 124
        Payload(list(n) { i =>
          s"""{"id":${base + i},"name":"npc_hero_$i","localized_name":"Hero $i",""" +
            s""""primary_attr":"${Seq("str", "agi", "int")(rnd.nextInt(3))}",""" +
            s""""attack_type":"${if (rnd.nextBoolean()) "Melee" else "Ranged"}",""" +
            s""""roles":["Carry","Support"],"legs":${rnd.nextInt(8)}}"""
        }, Expect(n, ids(n).sum))
      case "hero_stats" =>
        val n = 124
        Payload(list(n) { i =>
          s"""{"id":${base + i},"localized_name":"Hero $i","pro_pick":${rnd.nextInt(500)},""" +
            s""""pro_win":${rnd.nextInt(250)},"turbo_picks":${rnd.nextInt(100000)},""" +
            s""""base_health":${200 + rnd.nextInt(50)},"move_speed":${280 + rnd.nextInt(50)}}"""
        }, Expect(n, ids(n).sum))
      case "leagues" =>
        val n = 600
        Payload(list(n) { i =>
          s"""{"leagueid":${base + i},"ticket":"econ/leagues/t$i","banner":"econ/leagues/b$i",""" +
            s""""tier":"${Seq("professional", "premium", "amateur")(rnd.nextInt(3))}","name":"League $i"}"""
        }, Expect(n, ids(n).sum))
      case "teams" =>
        val n = 1000
        Payload(list(n) { i =>
          val logo = if (i % 7 == 0) "null" else q(s"https://cdn.example/t$i.png")
          s"""{"team_id":${base + i},"rating":${1000 + rnd.nextInt(900)}.5,"wins":${rnd.nextInt(500)},""" +
            s""""losses":${rnd.nextInt(500)},"last_match_time":${1700000000L + i},""" +
            s""""name":"Team $i","tag":"T$i","logo_url":$logo}"""
        }, Expect(n, ids(n).sum))
      case "pro_players" =>
        val n = 2000
        Payload(list(n) { i =>
          s"""{"account_id":${base + i},"steamid":"7656119${base + i}","personaname":"p$i",""" +
            s""""name":"Player $i","country_code":"${Seq("br", "us", "se", "cn")(rnd.nextInt(4))}",""" +
            s""""team_id":${rnd.nextInt(1000)},"team_name":"Team ${rnd.nextInt(1000)}",""" +
            s""""is_pro":${rnd.nextBoolean()},"last_match_time":"2024-01-0${1 + rnd.nextInt(9)}T00:00:00.000Z"}"""
        }, Expect(n, ids(n).sum))
      case "pro_matches" =>
        val n = 1000
        Payload(list(n) { i =>
          s"""{"match_id":${base + i},"duration":${900 + rnd.nextInt(3000)},"start_time":${1700000000L + i},""" +
            s""""radiant_team_id":${rnd.nextInt(1000)},"radiant_name":"R$i","dire_team_id":${rnd.nextInt(1000)},""" +
            s""""dire_name":"D$i","leagueid":${rnd.nextInt(600)},"league_name":"L$i",""" +
            s""""series_type":${rnd.nextInt(3)},"radiant_score":${rnd.nextInt(60)},""" +
            s""""dire_score":${rnd.nextInt(60)},"radiant_win":${rnd.nextBoolean()}}"""
        }, Expect(n, ids(n).sum))
      case "distributions" =>
        val bins = (0 until 80).map(b => b -> rnd.nextInt(100000))
        val total = base + bins.map(_._2.toLong).sum
        Payload(s"""{"total":$total,"ranks":{"rows":${bins.map { case (b, c) =>
          s"""{"bin":$b,"count":$c}""" }.mkString("[", ",", "]")}},""" +
          s""""country_mmr":{"rows":[{"loccountrycode":"BR","avg":3120}]}}""",
          Expect(1, total))
      case "scenarios_item_timings" | "scenarios_lane_roles" =>
        val n = if (entity == "scenarios_item_timings") 4000 else 3000
        val heroes = Array.fill(n)(base + rnd.nextInt(130))
        val games = Array.fill(n)(1L + rnd.nextInt(5000))
        val body = list(n) { i =>
          val what = if (entity == "scenarios_item_timings") s""""item":"item_${i % 90}""""
            else s""""lane_role":${1 + i % 4}"""
          s"""{"hero_id":${heroes(i)},$what,"time":${60 * (i % 40)},""" +
            s""""games":"${games(i)}","wins":"${games(i) / 2}"}"""
        }
        Payload(body, Expect(n, heroes.sum, Map("games" -> games.sum)))
    }
  }
}

/** Loopback REST server: serves the seeded payloads at their OpenDota
  * paths and injects the configured faults. Counts every GET.
  */
final class LoopbackApi(seed: Long) {
  val payloads: Map[String, IndexedSeq[Payload]] = Payloads.paths.keys.map { e =>
    e -> (0 until Payloads.Variants).map(v => Payloads.make(e, seed, v))
  }.toMap
  private val byPath = Payloads.paths.map { case (e, (p, _)) => p -> e }
  private val calls = new ConcurrentHashMap[String, AtomicInteger]()
  private val served = new ConcurrentHashMap[String, AtomicInteger]()
  val gets = new AtomicLong

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit = {
    gets.incrementAndGet()
    val path = ex.getRequestURI.getPath
    val n = calls.computeIfAbsent(path, _ => new AtomicInteger).getAndIncrement()
    val (status, body) = (byPath.get(path), Payloads.faults.get(path)) match {
      case (None, _) => 404 -> "{}"
      case (Some(_), Some(code)) if n % 2 == 0 => code -> "{\"error\":\"try later\"}"
      case (Some(e), _) =>
        val k = served.computeIfAbsent(path, _ => new AtomicInteger).getAndIncrement()
        200 -> payloads(e)(k % Payloads.Variants).body
    }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  def stop(): Unit = server.stop(0)
}

/** Transport wrapper: the production transport, timed. */
final class TimedTransport(inner: Transport) extends Transport {
  val nanos = new AtomicLong
  override def get(url: String, params: Map[String, String]): RestResponse = {
    val t0 = System.nanoTime()
    try inner.get(url, params) finally { nanos.addAndGet(System.nanoTime() - t0); () }
  }
}

/** The `lake_ingest` workload: monthly full loads of the 13-entity
  * surface through [[ExtractionJob]], one load date per round, into a
  * local lake. Op: one entity step. Work: rows landed.
  */
final class LakeIngest(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  private val api = new LoopbackApi(seed)
  val pauseMs = new AtomicLong
  private val transport = new TimedTransport(new JavaHttpTransport())
  private val client = new RestClient(transport, RetryPolicy(), sleeper = ms => { pauseMs.addAndGet(ms); () })
  private val lakeRoot = s"$workDir/lake"
  private val job = new ExtractionJob(spark, client, new LakeWriter(lakeRoot), api.baseUrl)
  private var round = 0
  private val fetchMs = Seq.newBuilder[Double]

  val warmRounds = 1

  def loadDate(r: Int): String = java.time.LocalDate.of(2020, 1, 1).plusMonths(r.toLong).toString

  def runRound(sink: OpSink): Unit = {
    val date = loadDate(round)
    Endpoints.fullLoad.foreach { spec =>
      val f0 = transport.nanos.get
      val t0 = System.nanoTime()
      val res = job.run(Seq(spec), date)
      val ms = (System.nanoTime() - t0) / 1e6
      if (round >= warmRounds) fetchMs += (transport.nanos.get - f0) / 1e6
      sink.op(spec.name, "jobs", ms, res.forall(_.ok), res.flatMap(_.rows).sum)
    }
    round += 1
  }

  /** Layer metrics only this workload can measure (traced run). */
  def layerMetrics(): Seq[(String, Double, String)] = {
    // RestSource.normalizeBody, timed on every served payload
    val split = for {
      ps <- api.payloads.values.toSeq; p <- ps; _ <- 0 until 3
    } yield {
      val t0 = System.nanoTime(); RestSource.normalizeBody(p.body); (System.nanoTime() - t0) / 1e6
    }
    val files = Files.walk(lakeRoot).filter(f => f.getName.endsWith(".parquet"))
    Seq(
      ("sources.fetch_ms", Stats.median(fetchMs.result()), "ms"),
      ("sources.split_ms", Stats.median(split), "ms"),
      ("sinks.files", files.size.toDouble, "count"),
      ("sinks.mb", files.map(_.length).sum / 1e6, "MB"))
  }

  def gets: Long = api.gets.get

  /** Read the lake back through [[LakeWriter.read]] and compare every
    * (entity, load_date) with the generator's own expected values.
    */
  def check(): Seq[String] = {
    val lw = new LakeWriter(lakeRoot)
    val dates = (0 until round).map(loadDate)
    val wantGets = round.toLong * (Payloads.paths.size + Payloads.faults.size)
    val getErrs =
      if (api.gets.get == wantGets) Nil
      else Seq(s"server saw ${api.gets.get} GETs, expected $wantGets (steps plus injected faults)")
    Payloads.paths.toSeq.sortBy(_._1).flatMap { case (entity, (_, key)) =>
      val df = lw.read(spark, entity).withColumn("load_date", col("load_date").cast("string"))
      val want = (0 until round).map(r => loadDate(r) -> api.payloads(entity)(r % Payloads.Variants).expect).toMap
      val sums = want.head._2.columnSums.keys.toSeq.sorted
      val aggs = count(lit(1)).as("rows") +:
        (if (key.isEmpty) lit(0L) else sum(col(key).cast("long"))).as("key_sum") +:
        sums.map(c => sum(col(c).cast("long")).as(c))
      val got = df.groupBy("load_date").agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getString(0) -> r).toMap
      val rowErrs = dates.flatMap { d =>
        val w = want(d)
        got.get(d) match {
          case None => Seq(s"$entity $d: partition missing")
          case Some(r) =>
            val have = Seq(r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)) ++
              sums.indices.map(i => r.getLong(3 + i))
            val exp = Seq(w.rows, w.keySum) ++ sums.map(w.columnSums)
            if (have == exp) Nil else Seq(s"$entity $d: lake $have, expected $exp")
        }
      } ++ (got.keySet -- dates).map(d => s"$entity: unexpected partition $d")
      val pairErrs =
        if (want.head._2.pairs.isEmpty) Nil
        else {
          val keyCol = df.columns.find(c => c != "name" && c != "load_date").get
          val have = df.select(col("load_date"), col(keyCol), col("name")).collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
          val exp = want.toSeq.flatMap { case (d, w) => w.pairs.map { case (k, v) => (d, k, v) } }.toSet
          if (have == exp) Nil else Seq(s"$entity: constants pairs differ (${(have -- exp).size} extra, ${(exp -- have).size} missing)")
        }
      rowErrs ++ pairErrs
    } ++ getErrs
  }

  def close(): Unit = api.stop()
}

private object Files {
  def walk(root: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new java.io.File(root))
  }
}
