package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Declarative endpoint catalog for an OpenDota-shaped REST API — the
  * engine's equivalent of the reference's 35 wrapper methods
  * (`opendotaapi.py:95-721`), as data instead of code. Each spec
  * names the path template, an optional explicit schema (preferred:
  * deterministic reads), and a post-read normalization.
  *
  * The reference's `get_hero_rankings` hits `/heroes` instead of a
  * rankings endpoint (`opendotaapi.py:627-641`, a bug); here
  * `heroRankings` names its real path.
  */
final case class EndpointSpec(
    name: String,
    path: String,                                    // may contain {id}
    schema: Option[StructType] = None,
    normalize: DataFrame => DataFrame = identity,
    params: Map[String, String] = Map.empty,
    /** Body-level tabularization for payloads that aren't row-shaped
      * (the `{id: name}` constants maps); when set it replaces the
      * readJson+normalize path entirely.
      */
    rawNormalize: Option[(SparkSession, String) => DataFrame] = None) {

  def url(base: String, id: Option[String] = None): String = {
    val p = id.map(v => path.replace("{id}", v)).getOrElse(path)
    s"$base$p"
  }
}

object Endpoints {

  val publicMatchesSchema: StructType = StructType(Seq(
    StructField("match_id", LongType),
    StructField("match_seq_num", LongType),
    StructField("radiant_win", BooleanType),
    StructField("start_time", LongType),
    StructField("duration", LongType),
    StructField("lobby_type", LongType),
    StructField("game_mode", LongType),
    StructField("avg_rank_tier", LongType),
    StructField("num_rank_tier", LongType),
    StructField("cluster", LongType),
    StructField("radiant_team", ArrayType(LongType)),
    StructField("dire_team", ArrayType(LongType))))

  val heroesSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("localized_name", StringType),
    StructField("primary_attr", StringType),
    StructField("attack_type", StringType),
    StructField("roles", ArrayType(StringType)),
    StructField("legs", LongType)))

  val teamsSchema: StructType = StructType(Seq(
    StructField("team_id", LongType),
    StructField("rating", DoubleType),
    StructField("wins", LongType),
    StructField("losses", LongType),
    StructField("last_match_time", LongType),
    StructField("name", StringType),
    StructField("tag", StringType),
    StructField("logo_url", StringType)))

  val leaguesSchema: StructType = StructType(Seq(
    StructField("leagueid", LongType),
    StructField("ticket", StringType),
    StructField("banner", StringType),
    StructField("tier", StringType),
    StructField("name", StringType)))

  val proMatchesSchema: StructType = StructType(Seq(
    StructField("match_id", LongType),
    StructField("duration", LongType),
    StructField("start_time", LongType),
    StructField("radiant_team_id", LongType),
    StructField("radiant_name", StringType),
    StructField("dire_team_id", LongType),
    StructField("dire_name", StringType),
    StructField("leagueid", LongType),
    StructField("league_name", StringType),
    StructField("series_type", LongType),
    StructField("radiant_score", LongType),
    StructField("dire_score", LongType),
    StructField("radiant_win", BooleanType)))

  /** scenarios arrive with games/wins as STRINGS (API quirk) — the
    * catalog keeps the wire shape and normalizes with casts.
    */
  val itemTimingsSchema: StructType = StructType(Seq(
    StructField("hero_id", LongType),
    StructField("item", StringType),
    StructField("time", LongType),
    StructField("games", StringType),
    StructField("wins", StringType)))

  /** Cast the numeric-as-string scenario counters. */
  def castScenarioCounts(df: DataFrame): DataFrame =
    df.withColumn("games", org.apache.spark.sql.functions.col("games").cast(LongType))
      .withColumn("wins", org.apache.spark.sql.functions.col("wins").cast(LongType))

  /** publicMatches + the team-array widening (`opendotaapi.py:95-123`). */
  val publicMatches: EndpointSpec = EndpointSpec(
    "public_matches", "/publicMatches",
    schema = Some(publicMatchesSchema),
    normalize = Normalize.widenTeams)

  /** heroes list (`opendotaapi.py:185-202`). */
  val heroes: EndpointSpec = EndpointSpec("heroes", "/heroes", schema = Some(heroesSchema))

  /** Raw-JSON passthrough scans — the 22-endpoint surface of
    * `opendotaapi.py:204-721`. Schemas stay inferred (payloads are
    * deeply nested and version-drifting; SURVEY.md §7.4 hazard 3 —
    * keep raw + project, don't force full structification).
    */
  val passthrough: Seq[EndpointSpec] = Seq(
    EndpointSpec("match_details", "/matches/{id}"),        // opendotaapi.py:204
    EndpointSpec("match_players", "/matches/{id}/players"),// opendotaapi.py:223
    EndpointSpec("match_timeline", "/matches/{id}/timeline"), // opendotaapi.py:242
    EndpointSpec("match_chat", "/matches/{id}/chat"),      // opendotaapi.py:261
    EndpointSpec("hero_stats", "/heroStats"),              // opendotaapi.py:280
    EndpointSpec("hero_durations", "/heroes/{id}/durations"), // opendotaapi.py:299
    EndpointSpec("hero_players", "/heroes/{id}/players"),  // opendotaapi.py:318
    EndpointSpec("leagues", "/leagues"),                   // opendotaapi.py:337
    EndpointSpec("league_details", "/leagues/{id}"),       // opendotaapi.py:353
    EndpointSpec("league_matches", "/leagues/{id}/matches"), // opendotaapi.py:372
    EndpointSpec("teams", "/teams"),                       // opendotaapi.py:391
    EndpointSpec("team_details", "/teams/{id}"),           // opendotaapi.py:407
    EndpointSpec("team_matches", "/teams/{id}/matches"),   // opendotaapi.py:426
    EndpointSpec("team_players", "/teams/{id}/players"),   // opendotaapi.py:445
    EndpointSpec("team_heroes", "/teams/{id}/heroes"),     // opendotaapi.py:464
    EndpointSpec("explorer", "/explorer"),                 // opendotaapi.py:483
    EndpointSpec("schema", "/schema"),                     // opendotaapi.py:499
    EndpointSpec("distributions", "/distributions"),       // opendotaapi.py:515
    EndpointSpec("status", "/status"),                     // opendotaapi.py:531
    EndpointSpec("health", "/health"),                     // opendotaapi.py:547
    EndpointSpec("metadata", "/metadata"),                 // opendotaapi.py:563
    EndpointSpec("pro_players", "/proPlayers"),            // opendotaapi.py:579
    EndpointSpec("pro_matches", "/proMatches"),            // opendotaapi.py:595
    EndpointSpec("public_players", "/players/{id}"),       // opendotaapi.py:611
    EndpointSpec("hero_rankings", "/rankings"),            // opendotaapi.py:627 (bug fixed)
    EndpointSpec("scenarios_item_timings", "/scenarios/itemTimings"),   // opendotaapi.py:643
    EndpointSpec("scenarios_lane_roles", "/scenarios/laneRoles"),       // opendotaapi.py:659
    EndpointSpec("scenarios_misc", "/scenarios/misc"),     // opendotaapi.py:675
    EndpointSpec("constants", "/constants"))               // opendotaapi.py:691,707

  /** Constants maps pivoted to long-form rows (`opendotaapi.py:125-183`).
    * Unsorted: a lake partition keeps no row order, and a global sort
    * would cost the load a sampling job and a shuffle.
    */
  def constantsMap(name: String, keyName: String): EndpointSpec =
    EndpointSpec(name, s"/constants/$name",
      rawNormalize = Some { (s, body) =>
        import s.implicits._
        Normalize.pivotMapColumn(Seq(body).toDF("payload"), $"payload", keyName, "name")
      })

  val lobbyTypes: EndpointSpec = constantsMap("lobby_type", "lobby_id")
  val gameModes: EndpointSpec = constantsMap("game_mode", "mode_id")
  val clusters: EndpointSpec = constantsMap("cluster", "cluster_id")

  // typed variants for the entities whose shapes are stable enough to
  // pin (FIXTURES.md §B); the rest stay schema-on-read passthroughs
  val teams: EndpointSpec =
    EndpointSpec("teams", "/teams", schema = Some(teamsSchema))
  val leagues: EndpointSpec =
    EndpointSpec("leagues", "/leagues", schema = Some(leaguesSchema))
  val proMatches: EndpointSpec =
    EndpointSpec("pro_matches", "/proMatches", schema = Some(proMatchesSchema))
  val itemTimings: EndpointSpec = EndpointSpec(
    "scenarios_item_timings", "/scenarios/itemTimings",
    schema = Some(itemTimingsSchema), normalize = castScenarioCounts)

  /** The 13-entity full-load set the orchestrator runs
    * (`extract-data-dota.py:126-199`).
    */
  val fullLoad: Seq[EndpointSpec] = Seq(
    publicMatches, lobbyTypes, gameModes, clusters, heroes,
    passthrough.find(_.name == "hero_stats").get,
    leagues, teams,
    passthrough.find(_.name == "pro_players").get,
    proMatches,
    passthrough.find(_.name == "distributions").get,
    itemTimings,
    passthrough.find(_.name == "scenarios_lane_roles").get)
}
