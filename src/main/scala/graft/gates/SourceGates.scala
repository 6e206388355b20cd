package graft.gates

/** Connector analyses over the REST fixture payloads
  * (`graft.sources`, `DotaQueries`). */
object SourceGates {
  def gates: Seq[Gate] = Seq(
    // connector transforms under the gate: fixture payload (zero
    // egress) -> normalize -> stable projection; oracle is the
    // expected frame as VALUES
    Gate("q39_widen_arrays",
      // Golden frames for the connector-transform queries: the fixture
      // payload is fixed, so the oracle is the expected output itself.
      """SELECT * FROM (VALUES
        | (8000000001, true, 2400, 14,21,34,51,86, 7,19,40,72,99),
        | (8000000002, false, 1800, 1,2,3,4,5, 6,8,9,10,11),
        | (8000000003, true, 3105, NULL,NULL,NULL,NULL,NULL, NULL,NULL,NULL,NULL,NULL)
        |) AS t(match_id, radiant_win, duration,
        |  radiant_hero_1, radiant_hero_2, radiant_hero_3, radiant_hero_4, radiant_hero_5,
        |  dire_hero_1, dire_hero_2, dire_hero_3, dire_hero_4, dire_hero_5)
        |ORDER BY match_id""".stripMargin,
      t => { val s = t.spark
        import org.apache.spark.sql.functions.col
        val raw = graft.sources.RestSource.readJson(
          s, graft.sources.Fixtures.publicMatchesJson,
          Some(graft.sources.Endpoints.publicMatchesSchema))
        graft.sources.Normalize.widenTeams(raw)
          .select(
            (Seq("match_id", "radiant_win", "duration") ++
              (1 to 5).map(i => s"radiant_hero_$i") ++
              (1 to 5).map(i => s"dire_hero_$i")).map(col): _*)
          .orderBy("match_id")
      }),
    Gate("q40_map_pivot",
      """SELECT * FROM (VALUES ('0','Normal'),('1','Practice'),('7','Ranked'))
        |AS t(lobby_id, name) ORDER BY lobby_id""".stripMargin,
      t => { val s = t.spark
        graft.sources.Normalize.pivotConstantsMap(
        s, graft.sources.Fixtures.lobbyTypesJson, "lobby_id") }),
    // the analytics module's flagship under the gate: fixture payload
    // → RestSource → DotaQueries.heroWinRate; oracle is the
    // hand-computed golden frame (q39 pattern)
    Gate("q41_hero_win_rate",
      // q41 golden frame: fixture match 1 — radiant {14,21,34,51,86}
      // beats dire {7,19,40,72,99}; match 2 — dire {6,8,9,10,11} beats
      // radiant {1..5}; match 3 has no team arrays and contributes no
      // hero rows
      """SELECT * FROM (VALUES
        | (1,1,0,0.0),(2,1,0,0.0),(3,1,0,0.0),(4,1,0,0.0),(5,1,0,0.0),
        | (6,1,1,1.0),(7,1,0,0.0),(8,1,1,1.0),(9,1,1,1.0),(10,1,1,1.0),
        | (11,1,1,1.0),(14,1,1,1.0),(19,1,0,0.0),(21,1,1,1.0),(34,1,1,1.0),
        | (40,1,0,0.0),(51,1,1,1.0),(72,1,0,0.0),(86,1,1,1.0),(99,1,0,0.0)
        |) AS t(hero_id, games, wins, win_rate) ORDER BY hero_id""".stripMargin,
      t => { val s = t.spark
        graft.analytics.DotaQueries.heroWinRate(
        graft.sources.RestSource.readJson(
          s, graft.sources.Fixtures.publicMatchesJson,
          Some(graft.sources.Endpoints.publicMatchesSchema))) })
  )
}
