package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.engine.{Normalize, SchemaRegistry, Sinks}

/** End-to-end normalizer tests over staged-file fixtures shaped exactly
  * like the reference's API payloads (FIXTURES.md §1; field reads
  * traced from reference transforms.py). Covers S3/S4 reading+routing,
  * P1 path pk, P2-P8 mappings, J1/J2 joins, E1/E2 enforcement and the
  * K1/K2 sinks.
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def write(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private lazy val stagedRoot: String = {
    val root = Files.createTempDirectory("graft_staged")
    // API-Football: top-level JSON arrays, string-typed fields.
    write(root, "apifootball/season_2023/league_153/teams/run_1.json",
      """[{"team_key": "3081", "team_name": "Arsenal", "team_country": "England",
        |  "venue": {"venue_name": "Emirates Stadium", "venue_city": "London"}},
        | {"team_key": "3082", "team_name": "Chelsea", "team_country": "England",
        |  "venue": {"venue_name": "Stamford Bridge", "venue_city": "London"}}]""".stripMargin)
    write(root, "apifootball/season_2023/league_153/standings/run_1.json",
      """[{"team_id": "3081", "team_name": "Arsenal", "league_id": "153",
        |  "league_name": "Premier League", "overall_league_position": "1",
        |  "overall_league_PTS": "89", "overall_league_payed": "38",
        |  "overall_league_W": "28", "overall_league_D": "5", "overall_league_L": "5",
        |  "overall_league_GF": "91", "overall_league_GA": "29",
        |  "overall_league_form": "WWLDW"},
        | {"team_id": "3082", "team_name": "Chelsea", "league_id": "153",
        |  "league_name": "Premier League", "overall_league_position": "2",
        |  "overall_league_PTS": "84", "overall_league_payed": "38",
        |  "overall_league_W": "26", "overall_league_D": "6", "overall_league_L": "6",
        |  "overall_league_form": "WWWDL"},
        | {"team_id": "9999", "team_name": "Ghost FC", "league_id": "153",
        |  "league_name": "Premier League", "overall_league_position": "3",
        |  "overall_league_PTS": "80", "overall_league_payed": "38",
        |  "overall_league_W": "24", "overall_league_D": "8", "overall_league_L": "6",
        |  "overall_league_GF": "70", "overall_league_GA": "30",
        |  "overall_league_form": "LLWWD"}]""".stripMargin)
    root.toString
  }

  private lazy val sportsRoot: String = {
    val root = Files.createTempDirectory("graft_staged_sports")
    write(root, "apisports/season_2023/league_39/teams/run_1.json",
      """{"response": [
        |  {"team": {"id": 42, "name": "Arsenal", "country": "England"},
        |   "venue": {"name": "Emirates Stadium", "city": "London"}},
        |  {"team": {"id": 49, "name": "Chelsea", "country": "England"},
        |   "venue": {"name": "Stamford Bridge", "city": "London"}}]}""".stripMargin)
    write(root, "apisports/season_2023/league_39/standings/run_1.json",
      """{"response": [
        | {"league": {"id": 39, "name": "Premier League", "season": 2023,
        |   "standings": [[
        |     {"rank": 1, "team": {"id": 42, "name": "Arsenal"}, "points": 89,
        |      "goalsDiff": 62, "form": "WWLDW",
        |      "all": {"played": 38, "win": 28, "draw": 5, "lose": 5,
        |              "goals": {"for": 91, "against": 29}}},
        |     {"rank": 2, "team": {"id": 49, "name": "Chelsea"}, "points": 84,
        |      "goalsDiff": 30, "form": "WWWDL",
        |      "all": {"played": 38, "win": 26, "draw": 6, "lose": 6,
        |              "goals": {"for": 70, "against": 40}}}]]}}]}""".stripMargin)
    root.toString
  }

  test("apifootball: staged files → unified rows (P1-P8, J1)") {
    val (ok, dead) = Normalize.pipeline(spark, s"$stagedRoot/apifootball", "apifootball")
    val rows = ok.orderBy("rank").collect()
    assert(rows.length == 2) // Ghost FC dropped: probe miss = inner join (P9)
    val arsenal = rows(0)
    assert(arsenal.getAs[String]("pk") == "2023-153-3081")
    assert(arsenal.getAs[String]("team_country") == "England")
    assert(arsenal.getAs[Long]("season") == 2023L)
    assert(arsenal.getAs[Long]("points") == 89L)
    assert(arsenal.getAs[Long]("games_played") == 38L)
    assert(arsenal.getAs[Long]("goal_difference") == 62L) // computed GF-GA
    assert(arsenal.getAs[String]("venue_city") == "London")
    // Chelsea has no GF/GA in the payload -> defaulted 0 (P4)
    val chelsea = rows(1)
    assert(chelsea.getAs[Long]("goals_for") == 0L)
    assert(chelsea.getAs[Long]("goal_difference") == 0L)
    assert(dead.count() == 0)
  }

  test("apisports: nested payload → unified rows (J2 header ride-along)") {
    val (ok, _) = Normalize.pipeline(spark, s"$sportsRoot/apisports", "apisports")
    val rows = ok.orderBy("rank").collect()
    assert(rows.length == 2)
    val arsenal = rows(0)
    assert(arsenal.getAs[String]("pk") == "2023-39-42")
    assert(arsenal.getAs[String]("league_name") == "Premier League")
    assert(arsenal.getAs[Long]("season") == 2023L)
    assert(arsenal.getAs[Long]("goals_for") == 91L)
    assert(arsenal.getAs[Long]("goal_difference") == 62L) // verbatim goalsDiff
    assert(arsenal.getAs[String]("venue_name") == "Emirates Stadium")
    // league header applied to every row (implicit cross join J2)
    assert(rows.forall(_.getAs[String]("league_id") == "39"))
  }

  test("unified output conforms to the v1 schema document") {
    val (ok, _) = Normalize.pipeline(spark, s"$stagedRoot/apifootball", "apifootball")
    assert(ok.columns.toSeq == SchemaRegistry.v1.fields.map(_.name))
    // nullability is advisory in Spark (enforced by Enforce's REQUIRED
    // check, not the type system) — compare names + datatypes
    assert(ok.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      SchemaRegistry.v1.structType.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("corrupt staged document dead-letters its whole group (S3/E1)") {
    val root = Files.createTempDirectory("graft_corrupt")
    write(root, "api/season_2023/league_1/teams/run_1.json",
      """[{"team_key": "1", "team_name": "A", "team_country": "X",
        |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin)
    write(root, "api/season_2023/league_1/standings/run_1.json",
      """{{{ this is not json""")
    val (ok, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
    assert(ok.count() == 0)
    val d = dead.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("2023-1") == "corrupt_input")
  }

  test("empty/unjoinable group dead-letters instead of vanishing (P10/E1)") {
    val root = Files.createTempDirectory("graft_empty")
    write(root, "api/season_2023/league_2/teams/run_1.json",
      """[{"team_key": "1", "team_name": "A", "team_country": "X",
        |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin)
    write(root, "api/season_2023/league_2/standings/run_1.json", "[]")
    val (ok, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
    assert(ok.count() == 0)
    val d = dead.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("2023-2") == "empty_or_unjoinable_group")
  }

  test("non-conforming path ('unknown' pk fallback) is accounted exactly once, as a dead group") {
    val root = Files.createTempDirectory("graft_unknown")
    // path matches the endpoint globs but not the season/league regex
    write(root, "api/misc/batch1/teams/run_1.json",
      """[{"team_key": "1", "team_name": "A", "team_country": "X",
        |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin)
    write(root, "api/misc/batch1/standings/run_1.json",
      """[{"team_id": "1", "team_name": "A", "league_id": "9",
        |  "league_name": "L", "overall_league_position": "1",
        |  "overall_league_PTS": "10", "overall_league_payed": "4",
        |  "overall_league_W": "3", "overall_league_D": "1", "overall_league_L": "0",
        |  "overall_league_GF": "9", "overall_league_GA": "2",
        |  "overall_league_form": "WWWD"}]""".stripMargin)
    val (ok, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
    // the reference KEEPS unknown groups keyed (helpers.py:21-23) but
    // then int('unknown') raises during enforcement (transforms.py:55,
    // helpers.py:92-100) — the group dead-letters, exactly once
    assert(ok.count() == 0)
    val d = dead.collect().map(r => r.getString(0) -> r.getString(1))
    assert(d.toSeq == Seq("unknown" -> "enforcement_failure"), d.mkString(","))
  }

  test("zero-row payloads are accounted (file-based universe), empty apisports response dead-letters not crashes") {
    // BOTH endpoint files parse to ZERO rows ("[]"): the group must
    // still dead-letter (the universe comes from the file listing,
    // pipeline.py:38-39), not silently vanish from both outputs
    val root = Files.createTempDirectory("graft_zerorow")
    write(root, "api/season_2023/league_3/teams/run_1.json", "[]")
    write(root, "api/season_2023/league_3/standings/run_1.json", "[]")
    val (ok, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
    assert(ok.count() == 0)
    val d = dead.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("2023-3") == "empty_or_unjoinable_group", d.mkString(","))
    // apisports {"response": []} — under Spark 4's ANSI default an
    // element_at would THROW here; try_element_at diverts the group
    // like the reference's ValueError (transforms.py:83-87)
    val root2 = Files.createTempDirectory("graft_emptyresp")
    write(root2, "api/season_2023/league_4/teams/run_1.json",
      """{"response": [{"team": {"id": 1, "name": "A", "country": "X"},
        |  "venue": {"name": "V", "city": "C"}}]}""".stripMargin)
    write(root2, "api/season_2023/league_4/standings/run_1.json",
      """{"response": []}""")
    val (ok2, dead2) = Normalize.pipeline(spark, s"$root2/api", "apisports")
    assert(ok2.count() == 0)
    val d2 = dead2.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d2("2023-4") == "empty_or_unjoinable_group", d2.mkString(","))
  }

  test("multiple staged runs per endpoint: only the latest run file participates") {
    val root = Files.createTempDirectory("graft_multirun")
    val teamsDoc =
      """[{"team_key": "1", "team_name": "A", "team_country": "X",
        |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin
    def standingsDoc(pts: String) =
      s"""[{"team_id": "1", "team_name": "A", "league_id": "7",
         |  "league_name": "L", "overall_league_position": "1",
         |  "overall_league_PTS": "$pts", "overall_league_payed": "4",
         |  "overall_league_W": "3", "overall_league_D": "1", "overall_league_L": "0",
         |  "overall_league_GF": "9", "overall_league_GA": "2",
         |  "overall_league_form": "WWWD"}]""".stripMargin
    write(root, "api/season_2023/league_7/teams/run_1.json", teamsDoc)
    write(root, "api/season_2023/league_7/teams/run_2.json", teamsDoc)
    write(root, "api/season_2023/league_7/standings/run_1.json", standingsDoc("10"))
    write(root, "api/season_2023/league_7/standings/run_2.json", standingsDoc("13"))
    val (ok, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
    // reference per-group loop keeps one document per endpoint (last
    // file wins, transforms.py:158-166): 1 row from run_2, never the
    // 4-row cross of both runs' teams x both runs' standings
    val rows = ok.collect()
    assert(rows.length == 1, s"got ${rows.length} rows")
    assert(rows.head.getAs[Long]("points") == 13L) // run_2's value
    assert(dead.count() == 0)
  }

  test("present-but-non-numeric GF dead-letters the group; absent GF still defaults 0") {
    // ref transforms.py:41-42: int(standing.get('overall_league_GF', 0))
    // — ABSENT → 0, present 'abc' → ValueError → whole group diverted
    val root = Files.createTempDirectory("graft_badgf")
    write(root, "api/season_2023/league_5/teams/run_1.json",
      """[{"team_key": "1", "team_name": "A", "team_country": "X",
        |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin)
    write(root, "api/season_2023/league_5/standings/run_1.json",
      """[{"team_id": "1", "team_name": "A", "league_id": "5",
        |  "league_name": "L", "overall_league_position": "1",
        |  "overall_league_PTS": "10", "overall_league_payed": "4",
        |  "overall_league_W": "3", "overall_league_D": "1", "overall_league_L": "0",
        |  "overall_league_GF": "abc", "overall_league_GA": "2",
        |  "overall_league_form": "WWWD"}]""".stripMargin)
    val (ok, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
    assert(ok.count() == 0)
    val d = dead.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("2023-5") == "enforcement_failure")
  }

  // one staged root holding every group verdict the pipeline can reach
  private lazy val mixedRoot: String = {
    val root = Files.createTempDirectory("graft_mixed")
    val teams =
      """[{"team_key": "1", "team_name": "A", "team_country": "X",
        |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin
    def standings(league: Int, teamId: String = "1", pts: String = "10") =
      s"""[{"team_id": "$teamId", "team_name": "A", "league_id": "$league",
         |  "league_name": "L", "overall_league_position": "1",
         |  "overall_league_PTS": "$pts", "overall_league_payed": "4",
         |  "overall_league_W": "3", "overall_league_D": "1", "overall_league_L": "0",
         |  "overall_league_GF": "9", "overall_league_GA": "2",
         |  "overall_league_form": "WWWD"}]""".stripMargin
    // healthy
    write(root, "api/season_2023/league_10/teams/run_1.json", teams)
    write(root, "api/season_2023/league_10/standings/run_1.json", standings(10))
    // truncated file
    write(root, "api/season_2023/league_11/teams/run_1.json", teams)
    write(root, "api/season_2023/league_11/standings/run_1.json", """[{"team_id": "1", "team_na""")
    // non-numeric points in the latest run; the stale run is clean
    write(root, "api/season_2023/league_12/teams/run_1.json", teams)
    write(root, "api/season_2023/league_12/standings/run_1.json", standings(12))
    write(root, "api/season_2023/league_12/standings/run_2.json", standings(12, pts = "abc"))
    // unjoinable: no standings row matches a team
    write(root, "api/season_2023/league_13/teams/run_1.json", teams)
    write(root, "api/season_2023/league_13/standings/run_1.json", standings(13, teamId = "2"))
    // empty response
    write(root, "api/season_2023/league_14/teams/run_1.json", teams)
    write(root, "api/season_2023/league_14/standings/run_1.json", "[]")
    // path outside the season/league layout: the 'unknown' pk
    write(root, "api/misc/batch1/teams/run_1.json", teams)
    write(root, "api/misc/batch1/standings/run_1.json", standings(9))
    root.toString
  }

  test("one staged root with every verdict: dead rows are (pk, error, files), one per failed group") {
    val (ok, dead) = Normalize.pipeline(spark, s"$mixedRoot/api", "apifootball")
    assert(dead.columns.toSeq == Seq("pk", "error", "files"))
    assert(ok.select("pk").as[String].collect().toSeq == Seq("2023-10-1"))
    val got = dead.collect().map { r =>
      (r.getString(0), r.getString(1), r.getSeq[String](2).map(_.split("/api/").last))
    }.toSet
    assert(got == Set(
      ("2023-11", "corrupt_input",
        Seq("season_2023/league_11/standings/run_1.json", "season_2023/league_11/teams/run_1.json")),
      ("2023-12", "enforcement_failure",
        Seq("season_2023/league_12/standings/run_1.json", "season_2023/league_12/standings/run_2.json",
          "season_2023/league_12/teams/run_1.json")),
      ("2023-13", "empty_or_unjoinable_group",
        Seq("season_2023/league_13/standings/run_1.json", "season_2023/league_13/teams/run_1.json")),
      ("2023-14", "empty_or_unjoinable_group",
        Seq("season_2023/league_14/standings/run_1.json", "season_2023/league_14/teams/run_1.json")),
      ("unknown", "enforcement_failure",
        Seq("misc/batch1/standings/run_1.json", "misc/batch1/teams/run_1.json"))),
      got.mkString("\n"))
    graft.Caches.releaseAll()
  }

  test("writing ok then dead runs the staged text probe once: dead reads it from a loaded pin") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.text.TextFileFormat
    val (ok, dead) = Normalize.pipeline(spark, s"$mixedRoot/api", "apifootball")
    // a text scan outside every pin would re-run the probe for that output
    def unpinnedTextScans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.collect {
        case l: LogicalRelation if (l.relation match {
          case r: HadoopFsRelation => r.fileFormat.isInstanceOf[TextFileFormat]
          case _ => false
        }) => l
      }
    def pins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
    assert(unpinnedTextScans(ok).isEmpty && unpinnedTextScans(dead).isEmpty)
    assert(pins(dead).nonEmpty)
    val out = Files.createTempDirectory("graft_once").toString
    Sinks.writeUnified(ok, out, "apifootball")
    // every pin `dead` reads was filled by the ok write
    assert(pins(dead).forall(_.cacheBuilder.isCachedColumnBuffersLoaded))
    Sinks.writeDeadLetter(dead, "pk", s"$out/dead")
    assert(spark.read.text(s"$out/dead").count() == 5L)
    graft.Caches.releaseAll()
  }

  test("one group's mistyped field does not change how another group's fields parse") {
    val root = Files.createTempDirectory("graft_crossgroup")
    def teams(id: Int) =
      s"""{"response": [{"team": {"id": $id, "name": "A", "country": "X"},
         |  "venue": {"name": "V", "city": "C"}}]}""".stripMargin
    def standings(league: Int, id: Int, points: String) =
      s"""{"response": [{"league": {"id": $league, "name": "L", "season": 2023,
         |  "standings": [[{"rank": 1, "team": {"id": $id, "name": "A"}, "points": $points,
         |    "goalsDiff": 1, "form": "W", "all": {"played": 1, "win": 1, "draw": 0, "lose": 0,
         |    "goals": {"for": 2, "against": 1}}}]]}}]}""".stripMargin
    write(root, "api/season_2023/league_21/teams/run_1.json", teams(1))
    write(root, "api/season_2023/league_21/standings/run_1.json", standings(21, 1, "\"abc\""))
    write(root, "api/season_2023/league_22/teams/run_1.json", teams(2))
    write(root, "api/season_2023/league_22/standings/run_1.json", standings(22, 2, "7"))
    val (ok, _) = Normalize.pipeline(spark, s"$root/api", "apisports")
    val clean = ok.filter(col("pk") === "2023-22-2").select("points").collect()
      .map(r => Option(r.get(0))).toSeq
    assert(clean == Seq(Some(7L)), clean)
    graft.Caches.releaseAll()
  }

  test("dead-letter files are the file system's own path strings") {
    val root = Files.createTempDirectory("graft_paths")
    write(root, "api/season_2023/league_31/teams/run 1+a.json", "[{\"team_key\": ")
    write(root, "api/season_2023/league_31/standings/run_1.json", "[]")
    val (_, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
    val files = dead.select("files").as[Seq[String]].collect().toSeq
    val listed = spark.read.format("binaryFile").load(s"$root/api/*/*/*/*.json")
      .select("path").as[String].collect().sorted.toSeq
    assert(files == Seq(listed), s"$files vs $listed")
    graft.Caches.releaseAll()
  }

  test("building the pipeline runs no Spark job; each output reads one file relation, the text scan") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.text.TextFileFormat
    val ((ok, dead), jobs) = PlanLint.constructionJobSites(spark, "normalize_build") {
      Normalize.pipeline(spark, s"$mixedRoot/api", "apifootball")
    }
    assert(jobs.isEmpty, jobs.mkString(","))
    def fileScans(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.collect { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }
    for (df <- Seq(ok, dead)) {
      val scans = fileScans(df.queryExecution.analyzed)
      assert(scans.size == 1 && scans.head.fileFormat.isInstanceOf[TextFileFormat],
        scans.mkString(","))
    }
    graft.Caches.releaseAll()
  }

  test("two non-conforming directories in the 'unknown' group each keep their own latest run") {
    def teams(id: Int) =
      s"""[{"team_key": "$id", "team_country": "X",
         |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin
    def standings(id: Int) =
      s"""[{"team_id": "$id", "team_name": "A", "league_id": "9",
         |  "overall_league_PTS": "10"}]""".stripMargin
    // (batch, endpoint) -> (stale run_1 team id, latest run_2 team id)
    def verdict(ids: Map[(String, String), (Int, Int)]): String = {
      val root = Files.createTempDirectory("graft_unknown_dirs")
      for (((batch, ep), (stale, latest)) <- ids; (run, id) <- Seq(1 -> stale, 2 -> latest))
        write(root, s"api/misc/$batch/$ep/run_$run.json",
          if (ep == "teams") teams(id) else standings(id))
      val (ok, dead) = Normalize.pipeline(spark, s"$root/api", "apifootball")
      assert(ok.count() == 0)
      val d = dead.collect()
      assert(d.map(_.getString(0)).toSeq == Seq("unknown"))
      assert(d.head.getSeq[String](2).size == 8)
      graft.Caches.releaseAll()
      d.head.getString(1)
    }
    // per-directory latest: teams {1, 2} x standings {3, 1} join on
    // team 1 — the unknown group's rows fail enforcement. Only the
    // group-wide latest files (batch2's) would leave {2} x {1}: no join.
    assert(verdict(Map(
      ("batch1", "teams") -> (9, 1), ("batch1", "standings") -> (9, 3),
      ("batch2", "teams") -> (9, 2), ("batch2", "standings") -> (9, 1))) == "enforcement_failure")
    // the latest runs join nothing; only the stale runs (team 9) would
    assert(verdict(Map(
      ("batch1", "teams") -> (9, 1), ("batch1", "standings") -> (9, 3),
      ("batch2", "teams") -> (9, 2), ("batch2", "standings") -> (9, 4))) ==
      "empty_or_unjoinable_group")
  }

  test("strict parse mirrors the reference validator's REQUIRED default (helpers.py:43)") {
    val json =
      """{"version": 1, "fields": [
        |  {"name": "pk", "type": "STRING", "mode": "REQUIRED"},
        |  {"name": "team_id", "type": "STRING"},
        |  {"name": "form", "type": "STRING", "mode": "NULLABLE"}]}""".stripMargin
    val lax = SchemaRegistry.parse(json)
    val strict = SchemaRegistry.parse(json, strict = true)
    assert(lax.fields.map(_.required) == Seq(true, false, false))
    assert(strict.fields.map(_.required) == Seq(true, true, false))
  }

  test("unknown api name fails fast (E3, ref transforms.py:129-132)") {
    intercept[IllegalArgumentException] { Normalize.normalizer("nope") }
  }

  test("schema document parser round-trips the reference v1.json shape") {
    val doc = SchemaRegistry.parse(
      """{"version": 7, "fields": [
        |  {"name": "pk", "type": "STRING", "mode": "REQUIRED"},
        |  {"name": "n", "type": "INTEGER"},
        |  {"name": "at", "type": "TIMESTAMP", "mode": "NULLABLE"}]}""".stripMargin)
    assert(doc.version == 7)
    assert(doc.fields.map(_.name) == Seq("pk", "n", "at"))
    assert(doc.fields.head.required && !doc.fields(1).required)
    assert(doc.structType.fields(1).dataType.typeName == "long")
  }

  test("K1 sink: overwrite is idempotent, update_timestamp defaulted") {
    val (ok, _) = Normalize.pipeline(spark, s"$stagedRoot/apifootball", "apifootball")
    val out = Files.createTempDirectory("graft_sink").toString
    Sinks.writeUnified(ok, out, "apifootball")
    Sinks.writeUnified(ok, out, "apifootball") // re-run: no pk duplication
    val back = spark.read.parquet(s"$out/teams_apifootball")
    assert(back.count() == 2)
    assert(back.select(countDistinct(col("pk"))).as[Long].head() == 2L)
    assert(back.filter(col("update_timestamp").isNull).count() == 0)
  }

  test("upsert sink: re-running one league never erases another (repaired WRITE_TRUNCATE)") {
    val out = Files.createTempDirectory("graft_upsert").toString
    val (okA, _) = Normalize.pipeline(spark, s"$stagedRoot/apifootball", "apifootball")
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    Sinks.writeUnifiedUpsert(okA, out, "apifootball")
    // the dynamic overwrite is a per-write option: the session is untouched
    assert(spark.conf.getOption(modeKey) == modeBefore)
    // a different league's run: same table, disjoint partition
    val okB = okA
      .withColumn("league_id", lit("954"))
      .withColumn("pk", concat_ws("-",
        col("season"), lit("954"), col("team_id")))
    Sinks.writeUnifiedUpsert(okB, out, "apifootball")
    // re-run league A (idempotent for A, invisible to B)
    Sinks.writeUnifiedUpsert(okA, out, "apifootball")
    val back = spark.read.parquet(s"$out/teams_apifootball")
    assert(back.count() == 4) // 2 teams x 2 leagues — nothing erased
    assert(back.select(countDistinct(col("pk"))).as[Long].head() == 4L)
    assert(back.filter(col("league_id") === "954").count() == 2)
  }

  test("compaction halves file count without changing rows") {
    val out = Files.createTempDirectory("graft_compact").toString + "/t"
    val df = spark.range(0, 1000).toDF("id")
    df.repartition(16).write.parquet(out)
    val before = spark.read.parquet(out).inputFiles.length
    graft.engine.Sinks.compact(spark, out, 2)
    val after = spark.read.parquet(out)
    assert(after.inputFiles.length <= 2 && after.inputFiles.length < before)
    assert(after.count() == 1000L)
  }

  test("K3/K4: staging writes the path convention; failure rolls back every staged file") {
    val root = Files.createTempDirectory("graft_staging").toString
    // success path: files land where the readers expect them
    val paths = graft.engine.Staging.stageAll(root, "run_7", Seq(
      (2023, 153, "teams", () => """[{"team_key": "1"}]"""),
      (2023, 153, "standings", () => """[{"team_id": "1"}]""")))
    assert(paths.map(_.toString).forall(_.contains("season_2023/league_153")))
    assert(paths.forall(Files.exists(_)))
    // failure path: the intended reference semantics (its literal code
    // NameErrors, SURVEY appendix) — everything staged so far is gone
    val root2 = Files.createTempDirectory("graft_staging2").toString
    intercept[RuntimeException] {
      graft.engine.Staging.stageAll(root2, "run_8", Seq(
        (2023, 39, "teams", () => """{"response": []}"""),
        (2023, 39, "standings", () => throw new RuntimeException("api 500"))))
    }
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root2))
    val leftover = try walk.filter(Files.isRegularFile(_)).count()
      finally walk.close()
    assert(leftover == 0L, s"rollback left $leftover files")
  }

  test("K2 sink: dead letters land as single-shard JSON lines") {
    val dead = Seq(("2023-153", "cast_failure:points")).toDF("pk", "error")
    val out = Files.createTempDirectory("graft_dl").toString + "/dl"
    Sinks.writeDeadLetter(dead, "pk", out)
    val lines = spark.read.text(out).as[String].collect()
    assert(lines.length == 1)
    assert(lines(0).contains(""""PK":"2023-153""""))
  }
}
