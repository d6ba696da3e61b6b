package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.{Enforce, Paths, Q, Tables}
import graft.engine.Enforce.FieldSpec

/** The reference's signature operators exercised through the oracle
  * harness: schema enforcement with dead-letter routing (SURVEY.md
  * §2.6 E1/E2) and path-convention pk extraction (§2.3 P1), driven by
  * a raw view derived from the events table (bad rows induced
  * deterministically so the split is non-trivial at every sf).
  */
object Football {

  /** Raw, stringly-typed view of events with a deliberately corrupt
    * INTEGER field on every 97th row — the shape records have when
    * they arrive from staged JSON (ref §1.1). */
  private def rawEvents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir).select(
      col("event_id"),
      when(col("event_id") % 97 === 0, lit("not_a_number"))
        .otherwise(get_json_object(col("props"), "$.k")).as("k"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))

  private val rawOracle =
    """SELECT event_id,
      |    CASE WHEN event_id % 97 = 0 THEN 'not_a_number'
      |         ELSE json_extract_string(props, '$.k') END AS k,
      |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
      |  FROM events""".stripMargin

  /** Oracle twin of Enforce.withError for the event schema —
    * STRUCTURAL (TRY_CAST per field, tags joined in schema order),
    * not a hardcoded replay of the %97 corruption rule, so the
    * Spark/DuckDB comparison stays valid on data where OTHER fields
    * fail too (a naturally non-integer props.k, a null event_id).
    * DuckDB's concat_ws skips NULLs exactly like Spark's. */
  private val errOracle =
    """concat_ws(',',
      |  CASE WHEN event_id IS NULL THEN 'missing_required:event_id'
      |       WHEN TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) IS NULL THEN 'cast_failure:event_id' END,
      |  CASE WHEN k IS NOT NULL AND TRY_CAST(k AS BIGINT) IS NULL THEN 'cast_failure:k' END,
      |  CASE WHEN ts_s IS NOT NULL AND TRY_CAST(ts_s AS TIMESTAMP) IS NULL THEN 'cast_failure:ts_s' END)""".stripMargin

  private val eventSchema = Seq(
    FieldSpec("event_id", "INTEGER", required = true),
    FieldSpec("k", "INTEGER"),
    FieldSpec("ts_s", "TIMESTAMP"))

  /** q30 — enforcement OK path: validate + cast + prune; clean rows
    * come out typed (ref `helpers.py:51-101`). */
  val q30EnforceOk: Q = Q(
    "q30_enforce_ok",
    s"""WITH raw AS ($rawOracle),
       |flagged AS (SELECT *, $errOracle AS err FROM raw)
       |SELECT TRY_CAST(event_id AS BIGINT) AS event_id,
       |       TRY_CAST(k AS BIGINT) AS k,
       |       TRY_CAST(ts_s AS TIMESTAMP) AS ts_s
       |FROM flagged WHERE err = ''
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val (ok, _) = Enforce.split(rawEvents(s, dir), eventSchema)
    ok.orderBy(col("event_id"))
  }

  /** q31 — enforcement dead-letter path: rows with a failed cast are
    * diverted (never kill the job) with a field-tagged error (ref
    * `transforms.py:182-184`). */
  val q31EnforceDead: Q = Q(
    "q31_enforce_dead",
    s"""WITH raw AS ($rawOracle),
       |flagged AS (SELECT *, $errOracle AS err FROM raw)
       |SELECT event_id, err AS error
       |FROM flagged WHERE err <> ''
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val (_, dead) = Enforce.split(rawEvents(s, dir), eventSchema)
    dead.select(col("event_id"), col("error")).orderBy(col("event_id"))
  }

  /** q34 — dead-letter JSON sink shape (ref `pipeline.py:57-63`): one
    * `{"PK": ..., "error": ...}` document per diverted row. */
  val q34DeadLetterJson: Q = Q(
    "q34_dead_letter_json",
    s"""WITH raw AS ($rawOracle),
       |flagged AS (SELECT *, $errOracle AS err FROM raw)
       |SELECT '{"PK":' || event_id || ',"error":"' || err || '"}' AS value
       |FROM flagged WHERE err <> ''
       |ORDER BY value""".stripMargin) { (s, dir) =>
    val (_, dead) = Enforce.split(rawEvents(s, dir), eventSchema)
    Enforce.deadLetterJson(dead, "event_id").orderBy(col("value"))
  }

  /** q32 — pk extraction from the staged-file path convention, incl.
    * the `"unknown"` fallback for malformed paths (ref
    * `helpers.py:8-27`); grouped to standings-group granularity. */
  val q32PkExtract: Q = Q(
    "q32_pk_extract",
    """WITH paths AS (
      |  SELECT CASE WHEN event_id % 31 = 0 THEN 'api/malformed/run.json'
      |              ELSE 'api/season_' || CAST(year(CAST(ts AS TIMESTAMP)) AS VARCHAR)
      |                   || '/league_' || CAST(user_id % 10 AS VARCHAR) || '/teams/run_1.json' END AS path
      |  FROM events),
      |pks AS (
      |  SELECT CASE WHEN regexp_extract(path, '/season_([0-9]+)/league_([0-9]+)/', 1) = ''
      |              THEN 'unknown'
      |              ELSE regexp_extract(path, '/season_([0-9]+)/league_([0-9]+)/', 1) || '-'
      |                   || regexp_extract(path, '/season_([0-9]+)/league_([0-9]+)/', 2) END AS pk
      |  FROM paths)
      |SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_files
      |FROM pks GROUP BY pk ORDER BY pk""".stripMargin) { (s, dir) =>
    val paths = Tables.events(s, dir).select(
      when(col("event_id") % 31 === 0, lit("api/malformed/run.json"))
        .otherwise(concat(
          lit("api/season_"), year(col("ts")).cast("string"),
          lit("/league_"), (col("user_id") % 10).cast("string"),
          lit("/teams/run_1.json"))).as("path"))
    paths.select(Paths.extractPk(col("path")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_files"))
      .orderBy(col("pk"))
  }

  /** q86 — the FLAGSHIP PARITY PIPELINE under the driver's oracle
    * gate: deterministic API-shaped fixtures (derived from the nation
    * table, identical at every sf) staged through `Staging.stageAll`
    * (K3), read back and run through `Normalize.pipeline` for BOTH
    * apis — the reference's signature read → route → join → enforce →
    * group-split chain (ref `transforms.py:149-184`) — emitting the
    * unified ok rows AND the group-level dead letters (kind='dead'
    * rows carrying the error label) in one frame. The DuckDB oracle
    * replays the same chain over the SAME staged JSON files
    * (`read_json` + the identical join/try_cast/group-verdict
    * algebra), so file layout, worker-side JSON reads, both
    * normalizers, enforcement, the dead-letter taxonomy AND the
    * latest-run-per-endpoint rule (stale run_0 files staged in two
    * endpoint dirs; the oracle replays the latest-run-per-directory
    * rule as a QUALIFY on max filename per directory) are all hash-gated — previously only
    * spec-gated (r8 VERDICT gap).
    *
    * Engineered groups: apifootball 2023-101 healthy (one team omits
    * GF/GA → the P4 default-0 path), 2023-102 one non-numeric points
    * → whole group `enforcement_failure`, 2022-103 standings
    * reference absent team ids → `empty_or_unjoinable`; apisports
    * 2023-201 healthy (nested J2 header ride-along), 2022-202
    * unjoinable. The corrupt-input class is ALSO driver-gated: group
    * 2021-104 stages a single unparseable teams file
    * (`corrupt_0.json`); Spark dead-letters it through the REAL
    * whole-file parse probe in `Normalize.pipeline`'s group rows
    * (ref `transforms.py:167-169`), while the oracle's read_json globs
    * name `run_*.json` only (a filename predicate — so DuckDB never
    * parses the corrupt bytes) and derive the `corrupt_input` dead
    * row from `glob()`, which lists files without reading them.
    *
    * The staged root is RUN-scoped (`WorkDirs.runScoped`): the
    * oracle SQL string and the query fn are built in the same JVM,
    * so both name the same nonce-suffixed path; two concurrent
    * harness processes (bench + Verify — the round-9
    * phantom-FileNotFoundException race) can never delete each
    * other's staged files mid-read, and — unlike the retired
    * pid-scoped scheme, whose dead-pid sweep deleted artifacts a
    * post-hoc DuckDB differential still needed (r16 verdict item 3)
    * — interleaved or later JVMs only age out dirs a day old.
    * Content depends only on the fixed 25-row nation table, so any
    * sf's run stages identical bytes. The 25-row collect is the
    * bounded driver-side staging step (Staging's documented design:
    * acquisition is driver-side, never a distributed job). */
  val q86ParityPipeline: Q = {
    val root = graft.engine.WorkDirs.runScoped("q86_stage")
    // the latest-run replay: only the lexicographically-latest run file
    // per endpoint DIRECTORY participates (Normalize.pipeline's
    // per-directory latest file — without it a second staged run joins 2x teams against 2x
    // standings and every row quadruplicates)
    val latest = "QUALIFY filename = max(filename) OVER " +
      "(PARTITION BY regexp_replace(filename, '/[^/]*$', ''))"
    val nullCols =
      Seq("team_id", "team_name", "team_country", "league_id", "league_name")
        .map(c => s"CAST(NULL AS VARCHAR) AS $c") ++
      Seq("season", "rank", "points", "games_played", "wins", "draws",
        "losses", "goals_for", "goals_against", "goal_difference")
        .map(c => s"CAST(NULL AS BIGINT) AS \"$c\"") ++
      Seq("form", "venue_name", "venue_city", "schema_version")
        .map(c => s"CAST(NULL AS VARCHAR) AS $c")
    Q(
      "q86_parity_pipeline",
      s"""WITH fteams AS (
         |  SELECT regexp_extract(filename, 'season_(\\d+)', 1) || '-' ||
         |         regexp_extract(filename, 'league_(\\d+)', 1) AS gpk,
         |    team_key, team_country, venue.venue_name AS venue_name,
         |    venue.venue_city AS venue_city
         |  FROM read_json('$root/apifootball/*/*/teams/run_*.json',
         |    format='array', filename=true,
         |    columns={team_key:'VARCHAR', team_name:'VARCHAR',
         |             team_country:'VARCHAR',
         |             venue:'STRUCT(venue_name VARCHAR, venue_city VARCHAR)'})
         |  $latest),
         |fstand AS (
         |  SELECT regexp_extract(filename, 'season_(\\d+)', 1) || '-' ||
         |         regexp_extract(filename, 'league_(\\d+)', 1) AS gpk, *
         |  FROM read_json('$root/apifootball/*/*/standings/run_*.json',
         |    format='array', filename=true,
         |    columns={team_id:'VARCHAR', team_name:'VARCHAR', league_id:'VARCHAR',
         |             league_name:'VARCHAR', overall_league_position:'VARCHAR',
         |             overall_league_PTS:'VARCHAR', overall_league_payed:'VARCHAR',
         |             overall_league_W:'VARCHAR', overall_league_D:'VARCHAR',
         |             overall_league_L:'VARCHAR', overall_league_GF:'VARCHAR',
         |             overall_league_GA:'VARCHAR', overall_league_form:'VARCHAR'})
         |  $latest),
         |funified AS (
         |  SELECT s.gpk, s.gpk || '-' || s.team_id AS pk, s.team_id, s.team_name,
         |    t.team_country, s.league_id, s.league_name,
         |    string_split(s.gpk, '-')[1] AS season_s,
         |    s.overall_league_position AS rank_s, s.overall_league_PTS AS points_s,
         |    s.overall_league_payed AS played_s, s.overall_league_W AS wins_s,
         |    s.overall_league_D AS draws_s, s.overall_league_L AS losses_s,
         |    COALESCE(s.overall_league_GF, '0') AS gf_s,
         |    COALESCE(s.overall_league_GA, '0') AS ga_s,
         |    COALESCE(TRY_CAST(s.overall_league_GF AS BIGINT), 0)
         |      - COALESCE(TRY_CAST(s.overall_league_GA AS BIGINT), 0) AS goal_difference,
         |    s.overall_league_form AS form, t.venue_name, t.venue_city
         |  FROM fstand s JOIN fteams t ON t.gpk = s.gpk AND t.team_key = s.team_id),
         |ffail AS (
         |  SELECT DISTINCT gpk FROM funified
         |  WHERE (season_s IS NOT NULL AND TRY_CAST(season_s AS BIGINT) IS NULL)
         |     OR (rank_s IS NOT NULL AND TRY_CAST(rank_s AS BIGINT) IS NULL)
         |     OR (points_s IS NOT NULL AND TRY_CAST(points_s AS BIGINT) IS NULL)
         |     OR (played_s IS NOT NULL AND TRY_CAST(played_s AS BIGINT) IS NULL)
         |     OR (wins_s IS NOT NULL AND TRY_CAST(wins_s AS BIGINT) IS NULL)
         |     OR (draws_s IS NOT NULL AND TRY_CAST(draws_s AS BIGINT) IS NULL)
         |     OR (losses_s IS NOT NULL AND TRY_CAST(losses_s AS BIGINT) IS NULL)
         |     OR (gf_s IS NOT NULL AND TRY_CAST(gf_s AS BIGINT) IS NULL)
         |     OR (ga_s IS NOT NULL AND TRY_CAST(ga_s AS BIGINT) IS NULL)),
         |steams AS (
         |  SELECT regexp_extract(filename, 'season_(\\d+)', 1) || '-' ||
         |         regexp_extract(filename, 'league_(\\d+)', 1) AS gpk,
         |    unnest(response) AS r
         |  FROM read_json('$root/apisports/*/*/teams/run_*.json',
         |    format='unstructured', filename=true,
         |    columns={response:'STRUCT(team STRUCT(id BIGINT, name VARCHAR, country VARCHAR), venue STRUCT(name VARCHAR, city VARCHAR))[]'})
         |  $latest),
         |steams2 AS (
         |  SELECT gpk, r.team.id AS tid, r.team.country AS team_country,
         |    r.venue.name AS venue_name, r.venue.city AS venue_city
         |  FROM steams),
         |sstand AS (
         |  SELECT regexp_extract(filename, 'season_(\\d+)', 1) || '-' ||
         |         regexp_extract(filename, 'league_(\\d+)', 1) AS gpk,
         |    response[1].league AS league
         |  FROM read_json('$root/apisports/*/*/standings/run_*.json',
         |    format='unstructured', filename=true,
         |    columns={response:'STRUCT(league STRUCT(id BIGINT, name VARCHAR, season BIGINT, standings STRUCT(rank BIGINT, team STRUCT(id BIGINT, name VARCHAR), points BIGINT, goalsDiff BIGINT, form VARCHAR, "all" STRUCT(played BIGINT, win BIGINT, draw BIGINT, lose BIGINT, goals STRUCT("for" BIGINT, against BIGINT)))[][]))[]'})
         |  $latest),
         |srows AS (
         |  SELECT gpk, CAST(league.id AS VARCHAR) AS league_id,
         |    league.name AS league_name, league.season AS season,
         |    unnest(league.standings[1]) AS st
         |  FROM sstand),
         |sunified AS (
         |  SELECT r.gpk, r.gpk || '-' || CAST(r.st.team.id AS VARCHAR) AS pk,
         |    CAST(r.st.team.id AS VARCHAR) AS team_id, r.st.team.name AS team_name,
         |    t.team_country, r.league_id, r.league_name, r.season,
         |    r.st.rank AS "rank", r.st.points AS points,
         |    r.st."all".played AS games_played, r.st."all".win AS wins,
         |    r.st."all".draw AS draws, r.st."all".lose AS losses,
         |    COALESCE(r.st."all".goals."for", 0) AS goals_for,
         |    COALESCE(r.st."all".goals.against, 0) AS goals_against,
         |    r.st.goalsDiff AS goal_difference, r.st.form AS form,
         |    t.venue_name, t.venue_city
         |  FROM srows r JOIN steams2 t ON t.gpk = r.gpk AND t.tid = r.st.team.id),
         |fexpected AS (
         |  SELECT DISTINCT gpk FROM (
         |    SELECT gpk FROM fteams UNION ALL SELECT gpk FROM fstand)),
         |sexpected AS (
         |  SELECT DISTINCT gpk FROM (
         |    SELECT gpk FROM steams UNION ALL SELECT gpk FROM sstand)),
         |fdead AS (
         |  SELECT gpk, 'enforcement_failure' AS error FROM ffail
         |  UNION ALL
         |  SELECT e.gpk, 'empty_or_unjoinable_group' AS error
         |  FROM fexpected e
         |  WHERE e.gpk NOT IN (SELECT DISTINCT gpk FROM funified)),
         |sdead AS (
         |  SELECT e.gpk, 'empty_or_unjoinable_group' AS error
         |  FROM sexpected e
         |  WHERE e.gpk NOT IN (SELECT DISTINCT gpk FROM sunified)),
         |cdead AS (
         |  SELECT regexp_extract(file, 'season_(\\d+)', 1) || '-' ||
         |         regexp_extract(file, 'league_(\\d+)', 1) AS gpk,
         |    'corrupt_input' AS error
         |  FROM glob('$root/*/*/*/*/corrupt_*.json')),
         |dead AS (SELECT gpk, error FROM fdead
         |  UNION ALL SELECT gpk, error FROM sdead
         |  UNION ALL SELECT gpk, error FROM cdead),
         |ok AS (
         |  SELECT pk, team_id, team_name, team_country, league_id, league_name,
         |    TRY_CAST(season_s AS BIGINT) AS season,
         |    TRY_CAST(rank_s AS BIGINT) AS "rank",
         |    TRY_CAST(points_s AS BIGINT) AS points,
         |    TRY_CAST(played_s AS BIGINT) AS games_played,
         |    TRY_CAST(wins_s AS BIGINT) AS wins,
         |    TRY_CAST(draws_s AS BIGINT) AS draws,
         |    TRY_CAST(losses_s AS BIGINT) AS losses,
         |    TRY_CAST(gf_s AS BIGINT) AS goals_for,
         |    TRY_CAST(ga_s AS BIGINT) AS goals_against,
         |    goal_difference, form, venue_name, venue_city
         |  FROM funified WHERE gpk NOT IN (SELECT gpk FROM fdead)
         |  UNION ALL
         |  SELECT pk, team_id, team_name, team_country, league_id, league_name,
         |    season, "rank", points, games_played, wins, draws, losses,
         |    goals_for, goals_against, goal_difference, form,
         |    venue_name, venue_city
         |  FROM sunified WHERE gpk NOT IN (SELECT gpk FROM sdead))
         |SELECT 'ok' AS kind, pk, CAST(NULL AS VARCHAR) AS error,
         |  team_id, team_name, team_country, league_id, league_name,
         |  season, "rank", points, games_played, wins, draws, losses,
         |  goals_for, goals_against, goal_difference, form,
         |  venue_name, venue_city, '1' AS schema_version
         |FROM ok
         |UNION ALL
         |SELECT 'dead' AS kind, gpk AS pk, error, ${nullCols.mkString(",\n  ")}
         |FROM dead
         |ORDER BY kind, pk""".stripMargin) { (s, dir) =>
      import graft.engine.{Normalize, Staging}
      // clean slate: stale files from an older fixture version must not
      // leak into the glob (Staging overwrites same-named files only)
      val rootPath = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(rootPath)) {
        // Files.walk must be closed (directory handles leak otherwise)
        val walk = java.nio.file.Files.walk(rootPath)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      // bounded driver-side fixture build: the fixed 25-row nation table
      val nations = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .orderBy(col("n_nationkey"))
        .collect()
        .map(r => r.getLong(0) -> r.getString(1))
      def slice(from: Int, n: Int): Seq[(Int, Long, String)] =
        nations.slice(from, from + n).toSeq.zipWithIndex
          .map { case ((k, name), i) => (i, k, name) }
      // deterministic per-team stats as a function of in-group index
      def st(i: Int): (Int, Int, Int, Int, Int, Int, Int, Int) =
        (i + 1, 90 - 3 * i, 38, 25 - i, 5 + i, 8, 80 - 2 * i, 30 + i)
      def fbTeams(teams: Seq[(Int, Long, String)], keyBase: Long): String =
        teams.map { case (_, k, name) =>
          s"""{"team_key": "${keyBase + k}", "team_name": "$name", "team_country": "England",
             | "venue": {"venue_name": "$name Arena", "venue_city": "$name City"}}""".stripMargin
        }.mkString("[", ",\n", "]")
      def fbStandings(teams: Seq[(Int, Long, String)], keyBase: Long,
          league: Int, omitGoalsIdx: Int = -1, badPointsIdx: Int = -1,
          keyShift: Long = 0L, ptsShift: Int = 0): String =
        teams.map { case (i, k, name) =>
          val (r, p0, gp, w, d, l, gf, ga) = st(i)
          val p = p0 + ptsShift
          val pts = if (i == badPointsIdx) "\"not_a_number\"" else s""""$p""""
          val goals = if (i == omitGoalsIdx) ""
            else s""", "overall_league_GF": "$gf", "overall_league_GA": "$ga""""
          s"""{"team_id": "${keyBase + k + keyShift}", "team_name": "$name",
             | "league_id": "$league", "league_name": "League $league",
             | "overall_league_position": "$r", "overall_league_PTS": $pts,
             | "overall_league_payed": "$gp", "overall_league_W": "$w",
             | "overall_league_D": "$d", "overall_league_L": "$l"$goals,
             | "overall_league_form": "WWDLW"}""".stripMargin
        }.mkString("[", ",\n", "]")
      def spTeams(teams: Seq[(Int, Long, String)], keyBase: Long): String =
        teams.map { case (_, k, name) =>
          s"""{"team": {"id": ${keyBase + k}, "name": "$name", "country": "England"},
             | "venue": {"name": "$name Arena", "city": "$name City"}}""".stripMargin
        }.mkString("""{"response": [""", ",\n", "]}")
      def spStandings(teams: Seq[(Int, Long, String)], keyBase: Long,
          league: Int, season: Int, keyShift: Long = 0L): String = {
        val rows = teams.map { case (i, k, name) =>
          val (r, p, gp, w, d, l, gf, ga) = st(i)
          s"""{"rank": $r, "team": {"id": ${keyBase + k + keyShift}, "name": "$name"},
             | "points": $p, "goalsDiff": ${gf - ga}, "form": "WWDLW",
             | "all": {"played": $gp, "win": $w, "draw": $d, "lose": $l,
             |         "goals": {"for": $gf, "against": $ga}}}""".stripMargin
        }.mkString("[[", ",\n", "]]")
        s"""{"response": [{"league": {"id": $league, "name": "League $league",
           | "season": $season, "standings": $rows}}]}""".stripMargin
      }
      Staging.stageAll(s"$root/apifootball", "run_1", Seq(
        (2023, 101, "teams", () => fbTeams(slice(0, 5), 1000L)),
        (2023, 101, "standings",
          () => fbStandings(slice(0, 5), 1000L, 101, omitGoalsIdx = 1)),
        (2023, 102, "teams", () => fbTeams(slice(5, 3), 1000L)),
        (2023, 102, "standings",
          () => fbStandings(slice(5, 3), 1000L, 102, badPointsIdx = 1)),
        (2022, 103, "teams", () => fbTeams(slice(8, 2), 1000L)),
        (2022, 103, "standings",
          () => fbStandings(slice(8, 2), 1000L, 103, keyShift = 8000L))))
      // STALE earlier runs in the SAME endpoint dirs: the latest-run
      // rule must exclude them — participation would add shifted-points rows
      // (apifootball) / duplicate every join row (apisports, identical
      // content re-staged), either of which trips the hash gate
      Staging.stageAll(s"$root/apifootball", "run_0", Seq(
        (2023, 101, "standings",
          () => fbStandings(slice(0, 5), 1000L, 101, ptsShift = 7))))
      Staging.stageAll(s"$root/apisports", "run_0", Seq(
        (2023, 201, "teams", () => spTeams(slice(10, 5), 2000L))))
      // corrupt-input leg (driver-gated): one unparseable teams file
      // for group 2021-104 — the sole file in its endpoint dir; Spark
      // dead-letters it via the whole-file parse probe while the
      // oracle's run_*.json globs never parse it (see scaladoc)
      Staging.stageAll(s"$root/apifootball", "corrupt_0", Seq(
        (2021, 104, "teams", () => "[{\"team_key\": \"truncated mid-")))
      Staging.stageAll(s"$root/apisports", "run_1", Seq(
        (2023, 201, "teams", () => spTeams(slice(10, 5), 2000L)),
        (2023, 201, "standings", () => spStandings(slice(10, 5), 2000L, 201, 2023)),
        (2022, 202, "teams", () => spTeams(slice(15, 2), 2000L)),
        (2022, 202, "standings",
          () => spStandings(slice(15, 2), 2000L, 202, 2022, keyShift = 8000L))))
      val (okF, deadF) = Normalize.pipeline(s, s"$root/apifootball", "apifootball")
      val (okS, deadS) = Normalize.pipeline(s, s"$root/apisports", "apisports")
      val outCols = Seq("team_id", "team_name", "team_country", "league_id",
        "league_name", "season", "rank", "points", "games_played", "wins",
        "draws", "losses", "goals_for", "goals_against", "goal_difference",
        "form", "venue_name", "venue_city", "schema_version")
      val okOut = okF.unionByName(okS).select(
        lit("ok").as("kind") +: col("pk") +:
          lit(null).cast("string").as("error") +: outCols.map(col): _*)
      val longCols = Set("season", "rank", "points", "games_played", "wins",
        "draws", "losses", "goals_for", "goals_against", "goal_difference")
      val deadOut = deadF.select(col("pk"), col("error"))
        .unionByName(deadS.select(col("pk"), col("error")))
        .select(
          lit("dead").as("kind") +: col("pk") +: col("error") +:
            outCols.map(c => lit(null)
              .cast(if (longCols(c)) "long" else "string").as(c)): _*)
      okOut.unionByName(deadOut).orderBy(col("kind"), col("pk"))
    }
  }

  val all: Seq[Q] = Seq(q30EnforceOk, q31EnforceDead, q34DeadLetterJson,
    q32PkExtract, q86ParityPipeline)
}
