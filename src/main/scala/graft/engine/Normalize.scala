package graft.engine

import java.util.{Collections, IdentityHashMap}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Per-source normalizers: nested API-shaped JSON → the unified
  * team-season schema (SURVEY.md §2.3 P2-P8, §2.5 J1/J2; reference
  * `transforms.py:19-132`).
  *
  * Spark-first form of the reference's per-group DoFn
  * (`pipeline.py:37-43` GroupByKey → `transforms.py:149-184` loop):
  * every staged file is read ONCE as whole text, keyed by its group
  * (`pk`, recovered from the file path — §2.3 P1), and ONE shuffle by
  * `pk` places each (season, league) group's files together. One
  * aggregate row per group then carries the group's file list, its
  * corrupt flag and the parsed latest teams/standings documents, and
  * the per-group build-dict/probe hash join (`transforms.py:32-37,
  * 89-94`) runs INSIDE that row: a higher-order `filter` of the teams
  * array per standings row, then `explode`. Semantics are the
  * reference's inner join (probe misses drop, duplicate keys multiply,
  * null keys never match — ref P9).
  *
  * Scale: a group is one league-season — tens of teams, a handful of
  * files — so its in-row join is bounded no matter how many groups
  * the staged root holds; the corpus scales in the NUMBER of groups,
  * which the single hash(`pk`) exchange distributes. Everything
  * downstream (the group verdict window, both outputs) keeps that
  * partitioning and adds no exchange of its own.
  */
object Normalize {

  // try_cast, not cast: Spark 4 defaults ANSI on, where a plain cast of
  // a malformed numeric string throws and kills the stage — the
  // reference diverts the group instead (dead-letter). try_cast nulls,
  // and Enforce routes the null/required/cast checks to the dead side.
  private def l(c: Column): Column = c.try_cast("long")

  /** One API's fixed parse schemas — the DDL of ONE element of each
    * endpoint document's top-level array (a top-level object parses as
    * a one-element array) — and its normalizer, in two parts:
    *  - `join(teams, standings)`: the group's join, computed inside the
    *    group row over the parsed elements of its latest documents; an
    *    array of one struct per matched (standing, team) pair;
    *  - `row`: the unified columns of one pair, read from the group key
    *    `pk` and the pair's fields, plus the true group key as
    *    `_group_pk`.
    *
    * A fixed schema, not inference, so one group's payload cannot
    * change how another group's fields parse: a field whose value does
    * not fit its declared type nulls in that row alone (Spark's partial
    * JSON results), absent fields are null like the reference's dict
    * `.get` chains, and enforcement sees the rest unchanged. */
  final case class Api(teams: String, standings: String,
      join: (Column, Column) => Column, row: Seq[Column]) {
    def teamsType: DataType = ArrayType(DataType.fromDDL(teams))
    def standingsType: DataType = ArrayType(DataType.fromDDL(standings))
  }

  // inner-join semantics inside a group: every standing row pairs with
  // every team whose key equals its own — duplicate keys multiply, a
  // miss drops the row (ref P9), a null key never matches
  private def pairs(standings: Column, teams: Column)(on: (Column, Column) => Column,
      pair: (Column, Column) => Column): Column =
    flatten(transform(standings, s => transform(filter(teams, t => on(s, t)), t => pair(s, t))))

  /** API-Football (ref `transforms.py:19-72`): flat string-typed
    * payloads; join standings⋈teams on team id within each pk group;
    * rank/points/played/W/D/L renames; GF/GA default 0 on missing
    * (P4); goal_difference computed (P5); season from the path pk
    * (P7). */
  val apiFootball: Api = Api(
    "struct<team_key:string,team_country:string," +
      "venue:struct<venue_name:string,venue_city:string>>",
    "struct<team_id:string,team_name:string,league_id:string,league_name:string," +
      "overall_league_position:string,overall_league_PTS:string," +
      "overall_league_payed:string,overall_league_W:string,overall_league_D:string," +
      "overall_league_L:string,overall_league_GF:string,overall_league_GA:string," +
      "overall_league_form:string>",
    (teams, standings) => pairs(standings, teams)(
      (s, t) => t("team_key") === s("team_id"), (s, t) => struct(s.as("s"), t.as("t"))),
    Seq(
      // the TRUE group key rides along (pruned by enforcement):
      // re-deriving it from the row pk is lossy when team_id itself
      // contains a '-'
      col("pk").as("_group_pk"),
      concat_ws("-", col("pk"), col("s.team_id")).as("pk"),
      col("s.team_id").as("team_id"),
      col("s.team_name").as("team_name"),
      col("t.team_country").as("team_country"),
      col("s.league_id").as("league_id"),
      col("s.league_name").as("league_name"),
      // season stays a STRING here for the same reason as the other
      // numerics below: the running reference int()s it
      // (transforms.py:55 + helpers.py:92-100), so the 'unknown'
      // path-pk fallback must FAIL enforcement and dead-letter its
      // group — an l() would silently null it past the NULLABLE check
      element_at(split(col("pk"), "-"), 1).as("season"),
      // Every API-Football numeric arrives as a STRING and the
      // reference int()s it (raising on non-numeric → the whole
      // group dead-letters, transforms.py:48-64 + 182-184). The raw
      // strings therefore ride through to Enforce, whose try_cast
      // flags 'abc' as cast_failure:<field>; an l() here would
      // silently null the evidence and the row would pass clean.
      // ABSENT values: GF/GA default "0" (ref .get(field, 0));
      // the rest stay null — reference raises KeyError there, but
      // this engine's documented NULLABLE default admits them
      // (SchemaRegistry strict mode restores the reference's
      // behavior).
      col("s.overall_league_position").as("rank"),
      col("s.overall_league_PTS").as("points"),
      col("s.overall_league_payed").as("games_played"), // [sic] upstream field name
      col("s.overall_league_W").as("wins"),
      col("s.overall_league_D").as("draws"),
      col("s.overall_league_L").as("losses"),
      coalesce(col("s.overall_league_GF"), lit("0")).as("goals_for"),
      coalesce(col("s.overall_league_GA"), lit("0")).as("goals_against"),
      (coalesce(l(col("s.overall_league_GF")), lit(0L)) -
        coalesce(l(col("s.overall_league_GA")), lit(0L))).as("goal_difference"),
      col("s.overall_league_form").as("form"),
      col("t.venue.venue_name").as("venue_name"),
      col("t.venue.venue_city").as("venue_city"),
      lit(null).cast("timestamp").as("update_timestamp"),
      lit("1").as("schema_version")))

  /** API-Sports (ref `transforms.py:75-126`): nested payloads. Each
    * document wraps its rows in a `response` array; a standings
    * document's rows live at `response[0].league.standings[0]` with a
    * 1-row league header applied to every output row (the reference's
    * implicit cross-join to the header, §2.5 J2) — here the header
    * rides along each standing row into its pairs, no join needed. */
  val apiSports: Api = Api(
    "struct<response:array<struct<team:struct<id:bigint,name:string,country:string>," +
      "venue:struct<name:string,city:string>>>>",
    "struct<response:array<struct<league:struct<id:bigint,name:string,season:bigint," +
      "standings:array<array<struct<rank:bigint,team:struct<id:bigint,name:string>," +
      "points:bigint,goalsDiff:bigint,form:string," +
      "all:struct<played:bigint,win:bigint,draw:bigint,lose:bigint," +
      "goals:struct<`for`:bigint,against:bigint>>>>>>>>>",
    // try_element_at, NOT element_at: Spark 4 defaults ANSI on, where
    // element_at on an EMPTY response array throws and kills the whole
    // job — the reference raises ValueError and diverts only that
    // group (transforms.py:83-87); with try_element_at the empty
    // payload yields no rows and the group dead-letters as
    // empty_or_unjoinable downstream
    (teamDocs, standingDocs) => {
      val teams = flatten(array_compact(transform(teamDocs, d => d("response"))))
      val standings = flatten(array_compact(transform(standingDocs, d => {
        val league = try_element_at(d("response"), lit(1)).getField("league")
        transform(try_element_at(league("standings"), lit(1)),
          s => struct(league.as("league"), s.as("standing")))
      })))
      pairs(standings, teams)(
        (s, t) => t("team")("id") === s("standing")("team")("id"),
        (s, t) => struct(s("league").as("league"), s("standing").as("standing"), t.as("t")))
    },
    Seq(
      col("pk").as("_group_pk"),
      concat_ws("-", col("pk"), col("standing.team.id")).as("pk"),
      col("standing.team.id").cast("string").as("team_id"),
      col("standing.team.name").as("team_name"),
      col("t.team.country").as("team_country"),
      col("league.id").cast("string").as("league_id"),
      col("league.name").as("league_name"),
      col("league.season").as("season"),
      col("standing.rank").as("rank"),
      col("standing.points").as("points"),
      col("standing.all.played").as("games_played"),
      col("standing.all.win").as("wins"),
      col("standing.all.draw").as("draws"),
      col("standing.all.lose").as("losses"),
      coalesce(col("standing.all.goals.for"), lit(0L)).as("goals_for"),
      coalesce(col("standing.all.goals.against"), lit(0L)).as("goals_against"),
      col("standing.goalsDiff").as("goal_difference"), // source value verbatim (ref transforms.py:118)
      col("standing.form").as("form"),
      col("t.venue.name").as("venue_name"),
      col("t.venue.city").as("venue_city"),
      lit(null).cast("timestamp").as("update_timestamp"),
      lit("1").as("schema_version")))

  /** E3 dispatch (ref `transforms.py:129-132`): api name → normalizer;
    * unknown name fails fast at construction. */
  val transformMap: Map[String, Api] = Map(
    "apifootball" -> apiFootball,
    "apisports" -> apiSports)

  def normalizer(apiName: String): Api =
    transformMap.getOrElse(apiName,
      throw new IllegalArgumentException(s"Unknown api_name $apiName"))

  /** Full staged-dir pipeline for one API: route files by endpoint
    * directory (S4, ref `transforms.py:163-166`), normalize, enforce
    * the unified schema, split dead letters at the (season, league)
    * GROUP granularity exactly like the reference (ref
    * `transforms.py:149-184`: any failure inside a group diverts the
    * whole group). Each staged group gets one verdict, in this order
    * of precedence:
    *  - unparseable staged document, stale runs included → its group
    *    dead-letters (`error=corrupt_input`, ref `transforms.py:167-169`);
    *  - a group present in the inputs that produces NO unified rows
    *    (empty payload / nothing joinable) → dead-letters
    *    (`error=empty_or_unjoinable_group`, ref `transforms.py:26-27,
    *    78-87` P10 presence checks);
    *  - any enforcement failure → the row's whole group dead-letters
    *    (`error=enforcement_failure`).
    *
    * Returns (ok, dead): `dead` has one (pk, error, files) row per
    * failed group, feedable to `Sinks.writeDeadLetter`; `files` holds
    * the group's staged paths, sorted, as the file system lists them.
    *
    * One keyed pass, like the reference's GroupByKey + tagged
    * multi-output ParDo: one whole-text scan of the staged files, one
    * shuffle by `pk`, one aggregate row per group, and only the latest
    * run file per endpoint DIRECTORY joins — the reference's per-group
    * loop keeps one document per endpoint (transforms.py:158-166), and
    * a staged root accumulates runs. The group's pairs are exploded
    * OUTER, so a group that joins nothing still has one row, and
    * [[Enforce.tagByGroup]] tags them by the already-partitioned group
    * key. `ok` is that tagged frame's clean groups and `dead` its first
    * row per group; neither adds an exchange or a join, and nothing is
    * pinned. Writing `ok` then `dead` through `Sinks` runs ONE Spark
    * action, like the reference's tagged outputs: `ok` is written as an
    * observed twin ([[writeOk]]) that gathers the dead-letter lines in
    * the same pass, and `dead` is written from those lines with no
    * Spark job. Both frames stay self-sufficient lazy frames: any other
    * action, in any order, recomputes from the staged text (a `dead`
    * written first is collected). The observed lines live until
    * `Caches.releaseAll`, the lifetime of a root pin; the exit of a
    * `Caches.scoped` block does not end them (no caller runs this
    * inside one). Building the frames runs no Spark job. */
  def pipeline(spark: SparkSession, root: String, apiName: String): (DataFrame, DataFrame) = {
    val api = normalizer(apiName)
    // A glob matching NO files is an empty input, not a PATH_NOT_FOUND
    // job failure. The file system's own path string (binaryFile's
    // `path`) is the URL-decoded `_metadata.file_path`; '+' is
    // pre-escaped because url_decode would read it as a space.
    val staged =
      try spark.read.option("wholetext", "true")
        .text(s"$root/*/*/{teams,standings}/*.json")
        .select(
          url_decode(regexp_replace(col("_metadata.file_path"), "\\+", "%2B")).as("path"),
          col("value"))
      catch {
        case e: org.apache.spark.sql.AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL("path STRING, value STRING"))
      }

    val endpoint = regexp_extract(col("dir"), "[^/]*$", 0)
    // one exchange: hash(pk) satisfies both the (pk, dir) and the pk
    // aggregation, and every step after them keeps it
    val groups = staged
      .select(Paths.extractPk(col("path")).as("pk"),
        regexp_replace(col("path"), "/[^/]*$", "").as("dir"), col("path"), col("value"))
      .repartition(col("pk"))
      .groupBy(col("pk"), col("dir"))
      .agg(
        max_by(col("value"), col("path")).as("doc"),
        collect_list(col("path")).as("files"),
        // the parse probe: get_json_object of the root is null exactly
        // for unparseable documents
        max(get_json_object(col("value"), "$").isNull).as("corrupt"))
      .select(col("pk"), col("files"), col("corrupt"),
        when(endpoint === "teams", from_json(col("doc"), api.teamsType)).as("teams"),
        when(endpoint === "standings", from_json(col("doc"), api.standingsType)).as("standings"))
      .groupBy(col("pk"))
      .agg(
        sort_array(flatten(collect_list(col("files")))).as("files"),
        max(col("corrupt")).as("corrupt"),
        flatten(collect_list(col("teams"))).as("teams"),
        flatten(collect_list(col("standings"))).as("standings"))

    // corrupt groups are quarantined BEFORE enforcement so their rows
    // reach neither output; `pos` is null exactly on a group's
    // placeholder row (no pairs), 0 on its first pair
    val v = new Verdicts(Enforce.tagByGroup(
      groups
        .select(col("pk"), col("files"), col("corrupt"), posexplode_outer(
          when(!col("corrupt"), api.join(col("teams"), col("standings"))))
          .as(Seq("pos", "p")))
        .select(col("pk"), col("files"), col("corrupt"), col("pos"), col("p.*"))
        .select(api.row ++ Seq(col("files"), col("corrupt"), col("pos")): _*),
      SchemaRegistry.v1.fields, "_group_pk"))
    live.put(v.ok, v)
    live.put(v.dead, v)
    (v.ok, v.dead)
  }

  /** The group verdicts of one [[pipeline]] call: its `ok` and `dead`
    * frames over one tagged frame, plus the dead-letter lines observed
    * by the last write of `ok` that returned. */
  private final class Verdicts(tagged: DataFrame) {
    private val first = coalesce(col("pos"), lit(0)) === 0
    private val error = when(col("corrupt"), lit("corrupt_input"))
      .when(col("pos").isNull, lit("empty_or_unjoinable_group"))
      .when(col("group_error").isNotNull, lit("enforcement_failure"))
    private def okRows(t: DataFrame): DataFrame =
      Enforce.okGroups(t.filter(col("pos").isNotNull), SchemaRegistry.v1.fields)

    val ok: DataFrame = okRows(tagged)
    val dead: DataFrame = tagged.filter(first)
      .select(col("_group_pk").as("pk"), error.as("error"), col("files"))
      .filter(col("error").isNotNull)
    // `Enforce.deadLetterJson(dead, "pk")`'s line on the row `dead`
    // keeps for a failed group, null on every other row
    private val line = when(first && error.isNotNull,
      to_json(struct(col("_group_pk").as("PK"), col("files"), error.as("error"))))
    @volatile private var observed: Option[Observation] = None

    def writeOk(write: DataFrame => Unit): Unit = {
      val o = Observation()
      write(okRows(tagged.observe(o, collect_list(line).as("lines"))))
      observed = Some(o)
    }

    // the listener bus completes the observation just after the write
    // returns; Spark completes it with an empty row when the metric was
    // planned away, which reads as none
    def deadLetters: Option[Seq[String]] = observed.flatMap { o =>
      scala.util.Try(Await.result(o.future, 30.seconds)).toOption
        .filter(_.length > 0).map(_.getSeq[String](0))
    }
  }

  // identity keys: a frame derived from `ok` or `dead` is a plain frame
  private val live = Collections.synchronizedMap(new IdentityHashMap[DataFrame, Verdicts]())
  graft.Caches.onRelease(() => live.clear())

  /** Run `write` on `df`; a [[pipeline]] `ok` is handed over as its
    * observed twin instead — the same rows from a plan created here,
    * whose `CollectMetrics` node between the tagged rows and the ok
    * filter gathers every failed group's dead-letter line in the same
    * pass. `write` must run one complete action (a sink write): a
    * partial action never sees the twin. */
  private[engine] def writeOk(df: DataFrame)(write: DataFrame => Unit): Unit =
    Option(live.get(df)).filter(_.ok eq df) match {
      case Some(v) => v.writeOk(write)
      case None => write(df)
    }

  /** For a [[pipeline]] `dead` keyed by `pk`: its dead-letter lines
    * (`Enforce.deadLetterJson`'s), as observed by the last write of its
    * `ok` that completed. None when no such write ran since the call. */
  private[engine] def observedDeadLetters(df: DataFrame, pkCol: String): Option[Seq[String]] =
    Option(live.get(df)).filter(v => (v.dead eq df) && pkCol == "pk").flatMap(_.deadLetters)
}
