package graft.engine

import java.util.{Collections, IdentityHashMap}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.functions.ComputeOnce
import graft.sources.{FileLedger, GroupedRead}

/** Per-source normalizers: nested API-shaped JSON → the unified
  * team-season schema (SURVEY.md §2.3 P2-P8, §2.5 J1/J2; reference
  * `transforms.py:19-132`).
  *
  * Spark-first form of the reference's per-group DoFn
  * (`pipeline.py:37-43` GroupByKey → `transforms.py:149-184` loop): the
  * group key (`pk`, §2.3 P1) is already in every staged path, so the
  * driver groups the listed files by it and each (season, league)
  * group's files are read whole into ONE row ([[graft.sources.
  * GroupedRead]]) — no shuffle. That row then carries everything the
  * DoFn computes: the group's file list, its corrupt flag, the parsed
  * latest teams/standings documents, the per-group build-dict/probe
  * hash join (`transforms.py:32-37, 89-94`) as a higher-order `filter`
  * of the teams array per standings row, the unified rows and the
  * group verdict. Join semantics are the reference's inner join (probe
  * misses drop, duplicate keys multiply, null keys never match — ref
  * P9).
  *
  * Scale: a group is one league-season — tens of teams, a handful of
  * files — so its in-row work is bounded no matter how many groups the
  * staged root holds; the corpus scales in the NUMBER of groups, which
  * the read spreads over tasks. Nothing downstream adds an exchange,
  * an aggregation or a window.
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
    *  - `row(pk, pair)`: the unified columns of one pair, read from the
    *    group key `pk` and the pair's fields.
    *
    * A fixed schema, not inference, so one group's payload cannot
    * change how another group's fields parse: a field whose value does
    * not fit its declared type nulls in that row alone (Spark's partial
    * JSON results), absent fields are null like the reference's dict
    * `.get` chains, and enforcement sees the rest unchanged. */
  final case class Api(teams: String, standings: String,
      join: (Column, Column) => Column, row: (Column, Column) => Seq[Column]) {
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
    (pk, p) => Seq(
      concat_ws("-", pk, p("s")("team_id")).as("pk"),
      p("s")("team_id").as("team_id"),
      p("s")("team_name").as("team_name"),
      p("t")("team_country").as("team_country"),
      p("s")("league_id").as("league_id"),
      p("s")("league_name").as("league_name"),
      // season stays a STRING here for the same reason as the other
      // numerics below: the running reference int()s it
      // (transforms.py:55 + helpers.py:92-100), so the 'unknown'
      // path-pk fallback must FAIL enforcement and dead-letter its
      // group — an l() would silently null it past the NULLABLE check
      element_at(split(pk, "-"), 1).as("season"),
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
      p("s")("overall_league_position").as("rank"),
      p("s")("overall_league_PTS").as("points"),
      p("s")("overall_league_payed").as("games_played"), // [sic] upstream field name
      p("s")("overall_league_W").as("wins"),
      p("s")("overall_league_D").as("draws"),
      p("s")("overall_league_L").as("losses"),
      coalesce(p("s")("overall_league_GF"), lit("0")).as("goals_for"),
      coalesce(p("s")("overall_league_GA"), lit("0")).as("goals_against"),
      (coalesce(l(p("s")("overall_league_GF")), lit(0L)) -
        coalesce(l(p("s")("overall_league_GA")), lit(0L))).as("goal_difference"),
      p("s")("overall_league_form").as("form"),
      p("t")("venue")("venue_name").as("venue_name"),
      p("t")("venue")("venue_city").as("venue_city"),
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
    (pk, p) => {
      val standing = p("standing")
      Seq(
        concat_ws("-", pk, standing("team")("id")).as("pk"),
        standing("team")("id").cast("string").as("team_id"),
        standing("team")("name").as("team_name"),
        p("t")("team")("country").as("team_country"),
        p("league")("id").cast("string").as("league_id"),
        p("league")("name").as("league_name"),
        p("league")("season").as("season"),
        standing("rank").as("rank"),
        standing("points").as("points"),
        standing("all")("played").as("games_played"),
        standing("all")("win").as("wins"),
        standing("all")("draw").as("draws"),
        standing("all")("lose").as("losses"),
        coalesce(standing("all")("goals")("for"), lit(0L)).as("goals_for"),
        coalesce(standing("all")("goals")("against"), lit(0L)).as("goals_against"),
        standing("goalsDiff").as("goal_difference"), // source value verbatim (ref transforms.py:118)
        standing("form").as("form"),
        p("t")("venue")("name").as("venue_name"),
        p("t")("venue")("city").as("venue_city"),
        lit(null).cast("timestamp").as("update_timestamp"),
        lit("1").as("schema_version"))
    })

  /** E3 dispatch (ref `transforms.py:129-132`): api name → normalizer;
    * unknown name fails fast at construction. */
  val transformMap: Map[String, Api] = Map(
    "apifootball" -> apiFootball,
    "apisports" -> apiSports)

  def normalizer(apiName: String): Api =
    transformMap.getOrElse(apiName,
      throw new IllegalArgumentException(s"Unknown api_name $apiName"))

  /** Full staged-dir pipeline for one API: the file-list form below over
    * the `.json` files of every `teams` and `standings` directory three
    * levels under `root` (the staged layout), listed on the driver as
    * `binaryFile` lists them. */
  def pipeline(spark: SparkSession, root: String, apiName: String): (DataFrame, DataFrame) =
    pipeline(spark, FileLedger.listed(spark, s"$root/*/*/{teams,standings}/*.json").map(_._1),
      apiName)

  /** Pipeline for one API over exactly `files` (qualified paths, e.g. a
    * [[FileLedger.newFiles]] snapshot's): route files by endpoint
    * directory (S4, ref `transforms.py:163-166`), normalize, enforce
    * the unified schema, split dead letters at the (season, league)
    * GROUP granularity exactly like the reference (ref
    * `transforms.py:149-184`: any failure inside a group diverts the
    * whole group). A file not in `files` is never read. Each staged
    * group gets one verdict, in this order of precedence:
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
    * the group's non-empty staged paths, sorted.
    *
    * One row per group, like the reference's GroupByKey + tagged
    * multi-output ParDo: [[graft.sources.GroupedRead]] gives each group
    * its files' bytes, and only the latest run file per endpoint
    * DIRECTORY joins — the reference's per-group loop keeps one
    * document per endpoint (transforms.py:158-166), and a staged root
    * accumulates runs. The group row holds its unified rows as an
    * array and its verdict ([[Enforce.groupError]]); `ok` explodes the
    * clean groups' rows through the enforced projection and `dead` is
    * the failed group rows, so the plan has no exchange, aggregation or
    * window, and nothing is pinned. Writing `ok` then `dead` through
    * `Sinks` runs ONE Spark action, like the reference's tagged
    * outputs: `ok` is written as an observed twin ([[writeOk]]) that
    * gathers the dead-letter lines from the group rows in the same
    * pass, and `dead` is written from those lines with no Spark job.
    * Both frames stay self-sufficient lazy frames: any other action, in
    * any order, reads the files again (a `dead` written first is
    * collected). The observed lines live until `Caches.releaseAll`, the
    * lifetime of a root pin; the exit of a `Caches.scoped` block does
    * not end them (no caller runs this inside one). Building the
    * frames runs no Spark job and reads no file. */
  def pipeline(spark: SparkSession, files: Seq[String], apiName: String): (DataFrame, DataFrame) = {
    val api = normalizer(apiName)
    val row = rowType(spark, api)
    val rows = col("rows")
    val verdict = when(rows.isNull, lit("corrupt_input"))
      .when(size(rows) === 0, lit("empty_or_unjoinable_group"))
      .when(Enforce.groupError(rows, row, SchemaRegistry.v1.fields).isNotNull,
        lit("enforcement_failure"))
    // the barriers keep each group's rows and verdict computed once, not
    // again in every consumer; `paths` is not named `files` in the
    // select that reads `files`, where it would shadow it as a lateral
    // alias inside the lambdas
    val v = new Verdicts(
      GroupedRead(spark, files, Paths.pkOf)
        .select(col("pk"), transform(col("files"), _("path")).as("paths"),
          ComputeOnce.once(unifiedRows(api)).as("rows"))
        .select(col("pk"), col("paths").as("files"), rows, ComputeOnce.once(verdict).as("error")),
      row)
    live.put(v.ok, v)
    live.put(v.dead, v)
    (v.ok, v.dead)
  }

  /** A [[GroupedRead]] group's unified rows, an array of one struct per
    * joined pair; null for a corrupt group, so that its rows reach
    * neither output. */
  private def unifiedRows(api: Api): Column = {
    val staged = col("files")
    val text = (f: Column) => f("bytes").cast("string")
    // the parse probe: get_json_object of the root is null exactly for
    // unparseable documents
    val corrupt = exists(staged, f => get_json_object(text(f), "$").isNull)
    // the latest file of each `endpoint` directory, parsed
    def latest(endpoint: String, t: DataType): Column = flatten(array_compact(transform(
      filter(staged, f => f("dir").endsWith(s"/$endpoint") &&
        forall(staged, g => g("dir") =!= f("dir") || g("path") <= f("path"))),
      f => from_json(text(f), t))))
    when(!corrupt, transform(
      api.join(latest("teams", api.teamsType), latest("standings", api.standingsType)),
      p => struct(api.row(col("pk"), p): _*)))
  }

  // the type of one API's unified row struct, learned once per JVM
  private val rowTypes = new java.util.concurrent.ConcurrentHashMap[Api, StructType]()
  private def rowType(spark: SparkSession, api: Api): StructType =
    rowTypes.computeIfAbsent(api, _ =>
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), GroupedRead.Schema)
        .select(unifiedRows(api)).schema.head.dataType
        .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType])

  /** The group verdicts of one [[pipeline]] call: its `ok` and `dead`
    * frames over one frame of group rows `(pk, files, rows, error)`,
    * plus the dead-letter lines observed by the last write of `ok` that
    * returned. */
  private final class Verdicts(groups: DataFrame, rowType: StructType) {
    private def okRows(g: DataFrame): DataFrame =
      g.select(inline(when(col("error").isNull, transform(col("rows"),
        r => struct(Enforce.enforced(rowType, SchemaRegistry.v1.fields, r.getField): _*)))))

    val ok: DataFrame = okRows(groups)
    val dead: DataFrame = groups.filter(col("error").isNotNull)
      .select(col("pk"), col("error"), col("files"))
    // `Enforce.deadLetterJson(dead, "pk")`'s line on a failed group's
    // row, null on every other row
    private val line = when(col("error").isNotNull,
      to_json(struct(col("pk").as("PK"), col("files"), col("error"))))
    @volatile private var observed: Option[Observation] = None

    def writeOk(write: DataFrame => Unit): Unit = {
      val o = Observation()
      write(okRows(groups.observe(o, collect_list(line).as("lines"))))
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
    * whose `CollectMetrics` node between the group rows and the ok
    * rows' `inline` gathers every failed group's dead-letter line in
    * the same pass. `write` must run one complete action (a sink write): a
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
