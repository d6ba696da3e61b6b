package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-source normalizers: nested API-shaped JSON → the unified
  * team-season schema (SURVEY.md §2.3 P2-P8, §2.5 J1/J2; reference
  * `transforms.py:19-132`).
  *
  * Spark-first re-design of the reference's per-group DoFn: instead of
  * GroupByKey → python loop over each (season, league) group
  * (`pipeline.py:37-43`), every staged file is read into one
  * DataFrame, rows carry their group key (`pk`, recovered from the
  * file path — §2.3 P1), and the per-group build-dict/probe hash join
  * (`transforms.py:32-37,89-94`) becomes ONE distributed equi-join on
  * `(pk, team_id)`. Semantics are identical (probe misses drop = inner
  * join, ref P9) but the plan scales: at 100 TB the join shuffles by
  * key instead of materializing per-group dicts, and Catalyst
  * broadcasts the smaller side automatically (teams ≈ 20 rows/group).
  */
object Normalize {

  /** S3+S4: read one endpoint's staged JSON documents (top-level array
    * or object per file), tagging each row with its source path and
    * group pk. `multiLine` handles pretty-printed payloads; corrupt
    * documents surface in `_corrupt_record` rather than failing the
    * job (→ dead-letter, ref `transforms.py:167-169`). */
  def readStaged(spark: SparkSession, glob: String): DataFrame =
    spark.read
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(glob)
      .withColumn("src_path", input_file_name())
      .withColumn("pk", Paths.extractPk(input_file_name()))

  // try_cast, not cast: Spark 4 defaults ANSI on, where a plain cast of
  // a malformed numeric string throws and kills the stage — the
  // reference diverts the group instead (dead-letter). try_cast nulls,
  // and Enforce routes the null/required/cast checks to the dead side.
  private def l(c: Column): Column = c.try_cast("long")

  /** Reconcile inferred payload columns with the expected shape so the
    * normalizer plan ALWAYS resolves and bad payloads flow to the
    * dead-letter path instead of failing analysis:
    *  - column missing entirely (corrupt/empty file) → typed nulls;
    *  - column present with a DIFFERENT inferred type (an empty
    *    `"response": []` infers array<string>; a sparse payload infers
    *    a subset struct) → re-read through from_json(to_json(...)),
    *    which null-fills absent nested fields exactly like the
    *    reference's dict .get chains and empties mistyped payloads;
    *  - scalar-typed where a scalar is expected → try_cast. */
  private def pad(df: DataFrame, cols: (String, String)*): DataFrame = {
    import org.apache.spark.sql.types._
    def complex(t: DataType): Boolean = t match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _ => false
    }
    cols.foldLeft(df) { case (d, (name, typ)) =>
      val target = DataType.fromDDL(typ)
      if (!d.columns.contains(name)) d.withColumn(name, lit(null).cast(typ))
      else {
        val actual = d.schema(name).dataType
        if (actual == target) d
        else (actual, target) match {
          case (StringType, t) if complex(t) =>
            d.withColumn(name, from_json(col(name), t))
          case (a, t) if complex(a) && complex(t) =>
            d.withColumn(name, from_json(to_json(col(name)), t))
          case (_, t) if complex(t) =>
            d.withColumn(name, lit(null).cast(typ))
          case _ =>
            d.withColumn(name, col(name).try_cast(typ))
        }
      }
    }
  }

  /** API-Football (ref `transforms.py:19-72`): flat string-typed
    * payloads; join standings⋈teams on team id within each pk group;
    * rank/points/played/W/D/L renames; GF/GA default 0 on missing
    * (P4); goal_difference computed (P5); season from the path pk
    * (P7). Both inputs must carry a `pk` column (from readStaged). */
  def apiFootball(teamsRaw: DataFrame, standingsRaw: DataFrame): DataFrame = {
    val teams = pad(teamsRaw,
      "team_key" -> "string", "team_country" -> "string",
      "venue" -> "struct<venue_name:string,venue_city:string>")
    val standings = pad(standingsRaw,
      "team_id" -> "string", "team_name" -> "string", "league_id" -> "string",
      "league_name" -> "string", "overall_league_position" -> "string",
      "overall_league_PTS" -> "string", "overall_league_payed" -> "string",
      "overall_league_W" -> "string", "overall_league_D" -> "string",
      "overall_league_L" -> "string", "overall_league_GF" -> "string",
      "overall_league_GA" -> "string", "overall_league_form" -> "string")
    val t = teams.select(
      col("pk").as("t_pk"), col("team_key"),
      col("team_country").as("t_country"),
      col("venue.venue_name").as("t_venue_name"),
      col("venue.venue_city").as("t_venue_city"))
    val s = standings
    // no broadcast HINT: teams are ~20 rows per group but the frame
    // spans EVERY group in the staged root, so its size scales with
    // the corpus — a forced broadcast is a driver-OOM bet at 100 TB.
    // AQE converts to a broadcast join at runtime when the side is
    // actually small (every harness run), and keeps the co-shuffled
    // join when it is not. Same J1 semantics either way.
    s.join(t,
        s("pk") === t("t_pk") && s("team_id") === t("team_key"), "inner")
      .select(
        // the TRUE group key rides along (pruned by enforcement):
        // re-deriving it from the row pk is lossy when team_id itself
        // contains a '-'
        col("pk").as("_group_pk"),
        concat_ws("-", col("pk"), col("team_id")).as("pk"),
        col("team_id").cast("string").as("team_id"),
        col("team_name").cast("string").as("team_name"),
        col("t_country").cast("string").as("team_country"),
        col("league_id").cast("string").as("league_id"),
        col("league_name").cast("string").as("league_name"),
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
        col("overall_league_position").cast("string").as("rank"),
        col("overall_league_PTS").cast("string").as("points"),
        col("overall_league_payed").cast("string").as("games_played"), // [sic] upstream field name
        col("overall_league_W").cast("string").as("wins"),
        col("overall_league_D").cast("string").as("draws"),
        col("overall_league_L").cast("string").as("losses"),
        coalesce(col("overall_league_GF").cast("string"), lit("0")).as("goals_for"),
        coalesce(col("overall_league_GA").cast("string"), lit("0")).as("goals_against"),
        (coalesce(l(col("overall_league_GF")), lit(0L)) -
          coalesce(l(col("overall_league_GA")), lit(0L))).as("goal_difference"),
        col("overall_league_form").cast("string").as("form"),
        col("t_venue_name").cast("string").as("venue_name"),
        col("t_venue_city").cast("string").as("venue_city"),
        lit(null).cast("timestamp").as("update_timestamp"),
        lit("1").as("schema_version"))
  }

  /** API-Sports (ref `transforms.py:75-126`): nested payloads. The
    * standings file's rows live at `response[0].league.standings[0]`
    * with a 1-row league header applied to every output row (the
    * reference's implicit cross-join to the header, §2.5 J2) — here
    * the header fields ride along the exploded rows, no join needed.
    * Teams wrap rows in a `response` array. */
  def apiSports(teamsRaw0: DataFrame, standingsRaw0: DataFrame): DataFrame = {
    val teamsRaw = pad(teamsRaw0, "response" ->
      "array<struct<team:struct<id:bigint,name:string,country:string>,venue:struct<name:string,city:string>>>")
    val standingsRaw = pad(standingsRaw0, "response" ->
      ("array<struct<league:struct<id:bigint,name:string,season:bigint," +
        "standings:array<array<struct<rank:bigint,team:struct<id:bigint,name:string>," +
        "points:bigint,goalsDiff:bigint,form:string," +
        "all:struct<played:bigint,win:bigint,draw:bigint,lose:bigint," +
        "goals:struct<`for`:bigint,against:bigint>>>>>>>>"))
    val t = teamsRaw
      .select(col("pk").as("t_pk"), explode(col("response")).as("r"))
      .select(
        col("t_pk"),
        col("r.team.id").cast("long").as("t_team_id"),
        col("r.team.country").as("t_country"),
        col("r.venue.name").as("t_venue_name"),
        col("r.venue.city").as("t_venue_city"))
    // try_element_at, NOT element_at: Spark 4 defaults ANSI on, where
    // element_at on an EMPTY response array throws and kills the whole
    // job — the reference raises ValueError and diverts only that
    // group (transforms.py:83-87); with try_element_at the empty
    // payload yields no rows and the group dead-letters as
    // empty_or_unjoinable downstream
    val header = standingsRaw.select(
      col("pk"), try_element_at(col("response"), lit(1)).getField("league").as("league"))
    val rows = header.select(
      col("pk"),
      col("league.id").cast("string").as("league_id"),
      col("league.name").cast("string").as("league_name"),
      col("league.season").cast("long").as("season"),
      explode(try_element_at(col("league.standings"), lit(1))).as("standing"))
    // unhinted for the same reason as apiFootball's teams join: the
    // teams frame scales with the staged corpus, AQE broadcasts it
    // exactly when it is small
    rows.join(t,
        rows("pk") === t("t_pk") && rows("standing.team.id") === t("t_team_id"), "inner")
      .select(
        col("pk").as("_group_pk"),
        concat_ws("-", col("pk"), col("standing.team.id")).as("pk"),
        col("standing.team.id").cast("string").as("team_id"),
        col("standing.team.name").cast("string").as("team_name"),
        col("t_country").cast("string").as("team_country"),
        col("league_id"), col("league_name"), col("season"),
        l(col("standing.rank")).as("rank"),
        l(col("standing.points")).as("points"),
        l(col("standing.all.played")).as("games_played"),
        l(col("standing.all.win")).as("wins"),
        l(col("standing.all.draw")).as("draws"),
        l(col("standing.all.lose")).as("losses"),
        coalesce(l(col("standing.all.goals.for")), lit(0L)).as("goals_for"),
        coalesce(l(col("standing.all.goals.against")), lit(0L)).as("goals_against"),
        l(col("standing.goalsDiff")).as("goal_difference"), // source value verbatim (ref transforms.py:118)
        col("standing.form").cast("string").as("form"),
        col("t_venue_name").cast("string").as("venue_name"),
        col("t_venue_city").cast("string").as("venue_city"),
        lit(null).cast("timestamp").as("update_timestamp"),
        lit("1").as("schema_version"))
  }

  /** E3 dispatch (ref `transforms.py:129-132`): api name → normalizer;
    * unknown name fails fast at construction. */
  val transformMap: Map[String, (DataFrame, DataFrame) => DataFrame] = Map(
    "apifootball" -> apiFootball _,
    "apisports" -> apiSports _)

  def normalizer(apiName: String): (DataFrame, DataFrame) => DataFrame =
    transformMap.getOrElse(apiName,
      throw new IllegalArgumentException(s"Unknown api_name $apiName"))

  /** Full staged-dir pipeline for one API: route files by endpoint
    * path substring (S4, ref `transforms.py:163-166`), normalize,
    * enforce the unified schema, split dead letters at the
    * (season, league) GROUP granularity exactly like the reference
    * (ref `transforms.py:149-184`: any failure inside a group diverts
    * the whole group). Each staged group gets one verdict, in this
    * order of precedence:
    *  - unparseable staged document → its group dead-letters
    *    (`error=corrupt_input`, ref `transforms.py:167-169`);
    *  - a group present in the inputs that produces NO unified rows
    *    (empty payload / nothing joinable) → dead-letters
    *    (`error=empty_or_unjoinable_group`, ref `transforms.py:26-27,
    *    78-87` P10 presence checks);
    *  - any enforcement failure → the row's whole group dead-letters
    *    (`error=enforcement_failure`).
    *
    * Returns (ok, dead): `dead` has one (pk, error, files) row per
    * failed group, feedable to `Sinks.writeDeadLetter`.
    *
    * One pass, like the reference's tagged multi-output ParDo: the
    * corrupt-group set and the group-tagged enforced frame
    * ([[Enforce.tagByGroup]]) are pinned through `graft.Caches`, `ok`
    * is a filter of the tagged pin, and `dead` is ONE verdict join of
    * the per-group file list with the corrupt flag and the tagged
    * pin's per-group error — so writing `ok` then `dead` normalizes,
    * probes and enforces each staged file once, not once per output.
    * Both frames are valid until `Caches.releaseAll`. Scale: the
    * verdict inputs are per-group rows (tiny), joined distributed — no
    * driver collection. */
  def pipeline(spark: SparkSession, root: String, apiName: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{StringType, StructField, StructType}

    def emptyPks(cols: String*): DataFrame =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(cols.map(StructField(_, StringType))))

    // the reference's unit of input is ONE document per (group,
    // endpoint) per run (its per-group loop overwrites teams_data /
    // standings_data per file, transforms.py:158-166); a staged root
    // accumulates files across runs, so only the latest run file per
    // endpoint directory participates — otherwise two runs would join
    // 2x teams against 2x standings and emit every row 4 times
    def latestOnly(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(regexp_replace(col("src_path"), "/[^/]*$", ""))
      df.withColumn("_last", max(col("src_path")).over(w))
        .filter(col("src_path") === col("_last")).drop("_last")
    }

    // not pinned: the normalizer is their only consumer, and its
    // output is pinned below as the tagged frame. `_corrupt_record` is
    // dropped: for a fully-corrupt file it is the only column, which
    // Spark refuses to query off a JSON scan
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN). Whole-file corruption is
    // detected by the text parse probe below instead.
    // A glob matching NO files must behave as an empty input, not a
    // PATH_NOT_FOUND job failure.
    def staged(glob: String): DataFrame =
      try {
        val df = readStaged(spark, glob)
        latestOnly(
          if (df.columns.contains("_corrupt_record")) df.drop("_corrupt_record") else df)
      } catch {
        case _: org.apache.spark.sql.AnalysisException => emptyPks("src_path", "pk")
      }
    val teams = staged(s"$root/*/*/teams/*.json")
    val standings = staged(s"$root/*/*/standings/*.json")

    // corrupt-document detection: whole-file text read + parse probe
    // (get_json_object of the root returns null for unparseable docs).
    // Spark disallows querying only `_corrupt_record` off a JSON scan,
    // and a per-file verdict is what the reference's per-group read
    // failure maps to anyway (ref transforms.py:158-169).
    def corruptPks(glob: String): DataFrame =
      try spark.read.option("wholetext", "true").text(glob)
        .select(Paths.extractPk(input_file_name()).as("pk"), col("value"))
        .filter(get_json_object(col("value"), "$").isNull)
        .select(col("pk")).distinct()
      catch { case _: org.apache.spark.sql.AnalysisException => emptyPks("pk") }
    val corrupt = graft.Caches.pin(corruptPks(s"$root/*/*/teams/*.json")
      .unionByName(corruptPks(s"$root/*/*/standings/*.json")).distinct())

    // every group the staged FILES mention — derived from the file
    // listing, not from parsed rows: a file whose payload parses to
    // zero rows (an empty API response staged verbatim) must still be
    // accounted between ok and dead, exactly like the reference keys
    // groups from paths before reading them (pipeline.py:38-39)
    def fileList(glob: String): DataFrame =
      try spark.read.format("binaryFile").load(glob)
        .select(Paths.extractPk(col("path")).as("pk"), col("path"))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        emptyPks("pk", "path") }
    // per-group staged-file provenance for the dead-letter records
    // (ref transforms.py:184 carries the group's file list)
    val filesPerGroup = fileList(s"$root/*/*/teams/*.json")
      .unionByName(fileList(s"$root/*/*/standings/*.json"))
      .groupBy(col("pk"))
      .agg(sort_array(collect_list(col("path"))).as("files"))

    // normalizers carry the TRUE group key through as _group_pk
    // (enforcement prunes it from ok); corrupt groups are quarantined
    // BEFORE enforcement so their rows reach neither output
    val unified = normalizer(apiName)(teams, standings)
    val clean = unified.join(
      corrupt.select(col("pk").as("_bad")),
      col("_group_pk") === col("_bad"), "left_anti")
    val tagged = graft.Caches.pin(
      Enforce.tagByGroup(clean, SchemaRegistry.v1.fields, "_group_pk"))
    val ok = Enforce.okGroups(tagged, SchemaRegistry.v1.fields)

    // one row per group that produced unified rows; `group_error` is
    // null exactly for the clean ones
    val produced = tagged.groupBy(col("_group_pk").as("pk"))
      .agg(max(col("group_error")).as("group_error"))
      .withColumn("_produced", lit(true))
    val dead = filesPerGroup
      .join(corrupt.withColumn("_corrupt", lit(true)), Seq("pk"), "left")
      .join(produced, Seq("pk"), "left")
      .select(col("pk"),
        when(col("_corrupt").isNotNull, lit("corrupt_input"))
          .when(col("_produced").isNull, lit("empty_or_unjoinable_group"))
          .when(col("group_error").isNotNull, lit("enforcement_failure"))
          .as("error"),
        col("files"))
      .filter(col("error").isNotNull)
    (ok, dead)
  }
}
