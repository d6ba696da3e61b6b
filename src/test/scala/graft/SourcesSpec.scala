package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{StagedFilePartition, StagedJsonReaderFactory, StagedJsonSource}

/** The DSv2 staged-JSON connector: file-level partition pruning from
  * pushed filters, payload-IO column pruning, worker-side reads. */
class SourcesSpec extends SparkSpec {

  private def write(root: String, rel: String, content: String): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft_staged").toString
    write(dir, "api/season_2022/league_1/teams/run_1.json", """[{"team_key":"1"}]""")
    write(dir, "api/season_2023/league_1/teams/run_1.json", """[{"team_key":"2"}]""")
    write(dir, "api/season_2023/league_2/standings/run_1.json", """[{"team_id":"3"}]""")
    write(dir, "api/README.txt", "not a staged file") // ignored by the path parser
    dir
  }

  private def load = spark.read.format("staged-json").load(root) // DataSourceRegister short name

  test("staged source reads the layout: path-derived columns + worker-side body") {
    val rows = load.select(col("season"), col("league"), col("endpoint"), col("body"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(rows == Seq(
      (2022L, 1L, "teams", """[{"team_key":"1"}]"""),
      (2023L, 1L, "teams", """[{"team_key":"2"}]"""),
      (2023L, 2L, "standings", """[{"team_id":"3"}]""")))
  }

  test("filters on path-derived columns prune WHOLE FILES at planning") {
    val q = load.filter(col("season") === 2023 && col("endpoint") === "teams")
    // one partition per surviving file: 1 of 3 staged files remains
    assert(q.rdd.getNumPartitions == 1, s"pruning did not happen: ${q.rdd.getNumPartitions}")
    val got = q.select(col("league")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScan in plan"))
    assert(scan.description().contains("EqualTo(season,2023)") &&
      scan.description().contains("EqualTo(endpoint,teams)"),
      s"filters not pushed: ${scan.description()}")
    // a body predicate is NOT pushable — it stays residual and the
    // result is still correct
    val mixed = load.filter(col("season") === 2023 && col("body").contains("team_id"))
      .select(col("league")).collect().map(_.getLong(0)).toSeq
    assert(mixed == Seq(2L))
  }

  test("metadata-only projection does ZERO payload IO (column pruning reaches the reader)") {
    // direct proof: a reader over a NONEXISTENT path succeeds when the
    // pruned schema omits `body` — any payload IO would throw
    val noBody = org.apache.spark.sql.types.StructType(
      StagedJsonSource.Schema.filterNot(_.name == "body"))
    val reader = new StagedJsonReaderFactory(noBody,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
      .createReader(StagedFilePartition("/nonexistent/season_1/x.json", 2023L, 7L, "teams"))
    assert(reader.next())
    val row = reader.get()
    assert(row.getLong(0) == 2023L && row.getLong(1) == 7L)
    assert(!reader.next())
    // and through the planner: the scan's read schema drops body
    val q = load.select(col("season"), col("league"))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScan in plan"))
    assert(!scan.description().contains("body"),
      s"read schema still contains body: ${scan.description()}")
  }

  test("staged WRITE: two-phase commit round-trips the layout; overwrite truncates; no staging debris") {
    val out = Files.createTempDirectory("graft_staged_out").toString
    // read → transform → write: the 2023 files land in a fresh root
    load.filter(col("season") === 2023)
      .write.format("staged-json").mode("append").save(out)
    val back = spark.read.format("staged-json").load(out)
      .select(col("season"), col("league"), col("endpoint"), col("body"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(back == Seq(
      (2023L, 1L, "teams", """[{"team_key":"2"}]"""),
      (2023L, 2L, "standings", """[{"team_id":"3"}]""")))
    // overwrite = WRITE_TRUNCATE: a second write of a DIFFERENT subset
    // replaces the layout's files instead of accumulating
    load.filter(col("season") === 2022)
      .write.format("staged-json").mode("overwrite").save(out)
    val after = spark.read.format("staged-json").load(out)
      .select(col("season")).collect().map(_.getLong(0)).toSeq
    assert(after == Seq(2022L), s"truncate left stale files: $after")
    // commit cleaned its staging directories
    val debris = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.contains(".staging-"))
    assert(debris.isEmpty, s"staging debris: ${debris.mkString(", ")}")
    // a write missing a required layout column fails at planning
    // (Spark's table-schema validation fires before the builder's own
    // guard — either way, nothing reaches the filesystem)
    val bad = intercept[Exception](
      spark.range(1).selectExpr("id AS season")
        .write.format("staged-json").mode("append").save(out))
    assert(bad.getMessage.contains("league"), bad.getMessage)
  }

  test("range and IN filters prune files; unpushable shapes stay residual without losing rows") {
    val ge = load.filter(col("season") >= 2023)
    assert(ge.rdd.getNumPartitions == 2 && ge.count() == 2)
    val in = load.filter(col("league").isin(2L, 9L))
    assert(in.rdd.getNumPartitions == 1 && in.count() == 1)
    // an OR across path columns is not a pushable shape — the full
    // file set is planned and Spark's residual filter still gets the
    // right answer
    val or = load.filter(col("season") === 2022 || col("league") === 2)
    assert(or.rdd.getNumPartitions == 3 && or.count() == 2)
  }

  test("filters with unevaluable values stay residual instead of failing the query") {
    // IN with a NULL element: file-level evaluation can't compare it,
    // so the filter must NOT be pushed — Spark's residual evaluation
    // still answers correctly (pre-fix this threw at planning)
    val withNull = load.filter(col("season").isInCollection(Seq(2023L, null)))
    assert(withNull.count() == 2)
    val scan = withNull.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScan in plan"))
    assert(!scan.description().contains("In(season"),
      s"null-valued IN was pushed: ${scan.description()}")
  }

  test("level-wise listing prunes whole subtrees: a refuted league dir is never listed") {
    // poison fixture: league_99 holds a DANGLING SYMLINK — any listing
    // of that subtree throws FileNotFoundException on the local fs, so
    // a query that answers correctly proves the subtree was never
    // walked (the listing cost itself is what pruning saves at scale)
    val dir = Files.createTempDirectory("graft_staged_poison").toString
    write(dir, "api/season_2023/league_1/teams/run_1.json", """[{"k":"1"}]""")
    Files.createDirectories(Paths.get(dir, "api/season_2023/league_99/teams"))
    Files.createSymbolicLink(
      Paths.get(dir, "api/season_2023/league_99/teams/run_1.json"),
      Paths.get(dir, "api/season_2023/league_99/teams/missing_target.json"))
    val pruned = spark.read.format("staged-json").load(dir)
      .filter(col("league") === 1)
    assert(pruned.select("season").collect().map(_.getLong(0)).toSeq == Seq(2023L))
    // season-level pruning likewise skips the poison
    val seasonPruned = spark.read.format("staged-json").load(dir)
      .filter(col("season") === 1999)
    assert(seasonPruned.count() == 0)
  }

  test("an endpoint directory named like season_N is walked as an endpoint, not season-filtered") {
    // structure beats name patterns: children of a league dir are
    // endpoint dirs by construction. Before the walk-order fix,
    // `season_2` here matched SeasonDirRe first, the season=2023
    // filter was evaluated against season_2's literal 2, and the
    // subtree was silently skipped — losing rows the exact file-level
    // check would have kept.
    val dir = Files.createTempDirectory("graft_trap").toString
    write(dir, "api/season_2023/league_1/season_2/run_1.json", """[{"k":"1"}]""")
    write(dir, "api/season_2023/league_1/teams/run_1.json", """[{"k":"2"}]""")
    val q = spark.read.format("staged-json").load(dir)
      .filter(col("season") === 2023)
    val eps = q.select(col("endpoint")).collect().map(_.getString(0)).sorted.toSeq
    assert(eps == Seq("season_2", "teams"),
      s"endpoint dir named season_2 was mis-pruned: got $eps")
    // and an endpoint filter still prunes it as an endpoint
    val only = spark.read.format("staged-json").load(dir)
      .filter(col("endpoint") === "teams")
    assert(only.rdd.getNumPartitions == 1)
  }

  test("files at non-standard nesting depth are still discovered") {
    // the layout regex allows any prefix depth; the level walk descends
    // through unrecognized dirs, so a wrapped tree keeps working
    val dir = Files.createTempDirectory("graft_staged_deep").toString
    write(dir, "mirror/v2/api/season_2024/league_3/teams/run_1.json", """[{"k":"9"}]""")
    val got = spark.read.format("staged-json").load(dir)
      .filter(col("season") === 2024)
      .select("season", "league", "endpoint")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((2024L, 3L, "teams")))
  }

  test("a root that does not exist yet is an empty table, not a planning error") {
    // ingestion pipelines plan against a landing dir the producer has
    // not created on the first run — same contract as the glob readers
    val ghost = Files.createTempDirectory("graft_staged_ghost").toString + "/never_created"
    val df = spark.read.format("staged-json").load(ghost)
    assert(df.count() == 0L)
    assert(df.filter(col("season") === 2024).count() == 0L)
  }

  test("staged source feeds the existing normalizer contract (season/league = pk parts)") {
    val pk = load.filter(col("endpoint") === "teams")
      .select(concat_ws("-", col("season"), col("league")).as("pk"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(pk == Seq("2022-1", "2023-1"))
  }

  test("CSV permissive read dead-letters malformed rows instead of failing (q79's format twin of E1)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv_dead").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/part.csv"),
      """id,qty,name
        |1,10,alpha
        |2,notanumber,beta
        |3,30,"gam,ma"
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("name", StringType),
      StructField("_corrupt_record", StringType)))
    val got = spark.read
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(dir)
      .collect().map(r => (r.getAs[Any]("id"), r.getAs[Any]("qty"),
        r.getAs[String]("name"), Option(r.getAs[String]("_corrupt_record")).isDefined))
    // good rows parse (incl. quoted embedded delimiter); the bad row
    // keeps its raw line in the dead-letter column with qty nulled
    assert(got.count(!_._4) == 2)
    val bad = got.filter(_._4)
    assert(bad.length == 1 && bad.head._2 == null)
  }

  test("file ledger: exactly-once across runs, replay-idempotent, crash-safe") {
    import graft.sources.FileLedger
    val root = java.nio.file.Files.createTempDirectory("graft_ledger").toString
    val (files, led) = (s"$root/files", s"$root/ledger")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(files))
    def put(name: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(files, name), s"content of $name")
      ()
    }
    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("path").collect()
        .map(_.getString(0).split('/').last).toSet
    val glob = s"$files/*.txt"
    // empty ledger dir, empty glob: both are empty inputs, not errors
    assert(FileLedger.newFiles(spark, glob, led, 1L).isEmpty)
    // crash during the FIRST-ever commit: ledger dir exists but holds
    // only _temporary debris (no readable parquet) — must read as an
    // EMPTY ledger, not a schema-inference error
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(led, "run=1", "_temporary"))
    assert(FileLedger.ledger(spark, led).isEmpty)
    put("a.txt"); put("b.txt")
    val run1 = FileLedger.newFiles(spark, glob, led, 1L)
    assert(names(run1) == Set("a.txt", "b.txt"))
    FileLedger.commit(spark, run1, led, 1L)
    // new arrivals: only c is new for run 2
    put("c.txt")
    val run2 = FileLedger.newFiles(spark, glob, led, 2L)
    assert(names(run2) == Set("c.txt"))
    FileLedger.commit(spark, run2, led, 2L)
    // REPLAY of run 2 after its own commit: own partition is excluded
    // from the read, so the same set re-selects — not zero, not double
    assert(names(FileLedger.newFiles(spark, glob, led, 2L)) == Set("c.txt"))
    // double-commit is a no-op on the ledger's fold (min run per path)
    FileLedger.commit(spark, FileLedger.newFiles(spark, glob, led, 2L), led, 2L)
    val folded = FileLedger.ledger(spark, led).collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(folded == Map("a.txt" -> 1L, "b.txt" -> 1L, "c.txt" -> 2L))
    // a fresh run with nothing new ingests nothing
    assert(FileLedger.newFiles(spark, glob, led, 3L).isEmpty)
    // crash BEFORE commit: run 4 lists d, dies, re-runs — d still there
    put("d.txt")
    assert(names(FileLedger.newFiles(spark, glob, led, 4L)) == Set("d.txt"))
    assert(names(FileLedger.newFiles(spark, glob, led, 4L)) == Set("d.txt"))
  }

  test("file ledger: a file staged between newFiles and commit stays new for the next run") {
    import graft.sources.FileLedger
    val root = Files.createTempDirectory("graft_ledger_late").toString
    val (files, led) = (s"$root/files", s"$root/ledger")
    Files.createDirectories(Paths.get(files))
    def put(name: String): Unit = {
      Files.writeString(Paths.get(files, name), s"content of $name")
      ()
    }
    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("path").collect().map(_.getString(0).split('/').last).toSet
    val glob = s"$files/*.txt"
    put("a.txt")
    val run1 = FileLedger.newFiles(spark, glob, led, 1L)
    // lands after run 1 listed its input: run 1 never processed it
    put("late.txt")
    assert(names(run1) == Set("a.txt"))
    FileLedger.commit(spark, run1, led, 1L)
    assert(names(FileLedger.ledger(spark, led)) == Set("a.txt"))
    assert(names(FileLedger.newFiles(spark, glob, led, 2L)) == Set("late.txt"))
  }

  // fixture for the driver-side ledger cases below: a files dir and a
  // ledger dir under a fresh temp root
  private def ledgerDirs(prefix: String): (String, String) = {
    val root = Files.createTempDirectory(prefix).toString
    Files.createDirectories(Paths.get(root, "files"))
    (s"$root/files", s"$root/ledger")
  }
  private def stageFile(dir: String, name: String): Unit = write(dir, name, s"content of $name")
  private def fileNames(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("path").collect().map(_.getString(0).split('/').last).toSet

  test("file ledger: newFiles and commit run on the driver and submit no Spark job") {
    import graft.sources.FileLedger
    val (files, led) = ledgerDirs("graft_ledger_jobs")
    val glob = s"$files/*.txt"
    stageFile(files, "a.txt"); stageFile(files, "b.txt")
    val (_, jobs) = PlanLint.constructionJobSites(spark, "ledger_jobs") {
      FileLedger.commit(spark, FileLedger.newFiles(spark, glob, led, 1L), led, 1L)
      stageFile(files, "c.txt")
      // run 2 reads run 1's commit back before it lists
      val run2 = FileLedger.newFiles(spark, glob, led, 2L)
      FileLedger.commit(spark, run2, led, 2L)
    }
    assert(jobs.isEmpty, jobs.mkString("; "))
    val folded = FileLedger.ledger(spark, led).collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(folded == Map("a.txt" -> 1L, "b.txt" -> 1L, "c.txt" -> 2L))
  }

  test("file ledger: listing equals binaryFile's (path, length), hidden names included") {
    import graft.sources.FileLedger
    val (files, _) = ledgerDirs("graft_ledger_listing")
    Seq("a b.json", "a+b.json", "a%b.json", "a%20b.json", "_x.json", ".x.json",
      "x.json._COPYING_", "sub.json/in.txt", "sub.json/_in.txt", "sub.json/deeper/d.txt")
      .foreach(stageFile(files, _))
    Files.createFile(Paths.get(files, "empty.json"))
    val glob = s"$files/*.json"
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = rows(spark.read.format("binaryFile").load(glob).select(col("path"), col("length")))
    // the four plain names and the matched directory's direct child
    assert(want.map(_._1.split('/').last) ==
      Set("a b.json", "a+b.json", "a%b.json", "a%20b.json", "in.txt"))
    assert(rows(FileLedger.listing(spark, glob)) == want)
  }

  test("file ledger: a commit interrupted mid-write leaves the previous ledger state") {
    import graft.sources.FileLedger
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    val (files, led) = ledgerDirs("graft_ledger_torn")
    val glob = s"$files/*.txt"
    stageFile(files, "a.txt")
    FileLedger.commit(spark, FileLedger.newFiles(spark, glob, led, 1L), led, 1L)
    stageFile(files, "b.txt")
    // run 2 dies inside its atomic write: only the temp file exists
    val dir = new Path(s"$led/run=2")
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    fm.mkdirs(dir)
    val out = fm.createAtomic(new Path(dir, "paths.jsonl"), overwriteIfPossible = true)
    try {
      out.write(s"""{"path":"file:$files/b.txt"}\n""".getBytes("UTF-8"))
      out.hflush()
      val left = Files.list(Paths.get(s"$led/run=2")).toArray.map(_.toString.split('/').last)
      assert(left.nonEmpty && left.forall(_.startsWith(".")), left.mkString(", "))
      assert(fileNames(FileLedger.ledger(spark, led)) == Set("a.txt"))
      assert(fileNames(FileLedger.newFiles(spark, glob, led, 2L)) == Set("b.txt"))
    } finally out.cancel()
  }

  test("file ledger: a path holding a newline round-trips through commit and ledger") {
    import graft.sources.FileLedger
    val (files, led) = ledgerDirs("graft_ledger_newline")
    val glob = s"$files/*.txt"
    stageFile(files, "two\nlines.txt"); stageFile(files, "plain.txt")
    val run1 = FileLedger.newFiles(spark, glob, led, 1L)
    val listed = run1.select("path").collect().map(_.getString(0)).toSet
    assert(listed.exists(_.endsWith("/two\nlines.txt")) && listed.size == 2)
    FileLedger.commit(spark, run1, led, 1L)
    assert(FileLedger.ledger(spark, led).select("path").collect().map(_.getString(0)).toSet == listed)
    assert(FileLedger.newFiles(spark, glob, led, 2L).isEmpty)
  }
}
