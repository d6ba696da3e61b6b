package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._

import graft.engine.{ForkFreeRawLocalFileSystem, Normalize, Sinks, Staging}
import graft.sources.FileLedger

/** The ETL path's file writes on local paths start no operating-system
  * process (`engine/LocalFs`), and still leave what Hadoop's default
  * local file system leaves: the same permission bits, `.crc`
  * sidecars, and an atomic dead-letter and ledger commit. Process
  * starts are counted in-process with JFR's `jdk.ProcessStart`. */
class LocalFsSpec extends SparkSpec {

  /** Run the `rm -rf` of every artifact directory whose session is
    * already garbage now, not inside a recorded window. Spark's
    * `ArtifactManager` deletes a collected session's directory from its
    * own JDK `Cleaner` thread, whenever a GC finds the session dead, and
    * suites that ran earlier in this JVM leave such sessions behind.
    * Collect, wait until a sentinel registered with the same cleaner
    * has run, then until that thread waits on its queue again: the queue
    * is empty, so every pending deletion has finished. */
  private def settleArtifactCleanups(): Unit = {
    val manager = Class.forName("org.apache.spark.sql.artifact.ArtifactManager$")
    val cleaner = manager.getMethod("org$apache$spark$sql$artifact$ArtifactManager$$cleaner")
      .invoke(manager.getField("MODULE$").get(null)).asInstanceOf[java.lang.ref.Cleaner]
    val worker = new java.util.concurrent.CompletableFuture[Thread]
    cleaner.register(new Object, () => { worker.complete(Thread.currentThread()); () })
    System.gc()
    val thread = worker.get(60, java.util.concurrent.TimeUnit.SECONDS)
    def waitingOnQueue: Boolean = thread.getState != Thread.State.RUNNABLE &&
      thread.getStackTrace.exists(f => f.getClassName == "java.lang.ref.ReferenceQueue" && f.getMethodName == "remove")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    // twice, 20 ms apart: a reference enqueued just after the sentinel
    // wakes the thread again
    while (!(waitingOnQueue && { Thread.sleep(20); waitingOnQueue })) {
      assert(System.nanoTime() < deadline, "the artifact cleaner did not go idle")
      Thread.sleep(5)
    }
  }

  /** Run `body`, failing if it started any process (the JFR
    * `jdk.ProcessStart` events recorded while it ran). */
  private def forkFree[A](body: => A): A = {
    // Spark's first heartbeat runs `getconf PAGESIZE` once per JVM, in
    // this object's initializer: run it before recording, not within
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    settleArtifactCleanups()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    val starts = try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
    } finally { rec.close(); Files.deleteIfExists(dump) }
    // the command and its caller's frames, below the process plumbing
    def show(e: RecordedEvent): String =
      e.getString("command") + e.getStackTrace.getFrames.asScala.map { f =>
        s"${f.getMethod.getType.getName}.${f.getMethod.getName}"
      }.dropWhile(f => f.startsWith("java.lang.") || f.startsWith("org.apache.hadoop.util.Shell"))
        .take(15).mkString("\n    ", "\n    ", "")
    assert(starts.size == 0, s"processes started:\n${starts.take(5).map(show).mkString("\n")}")
    out
  }

  private val teams =
    """[{"team_key": "1", "team_name": "A", "team_country": "X",
      |  "venue": {"venue_name": "V", "venue_city": "C"}}]""".stripMargin
  private def standings(league: Int) =
    s"""[{"team_id": "1", "team_name": "A", "league_id": "$league",
       |  "league_name": "L", "overall_league_position": "1",
       |  "overall_league_PTS": "10", "overall_league_payed": "4",
       |  "overall_league_W": "3", "overall_league_D": "1", "overall_league_L": "0",
       |  "overall_league_GF": "9", "overall_league_GA": "2",
       |  "overall_league_form": "WWWD"}]""".stripMargin

  /** One API-day as the daily job runs it: stage a healthy league and
    * a truncated one, list the new files, normalize, upsert, write the
    * dead letters and commit the ledger. */
  private def day(base: String, runId: Long, league: Int): Unit = {
    val stage = s"$base/stage/day_$runId"
    Staging.stageAll(s"$stage/apifootball", s"run_$runId", Seq(
      (2023, league, "teams", () => teams),
      (2023, league, "standings", () => standings(league)),
      (2023, league + 1, "teams", () => teams),
      (2023, league + 1, "standings", () => """[{"team_id": "1", "team_na""")))
    val fresh = FileLedger.newFiles(spark, s"$base/stage/*/*/*/*/*/*.json", s"$base/ledger", runId)
    assert(fresh.count() == 4L)
    val (ok, dead) = Normalize.pipeline(spark, s"$stage/apifootball", "apifootball")
    Sinks.writeUnifiedUpsert(ok, s"$base/table", "apifootball")
    Sinks.writeDeadLetter(dead, "pk", s"$base/dead/day_$runId")
    FileLedger.commit(spark, fresh, s"$base/ledger", runId)
    Caches.releaseAll()
  }

  private def tree(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.toList finally walk.close()
  }

  private def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a warm API-day on local paths starts no process") {
    val base = Files.createTempDirectory("graft_forkfree_day").toString
    day(base, 1L, 10)
    forkFree { day(base, 2L, 20) }
    val table = spark.read.parquet(s"$base/table/teams_apifootball")
    assert(table.select("league_id").distinct().as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq == Seq("10", "20"))
    assert(Files.readString(Paths.get(s"$base/dead/day_2/part-00000.json")).contains("2023-21"))
    assert(FileLedger.ledger(spark, s"$base/ledger").count() == 8L)
  }

  test("sink and dead-letter writes set the permission bits of Hadoop's default local file system") {
    val (ok, dead) = Normalize.pipeline(spark, s"$stagedRoot/apifootball", "apifootball")
    val forkFreeOut = Files.createTempDirectory("graft_perm_forkfree").toString
    val defaultOut = Files.createTempDirectory("graft_perm_default").toString
    Sinks.writeUnifiedUpsert(ok, forkFreeOut, "apifootball") // warm
    forkFree {
      Sinks.writeUnifiedUpsert(ok, forkFreeOut, "apifootball")
      Sinks.writeDeadLetter(dead, "pk", s"$forkFreeOut/dead")
    }
    // the same writes through the session's own Hadoop conf
    ok.withColumn("update_timestamp", current_timestamp())
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("season", "league_id").parquet(s"$defaultOut/teams_apifootball")
    val dir = new HPath(s"$defaultOut/dead")
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    fm.mkdirs(dir)
    val out = fm.createAtomic(new HPath(dir, "part-00000.json"), overwriteIfPossible = true)
    out.write("{}\n".getBytes("UTF-8"))
    out.close()
    Caches.releaseAll()

    def modes(root: String): Set[(Boolean, String)] =
      tree(root).filterNot(_.toString == root).map(p => Files.isDirectory(p) -> mode(p)).toSet
    assert(modes(forkFreeOut).size >= 2, modes(forkFreeOut))
    assert(modes(forkFreeOut) == modes(defaultOut))
  }

  test("sink and ledger writes still leave a .crc sidecar beside every file") {
    val (ok, dead) = Normalize.pipeline(spark, s"$stagedRoot/apifootball", "apifootball")
    val out = Files.createTempDirectory("graft_crc").toString
    Sinks.writeUnified(ok, out, "apifootball") // warm
    forkFree {
      Sinks.writeUnified(ok, out, "apifootball")
      Sinks.writeDeadLetter(dead, "pk", s"$out/dead")
      FileLedger.commit(spark, spark.createDataFrame(Seq(Tuple1("file:/x.json"))).toDF("path"),
        s"$out/ledger", 1L)
    }
    Caches.releaseAll()
    val files = tree(out).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
    val names = files.map(_.getFileName.toString)
    assert(names.count(_.endsWith(".parquet")) >= 1 &&
      names.contains("part-00000.json") && names.contains("paths.jsonl"), names)
    val missing = files.filterNot(p => Files.exists(p.resolveSibling(s".${p.getFileName}.crc")))
    assert(missing.isEmpty, missing.mkString(", "))
    assert(spark.read.parquet(s"$out/teams_apifootball").count() == 2L)
  }

  test("a replayed ledger commit rewrites identical bytes and leaves no temp file") {
    val led = Files.createTempDirectory("graft_ledger_replay").toString
    val files = spark.createDataFrame(Seq(Tuple1("file:/s/a.json"), Tuple1("file:/s/b b.json")))
      .toDF("path")
    val runDir = Paths.get(led, "run=7")
    def snapshot(): Map[String, Seq[Byte]] =
      Files.list(runDir).iterator().asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    FileLedger.commit(spark, files, led, 7L)
    val first = snapshot()
    forkFree { FileLedger.commit(spark, files, led, 7L) }
    assert(snapshot() == first)
    assert(first.keySet == Set("paths.jsonl", ".paths.jsonl.crc"), first.keySet)
  }

  test("a staged-json write starts no process") {
    val rows = spark.createDataFrame(Seq((2023L, 1L, "teams", "a.json", """[{"team_key":"2"}]"""),
      (2023L, 2L, "standings", "b.json", "[]"))).toDF("season", "league", "endpoint", "path", "body")
    val out = Files.createTempDirectory("graft_staged_forkfree").toString
    rows.write.format("staged-json").mode("append").save(out) // warm
    forkFree { rows.write.format("staged-json").mode("overwrite").save(out) }
    assert(spark.read.format("staged-json").load(out).count() == 2L)
  }

  test("a symbolic link still reports as a link") {
    val dir = Files.createTempDirectory("graft_link")
    val target = Files.writeString(dir.resolve("target.json"), "{}")
    val link = Files.createSymbolicLink(dir.resolve("link.json"), target)
    val fs = new ForkFreeRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.getFileLinkStatus(new HPath(link.toString)).isSymlink)
    assert(!fs.getFileLinkStatus(new HPath(target.toString)).isSymlink)
  }

  private lazy val stagedRoot: String = {
    val root = Files.createTempDirectory("graft_forkfree_staged").toString
    Staging.stageAll(s"$root/apifootball", "run_1", Seq(
      (2023, 153, "teams", () => teams), (2023, 153, "standings", () => standings(153)),
      (2023, 154, "teams", () => teams), (2023, 154, "standings", () => standings(154))))
    root
  }
}
