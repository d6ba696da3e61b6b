package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.types.StructType

/** Exactly-once INCREMENTAL file ingestion over a growing staged tree —
  * the continuous-ingestion staple of a training-data pipeline (new
  * shards land hourly; each must be processed exactly once, and a
  * crashed run must be replayable without double-ingesting). Knowing
  * which files are new is metadata work, so the ledger is kept on the
  * driver, as Spark's own streaming metadata logs are
  * (`FileStreamSourceLog` over `CheckpointFileManager`), and none of
  * its operations submits a Spark job:
  *
  *  - `newFiles(run)` = the current listing minus the paths the ledger
  *    folds to OTHER runs — a re-run of the same `runId` sees its own
  *    prior commit excluded, so it re-selects exactly the same file set
  *    (replay idempotence, the dedupBatch/lateBatch architecture:
  *    overwrite your own partition, read excluding yourself). The
  *    result is an immutable local-relation SNAPSHOT taken when
  *    `newFiles` returns: a file staged after the call is not in it, so
  *    it is neither processed nor committed by this run and stays new
  *    for the next one;
  *  - `commit(run, files)` atomically replaces the ledger partition
  *    `run=<runId>` with one JSON-lines file of the snapshot's paths —
  *    committing twice is a no-op, and a crash between process and
  *    commit re-processes only that run's files. A crash DURING commit
  *    leaves only a hidden temp file, so the ledger reads as before.
  *
  * Scale shape: the listing (one `globStatus` plus one `listStatus` per
  * matched directory) and the ledger read (one small file per run) run
  * on the driver and grow with the staged history; the snapshot is a
  * driver-side relation that grows with the run. Nothing re-reads the
  * processed corpus's bodies.
  */
object FileLedger {

  private val LedgerSchema = StructType.fromDDL("path STRING, run BIGINT")
  private val ListingSchema = StructType.fromDDL("path STRING, n_bytes BIGINT")
  private val CommitFile = "paths.jsonl"
  private val RunDir = "run=(-?\\d+)".r
  private val Json = new ObjectMapper()

  /** Spark's hidden-file rule for file sources (`HadoopFSUtils.
    * shouldFilterOutPathName` plus the file index's data-path check):
    * `_`/`.` prefixes (a `_` name holding `=` is a partition value)
    * and in-flight `._COPYING_` copies. */
  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_"))

  private def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The distinct processed paths with the run that first ingested
    * each (min run id — duplicate commits across runs fold away).
    * Entries named with `_` or `.` are skipped, so a ledger dir holding
    * only crash debris (`run=1/_temporary`, an interrupted commit's
    * temp file) reads as the state before that commit. */
  private def folded(spark: SparkSession, ledgerDir: String): Map[String, Long] = {
    val root = new Path(ledgerDir)
    val fs = fsOf(spark, root)
    def visibleIn(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filter(s => visible(s.getPath.getName))
    def paths(file: Path): List[String] = {
      val in = fs.open(file)
      try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).getLines()
        .filter(_.nonEmpty).map(Json.readTree(_).get("path").asText()).toList
      finally in.close()
    }
    val entries = if (!fs.exists(root)) Seq.empty else for {
      d <- visibleIn(root) if d.isDirectory
      RunDir(run) <- Seq(d.getPath.getName)
      f <- visibleIn(d.getPath) if f.isFile
      path <- paths(f.getPath)
    } yield path -> run.toLong
    entries.groupMapReduce(_._1)(_._2)(math.min)
  }

  /** The ledger as a `(path, run)` frame: each processed path with the
    * run that first ingested it (see `folded`). */
  def ledger(spark: SparkSession, ledgerDir: String): DataFrame =
    frame(spark, LedgerSchema, folded(spark, ledgerDir).toSeq.map { case (p, r) => Row(p, r) })

  /** The files under `glob` as `binaryFile` lists them: every visible,
    * non-empty match, and the visible files directly inside a matched
    * directory, each as its qualified path string (byte-identical to
    * `binaryFile`'s `path` column) with its length. */
  private def listed(spark: SparkSession, glob: String): Seq[(String, Long)] = {
    val pattern = new Path(glob)
    val fs = fsOf(spark, pattern)
    Option(fs.globStatus(pattern)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filter(_.isFile) else Seq(s))
      .filter(s => visible(s.getPath.getName) && s.getLen > 0)
      .map(s => fs.makeQualified(s.getPath).toString -> s.getLen)
  }

  /** Listing of `glob` as (path, n_bytes), read on the driver: a poll
    * window that matches NO files is an ordinary continuous-ingestion
    * state, so an empty glob is an empty frame, never an error; any
    * other I/O error surfaces. Bodies are NOT read. */
  def listing(spark: SparkSession, glob: String): DataFrame =
    frame(spark, ListingSchema, listed(spark, glob).map { case (p, n) => Row(p, n) })

  /** Files under `glob` not yet committed by any OTHER run: the set
    * this `runId` must process, as a snapshot of the listing taken
    * now (see the class doc). */
  def newFiles(spark: SparkSession, glob: String, ledgerDir: String,
      runId: Long): DataFrame = {
    val done = folded(spark, ledgerDir).collect { case (p, r) if r != runId => p }.toSet
    frame(spark, ListingSchema,
      listed(spark, glob).collect { case (p, n) if !done(p) => Row(p, n) })
  }

  /** Commit this run's processed file set: atomically replace the
    * ledger partition `run=<runId>` (idempotent — a replayed commit
    * rewrites identical content; other runs' partitions are
    * untouched). Each path is one JSON line, so any name round-trips. */
  def commit(spark: SparkSession, files: DataFrame, ledgerDir: String,
      runId: Long): Unit = {
    val paths = files.select("path").collect().map(_.getString(0))
    val dir = new Path(s"$ledgerDir/run=$runId")
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    fm.mkdirs(dir)
    val out = fm.createAtomic(new Path(dir, CommitFile), overwriteIfPossible = true)
    try {
      paths.foreach { p =>
        out.write(Json.writeValueAsBytes(Json.createObjectNode().put("path", p)))
        out.write('\n')
      }
      out.close()
    } catch { case e: Throwable => out.cancel(); throw e }
    // whatever else a former commit of this run left is overwritten
    fm.list(dir).map(_.getPath)
      .filter(p => visible(p.getName) && p.getName != CommitFile).foreach(fm.delete)
  }
}
