package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once INCREMENTAL file ingestion over a growing staged tree —
  * the continuous-ingestion staple of a training-data pipeline (new
  * shards land hourly; each must be processed exactly once, and a
  * crashed run must be replayable without double-ingesting). The same
  * contract cloud auto-ingest services implement, re-expressed as two
  * plain DataFrame joins over a parquet LEDGER:
  *
  *  - `newFiles(run)` = current listing ANTI-JOIN ledger rows of
  *    OTHER runs — a re-run of the same `runId` sees its own prior
  *    commit excluded, so it re-selects exactly the same file set
  *    (replay idempotence, the dedupBatch/lateBatch architecture:
  *    overwrite your own partition, read excluding yourself). The
  *    result is a SNAPSHOT taken when `newFiles` returns (a
  *    lineage-truncated local checkpoint via `graft.Caches`): a file
  *    staged after the call is not in it, so it is neither processed
  *    nor committed by this run and stays new for the next one;
  *  - `commit(run, files)` overwrites the ledger partition
  *    `run=<runId>` with exactly the snapshot's paths — committing
  *    twice is a no-op, and a crash between process and commit
  *    re-processes only that run's files.
  *
  * Scale shape: the ledger is a path-narrow parquet table partitioned
  * by run (bounded by files-ever-seen — millions of rows at 100 TB,
  * not data-scale); the listing is Spark's distributed file index
  * (`binaryFile` metadata-only scan — bodies are NOT read); the
  * anti-join is one skinny hash join. No driver-side file set, no
  * reprocessing scan of old data — cost per run is proportional to the
  * CURRENT listing, and the processed corpus is never re-read. The
  * snapshot lives in executor block storage until `Caches.releaseAll`,
  * so a run commits before it releases.
  */
object FileLedger {

  private val LedgerSchema = "path STRING, run BIGINT"

  /** The distinct processed paths with the run that first ingested
    * each (min run id — duplicate commits across runs fold away).
    * Read with the ledger's known schema (`run` is the partition
    * column), so no footer-inference job runs; a ledger dir that holds
    * NO readable parquet (a crash during the very first commit leaves
    * only `_temporary` debris, which Spark's file index excludes) reads
    * as an EMPTY ledger, which the crash-replay path relies on. */
  def ledger(spark: SparkSession, ledgerDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val raw =
      if (fs.exists(p)) spark.read.schema(LedgerSchema).parquet(ledgerDir)
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(LedgerSchema))
    raw.groupBy(col("path")).agg(min(col("run")).as("run"))
  }

  /** Metadata-only listing of `glob` as (path, n_bytes) — the shared
    * guarded read: a poll window that matches NO files is an ordinary
    * continuous-ingestion state (Spark's glob resolution throws
    * PATH_NOT_FOUND on it), so an empty glob is an empty frame, never
    * an error. Bodies are NOT read (binaryFile schema pruned to
    * path/length). */
  def listing(spark: SparkSession, glob: String): DataFrame =
    try spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("length").cast("long").as("n_bytes"))
    catch {
      // ONLY the no-files-matched condition is an empty window; any
      // other AnalysisException (bad option, unresolvable column
      // after a Spark upgrade) is a genuine error and must surface —
      // silently converting it to an empty frame would make the
      // audited read report "nothing to ingest" forever (r15 advice)
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("path",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_bytes",
              org.apache.spark.sql.types.LongType))))
    }

  /** Files under `glob` not yet committed by any OTHER run: the set
    * this `runId` must process, as a snapshot of the listing taken
    * now (see the class doc). */
  def newFiles(spark: SparkSession, glob: String, ledgerDir: String,
      runId: Long): DataFrame = {
    val done = ledger(spark, ledgerDir)
      .filter(col("run") =!= runId)
      .select(col("path"))
    graft.Caches.checkpoint(listing(spark, glob).join(done, Seq("path"), "left_anti"))._1
  }

  /** Commit this run's processed file set: overwrite the ledger
    * partition `run=<runId>` (idempotent — a replayed commit rewrites
    * identical content; other runs' partitions are untouched). */
  def commit(spark: SparkSession, files: DataFrame, ledgerDir: String,
      runId: Long): Unit = {
    files.select(col("path"))
      .write.mode("overwrite").parquet(s"$ledgerDir/run=$runId")
    ()
  }
}
