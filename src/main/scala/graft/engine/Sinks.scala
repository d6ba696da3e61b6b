package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._

import graft.functions.RunConstant

/** Sinks — SURVEY.md §2.2.
  *
  * K1: the reference writes each run with WRITE_TRUNCATE (full-replace
  * idempotency, `pipeline.py:47-55`, SCHEMA.md:51) to a per-source
  * table → `SaveMode.Overwrite` parquet, one subdir per api source.
  *
  * K2: failed groups go to a single-shard JSON-lines dead-letter file
  * (`pipeline.py:57-63`), one line per failed GROUP, not per row. The
  * reference feeds both sinks from one GroupByKey pass; here a
  * `Normalize.pipeline` `ok` handed to a K1 sink is written as an
  * observed twin that gathers its dead-letter lines in the same pass,
  * so the K2 write that follows runs no Spark job.
  *
  * Scale: the unified sink optionally partitions by a low-cardinality
  * key (e.g. season) so downstream reads prune partitions. Dead letters
  * pass through the driver and one writer, as the reference's
  * num_shards=1 funnels them through one shard — safe because they are
  * a trickle (one line per failed group); never route the main output
  * that way.
  *
  * Every write here goes through [[LocalFs.Overlay]], so on a local
  * path it starts no operating-system process (no forked `chmod` per
  * created file or directory, no `readlink` per rename); other schemes
  * are unaffected.
  */
object Sinks {

  // the write's instant, read by generated code rather than inlined in
  // it, so a warm write compiles nothing (ref v1.json's
  // CURRENT_TIMESTAMP() column default)
  private def stamped(df: DataFrame): DataFrame =
    df.withColumn("update_timestamp", coalesce(col("update_timestamp"), RunConstant.now()))

  /** K1 — WRITE_TRUNCATE ≡ overwrite; `update_timestamp` defaulted at
    * the sink. */
  def writeUnified(df: DataFrame, outDir: String, apiName: String,
      partitionBySeason: Boolean = false): Unit =
    Normalize.writeOk(df) { ok =>
      val w = stamped(ok).write.mode("overwrite").options(LocalFs.Overlay)
      (if (partitionBySeason) w.partitionBy("season") else w)
        .parquet(s"$outDir/teams_$apiName")
    }

  /** K2 — dead-letter JSON lines as one `part-00000.json`, written from
    * the driver (ref num_shards=1): the lines a K1 write of the same
    * `Normalize.pipeline` call observed, else `dead` collected. The
    * file replaces the directory's content atomically. */
  def writeDeadLetter(dead: DataFrame, pkCol: String, deadLetterDir: String): Unit = {
    val lines = Normalize.observedDeadLetters(dead, pkCol).getOrElse(
      Enforce.deadLetterJson(dead, pkCol).collect().map(_.getString(0)).toSeq)
    commitLines(dead.sparkSession, new Path(deadLetterDir), "part-00000.json",
      lines.sorted.iterator.map(_.getBytes(UTF_8)))
  }

  /** Spark's hidden-file rule for file sources (`HadoopFSUtils.
    * shouldFilterOutPathName` plus the file index's data-path check):
    * `_`/`.` prefixes (a `_` name holding `=` is a partition value)
    * and in-flight `._COPYING_` copies. */
  private[graft] def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_"))

  /** Replace `dir`'s visible content with one file `name` of `lines`,
    * each newline-terminated, written from the driver through
    * `CheckpointFileManager.createAtomic`: a write that dies leaves only
    * a hidden temp file, so `dir` reads as before. Every other visible
    * entry of `dir` is deleted after the file lands. The default
    * `FileContext`-based manager is kept for its atomic overwrite-rename
    * (the `FileSystem`-based one's is best-effort: on HDFS it keeps the
    * old file and raises nothing); only its conf carries the overlay. */
  private[graft] def commitLines(spark: SparkSession, dir: Path, name: String,
      lines: Iterator[Array[Byte]]): Unit = {
    val fm = CheckpointFileManager.create(dir, LocalFs.hadoopConf(spark))
    fm.mkdirs(dir)
    val out = fm.createAtomic(new Path(dir, name), overwriteIfPossible = true)
    try {
      lines.foreach { l => out.write(l); out.write('\n') }
      out.close()
    } catch { case e: Throwable => out.cancel(); throw e }
    fm.list(dir).map(_.getPath)
      .filter(p => visible(p.getName) && p.getName != name).foreach(fm.delete)
  }

  /** K1, repaired: per-GROUP truncate instead of per-TABLE. The
    * reference's WRITE_TRUNCATE replaces the WHOLE table each run, so
    * a run for league A erases league B's rows (SURVEY.md appendix,
    * `pipeline.py:53` — idempotency was the goal, cross-run
    * accumulation was never solved). Dynamic partition overwrite
    * rewrites exactly the (season, league_id) partitions present in
    * THIS run's data and leaves every other partition in place:
    * re-running a league is idempotent AND other leagues survive.
    * At 100 TB this is also the only affordable write — a run
    * touches its partitions, never the table. The overwrite mode is a
    * per-write option, so the session conf is never touched. */
  def writeUnifiedUpsert(df: DataFrame, outDir: String, apiName: String): Unit =
    Normalize.writeOk(df) { ok =>
      // null league_id rows would all land in one Hive default
      // partition that successive runs for DIFFERENT leagues would
      // clobber; routing them to an explicit pseudo-league keeps the
      // per-league-truncate contract well-defined (the __unknown__
      // bucket is one "league" whose runs replace each other)
      stamped(ok)
        .withColumn("league_id", coalesce(col("league_id"), lit("__unknown__")))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .options(LocalFs.Overlay)
        .partitionBy("season", "league_id")
        .parquet(s"$outDir/teams_$apiName")
    }

  /** Small-files compaction: rewrite a parquet dir to ~`targetFiles`
    * files. Streaming/micro-batched sinks accrete tiny files whose
    * per-file open cost eventually dominates scans; periodic
    * compaction is table maintenance 101 at scale. Writes to a temp
    * sibling then swaps, so a failed compaction never loses data. The
    * swap runs on `dir`'s own file system under the session's Hadoop
    * conf, so any scheme works and `spark.hadoop.*` settings apply. */
  def compact(spark: SparkSession, dir: String,
      targetFiles: Int): Unit = {
    val tmp = dir + "__compacting"
    val dst = new Path(dir)
    val fs = dst.getFileSystem(LocalFs.hadoopConf(spark))
    val bak = new Path(dir + "__old")
    val tmpP = new Path(tmp)
    // clear leftovers of a prior crashed compaction FIRST — a stale
    // __old would make rename(dst, bak) return false and turn the
    // swap into a silent no-op
    if (fs.exists(bak)) fs.delete(bak, true)
    spark.read.parquet(dir).repartition(targetFiles)
      .write.mode("overwrite").options(LocalFs.Overlay).parquet(tmp)
    // Hadoop rename signals failure by RETURNING FALSE, not throwing;
    // every step must be checked or a half-failed swap would reach the
    // delete below and destroy the only remaining copy
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"compact: could not move $dst aside")
    if (!fs.rename(tmpP, dst)) {
      fs.rename(bak, dst) // restore; data was never at risk
      throw new java.io.IOException(s"compact: could not promote $tmp")
    }
    fs.delete(bak, true)
  }
}
