package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sinks — SURVEY.md §2.2.
  *
  * K1: the reference writes each run with WRITE_TRUNCATE (full-replace
  * idempotency, `pipeline.py:47-55`, SCHEMA.md:51) to a per-source
  * table → `SaveMode.Overwrite` parquet, one subdir per api source.
  *
  * K2: failed groups go to a single-shard JSON-lines dead-letter file
  * (`pipeline.py:57-63`).
  *
  * Scale: the unified sink optionally partitions by a low-cardinality
  * key (e.g. season) so downstream reads prune partitions; the
  * dead-letter coalesce(1) mirrors the reference's num_shards=1 and is
  * safe because dead letters are a trickle — never coalesce the main
  * output.
  */
object Sinks {

  /** K1 — WRITE_TRUNCATE ≡ overwrite; `update_timestamp` defaulted at
    * the sink (ref v1.json's CURRENT_TIMESTAMP() column default). */
  def writeUnified(df: DataFrame, outDir: String, apiName: String,
      partitionBySeason: Boolean = false): Unit = {
    val stamped = df.withColumn("update_timestamp",
      coalesce(col("update_timestamp"), current_timestamp()))
    val w = stamped.write.mode("overwrite")
    (if (partitionBySeason) w.partitionBy("season") else w)
      .parquet(s"$outDir/teams_$apiName")
  }

  /** K2 — dead-letter JSON-lines, single shard (ref num_shards=1). */
  def writeDeadLetter(dead: DataFrame, pkCol: String, deadLetterDir: String): Unit =
    Enforce.deadLetterJson(dead, pkCol)
      .coalesce(1)
      .write.mode("overwrite")
      .text(deadLetterDir)

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
    // null league_id rows would all land in one Hive default
    // partition that successive runs for DIFFERENT leagues would
    // clobber; routing them to an explicit pseudo-league keeps the
    // per-league-truncate contract well-defined (the __unknown__
    // bucket is one "league" whose runs replace each other)
    df.withColumn("update_timestamp",
        coalesce(col("update_timestamp"), current_timestamp()))
      .withColumn("league_id", coalesce(col("league_id"), lit("__unknown__")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("season", "league_id")
      .parquet(s"$outDir/teams_$apiName")

  /** Small-files compaction: rewrite a parquet dir to ~`targetFiles`
    * files. Streaming/micro-batched sinks accrete tiny files whose
    * per-file open cost eventually dominates scans; periodic
    * compaction is table maintenance 101 at scale. Writes to a temp
    * sibling then swaps, so a failed compaction never loses data. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int): Unit = {
    val tmp = dir + "__compacting"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(dir)
    val bak = new org.apache.hadoop.fs.Path(dir + "__old")
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    // clear leftovers of a prior crashed compaction FIRST — a stale
    // __old would make rename(dst, bak) return false and turn the
    // swap into a silent no-op
    if (fs.exists(bak)) fs.delete(bak, true)
    spark.read.parquet(dir).repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp)
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
