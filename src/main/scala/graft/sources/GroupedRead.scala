package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Whole-file reads of a file list, ONE row per group of files — the
  * reference's `GroupByKey` on a key its staged paths already carry
  * (`pipeline.py:37-43`), with the grouping done on the driver instead
  * of by a shuffle.
  *
  * The driver groups the paths by `key(path)`; executors read each
  * group's files whole and emit `(pk, files)`, where `files` holds the
  * group's non-empty files as `(path, dir, bytes)`, sorted by path in
  * Spark's string order (UTF-8 bytes). A group whose files are all
  * empty emits no row, as a text scan of them yields none. `dir` is
  * the path up to its last `/`. Each file read counts as one input
  * record of its length in the task's metrics, like a whole-text scan.
  *
  * Building the frame runs no Spark job and reads nothing: every action
  * on it reads the listed files afresh, and a file that is not in the
  * list is never read. Paths are opened as given, through the
  * session's Hadoop conf, so any scheme works.
  *
  * Scale: the list and its grouping live on the driver, like
  * [[FileLedger]]'s listing that usually produces it; one group's files
  * are read by one task, so a group is as large as a task can hold. The
  * groups spread over `min(groups, defaultParallelism)` tasks.
  */
object GroupedRead {

  val Schema: StructType = StructType.fromDDL(
    "pk STRING, files ARRAY<STRUCT<path: STRING, dir: STRING, bytes: BINARY>>")

  private def utf8Before(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  def apply(spark: SparkSession, files: Seq[String], key: String => String): DataFrame = {
    val groups = files.distinct.groupBy(key).toSeq.sortBy(_._1)
      .map { case (k, paths) => k -> paths.sortWith(utf8Before) }
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val rows = sc.parallelize(groups, math.max(1, math.min(groups.size, sc.defaultParallelism)))
      .flatMap { case (k, paths) =>
        val read = paths.flatMap { p =>
          val path = new Path(p)
          val in = path.getFileSystem(conf.value.value).open(path)
          val bytes = try in.readAllBytes() finally in.close()
          GraftExpressionBridge.countInput(1L, bytes.length.toLong)
          if (bytes.isEmpty) None else Some(Row(p, p.substring(0, math.max(0, p.lastIndexOf('/'))), bytes))
        }
        if (read.isEmpty) None else Some(Row(k, read))
      }
    spark.createDataFrame(rows, Schema)
  }
}
