package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 source for the reference's staged-file layout —
  * `{api}/season_{S}/league_{L}/{endpoint}/{run}.json` (SURVEY §2.1
  * S1/S3/S4; reference path convention at ingestion/main.py:86-109,
  * pk regex at helpers.py:20) — done as a NATIVE Spark connector
  * instead of `input_file_name()` + regex post-processing:
  *
  *  - **partition pruning from pushed filters**: season/league/
  *    endpoint are path-derived, one value per file, so EqualTo/In/
  *    comparison filters on them prune WHOLE FILES at planning —
  *    `q.rdd.getNumPartitions` equals surviving files, and at 100 TB
  *    the pruned payloads are never opened, listed bytes never read;
  *  - **column pruning into IO**: the payload column (`body`) is read
  *    from storage ONLY when the query asks for it — a
  *    metadata-only projection (season/league/endpoint/path) does
  *    zero payload IO, the DSv2 form of parquet's column pruning on
  *    a format that has no columns;
  *  - worker-side reads: the driver only LISTS paths; file bytes are
  *    read inside `PartitionReader` on executors (the reference's S3
  *    worker-side read).
  *
  * Usage: `spark.read.format("graft.sources.StagedJsonSource")
  * .load(root)`. One file per input partition (staged API payloads
  * are small and numerous; a production variant bin-packs files into
  * size-bounded partitions exactly like FileSourceScanExec).
  */
class StagedJsonSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "staged-json"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StagedJsonSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StagedJsonTable(properties.get("path"))
}

object StagedJsonSource {
  val Schema: StructType = StructType(Seq(
    StructField("season", LongType, nullable = false),
    StructField("league", LongType, nullable = false),
    StructField("endpoint", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("body", StringType, nullable = true)))

  private val PathRe = raw".*/season_(\d+)/league_(\d+)/([^/]+)/[^/]+\.json$$".r
  private[sources] val SeasonDirRe = raw"season_(\d+)".r
  private[sources] val LeagueDirRe = raw"league_(\d+)".r

  /** Driver-side session Hadoop conf, serializable for shipping to
    * reader/writer factories (as FileSourceScanExec does) — built from
    * `sessionState.newHadoopConf()` so session-level `spark.hadoop.*`
    * settings (object-store credentials, fs tuning) apply on both the
    * driver listing and executor IO, which `new Configuration()`
    * silently dropped. [[graft.engine.LocalFs.Overlay]] sits on top, so
    * the write's task files, `mkdirs` and commit renames on a local
    * path start no process. */
  private[sources] def sessionConf(): SerializableConfiguration =
    new SerializableConfiguration(graft.engine.LocalFs.hadoopConf(SparkSession.active))

  /** (season, league, endpoint) from a staged path; None = not a
    * staged file (ignored, like non-matching files in a file index). */
  def parsePath(p: String): Option[(Long, Long, String)] = p match {
    case PathRe(s, l, e) => Some((s.toLong, l.toLong, e))
    case _ => None
  }

  /** File-level filter evaluation: exact because season/league/
    * endpoint have ONE value per file. Unsupported filter shapes are
    * simply not pushed (Spark evaluates them post-scan), and so are
    * filters whose VALUES `satisfies` can't compare (nulls, a
    * non-numeric season, a non-string endpoint) — declining them here
    * leaves them as residuals instead of failing the whole query at
    * planning. */
  private[sources] def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, x) => pathCols(a) && evaluable(a, x)
    case In(a, xs) => pathCols(a) && xs != null && xs.forall(evaluable(a, _))
    case GreaterThan(a, x) => pathCols(a) && evaluable(a, x)
    case GreaterThanOrEqual(a, x) => pathCols(a) && evaluable(a, x)
    case LessThan(a, x) => pathCols(a) && evaluable(a, x)
    case LessThanOrEqual(a, x) => pathCols(a) && evaluable(a, x)
    case _ => false
  }
  private def pathCols(a: String): Boolean =
    a == "season" || a == "league" || a == "endpoint"
  private def evaluable(a: String, x: Any): Boolean = x match {
    case null => false
    case _: Number => a == "season" || a == "league"
    case _: String => a == "endpoint"
    case _ => false
  }

  /** The single attribute a pushable filter constrains (pushable
    * shapes are all single-attribute — see [[prunable]]). */
  private[sources] def attrOf(f: Filter): Option[String] = f match {
    case EqualTo(a, _) => Some(a)
    case In(a, _) => Some(a)
    case GreaterThan(a, _) => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _) => Some(a)
    case LessThanOrEqual(a, _) => Some(a)
    case _ => None
  }

  private[sources] def satisfies(f: Filter, season: Long, league: Long,
      endpoint: String): Boolean = {
    def v(a: String): Any = a match {
      case "season" => season
      case "league" => league
      case "endpoint" => endpoint
    }
    def cmp(a: String, x: Any): Int = (v(a), x) match {
      case (l: Long, r: Number) => java.lang.Long.compare(l, r.longValue())
      case (l: String, r: String) => l.compareTo(r)
      case _ => throw new IllegalArgumentException(
        s"unsupported comparison for $a: ${x.getClass}")
    }
    f match {
      case EqualTo(a, x) => cmp(a, x) == 0
      case In(a, xs) => xs.exists(x => cmp(a, x) == 0)
      case GreaterThan(a, x) => cmp(a, x) > 0
      case GreaterThanOrEqual(a, x) => cmp(a, x) >= 0
      case LessThan(a, x) => cmp(a, x) < 0
      case LessThanOrEqual(a, x) => cmp(a, x) <= 0
      case other => throw new IllegalStateException(s"unpushable filter $other")
    }
  }
}

final class StagedJsonTable(root: String) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(root != null, "staged json source requires a path (.load(root))")
  override def name(): String = s"staged_json($root)"
  override def schema(): StructType = StagedJsonSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StagedJsonScanBuilder(root, StagedJsonSource.sessionConf())
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new StagedJsonWriteBuilder(root, info.schema(), StagedJsonSource.sessionConf())
}

final class StagedJsonScanBuilder(root: String, conf: SerializableConfiguration)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = StagedJsonSource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, residual) = filters.partition(StagedJsonSource.prunable)
    pushed = p
    residual // file-level evaluation is exact → pushed ones need no re-check
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new StagedJsonScan(root, required, pushed, conf)
}

final case class StagedFilePartition(path: String, season: Long,
    league: Long, endpoint: String) extends InputPartition

final class StagedJsonScan(root: String, required: StructType,
    pushed: Array[Filter], conf: SerializableConfiguration)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"StagedJsonScan root=$root, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side LISTING only, and level-wise: a season_/league_/
    // endpoint directory refuted by a pushed filter is never descended
    // into, so a one-league query never even LISTS the other leagues'
    // subtrees — at object-store scale the listing calls themselves
    // are the cost being pruned
    val fs = new HPath(root).getFileSystem(conf.value)
    // a root that does not exist (yet) is an EMPTY table, not a
    // planning-time FileNotFoundException — the same contract as
    // Normalize.pipeline's root form and FileLedger.listing
    // (a glob that matches nothing is an empty input):
    // ingestion pipelines routinely plan against a landing dir the
    // producer has not created on the first run
    if (!fs.exists(new HPath(root))) return Array.empty
    val out = Array.newBuilder[InputPartition]
    // evaluate only the pushed filters constraining `attr` (the other
    // two value slots are never read by satisfies for those filters)
    def levelPass(attr: String, s: Long, l: Long, e: String): Boolean =
      pushed.filter(f => StagedJsonSource.attrOf(f).contains(attr))
        .forall(StagedJsonSource.satisfies(_, s, l, e))
    def walk(p: HPath, parentIsLeague: Boolean): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) {
          val name = st.getPath.getName
          name match {
            // structure beats name patterns: a league dir's children
            // are ALWAYS endpoint dirs, so this case must match FIRST
            // — an endpoint literally named like `season_2` would
            // otherwise be filtered with the season attribute's pushed
            // filters and its subtree silently skipped (the exact
            // file-level check below never runs on unlisted files)
            case e if parentIsLeague =>
              if (levelPass("endpoint", 0L, 0L, e))
                walk(st.getPath, parentIsLeague = false)
            case StagedJsonSource.SeasonDirRe(s) =>
              if (levelPass("season", s.toLong, 0L, ""))
                walk(st.getPath, parentIsLeague = false)
            case StagedJsonSource.LeagueDirRe(l) =>
              if (levelPass("league", 0L, l.toLong, ""))
                walk(st.getPath, parentIsLeague = true)
            case _ => // api level / unrecognized: descend, prune deeper
              walk(st.getPath, parentIsLeague = false)
          }
        } else {
          // final file-level check stays exact independent of pruning
          StagedJsonSource.parsePath(st.getPath.toUri.getPath).foreach {
            case (season, league, endpoint) =>
              if (pushed.forall(
                  StagedJsonSource.satisfies(_, season, league, endpoint)))
                out += StagedFilePartition(
                  st.getPath.toString, season, league, endpoint)
          }
        }
      }
    walk(new HPath(root), parentIsLeague = false)
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StagedJsonReaderFactory(required, conf)
}

final class StagedJsonReaderFactory(required: StructType,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[StagedFilePartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = {
        val values = required.fields.map(_.name).map {
          case "season" => sp.season
          case "league" => sp.league
          case "endpoint" => UTF8String.fromString(sp.endpoint)
          case "path" => UTF8String.fromString(sp.path)
          case "body" =>
            // payload IO happens HERE, on the executor, and ONLY when
            // the pruned schema still contains `body`
            val hp = new HPath(sp.path)
            val fs = hp.getFileSystem(conf.value)
            val in = fs.open(hp)
            try {
              val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
              UTF8String.fromBytes(bytes)
            } finally in.close()
        }
        InternalRow.fromSeq(values.toSeq)
      }
      override def close(): Unit = ()
    }
  }
}
