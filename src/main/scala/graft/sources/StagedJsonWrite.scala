package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** DSv2 WRITE path for the staged-JSON layout — the two-phase commit
  * protocol the reference's staging writer + rollback (SURVEY §2.2
  * K3/K4) implements by hand, done as a native Spark connector:
  *
  *  - each task writes its rows into an ATTEMPT-UNIQUE staging
  *    directory (`.staging-<task>-<attempt>/`) — a speculative or
  *    retried attempt can never collide with, or corrupt, another
  *    attempt's output;
  *  - the task's commit message carries (temp → final) pairs; only
  *    the DRIVER's `commit` renames them into the layout, after every
  *    task has succeeded — a job that dies mid-write leaves the
  *    destination untouched (rollback = `abort` deleting staging);
  *  - final names are a pure function of (partition, row sequence),
  *    so a committed retry lands on the same paths — idempotent;
  *  - `SupportsTruncate` maps `mode("overwrite")` to delete-then-
  *    commit of the staged tree: the reference's WRITE_TRUNCATE,
  *    scoped to the layout's files only.
  *
  * Rows must carry (season, league, endpoint, body); each row becomes
  * one staged file at `api/season_S/league_L/<endpoint>/part-P-R.json`
  * — the inverse of [[StagedJsonSource]]'s read mapping, so
  * read → transform → write round-trips the layout. */
final class StagedJsonWriteBuilder(root: String, schema: StructType,
    conf: SerializableConfiguration)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new StagedJsonWrite(root, schema, doTruncate, conf)
}

final case class StagedCommit(files: Seq[(String, String)])
    extends WriterCommitMessage

final class StagedJsonWrite(root: String, schema: StructType,
    truncate: Boolean, conf: SerializableConfiguration)
    extends Write with BatchWrite {
  Seq("season", "league", "endpoint", "body").foreach { c =>
    require(schema.fieldNames.contains(c),
      s"staged-json write requires column '$c'; got ${schema.fieldNames.mkString(", ")}")
  }

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new StagedJsonWriterFactory(root, schema, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(conf.value)
    if (truncate && fs.exists(rootPath)) {
      // WRITE_TRUNCATE scoped to the LAYOUT's files: only staged .json
      // files are deleted, never unrelated content under root. The walk
      // uses listStatus, not listFiles: a LocatedFileStatus copies the
      // permission, which the local file system reads by running `ls`.
      def doomed(dir: HPath): Seq[HPath] = fs.listStatus(dir).toSeq.flatMap { s =>
        if (s.isDirectory) doomed(s.getPath)
        else Seq(s.getPath).filter(p => StagedJsonSource.parsePath(p.toUri.getPath).isDefined)
      }
      graft.engine.ParFs(doomed(rootPath))(fs.delete(_, false))
    }
    // one rename per staged file, all to DISTINCT final paths (names
    // are a pure function of (partition, row seq)), so the commit loop
    // is order-free — fan it out instead of serializing every
    // round-trip on the driver (ParFs doc; milliseconds locally,
    // tens-to-hundreds of ms each on an object store). mkdirs is
    // idempotent and Hadoop FileSystem instances are thread-safe.
    // Failure semantics are unchanged in class: a failed rename
    // previously left the EARLIER renames applied; now every rename is
    // attempted and the first failure is rethrown — partial-commit
    // debris in both cases, and abort still removes only staging.
    val renames = messages.toSeq.flatMap {
      case StagedCommit(files) => files
    }
    graft.engine.ParFs(renames) { case (tmp, fin) =>
      val finPath = new HPath(fin)
      fs.mkdirs(finPath.getParent)
      fs.delete(finPath, false) // idempotent re-commit of a retry
      require(fs.rename(new HPath(tmp), finPath),
        s"commit rename failed: $tmp -> $fin")
    }
    cleanStaging(fs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(root).getFileSystem(conf.value)
    cleanStaging(fs) // destination untouched — staging is the only debris
  }

  private def cleanStaging(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val rootPath = new HPath(root)
    if (fs.exists(rootPath)) {
      fs.listStatus(rootPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging-"))
        .foreach(s => fs.delete(s.getPath, true))
    }
  }
}

final class StagedJsonWriterFactory(root: String, schema: StructType,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val idx = Map("season" -> schema.fieldIndex("season"),
      "league" -> schema.fieldIndex("league"),
      "endpoint" -> schema.fieldIndex("endpoint"),
      "body" -> schema.fieldIndex("body"))
    new DataWriter[InternalRow] {
      // attempt-unique staging dir; final names depend only on
      // (partitionId, row sequence) so retries land identically
      private val stagingDir = s"$root/.staging-$partitionId-$taskId"
      private val files = mutable.ArrayBuffer.empty[(String, String)]
      private lazy val fs = new HPath(root).getFileSystem(conf.value)
      private var seq = 0

      override def write(row: InternalRow): Unit = {
        val season = row.getLong(idx("season"))
        val league = row.getLong(idx("league"))
        val endpoint = row.getUTF8String(idx("endpoint")).toString
        val body = row.getUTF8String(idx("body"))
        val fin = s"$root/api/season_$season/league_$league/$endpoint/part-$partitionId-$seq.json"
        val tmp = s"$stagingDir/part-$partitionId-$seq.json"
        val out = fs.create(new HPath(tmp), true)
        try out.write(body.getBytes) finally out.close()
        files += ((tmp, fin))
        seq += 1
      }

      override def commit(): WriterCommitMessage = StagedCommit(files.toSeq)

      override def abort(): Unit =
        fs.delete(new HPath(stagingDir), true)

      override def close(): Unit = ()
    }
  }
}
