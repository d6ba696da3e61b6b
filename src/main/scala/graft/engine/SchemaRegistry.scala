package graft.engine

import scala.util.matching.Regex

import org.apache.spark.sql.types._

import graft.engine.Enforce.FieldSpec

/** Versioned external schema documents (SURVEY.md §1.3) — the
  * BigQuery-style JSON spec the reference loads at job start
  * (`pipeline.py:16-17`, `helpers.py:30-49`, `unified_schemas/v1.json`)
  * parsed into both the enforcement spec and a Spark `StructType`.
  *
  * Design decisions from SURVEY §1.3:
  *  - default `mode` is NULLABLE (the reference's validator/sink
  *    disagree; we adopt the sink + SCHEMA.md documented behavior) —
  *    only explicit REQUIRED is non-null;
  *  - the type universe is STRING/INTEGER/TIMESTAMP; anything else
  *    fails fast (ref `helpers.py:89-90`);
  *  - evolution = bump `version`, register `vN`; every record carries
  *    a `schema_version` string column.
  *
  * The parser is a small regex-based reader for exactly this document
  * shape (driver-side config parsing, one tiny file per job — not a
  * data-plane JSON path; data-plane JSON is parsed by `from_json`
  * with fixed schemas in `Normalize`).
  */
object SchemaRegistry {

  final case class SchemaDoc(version: Int, fields: Seq[FieldSpec]) {
    def structType: StructType = StructType(fields.map { f =>
      val dt: DataType = f.typ match {
        case "STRING" => StringType
        case "INTEGER" => LongType
        case "TIMESTAMP" => TimestampType
      }
      StructField(f.name, dt, nullable = !f.required)
    })
  }

  // per-field OBJECT blocks, with name/type/mode extracted separately
  // inside each block — JSON key order is not semantic, and a
  // {"type": ..., "name": ...} field must parse (the reference's
  // dict-based parseSchema accepts any order, helpers.py:38-47), not
  // be silently dropped from the enforcement schema
  private val BlockRe: Regex = """\{[^{}]*\}""".r
  private val NameRe: Regex = """"name"\s*:\s*"([^"]+)"""".r
  private val TypeRe: Regex = """"type"\s*:\s*"([^"]+)"""".r
  private val VersionRe: Regex = """"version"\s*:\s*(\d+)""".r

  /** Parse a v1.json-shaped document. Unknown types raise (fail-fast,
    * ref `helpers.py:89-90`).
    *
    * Mode-default deviation, made explicit: the reference's VALIDATOR
    * defaults a missing `mode` to REQUIRED (`helpers.py:43`) while its
    * sink DDL defaults to NULLABLE (`helpers.py:112`); most v1.json
    * fields omit mode, so the running reference dead-letters groups on
    * null team_id/season/points while this engine (default
    * `strict=false`, the sink/SCHEMA.md behavior) passes them through.
    * `strict=true` mirrors the executing validator: every field
    * without an explicit "NULLABLE" mode is validated as REQUIRED. */
  def parse(json: String, strict: Boolean = false): SchemaDoc = {
    val version = VersionRe.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException("schema document has no version"))
    val fields = BlockRe.findAllIn(json).toSeq.map { block =>
      val name = NameRe.findFirstMatchIn(block).map(_.group(1))
        .getOrElse(throw new IllegalArgumentException(
          s"schema field object without a name: $block"))
      val typ = TypeRe.findFirstMatchIn(block).map(_.group(1))
        .getOrElse(throw new IllegalArgumentException(
          s"schema field '$name' has no type"))
      val required =
        if (strict) !block.contains(""""NULLABLE"""")
        else block.contains(""""REQUIRED"""")
      FieldSpec(name, typ, required)
    }
    if (fields.isEmpty)
      throw new IllegalArgumentException("schema document has no fields")
    SchemaDoc(version, fields)
  }

  /** Driver-side file read (ref `gcp.py:8-25` reads the doc from
    * object storage; locally a filesystem path). */
  def load(path: String): SchemaDoc =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** The unified team-season schema (reference v1) as a built-in, so
    * the engine works without the external document present. Field
    * list mirrors `/root/reference/unified_schemas/v1.json:3-25`. */
  val v1: SchemaDoc = SchemaDoc(1, Seq(
    FieldSpec("pk", "STRING", required = true),
    FieldSpec("team_id", "STRING"),
    FieldSpec("team_name", "STRING"),
    FieldSpec("team_country", "STRING"),
    FieldSpec("league_id", "STRING"),
    FieldSpec("league_name", "STRING"),
    FieldSpec("season", "INTEGER"),
    FieldSpec("rank", "INTEGER"),
    FieldSpec("points", "INTEGER"),
    FieldSpec("games_played", "INTEGER"),
    FieldSpec("wins", "INTEGER"),
    FieldSpec("draws", "INTEGER"),
    FieldSpec("losses", "INTEGER"),
    FieldSpec("goals_for", "INTEGER"),
    FieldSpec("goals_against", "INTEGER"),
    FieldSpec("goal_difference", "INTEGER"),
    FieldSpec("form", "STRING"),
    FieldSpec("venue_name", "STRING"),
    FieldSpec("venue_city", "STRING"),
    FieldSpec("update_timestamp", "TIMESTAMP"),
    FieldSpec("schema_version", "STRING")))

  /** Version registry (SURVEY §1.3: `Map[Int, StructType]`). */
  val registry: Map[Int, SchemaDoc] = Map(1 -> v1)

  /** Schema-evolution enforcement: every record is validated against
    * the schema version IT DECLARES (`schema_version` column, which
    * each reference record carries — `transforms.py:68,122`), then the
    * ok side is aligned to `target`'s field set (fields the record's
    * version lacks → null, fields `target` dropped → pruned) so mixed
    * generations land in ONE table with the newest layout. Records
    * declaring an unregistered version dead-letter (the version is an
    * enforcement input, not a trusted value).
    *
    * Alignment also CASTS to the target's type: a field whose type
    * changed between generations (v1 rank STRING → v2 rank INTEGER)
    * must land in the target type or the final union would coerce the
    * table away from the newest layout — or fail outright for
    * incompatible pairs. The cast is a try_cast so an unrepresentable
    * value cannot kill the job — but a try_cast that NULLS a value
    * which passed its own version's validation is silent data loss,
    * not a layout conversion, so such rows are routed to the dead side
    * with `error = "alignment_cast_loss:<fields>"` instead of landing
    * in the ok table as nulls. Only fields whose TYPE differs between
    * the record's generation and the target are checked (a same-type
    * try_cast is the identity and cannot null a non-null).
    *
    * Scale: 2V+1 filtered passes (ok + dead per version + the unknown
    * sweep) all derive from one input frame, which is pinned via
    * [[graft.Caches]] so the source is scanned once, not 2V+1 times —
    * released at the caller's `Caches.releaseAll()` boundary (the
    * library-wide contract). At warehouse scale, prefer staging
    * layouts partitioned BY schema_version so each pass prunes to its
    * own files instead of caching the corpus.
    * Dead rows carry the original columns + `error` and union with
    * missing-column tolerance, since different generations have
    * different raw shapes. */
  def enforceByVersion(df: org.apache.spark.sql.DataFrame,
      registry: Map[Int, SchemaDoc],
      target: SchemaDoc): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    require(registry.nonEmpty, "empty schema registry")
    // persist is illegal on a streaming frame — there the micro-batch
    // engine already materializes each batch once, so the 2V+1 passes
    // read batch state, not the source
    val src =
      if (df.isStreaming) df
      else graft.Caches.pin(df)
    val known = registry.keys.map(_.toString).toSeq
    val splits = registry.toSeq.sortBy(_._1).map { case (v, doc) =>
      val sub = src.filter(col("schema_version") === v.toString)
      val (ok, dead) = Enforce.split(sub, doc.fields)
      // fields whose type CHANGES into the target: the only places the
      // alignment try_cast can null a value that was valid under the
      // record's own version. concat_ws skips the per-field nulls, so
      // the loss column is "" for clean rows and a field list
      // otherwise; ComputeOnce pins it below the two filters (same
      // barrier as Enforce.split — both sides reference it).
      val changed = target.fields.filter(f =>
        doc.fields.exists(d => d.name == f.name && d.typ != f.typ))
      val lossCol =
        if (changed.isEmpty) lit("")
        else graft.functions.ComputeOnce.once(concat_ws(",", changed.map { f =>
          when(col(f.name).isNotNull && col(f.name).try_cast(f.sparkType).isNull,
            lit(f.name))
        }: _*))
      val flagged = ok.withColumn("graft_align_loss", lossCol)
      val aligned = target.fields.map { f =>
        if (doc.fields.exists(_.name == f.name))
          col(f.name).try_cast(f.sparkType).as(f.name)
        else lit(null).cast(f.sparkType).as(f.name)
      }
      val alignedOk = flagged.filter(col("graft_align_loss") === "")
        .select(aligned: _*)
      val alignDead = flagged.filter(col("graft_align_loss") =!= "")
        .withColumn("error",
          concat(lit("alignment_cast_loss:"), col("graft_align_loss")))
        .drop("graft_align_loss")
      (alignedOk, dead.unionByName(alignDead, allowMissingColumns = true))
    }
    val unknown = src
      .filter(col("schema_version").isNull || !col("schema_version").isin(known: _*))
      .withColumn("error", lit("unknown_schema_version"))
    val ok = splits.map(_._1).reduce(_ unionByName _)
    val dead = (splits.map(_._2) :+ unknown)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    (ok, dead)
  }
}
