package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Schema enforcement + dead-letter routing — the reference's signature
  * operator (SURVEY.md §2.6 E1/E2; reference `helpers.py:51-101`
  * `enforceSchemaGenerator` + `transforms.py:149-184` tagged outputs).
  *
  * Semantics matched to the reference:
  *  - REQUIRED field missing/null → error (ref `helpers.py:84`);
  *  - cast to STRING/INTEGER/TIMESTAMP; failed cast → error, the row is
  *    diverted, the job never dies (ref `helpers.py:92-100` +
  *    `transforms.py:182-184`);
  *  - NULLABLE field absent from the input → null column (ref
  *    `helpers.py:86-87`);
  *  - fields not in the schema are pruned (ref `helpers.py:73-74`).
  *
  * Spark-first design: instead of Beam's tagged multi-output ParDo, we
  * compute ONE `error` column (null = ok) and split with two filters —
  * the validation expression is evaluated once per row inside
  * whole-stage codegen, and Catalyst pushes the surviving projection
  * into the scan. `try_cast` (not session ANSI flags) pins the
  * detect-and-divert behavior regardless of `spark.sql.ansi.enabled`,
  * so the same code behaves identically under the driver's sessions.
  *
  * Scale: pure narrow per-row expressions — no shuffle, no UDF; at
  * 100 TB the split costs one scan per consumed output. A caller that
  * writes BOTH outputs can derive the smaller one inside the larger
  * one's pass instead: `Normalize.pipeline` holds each group's rows in
  * one row, tags the group with [[groupError]] and projects its clean
  * rows with [[enforced]], and the ok write observes each failed
  * group's dead-letter line from the same group rows
  * (`Dataset.observe`), so no second scan, no shuffle and no pin is
  * needed. A field's error has one definition ([[fieldError]]), read
  * over a frame's columns or over a row struct's fields.
  */
object Enforce {

  /** STRING | INTEGER | TIMESTAMP — the reference's whole type universe
    * (SURVEY.md §1.2). `required` mirrors mode REQUIRED/NULLABLE with
    * the NULLABLE default resolution of SURVEY.md §1.3. */
  final case class FieldSpec(name: String, typ: String, required: Boolean = false) {
    require(Seq("STRING", "INTEGER", "TIMESTAMP").contains(typ),
      s"Unsupported schema type $typ for field $name") // ref helpers.py:89-90
    def sparkType: String = typ match {
      case "STRING" => "string"
      case "INTEGER" => "long" // BigQuery INTEGER is 64-bit
      case "TIMESTAMP" => "timestamp"
    }
  }

  /** Can a `source`-typed value reach the target via try_cast at all?
    * Complex sources (struct/array/map) cast to STRING but are
    * unconditional cast failures for INTEGER/TIMESTAMP — a direct
    * try_cast there would be an ANALYSIS error (killing the job)
    * instead of the reference's per-record int() ValueError. */
  private def castable(source: DataType, f: FieldSpec): Boolean = source match {
    case _: StructType | _: ArrayType | _: MapType => f.typ == "STRING"
    case _ => true
  }

  /** Per-field validation error of a row of type `row` whose fields
    * `get` reads, or null when the field is clean. The one definition
    * of a field's error: [[withError]] reads a frame's columns with it,
    * [[groupError]] the fields of the row structs inside an array. */
  private def fieldError(row: StructType, get: String => Column)(f: FieldSpec): Column =
    row.fields.find(_.name == f.name) match {
      case None =>
        if (f.required) lit(s"missing_required:${f.name}") else lit(null: String)
      case Some(field) =>
        val src = get(f.name)
        // try_cast from the SOURCE type, never via an intermediate
        // string: a numeric 9.0 must truncate to 9 like the reference's
        // int(9.0) (helpers.py:92-94) — routing through "9.0" would flag
        // it as a cast failure; a string "9.0" still fails, exactly like
        // Python's int("9.0")
        val castFail =
          if (castable(field.dataType, f)) src.isNotNull && src.try_cast(f.sparkType).isNull
          else src.isNotNull // complex value in a scalar field: int({...}) raises
        if (f.required)
          when(src.isNull, lit(s"missing_required:${f.name}"))
            .when(castFail, lit(s"cast_failure:${f.name}"))
        else
          when(castFail, lit(s"cast_failure:${f.name}"))
    }

  /** A row's failure tags, comma-joined in schema field order; null
    * when the row is clean. */
  private def rowError(row: StructType, schema: Seq[FieldSpec], get: String => Column): Column = {
    val tags = concat_ws(",", schema.map(fieldError(row, get)): _*)
    when(tags === "", lit(null: String)).otherwise(tags)
  }

  /** The enforced (cast + pruned + null-filled) projection of a row of
    * type `row` whose fields `get` reads: one column per schema field. */
  def enforced(row: StructType, schema: Seq[FieldSpec], get: String => Column): Seq[Column] =
    schema.map { f =>
      (row.fields.find(_.name == f.name) match {
        case Some(field) if castable(field.dataType, f) => get(f.name).try_cast(f.sparkType)
        case _ => lit(null).cast(f.sparkType)
      }).as(f.name)
    }

  /** Input row + `error` column: comma-joined failure tags in schema
    * field order, null when the row is clean. Wrapped in a ComputeOnce
    * barrier so the two-filter split downstream tests the materialized
    * column instead of re-deriving the whole validation tree inside
    * each pushed-down filter (see ComputeOnce's scaladoc — this is what
    * makes the documented "evaluated once per row" actually hold in the
    * physical plan). */
  def withError(df: DataFrame, schema: Seq[FieldSpec]): DataFrame =
    df.withColumn("error", graft.functions.ComputeOnce.once(rowError(df.schema, schema, col)))

  /** Row-level split: (ok = enforced schema projection, dead = original
    * row + error). The reference's E2 + row-granular E1. */
  def split(df: DataFrame, schema: Seq[FieldSpec]): (DataFrame, DataFrame) = {
    val annotated = withError(df, schema)
    val ok = annotated.filter(col("error").isNull)
      .select(enforced(df.schema, schema, col): _*)
    val dead = annotated.filter(col("error").isNotNull)
    (ok, dead)
  }

  /** Input row + `error` + `group_error`: the max `error` over the
    * row's `groupKey` group, null exactly when every row of the group
    * is clean (ref `transforms.py:149-184` — one failed record fails
    * its pk group). Scale: the group verdict is a window max over the
    * group key — one shuffle by `groupKey`, no driver involvement. For
    * rows a frame does not hold apart but as an array inside one group
    * row, [[groupError]] is the same verdict with no shuffle. */
  def tagByGroup(df: DataFrame, schema: Seq[FieldSpec], groupKey: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupKey))
    withError(df, schema).withColumn("group_error", max(col("error")).over(w))
  }

  /** [[tagByGroup]]'s `group_error` of a group held in one row: the max
    * row error over `rows`, an array of `row` structs, null exactly when
    * every row is clean (or there is none). `Normalize.pipeline` tags
    * its groups this way. */
  def groupError(rows: Column, row: StructType, schema: Seq[FieldSpec]): Column =
    array_max(transform(rows, r => rowError(row, schema, r.getField)))

  /** Group-level split matching the reference's semantics exactly: any
    * error in a group dead-letters the WHOLE group (ok = enforced
    * projection of the clean groups, dead = every row of a failed group
    * + its row `error`). */
  def splitByGroup(df: DataFrame, schema: Seq[FieldSpec], groupKey: String): (DataFrame, DataFrame) = {
    val tagged = tagByGroup(df, schema, groupKey)
    val ok = tagged.filter(col("group_error").isNull).select(enforced(tagged.schema, schema, col): _*)
    val dead = tagged.filter(col("group_error").isNotNull).drop("group_error")
    (ok, dead)
  }

  /** Dead-letter sink shape (ref `transforms.py:184` + `pipeline.py:
    * 57-63`): one JSON object per failed row/group — `{"PK", "files",
    * "error"}` when the frame carries the group's file list (the
    * Normalize pipeline attaches it), `{"PK", "error"}` for row-level
    * splits with no file provenance. */
  def deadLetterJson(dead: DataFrame, pkCol: String): DataFrame = {
    val fields =
      if (dead.columns.contains("files"))
        Seq(col(pkCol).as("PK"), col("files"), col("error"))
      else Seq(col(pkCol).as("PK"), col("error"))
    dead.select(to_json(struct(fields: _*)).as("value"))
  }
}
