package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * one's pass instead: `Normalize.pipeline` takes its ok rows from
  * [[tagByGroup]]'s frame with [[okGroups]], and the ok write observes
  * each failed group's dead-letter line from the same rows
  * (`Dataset.observe`), so no second scan and no pin is needed.
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

  /** Can the source type reach the target via try_cast at all?
    * Complex sources (struct/array/map) cast to STRING but are
    * unconditional cast failures for INTEGER/TIMESTAMP — a direct
    * try_cast there would be an ANALYSIS error (killing the job)
    * instead of the reference's per-record int() ValueError. */
  private def castable(df: DataFrame, f: FieldSpec): Boolean =
    df.schema(f.name).dataType match {
      case _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType => f.typ == "STRING"
      case _ => true
    }

  /** Per-field validation error, or null when the field is clean. */
  private def fieldError(df: DataFrame, f: FieldSpec): Column = {
    val present = df.columns.contains(f.name)
    if (!present) {
      if (f.required) lit(s"missing_required:${f.name}") else lit(null: String)
    } else {
      val src = col(f.name)
      // try_cast from the SOURCE type, never via an intermediate
      // string: a numeric 9.0 must truncate to 9 like the reference's
      // int(9.0) (helpers.py:92-94) — routing through "9.0" would flag
      // it as a cast failure; a string "9.0" still fails, exactly like
      // Python's int("9.0")
      val castFail =
        if (castable(df, f)) src.isNotNull && src.try_cast(f.sparkType).isNull
        else src.isNotNull // complex value in a scalar field: int({...}) raises
      if (f.required)
        when(src.isNull, lit(s"missing_required:${f.name}"))
          .when(castFail, lit(s"cast_failure:${f.name}"))
      else
        when(castFail, lit(s"cast_failure:${f.name}"))
    }
  }

  /** The enforced (cast + pruned + null-filled) projection of one field. */
  private def fieldValue(df: DataFrame, f: FieldSpec): Column = {
    if (df.columns.contains(f.name) && castable(df, f))
      col(f.name).try_cast(f.sparkType).as(f.name)
    else lit(null).cast(f.sparkType).as(f.name)
  }

  /** Input row + `error` column: comma-joined failure tags in schema
    * field order, null when the row is clean. Wrapped in a ComputeOnce
    * barrier so the two-filter split downstream tests the materialized
    * column instead of re-deriving the whole validation tree inside
    * each pushed-down filter (see ComputeOnce's scaladoc — this is what
    * makes the documented "evaluated once per row" actually hold in the
    * physical plan). */
  def withError(df: DataFrame, schema: Seq[FieldSpec]): DataFrame = {
    val tags = concat_ws(",", schema.map(f => fieldError(df, f)): _*)
    val err = when(tags === "", lit(null: String)).otherwise(tags)
    df.withColumn("error", graft.functions.ComputeOnce.once(err))
  }

  /** Row-level split: (ok = enforced schema projection, dead = original
    * row + error). The reference's E2 + row-granular E1. */
  def split(df: DataFrame, schema: Seq[FieldSpec]): (DataFrame, DataFrame) = {
    val annotated = withError(df, schema)
    val ok = annotated.filter(col("error").isNull)
      .select(schema.map(f => fieldValue(df, f)): _*)
    val dead = annotated.filter(col("error").isNotNull)
    (ok, dead)
  }

  /** Input row + `error` + `group_error`: the max `error` over the
    * row's `groupKey` group, null exactly when every row of the group
    * is clean (ref `transforms.py:149-184` — one failed record fails
    * its pk group). Scale: the group verdict is a window max over the
    * group key — one shuffle by `groupKey`, no driver involvement. The
    * one definition of group tagging: [[splitByGroup]] and
    * `Normalize.pipeline` both build on it. */
  def tagByGroup(df: DataFrame, schema: Seq[FieldSpec], groupKey: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupKey))
    withError(df, schema).withColumn("group_error", max(col("error")).over(w))
  }

  /** The enforced schema projection of a [[tagByGroup]] frame's clean
    * groups. */
  def okGroups(tagged: DataFrame, schema: Seq[FieldSpec]): DataFrame =
    tagged.filter(col("group_error").isNull)
      .select(schema.map(f => fieldValue(tagged, f)): _*)

  /** Group-level split matching the reference's semantics exactly: any
    * error in a group dead-letters the WHOLE group (ok = enforced
    * projection of the clean groups, dead = every row of a failed group
    * + its row `error`). */
  def splitByGroup(df: DataFrame, schema: Seq[FieldSpec], groupKey: String): (DataFrame, DataFrame) = {
    val tagged = tagByGroup(df, schema, groupKey)
    val dead = tagged.filter(col("group_error").isNotNull).drop("group_error")
    (okGroups(tagged, schema), dead)
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
