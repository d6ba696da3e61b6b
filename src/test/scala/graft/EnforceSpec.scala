package graft

import org.apache.spark.sql.functions._

import graft.engine.Enforce
import graft.engine.Enforce.FieldSpec

/** Mirrors the reference's enforcement cases (helpers.py:79-100):
  * required-null, bad cast, extra-field pruning, nullable fill,
  * group-level dead-letter, total-function property. */
class EnforceSpec extends SparkSpec {
  import spark.implicits._

  private val schema = Seq(
    FieldSpec("pk", "STRING", required = true),
    FieldSpec("points", "INTEGER"),
    FieldSpec("seen", "TIMESTAMP"))

  private def raw = Seq(
    ("2023-39", "89", "2024-01-01 10:00:00", "extra"),   // clean
    ("2023-39", "not_int", "2024-01-01 10:00:00", "x"),  // bad cast
    (null, "10", "2024-01-01 10:00:00", "x"),            // required null
    ("2022-40", null, null, "x")                          // nullable nulls ok
  ).toDF("pk", "points", "seen", "junk")

  test("clean rows are cast and extra fields pruned") {
    val (ok, _) = Enforce.split(raw, schema)
    assert(ok.columns.toSeq == Seq("pk", "points", "seen"))
    val rows = ok.orderBy("pk").collect()
    assert(rows.length == 2)
    val clean = rows.find(_.getString(0) == "2023-39").get
    assert(clean.getLong(1) == 89L)
    assert(clean.getTimestamp(2).toString.startsWith("2024-01-01 10:00:00"))
  }

  test("nullable missing column is filled with typed nulls") {
    val df = Seq(("a")).toDF("pk")
    val (ok, dead) = Enforce.split(df, schema)
    assert(dead.count() == 0)
    val r = ok.collect()(0)
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("bad cast and required-null rows are diverted with tagged errors") {
    val (_, dead) = Enforce.split(raw, schema)
    val errs = dead.select("error").as[String].collect().toSet
    assert(errs == Set("cast_failure:points", "missing_required:pk"))
  }

  test("missing required column errors every row") {
    val df = Seq(("1")).toDF("points")
    val (ok, dead) = Enforce.split(df, schema)
    assert(ok.count() == 0 && dead.count() == 1)
  }

  test("every input row lands in exactly one of ok/dead (total function)") {
    val (ok, dead) = Enforce.split(raw, schema)
    assert(ok.count() + dead.count() == raw.count())
  }

  // generated (pk, points, seen) rows: clean, uncastable and null cells
  private val cell = {
    import org.scalacheck.Gen
    Gen.oneOf(
      Gen.const(null: String), Gen.numStr.map(_.take(9)),
      Gen.alphaStr.map(_.take(6)), Gen.const("2024-01-01 10:00:00"),
      Gen.const(""), Gen.const("-7"))
  }
  private val genRow = org.scalacheck.Gen.zip(cell, cell, cell)

  test("total-function property holds on generated rows (scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rows = Gen.listOfN(200, genRow)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val df = rows.toDF("pk", "points", "seen")
    val (ok, dead) = Enforce.split(df, schema)
    assert(ok.count() + dead.count() == df.count())
    // every surviving row actually cast cleanly
    assert(ok.filter(col("pk").isNull).count() == 0)
  }

  test("group-level split dead-letters the whole group on any error") {
    val (ok, dead) = Enforce.splitByGroup(raw, schema, "pk")
    // group "2023-39" has one bad row -> both rows dead; null-pk group dead;
    // only the clean 2022-40 group survives.
    assert(ok.count() == 1)
    assert(dead.count() == 3)
  }

  test("the in-row group verdict equals tagByGroup's window verdict (scalacheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // small groups, so that some are all clean; the frame may lack the
    // nullable `seen` field, read as absent by both verdicts
    val groups = Gen.listOfN(200, Gen.zip(Gen.choose(0, 149), genRow))
      .apply(Gen.Parameters.default, Seed(11L)).get
    val df = groups.map { case (g, (pk, points, seen)) => (g, pk, points, seen) }
      .toDF("g", "pk", "points", "seen")
    for (fields <- Seq(Seq("pk", "points", "seen"), Seq("pk", "points"))) {
      val rows = df.select(col("g") +: fields.map(col): _*)
      val window = Enforce.tagByGroup(rows, schema, "g").select("g", "group_error")
        .distinct().as[(Int, String)].collect().toMap
      val rowType = rows.drop("g").schema
      val inRow = rows.groupBy("g").agg(collect_list(struct(fields.map(col): _*)).as("rows"))
        .select(col("g"), Enforce.groupError(col("rows"), rowType, schema))
        .as[(Int, String)].collect().toMap
      assert(window.size == groups.map(_._1).distinct.size)
      assert(window.values.exists(_ == null) && window.values.exists(_ != null), window)
      assert(inRow == window, (inRow.toSet diff window.toSet).mkString(", "))
    }
  }

  test("observed metrics emit one JSON line per action with zero extra scans (O5 analog)") {
    val collector = new graft.engine.Metrics.Collector
    val listener = collector.listener
    spark.listenerManager.register(listener)
    try {
      val annotated = Enforce.withError(raw, schema)
      val observed = annotated.observe("enforce_metrics",
        count(lit(1)).as("n_rows"),
        count(col("error")).as("n_dead"))
      observed.collect()
      // listener bus is async — poll briefly
      val deadline = System.nanoTime() + 10000000000L
      while (collector.lines.forall(!_.contains("enforce_metrics")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val lines = collector.lines.filter(_.contains("enforce_metrics"))
      assert(lines.nonEmpty, s"captured: ${collector.lines}")
      assert(lines.last.contains("\"n_rows\": 4") && lines.last.contains("\"n_dead\": 2"),
        lines.last)
    } finally spark.listenerManager.unregister(listener)
  }

  test("unsupported schema type fails fast (ref helpers.py:89-90)") {
    intercept[IllegalArgumentException] { FieldSpec("x", "FLOAT") }
  }

  test("dead-letter JSON carries PK and error (ref pipeline.py:57-63)") {
    val (_, dead) = Enforce.split(raw, schema)
    val docs = Enforce.deadLetterJson(dead, "pk").as[String].collect().sorted
    assert(docs.exists(_.contains(""""error":"cast_failure:points"""")))
    assert(docs.forall(_.startsWith("{")))
  }

  test("schema evolution: records enforce under their declared version, align to the target layout") {
    import graft.engine.SchemaRegistry
    // generation 1 typed points as STRING; generation 2 tightened it
    // to INTEGER — alignment must CAST old records into the target
    // type, not let the union coerce the table back to string
    val v1 = SchemaRegistry.parse(
      """{"version": 1, "fields": [
        |  {"name": "pk", "type": "STRING", "mode": "REQUIRED"},
        |  {"name": "points", "type": "STRING"},
        |  {"name": "schema_version", "type": "STRING"}]}""".stripMargin)
    val v2 = SchemaRegistry.parse(
      """{"version": 2, "fields": [
        |  {"name": "pk", "type": "STRING", "mode": "REQUIRED"},
        |  {"name": "points", "type": "INTEGER"},
        |  {"name": "capacity", "type": "INTEGER"},
        |  {"name": "schema_version", "type": "STRING"}]}""".stripMargin)
    val reg = Map(1 -> v1, 2 -> v2)
    val mixed = Seq(
      // v1 record: capacity is NOT part of generation 1 — whatever
      // rides in that column is pruned by v1 enforcement, never
      // validated, and must NOT leak into the aligned output
      ("a-1", "10", "99999", "1"),
      ("b-2", "20", "54000", "2"),     // v2 record with the new field
      ("c-2", "30", "not_int", "2"),   // v2 record failing the NEW field's cast
      ("d-9", "40", null, "9"),        // unregistered version
      // v1 record whose points was VALID under v1 (STRING) but is
      // unrepresentable in the v2 INTEGER layout — silent-loss
      // candidate; must dead-letter as alignment loss, not land as null
      ("e-1", "junk", null, "1")
    ).toDF("pk", "points", "capacity", "schema_version")
    val (ok, dead) = SchemaRegistry.enforceByVersion(mixed, reg, target = v2)
    assert(ok.schema("points").dataType == org.apache.spark.sql.types.LongType,
      "aligned output must carry the TARGET type, not the union coercion")
    val okRows = ok.collect().map(r => r.getString(0) ->
      (r.getAs[Any]("points"), r.getAs[Any]("capacity"))).toMap
    // v1 record lands in the v2 layout with capacity null (not its
    // raw capacity value — that column does not exist in generation 1)
    assert(okRows("a-1") == ((10L, null)))
    assert(okRows("b-2") == ((20L, 54000L)))
    assert(!okRows.contains("c-2") && !okRows.contains("d-9") && !okRows.contains("e-1"))
    val deadRows = dead.select("pk", "error").as[(String, String)].collect().toMap
    assert(deadRows("c-2") == "cast_failure:capacity")
    assert(deadRows("d-9") == "unknown_schema_version")
    assert(deadRows("e-1") == "alignment_cast_loss:points")
  }

  test("version routing is a total function: every generated row lands in exactly one side") {
    import graft.engine.SchemaRegistry
    import org.scalacheck.{Gen, rng}
    val v1 = SchemaRegistry.parse(
      """{"version": 1, "fields": [
        |  {"name": "pk", "type": "STRING", "mode": "REQUIRED"},
        |  {"name": "points", "type": "INTEGER"},
        |  {"name": "schema_version", "type": "STRING"}]}""".stripMargin)
    val v2 = SchemaRegistry.parse(
      """{"version": 2, "fields": [
        |  {"name": "pk", "type": "STRING", "mode": "REQUIRED"},
        |  {"name": "points", "type": "INTEGER"},
        |  {"name": "capacity", "type": "INTEGER"},
        |  {"name": "schema_version", "type": "STRING"}]}""".stripMargin)
    val rows = Gen.listOfN(200, for {
      pk <- Gen.option(Gen.alphaNumStr.map(_.take(8)))
      pts <- Gen.oneOf(Gen.const(null: String), Gen.choose(0, 99).map(_.toString),
        Gen.const("junk"))
      cap <- Gen.oneOf(Gen.const(null: String), Gen.choose(0, 9).map(_.toString))
      v <- Gen.oneOf(null: String, "1", "2", "3", "x")
    } yield (pk.orNull, pts, cap, v))
      .apply(Gen.Parameters.default, rng.Seed(5L)).get
    val df = rows.toDF("pk", "points", "capacity", "schema_version")
    val (ok, dead) = SchemaRegistry.enforceByVersion(df, Map(1 -> v1, 2 -> v2), v2)
    assert(ok.count() + dead.count() == rows.size,
      "rows lost or duplicated across the ok/dead split")
    assert(dead.filter(col("error").isNull).count() == 0)
  }
}
