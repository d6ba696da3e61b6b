package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.AsOf

/** As-of join semantics + the two physical forms agreeing. */
class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val left = Seq(
    (1L, 7L, ts("2024-01-01 10:00:00")),
    (2L, 7L, ts("2024-01-01 12:00:00")),
    (3L, 8L, ts("2024-01-01 09:00:00")),  // before any right row for user 8
    (4L, 9L, ts("2024-01-01 09:00:00"))   // user with no right rows at all
  ).toDF("event_id", "user_id", "ts")

  private lazy val right = Seq(
    (7L, ts("2024-01-01 09:30:00"), 10.0),
    (7L, ts("2024-01-01 11:00:00"), 20.0),
    (7L, ts("2024-01-01 12:00:00"), 30.0), // equal timestamp: <= includes it
    (8L, ts("2024-01-01 10:30:00"), 40.0)
  ).toDF("p_user", "p_ts", "value")

  private def run(fn: => org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] =
    fn.select(col("event_id"), col("value"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap

  private val expected = Map(
    1L -> Some(10.0), // latest <= 10:00 is 09:30
    2L -> Some(30.0), // equal ts 12:00 wins over 11:00
    3L -> None,       // right rows exist but all later
    4L -> None)       // no right rows for key

  test("join+window form: latest right row at-or-before each left row") {
    val out = run(AsOf.asofJoin(left, right,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    assert(out == expected)
  }

  test("union-sorted form agrees with the join form (skew-safe variant)") {
    val out = run(AsOf.asofJoinSorted(left, right,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    assert(out == expected)
  }

  test("duplicate left rows each emit a row; right-time ties break deterministically") {
    // two FULLY identical left rows: left-join semantics emit both
    // (round-1 defect: a value-keyed window collapsed them)
    val dupLeft = Seq(
      (5L, 7L, ts("2024-01-01 12:00:00")),
      (5L, 7L, ts("2024-01-01 12:00:00"))
    ).toDF("event_id", "user_id", "ts")
    // two right rows with the SAME key+timestamp: greatest value wins
    val tieRight = Seq(
      (7L, ts("2024-01-01 11:00:00"), 111.0),
      (7L, ts("2024-01-01 11:00:00"), 222.0)
    ).toDF("p_user", "p_ts", "value")
    def vals(fn: => org.apache.spark.sql.DataFrame): Seq[Double] =
      fn.select(col("value")).collect().map(_.getDouble(0)).toSeq
    val a = vals(AsOf.asofJoin(dupLeft, tieRight,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    val b = vals(AsOf.asofJoinSorted(dupLeft, tieRight,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    assert(a == Seq(222.0, 222.0), s"join form: $a")
    assert(b == Seq(222.0, 222.0), s"sorted form: $b")
  }

  test("latest right row is picked ATOMICALLY even when its payload columns are null") {
    // right row at t=2 has y=null; a per-column carry would stitch
    // y=9.0 from the older row onto x=2 — a tuple that never existed
    val l2 = Seq((1L, 7L, ts("2024-01-01 12:00:00"))).toDF("event_id", "user_id", "ts")
    val r2 = Seq(
      (7L, ts("2024-01-01 10:00:00"), Some(1.0), Some(9.0)),
      (7L, ts("2024-01-01 11:00:00"), Some(2.0), Option.empty[Double])
    ).toDF("p_user", "p_ts", "x", "y")
    def row(fn: => org.apache.spark.sql.DataFrame): (Option[Double], Option[Double]) = {
      val r = fn.select(col("x"), col("y")).head()
      (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    val a = row(AsOf.asofJoin(l2, r2, col("user_id"), col("p_user"),
      col("ts"), col("p_ts"), Seq("event_id"), Seq("x", "y")))
    val b = row(AsOf.asofJoinSorted(l2, r2, col("user_id"), col("p_user"),
      col("ts"), col("p_ts"), Seq("event_id"), Seq("x", "y")))
    assert(a == (Some(2.0), None), s"join form: $a")
    assert(b == (Some(2.0), None), s"sorted form: $b")
  }

  test("randomized agreement: join+window and union-sorted forms match on 400x400 generated rows") {
    // fixtures pin the known edge classes; this pins the classes
    // nobody thought of — dense key collisions, repeated times, and
    // payload ties drawn from a tiny domain so every tie rule fires
    val rnd = new scala.util.Random(4242)
    val lrows = (1 to 400).map { i =>
      (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(50).toLong)
    }
    val rrows = (1 to 400).map { _ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(50).toLong, rnd.nextInt(5).toDouble)
    }
    val l = lrows.toDF("event_id", "user_id", "us")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(us)").as("ts"))
    val r = rrows.toDF("p_user", "p_us", "value")
      .select(col("p_user"), expr("timestamp_micros(p_us)").as("p_ts"),
        col("value"))
    val a = run(AsOf.asofJoin(l, r,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    val b = run(AsOf.asofJoinSorted(l, r,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    assert(a.size == 400 && a == b,
      s"forms disagree on ${a.toSet.diff(b.toSet).take(3)} ...")
  }

  test("logical-plan operator form (Catalyst node + rewrite rule) agrees with the composed form") {
    val out = AsOf.asofJoin(left, right,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value"))
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val viaPlan = graft.plans.AsOfJoinPlan.asofJoin(left, right,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"))
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(viaPlan == expected)
    assert(viaPlan == out)
    // a raw node lowers to ordinary operators (what asofJoin applies)
    val raw = graft.plans.AsOfJoinPlan(
      org.apache.spark.sql.GraftExpressionBridge.logicalPlan(left),
      org.apache.spark.sql.GraftExpressionBridge.logicalPlan(right),
      org.apache.spark.sql.GraftExpressionBridge.expressionEager(left("user_id")),
      org.apache.spark.sql.GraftExpressionBridge.expressionEager(right("p_user")),
      org.apache.spark.sql.GraftExpressionBridge.expressionEager(left("ts")),
      org.apache.spark.sql.GraftExpressionBridge.expressionEager(right("p_ts")))
    val lowered = graft.plans.AsOfJoinPlan.lower(raw)
    assert(!lowered.exists(_.isInstanceOf[graft.plans.AsOfJoinPlan]),
      "lowering must eliminate the custom node")
  }

  test("PHYSICAL merge operator: plans AsOfMergeJoinExec, agrees on all semantic fixtures") {
    val df = graft.plans.AsOfJoinPlan.asofJoinPhysical(left, right,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfMergeJoin"), s"strategy did not fire:\n$p")
    assert(!p.contains("Window") && !p.toLowerCase.contains("sortmergejoin"),
      s"merge operator must not plan a join+window:\n$p")
    assert(run(df) == expected)
    // duplicate left rows + right-time ties: same contract as the
    // logical forms (both dups emit; greatest tuple wins the tie)
    val dupLeft = Seq(
      (5L, 7L, ts("2024-01-01 12:00:00")),
      (5L, 7L, ts("2024-01-01 12:00:00"))).toDF("event_id", "user_id", "ts")
    val tieRight = Seq(
      (7L, ts("2024-01-01 11:00:00"), 111.0),
      (7L, ts("2024-01-01 11:00:00"), 222.0)).toDF("p_user", "p_ts", "value")
    val tied = graft.plans.AsOfJoinPlan.asofJoinPhysical(dupLeft, tieRight,
        col("user_id"), col("p_user"), col("ts"), col("p_ts"))
      .select(col("value")).collect().map(_.getDouble(0)).toSeq
    assert(tied == Seq(222.0, 222.0), s"physical form: $tied")
    // null keys and null times never match (the lowered-form contract)
    val nullLeft = Seq(
      (1L, Option(7L), Option(ts("2024-01-01 12:00:00"))),
      (2L, Option.empty[Long], Option(ts("2024-01-01 12:00:00"))),
      (3L, Option(7L), Option.empty[Timestamp])
    ).toDF("event_id", "user_id", "ts")
    val nullRight = Seq(
      (Option(7L), Option(ts("2024-01-01 10:00:00")), 1.0),
      (Option(7L), Option.empty[Timestamp], 2.0),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00")), 3.0)
    ).toDF("p_user", "p_ts", "value")
    val nulls = run(graft.plans.AsOfJoinPlan.asofJoinPhysical(nullLeft, nullRight,
      col("user_id"), col("p_user"), col("ts"), col("p_ts")))
    assert(nulls == Map(1L -> Some(1.0), 2L -> None, 3L -> None))
  }

  test("PHYSICAL merge operator: random-data equivalence with the lowered form") {
    import org.scalacheck.{Gen, rng}
    val g = for {
      nl <- Gen.choose(0, 60)
      nr <- Gen.choose(0, 60)
      ls <- Gen.listOfN(nl, Gen.zip(Gen.choose(1L, 5L), Gen.choose(0L, 50L)))
      rs <- Gen.listOfN(nr, Gen.zip(Gen.choose(1L, 5L), Gen.choose(0L, 50L), Gen.choose(0, 9)))
    } yield (ls, rs)
    val cases = Gen.listOfN(4, g).apply(Gen.Parameters.default, rng.Seed(31L)).get
    cases.foreach { case (ls, rs) =>
      val l = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("event_id", "user_id", "ts")
      val r = rs.map { case (k, t, v) => (k, t, v.toDouble) }
        .toDF("p_user", "p_ts", "value")
      val lowered = run(graft.plans.AsOfJoinPlan.asofJoin(l, r,
        col("user_id"), col("p_user"), col("ts"), col("p_ts")))
      val physical = run(graft.plans.AsOfJoinPlan.asofJoinPhysical(l, r,
        col("user_id"), col("p_user"), col("ts"), col("p_ts")))
      assert(physical == lowered, s"nl=${ls.size} nr=${rs.size}")
    }
  }

  test("optimizer rule: left predicates push through the standing node, right ones stay") {
    val df = graft.plans.AsOfJoinPlan.asofJoinPhysical(left, right,
        col("user_id"), col("p_user"), col("ts"), col("p_ts"))
      .filter(col("event_id") > 1 && col("value") > 15.0)
    val node = df.queryExecution.optimizedPlan.collectFirst {
      case a: graft.plans.AsOfJoinPlan => a
    }.getOrElse(fail("node missing from optimized plan"))
    // the left-only conjunct moved below the node: the left child is
    // exactly the left side filtered alone (the injected rule runs in
    // the operator-optimization batch, so the pushed filter is then
    // folded into the local relation like any other)…
    assert(node.left == left.filter(col("event_id") > 1).queryExecution.optimizedPlan,
      s"left filter not pushed:\n${df.queryExecution.optimizedPlan}")
    // …the right-side conjunct did NOT (it would change which right
    // row is latest), and results match filtering the lowered form
    assert(node.right == right.queryExecution.optimizedPlan,
      s"right filter must not push through an as-of join:\n${df.queryExecution.optimizedPlan}")
    val want = AsOf.asofJoin(left, right,
        col("user_id"), col("p_user"), col("ts"), col("p_ts"),
        Seq("event_id"), Seq("value"))
      .filter(col("event_id") > 1 && col("value") > 15.0)
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = df.select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want && got == Map(2L -> 30.0))
  }

  test("both forms agree on real data (events self as-of)") {
    val ev = graft.engine.Tables.events(spark, sfDir)
    val errors = ev.filter(col("event_type") === "error").select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
    val a = run(AsOf.asofJoin(errors, purchases,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"), Seq("event_id"), Seq("value")))
    val b = run(AsOf.asofJoinSorted(errors, purchases,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"), Seq("event_id"), Seq("value")))
    assert(a == b && a.nonEmpty)
  }

  test("NULL keys: both forms agree a null-key left row matches nothing (equality semantics)") {
    // a null-key right row can never match under the join form's ===;
    // before the r15 fix the sorted form's partitionBy grouped null
    // keys into a live partition and carried the match
    val l = Seq((1L, Option.empty[Long], ts("2024-01-01 12:00:00")),
        (2L, Option(7L), ts("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val r = Seq((Option.empty[Long], ts("2024-01-01 10:00:00"), 99.0),
        (Option(7L), ts("2024-01-01 10:00:00"), 10.0))
      .toDF("p_user", "p_ts", "value")
    val a = run(AsOf.asofJoin(l, r,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    val b = run(AsOf.asofJoinSorted(l, r,
      col("user_id"), col("p_user"), col("ts"), col("p_ts"),
      Seq("event_id"), Seq("value")))
    val want = Map(1L -> None, 2L -> Some(10.0))
    assert(a == want && b == want)
  }
}
