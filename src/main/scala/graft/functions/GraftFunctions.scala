package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for graft's custom expressions, so
  * `SELECT poly_hash(text)` works alongside the Column API.
  *
  * `register(spark)` adds the missing ones to an existing session.
  * `GraftExtensions` installs them at session build time, together
  * with the as-of join's planner strategy and pushdown rule:
  * `GraftSession.builder` carries it, and a shared cluster deploys it
  * as `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Exact-arity guard: surplus arguments must error, not be silently
    * ignored (minhash_sig(h, 16) returning an 8-element signature
    * would corrupt downstream banding without a trace). */
  private def arity(name: String, ns: Set[Int])(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (!ns.contains(exprs.size)) throw new IllegalArgumentException(
        s"$name expects ${ns.toSeq.sorted.mkString(" or ")} argument(s), got ${exprs.size}")
      build(exprs)
    }

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "poly_hash" -> arity("poly_hash", Set(1))(exprs => PolyHash(exprs.head)),
    "poly_hash_shingles" -> arity("poly_hash_shingles", Set(2))(exprs =>
      PolyHashShingles(exprs.head, intArg(exprs(1), "shingle width"))),
    "token_shingle_hashes" -> arity("token_shingle_hashes", Set(2))(exprs =>
      TokenShingleHashes(exprs.head, intArg(exprs(1), "shingle width"))),
    "word_shingles" -> arity("word_shingles", Set(2))(exprs =>
      WordShingles(exprs.head, intArg(exprs(1), "shingle width"))),
    "minhash_sig" -> arity("minhash_sig", Set(1, 2))(exprs =>
      if (exprs.size == 2) MinHashSig(exprs.head, intArg(exprs(1), "k"))
      else MinHashSig(exprs.head)),
    "dot_product" -> arity("dot_product", Set(2))(exprs =>
      DotProduct(exprs.head, exprs(1))),
    "sorted_intersect_count" -> arity("sorted_intersect_count", Set(2))(exprs =>
      SortedIntersectCount(exprs.head, exprs(1))),
    "simhash_fold" -> arity("simhash_fold", Set(1))(exprs =>
      SimHashFold(exprs.head)),
    "cdc_chunks" -> arity("cdc_chunks", Set(3))(exprs =>
      CdcChunks(exprs.head, intArg(exprs(1), "window width"),
        intArg(exprs(2), "boundary mask").toLong)),
    "winnow_positions" -> arity("winnow_positions", Set(2))(exprs =>
      WinnowPositions(exprs.head, intArg(exprs(1), "winnow window"))),
    "delta_varint_encode" -> arity("delta_varint_encode", Set(1))(exprs =>
      DeltaVarintEncode(exprs.head)),
    "delta_varint_decode" -> arity("delta_varint_decode", Set(1))(exprs =>
      DeltaVarintDecode(exprs.head)))

  /** Adds each function the session does not have yet, so on a
    * session built with `GraftExtensions` it replaces nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private[functions] def install(e: SparkSessionExtensions): Unit = {
    fns.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[PolyHash].getName, name),
        builder))
    }
    // whole-operator extension: a standing AsOfJoinPlan (built by
    // asofJoinPhysical) plans as the O(n+m) physical merge operator,
    // and left predicates push through it; the lowered form
    // (asofJoin) never presents the node, so both are no-ops there
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinPushdown)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.install(e)
}
