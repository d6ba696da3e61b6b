package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** `Dedup.dropContainedMinimal` peels its containment edge set in one of
  * two regimes: on the driver when the edges fit under a byte bound (the
  * session's broadcast threshold), distributed otherwise. Both regimes
  * must keep the same docs, keep the same cyclic remainders and fail the
  * same way past `maxIter`; the driver regime must leave none of its
  * checkpoint blocks behind. Each case runs the peel core at bound
  * `Long.MaxValue` (always the driver) and at 0 (always the loop). */
class ContainmentPeelSpec extends SparkSpec {
  import spark.implicits._

  private val OnDriver = Long.MaxValue
  private val OnCluster = 0L

  private def kept(docs: DataFrame, pairs: DataFrame, bound: Long, maxIter: Int = 20): Set[Any] =
    Dedup.peelContainment(docs, col("doc_id"), pairs, maxIter, bound)
      .select("doc_id").collect().map(_.get(0)).toSet

  /** The docs both regimes keep of `docs` over `pairs`, required equal. */
  private def keptByBoth(docs: DataFrame, pairs: DataFrame): Set[Any] = {
    val driver = kept(docs, pairs, OnDriver)
    val cluster = kept(docs, pairs, OnCluster)
    assert(driver == cluster, s"driver regime kept $driver, distributed loop kept $cluster")
    driver
  }

  private def textPairs(corpus: DataFrame, n: Int = Dedup.DefaultShingleN): DataFrame =
    Dedup.containmentPairs(corpus, col("doc_id"), col("text"), n, threshold = 0.9)

  private def edgeFrame(edges: Seq[(Long, Long)]): DataFrame =
    edges.toDF("contained", "container")

  private def nodes(ids: Iterable[Long]): DataFrame = ids.toSeq.toDF("doc_id")

  test("the P ⊂ H ⊂ X chain, its mutual twin and string ids: both regimes keep the same docs") {
    val ts = (1 to 20).map(i => f"w$i%02d")
    val x = ts.mkString(" ")
    val h = (ts.take(14) :+ "zz").mkString(" ")
    val p = (ts.slice(7, 14) :+ "zz").mkString(" ")
    val chain = Seq((1L, x), (2L, h), (3L, p)).toDF("doc_id", "text")
    assert(keptByBoth(chain, textPairs(chain)) == Set(1L, 3L))
    val twins = chain.unionAll(Seq((10L, x)).toDF("doc_id", "text"))
    assert(keptByBoth(twins, textPairs(twins)) == Set(1L, 3L))
    val words = (1 to 30).map(i => s"w$i")
    val named = Seq(("doc-a", words.take(12).mkString(" ")), ("doc-b", words.mkString(" ")))
      .toDF("doc_id", "text")
    assert(keptByBoth(named, textPairs(named)) == Set("doc-b"))
  }

  test("a containment cycle below t = 1.0 is kept whole by both regimes") {
    // token sets at n = 1, t = 0.9: Y ⊂ Z (91/100) and Z ⊂ X (98/103)
    // one way only, while X and Y contain each other (100/110, 1.0) and
    // fold to X ⊂ Y under the keep-min-id rule: the cycle
    // Y → Z → X → Y has no sink. W sits inside all three.
    def toks(ranges: Range*) = ranges.flatten.map(i => s"t$i").mkString(" ")
    val corpus = Seq(
      (1L, toks(1 to 100)),                                  // Y
      (2L, toks(1 to 91, 201 to 207, 301 to 305)),           // Z
      (3L, toks(1 to 100, 201 to 210)),                      // X
      (4L, toks(1 to 50)),                                   // W
      (5L, toks(401 to 420)))                                // unrelated
      .toDF("doc_id", "text")
    val pairs = textPairs(corpus, n = 1)
    val edges = pairs.select("contained", "container").as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L)).subsetOf(edges), s"fixture pairs: $edges")
    assert(!edges.exists { case (a, b) => a == 2L && b == 1L || a == 3L && b == 2L },
      s"fixture pairs: $edges")
    assert(keptByBoth(corpus, pairs) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("random small edge lists (cycles, mutual pairs, multi-round chains): both regimes agree") {
    import org.scalacheck.{Gen, rng}
    val start = Gen.choose(1L, 12L)
    val chain = for { s <- start; len <- Gen.choose(2, 7) } yield
      (0 until len - 1).map(i => (s + i, s + i + 1))
    val cycle = for { s <- start; len <- Gen.choose(2, 4) } yield
      (0 until len).map(i => (s + i, s + (i + 1) % len))
    val mutual = for { a <- start; b <- start } yield Seq((a, b), (b, a))
    val single = for { a <- start; b <- start } yield Seq((a, b))
    val edgeList = Gen.choose(1, 5)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf(chain, cycle, mutual, single)))
      .map(_.flatten.filter { case (a, b) => a != b }.distinct)
    val cases = Gen.listOfN(16, edgeList).apply(Gen.Parameters.default, rng.Seed(58L)).get
    val docs = nodes(1L to 20L)
    val multiRound = cases.filter(_.nonEmpty).count { edges =>
      val pairs = edgeFrame(edges)
      keptByBoth(docs, pairs)
      scala.util.Try(kept(docs, pairs, OnDriver, maxIter = 1)).isFailure
    }
    assert(multiRound > 0, "no generated case needed more than one peel round")
  }

  test("a chain deeper than maxIter fails the same way in both regimes") {
    // 1 ⊂ 2 ⊂ … ⊂ 6 peels in three rounds
    val docs = nodes(1L to 6L)
    val pairs = edgeFrame((1L to 5L).map(i => (i, i + 1)))
    val errors = Seq(OnDriver, OnCluster).map { bound =>
      intercept[IllegalArgumentException](kept(docs, pairs, bound, maxIter = 2)).getMessage
    }
    assert(errors.distinct.size == 1 && errors.head.contains("did not resolve in 2 rounds"), errors)
    assert(keptByBoth(docs, pairs) == Set(2L, 4L, 6L))
  }

  test("the driver regime releases its checkpoint before returning; the loop's stays until releaseAll") {
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val docs = nodes(1L to 3L)
    val pairs = edgeFrame(Seq((3L, 2L), (2L, 1L)))
    Caches.releaseAll()
    val before = persisted
    val onDriver = Dedup.peelContainment(docs, col("doc_id"), pairs, 20, OnDriver)
    assert((persisted -- before).isEmpty, s"left after the driver regime: ${persisted -- before}")
    assert(onDriver.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    // string ids take the driver regime too
    val named = Dedup.peelContainment(Seq("a", "b", "c").toDF("doc_id"), col("doc_id"),
      Seq(("c", "b"), ("b", "a")).toDF("contained", "container"), 20, OnDriver)
    assert((persisted -- before).isEmpty, s"left after string ids: ${persisted -- before}")
    assert(named.select("doc_id").as[String].collect().toSet == Set("a", "c"))
    val onCluster = Dedup.peelContainment(docs, col("doc_id"), pairs, 20, OnCluster)
    val loopBlocks = persisted -- before
    assert(loopBlocks.nonEmpty, "the distributed loop's result reads its last checkpoint")
    assert(onCluster.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    Caches.releaseAll()
    assert((loopBlocks & persisted).isEmpty)
  }
}
