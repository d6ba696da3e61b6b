package graft

/** The pin-lifetime contract of `graft.Caches`: a thread's `scoped`
  * block releases exactly the pins and checkpoints that thread took
  * inside it, the session root keeps everything else until
  * `releaseAll`, and a checkpoint's own release thunk composes with
  * both. Storage is counted with `sc.getPersistentRDDs`, like
  * OperatorsSpec's cache-contract test. */
class CachesSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  // distinct plans, so the CacheManager never shares one entry
  // between two pins
  private def frame(n: Long) = spark.range(0, n).toDF("id")

  /** The persistent RDD ids a materialized pin of `frame(n)` added. */
  private def pinned(n: Long): Set[Int] = {
    val before = persisted
    Caches.pin(frame(n)).count()
    persisted -- before
  }

  /** The ids a checkpoint of `frame(n)` added, and its release thunk. */
  private def checkpointed(n: Long): (Set[Int], () => Unit) = {
    val before = persisted
    val release = Caches.checkpoint(frame(n))._2
    (persisted -- before, release)
  }

  test("pins and checkpoints taken inside scoped on one thread are gone when it exits") {
    var ids = Set.empty[Int]
    Caches.scoped {
      ids = pinned(1001) ++ checkpointed(1002)._1
      assert(ids.size >= 2, s"expected a pin and a checkpoint, got $ids")
      assert(ids.subsetOf(persisted))
    }
    assert((ids & persisted).isEmpty, s"left past the scope: ${ids & persisted}")
  }

  test("a pin taken on another thread during scoped survives the block; releaseAll drops it") {
    var mine = Set.empty[Int]
    var theirs = Set.empty[Int]
    Caches.scoped {
      mine = pinned(2001)
      val t = new Thread(() => theirs = pinned(2002))
      t.start()
      t.join()
    }
    assert(mine.nonEmpty && theirs.nonEmpty)
    assert((mine & persisted).isEmpty)
    assert(theirs.subsetOf(persisted), "the other thread's pin died with this thread's scope")
    Caches.releaseAll()
    assert((theirs & persisted).isEmpty)
  }

  test("a nested scope releases only its own pins") {
    var outer = Set.empty[Int]
    var inner = Set.empty[Int]
    Caches.scoped {
      outer = pinned(3001)
      Caches.scoped { inner = pinned(3002) ++ checkpointed(3003)._1 }
      assert(inner.nonEmpty && (inner & persisted).isEmpty)
      assert(outer.nonEmpty && outer.subsetOf(persisted),
        "the inner scope released the outer scope's pin")
    }
    assert((outer & persisted).isEmpty)
  }

  test("a checkpoint's release thunk is idempotent, and releaseAll after it is harmless") {
    val kept = pinned(4001)
    val (ids, release) = checkpointed(4002)
    assert(ids.nonEmpty && ids.subsetOf(persisted))
    release()
    assert((ids & persisted).isEmpty)
    assert(kept.subsetOf(persisted), "the thunk released another pin")
    release()
    Caches.releaseAll()
    assert(((ids ++ kept) & persisted).isEmpty)
    release()
  }
}
