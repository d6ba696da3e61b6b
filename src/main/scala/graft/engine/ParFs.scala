package graft.engine

/** Bounded-pool fan-out for DRIVER-SIDE filesystem round trips
  * (guide §5 "the driver should do almost no data work" / §7.3 —
  * commit-protocol and listing loops at the end of a write are
  * driver-side, single-threaded work). A sequence of independent FS
  * operations (listings, renames, deletes — milliseconds each
  * locally, tens to hundreds of milliseconds each on an object
  * store) runs on a pool of ≤16 threads instead of serializing on
  * the driver thread. Order-free by contract: callers pass only
  * operations whose results do not depend on each other (distinct
  * destination paths, idempotent mkdirs). Every task runs to
  * completion before the first failure is rethrown, so a failure
  * reports the true first cause rather than an interrupted pool.
  *
  * `xs` is forced to a strict Vector before any task is submitted: a
  * lazy Seq (a view, a LazyList) would otherwise interleave submit and
  * get and run the operations one at a time.
  *
  * Shared by Similarity.compactIvfLayout's per-partition
  * snapshot/swap loop and StagedJsonWrite's commit renames (r21). */
object ParFs {
  def apply[A, B](xs0: Seq[A])(f: A => B): Seq[B] = {
    val xs = xs0.toVector
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try {
        val futs = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = f(x)
          })
        }
        val tried = futs.map(fut => scala.util.Try(fut.get()))
        tried.collectFirst {
          case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
            throw e.getCause
          case scala.util.Failure(e) => throw e
        }
        tried.map(_.get)
      } finally pool.shutdown()
    }
  }
}
