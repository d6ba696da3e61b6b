package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Session-wide registry of every storage pin the library takes — the
  * cache-lifetime contract for operator-internal `persist`s and loop
  * `localCheckpoint`s.
  *
  * Several operators pin an intermediate that multiple plan branches
  * consume (`Dedup.nearDuplicates`' shingle sets, `segmentDedup`'s
  * per-(hash, doc) groups, `bigramLm`'s bigram counts): without the
  * pin, one terminal action would re-derive the dominant scan once per
  * branch. Those frames are returned LAZY, so the operator itself has
  * no "after the action" moment at which to unpersist — the caller
  * does. The contract:
  *
  *  1. operators pin through [[pin]] / [[checkpoint]], never raw
  *     `persist`/`localCheckpoint`;
  *  2. when a caller is completely done with the results of the
  *     operators it invoked (bench harnesses between queries, a
  *     streaming micro-batch after its writes, tests in teardown), it
  *     releases them — which drops exactly the library's blocks and
  *     NOTHING else. A co-tenant's `df.cache()` in the same
  *     SparkSession survives, which `spark.catalog.clearCache()`
  *     (the old contract) could not promise.
  *
  * A pin has one of two lifetimes, each kept by one `Scope`: the
  * session root, released by [[releaseAll]], or a thread's [[scoped]]
  * block, released when the block exits. Driver-side memos that must
  * not outlive a query (Similarity's codebooks, Normalize's observed
  * dead letters) register an [[onRelease]] hook instead; hooks run at
  * [[releaseAll]] only.
  *
  * After `releaseAll`, frames previously returned by graft operators
  * are invalid for further actions: persisted ones silently recompute
  * (correct, just slow), but localCheckpoint-backed ones (the loop
  * operators' results, `Prefix.runningTotal`) lose their only copy —
  * lineage was truncated, so a later action fails rather than
  * recomputing. Release only at a true "done with everything"
  * boundary.
  *
  * Persisted Datasets are held STRONGLY until released — the
  * CacheManager pins their storage regardless, and a weak handle
  * would be collected with the operator's local variable, leaving
  * the cache unreleasable. Checkpoint RDD handles are weak: their
  * blocks ARE eligible for the ContextCleaner's usual async cleanup
  * once unreferenced, so a forgotten release degrades to the
  * pre-registry behavior instead of a stronger leak.
  */
object Caches {

  /** One pin registry: the session root and every thread's [[scoped]]
    * block are each a `Scope`. Pins and checkpoints register with the
    * current thread's innermost scope, or with the root when none is
    * active. Thread scopes are what let two concurrent streams'
    * micro-batches (each on its own foreachBatch thread) release only
    * their own in-flight frames: a global [[releaseAll]] at a batch
    * boundary would also kill a concurrent BFS stream's checkpointed
    * frontier, which is lineage-truncated, so an external release
    * fails its next action rather than just dropping its cache. */
  private final class Scope {
    val ds = new ConcurrentLinkedQueue[Dataset[_]]()
    val rdds = new ConcurrentLinkedQueue[WeakReference[RDD[_]]]()
    /** Drains by `poll`, so a pin registered while the release runs
      * is either dropped now or kept for the next release. */
    def release(): Unit = {
      drain(ds)(_.unpersist(blocking = false))
      drain(rdds)(unpersist)
    }
  }

  private def drain[A](q: ConcurrentLinkedQueue[A])(f: A => Unit): Unit = {
    var a = q.poll()
    while (a != null) { f(a); a = q.poll() }
  }

  private def unpersist(ref: WeakReference[RDD[_]]): Unit = {
    val r = ref.get()
    if (r != null) r.unpersist(blocking = false)
    ref.clear()
  }

  private val root = new Scope
  private val currentScope = new ThreadLocal[Scope]()
  private def active: Scope = Option(currentScope.get).getOrElse(root)

  /** Run `f` with a pin scope on this thread and release ONLY the
    * pins/checkpoints it registered. Pins taken by OTHER threads
    * during the block go to their own scope or the root. For callers
    * with a hard done-boundary whose SparkSession may host other graft
    * work concurrently — streaming micro-batches are the canonical
    * case. Frames pinned inside are invalid for actions after the
    * block (the [[releaseAll]] caveat, scoped). Nests: the inner scope
    * releases its own pins, the outer keeps its. */
  def scoped[T](f: => T): T = {
    val outer = currentScope.get()
    val s = new Scope
    currentScope.set(s)
    try f finally {
      if (outer == null) currentScope.remove() else currentScope.set(outer)
      s.release()
    }
  }

  /** Persist `ds` at `level` and register it for [[releaseAll]] (or
    * for the active thread's [[scoped]] block, if any). */
  def pin[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    active.ds.add(ds)
    ds
  }

  /** `localCheckpoint` whose storage blocks the registry can actually
    * release: `Dataset.unpersist` reaches only CacheManager entries,
    * not the RDD-level blocks a checkpoint pins, so the freshly
    * persisted RDDs are captured by snapshot diff around the call.
    * Returns the checkpointed frame plus a release thunk for THIS
    * checkpoint alone — loop operators release round k's blocks as
    * soon as round k+1 is materialized, bounding the loop's storage
    * at two rounds instead of all of them. The thunk is idempotent;
    * [[releaseAll]] (or the active [[scoped]] block) also covers these
    * blocks. */
  def checkpoint(df: DataFrame, eager: Boolean = true)
      : (DataFrame, () => Unit) = synchronized {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(eager)
    val refs = sc.getPersistentRDDs
      .collect { case (k, r) if !before.contains(k) => new WeakReference[RDD[_]](r) }.toList
    refs.foreach(active.rdds.add)
    (out, () => refs.foreach(unpersist))
  }

  /** Run `f` with adaptive query execution DISABLED on `spark` — the
    * iterative-loop planning discipline (PageRank, connected
    * components): a loop round is a FIXED, known plan (skinny
    * groupBy + co-partitioned join), so AQE buys nothing inside it,
    * while costing twice per round: (1) an AdaptiveSparkPlan reports
    * UnknownPartitioning until materialized, so `localCheckpoint`
    * cannot preserve the round output's hash partitioning and every
    * subsequent round RE-EXCHANGES node-scale state that is already
    * correctly partitioned (measured: with AQE off the checkpoint
    * carries hashpartitioning(id) and a round's only exchange is the
    * inherent edge-scale transpose); (2) AQE schedules one job per
    * shuffle stage, tripling per-round driver scheduling. The flag is
    * consulted at ACTION time, so the wrap must cover the loop's
    * actions, not its plan construction. Session-scoped flip under
    * the documented single-process harness contract; always restored.
    *
    * Applies to UNIFORM loops only — state size roughly constant per
    * round (PageRank, connected-components label propagation, BFS
    * frontiers): there the round plan never changes and partitioning
    * reuse dominates. SHRINKING loops (k-core peel, star-rewiring
    * components), whose per-round frames contract by data-dependent
    * factors, measure FASTER under AQE (runtime coalescing tracks the
    * shrinkage) — they deliberately do NOT use this wrapper
    * (A/B-measured at sf0.1: kcore 1.3 s AQE vs 2.3 s static, star
    * 1.8 vs 2.4; pagerank 1.9 static vs 3.4 AQE, CC 1.3 vs 1.7).
    *
    * CONCURRENCY CONTRACT: the flip is session-wide and consulted at
    * action time, so any OTHER query running actions on the SAME
    * session while a wrapped loop is in flight plans without AQE for
    * that window — in particular a join whose broadcast conversion is
    * AQE-provided would silently fall back to a shuffle join. This is safe
    * under the library's documented execution model (one logical
    * query per session at a time — the same single-process contract
    * Caches.scoped and the staging work dirs already assume); if
    * concurrent same-session use is ever supported, this must become
    * a per-query scope (SQLConf.withExistingConf / a cloned session)
    * rather than a set/restore on the shared conf. */
  def staticLoopPlans[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T =
    withConf(spark, "spark.sql.adaptive.enabled", _ => "false")(f)

  /** Scale-adaptive ROUND WIDTH for iterative loop operators (r21,
    * guide §2.2 "size shuffle partitions to the data" / §2 "derive
    * from input size, never a constant"): with [[staticLoopPlans]]
    * disabling AQE inside loops, every round's join/aggregation runs
    * at the session's full `spark.sql.shuffle.partitions` — for a
    * loop whose per-round operand is `rows` rows of a few longs,
    * that is hundreds of near-empty tasks per round whose scheduling
    * overhead IS the round (measured r21: g01/g05 rounds at width 8
    * beat width 32 by 35-45% on a 907k-edge graph; width 1 loses 2×
    * by serializing the real join work). This scopes the session
    * width to clamp(rows/65536, 1, session width) for the loop body
    * — the SAME 64k-rows-per-partition rule the loop checkpoints
    * already use — and restores it after. At production scale
    * rows/65536 exceeds any session width, so this is the identity
    * exactly when full width is right. The FLOOR is 2, not 1: width
    * 1 measured 2× WORSE than the formula (it serializes the real
    * join work), and a 1-partition keyed repartition is a literal
    * single-partition exchange in the returned plan — the exact
    * funnel PlanLint exists to flag. Same set/restore concurrency
    * contract as [[staticLoopPlans]] (one logical query per session
    * at a time). Results are width-independent (the GRAFT_TEST_SHUFFLE
    * sweep class pins that). */
  def loopWidth[T](spark: org.apache.spark.sql.SparkSession, rows: Long)(f: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions",
      prev => math.min(prev.toLong, math.max(2L, rows / 65536L)).toString)(f)

  /** Set `key` on `spark`'s session conf to `next` of its current
    * value for the duration of `f`, and always restore it. */
  private def withConf[T](spark: org.apache.spark.sql.SparkSession, key: String,
      next: String => String)(f: => T): T = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, next(prev))
    try f finally spark.conf.set(key, prev)
  }

  /** Query-boundary invalidation hooks (r20): operator-layer memos
    * (Similarity's per-centroids-frame codebook/fingerprint) register
    * here once and are cleared on every [[releaseAll]] — the same
    * boundary at which pinned frames die. This is what makes such a
    * memo an intra-query optimization rather than cross-run caching:
    * Bench calls releaseAll before EVERY timed run and Verify between
    * queries, so no collected codebook or fingerprint survives into
    * another measurement or another query's oracle leg. */
  private val releaseHooks =
    new java.util.concurrent.CopyOnWriteArrayList[Runnable]()

  def onRelease(hook: Runnable): Unit = releaseHooks.add(hook)

  /** Drop every block the library pinned since the last release —
    * and only those. See the class doc for when this is safe. */
  def releaseAll(): Unit = {
    releaseHooks.forEach(_.run())
    root.release()
  }
}
