package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative numeric graph analytics — PageRank-family fixpoints over
  * edge lists, in EXACT 64-bit fixed-point arithmetic so results
  * hash-match across engines (the t80/t85 design rule: no float enters
  * any comparison or any accumulated state).
  *
  * Scale shape: the graph lives as a distributed (src, dst) edge
  * frame, pinned hash-partitioned on the round join key so the
  * per-round contribution join reuses the cached partitioning; every
  * round is two shuffles (contribution transpose + rank re-join) over
  * skinny 2–3-long-column frames. Lineage is truncated per round via
  * [[graft.Caches]] (the d49/d54 loop discipline: round k's blocks
  * are released as soon as round k+1 materializes). No collect of
  * node- or edge-scale data — the only driver-side values are bounded
  * per-round scalars (convergence delta + dangling-mass total), which
  * ride the SAME action that materializes each round's checkpoint, so
  * a probed round costs exactly one job.
  *
  * SINGLE-ACTION CONTRACT (pageRank / pageRankWeighted /
  * labelPropagate): the FINAL round is returned as a pure,
  * unmaterialized plan over the last checkpoint — the cheap shape for
  * the common one-action caller (count, write, collect — exactly one).
  * A caller running MULTIPLE actions on the result (e.g. write then
  * count) re-executes that last round per action and its plan runs
  * under the session's normal AQE settings (the staticLoopPlans
  * AQE-off scope ends when the operator returns) — such callers should
  * pin the result (`Caches.pin(df)`) before the first action and
  * release at their usual `Caches.releaseAll()` boundary. */
object Graph {

  /** The iterative loops' per-round join hint (see pageRankRound's
    * rationale: SHJ streams the pinned edge frame unsorted instead of
    * re-sorting it every round; the hinted-vs-default A/B is in
    * NOTES.md, Round 12). */
  private def hintLoop(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** Distinct-per-container directed co-occurrence pairs: (src, dst)
    * for every pair of distinct members sharing a container (order,
    * basket, document...). `ordered = true` keeps only src < dst.
    *
    * Built as groupBy(container) → collect_set → pair explosion, NOT
    * the container self-join: the self-join pays an exchange + sort of
    * the full membership on BOTH sides (one reused exchange, but the
    * sort-merge still sorts every row), while this shape pays ONE
    * container-keyed exchange whose map-side partial collect_set
    * combines before shuffling, and the pair generation is a narrow
    * explosion. Re-measured under healthy per-arm parallel probes
    * (NOTES.md, Round 12): 0.91-1.02 s vs 1.65 s for the 907k-pair
    * supplier co-occurrence build, repartition+distinct included —
    * ~1.7× on both AQE settings (the r11 "2×" was from a throttled
    * host). A sorted-set slice-based ordered-pair variant measured a
    * wash vs filter(src < dst) (0.95 vs 0.94 s) — not adopted.
    *
    * The compact set frame is round-robin re-spread to the session
    * shuffle parallelism before exploding: the explosion multiplies
    * rows by fanout², which AQE's size-based coalesce cannot see — an
    * AQE-coalesced 1-partition set frame would run the whole pair
    * blow-up on one task. The extra exchange moves only |containers|
    * compact array rows.
    *
    * PRECONDITION: bounded container membership (the d65 maxDf
    * discipline — cap or drop hub containers upstream). A container's
    * member set lives as ONE array row, and its pair fan-out is s² —
    * both this shape and the self-join blow up on a 1e6-member
    * container; this one additionally holds the set in a single row.
    * Output rows are unique per container but NOT globally distinct —
    * callers dedup on their own key layout (every Graph loop already
    * repartitions + distincts its edge input). NULL containers are
    * dropped (groupBy would otherwise retain them as a group and emit
    * pairs among their members — the equi-self-join this build
    * replaced dropped null keys, and that is the semantics kept). */
  def coOccurrenceEdges(items: DataFrame, container: Column, member: Column,
      ordered: Boolean = false): DataFrame = {
    val parts = items.sparkSession.sessionState.conf.numShufflePartitions
    val pairs = items
      .select(container.as("graft_c"), member.cast("long").as("graft_m"))
      .filter(col("graft_c").isNotNull)
      .groupBy(col("graft_c"))
      .agg(collect_set(col("graft_m")).as("graft_ss"))
      .select(col("graft_ss"))
      .repartition(parts)
      .select(explode(col("graft_ss")).as("src"), col("graft_ss"))
      .select(col("src"), explode(col("graft_ss")).as("dst"))
    if (ordered) pairs.filter(col("src") < col("dst"))
    else pairs.filter(col("src") =!= col("dst"))
  }

  /** A loop's pre-shuffled pinned edge cache AT THE LOOP'S ROUND
    * WIDTH (r21, guide §2.2): the per-round joins reuse the cache's
    * hashpartitioning only when its partition count equals the
    * session's `spark.sql.shuffle.partitions` at round-planning time
    * — so the data-derived round width (see [[graft.Caches.loopWidth]])
    * must be decided BEFORE the pin, and the cache laid out at that
    * width, or every round silently re-exchanges the edge frame (the
    * exact shuffle the pin exists to avoid; measured r21: rounds at a
    * narrower width than the pin cost pageRank +0.8 s/query). The
    * count doubles as the cache materializer. When the derived width
    * equals the session width (any production graph), the re-layout
    * branch never runs — zero extra work at scale. */
  private def loopEdges(raw: DataFrame, key: String,
      dedup: DataFrame => DataFrame): (DataFrame, Long) = {
    val spark = raw.sparkSession
    val sessW = spark.sessionState.conf.numShufflePartitions
    val e0 = graft.Caches.pin(dedup(raw.repartition(col(key))))
    val rows = e0.count()
    // floor 2, matching Caches.loopWidth: a repartition(1, key) is a
    // literal single-partition exchange in every round plan AND the
    // returned final-round plan — the funnel PlanLint flags — and
    // width 1 measured 2× worse anyway (it serializes the join work)
    val w = math.min(sessW.toLong, math.max(2L, rows / 65536L)).toInt
    // both pins release at the session's Caches boundary; the narrow
    // copy reads the wide one once, lazily, at the first round action
    val e = if (w < sessW) graft.Caches.pin(e0.repartition(w, col(key)))
            else e0
    (e, rows)
  }

  /** PageRank in exact fixed point. `edges` is a directed simple-graph
    * edge list (`src`, `dst` — both integral; duplicates and self-loops
    * are dropped here). Ranks are BIGINT multiples of 1/`unit` (default
    * picounits, 1e-12): r₀ = unit div n, and each of `iters` rounds
    * computes
    *
    *   r'(v) = (15·base) div 100
    *         + (85·(Σ_{u→v} r(u) div outdeg(u) + dang div n)) div 100
    *
    * where base = unit div n and dang = Σ over dangling (outdeg-0)
    * nodes of r(u) — the standard damping-0.85 update with dangling
    * mass redistributed uniformly, every operation an integer add /
    * multiply / truncating division on non-negative operands (where
    * Spark's `div` and DuckDB's `//` agree bit-for-bit; 85·unit ≪ 2⁶³
    * so nothing overflows). Truncation loses ≤ 1 unit per division —
    * total mass drifts below 1.0 by parts-per-trillion, which is the
    * price of cross-engine exactness and is identical in both engines.
    *
    * Output: (id, rank_fp) for every node incident to an edge.
    * Isolated nodes (no edges at all) are not modeled — at 100 TB the
    * edge list IS the graph; a caller who wants them ranked can union
    * `(id, base)` rows afterwards.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      unit: Long = 1000000000000L, epsUnits: Long = 0L): DataFrame =
      graft.Caches.staticLoopPlans(edges.sparkSession) {
    require(iters >= 1, "pageRank needs at least one iteration")
    require(epsUnits >= 0L, "epsUnits must be non-negative")
    // pinned PRE-SHUFFLED on the per-round join key: the cached blocks
    // carry hashpartitioning(src), so every round's contribution join
    // reuses the partitioning instead of re-exchanging the (large)
    // edge frame — one upfront shuffle replaces one per iteration.
    // distinct AFTER the repartition, not before: hashpartitioning(src)
    // satisfies the dedup aggregate's ClusteredDistribution(src, dst)
    // (same-src rows are colocated), so the whole build is ONE
    // edge-scale exchange — distinct-then-repartition paid two. The
    // exchange carries raw (pre-dedup) rows; inputs with extreme
    // duplication should pre-dedupe upstream.
    val (e, eRows) = loopEdges(
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .filter(col("src") =!= col("dst")), "src", _.distinct())

    // (id, outdeg) in ONE aggregation over the pinned edges — the
    // former nodes-distinct + outdeg-groupBy + left-join trio was
    // three shuffling subtrees materialized as separate AQE stage
    // jobs; a tagged union folds them into a single groupBy (outdeg
    // NULL ⟺ the id never appears as src — the dangling marker the
    // rounds key on). outdeg is loop-INVARIANT: it rides the
    // checkpointed state (one extra long per node) instead of
    // re-joining every round. The initial checkpoint is LAZY; the
    // (n, dangling-count) agg below is the materializing action — one
    // job does both, and n/base/the initial dangling total all fall
    // out of it (initial ranks are uniform, so dang₀ = nDang·base
    // exactly).
    // state build, init aggregate and the probed rounds all run at
    // the edge-derived loop width (r21, see Caches.loopWidth /
    // loopEdges); the FINAL round is a pure plan the caller
    // materializes after the width is restored
    graft.Caches.loopWidth(edges.sparkSession, eRows) {
    var (state0, releaseState) = graft.Caches.checkpoint(
      e.select(col("src").as("id"), lit(1L).as("d"))
        .unionAll(e.select(col("dst").as("id"), lit(0L).as("d")))
        .groupBy(col("id"))
        .agg(when(sum(col("d")) > 0, sum(col("d"))).as("outdeg")),
      eager = false)
    val init = state0.agg(
      count(lit(1)), count(when(col("outdeg").isNull, lit(1)))).head()
    val n = init.getLong(0)
    // an EMPTY graph legitimately reaches here at corpus scale (an
    // upstream filter can drop every edge — the r15 empty-corpus
    // sweep class): ranks over no nodes are an empty frame, not a
    // crash (base = unit/n would divide by zero below)
    if (n == 0L) {
      releaseState()
      // derived from edges, NOT the just-released checkpoint (whose
      // truncated lineage cannot recompute); limit(0) folds to an
      // empty local relation
      edges.select(col("src").cast("long").as("id"),
        lit(0L).as("rank_fp")).limit(0)
    } else {
    val base = unit / n
    var dang = init.getLong(1) * base
    // rank enters as a literal projection on round 1's own scan — no
    // extra checkpoint materialization for the constant column
    var state = state0.select(col("id"), col("outdeg"),
      lit(base).as("rank_fp"))
    val eRenamed = e.select(col("src").as("edge_src"), col("dst").as("edge_dst"))
    // convergence early-exit: stop once max |Δrank| ≤ epsUnits. At the
    // default ε = 0 this fires only at the EXACT fixed point — every
    // remaining round would reproduce the same state bit-for-bit, so
    // exiting early is output-identical to the full `iters` unroll
    // (the oracle's unrolled rounds stay valid); ε > 0 is the
    // approximate opt-in. At 100× scale wasted post-convergence rounds
    // are the dominant cost of a fixed-iters loop.
    // ONE job per non-final round: they checkpoint LAZILY and the
    // fused probe agg (max |Δ| + next round's dangling total, one scan
    // of the just-materialized state) is the action; release of the
    // previous state always happens AFTER the new one is materialized
    // (a lazy localCheckpoint still reads the parent's blocks). The
    // FINAL round is returned as a PURE PLAN over the last checkpoint
    // — no iteration follows it, so materializing it inside the
    // operator would be a job and a cache write for the caller's
    // action to immediately re-read; the parent's blocks stay pinned
    // until the session's Caches release boundary (the documented
    // operator cache contract).
    var iter = 0
    var converged = false
    var lastRound: DataFrame = null
    while (iter < iters && !converged) {
      if (iter + 1 >= iters) {
        lastRound = pageRankRound(state, eRenamed, n, base, dang)
      } else {
        val (next, releaseNext) = graft.Caches.checkpoint(
          pageRankRound(state, eRenamed, n, base, dang), eager = false)
        val (delta, dangNext) = probeRound(next)
        converged = delta <= epsUnits
        dang = dangNext
        releaseState()
        state = next
        releaseState = releaseNext
      }
      iter += 1
    }
    val out = if (lastRound != null) lastRound else state
    out.select(col("id"), col("rank_fp"))
    }
    }
  }

  /** Weighted PageRank: same fixed-point arithmetic as [[pageRank]]
    * but each out-edge carries an integral weight `w` and u's rank
    * splits proportionally — contribution along u→v is
    * (r(u)·w(u,v)) div W(u) with W(u) = Σ out-weights. The weighted
    * split loses ≤ 1 unit per EDGE to truncation (vs per node
    * unweighted) — still deterministic and identical cross-engine
    * (all operands non-negative). `edges`: (src, dst, w), w > 0;
    * parallel edges pre-summed here. r(u)·w must stay < 2⁶³: unit
    * 1e12 leaves 9.2e6 of weight headroom per edge, enough for
    * count-style weights; scale weights down if yours are larger. */
  def pageRankWeighted(edges: DataFrame, iters: Int = 3,
      unit: Long = 1000000000000L, epsUnits: Long = 0L): DataFrame =
      graft.Caches.staticLoopPlans(edges.sparkSession) {
    require(iters >= 1, "pageRankWeighted needs at least one iteration")
    require(epsUnits >= 0L, "epsUnits must be non-negative")
    // pre-shuffled pin on src; the parallel-edge pre-sum groups on
    // (src, dst) ON TOP of the src repartition — hashpartitioning(src)
    // satisfies the aggregate's distribution, so the build is one
    // exchange (see pageRank's e)
    val (e, eRows) = loopEdges(
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
        .filter(col("src") =!= col("dst") && col("w") > 0), "src",
      _.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    // single-aggregation (id, out-weight) state build + one-job init
    // agg — see pageRank (w > 0 is enforced above, so sum(d) > 0 ⟺
    // the id has an out-edge); state build through the probed rounds
    // run at the edge-derived loop width, as in pageRank
    graft.Caches.loopWidth(edges.sparkSession, eRows) {
    var (state0, releaseState) = graft.Caches.checkpoint(
      e.select(col("src").as("id"), col("w").as("d"))
        .unionAll(e.select(col("dst").as("id"), lit(0L).as("d")))
        .groupBy(col("id"))
        .agg(when(sum(col("d")) > 0, sum(col("d"))).as("outdeg")),
      eager = false)
    val init = state0.agg(
      count(lit(1)), count(when(col("outdeg").isNull, lit(1)))).head()
    val n = init.getLong(0)
    // empty graph → empty ranks, same as pageRank (the r15 sweep class)
    if (n == 0L) {
      releaseState()
      edges.select(col("src").cast("long").as("id"),
        lit(0L).as("rank_fp")).limit(0)
    } else {
    val base = unit / n
    var dang = init.getLong(1) * base
    var state = state0.select(col("id"), col("outdeg"),
      lit(base).as("rank_fp"))
    val eRenamed = e.select(col("src").as("edge_src"),
      col("dst").as("edge_dst"), col("w").as("edge_w"))
    // same ε-convergence early-exit, one-job-per-probed-round fused
    // probe, and final-round-as-pure-plan as pageRank (exact at ε = 0)
    var iter = 0
    var converged = false
    var lastRound: DataFrame = null
    while (iter < iters && !converged) {
      if (iter + 1 >= iters) {
        lastRound = pageRankRound(state, eRenamed, n, base, dang, weighted = true)
      } else {
        val (next, releaseNext) = graft.Caches.checkpoint(
          pageRankRound(state, eRenamed, n, base, dang, weighted = true),
          eager = false)
        val (delta, dangNext) = probeRound(next)
        converged = delta <= epsUnits
        dang = dangNext
        releaseState()
        state = next
        releaseState = releaseNext
      }
      iter += 1
    }
    val out = if (lastRound != null) lastRound else state
    out.select(col("id"), col("rank_fp"))
    }
    }
  }

  /** One PageRank round as a pure plan over the (id, outdeg, rank_fp)
    * state — split out so the per-round plan shape is auditable
    * (PlanAuditSpec pins: partial-combinable contribution aggregate,
    * no cartesian, no broadcast build, no window anywhere). `dang` is
    * the CURRENT state's dangling-mass total, supplied as a literal —
    * it was returned by the previous round's fused probe action (or
    * the init-time danglingTotal), so the round plans NO per-round
    * 1-row broadcast build job. `weighted` switches the per-edge
    * contribution from r div outdeg (outdeg = out-edge count) to
    * (r·w) div outdeg (outdeg = out-WEIGHT total). */
  private[graft] def pageRankRound(state: DataFrame, eRenamed: DataFrame,
      n: Long, base: Long, dang: Long = 0L, weighted: Boolean = false): DataFrame = {
    // per-edge contribution, summed at the target. Both round joins are
    // HINTED shuffled-hash: a sort-merge join re-SORTS the edge-scale
    // stream side EVERY round (the pinned edge cache carries its
    // hashpartitioning but not sort order — sorts are never cached),
    // while SHJ builds a hash map over the NODE-scale side and streams
    // the edges unsorted. Build sides are the skinny per-node frames
    // (state / contribs), whose per-partition size is bounded by the
    // same partition-sizing discipline every shuffle here relies on;
    // trading SMJ spillability for no per-round edge sort is the
    // standard iterative-graph-engine join shape. HONEST STATUS
    // (NOTES.md Round 12, interleaved arms, per-arm parallel probes): at
    // fixture scale the hint is a WASH vs planner default (g01 3.49
    // vs 3.49, g05 3.12 vs 2.82, g04 2.71 vs 2.80, g07 2.31 vs 2.21 s
    // min-of-3) — the r11 "2×" was a throttled-host artifact. Kept on
    // the asymptotic argument alone: the fixture's edge sort is too
    // small to register, while at real data sizes the per-round sort
    // is edge-scale work the SHJ arm provably never does.
    val perEdge =
      if (weighted) expr("(rank_fp * edge_w) div outdeg")
      else expr("rank_fp div outdeg")
    val contribs = hintLoop(state.filter(col("outdeg").isNotNull))
      .join(eRenamed, col("id") === col("edge_src"))
      .groupBy(col("edge_dst"))
      .agg(sum(perEdge).as("contrib"))
      .select(col("edge_dst").as("cid"), col("contrib"))
    // dang div n on non-negative longs == Spark div == DuckDB // —
    // computing it driver-side is bit-identical to the former in-plan
    // `dang div n` over the broadcast 1-row frame
    val dangShare = dang / n
    state.select(col("id"), col("outdeg"), col("rank_fp").as("prev_fp"))
      .join(hintLoop(contribs), col("id") === col("cid"), "left")
      .select(col("id"), col("outdeg"), col("prev_fp"),
        (lit(15L * base / 100L) + expr(
          s"(85 * (coalesce(contrib, CAST(0 AS BIGINT)) + CAST($dangShare AS BIGINT))) div 100"))
          .as("rank_fp"))
  }

  /** Fused per-round probe: max |Δrank| (convergence) AND the next
    * round's dangling-mass total in ONE scan of the lazily-
    * checkpointed round output — this action is what materializes the
    * checkpoint, so a probed round costs exactly one job. The round
    * carries the previous rank as `prev_fp`, so no join, no extra
    * shuffle; the result is a bounded 2-long scalar (the sanctioned
    * driver-scalar class — same as the streaming watermark scalars). */
  private def probeRound(next: DataFrame): (Long, Long) = {
    val r = next.agg(
      coalesce(max(abs(col("rank_fp") - col("prev_fp"))), lit(0L)),
      coalesce(sum(when(col("outdeg").isNull, col("rank_fp"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }


  /** Per-node triangle counts by DEGREE-ORDERED ORIENTATION (the
    * classic MapReduce trick — Suri & Vassilvitskii 2011, "Counting
    * Triangles and the Curse of the Last Reducer"). A naive
    * wedge-close join explodes on hubs: a degree-d node generates d²
    * wedges, and a social-graph hub at 100 TB means one reducer gets
    * the whole d² blow-up. Orienting every edge from its
    * lexicographically smaller (degree, id) endpoint to the larger
    * caps every node's OUT-degree at O(√m), so total wedge volume is
    * O(m^{3/2}) — the optimal bound — and each triangle is generated
    * exactly once, from its lowest-(degree, id) corner.
    *
    * `edges`: undirected (a, b); duplicates/self-loops dropped here.
    * Output: (id, n_tri) for every node incident to an edge, zero
    * rows included. Exact integers; deterministic regardless of
    * partitioning (the orientation key is a pure function of the
    * graph). Shuffles: degree groupBy, two key joins for orientation,
    * wedge self-join on the center, closing equi-join, final count —
    * all hash joins on skinny 2–4-column frames, no windows.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(
        least(col("a"), col("b")).cast("long").as("x"),
        greatest(col("a"), col("b")).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .transform(d => graft.Caches.pin(d))
    val deg = e.select(col("x").as("id")).unionAll(e.select(col("y").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .transform(d => graft.Caches.pin(d))
    // orient by (deg, id): struct comparison is lexicographic, so the
    // edge points from the endpoint with smaller (deg, id) to the other
    val keyed = e
      .join(deg.select(col("id").as("x"), col("deg").as("degx")), "x")
      .join(deg.select(col("id").as("y"), col("deg").as("degy")), "y")
    val oriented = keyed.select(
        when(struct(col("degx"), col("x")) < struct(col("degy"), col("y")),
          struct(col("x").as("u"), col("y").as("v"),
            struct(col("degy").as("kd"), col("y").as("ki")).as("vkey")))
          .otherwise(
            struct(col("y").as("u"), col("x").as("v"),
              struct(col("degx").as("kd"), col("x").as("ki")).as("vkey")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.vkey").as("vkey"))
      .transform(d => graft.Caches.pin(d))
    // wedges at each center u: unordered out-neighbor pairs, ordered by
    // the SAME key the orientation used — the closing edge (v1, v2) is
    // then oriented v1→v2 by construction, one lookup, no disjunction
    val w1 = oriented.select(col("u").as("c"), col("v").as("v1"), col("vkey").as("k1"))
    val w2 = oriented.select(col("u").as("c"), col("v").as("v2"), col("vkey").as("k2"))
    val wedges = w1.join(w2, "c").filter(col("k1") < col("k2"))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val tris = wedges.join(closing, Seq("v1", "v2"))
      .select(col("c"), col("v1"), col("v2"))
    val perNode = tris
      .select(explode(array(col("c"), col("v1"), col("v2"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    deg.select(col("id"))
      .join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Seeded label propagation — semi-supervised label spreading over a
    * similarity graph (propagate known quality/class labels from a
    * small labeled seed set to the unlabeled mass through near-dup /
    * similarity edges): each round, every UNLABELED node adjacent to a
    * labeled one adopts the majority label of its labeled neighbors
    * (vote count desc, label asc — the deterministic tie rule);
    * labeled nodes are hard-clamped (never re-vote). Exact integer
    * votes, argmax as the skew-safe `max(struct(cnt, -label))`
    * aggregation (d66's rule, never a per-node rank window over raw
    * votes... the vote table is (node, label)-aggregated first), loop
    * checkpointed per round with release-previous.
    *
    * `edges`: undirected (a, b); `seeds`: (id, label) integral.
    * Output: (id, label) for seeds plus every node reached within
    * `rounds` hops of one. */
  def labelPropagate(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame =
      graft.Caches.staticLoopPlans(edges.sparkSession) {
    require(rounds >= 1, "labelPropagate needs at least one round")
    // pre-shuffled pin on the per-round join key; distinct rides the
    // repartition's partitioning — one exchange (see pageRank's e)
    val (sym, symRows) = loopEdges(
      edges.select(col("a").cast("long").as("na"),
          col("b").cast("long").as("nb"))
        .unionAll(edges.select(col("b").cast("long").as("na"),
          col("a").cast("long").as("nb")))
        .filter(col("na") =!= col("nb")), "na", _.distinct())
    var (labels, releaseLabels) = graft.Caches.checkpoint(
      seeds.select(col("id").cast("long").as("id"),
        col("label").cast("long").as("label")).distinct(), eager = false)
    // frontier-exhaustion early-exit: labeled nodes are clamped, so if
    // a round adopts nothing the vote table is identical next round —
    // every remaining round is a no-op and exiting is output-identical
    // to the full unroll. Checkpoints are LAZY and the probe count IS
    // the materializing action (one job per probed round, the pageRank
    // discipline); the final round checkpoints eagerly and skips the
    // probe. The previous label frame is released only AFTER the next
    // one materializes — a lazy checkpoint still reads parent blocks.
    var prevCount = labels.count()
    var round = 0
    var exhausted = false
    var lastRound: DataFrame = null
    // vote joins stream the pinned symmetric edge cache, laid out at
    // the edge-derived loop width (see loopEdges / Caches.loopWidth)
    graft.Caches.loopWidth(edges.sparkSession, symRows) {
    while (round < rounds && !exhausted) {
      // vote join: shuffled-hash with the node-scale label frame as
      // build side, streaming the pinned edge frame unsorted — see
      // pageRankRound
      val votes = sym
        .join(hintLoop(labels.select(col("id").as("na"), col("label"))), "na")
        .select(col("nb").as("vid"), col("label"))
        .join(hintLoop(labels.select(col("id").as("vid"))),
          Seq("vid"), "left_anti")
        .groupBy(col("vid"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val adopted = votes
        .groupBy(col("vid"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neglabel"))).as("best"))
        .select(col("vid").as("id"), (-col("best.neglabel")).as("label"))
      if (round + 1 >= rounds) {
        // final round as a PURE PLAN over the pinned edge frame and
        // the last checkpointed label frame (no iteration follows, so
        // a checkpoint here would be a job + cache write the caller's
        // action immediately re-reads — the pageRank discipline);
        // the parent label blocks stay pinned until the session's
        // Caches release boundary
        lastRound = labels.unionAll(adopted)
      } else {
        val (next, releaseNext) = graft.Caches.checkpoint(
          labels.unionAll(adopted), eager = false)
        val cnt = next.count()
        exhausted = cnt == prevCount
        prevCount = cnt
        releaseLabels()
        labels = next
        releaseLabels = releaseNext
      }
      round += 1
    }
    }
    if (lastRound != null) lastRound else labels
  }

  /** Multi-source BFS: exact hop distance from a seed set, frontier
    * style — each round joins ONLY the newly discovered frontier
    * against the edge list (never the full distance table), anti-joins
    * away already-labeled nodes, and stops when the frontier empties
    * or `maxHops` is reached. First discovery IS the minimum distance
    * (BFS invariant), so no min-aggregation or re-labeling pass is
    * needed and the result is deterministic under any partitioning.
    *
    * The loop discipline is `connectedComponents`' (checkpoint per
    * round, release round k−1, coalesce skinny frames); rounds =
    * min(eccentricity, maxHops), each round two hash shuffles (edge
    * join + anti-join) proportional to the FRONTIER, which is the
    * textbook distributed-BFS cost model. `edges` is directed (src,
    * dst) — symmetrize for undirected graphs. `seeds`: (id) at
    * distance 0. Output: (id, dist) for every node within `maxHops`;
    * unreachable nodes are absent. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
      graft.Caches.staticLoopPlans(edges.sparkSession) {
    require(maxHops >= 0, "bfsDistances: maxHops must be non-negative")
    // pre-shuffled pin on the per-round join key; distinct rides the
    // repartition's partitioning — one exchange (see pageRank's e)
    val (e, eRows) = loopEdges(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")), "src", _.distinct())
    val spark = edges.sparkSession
    val shuffleParts = spark.sessionState.conf.numShufflePartitions.toLong
    def parts(rows: Long): Int =
      math.max(1L, math.min(shuffleParts, rows / 65536L)).toInt
    val seed0 = seeds.select(col("id").cast("long").as("id")).distinct()
      .select(col("id"), lit(0L).as("dist"))
    // the distance table is the UNION of per-hop checkpointed
    // frontiers — never re-materialized per round (each union leg is a
    // checkpoint scan, so the plan stays flat); only the frontier
    // itself checkpoints each hop. Checkpoints are LAZY: the per-hop
    // count() below IS the materializing action, so a hop costs
    // exactly one job (the pageRank fused-probe discipline).
    var frontier = graft.Caches.checkpoint(seed0, eager = false)._1
    var layers = List(frontier)
    var n = frontier.count()
    var hop = 1
    // hop joins stream the pinned edge cache, laid out at the
    // edge-derived loop width (see loopEdges / Caches.loopWidth)
    graft.Caches.loopWidth(spark, eRows) {
    while (n > 0 && hop <= maxHops) {
      val dist = layers.reduce(_ unionAll _)
      // releasing a superseded frontier would orphan its layer in the
      // union (checkpoints have no lineage to recompute) — layers stay
      // pinned until the caller's Caches.releaseAll() boundary.
      // The layer checkpoints at FULL shuffle parallelism and the
      // task-count-bounding coalesce is applied NARROW afterwards,
      // sized by the layer's own count — sizing the pre-checkpoint
      // frame by the PREVIOUS frontier undercounts by the branching
      // factor (a small seed set's hop-1 frontier is its whole
      // neighborhood), funneling a possibly-huge layer through
      // parts(prev)=1 partition at materialization.
      // Both hop joins are hinted shuffled-hash with the NODE-scale
      // side as build (frontier / distance table), so the edge-scale
      // stream side is never re-sorted per hop — see pageRankRound.
      val ck = graft.Caches.checkpoint(
        hintLoop(frontier).join(e, frontier("id") === e("src"))
          .select(e("dst").as("id")).distinct()
          .join(hintLoop(dist), Seq("id"), "left_anti")
          .select(col("id"), lit(hop.toLong).as("dist")),
        eager = false)._1
      n = ck.count()
      val next = ck.coalesce(parts(n))
      frontier = next
      layers = layers :+ next
      hop += 1
    }
    }
    layers.reduce(_ unionAll _)
  }

  /** Nearest-seed LABEL assignment: every node within `maxHops` of a
    * seed gets the label of its closest seed, ties at equal distance
    * broken by the SMALLEST label — i.e. per node the lexicographic
    * minimum of (hops-to-seed, seed label). Unlike [[labelPropagate]]'s
    * majority vote (whose adoption depends on round boundaries), this
    * semantics is a pure MIN-LATTICE over paths: the answer is a
    * function of the graph alone, independent of evaluation order —
    * which is exactly what makes it the batch twin of the streaming
    * incremental frontier (`StreamOps.incrementalBfsStream`): min-merge
    * is idempotent, commutative and associative, so edges may arrive
    * in any micro-batch order and converge to this same table.
    *
    * Implementation is [[bfsDistances]]' frontier loop carrying the
    * label: the BFS invariant (all discoveries of a node happen in its
    * minimal round) means one per-round `min(label)` aggregation over
    * the frontier's candidates resolves ties and finalizes the node —
    * no re-labeling pass. By induction the propagated label IS the
    * min label over the node's nearest seeds (a node's candidates come
    * from neighbors whose own label is already their nearest-seed
    * min). `edges` directed (src, dst); `seeds`: (id, label) integral,
    * duplicate seed ids fold to their min label. Output:
    * (id, dist, label); unreachable nodes absent. */
  def nearestSeedLabels(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
      graft.Caches.staticLoopPlans(edges.sparkSession) {
    require(maxHops >= 0, "nearestSeedLabels: maxHops must be non-negative")
    // pre-shuffled pin on the per-round join key; distinct rides the
    // repartition's partitioning — one exchange (see pageRank's e)
    val (e, eRows) = loopEdges(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")), "src", _.distinct())
    val spark = edges.sparkSession
    val shuffleParts = spark.sessionState.conf.numShufflePartitions.toLong
    def parts(rows: Long): Int =
      math.max(1L, math.min(shuffleParts, rows / 65536L)).toInt
    val seed0 = seeds
      .select(col("id").cast("long").as("id"), col("label").cast("long").as("label"))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
      .select(col("id"), lit(0L).as("dist"), col("label"))
    // lazy checkpoints + count-as-materializer: one job per hop, and
    // shuffled-hash hints on the node-scale join sides so the edge
    // stream is never re-sorted — see bfsDistances / pageRankRound
    var frontier = graft.Caches.checkpoint(seed0, eager = false)._1
    var layers = List(frontier)
    var n = frontier.count()
    var hop = 1
    // edge-derived loop width, as in bfsDistances
    graft.Caches.loopWidth(spark, eRows) {
    while (n > 0 && hop <= maxHops) {
      val known = layers.reduce(_ unionAll _).select(col("id"))
      // checkpoint at full parallelism, then narrow-coalesce sized by
      // the layer's OWN count — see bfsDistances (sizing by the
      // previous frontier funnels a branching-factor-larger layer
      // through too few partitions at materialization)
      val ck = graft.Caches.checkpoint(
        hintLoop(frontier).join(e, frontier("id") === e("src"))
          .select(e("dst").as("id"), frontier("label").as("label"))
          .groupBy(col("id")).agg(min(col("label")).as("label"))
          .join(hintLoop(known), Seq("id"), "left_anti")
          .select(col("id"), lit(hop.toLong).as("dist"), col("label")),
        eager = false)._1
      n = ck.count()
      val next = ck.coalesce(parts(n))
      frontier = next
      layers = layers :+ next
      hop += 1
    }
    }
    layers.reduce(_ unionAll _)
  }

  /** Weighted bipartite projection with per-node top-k: project a
    * (left, right) membership table onto a right-right co-occurrence
    * graph (weight = number of shared left neighbors) and keep each
    * node's `k` strongest co-members — the collaborative-filtering /
    * co-occurrence-recommendation prep step.
    *
    * Scale shape: pair generation is [[coOccurrenceEdges]] on the left
    * key (collect_set + narrow explosion — the set dedups (l, r)
    * within each left, so the former membership-distinct + self-join
    * pair is gone), Σ(per-left-degree²) rows — bounded when left
    * fan-out is bounded (cap or sample hub lefts upstream if not; the
    * d65 maxDf discipline). The weight aggregation is map-side
    * partial; the top-k is a per-node window (the q10 shape), never
    * global. Deterministic ties: (weight desc, neighbor asc).
    *
    * Output: (src, dst, weight, rank), symmetric, rank ≤ k. */
  def bipartiteProjectTopK(membership: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be positive, got $k")
    val pairs = coOccurrenceEdges(membership, col("left"), col("right"),
        ordered = true)
      .select(col("src").as("r"), col("dst").as("r2"))
      .groupBy(col("r"), col("r2")).agg(count(lit(1)).as("weight"))
    val sym = pairs.select(col("r").as("src"), col("r2").as("dst"), col("weight"))
      .unionByName(pairs.select(col("r2").as("src"), col("r").as("dst"), col("weight")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("weight").desc, col("dst"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Bounded-round parallel k-core peeling: each round drops EVERY
    * node whose degree over the surviving graph is < k (the parallel
    * peel — the distributed formulation of k-core decomposition;
    * sequential min-degree peeling is inherently serial). Output is
    * the surviving (id, degree) table after exactly `rounds` rounds —
    * early exit only on true convergence (an unchanged edge count
    * means every later round reproduces the same state, so the exit
    * is output-identical to the full unroll and fixed-round unrolled
    * oracles stay valid — the ε=0 PageRank argument).
    *
    * `edges` must be symmetric (both directions present); degree is
    * out-degree over the symmetric edge set. Scale shape: one skinny
    * degree aggregation + two semi-joins per round, per-round
    * checkpoint via [[graft.Caches]] (the d49/d54 loop discipline),
    * convergence probed with a distributed count. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    // lazy checkpoints: the convergence count IS the materializing
    // action, one job per round (the pageRank fused-probe discipline)
    var e = graft.Caches.checkpoint(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct(), eager = false)._1
    var prev = e.count()
    var r = 0
    var converged = prev == 0L
    // width from the initial edge count (rounds only shrink it)
    graft.Caches.loopWidth(edges.sparkSession, prev) {
    while (r < rounds && !converged) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("graft_deg"))
        .filter(col("graft_deg") >= k)
        .select(col("src").as("id"))
      val next = graft.Caches.checkpoint(
        e.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi"),
        eager = false)._1
      val n = next.count()
      converged = n == prev
      prev = n
      e = next
      r += 1
    }
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("id"), col("degree"))
  }

  /** GraphSAGE-style minibatch neighbor sampling (Hamilton et al.
    * 2017): per seed, expand `fanouts.length` hops, keeping at most
    * `fanouts(h)` neighbors per visited node at hop h — the sampling
    * that turns a 1e9-node graph into bounded GNN training
    * minibatches.
    *
    * The "random" neighbor choice is a DETERMINISTIC hash rank
    * ((a·src + b·dst + c) mod P from the TextHash affine family, dst
    * tiebreak), so the sample is reproducible across runs, engines,
    * and partitionings — the property that makes distributed training
    * epochs replayable. Sampling is per NODE, not per (seed, node):
    * the sampled adjacency is built once per fanout with a standard
    * per-key top-k window (the q10 shape — partitioned by src, never
    * a global sort) and every seed's expansion joins against it, so
    * shared frontier nodes cost once.
    *
    * Output: one row per traversal edge (seed, hop, src, dst), hops
    * 1-based. */
  def sampleNeighbors(edges: DataFrame, seeds: DataFrame,
      fanouts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1),
      s"fanouts must be non-empty positive, got $fanouts")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
    // one ranked-adjacency pass shared by every hop (ranks beyond the
    // largest fanout are dropped inside the window's top-k)
    val key = (col("src") * lit(TextHash.A(0)) + col("dst") * lit(TextHash.A(1))
      + lit(TextHash.B(0))) % lit(TextHash.P)
    val w = Window.partitionBy(col("src")).orderBy(key, col("dst"))
    val ranked = e.withColumn("graft_rk", row_number().over(w))
      .filter(col("graft_rk") <= fanouts.max)
      .transform(d => graft.Caches.pin(d))
    // adjacency columns renamed per hop: hop h's frontier descends from
    // hop h-1's output of the SAME ranked frame, so bare src/dst would
    // be an ambiguous self-join
    def sampledAdj(f: Int): DataFrame =
      ranked.filter(col("graft_rk") <= f)
        .select(col("src").as("a_src"), col("dst").as("a_dst"))
    var frontier = seeds.select(col("id").cast("long").as("seed"),
      col("id").cast("long").as("node")).distinct()
    val hops = fanouts.zipWithIndex.map { case (f, i) =>
      val hop = frontier.join(sampledAdj(f), col("node") === col("a_src"))
        .select(col("seed"), lit((i + 1).toLong).as("hop"),
          col("a_src").as("src"), col("a_dst").as("dst"))
      frontier = hop.select(col("seed"), col("dst").as("node")).distinct()
      hop
    }
    hops.reduce(_ unionByName _)
  }
}
