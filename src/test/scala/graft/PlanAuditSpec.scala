package graft

/** Physical-plan audits: the catalogue's plans must be the plans we'd
  * WANT on a 1000-executor cluster, not just plans that pass — filters
  * reaching the parquet scan, projections pruning the read schema,
  * dimension joins broadcasting, aggregates running map-side partials,
  * and no accidental cartesian products anywhere in the catalogue.
  */
class PlanAuditSpec extends SparkSpec {

  /** Build `name`'s physical plan from a COLD library cache. Suites
    * share one SparkSession, so a pin left materialized by an earlier
    * suite (CatalogueSpec executes every query) would substitute its
    * InMemoryRelation into the audited plan — and a materialized
    * relation prints BOTH its final and initial adaptive plans,
    * double-counting every node a regex looks for. */
  private def plan(name: String): String = {
    graft.Caches.releaseAll()
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
  }

  test("q02: filter is pushed into the parquet scan; read schema is pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"expected pushed filters in:\n$p")
    // the query projects a handful of columns — the 16-column lineitem
    // schema must not be read wholesale
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("m70: metadata projection reads only the projected columns") {
    val readSchema = plan("m70_multimodal_meta")
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q07/q33: dimension joins broadcast") {
    assert(plan("q07_broadcast_join").contains("BroadcastHashJoin"))
    assert(plan("q33_multiway_join").contains("BroadcastHashJoin"),
      "region/nation legs of the 5-table chain should broadcast")
  }

  test("q01: aggregation runs map-side partials") {
    val p = plan("q01_pricing_summary")
    assert(p.toLowerCase.contains("partial_"),
      s"expected partial aggregation below the exchange:\n$p")
  }

  test("no query in the catalogue plans a cartesian product (except the intentional brute-force knn)") {
    val intentional = Set("s50_knn_brute") // broadcast-queries exhaustive baseline
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(intentional)
      .filter { name => plan(name).contains("CartesianProduct") }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("d51/t65: the small derived side broadcasts (eval grams, top-df terms)") {
    // both are two-pass corpus statistics whose pass-1 result is small
    // by construction — if the join ever degrades to sort-merge, the
    // 100 TB scan pays a full shuffle for a kilobyte-sized side
    Seq("d51_decontaminate", "t65_corpus_df").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"),
        s"$q: expected the derived small side to broadcast")
    }
  }

  test("t67: the global running total never plans a single-partition sort/window") {
    // sum() OVER (ORDER BY ...) with no partitioning would funnel the
    // corpus through ONE task — the two-pass prefix decomposition must
    // keep every exchange hash/range-partitioned (the only acceptable
    // SinglePartition exchange would be a final driver-side collect,
    // which this query doesn't have: it ends in a range-partitioned sort)
    val p = plan("t67_token_budget")
    assert(!p.contains("SinglePartition"),
      s"single-partition exchange in the prefix-sum plan:\n$p")
    assert(p.contains("rangepartitioning"),
      "expected a range repartition carrying the global order")
  }

  test("g01: a pageRank round aggregates contributions map-side; the dangling total is a literal (no broadcast build, no cartesian, no window)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val state = Seq((1L, Some(2L), 100L), (2L, Some(1L), 100L), (3L, None, 100L))
      .toDF("id", "outdeg", "rank_fp")
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("edge_src", "edge_dst")
    val p = graft.operators.Graph.pageRankRound(state, e, n = 3L, base = 100L,
        dang = 100L)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("partial_sum"),
      s"expected map-side partial contribution sum:\n$p")
    // the dangling share arrives as a literal from the previous
    // round's fused probe — the former 1-row dangling-total
    // BroadcastNestedLoopJoin (one broadcast build job per round) must
    // be gone; small-side equi-join broadcasts are fine
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"unexpected nest-loop broadcast in the round plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the round plan:\n$p")
    assert(!p.contains("Window"), s"window in the round plan:\n$p")
  }

  test("q76: dynamic partition pruning reaches the partitioned fact scan AND actually prunes") {
    val df = SparkEntry.queries("q76_dpp_prune")(spark, sfDir)
    df.collect() // DPP is injected at execution — audit the EXECUTED plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in the fact scan:\n$p")
    // r18: for three rounds this pin matched the plan TEXT — which a
    // DEGRADED `dynamicpruningexpression(true)` also satisfies, and
    // under AQE's default reuse-only DPP that is exactly what this
    // shape produced (256/256 partitions read). The harness sessions
    // now set dynamicPartitionPruning.reuseBroadcastOnly=false (see
    // TestSpark), which lets the benefit-qualified dim subquery run
    // independently; the pin is on the partitions-read metric.
    val scans = unwrapPlan(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.partitionFilters.exists(_.toString.contains("dynamicpruning")) => s
    }
    assert(scans.nonEmpty, s"no dynamically-pruned fact scan found:\n$p")
    val read = scans.head.metrics.get("numPartitions").map(_.value)
    // the dim keeps only the heaviest flag(s): 1, at most 2 on a tie
    assert(read.exists(n => n > 0 && n <= 2),
      s"DPP present but did not prune: read=$read of the 3 flag partitions\n$p")
  }

  /** Expand AQE wrappers/stages so scan nodes (and their metrics) are
    * reachable — QueryStageExec children hide behind `.plan`. */
  private def unwrapPlan(x: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = x match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => unwrapPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: unwrapPlan(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r +: unwrapPlan(r.child)
    case o => o +: o.children.flatMap(unwrapPlan)
  }

  test("s71: the probe's literal cell filter prunes the partitioned IVF layout scan at planning time") {
    // the r17 verdict's last unproven ANN-at-100TB claim: with the
    // corpus stored partitionBy(cell), unprobed cells' files must
    // never be read. The operator hands the planner the probed cells
    // as a STATIC literal IN (the q76 isLikelySelective lesson taken
    // to its conclusion — under AQE the reuse-only DPP path degrades
    // to an unpruned scan on this probe shape; see the operator's
    // scaladoc), so the pin is on the executed scan's partition
    // filter AND its partitions-read metric, not on plan-text
    // presence (the r18 lesson: `dynamicpruningexpression(true)` —
    // a DEGRADED filter — also "contains dynamicpruning").
    // Probes the OPERATOR directly with the sparse %997 query set:
    // the catalogue query densifies its query set at gate-sized
    // corpora (r19 verdict item 3 — ≥20 hash-checked rows), which
    // deliberately raises the probed fraction this pin measures;
    // the fraction is a property of the sparse production shape,
    // pinned here where the probe is sparse by construction.
    import org.apache.spark.sql.functions.col
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") < 256)
    val layout = graft.operators.Similarity.buildIvfLayout(emb, cents,
      graft.engine.WorkDirs.runScoped("audit_ivf_cells", sfDir))
    val df = graft.operators.Similarity.ivfMultiProbeTopKBatchOnLayout(
      layout, cents, emb.filter(col("vec_id") % 997 === 7), k = 5, nProbe = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // no cartesian anywhere; the only nest-loop broadcast allowed is
    // the probe ranking's 1-row codebook frame (the s69/s70 shape) —
    // the LAYOUT side must join hash-partitioned on the cell
    assert(!p.contains("CartesianProduct"), s"cartesian in the layout plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the probed-cells broadcast hash join on the partition column:\n$p")
    val scans = unwrapPlan(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.partitionFilters.exists(_.toString.contains("cell")) &&
          s.partitionFilters.exists(_.toString.contains(" IN ")) => s
    }
    assert(scans.nonEmpty, s"no statically-pruned layout scan found:\n$p")
    // the sparse probe set (1-2 queries at this sf × nProbe=2) must
    // reduce the partitions actually read to a handful of the ~200
    // cells on disk
    val read = scans.head.metrics.get("numPartitions").map(_.value)
    assert(read.exists(n => n > 0 && n <= 8),
      s"expected the probe set to prune the layout scan to a few cells, " +
        s"read=$read of the on-disk cells\n$p")
  }

  test("s74: the bucketed layout scan prunes on the probed buckets AND pushes the cell filter into the scan") {
    // the large-nlist storage regime: partition dirs are BUCKETS
    // (bounded at any nlist), so planning-time pruning moves to the
    // bucket filter while the exact-cell predicate is pushed into the
    // parquet scan where the build's within-file sort-by-cell makes
    // it a row-group skip. Pins: static IN partition filter on
    // cell_bucket + partitions-read metric, AND the cell filter
    // present as a pushed data filter (not a post-scan Filter only).
    // Direct sparse-probe construction, same reason as the s71 pin.
    import org.apache.spark.sql.functions.col
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") < 256)
    val layout = graft.operators.Similarity.buildIvfLayoutBucketed(emb, cents,
      graft.engine.WorkDirs.runScoped("audit_ivf_buckets", sfDir), buckets = 16)
    val df = graft.operators.Similarity.ivfMultiProbeTopKBatchOnBucketedLayout(
      layout, cents, emb.filter(col("vec_id") % 997 === 13), k = 5, nProbe = 2,
      buckets = 16)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in the bucketed plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the probed-cells broadcast hash join:\n$p")
    val scans = unwrapPlan(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.partitionFilters.exists(f => f.toString.contains("cell_bucket") &&
          f.toString.contains(" IN ")) => s
    }
    assert(scans.nonEmpty, s"no bucket-pruned layout scan found:\n$p")
    val scan = scans.head
    // the probe is sparse (1-2 queries × nProbe=2 → ≤4 cells): far
    // fewer buckets read than the 16 on disk
    val read = scan.metrics.get("numPartitions").map(_.value)
    assert(read.exists(n => n > 0 && n <= 8),
      s"expected the probed buckets to prune the scan, read=$read of 16 buckets\n$p")
    // the exact-cell predicate reaches the scan as a data filter — a
    // plan that only filtered post-scan would re-read every row of
    // every probed bucket at scale
    assert(scan.dataFilters.exists(f => f.toString.contains("cell") &&
        f.toString.contains(" IN ")),
      s"cell filter not pushed into the bucketed scan: ${scan.dataFilters}\n$p")
    assert(scan.metadata.get("PushedFilters").exists(_.contains("In(cell")),
      s"cell IN not in PushedFilters: ${scan.metadata.get("PushedFilters")}\n$p")
  }

  test("s76: the compressed PQ probe's code scan is bucket-pruned, cell-pushed, and never reads the embedding column") {
    // the production IVFPQ probe shape (r19 verdict item 1): the
    // compressed-domain pass must scan (vec_id, cell, code) with the
    // raw vectors untouched — at 100 TB the embedding column is the
    // bulk of the bytes, and a scan that reads it for the ADC pass
    // has thrown the compression away. Pins: BOTH scans (code pass
    // and exact-rerank pass) carry the static bucket partition
    // filter and a small partitions-read metric; the cell filter is
    // pushed; and the CODE scan's required schema excludes
    // `embedding` while the rerank scan's includes it.
    import org.apache.spark.sql.functions.col
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") < 256)
    val layout = graft.operators.Similarity.buildIvfPqLayoutBucketed(emb, cents,
      graft.engine.WorkDirs.runScoped("audit_ivfpq_buckets", sfDir),
      buckets = 16, m = 4)
    val df = graft.operators.Similarity.ivfPqRerankBatchOnBucketedLayout(
      layout, cents, emb.filter(col("vec_id") % 997 === 11),
      k = 4, shortlist = 10, nProbe = 2, buckets = 16, m = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in the IVFPQ plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast hash joins (ADC tables, shortlist):\n$p")
    val scans = unwrapPlan(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.partitionFilters.exists(f => f.toString.contains("cell_bucket") &&
          f.toString.contains(" IN ")) => s
    }
    val codeScans = scans.filter(s =>
      s.requiredSchema.fieldNames.contains("code"))
    val vecScans = scans.filter(s =>
      s.requiredSchema.fieldNames.contains("embedding"))
    assert(codeScans.nonEmpty, s"no bucket-pruned CODE scan found:\n$p")
    assert(vecScans.nonEmpty, s"no bucket-pruned rerank vector scan found:\n$p")
    // the compression contract: ADC pass never touches the vectors
    assert(codeScans.exists(s => !s.requiredSchema.fieldNames.contains("embedding")),
      s"the code scan also reads `embedding` — compression thrown away: " +
        s"${codeScans.map(_.requiredSchema.fieldNames.toSeq)}\n$p")
    for (s <- scans) {
      val read = s.metrics.get("numPartitions").map(_.value)
      assert(read.exists(n => n > 0 && n <= 8),
        s"expected the probed buckets to prune the scan, read=$read of 16\n$p")
      assert(s.metadata.get("PushedFilters").exists(_.contains("In(cell")),
        s"cell IN not pushed: ${s.metadata.get("PushedFilters")}\n$p")
    }
  }

  test("g02: both windows stay key-partitioned; transition counts aggregate map-side") {
    // the lag window must partition by user (sessionization shape) and
    // the out-total window by prev_type (constant-sized matrix frame) —
    // an unpartitioned window would funnel the event stream through one
    // task; the transition count must combine map-side
    val p = plan("g02_markov_transitions")
    assert(!p.contains("SinglePartition"),
      s"single-partition exchange in the transition plan:\n$p")
    val windows = p.linesIterator.count(_.matches(""".*[-+] Window \[.*"""))
    assert(windows == 2, s"expected exactly 2 windows, saw $windows:\n$p")
    assert(p.toLowerCase.contains("partial_count"),
      s"expected map-side partial count:\n$p")
  }

  test("q63/q65: upsert anti-join broadcasts; salted agg plans two aggregate levels") {
    val p63 = plan("q63_upsert")
    assert(p63.contains("BroadcastHashJoin") && p63.contains("LeftAnti"),
      s"q63: expected a broadcast anti-join on the update keys:\n$p63")
    val p65 = plan("q65_salted_agg")
    // two groupBys, each partial+final → 4 HashAggregates, salt in the
    // first level's keys only
    val aggs = p65.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"q65: expected two-level aggregation, saw $aggs HashAggregates:\n$p65")
    assert(p65.contains("graft_salt"), s"q65: salt missing from the plan:\n$p65")
  }

  test("t72: the de-skewed segment dedup plans NO window — aggregations only") {
    // the skew-safe formulation replaced the per-hash row_number with
    // two partial-combinable aggregations + a join; a Window in this
    // plan means the hot-key concentration is back
    val p = plan("t72_segment_dedup")
    assert(!p.contains("Window"), s"window reappeared in t72:\n$p")
    assert(p.toLowerCase.contains("partial_"),
      s"expected partial aggregation in the two-level min:\n$p")
  }

  test("t74: the quantile threshold broadcasts back to the corpus scan") {
    // the threshold table is group-cardinality sized; if the
    // application join ever sort-merges, the corpus pays a shuffle
    // for a kilobyte of thresholds
    assert(plan("t74_quantile_filter").contains("BroadcastHashJoin"),
      "expected the per-language threshold join to broadcast")
  }

  test("d55: delta dedup broadcasts the small candidate/threshold sides, no corpus window") {
    val p = plan("d55_delta_dedup")
    assert(!p.contains("CartesianProduct"), "delta dedup planned a cartesian")
    assert(!p.contains("Window"), s"no window belongs in the banded join path:\n$p")
  }

  test("q68: the physical as-of join plans the merge operator, not join+window") {
    val p = plan("q68_asof_physical")
    assert(p.contains("AsOfMergeJoin"), s"physical operator missing:\n$p")
    assert(!p.contains("Window"), s"lowered join+window leaked into the physical path:\n$p")
  }

  test("q68: the extension-carrying session plans the merge operator and is not mutated") {
    val strategy = graft.plans.AsOfJoinStrategy
    val before = spark.experimental.extraStrategies
    val p = plan("q68_asof_physical")
    assert(p.contains("AsOfMergeJoin") && !p.contains("Window"),
      s"GraftExtensions must not lower the physical node:\n$p")
    assert(spark.experimental.extraStrategies == before &&
      !before.contains(strategy),
      s"q68 appended to a session that already plans the strategy: $before")
  }

  test("q68: a session without the extension plans the merge operator through the fallback") {
    val plain = org.apache.spark.sql.GraftExpressionBridge.plainSession(spark.sparkContext)
    val strategy = graft.plans.AsOfJoinStrategy
    assert(!plain.sessionState.planner.strategies.contains(strategy))
    graft.Caches.releaseAll()
    val q68 = SparkEntry.queries("q68_asof_physical")
    val df = q68(plain, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfMergeJoin") && !p.contains("Window"),
      s"fallback did not plan the merge operator:\n$p")
    q68(plain, sfDir) // the append is idempotent
    assert(plain.experimental.extraStrategies.count(_ == strategy) == 1)
    assert(df.count() == q68(spark, sfDir).count())
  }

  test("q86: one grouped scan per output, and no exchange but the final sort's") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    graft.Caches.releaseAll()
    val df = SparkEntry.queries("q86_parity_pipeline")(spark, sfDir)
    df.collect()
    val executed = nodes(df.queryExecution.executedPlan)
    val p = df.queryExecution.executedPlan.toString
    // ok and dead of both apis: Normalize's grouped read, one row per
    // (season, league) group, and no file-source scan
    assert(executed.count(_.isInstanceOf[RDDScanExec]) == 4, s"expected 4 grouped scans:\n$p")
    assert(!executed.exists(_.isInstanceOf[FileSourceScanExec]), s"a file-source scan remains:\n$p")
    // the group verdict is in-row: no window, no object aggregate, and
    // the one exchange is the final ORDER BY's
    assert(!executed.exists(n => n.isInstanceOf[WindowExec] || n.isInstanceOf[ObjectHashAggregateExec]),
      s"a window or object aggregate remains:\n$p")
    assert(executed.count(_.isInstanceOf[Exchange]) == 1, s"expected only the sort's exchange:\n$p")
    graft.Caches.releaseAll()
  }

  test("only GraftSession.scala calls the SparkSession builder") {
    import scala.jdk.CollectionConverters._
    val call = """SparkSession\s*\.\s*builder\b""".r.unanchored
    val callers = Seq("src/main", "src/test").flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(f => call.matches(java.nio.file.Files.readString(f)))
      .map(_.getFileName.toString)
    assert(callers == Seq("GraftSession.scala"),
      s"session config belongs in GraftSession.builder: $callers")
  }

  test("bucketed tables join with ZERO exchanges (the shuffle was paid at write time)") {
    // fact⋈fact at 100 TB: neither side broadcasts, so an unbucketed
    // join shuffles both corpora on every query. Layout.writeBucketed
    // buckets+sorts by the join key once; the sort-merge join must
    // then read co-located buckets directly — any Exchange in the
    // joined plan means the layout metadata was lost.
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.operators.Layout.writeBucketed(
        graft.engine.Tables.orders(spark, sfDir), "graft_bkt_orders", "o_custkey", 4)
      graft.operators.Layout.writeBucketed(
        graft.engine.Tables.customer(spark, sfDir)
          .withColumnRenamed("c_custkey", "o_custkey"), "graft_bkt_customer", "o_custkey", 4)
      val joined = spark.table("graft_bkt_orders")
        .join(spark.table("graft_bkt_customer"), "o_custkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join should read co-located buckets without any exchange:\n$p")
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"scan does not report bucketed reading:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_customer")
    }
  }

  test("t77/q71/d56: pipeline, split and containment plan no single-partition funnel") {
    // premise needs parallelism: at GRAFT_TEST_SHUFFLE=1 every
    // repartition IS SinglePartition by definition (d56's
    // repartition(doc_id) prints as one), so the audit is meaningless
    // there — cancel rather than fail, like the AQE skew demos pin
    // their own partition count
    assume(spark.sessionState.conf.numShufflePartitions > 1,
      "single-partition-funnel audit needs shuffle parallelism > 1")
    Seq("t77_curation_pipeline", "t79_curation_spans", "q71_split",
      "d56_containment").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SinglePartition"),
        s"$q funnels through one task:\n$p")
    }
  }

  test("d56: probe selection plans exactly ONE window — the per-doc shingle count rides the explode") {
    // the probe rank needs a window (rarest-first within doc), but the
    // per-doc set size is size(s), known before the explode; a second
    // count-over-unbounded window re-buffering every posting partition
    // means the ride-along column regressed
    val p = plan("d56_containment")
    // match the NODE line ("+- Window [" / ":- Window [" after tree bars),
    // not the windowspecdefinition text inside it
    val windows = "[-+] Window \\[".r.findAllMatchIn(p).size
    assert(windows == 1, s"expected exactly one Window in the containment plan, got $windows:\n$p")
  }

  test("d57: the containment chain is planned ONCE (InMemoryRelation reuse through the union anti-join)") {
    // PushdownLeftSemiOrAntiJoin replicates d57's anti-join into both
    // union branches of the corpus; dropContained pins the id-narrow
    // dropped frame so the replicas share one InMemoryRelation. If the
    // pin regresses, the full containment chain (DF windows, candidate
    // join, merge-scan verify) executes once PER BRANCH — the round-6
    // 3x-evaluation bug in a new disguise. Physical instances are
    // told apart by plan_id: cached-plan reprints inside an
    // InMemoryTableScan repeat the SAME id, real duplicates get new
    // ones.
    val p = plan("d57_drop_contained")
    val canonAggIds = "Exchange hashpartitioning\\(lo#\\d+L, hi#\\d+L[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(canonAggIds.size == 1,
      s"expected ONE physical canonical-pair aggregation, got plan_ids $canonAggIds:\n$p")
    assert(p.contains("InMemoryTableScan [graft_drop#"),
      s"dropped-id frame is not cached (anti-join branches re-run the chain):\n$p")
  }

  test("d59/d60: span discovery ranks by aggregation — every window is per-doc") {
    // the global first occurrence per span hash must be a min(struct)
    // aggregation; a row_number window partitioned by the hash would
    // funnel a viral span's occurrences through one task at full
    // multiplicity (the segmentDedup skew argument). Only the
    // interval merge may window, and it partitions by doc_id.
    Seq("d59_repeated_spans", "d60_drop_spans").foreach { q =>
      val p = plan(q)
      val specs = "windowspecdefinition\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(specs.subsetOf(Set("doc_id")),
        s"$q windows partition by $specs, expected doc_id only:\n$p")
    }
  }

  test("s56: PQ encode + ADC is pure scan-stage work — no join, no hash shuffle") {
    // codebook and lookup table are driver-side literals; the corpus
    // is scanned once, scored per-row, and only the final orderBy may
    // exchange (range partitioning)
    val p = plan("s56_pq_adc")
    assert(!p.contains("Join"), s"PQ plans a join:\n$p")
    assert(!p.contains("hashpartitioning"), s"PQ hash-shuffles:\n$p")
  }

  test("s69/s70: the frame codebook is a 1-row broadcast — corpus scanned once, no hash shuffle before the argmax") {
    // above LiteralCodebookMax the codebook rides a broadcast
    // cross join (BroadcastNestedLoopJoin over the 1-row array frame)
    // instead of a k-term literal tree; the corpus must still pay
    // exactly ONE scan and never hash-shuffle for the assignment —
    // the only exchanges are the codebook's single-row aggregate and
    // the output orderBy (s69) / per-query top-k window (s70)
    val p69 = plan("s69_centroid_assign_big")
    assert(p69.contains("BroadcastNestedLoopJoin"),
      s"s69 did not broadcast the codebook frame:\n$p69")
    assert(!p69.contains("CartesianProduct"), s"s69 plans a cartesian:\n$p69")
    val embScans69 = "embeddings\\.parquet".r.findAllIn(p69).size
    assert(embScans69 <= 2, // corpus scan + the centroid-frame scan
      s"s69 scans embeddings $embScans69 times:\n$p69")
    val p70 = plan("s70_batch_knn_big")
    assert(p70.contains("BroadcastNestedLoopJoin") &&
      p70.contains("BroadcastHashJoin"),
      s"s70 missing the codebook broadcast or the probe hash join:\n$p70")
    assert(!p70.contains("CartesianProduct"), s"s70 plans a cartesian:\n$p70")
  }

  test("d64: the winnow index is scan-stage work — both kernels per-row, no pre-sort shuffle") {
    // rolling k-gram hashes + deque selection are codegen'd
    // expressions; the only exchange the plan may contain is the
    // output orderBy's range partitioning — never a hash shuffle or
    // a join
    val p = plan("d64_winnowing")
    assert(!p.contains("Join"), s"winnow index plans a join:\n$p")
    assert(!p.contains("hashpartitioning"), s"winnow index hash-shuffles:\n$p")
  }

  test("d65: fingerprint overlap joins on fp and aggregates — no window anywhere") {
    // the DF cap and the pair count are aggregations (map-side
    // partials); a window over fp occurrences would funnel a common
    // fingerprint through one task — the segmentDedup skew argument
    val p = plan("d65_fp_overlap")
    assert(!p.contains("Window"), s"fp overlap plans a window:\n$p")
    assert(p.toLowerCase.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("s58/t80: the small derived side broadcasts (shortlist, corpus total)") {
    // s58's 30-row shortlist must broadcast into the cell scan — the
    // corpus side never shuffles for the exact re-rank; t80's 1-row
    // total must broadcast back over the scored docs
    assert(plan("s58_pq_rerank").contains("BroadcastHashJoin"))
    assert(plan("t80_lm_gate").contains("BroadcastNestedLoopJoin"))
  }

  test("t82: the BPE top pair is an aggregation broadcast into the per-word fold — no corpus window") {
    // min(struct(-cnt, a, b)) picks the merge deterministically; a
    // row_number window over the pair table would funnel it through
    // one task. The 1-row winner broadcasts over the vocabulary.
    val p = plan("t82_bpe_merge")
    assert(!p.contains("Window"), s"bpe merge plans a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"top pair does not broadcast:\n$p")
  }

  test("q70: skew profile scans the table ONCE via grouping sets (no per-column rescan)") {
    val p = plan("q70_key_skew")
    assert(p.contains("Expand"), s"expected a grouping-sets Expand:\n$p")
    val scans = p.linesIterator
      .count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans == 1, s"expected exactly one table scan, got $scans:\n$p")
    // the distribution frame aggregates map-side before the exchange
    assert(p.toLowerCase.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("AQE splits a skewed join partition at runtime (the re-plan path q62's salting pre-empts)") {
    // one key holds ~90% of the rows; with skew-join thresholds
    // lowered to fixture scale, AQE must mark the sort-merge join
    // skew-handled and split the hot partition into multiple tasks —
    // the runtime complement to the static salting of q62, worth
    // pinning so a config regression can't silently serialize the
    // hot key again at 100 TB
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
      .map(k => k -> util.Try(spark.conf.get(k)).toOption.filter(_ != null))
    try {
      // skew-splitting needs multiple shuffle partitions to exist at
      // all — pin the count so partition-sweep runs (GRAFT_TEST_SHUFFLE
      // =1) still exercise the premise
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val skewed = (1L to 40000L)
        .map(i => (if (i % 10 != 0) 1L else i, s"payload_$i"))
        .toDF("k", "v")
      val dim = (1L to 4000L).map(i => (i, i * 2)).toDF("k", "w")
      val joined = skewed.join(dim, "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q30/q31: enforce split evaluates the validation tree once — filters test the error attribute") {
    // Without the ComputeOnce barrier, predicate pushdown inlines the
    // whole error derivation (JSON parse, timestamp format, try_casts)
    // into each side's Filter condition, tripling per-row work on the
    // 100 TB scan. The filter must reference the materialized column,
    // never re-derive it.
    Seq("q30_enforce_ok", "q31_enforce_dead", "q34_dead_letter_json").foreach { q =>
      val p = plan(q)
      val inlined = p.linesIterator.exists(l =>
        l.contains("Filter") && l.contains("get_json_object"))
      assert(!inlined, s"$q: validation tree inlined into a Filter:\n$p")
      val parses = p.sliding("get_json_object".length).count(_ == "get_json_object")
      assert(parses <= 1, s"$q: get_json_object appears $parses times (expected once):\n$p")
    }
  }

  test("q77/q78: view maintenance aggregates map-side; q78's recompute is a SEMI-join, never a fact rescan join") {
    val p77 = plan("q77_mv_maintain")
    assert(p77.toLowerCase.contains("partial_"),
      s"q77: delta aggregation should run map-side partials:\n$p77")
    val p78 = plan("q78_mv_min_maintain")
    assert(p78.contains("LeftSemi"),
      s"q78: the affected-group restriction must plan a semi-join:\n$p78")
  }

  test("s63: the pre-filter leg pushes the metadata predicate into the embedding scan") {
    val p = plan("s63_filtered_knn")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("label"),
      s"s63: label predicate not pushed to any scan:\n$pushed")
  }

  test("g08: the sampled adjacency ranks inside a src-partitioned window; expansion joins broadcast or hash") {
    val p = plan("g08_neighbor_sample")
    assert(!p.contains("CartesianProduct"), s"g08 plans a cartesian:\n$p")
    // at shuffle partitions = 1 every hash exchange plans (and prints)
    // as SinglePartition — the keyed-window assertion is meaningless
    // there; cancel like the single-partition-funnel audit does
    assume(spark.sessionState.conf.numShufflePartitions > 1,
      "src-keyed-exchange audit needs shuffle parallelism > 1")
    // the ranked window is keyed: hashpartitioning on src feeds it
    assert(p.contains("hashpartitioning(src"),
      s"g08: expected a src-keyed exchange before the rank window:\n$p")
  }

  test("s61/s64: quantized training steps are scan-stage + one aggregation — no join anywhere") {
    // the assignment/code array rides the pre-explode select
    // (Similarity.quantizedExplode extras); the earlier formulation
    // joined it against the n·dims exploded frame — a corpus-scale
    // shuffle for a pure scan-stage value (round-9 review finding)
    // the 1-row gscale broadcast rides a BroadcastNestedLoopJoin (the
    // sanctioned corpus-totals shape) — what must NOT appear is any
    // shuffle-join of the exploded frame
    Seq("s61_kmeans_step", "s64_pq_train").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
        !p.contains("BroadcastHashJoin"),
        s"$q plans a corpus-side join:\n$p")
    }
  }

  test("output-type canon: no catalogue query emits a DECIMAL column") {
    // Round-8 finding: the driver's differential gate hashes DECIMAL
    // output representations differently across oracle-engine builds
    // even when every cell compares equal — 5 of the 6 DECIMAL-output
    // queries were hash-red while cell-identical. Compared outputs are
    // BIGINT, DOUBLE-from-exact-integer, or VARCHAR — never DECIMAL.
    // DECIMAL remains fine as an INTERNAL carrier (exact wide-integer
    // arithmetic); this sweep pins the output schemas only.
    import org.apache.spark.sql.types.DecimalType
    graft.Caches.releaseAll()
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val decCols = SparkEntry.queries(name)(spark, sfDir).schema.fields
        .collect { case f if f.dataType.isInstanceOf[DecimalType] => f.name }
      if (decCols.isEmpty) None else Some(s"$name(${decCols.mkString(",")})")
    }
    assert(offenders.isEmpty,
      s"DECIMAL output columns in: ${offenders.mkString("; ")}")
  }

  test("d58 peel loop: one fused probe per round (lazy checkpoint + fused probe)") {
    // r12 profile: the old loop paid ~5 scheduling points per round
    // (two eager checkpoints + two counts + one more checkpoint) —
    // under a throttled driver that dominated d58's variance. The
    // fused rewrite checkpoints each round LAZILY and makes the
    // edges-remaining/drops-so-far probe agg the materializing action.
    // Under AQE (kept: the shrinking-loop A/B at sf0.1 measured 2.5 s
    // AQE vs 3.3 s static) a lazy checkpoint's toRdd is itself a
    // stage-running execution, so the observable floor is exactly TWO
    // SQL executions per round (checkpoint + probe) and two for init —
    // this test pins that floor; any regression back to per-round
    // counts/eager checkpoints shows up as extra executions. The
    // returned frame is a pure plan (no action inside the operator for
    // the caller's own action to re-pay).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.Caches.releaseAll()
    val ts = (1 to 20).map(i => f"w$i%02d")
    val x = ts.mkString(" ")
    val h = (ts.take(14) :+ "zz").mkString(" ")
    val p = (ts.slice(7, 14) :+ "zz").mkString(" ")
    // materialize the fixture BEFORE counting so its job is excluded
    val corpus = Seq((1L, x), (2L, h), (3L, p)).toDF("doc_id", "text")
      .localCheckpoint(true)
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          starts.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = graft.operators.Dedup.dropContainedMinimal(
        corpus, col("doc_id"), col("text"), threshold = 0.9)
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      // the P ⊂ H ⊂ X chain resolves in ONE round (H dropped, its
      // edges cleared) ⇒ (checkpoint + probe) × (init + 1 round) = 4.
      // UPPER bound only (r13 advice): a Spark upgrade that adds an
      // auxiliary execution per ACTION (AQE subquery, new planner
      // pass) would break an exact pin without any contract violation;
      // only regressions — EXTRA per-round actions (eager checkpoints,
      // separate counts) — must fail.
      assert(starts.get() <= 4 && starts.get() > 0,
        s"expected <=4 SQL executions (2 init + 2 for the single round), got ${starts.get()}")
      assert(out.count() == 2) // X and P survive
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** SQL executions `body` starts, counted once the listener bus drains. */
  private def sqlExecutions(body: => Unit): Int = {
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          starts.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      starts.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("d58 peel loop at bound 0: the distributed regime still pays 2 init + 2 per round") {
    // the catalogue's edge sets all fit the driver regime (3 executions:
    // checkpoint, probe, collect), so the distributed loop is pinned
    // through the peel core with the bound at 0. 1 ⊂ 2 ⊂ … ⊂ 6 peels in
    // three rounds: at most 2 + 2 × 3 executions, and at least one per
    // round beyond the init's two, which the driver regime never pays.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.Caches.releaseAll()
    val docs = (1L to 6L).toDF("doc_id").localCheckpoint(true)
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("contained", "container")
      .localCheckpoint(true)
    var out: org.apache.spark.sql.DataFrame = null
    val n = sqlExecutions {
      out = graft.operators.Dedup.peelContainment(docs, col("doc_id"), pairs, 20, 0L)
    }
    assert(n >= 2 + 3 && n <= 2 + 2 * 3,
      s"expected 5..8 SQL executions (2 init + 1..2 per round, 3 rounds), got $n")
    assert(out.as[Long].collect().toSet == Set(2L, 4L, 6L))
  }

  test("d58 driver regime: the final anti-join broadcasts a local relation, with no shuffle on the drop side") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.Caches.releaseAll()
    val ts = (1 to 20).map(i => f"w$i%02d")
    val corpus = Seq((1L, ts.mkString(" ")), (2L, (ts.take(14) :+ "zz").mkString(" ")),
      (3L, (ts.slice(7, 14) :+ "zz").mkString(" "))).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dropContainedMinimal(
      corpus, col("doc_id"), col("text"), threshold = 0.9)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    val p = out.queryExecution.executedPlan.toString
    val antiJoins = unwrapPlan(out.queryExecution.executedPlan).collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
    }
    assert(antiJoins.size == 1, s"expected one broadcast anti-join:\n$p")
    val dropSide = unwrapPlan(antiJoins.head.right)
    assert(dropSide.exists(_.isInstanceOf[LocalTableScanExec]),
      s"the drop side is not a local relation:\n$p")
    assert(!dropSide.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"a shuffle on the drop side:\n$p")
  }
}
