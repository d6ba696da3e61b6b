package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{Q, Tables}
import graft.operators.AsOf

/** Advanced relational surface: cube, exact deterministic statistics,
  * percentiles, array aggregation, explode/unnest, as-of join, pivot,
  * approximate sketches. Completes the §2.8 gap-fill beyond the basics
  * in Windows/Scalars.
  */
object Advanced {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** q23 — CUBE over two dimensions (all 4 grouping sets in one
    * aggregate pass / one shuffle). */
  val q23Cube: Q = Q(
    "q23_cube",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** q24 — exact-arithmetic dispersion statistics: variance/stddev via
    * decimal Σx and Σx² (both engines agree bit-for-bit; the built-in
    * stddev/var aggregates use engine-specific float accumulation
    * orders and would NOT hash-match). */
  val q24Stats: Q = Q(
    "q24_stats",
    """SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_q,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_q2,
      |  sqrt(greatest(
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |      - (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
      |        * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)),
      |    CAST(0 AS DOUBLE))) AS stddev_pop
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val q = dec(col("l_quantity"))
    val sumQ = sum(q).cast("double")
    val sumQ2 = sum(q * q).cast("double")
    val n = count(lit(1))
    // m*m not pow(m, 2): IEEE multiply rounds identically in every
    // engine while pow is libm-dependent (Java 1-ulp vs glibc exact);
    // greatest(·, 0) both sides: the variance can dip one ulp below
    // zero on constant groups — Spark's sqrt would yield NaN while
    // DuckDB's ABORTS the query
    val mean = sumQ / n
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        n.as("n"),
        sumQ.as("sum_q"),
        sumQ2.as("sum_q2"),
        sqrt(greatest(sumQ2 / n - mean * mean, lit(0.0d))).as("stddev_pop"))
      .orderBy(col("l_returnflag"))
  }

  /** q25 — exact percentiles (median / p90) with linear interpolation.
    * Inputs go through DECIMAL(18,2)→DOUBLE so the sorted values are
    * identical in both engines; the interpolation formula is the
    * standard (1−f)·lo + f·hi in both. */
  val q25Percentile: Q = Q(
    "q25_percentile",
    """SELECT l_returnflag,
      |  round(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), 0.5), 6) AS median_price,
      |  round(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), 0.9), 6) AS p90_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    // round(·, 6) on BOTH sides: the two engines' linear-interpolation
    // formulas (lo·(1−δ)+hi·δ vs lo·(⌈p⌉−p)+hi·(p−⌊p⌋)) can differ in
    // the last ulp; six decimals is far beyond the data's 2-decimal
    // precision and far above one ulp
    val v = dec(col("l_extendedprice")).cast("double")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(v, lit(0.5)), 6).as("median_price"),
        round(percentile(v, lit(0.9)), 6).as("p90_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q26 — array aggregation: per-order sorted line-number array (the
    * collect_list/array_agg surface; sort_array pins the order so the
    * result is deterministic under any shuffle schedule). The array is
    * serialized to a '-'-joined string for the gate: the external
    * comparator sorts result rows with pandas, which cannot hash
    * ndarray cells (round-1 q26 was the one unverifiable entry). Sort
    * happens NUMERICALLY before stringification on both sides. */
  val q26ArrayAgg: Q = Q(
    "q26_array_agg",
    """SELECT l_orderkey,
      |  array_to_string(list_sort(list(l_linenumber)), '-') AS line_numbers,
      |  CAST(len(list(l_linenumber)) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_orderkey % 100 = 0
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 100 === 0)
      .groupBy(col("l_orderkey"))
      .agg(
        array_join(transform(sort_array(collect_list(col("l_linenumber"))),
          x => x.cast("string")), "-").as("line_numbers"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_orderkey"))
  }

  /** q27 — explode/unnest: part-name words → rows → frequency. */
  val q27Explode: Q = Q(
    "q27_explode",
    """SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      |GROUP BY word
      |ORDER BY word""".stripMargin) { (s, dir) =>
    Tables.part(s, dir)
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("word"))
  }

  /** q28 — as-of join (composed operator; Spark has no native as-of):
    * each error event picks the same user's most recent purchase value
    * at-or-before it. The DuckDB oracle uses its NATIVE ASOF JOIN — an
    * independent implementation agreeing with our composition. */
  val q28AsofJoin: Q = Q(
    "q28_asof_join",
    """WITH p AS (
      |  SELECT user_id, ts, max(value) AS value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, ts)
      |SELECT l.event_id, l.user_id, l.ts AS error_ts, r.value AS last_purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'error') l
      |ASOF LEFT JOIN p r
      |  ON l.user_id = r.user_id AND r.ts <= l.ts
      |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
    // the right side is pre-deduplicated to one row per (user, ts) —
    // identically on both engines — because DuckDB's native ASOF JOIN
    // leaves the winner UNSPECIFIED when several right rows share the
    // maximal timestamp, while our operator deterministically takes
    // the greatest payload tuple; max(value) makes ties impossible
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .withColumnRenamed("value", "err_value")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("last_purchase_value"))
    AsOf.asofJoin(
        errors, purchases,
        col("user_id"), col("p_user"), col("ts"), col("p_ts"),
        leftCols = Seq("event_id"), rightCols = Seq("last_purchase_value"))
      .select(col("event_id"), col("asof_key").as("user_id"),
        col("asof_lt").as("error_ts"), col("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** q68 — the PHYSICAL as-of merge operator, oracle-gated: q28's
    * exact semantics (same DuckDB ASOF JOIN oracle) executed through
    * `AsOfMergeJoinExec` — custom `SparkPlan` picked by
    * `AsOfJoinStrategy` — instead of the Join+Window lowering.
    * `GraftSession` sessions carry the strategy; `asofJoinPhysical`
    * appends it on any other session. */
  val q68AsofPhysical: Q = Q(
    "q68_asof_physical",
    """WITH p AS (
      |  SELECT user_id, ts, max(value) AS value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, ts)
      |SELECT l.event_id, l.user_id, l.ts AS error_ts, r.value AS last_purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'error') l
      |ASOF LEFT JOIN p r
      |  ON l.user_id = r.user_id AND r.ts <= l.ts
      |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("last_purchase_value"))
    graft.plans.AsOfJoinPlan.asofJoinPhysical(
        errors, purchases,
        col("user_id"), col("p_user"), col("ts"), col("p_ts"))
      .select(col("event_id"), col("user_id"),
        col("ts").as("error_ts"), col("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** q69 — the DSv2 connector end-to-end under the oracle gate:
    * documents are materialized into a real staged-file tree through
    * the two-phase-commit WRITE path, read back through the connector
    * (the season filter prunes whole files at planning), and
    * aggregated; the oracle computes the same aggregate straight from
    * the documents table — so layout round-trip, file pruning, and
    * worker-side body reads are all hash-gated, not just spec-gated. */
  val q69StagedRoundtrip: Q = Q(
    "q69_staged_roundtrip",
    """SELECT doc_id % 3 + 1 AS league,
      |  CASE WHEN doc_id % 2 = 0 THEN 'teams' ELSE 'standings' END AS endpoint,
      |  CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
      |FROM documents WHERE doc_id < 150 AND doc_id % 5 + 2020 = 2023
      |GROUP BY 1, 2 ORDER BY league, endpoint""".stripMargin) { (s, dir) =>
    val tmp = graft.engine.WorkDirs.path("q69", dir)
    // deterministic bounded subset: the layout is one row per file, so
    // an uncapped stage writes |documents| files — the cap keeps the
    // materialized tree sf-independent (the connector's own scaling is
    // measured in SourcesSpec; this query gates CORRECTNESS end-to-end)
    val staged = Tables.documents(s, dir).filter(col("doc_id") < 150).select(
        (col("doc_id") % 5 + 2020).as("season"),
        (col("doc_id") % 3 + 1).as("league"),
        when(col("doc_id") % 2 === 0, "teams").otherwise("standings").as("endpoint"),
        col("text").as("body"),
        // table schema includes the READ-derived path column; its
        // written value is ignored (the layout determines the path)
        lit("").as("path"))
    // the connector writes ONE FILE PER ROW, so its write parallelism
    // is the incoming partition count — and the bench corpus is one
    // parquet split, so the whole 150-file write ran as a single task
    // (measured r21: 2.34 s of the query's ~3 s). Spread to cluster
    // width when the scan is starved (guide §2.5), identity at
    // production split counts. File NAMES shift with the partitioning
    // (part-<partition>-<seq>.json) but no queried value derives from
    // them — the read maps season/league/endpoint from DIRECTORIES and
    // the aggregate reads only body bytes (oracle-gated).
    val cores = s.sparkContext.defaultParallelism
    (if (staged.rdd.getNumPartitions < cores) staged.repartition(cores)
     else staged)
      .write.format("staged-json").mode("overwrite").save(tmp)
    s.read.format("staged-json").load(tmp)
      .filter(col("season") === 2023) // planning-time file pruning
      .groupBy(col("league"), col("endpoint"))
      .agg(count(lit(1)).as("n_files"),
        sum(octet_length(col("body"))).as("n_bytes"))
      .orderBy(col("league"), col("endpoint"))
  }

  /** q87 — EXACTLY-ONCE incremental file ingestion
    * (sources.FileLedger): a staged tree grows in two runs (evens,
    * then odds added), each run ingests ONLY the files no other run
    * has committed (driver-side listing minus the JSON-lines ledger),
    * and commits by overwriting its own `run=<id>` ledger partition —
    * the continuous-ingestion contract (new shards process exactly
    * once; a replayed run re-selects its own set, never double-
    * ingests; SourcesSpec gates the replay/crash paths). The oracle
    * recomputes each run's expected file set straight from the
    * documents table (the q69 rule: the materialized tree must
    * preserve content exactly); sum_doc_id ties file IDENTITY, not
    * just counts, to the run that ingested it. */
  val q87IncrementalIngest: Q = Q(
    "q87_incremental_ingest",
    """SELECT CAST(1 AS BIGINT) AS run, CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM documents WHERE doc_id < 120 AND doc_id % 2 = 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS run, CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
      |FROM documents WHERE doc_id < 120 AND doc_id % 2 = 1
      |ORDER BY run""".stripMargin) { (s, dir) =>
    import graft.sources.FileLedger
    val root = graft.engine.WorkDirs.path("q87", dir)
    val (files, ledgerDir, glob) = (s"$root/files", s"$root/ledger", s"$root/files/*.txt")
    val rootPath = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rootPath)) {
      // Files.walk must be closed (directory handles leak otherwise —
      // every catalogue sweep constructs this query in one JVM)
      val walk = java.nio.file.Files.walk(rootPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(files))
    // bounded driver-side staging (the q69/q86 fixture class): one
    // file per doc, two arrival waves
    def stage(parity: Int): Unit =
      Tables.documents(s, dir)
        .filter(col("doc_id") < 120 && col("doc_id") % 2 === parity)
        .select(col("doc_id"), col("text")).collect().foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(files, f"doc_${r.getLong(0)}%06d.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          ()
        }
    stage(0)
    FileLedger.commit(s, FileLedger.newFiles(s, glob, ledgerDir, 1L), ledgerDir, 1L)
    stage(1)
    FileLedger.commit(s, FileLedger.newFiles(s, glob, ledgerDir, 2L), ledgerDir, 2L)
    // the audited read: final ledger state joined to the live listing
    // (FileLedger.listing — the guarded read; an empty corpus stages
    // no files and an unguarded glob would PATH_NOT_FOUND)
    FileLedger.ledger(s, ledgerDir)
      .join(FileLedger.listing(s, glob), Seq("path"))
      .select(col("run"),
        regexp_extract(col("path"), "doc_(\\d+)\\.txt", 1).cast("long").as("doc_id"),
        col("n_bytes"))
      .groupBy(col("run"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_bytes")).as("n_bytes"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("run"))
  }

  /** q29 — pivot (dedicated API over conditional aggregation): order
    * counts per nation × status. */
  val q29Pivot: Q = Q(
    "q29_pivot",
    """SELECT n_name AS nation,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS status_O,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS status_F,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS status_P
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY nation""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .count()
      .select(col("nation"),
        coalesce(col("O"), lit(0L)).as("status_O"),
        coalesce(col("F"), lit(0L)).as("status_F"),
        coalesce(col("P"), lit(0L)).as("status_P"))
      .orderBy(col("nation"))
  }

  /** q36 — approximate sketches, fully oracle-hash-matched: the
    * PORTABLE 64-register HyperLogLog (t90's construction — every
    * register term a power of two so the sum is exact in binary FP
    * regardless of accumulation order; the raw estimator α·m²/s is two
    * IEEE ops on exact inputs, hence bit-reproducible cross-engine)
    * over `l_partkey`, next to the exact rational-rank discrete median
    * of `l_extendedprice` (Quantiles.continuousPercentileDisc — the
    * two-pass histogram refinement for near-continuous domains; integer rank
    * compare, `percentile_disc` semantics). BIGINT keys hash with a
    * DOUBLE-SQUARING mix over P = 1e9+7 — h₁ = (k² + 12345) mod P,
    * h = (h₁² + k) mod P, every operand < 2³⁰ so products fit int64 on
    * both engines, no per-row string round-trip. The nonlinearity is
    * load-bearing: an affine hash (LCG, or polyHash of the digit
    * string — a rolling hash is affine in the integer) maps sequential
    * keys to an arithmetic progression / a narrow cluster whose
    * leading-zero statistics are degenerate and skew the estimate
    * several-fold; squaring twice mod P breaks the affinity
    * (empirically est/exact ∈ [0.8, 1.31] for n ∈ [200, 100k] —
    * inside the m = 64 raw-estimator band). This
    * retires q36's original `no_oracle` carve-out: engine-native
    * `approx_count_distinct`/`percentile_approx` remain the opaque
    * production alternatives, but the sketch SEMANTICS are portably
    * SQL-expressible, so the catalogue entry is now a real
    * rows/schema/hash row. Exact twins: q12/q25 (distinct counts),
    * q73 (equi-depth). */
  val q36ApproxSketches: Q = {
    // rho = 1-based first-one-bit position in the 24-bit window
    // w = h div 64 (h < P = 1e9+7 < 2^30 ⇒ w < 2^24); w = 0 → 25.
    // One generated CASE, shared verbatim by Spark and DuckDB.
    val rhoCase = (0 until 24)
      .map(k => s"WHEN w >= ${1L << (23 - k)} THEN ${k + 1}")
      .mkString("CASE ", " ", " ELSE 25 END")
    val hashCtes =
      """h0 AS (SELECT l_returnflag AS flag, l_partkey % 1000000007 AS k0 FROM lineitem),
        |h1 AS (SELECT flag, k0, (k0 * k0 + 12345) % 1000000007 AS m1 FROM h0),
        |h AS (SELECT flag, (m1 * m1 + k0) % 1000000007 AS hh FROM h1)""".stripMargin
    Q(
      "q36_approx_sketches",
      s"""WITH $hashCtes,
         |b AS (SELECT flag, hh % 64 AS reg, hh // 64 AS w FROM h),
         |r AS (SELECT flag, reg, $rhoCase AS rho FROM b),
         |m AS (SELECT flag, reg, max(rho) AS max_rho FROM r GROUP BY flag, reg),
         |e AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_regs,
         |        sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s_present
         |      FROM m GROUP BY flag),
         |x AS (SELECT l_returnflag AS flag,
         |        CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
         |      FROM lineitem GROUP BY flag),
         |d AS (SELECT l_returnflag AS flag, l_extendedprice AS v, count(*) AS c
         |      FROM lineitem GROUP BY flag, v),
         |w2 AS (SELECT flag, v, c,
         |        sum(c) OVER (PARTITION BY flag ORDER BY v
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |        sum(c) OVER (PARTITION BY flag) AS tot
         |      FROM d),
         |med AS (SELECT flag, min(v) AS median_price
         |        FROM w2 WHERE cum * 100 >= tot * 50 GROUP BY flag)
         |SELECT e.flag AS l_returnflag, e.n_regs,
         |  CAST('0.709' AS DOUBLE) * CAST(4096 AS DOUBLE)
         |    / (e.s_present + (64 - e.n_regs)) AS est_parts,
         |  x.exact_parts, med.median_price
         |FROM e JOIN x USING (flag) JOIN med USING (flag)
         |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      // the HLL hash is duplicate-invariant (max_rho over equal keys is
      // the key's rho) and the exact leg is a distinct count — both
      // legs derive from ONE distinct (flag, key) frame, one scan +
      // one shuffle instead of two of each
      val dk = li.select(col("l_returnflag").as("flag"), col("l_partkey"))
        .distinct()
        .transform(d => graft.Caches.pin(d))
      val regs = dk
        .select(col("flag"), expr("l_partkey % 1000000007").as("k0"))
        .select(col("flag"), col("k0"),
          expr("(k0 * k0 + 12345) % 1000000007").as("m1"))
        .select(col("flag"), expr("(m1 * m1 + k0) % 1000000007").as("hh"))
        .select(col("flag"), expr("hh % 64").as("reg"), expr("hh div 64").as("w"))
        .select(col("flag"), col("reg"), expr(rhoCase).as("rho"))
        .groupBy(col("flag"), col("reg")).agg(max(col("rho")).as("max_rho"))
      val est = regs.groupBy(col("flag"))
        .agg(count(lit(1)).as("n_regs"),
          sum(expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), max_rho)"))
            .as("s_present"))
        .select(col("flag"), col("n_regs"),
          (lit(0.709) * lit(4096.0) /
            (col("s_present") + (lit(64) - col("n_regs")))).as("est_parts"))
      val exact = dk.groupBy(col("flag"))
        .agg(count(lit(1)).as("exact_parts"))
      // l_extendedprice is near-continuous — the DISCRETE-distribution
      // percentile would funnel the distinct-value distribution into
      // |flags| window tasks (the q73 lesson); the two-pass histogram
      // refinement keeps every stage parallel and is percentile_disc-
      // exact, so the oracle is unchanged
      val med = graft.operators.Quantiles
        .continuousPercentileDisc(
          li.select(col("l_returnflag"), col("l_extendedprice")),
          Seq("l_returnflag"), col("l_extendedprice"), 50)
        .select(col("l_returnflag").as("flag"), col("threshold").as("median_price"))
      est.join(exact, "flag").join(med, "flag")
        .select(col("flag").as("l_returnflag"), col("n_regs"), col("est_parts"),
          col("exact_parts"), col("median_price"))
        .orderBy(col("l_returnflag"))
    }
  }

  /** q40 — session windows (30-min inactivity gap) per user: Spark's
    * `session_window` (the same operator runs incrementally on a
    * stream with a watermark); the DuckDB oracle derives identical
    * sessions from first principles (lag + cumulative new-session
    * flags) — an independent formulation agreeing with Spark's
    * built-in. */
  val q40SessionWindow: Q = Q(
    "q40_session_window",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |           WHERE ts IS NOT NULL),
      |d AS (SELECT user_id, ts, value,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |               OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM d)
      |SELECT user_id,
      |  MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    sessionAgg(Tables.events(s, dir))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q40's engine construction, extracted so its null discipline is
    * unit-testable on a null-bearing fixture: sessions are defined
    * over TIMESTAMPED events only — a null ts orders at opposite
    * partition ends across engines in the oracle's lag derivation, and
    * session_window's null-key group is engine-defined — so null-ts
    * rows are dropped on both legs before sessionization. */
  private[graft] def sessionAgg(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .filter(col("ts").isNotNull)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** q49 — map-typed column surface: construction, key listing,
    * value extraction, cardinality. (DuckDB's `m[key]` yields a LIST —
    * indexed [1] for the scalar; Spark's element_at is scalar.) */
  val q49MapFuncs: Q = Q(
    "q49_map_funcs",
    """SELECT event_id,
      |  array_to_string(list_sort(map_keys(MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)})), '-') AS m_keys,
      |  MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}['type'][1] AS type_val,
      |  CAST(cardinality(MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}) AS BIGINT) AS n_entries
      |FROM events
      |WHERE event_id % 50 = 0
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val m = map(lit("type"), col("event_type"), lit("uid"), col("user_id").cast("string"))
    Tables.events(s, dir)
      .filter(col("event_id") % 50 === 0)
      .select(
        col("event_id"),
        array_join(array_sort(map_keys(m)), "-").as("m_keys"),
        element_at(m, "type").as("type_val"),
        size(m).cast("long").as("n_entries"))
      .orderBy(col("event_id"))
  }

  /** q50 — exact-arithmetic Pearson correlation (quantity vs discount
    * per return flag) from decimal power sums: the built-in corr()
    * accumulates in engine-specific float order and would not
    * hash-match; the decimal Σx/Σy/Σxx/Σyy/Σxy route is exact in both
    * engines, with m·m instead of pow (libm-free) throughout. */
  val q50Corr: Q = Q(
    "q50_corr",
    """SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  (COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
      |     - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE))
      |  / NULLIF(sqrt(
      |      (COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |         - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE))
      |      * (COUNT(*) * CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
      |         - CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE))), 0.0)
      |  AS corr_qd
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val x = dec(col("l_quantity"))
    val y = dec(col("l_discount"))
    val n = count(lit(1))
    val sx = sum(x).cast("double")
    val sy = sum(y).cast("double")
    val sxx = sum(x * x).cast("double")
    val syy = sum(y * y).cast("double")
    val sxy = sum(x * y).cast("double")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        n.as("n"),
        // NULLIF'd denominator: a constant column in a group zeroes the
        // variance product — ANSI division would THROW engine-side where
        // DuckDB yields NULL (the r13 division-by-zero sweep)
        ((n * sxy - sx * sy) / nullif(
            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), lit(0.0d)))
          .as("corr_qd"))
      .orderBy(col("l_returnflag"))
  }

  /** q59 — unpivot (melt), the inverse of q29's pivot: wide per-part
    * metric columns → long (key, metric, value) rows via the typed
    * `Dataset.unpivot` API (a Generate, not a UNION of rescans — one
    * pass over the source regardless of metric count). The oracle
    * states the same reshape as a stacked UNION ALL. */
  val q59Unpivot: Q = Q(
    "q59_unpivot",
    """SELECT p_partkey, metric, value FROM (
      |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value FROM part)
      |ORDER BY p_partkey, metric""".stripMargin) { (s, dir) =>
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").cast("double").as("retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("size"), col("retailprice")), "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))
  }

  /** q56 — per-group OLS regression (slope/intercept of price on
    * quantity), closed-form from the same decimal-exact sum route as
    * q50: the aggregates are exact decimals (no float-sum order
    * sensitivity), and the closed form is plain IEEE arithmetic
    * written identically for both engines. Group-wise model fitting
    * as ONE aggregation pass — no per-group iteration, no collect. */
  val q56GroupLinreg: Q = {
    val SX = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
    val SY = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
    val SXX = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
    val SXY = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
    val SLOPE = s"(COUNT(*) * $SXY - $SX * $SY) / NULLIF(COUNT(*) * $SXX - $SX * $SX, 0.0)"
    Q(
      "q56_group_linreg",
      s"""SELECT l_returnflag,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  round($SLOPE, 6) AS slope,
         |  round(($SY - ($SLOPE) * $SX) / COUNT(*), 6) AS intercept
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      val n = count(lit(1))
      val sx = sum(x).cast("double")
      val sy = sum(y).cast("double")
      val sxx = sum(x * x).cast("double")
      val sxy = sum(x * y).cast("double")
      // NULLIF'd x-variance (constant-quantity group): ANSI-safe NULL
      // slope/intercept on both engines instead of an engine-side throw
      val slope = (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, lit(0.0d))
      // emitted at 6 dp on BOTH legs (the interpolated-percentile
      // rounding rule): the closed form's numerator is a catastrophic
      // cancellation of ~10²¹ products, which amplifies a single-ulp
      // decimal→double conversion difference between engines into
      // ~1e-12 relative slope noise (found by the r15 organic sweep —
      // invisible on corpora whose sums happen to convert identically)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(n.as("n"), round(slope, 6).as("slope"),
          round((sy - slope * sx) / n, 6).as("intercept"))
        .orderBy(col("l_returnflag"))
    }
  }

  /** q60 — fixed-width histogram: one map-side-combinable aggregate
    * pass; the bucket key is pure row arithmetic so the scan never
    * shuffles anything wider than (bucket, partial counts). The bucket
    * is derived in EXACT integer cents (price×100 DIV 500000) — double
    * vs decimal division can flip boundary values between engines —
    * and the sum rides DECIMAL(18,2) then casts back to DOUBLE per the
    * repo determinism convention (Relational.scala:18-19). */
  val q60Histogram: Q = Q(
    "q60_histogram",
    """SELECT CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 500000 AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(expr(
        "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 500000 AS BIGINT)")
        .as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy(col("bucket"))
  }

  /** q61 — deterministic per-group mode: most frequent value, ties
    * broken toward the smallest (the built-in `mode()` picks an
    * ARBITRARY tie winner in both engines — unusable under a hash
    * compare; the count+row_number formulation pins it). Two bounded
    * aggregation levels, both map-side combinable. */
  val q61Mode: Q = Q(
    "q61_mode",
    """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
      |           FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT l_returnflag, l_quantity, n,
      |        row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY n DESC, l_quantity ASC) AS rn
      |      FROM c)
      |SELECT l_returnflag, l_quantity AS mode_qty, CAST(n AS BIGINT) AS n_occurrences
      |FROM r WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("l_quantity").asc)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("n").as("n_occurrences"))
      .orderBy(col("l_returnflag"))
  }

  val all: Seq[Q] = Seq(
    q23Cube, q24Stats, q25Percentile, q26ArrayAgg, q27Explode,
    q28AsofJoin, q29Pivot, q36ApproxSketches, q40SessionWindow, q68AsofPhysical,
    q69StagedRoundtrip, q87IncrementalIngest,
    q49MapFuncs, q50Corr, q56GroupLinreg, q59Unpivot, q60Histogram, q61Mode)
}
