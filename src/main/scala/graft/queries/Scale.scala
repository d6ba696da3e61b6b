package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{Q, Tables}
import graft.operators.{BloomPrune, Interval, Sampling}
import graft.operators.TextHash.polyHashSql

/** Scale-technique operators as oracle-checked queries: bucketized
  * interval join, bloom-pruned join, deterministic sampling. Each
  * exists because the naive formulation stops working at 100 TB (per-
  * key cross products, full-fact shuffles, partition-seeded sampling);
  * the oracle proves the scalable formulation computes the SAME
  * answer as the naive SQL.
  */
object Scale {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** q41 — interval (range) join: purchases within the 30 minutes
    * before each error, per user. The DuckDB oracle is the naive
    * BETWEEN join; the engine runs the time-bucketized form whose
    * shuffle key is (user, bucket) — no per-key cross product. */
  val q41IntervalJoin: Q = Q(
    "q41_interval_join",
    """SELECT l.user_id, l.event_id AS error_id, r.event_id AS purchase_id,
      |  epoch_us(CAST(l.ts AS TIMESTAMP)) - epoch_us(CAST(r.ts AS TIMESTAMP)) AS lag_us
      |FROM (SELECT * FROM events WHERE event_type = 'error') l
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id
      | AND r.ts >= l.ts - INTERVAL 30 MINUTE AND r.ts <= l.ts
      |ORDER BY error_id, purchase_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    Interval.joinLookback(errors, purchases,
        col("user_id"), col("p_user"), col("ts"), col("p_ts"),
        leftCols = Seq("error_id"), rightCols = Seq("purchase_id"), w = 1800L)
      .select(col("iv_key").as("user_id"), col("error_id"),
        col("purchase_id"), col("lag_us"))
      .orderBy(col("error_id"), col("purchase_id"))
  }

  /** q42 — deterministic hash-Bernoulli sample (~10% of line items by
    * portable hash of the composite row key), aggregated. Stable under
    * repartitioning and re-runs — `df.sample()` is neither — and the
    * oracle draws the SAME sample from the same hash formula. */
  val q42HashSample: Q = Q(
    "q42_hash_sample",
    s"""SELECT l_returnflag,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM lineitem
       |WHERE ${polyHashSql("l_orderkey || '-' || l_linenumber")} % 100 < 10
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    // concat, NOT concat_ws: the oracle's `a || '-' || b` propagates
    // NULL while concat_ws skips null parts — a row with a null key
    // component must fall out of the sample on BOTH engines
    val sampled = Sampling.hashBernoulli(Tables.lineitem(s, dir),
      concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")), 10)
    sampled.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q43 — bloom-pruned join: lineitem probe side pre-filtered by a
    * bloom sketch of the selective orders build side before the
    * shuffle. The oracle is the plain join — bloom false positives
    * must not change the answer, only the work. */
  val q43BloomJoin: Q = Q(
    "q43_bloom_join",
    """SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 400000
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val hot = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("dim_key"))
    BloomPrune.prunedJoin(Tables.lineitem(s, dir), hot,
        col("l_orderkey"), col("dim_key"), expectedDimKeys = 100000L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** q44 — systematic (every-100th) sample per return-flag stratum
    * under a total order: proportional stratified representation,
    * fully deterministic. */
  val q44SystematicSample: Q = Q(
    "q44_systematic_sample",
    """WITH rn AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_orderkey, l_linenumber) AS r
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_returnflag
      |FROM rn WHERE (r - 1) % 100 = 0
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Sampling.systematic(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag")),
        strata = Seq(col("l_returnflag")),
        order = Seq(col("l_orderkey"), col("l_linenumber")),
        k = 100)
      .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
  }

  /** q48 — bounded top-k per group via the typed Aggregator: each
    * nation's 3 highest-value orders. Same answer as the window
    * formulation (the oracle), but the exchange carries ≤ k rows per
    * (partition, group) thanks to map-side partial aggregation —
    * the 100 TB form of q10/q46. */
  val q48TopkAgg: Q = Q(
    "q48_topk_agg",
    """WITH ranked AS (
      |  SELECT n_name, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY n_name
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS r
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |SELECT n_name, CAST(r AS BIGINT) AS rank, o_orderkey,
      |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM ranked WHERE r <= 3
      |ORDER BY n_name, rank""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val joined = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
    joined.groupBy(col("n_name"))
      .agg(graft.functions.TopKAgg.topK(3)(
        col("o_totalprice").cast("double"), col("o_orderkey")).as("top"))
      .select(col("n_name"), posexplode_outer(col("top")))
      .select(col("n_name"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
      .orderBy(col("n_name"), col("rank"))
  }

  /** q52 — stratified hash-Bernoulli sample: per-segment keep rates
    * (40/20/10%, unlisted segments dropped) by portable key hash — the
    * deterministic `sampleBy`. The rate table broadcasts; the fact
    * side never shuffles. */
  val q52StratifiedSample: Q = {
    val rates = Seq("AUTOMOBILE" -> 40, "BUILDING" -> 20, "FURNITURE" -> 10)
    val rateCase = rates.map { case (seg, pct) =>
      s"WHEN '$seg' THEN $pct"
    }.mkString("CASE c_mktsegment ", " ", " ELSE 0 END")
    Q(
      "q52_stratified_sample",
      s"""SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
         |FROM customer
         |WHERE ${polyHashSql("CAST(c_custkey AS VARCHAR)")} % 100 < $rateCase
         |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Sampling.stratifiedHash(Tables.customer(s, dir),
          col("c_mktsegment"), col("c_custkey"), rates.toMap)
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }
  }

  /** q54 — the registered SQL surface end-to-end: the catalogue
    * otherwise drives custom expressions through the Column API, but a
    * shared-cluster user writes `SELECT poly_hash(...)` — this query
    * goes through GraftFunctions.register + spark.sql so the SQL path
    * itself sits behind the oracle gate. */
  val q54SqlSurface: Q = Q(
    "q54_sql_surface",
    s"""SELECT doc_id,
       |  ${polyHashSql(graft.operators.TextHash.asciiLowerSql("text"))} AS h,
       |  ${polyHashSql(graft.operators.TextHash.asciiLowerSql("text"))} % 64 AS shard
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
    // the case-fold fragment comes from the same emitter as the oracle
    // (translate() is identical SQL in both engines) — only poly_hash
    // itself differs: registered native expression here, expanded
    // list_reduce formula there
    val fold = graft.operators.TextHash.asciiLowerSql("text")
    s.sql(
      s"""SELECT doc_id,
         |  poly_hash($fold) AS h,
         |  poly_hash($fold) % 64 AS shard
         |FROM graft_docs ORDER BY doc_id""".stripMargin)
  }

  /** q55 — Z-order (Morton) clustering code: the multi-dimensional
    * layout key (see operators/Layout.zorderBy for the write-side
    * step); deterministic bit-interleave emitted identically for both
    * engines. Sampled to every 10th order to keep the gate output
    * bounded. */
  val q55ZorderCode: Q = Q(
    "q55_zorder_code",
    s"""SELECT l_orderkey, l_linenumber,
       |  ${graft.operators.Layout.mortonSql("l_partkey", "l_suppkey")} AS zcode
       |FROM lineitem WHERE l_orderkey % 10 = 0
       |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.Layout.morton(col("l_partkey"), col("l_suppkey")).as("zcode"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q62 — salted skew join: orders ⋈ customer run through
    * Skew.saltedJoin (fact side split into 8 deterministic salt
    * sub-keys, dimension replicated per salt) — the manual rebalance
    * for hot keys that AQE can't split (skew born upstream of the
    * join's own exchange). The oracle is the UNSALTED join: salting
    * must be invisible in the result. */
  val q62SaltedJoin: Q = Q(
    "q62_salted_join",
    """SELECT c.c_nationkey,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.operators.Skew.saltedJoin(
        Tables.orders(s, dir),
        Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey", col("o_orderkey"), saltFactor = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("c_nationkey"))
  }

  /** q63 — MERGE-style upsert (Merge.upsert): a changeset (every 10th
    * order repriced, status 'U') wins over same-key target rows,
    * unmatched target rows survive. The oracle is the textbook
    * UNION ALL + NOT EXISTS statement of MERGE; the engine's anti-join
    * probes only the broadcast key projection, so the 100 TB target
    * never shuffles. */
  val q63Upsert: Q = Q(
    "q63_upsert",
    """WITH upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS price
      |       FROM orders WHERE o_orderkey % 10 = 0),
      |tgt AS (SELECT o_orderkey, o_orderstatus,
      |          CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
      |merged AS (SELECT * FROM upd
      |  UNION ALL
      |  SELECT t.* FROM tgt t
      |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey))
      |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      |FROM merged ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val tgt = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec(col("o_totalprice")).as("price"))
    val upd = tgt.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("price") * 2).cast(DecimalType(18, 2)).as("price"))
    graft.operators.Merge.upsert(tgt, upd, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** q65 — two-stage skew-safe aggregation (Skew.saltedAgg): events
    * grouped by the 5-value event_type key — exactly the shape where
    * ONE reduce task absorbs a fifth of the corpus no matter the
    * cluster size. The salted pre-aggregate spreads each hot key over
    * 16 tasks; the oracle is the direct GROUP BY (salting must be
    * invisible — counts are BIGINT, sums DECIMAL, both
    * re-association-exact). */
  val q65SaltedAgg: Q = Q(
    "q65_salted_agg",
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.operators.Skew.saltedAgg(Tables.events(s, dir),
        col("event_type"), dec(col("value")), col("event_id"), saltFactor = 16)
      .select(col("graft_key").as("event_type"), col("n"),
        col("total").cast("double").as("total"))
      .orderBy(col("event_type"))
  }

  /** q66 — fuzzy-match join: customer-name pairs at Levenshtein
    * distance ≤ 1 within nation blocks, aggregated to the per-nation
    * match-rate profile. The engine runs Fuzzy.nearNamePairs —
    * symmetric-delete (FastSS) candidate generation, exact recall for
    * distance ≤ 1, so only variant-hash collisions pay the threshold
    * DP (within-block ALL-pairs is quadratic in the block, and the
    * shared "Customer#" prefix defeats even the early-exit DP: 13 s
    * naive, 7.8 s threshold, banded <1 s at sf0.1) — while the
    * oracle states the naive all-pairs distance. */
  val q66EditDistance: Q = Q(
    "q66_edit_distance",
    """SELECT a.c_nationkey,
      |  CAST(count(*) AS BIGINT) AS n_fuzzy_pairs
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.operators.Fuzzy.nearNamePairs(Tables.customer(s, dir),
        col("c_custkey"), col("c_name"), blockCols = Seq("c_nationkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_fuzzy_pairs"))
      .orderBy(col("c_nationkey"))
  }

  /** q67 — data-quality profile (Profile.profile): per-column
    * completeness / uniqueness / range in ONE scan (the naive
    * per-column formulation the oracle states scans the table once
    * per column — identical values, k× the IO). */
  val q67Profile: Q = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
    val union = cols.map { c =>
      s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count($c) AS BIGINT) AS n_nonnull,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n")
    Q("q67_profile", s"$union\nORDER BY column_name") { (s, dir) =>
      graft.operators.Profile.profile(Tables.orders(s, dir), cols)
        .orderBy(col("column_name"))
    }
  }

  /** q70 — key-skew profile (Skew.profile): per-key-column row count,
    * distinct keys, hottest-key row count, skew factor and the hot key
    * itself — the pre-flight diagnostic for saltedJoin/saltedAgg/AQE
    * sizing. Engine side is ONE scan + one shuffle over GROUPING SETS;
    * the oracle states the same numbers as one plain GROUP BY per
    * column (k× the IO, same values). Hot-key ties break on the
    * smaller key string in both. */
  val q70KeySkew: Q = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
    val ctes = cols.map { c =>
      s"""c_$c AS (SELECT CAST($c AS VARCHAR) AS k, count(*) AS cnt
         |  FROM orders GROUP BY 1),
         |p_$c AS (SELECT '$c' AS column_name,
         |  CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(max(cnt) AS BIGINT) AS max_key_rows,
         |  CAST(max(cnt) AS DOUBLE) * CAST(count(*) AS DOUBLE)
         |    / CAST(sum(cnt) AS DOUBLE) AS skew_factor,
         |  (SELECT k FROM c_$c ORDER BY cnt DESC, k LIMIT 1) AS hot_key
         |FROM c_$c)""".stripMargin
    }.mkString(",\n")
    val unions = cols.map(c => s"SELECT * FROM p_$c").mkString("\nUNION ALL\n")
    Q("q70_key_skew", s"WITH $ctes\n$unions\nORDER BY column_name") { (s, dir) =>
      graft.operators.Skew.profile(Tables.orders(s, dir), cols)
        .orderBy(col("column_name"))
    }
  }

  /** q71 — deterministic train/val/test split (Sampling.split): each
    * doc's split is a pure function of its id hash against the 80/10/10
    * cumulative cuts — reproducible across re-runs, partitionings, and
    * engines (the oracle computes the identical bucket), and leakage-
    * safe for keyed entities. */
  val q71Split: Q = Q(
    "q71_split",
    s"""WITH b AS (SELECT doc_id,
       |  ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS h FROM documents)
       |SELECT doc_id,
       |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.split(Tables.documents(s, dir), col("doc_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q72 — dense per-user hourly resampling with gap fill
    * (TimeSeries.resample): every user's bucket range is hole-free,
    * absent buckets carry n_events = 0 and a forward-filled running
    * sum. The spine generates per key from its own min/max (agg +
    * generator — never a cross join against a global calendar). All
    * accumulation is in exact integer CENTS on both legs (the t80/t85
    * rule) and the output IS the BIGINT cents — no DECIMAL render,
    * because DECIMAL output columns hash differently across oracle
    * engine builds even when every cell compares equal (the round-8
    * portability class; NOTES.md output-type canon). The oracle's
    * forward fill is gaps-and-islands (a non-null-count group id +
    * one max per group) rather than `last_value(... IGNORE NULLS)`,
    * which proved equally build-sensitive. */
  val q72Resample: Q = Q(
    "q72_resample",
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS idx,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |a AS (SELECT user_id, idx, CAST(count(*) AS BIGINT) AS n_events,
      |             CAST(sum(cents) AS BIGINT) AS c
      |      FROM e GROUP BY user_id, idx),
      |sp AS (SELECT user_id, unnest(range(mn, mx + 1)) AS idx
      |       FROM (SELECT user_id, min(idx) AS mn, max(idx) AS mx FROM e GROUP BY user_id)),
      |j AS (SELECT sp.user_id, sp.idx, COALESCE(a.n_events, 0) AS n_events, a.c
      |      FROM sp LEFT JOIN a ON a.user_id = sp.user_id AND a.idx = sp.idx),
      |g AS (SELECT user_id, idx, n_events, c,
      |        count(c) OVER (PARTITION BY user_id ORDER BY idx
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |      FROM j)
      |SELECT user_id, idx, n_events,
      |  CAST(c AS BIGINT) AS sum_cents,
      |  CAST(max(c) OVER (PARTITION BY user_id, grp) AS BIGINT) AS filled_cents
      |FROM g ORDER BY user_id, idx""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries.resample(Tables.events(s, dir),
        col("user_id").as("user_id"), col("ts"), col("value"), bucketSec = 3600L)
      .withColumnRenamed("key", "user_id")
      .orderBy(col("user_id"), col("idx"))
  }

  /** q73 — grouped EQUI-DEPTH histogram (quartiles per return flag)
    * from broadcast quantile cuts (Quantiles.discreteQuantileCuts):
    * bucket of v = |{cuts < v}|, assigned by an array probe against
    * the broadcast per-group cut set — value-based, so tied values
    * stay together and engines cannot disagree the way ntile's
    * arbitrary row splits would; the corpus scan never shuffles for
    * the assignment. q60 is the fixed-WIDTH twin. */
  val q73EquiDepth: Q = Q(
    "q73_equidepth",
    """WITH d AS (SELECT l_returnflag AS g, l_quantity AS v, count(*) AS c
      |           FROM lineitem GROUP BY g, v),
      |w AS (SELECT g, v, c,
      |        sum(c) OVER (PARTITION BY g ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        sum(c) OVER (PARTITION BY g) AS tot
      |      FROM d),
      |ks AS (SELECT unnest([1, 2, 3]) AS k),
      |cuts AS (SELECT g, k, min(v) AS cut FROM w JOIN ks ON cum*4 >= tot*k GROUP BY g, k),
      |b AS (SELECT l.l_returnflag AS g, l.l_quantity AS v,
      |        (SELECT count(*) FROM cuts c WHERE c.g = l.l_returnflag AND c.cut < l.l_quantity) AS bucket
      |      FROM lineitem l)
      |SELECT g AS l_returnflag, CAST(bucket AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_rows, min(v) AS min_v, max(v) AS max_v
      |FROM b GROUP BY g, bucket ORDER BY l_returnflag, bucket""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val cuts = graft.operators.Quantiles.discreteQuantileCuts(
      li, Seq("l_returnflag"), col("l_quantity"), q = 4)
    val cutArr = cuts.groupBy(col("l_returnflag"))
      .agg(sort_array(collect_list(col("cut"))).as("cuts"))
    li.join(broadcast(cutArr), "l_returnflag")
      .withColumn("bucket",
        size(filter(col("cuts"), c => c < col("l_quantity"))).cast("long"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_v"),
        max(col("l_quantity")).as("max_v"))
      .orderBy(col("l_returnflag"), col("bucket"))
  }

  /** q74 — snapshot diff (Diff.diff): the "after" version is derived
    * deterministically from orders in BOTH engines (every 101st key
    * dropped = removed, every 97th price bumped = changed, keys
    * shifted above the max = added), so the differ's three verdicts
    * are each exercised and hash-checked. One key-join shuffle;
    * output is change-proportional. */
  val q74TableDiff: Q = Q(
    "q74_table_diff",
    """WITH before AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      |after AS (
      |  SELECT o_orderkey,
      |         o_custkey,
      |         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 101 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 103 = 0)
      |SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
      |  CASE WHEN b.o_orderkey IS NULL THEN 'added'
      |       WHEN a.o_orderkey IS NULL THEN 'removed'
      |       WHEN b.o_custkey IS DISTINCT FROM a.o_custkey
      |         OR b.o_totalprice IS DISTINCT FROM a.o_totalprice THEN 'changed'
      |       END AS change_type
      |FROM before b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
      |WHERE (CASE WHEN b.o_orderkey IS NULL THEN 'added'
      |       WHEN a.o_orderkey IS NULL THEN 'removed'
      |       WHEN b.o_custkey IS DISTINCT FROM a.o_custkey
      |         OR b.o_totalprice IS DISTINCT FROM a.o_totalprice THEN 'changed'
      |       END) IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val before = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val after = before.filter(col("o_orderkey") % 101 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionAll(before.filter(col("o_orderkey") % 103 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice")))
    graft.operators.Diff.diff(before, after, Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }

  /** q75 — grouped MEDIAN ABSOLUTE DEVIATION, exactly: the robust
    * dispersion statistic (outlier-immune, unlike stddev) as two
    * passes of the discrete-quantile machinery — median from the value
    * distribution, then the median of |x − median| from the deviation
    * distribution. Both medians are percentile_disc lower medians with
    * integer-exact rank compares; each pass's threshold table is
    * group-sized and broadcasts. */
  val q75Mad: Q = Q(
    "q75_mad",
    """WITH v AS (SELECT l_returnflag AS g, CAST(trunc(l_quantity) AS BIGINT) AS q FROM lineitem),
      |c1 AS (SELECT g, q, count(*) AS c FROM v GROUP BY g, q),
      |w1 AS (SELECT g, q, sum(c) OVER (PARTITION BY g ORDER BY q) AS cum,
      |       sum(c) OVER (PARTITION BY g) AS tot FROM c1),
      |med AS (SELECT g, min(q) AS median FROM w1 WHERE cum*100 >= tot*50 GROUP BY g),
      |d AS (SELECT v.g, abs(v.q - m.median) AS dv FROM v JOIN med m ON m.g = v.g),
      |c2 AS (SELECT g, dv, count(*) AS c FROM d GROUP BY g, dv),
      |w2 AS (SELECT g, dv, sum(c) OVER (PARTITION BY g ORDER BY dv) AS cum,
      |       sum(c) OVER (PARTITION BY g) AS tot FROM c2),
      |mad AS (SELECT g, min(dv) AS mad FROM w2 WHERE cum*100 >= tot*50 GROUP BY g)
      |SELECT m.g AS l_returnflag, CAST(m.median AS BIGINT) AS median,
      |       CAST(x.mad AS BIGINT) AS mad
      |FROM med m JOIN mad x USING (g) ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import graft.operators.Quantiles
    val v = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
    val med = Quantiles.discretePercentile(v, Seq("l_returnflag"), col("q"), 50)
      .withColumnRenamed("threshold", "median")
    val dev = v.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), abs(col("q") - col("median")).as("dv"))
    val mad = Quantiles.discretePercentile(dev, Seq("l_returnflag"), col("dv"), 50)
      .withColumnRenamed("threshold", "mad")
    med.join(mad, "l_returnflag")
      .select(col("l_returnflag"), col("median"), col("mad"))
      .orderBy(col("l_returnflag"))
  }

  /** q76 — DYNAMIC partition pruning, end to end: the fact table is
    * written PARTITIONED on the join key (hive layout), the dimension
    * side's predicate is an aggregate threshold (runtime-only — not
    * foldable to a static partition filter), and Spark's DPP injects
    * the dim's surviving keys into the fact scan's partition filters
    * at execution, so pruned partitions are never read. The oracle
    * computes the same join from the unpartitioned original — pruning
    * must change the WORK, never the answer (the q43 bloom rule, at
    * the partition-layout level). PlanAuditSpec pins the
    * `dynamicpruning` subquery in the executed scan AND its
    * partitions-read metric.
    *
    * DEPLOYMENT NOTE (r18): under AQE, Spark's default
    * `dynamicPartitionPruning.reuseBroadcastOnly=true` degrades this
    * shape's filter to `dynamicpruningexpression(true)` — the plan
    * text still says "dynamicpruning" but ALL partitions are read
    * (the exchange-reuse lookup misses against the re-optimized build
    * side). `GraftSession` sets `reuseBroadcastOnly=false` —
    * the recommended conf wherever this engine's partitioned layouts
    * are queried — which lets the benefit-qualified dim subquery run
    * independently and restores execution-time pruning. Operators
    * that KNOW their partition keys up front don't depend on the
    * conf at all: Similarity.ivfMultiProbeTopKBatchOnLayout hands
    * the planner static literals instead. */
  val q76DppPrune: Q = Q(
    "q76_dpp_prune",
    """WITH flags AS (
      |  SELECT l_returnflag, sum(l_quantity) AS flag_qty
      |  FROM lineitem GROUP BY l_returnflag),
      |dim AS (
      |  SELECT l_returnflag FROM flags
      |  WHERE flag_qty >= (SELECT max(flag_qty) FROM flags))
      |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN dim USING (l_returnflag)
      |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val tmp = graft.engine.WorkDirs.path("dpp", dir)
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    // EXPLICIT read schema (never infer — the 100 TB rule, and a
    // 0-row staging write leaves no files to infer from at all)
    val fact = s.read.schema(li.schema).parquet(tmp)
    val flags = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("flag_qty"))
      .transform(d => graft.Caches.pin(d))
    // keep the heaviest flag(s): runtime-only w.r.t. the PARTITION
    // column (the surviving keys are unknowable statically) yet
    // non-empty at every sf. The 1-row max collects to a driver
    // literal (bounded scalar, the centroid-collect class) because
    // Spark's DPP insertion heuristic (isLikelySelective) requires a
    // literal comparison on the pruning side — an attribute-vs-
    // attribute filter never qualifies.
    // max over an EMPTY flags frame is null — null-safe unwrap keeps
    // the degenerate corpus an empty result, not a driver NPE
    val bestRow = flags.agg(max(col("flag_qty"))).head
    val dim = (if (bestRow.isNullAt(0)) flags.limit(0)
      else flags.filter(col("flag_qty") >= lit(bestRow.getDouble(0))))
      .select(col("l_returnflag"))
    fact.join(dim, "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q77 — incremental materialized-view maintenance
    * (Incremental.aggregateState + maintain): the per-(user, type)
    * rollup is maintained from a SIGNED DELTA — inserts (+1) are the
    * id%5==0 rows, retractions (−1) re-delete the id%7==0 slice of
    * the base — and must equal the oracle's from-scratch aggregate
    * over the surviving rows. Values accumulate as exact integer
    * cents on both legs (the q72 rule); the merged state scans only
    * the delta, never rereads the base. */
  val q77MvMaintain: Q = Q(
    "q77_mv_maintain",
    """WITH live AS (
      |  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE event_id % 5 = 0 OR (event_id % 5 <> 0 AND event_id % 7 <> 0))
      |SELECT user_id, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(COALESCE(cents, 0)) AS BIGINT) AS sum_cents
      |FROM live GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    import graft.operators.Incremental
    val ev = Tables.events(s, dir)
      .withColumn("cents", round(col("value").cast("double") * lit(100)).cast("long"))
    val keys = Seq("user_id", "event_type")
    val base = ev.filter(col("event_id") % 5 =!= 0)
    val delta = ev.filter(col("event_id") % 5 === 0).withColumn("op", lit(1L))
      .unionByName(
        ev.filter(col("event_id") % 5 =!= 0 && col("event_id") % 7 === 0)
          .withColumn("op", lit(-1L)))
    val state = Incremental.aggregateState(base, keys, col("cents"))
    Incremental.maintain(state, delta, keys, col("op"), col("cents"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("c").as("sum_cents"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q78 — NON-invertible aggregate maintenance
    * (Incremental.maintainMin): per-(user, type) MIN under the q77
    * insert/delete mix. Deletes that provably didn't remove the
    * stored minimum merge algebraically; only groups whose deleted
    * min EQUALS the stored min rescan — and the rescan is semi-joined
    * to those groups, never the fact table. Oracle recomputes from
    * scratch: the partial-recompute split must change the work, not
    * the answer (the q43/q76 rule for view maintenance). */
  val q78MvMinMaintain: Q = Q(
    "q78_mv_min_maintain",
    """WITH live AS (
      |  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE event_id % 5 = 0 OR (event_id % 5 <> 0 AND event_id % 7 <> 0))
      |SELECT user_id, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(min(cents) AS BIGINT) AS min_cents
      |FROM live GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    import graft.operators.Incremental
    val ev = Tables.events(s, dir)
      .withColumn("cents", round(col("value").cast("double") * lit(100)).cast("long"))
    val keys = Seq("user_id", "event_type")
    val base = ev.filter(col("event_id") % 5 =!= 0)
    val inserts = ev.filter(col("event_id") % 5 === 0)
    val deleteIds = ev
      .filter(col("event_id") % 5 =!= 0 && col("event_id") % 7 === 0)
      .select(col("event_id"))
    Incremental.maintainMin(base, inserts, deleteIds, keys, "event_id", col("cents"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("min_cents"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q79 — CSV source roundtrip: a lineitem slice staged as CSV with
    * the options that bite in practice (header, quoting forced by an
    * embedded delimiter, explicit nullValue sentinel, timestamp
    * format, explicit read schema — never inferSchema, which double-
    * scans and type-flips at scale), read back PERMISSIVE, and
    * aggregated. The oracle computes from the ORIGINAL parquet — the
    * staging format must preserve content exactly (the q69 rule for
    * a second interchange format; doubles survive because Java's
    * shortest-roundtrip rendering parses back bit-identical). */
  val q79CsvRoundtrip: Q = Q(
    "q79_csv_roundtrip",
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR) AS sum_price_cents,
      |  CAST(count(*) FILTER (l_linenumber % 7 = 0) AS BIGINT) AS n_null_tag,
      |  min(l_shipdate) AS min_ship
      |FROM lineitem WHERE l_orderkey % 50 = 0
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types._
    val tmp = graft.engine.WorkDirs.path("q79", dir)
    val csvOpts = Map("header" -> "true", "nullValue" -> "\\N")
    Tables.lineitem(s, dir).filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_returnflag"),
        // timestamps cross text formats via an EXPLICIT pattern on
        // both legs (write render + read parse) — never the engine's
        // default, which differs between timestamp flavors
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_s"),
        // embedded delimiter forces quoting; every 7th line a real null
        when(col("l_linenumber") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(col("l_returnflag"), lit(","), col("l_linestatus")))
          .as("tag"))
      .write.options(csvOpts).mode("overwrite").csv(tmp)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_extendedprice", DoubleType), StructField("l_returnflag", StringType),
      StructField("ship_s", StringType), StructField("tag", StringType)))
    s.read.options(csvOpts).option("mode", "PERMISSIVE").schema(schema).csv(tmp)
      .withColumn("l_shipdate", to_timestamp(col("ship_s"), "yyyy-MM-dd HH:mm:ss"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        // whole-slice per-flag cents ≈ 5×10¹⁸ at 100 TB — the thinnest
        // BIGINT margin in the money family (r14 overflow sweep): a 2×
        // corpus-shape change crosses 2⁶³ and an ANSI sum(BIGINT)
        // throws. Sum in DECIMAL(38,0), emit digit strings (the
        // t84/t93 pattern; DuckDB's sum already rides HUGEINT).
        sum(round(col("l_extendedprice") * lit(100)).cast("long")
            .cast("decimal(38,0)")).cast("string")
          .as("sum_price_cents"),
        sum(when(col("tag").isNull, 1L).otherwise(0L)).as("n_null_tag"),
        min(col("l_shipdate")).as("min_ship"))
      .orderBy(col("l_returnflag"))
  }

  /** q80 — RUNNING DISTINCT COUNT, the scalable idiom: cumulative
    * distinct event_types per user in event order. The naive form
    * (`size(collect_set) OVER`) materializes a growing set per row —
    * O(rows · distinct) state that dies on wide windows; the scalable
    * form is two plain windows: flag each key's FIRST occurrence
    * (row_number = 1 over (user, type)), then running-sum the flags.
    * Both engines replay the identical two-window construction; ties
    * in ts break on event_id (unique) so the trajectory is
    * deterministic. The oracle's window orders pin NULLS FIRST
    * explicitly — Spark's ASC default; DuckDB's is NULLS LAST, which
    * would silently reorder null-ts/-event_id rows (the t98 null-
    * asymmetry class, hidden by the null-free fixture). A null
    * event_type is counted as one more distinct type on BOTH engines
    * (PARTITION BY groups nulls together everywhere) — symmetric by
    * construction. */
  val q80RunningDistinct: Q = Q(
    "q80_running_distinct",
    """WITH f AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
      |                                 ORDER BY ts NULLS FIRST, event_id NULLS FIRST) = 1
      |         THEN 1 ELSE 0 END AS first_seen
      |  FROM events)
      |SELECT user_id, event_id,
      |  CAST(sum(first_seen) OVER (PARTITION BY user_id
      |    ORDER BY ts NULLS FIRST, event_id NULLS FIRST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_distinct_types
      |FROM f ORDER BY user_id NULLS FIRST, event_id NULLS FIRST""".stripMargin) { (s, dir) =>
    runningDistinct(Tables.events(s, dir))
      .orderBy(col("user_id").asc_nulls_first, col("event_id").asc_nulls_first)
  }

  /** q80's engine construction, extracted so its null discipline is
    * unit-testable on a null-bearing fixture (the catalogue fixture is
    * null-free): Spark's ASC window default is NULLS FIRST — the
    * oracle pins the same explicitly. */
  private[graft] def runningDistinct(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstW = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val cumW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("first_seen",
        when(row_number().over(firstW) === 1, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"),
        sum(col("first_seen")).over(cumW).as("n_distinct_types"))
  }

  /** q81 — SCHEMA EVOLUTION across table generations: generation v1
    * (events before the epoch-split cut) ships without the `value`
    * column; v2 adds it. The merged read (`mergeSchema` — schema
    * union at planning, per-file projection at scan) must surface v1
    * rows with `value` null, and the aggregate must treat evolution
    * nulls as absent measurements, NOT zeros (count them separately —
    * the pipeline rule that makes adding a column backward-safe).
    * Oracle recomputes from the original table with the same cut. */
  val q81SchemaEvolution: Q = Q(
    "q81_schema_evolution",
    """WITH gen AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN event_id % 3 = 0 THEN NULL
      |         ELSE CAST(round(value * 100) AS BIGINT) END AS cents
      |  FROM events)
      |SELECT user_id, event_type,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(cents) AS BIGINT) AS n_measured,
      |  CAST(sum(COALESCE(cents, 0)) AS BIGINT) AS sum_cents
      |FROM gen GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val tmp = graft.engine.WorkDirs.path("q81", dir)
    val ev = Tables.events(s, dir)
      .withColumn("cents", round(col("value").cast("double") * lit(100)).cast("long"))
    // generation v1: pre-evolution schema (no cents column)
    ev.filter(col("event_id") % 3 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(s"$tmp/g=1")
    // generation v2: evolved schema (cents added)
    ev.filter(col("event_id") % 3 =!= 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("cents"))
      .write.mode("overwrite").parquet(s"$tmp/g=2")
    s.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("cents")).as("n_measured"),
        sum(coalesce(col("cents"), lit(0L))).as("sum_cents"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q82 — as-of join with STALENESS TOLERANCE (AsOf.asofJoin with
    * toleranceUs): each purchase picks the user's latest click at or
    * before it, but only within 1 hour — a quote/fill rule where a
    * stale candidate is as good as none. Null-match rows stay in the
    * output (left semantics); ties at the same click time break by
    * click id (both engines replay the same ranked window). */
  val q82AsofTolerance: Q = Q(
    "q82_asof_tolerance",
    """WITH l AS (SELECT user_id, event_id AS pid, ts AS pt FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id AS ruid, event_id AS cid, ts AS ct,
      |        CAST(round(value * 100) AS BIGINT) AS click_cents
      |      FROM events WHERE event_type = 'click'),
      |j AS (SELECT l.user_id, l.pid, l.pt, r.cid, r.ct, r.click_cents
      |      FROM l LEFT JOIN r ON r.ruid = l.user_id AND r.ct <= l.pt
      |        AND epoch_us(CAST(l.pt AS TIMESTAMP)) - epoch_us(CAST(r.ct AS TIMESTAMP)) <= 3600000000),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY pid
      |         ORDER BY ct DESC NULLS LAST, cid DESC NULLS LAST) AS rn FROM j)
      |SELECT user_id, pid, pt, cid, ct, click_cents
      |FROM rk WHERE rn = 1 ORDER BY pid""".stripMargin) { (s, dir) =>
    import graft.operators.AsOf
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"), col("ts"),
        col("ts").as("ct"),
        round(col("value").cast("double") * lit(100)).cast("long").as("click_cents"))
    AsOf.asofJoin(purchases, clicks,
        leftKey = purchases("user_id"), rightKey = clicks("user_id"),
        leftTime = purchases("ts"), rightTime = clicks("ts"),
        leftCols = Seq("pid"), rightCols = Seq("cid", "ct", "click_cents"),
        toleranceUs = Some(3600000000L))
      .select(col("asof_key").as("user_id"), col("pid"), col("asof_lt").as("pt"),
        col("cid"), col("ct"), col("click_cents"))
      .orderBy(col("pid"))
  }

  /** q83 — ROLLING exact median (5-row window per user): the
    * time-series smoother. The window buffer is BOUNDED (5 values) so
    * the sort-inside-frame form is scale-safe — the discipline is the
    * bound, not the construct; an unbounded-frame collect would be the
    * q80 anti-pattern. Lower-median rule at even counts (position
    * ⌊(n+1)/2⌋ ascending), identical on both engines; cents in, cents
    * out (exact). Null measurements and null timestamps are DROPPED
    * on both legs (the t99 rolling-median rule): unfiltered, Spark's
    * collect_list skips a null cent while DuckDB's list() keeps it
    * (diverging n_window), array_sort puts nulls last vs list_sort
    * first, and the window order places null ts at opposite ends
    * (Spark NULLS FIRST default, DuckDB NULLS LAST) — all hidden by
    * the null-free fixture; the oracle also pins NULLS FIRST on the
    * event_id tiebreaker to match Spark's default. */
  val q83RollingMedian: Q = Q(
    "q83_rolling_median",
    """WITH e AS (
      |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |w AS (
      |  SELECT user_id, event_id,
      |    list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS win
      |  FROM e)
      |SELECT user_id, event_id,
      |  CAST(len(win) AS BIGINT) AS n_window,
      |  CAST(list_sort(win)[(len(win) + 1) // 2] AS BIGINT) AS med_cents
      |FROM w ORDER BY user_id NULLS FIRST, event_id NULLS FIRST""".stripMargin) { (s, dir) =>
    rollingMedian5(Tables.events(s, dir))
      .orderBy(col("user_id").asc_nulls_first, col("event_id").asc_nulls_first)
  }

  /** q83's engine construction, extracted so its null discipline is
    * unit-testable on a null-bearing fixture: rows with a null
    * measurement or null timestamp are dropped BEFORE the window (the
    * t99 rule) — without the filter, collect_list/list() and
    * array_sort/list_sort disagree about nulls across engines. */
  private[graft] def rollingMedian5(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w5 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    events
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value").cast("double") * lit(100)).cast("long").as("cents"))
      .withColumn("win", collect_list(col("cents")).over(w5))
      .select(col("user_id"), col("event_id"),
        size(col("win")).cast("long").as("n_window"),
        element_at(array_sort(col("win")),
          ((size(col("win")) + 1) / 2).cast("int")).as("med_cents"))
  }

  /** q84 — grouped exact WEIGHTED median
    * (Quantiles.weightedMedian): quantity-weighted median price cents
    * per return flag; lower-median rule (2·cumw ≥ W), distinct-value
    * cumulative pass (ties never split). */
  val q84WeightedMedian: Q = Q(
    "q84_weighted_median",
    """WITH a AS (
      |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |    CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY l_returnflag, v),
      |c AS (
      |  SELECT l_returnflag, v, w,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM a)
      |SELECT l_returnflag, CAST(min(v) AS BIGINT) AS wmedian,
      |  CAST(max(tot) AS BIGINT) AS total_weight
      |FROM c WHERE cumw * 2 >= tot
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    graft.operators.Quantiles.weightedMedian(Tables.lineitem(s, dir),
        Seq("l_returnflag"),
        round(col("l_extendedprice") * lit(100)).cast("long"),
        col("l_quantity"))
      .orderBy(col("l_returnflag"))
  }

  /** q85 — cohort RETENTION matrix: users bucketed by their first
    * active week (epoch-week integer division — the q72 bucket rule),
    * counted in every later week they return. Two skinny aggregations
    * (per-user first week broadcast-joined back, then the distinct
    * (cohort, week, user) count) — the product-analytics staple next
    * to q57's funnel and q51's streaks. */
  val q85Retention: Q = Q(
    "q85_retention",
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
      |  FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT e.user_id, f.cohort, e.wk
      |      FROM e JOIN f ON f.user_id = e.user_id)
      |SELECT CAST(cohort AS BIGINT) AS cohort_week, CAST(wk AS BIGINT) AS week,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM a GROUP BY cohort, wk
      |ORDER BY cohort_week, week""".stripMargin) { (s, dir) =>
    // FLOOR division on both legs: DuckDB `//` floors, but Spark `div`
    // truncates toward zero — they disagree for pre-1970 timestamps.
    // (us - pmod(us, d)) div d is exact integer floor division for all
    // signs (the subtraction makes the dividend an exact multiple).
    val e = Tables.events(s, dir)
      .select(col("user_id"),
        expr("""(unix_micros(ts) - pmod(unix_micros(ts), 604800000000L))
                |  div 604800000000L""".stripMargin).as("wk"))
    val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    e.join(first, "user_id")
      .select(col("user_id"), col("cohort_week"), col("wk").as("week"))
      .distinct()
      .groupBy(col("cohort_week"), col("week"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week"))
  }

  val all: Seq[Q] = Seq(q41IntervalJoin, q42HashSample, q43BloomJoin,
    q44SystematicSample, q48TopkAgg, q52StratifiedSample, q54SqlSurface, q55ZorderCode,
    q62SaltedJoin, q63Upsert, q65SaltedAgg, q66EditDistance, q67Profile, q70KeySkew,
    q71Split, q72Resample, q73EquiDepth, q74TableDiff, q75Mad, q76DppPrune, q77MvMaintain,
    q78MvMinMaintain, q79CsvRoundtrip, q80RunningDistinct, q81SchemaEvolution,
    q82AsofTolerance, q83RollingMedian, q84WeightedMedian, q85Retention)
}
