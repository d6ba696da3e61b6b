package graft

import org.apache.spark.sql.SparkSession

/** The one owner of graft's session config and planner extensions:
  * every graft session (Bench, Verify, the test suite, the dev mains)
  * starts from `builder`, and callers add only what is theirs (an app
  * name, a shuffle override) with `.config(...)` afterwards. */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.log.level", "WARN")
    // opt-in for the nanos-generation events parquet (see Tables.events)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // under AQE, the default reuse-ONLY dynamic-partition-pruning
    // path degrades to `dynamicpruningexpression(true)` — an UNPRUNED
    // scan — whenever the exchange-reuse lookup misses (r18 finding:
    // q76 read 3/3 partitions for three rounds while its text pin
    // "passed"). Letting the benefit-qualified subquery run
    // independently restores execution-time pruning; the recommended
    // deployment conf, documented at Scale.q76DppPrune.
    .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    // r20 I/O configs (measured on the s71-s76 layout
    // lifecycle, OPTIMIZATION_r20.md): (a) list up to 1024 partition
    // dirs on the driver instead of launching a distributed listing
    // JOB per layout read (Spark's threshold of 32 is tuned for
    // object stores; the lifecycle re-lists its 100-256 cell dirs
    // 3-8× per query — 0.5-1.5 s of listing jobs each); production
    // object-store deployments should keep the default or use a
    // manifest table format. (b) committer v2: task commits rename
    // straight into the destination — halves the commit renames on
    // every partitioned write (the standard HDFS-era setting; local
    // fs rename is atomic, and every graft write lands in a
    // run-nonce-scoped dir, so concurrent-writer caveats don't
    // apply).
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    // r21 engine config (OPTIMIZATION_r21.md): the default 100-entry
    // whole-stage-codegen class cache thrashes on a 208-query
    // catalogue — a single wide query (q86: ~155 generated classes)
    // exceeds it alone, so the top-8 rerun leg recompiled essentially
    // every class (measured: q86 rerun 107 recompiles / 4.7 s of
    // Janino at 100 entries vs 24 / 0.7 s at 5000) and cross-query
    // shared scan stages never hit. Capacity-bounded JVM
    // infrastructure (compiled classes keyed on normalized source),
    // NOT result caching: every run still computes from parquet. A
    // production session serving hundreds of distinct plans wants
    // the same.
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    // SQL functions, the as-of merge strategy and its pushdown rule
    .withExtensions(new graft.functions.GraftExtensions)
}
