package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory so the same plan runs at
  * sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) — and, by
  * design, unchanged on a real cluster where `sfDir` is an object-store
  * prefix over TBs of parquet. Nothing here collects to the driver;
  * scans stay columnar (vectorized parquet reader) and Catalyst pushes
  * filters/projections down into the scan.
  */
object Tables {
  /** Session-lifetime SCHEMA catalog, keyed by table path (r20, guide
    * §5 — driver work): a bare `spark.read.parquet(path)` runs a
    * footer-reading schema-inference JOB on every call, and every
    * catalogue query pays it 1-3× per construction (~50-150 ms per
    * job healthy, up to ~0.8 s in contended windows — measured as the
    * `parquet at Tables.scala` job in every query's profile). A real
    * deployment reads these tables through a catalog (metastore /
    * Iceberg) that serves the schema without touching data files;
    * this map is that catalog, scoped to the JVM. METADATA ONLY —
    * row data is re-scanned from parquet on every action (Spark
    * plans/file listings are never cached here), so every bench and
    * oracle invocation still computes from the parquet inputs. Keyed
    * on the full path: distinct corpora (sf dirs, derived-corpus
    * sweeps) never share an entry, and a schema is immutable for the
    * life of a test corpus path. */
  private val schemaCatalog = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val sch = schemaCatalog.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame    = t(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = t(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = t(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = t(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "lineitem")
  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) or
    * TIMESTAMP(MICROS) across testdata generations. Spark's vectorized
    * reader rejects NANOS outright, so the nanos generation is read as
    * a long (legacy conf) and converted; the micros generation arrives
    * as a real timestamp already. Branch on the arriving type instead
    * of assuming a generation — the conversion is exact either way
    * (the nanos data is micros-aligned; DuckDB's TIMESTAMP cast
    * agrees).
    *
    * The `spark.sql.legacy.parquet.nanosAsLong` conf that unlocks the
    * nanos generation is set by the HARNESS sessions (Verify / Bench /
    * Explain / the test spec), never here: a library table reader must
    * not flip session-global semantics under a co-tenant (their own
    * nanos parquet would silently start arriving as longs). On a
    * session without the flag, nanos-generation data fails loudly at
    * the scan — the correct failure mode for an un-opted-in session.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = t(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // micros arrives as TIMESTAMP_NTZ; cast to the session-local
        // TIMESTAMP every downstream query has always seen (session
        // TZ is pinned UTC, so the instant is unchanged)
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "embeddings")
}

/** Deterministic scratch directories for catalogue queries that must
  * MATERIALIZE a layout to demonstrate an end-to-end path (q69's
  * staged-write round-trip, q76's hive-partitioned DPP fact). A fresh
  * `createTempDirectory` per construction accumulated one full copy
  * per run (bench constructs every query at least twice); a
  * deterministic per-(label, sfDir) path + `mode("overwrite")` bounds
  * disk to ONE live copy per fixture. Single-process use (Verify /
  * Bench / tests) — two sessions writing the same sfDir concurrently
  * would race, which no harness does.
  */
object WorkDirs {
  def path(label: String, sfDir: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_work",
      s"${label}_${java.lang.Integer.toHexString(sfDir.hashCode)}")
    java.nio.file.Files.createDirectories(root.getParent)
    root.toString
  }

  /** Per-RUN scratch root, for queries whose ORACLE SQL must name the
    * same staged files the engine wrote (q86): the oracle string and
    * the query fn are built in the same JVM, so a nonce-suffixed path
    * is deterministic within one run while two concurrent harness
    * processes (bench + Verify) can never write into — let alone
    * delete — each other's dirs (the round-9 race class).
    *
    * Why a NONCE and not the pid (r16 verdict item 3): the pid scheme
    * swept DEAD pids' dirs on next use, and a differential is a
    * multi-JVM protocol — Verify (JVM 1) exits, the DuckDB oracle
    * reads the staged files afterwards; any JVM starting in between
    * (another corpus's Verify, a bench) declared JVM 1 dead and
    * deleted the very artifacts the oracle still needed, which is
    * exactly how q86 failed the organic-corpus full-catalogue sweeps
    * two rounds running (the "back-to-back recipe" workaround).
    * Liveness of a PROCESS is simply the wrong predicate for
    * artifacts that must OUTLIVE their process. The nonce
    * (pid × JVM-start-millis) also cannot collide across container
    * generations the way a reused pid can.
    *
    * Disk stays bounded by AGE instead: stale sibling run dirs are
    * swept only once they are older than [[StaleRunTtlMillis]] —
    * far beyond any differential's Verify→oracle window, so no
    * interleaved or post-hoc JVM can delete artifacts a protocol
    * still needs, while /tmp carries at most a day of few-KB staged
    * fixtures. */
  def runScoped(label: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_work", s"${label}_n$runNonce")
    java.nio.file.Files.createDirectories(root.getParent)
    sweepStaleRunRoots(root.getParent)
    root.toString
  }

  /** [[runScoped]] keyed additionally by the sf directory — the
    * per-(label, corpus) variant of [[path]] for queries that rebuild
    * their fixture per construction but perform DESTRUCTIVE
    * maintenance on it (the IVF layout lifecycle's compaction swaps
    * delete + rename partition directories): the nonce isolates
    * concurrent harness JVMs (the round-9 race class — a label-keyed
    * shared dir would let one JVM's swap race another's fresh read),
    * while the sfDir key isolates corpora within one JVM (the
    * in-process empty-sweep derives its own corpus next to the
    * normal one). The corpus key is a sanitized BASENAME plus the
    * 32-bit path hash (r19 advice): on the hash alone, two distinct
    * corpora could collide and share a directory that undergoes
    * destructive maintenance — exactly the race this overload
    * exists to prevent; with the basename in the key a collision
    * needs both the same directory name and the same hash. */
  def runScoped(label: String, sfDir: String): String = {
    val base = new java.io.File(sfDir).getName
      .replaceAll("[^A-Za-z0-9._-]", "_").take(24)
    runScoped(
      s"${label}_${base}_${java.lang.Integer.toHexString(sfDir.hashCode)}")
  }

  /** Unique per JVM: pid alone recurs across container generations;
    * xor-folding the JVM start instant in makes two runs share a
    * nonce only if the same pid starts twice in the same millisecond. */
  private lazy val runNonce: String = {
    val h = ProcessHandle.current()
    val start = h.info().startInstant()
      .map[java.lang.Long](i => java.lang.Long.valueOf(i.toEpochMilli))
      .orElse(java.lang.Long.valueOf(System.currentTimeMillis()))
    java.lang.Long.toHexString(h.pid()) + "x" +
      java.lang.Long.toHexString(start.longValue())
  }

  /** 24 h: longer than any observed full-catalogue differential
    * (organic sf1 ≈ multi-hour) with an order-of-magnitude margin. */
  private val StaleRunTtlMillis: Long = 24L * 60 * 60 * 1000

  private val sweptOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val RunDir = """.*_n[0-9a-f]+x[0-9a-f]+""".r

  /** Best-effort, once per JVM: delete sibling `<label>_n<nonce>` dirs
    * whose last-modified time is older than the TTL (never our own —
    * the fresh nonce guarantees that). Every step tolerates concurrent
    * deletion by another sweeping JVM (failures are swallowed — the
    * next generation retries); the catches are NonFatal because
    * Files.walk/list traversal surfaces vanished entries as
    * UncheckedIOException (a RuntimeException). */
  private def sweepStaleRunRoots(parent: java.nio.file.Path): Unit = {
    if (!sweptOnce.compareAndSet(false, true)) return
    val cutoff = System.currentTimeMillis() - StaleRunTtlMillis
    // staleness = the NEWEST mtime anywhere under the candidate tree,
    // not the root's own: a run that stages once at start and is still
    // inside its Verify→oracle window past the TTL keeps refreshing
    // nothing on the root dir (reads don't touch mtimes), but its leaf
    // files date the tree honestly — judging the root alone would let
    // a newly started JVM delete artifacts a >TTL-long differential
    // still needs (the r16 deletion class, reintroduced at day scale).
    // Any unreadable entry mid-walk counts as fresh — it VETOES
    // deletion of the whole tree (r18 advice: merely skipping it
    // contributed age 0, so a live run whose file vanished between the
    // listing and the stat could still be judged stale by its older
    // siblings). Deletion must never win a race by default; the next
    // generation retries.
    def stale(p: java.nio.file.Path): Boolean =
      try {
        val walk = java.nio.file.Files.walk(p)
        try {
          var newest = 0L
          walk.iterator().forEachRemaining { f =>
            try {
              val t = java.nio.file.Files.getLastModifiedTime(f).toMillis
              if (t > newest) newest = t
            } catch { case scala.util.control.NonFatal(_) => newest = Long.MaxValue }
          }
          newest < cutoff
        } finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => false }
    try {
      val entries = java.nio.file.Files.list(parent)
      try {
        entries.iterator().forEachRemaining { p =>
          val name = p.getFileName.toString
          val ours = name.endsWith(s"_n$runNonce")
          if (!ours && RunDir.matches(name) && stale(p)) {
            try {
              val walk = java.nio.file.Files.walk(p)
              try walk.sorted(java.util.Comparator.reverseOrder())
                .forEach { f =>
                  try java.nio.file.Files.deleteIfExists(f)
                  catch { case scala.util.control.NonFatal(_) => () }
                }
              finally walk.close()
            } catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      } finally entries.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

/** One catalogue entry: a named query plus (optionally) its DuckDB
  * oracle SQL twin. Column names/types must match the oracle exactly —
  * the driver sorts columns by name and hash-compares values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
