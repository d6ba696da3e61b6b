package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType,
  StringType, StructField, StructType}

import graft.operators.TextHash._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard verification.
  *
  * Scale design (the whole point of these):
  *  - exact dedup = hash-groupBy, one shuffle on the content key; never
  *    a driver-side set;
  *  - MinHash+LSH: per-doc signatures are a narrow projection; the ONLY
  *    shuffle is the band-bucket self-join, whose fan-in is bounded by
  *    bucket size (hash-distributed, skew-safe because buckets with a
  *    single doc produce no pairs and giant buckets signal true dup
  *    clusters that ARE the answer);
  *  - candidate verification (exact Jaccard) touches only LSH
  *    candidates — O(candidates), not O(n²);
  *  - SimHash reduces a doc to one 64/32-bit value; near-dup = small
  *    hamming distance, joinable by band rotation (bucket on bit
  *    slices).
  */
object Dedup {

  /** The default MinHash/LSH build parameters. Named so every
    * signature default AND external state readers (StreamOps.dedupBatch
    * reconstructs a DedupIndex from parquet with these) reference ONE
    * definition — a drifted literal would sign deltas with different
    * parameters than the stored corpus index and silently corrupt
    * every verdict. */
  val DefaultShingleN = 3
  val DefaultMinhashK = 8
  /** Second polynomial family member backing minhashSignaturesFast —
    * independent of the default base-31 family, still oracle-portable. */
  val FastHashBase = 131L
  val DefaultBands = 4

  /** Exact dedup: canonical (min-id) row per distinct value of `key`.
    * Equivalent to dropDuplicates but deterministic about WHICH row
    * survives (dropDuplicates keeps an arbitrary first-seen row —
    * unacceptable for an oracle-checked pipeline). */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  // Two formulations of the MinHash signature chain, identical values:
  //  - NATIVE (the hot path): TokenShingleHashes fuses tokens →
  //    shingles → poly_hash into one codegen'd string walk, MinHashSig
  //    folds the k affine minima in one array pass;
  //  - HOF (the cross-check): every intermediate array staged as its
  //    own projection column — HOFs are interpreted (no codegen CSE),
  //    so even staged it is ~10× the native kernel, and an UNstaged
  //    one-expression version is O(k·len²) per doc (measured 20×+
  //    worse again). Property tests pin native == HOF == oracle.

  /** (doc_id, s): the distinct shingle set per document — the shared
    * upstream of signatures and Jaccard verification (string form;
    * hashed-set pipelines use `shingleHashFrame`). */
  def shingleFrame(df: DataFrame, id: Column, text: Column, n: Int = DefaultShingleN): DataFrame =
    df.select(id.as("doc_id"), tokens(text).as("t"))
      .select(col("doc_id"), shingles(col("t"), n).as("s"))

  /** (doc_id, h): ALL word-n-gram window hashes per document — native
    * one-pass kernel; apply array_distinct for set semantics (min-based
    * signatures don't need it). */
  def shingleHashFrame(df: DataFrame, id: Column, text: Column, n: Int = DefaultShingleN): DataFrame =
    df.select(id.as("doc_id"),
      graft.functions.TokenShingleHashes.tokenShingleHashes(text, n).as("h"))

  private def signatureFromShingles(sh: DataFrame, k: Int,
      hashShingle: Column => Column): DataFrame =
    sh.select(col("doc_id"), transform(col("s"), hashShingle).as("h"))
      .select(col("doc_id"), array((0 until k).map { i =>
        array_min(transform(col("h"), x => (lit(A(i)) * x + lit(B(i))) % P))
      }: _*).as("sig"))

  private def stagedSignature(df: DataFrame, id: Column, text: Column,
      n: Int, k: Int, hashShingle: Column => Column): DataFrame =
    signatureFromShingles(shingleFrame(df, id, text, n), k, hashShingle)

  def minhashSignatures(df: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK): DataFrame =
    shingleHashFrame(df, id, text, n)
      .select(col("doc_id"), graft.functions.MinHashSig.minhashSig(col("h"), k).as("sig"))

  /** Staged-HOF reference formulation of `minhashSignatures` —
    * identical values (property-tested); kept as the independent
    * implementation the native kernels are checked against. */
  def minhashSignaturesHof(df: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK): DataFrame =
    stagedSignature(df, id, text, n, k, s => polyHashFast(s))

  /** Pluggable-hash variant: same operator, an INDEPENDENT second
    * polynomial family (base 131) as the shingle hash — demonstrates
    * the swappable-kernel path you'd run at 100 TB (at real scale the
    * one-line swap is `pmod(xxhash64(shingle), P)`; the portable
    * base-131 member keeps the path DuckDB-oracle-checkable, the
    * q36/t90 portable-sketch template applied to banding). Fully
    * native: the fused TokenShingleHashes kernel walks the string
    * once per window inside whole-stage codegen — no HOF stage at
    * all, unlike the previous WordShingles→transform(xxhash64) form. */
  def minhashSignaturesFast(df: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK): DataFrame =
    df.select(id.as("doc_id"),
        graft.functions.TokenShingleHashes.tokenShingleHashes(text, n, base = FastHashBase).as("h"))
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("h"), k).as("sig"))

  /** LSH band buckets: signature split into `bands` bands of
    * k/bands rows each; each band folds to one bucket id. Output:
    * one row per (id, band, bucket). Docs sharing any (band, bucket)
    * are near-dup candidates. */
  def lshBuckets(df: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK, bands: Int = DefaultBands): DataFrame =
    bucketsFromSignatures(minhashSignatures(df, id, text, n, k), k, bands)

  /** Band buckets from a (doc_id, sig) frame. */
  def bucketsFromSignatures(withSig: DataFrame, k: Int, bands: Int): DataFrame = {
    // bands > k would give 0 rows/band → every band folds to bucket 0
    // → candidatePairs degenerates to an O(n²) cross product; a
    // non-divisible k would silently ignore the signature tail
    require(bands >= 1 && k >= bands && k % bands == 0,
      s"bands ($bands) must divide the signature width k ($k)")
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      val combined = (0 until rows).foldLeft(lit(0L)) { (acc, r) =>
        (acc * BandMix + element_at(col("sig"), b * rows + r + 1)) % P
      }
      struct(lit(b.toLong).as("band"), combined.as("bucket"))
    }
    // explode_outer, not explode: the optimizer infers a `size(...) > 0`
    // filter from a plain Generate and pushes it below the staged
    // projections, re-inlining the whole signature chain into the
    // filter (quadratic re-evaluation; HOFs have no codegen CSE). The
    // band array is never empty, so outer semantics are identical.
    withSig
      .select(col("doc_id"), explode_outer(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Distinct HASHED character n-gram shingles: sets of longs instead
    * of strings — set intersection over 8-byte values is ~an order of
    * magnitude cheaper than over UTF8 strings, and the DuckDB oracle
    * applies the same hash so results stay bit-identical
    * (Broder-style shingle fingerprints). */
  def charShingleHashes(text: Column, n: Int): Column =
    array_distinct(graft.functions.PolyHashShingles.polyHashShingles(text, n))

  /** Character-n-gram Jaccard near-dup pairs within `bucketCols`
    * blocking buckets (blocking bounds the pair count: O(Σ bucket²),
    * never O(n²); at scale bucket = shard key). Jaccard is computed
    * over hashed shingle sets (see charShingleHashes), stored SORTED
    * so per-pair intersection is a native merge scan. */
  def charNgramNearDups(docs: DataFrame, id: Column, text: Column,
      bucketCols: Seq[String], n: Int = 4, threshold: Double = 0.8): DataFrame = {
    // Phase 1 — candidate pairs over a LIGHT (bucket, id, set-size)
    // frame: the bucket self-join and the size-ratio prefilter
    // (J ≤ min/max, so failing pairs can't qualify) run WITHOUT
    // shuffling the shingle arrays.
    // Phase 2 — only surviving pairs join the (persisted) hashed
    // shingle sets back and pay the intersection.
    val sh = docs.select(bucketCols.map(col) :+ id.as("doc_id") :+ text.as("txt"): _*)
      .select(bucketCols.map(col) :+ col("doc_id") :+
        array_sort(charShingleHashes(col("txt"), n)).as("s"): _*)
      .transform(d => graft.Caches.pin(d))
    val light = sh.select(bucketCols.map(col) :+ col("doc_id") :+ size(col("s")).as("ns"): _*)
    val a = light.select(bucketCols.map(col) :+ col("doc_id").as("a") :+ col("ns").as("na"): _*)
    val b = light.select(bucketCols.map(col) :+ col("doc_id").as("b") :+ col("ns").as("nb"): _*)
    val candidates = a.join(b, bucketCols)
      .filter(col("a") < col("b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold) * greatest(col("na"), col("nb")))
      .select(col("a"), col("b"))
    verifyJaccardOnSortedHashes(sh.select(col("doc_id"), col("s")), candidates, threshold)
  }

  /** Local-overlap pairs by shared winnowed fingerprints — the MOSS
    * detection step over TextAnalysis.winnowIndex: two docs pair when
    * they share ≥ `minShared` distinct fingerprint hashes, each
    * weighted equally. Complements the Jaccard family: winnowing
    * guarantees any shared run of ≥ w+k−1 characters leaves a shared
    * fingerprint, so it catches LOCAL overlap (a copied paragraph in
    * an otherwise-different doc) that whole-doc Jaccard dilutes away.
    *
    * `maxDf` drops fingerprints present in more than that many docs —
    * MOSS's "too common to be meaningful" rule, and simultaneously the
    * skew bound: the fp-keyed self-join's per-key fan-out is capped at
    * maxDf², so a boilerplate shingle (page header, license line)
    * cannot form a hot key or an O(n²) pair blow-up. The only wide ops
    * are the DF aggregation and the self-join, both shuffled on `fp`;
    * the pair aggregation shuffles on (a, b). Nothing is corpus²
    * anywhere. Output: (a, b, shared), a < b.
    *
    * PRECONDITION: `id` must be unique per input row. (doc_id, fp)
    * uniqueness is established per row in the scan stage
    * (array_distinct before the explode) precisely so the corpus-
    * scale post-explode distinct() shuffle is avoided; duplicate-id
    * inputs would leave duplicate (doc_id, fp) pairs alive, inflating
    * df (pushing real fingerprints past maxDf) and the shared counts.
    * Callers with duplicate-id corpora must exact-dedup first
    * (exactDedup / exactCanonical). */
  def fingerprintOverlapPairs(docs: DataFrame, id: Column, text: Column,
      k: Int = 4, w: Int = 8, minShared: Int = 2, maxDf: Int = 8): DataFrame = {
    // (doc_id, fp) distinct computed PER DOC in the scan stage
    // (array_distinct over the winnowed selection, before the
    // explode): the rows leave the scan already unique, so the
    // corpus-scale shuffle a post-explode .distinct() would pay is
    // gone. Same selection as TextAnalysis.winnowIndex minus the
    // positions d65 never uses.
    val idx = docs
      .select(id.as("doc_id"),
        graft.functions.PolyHashShingles.polyHashShingles(text, k).as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          graft.functions.WinnowPositions.winnowPositions(col("hs"), w),
          p => element_at(col("hs"), p.cast("int"))))).as("fp"))
      .transform(d => graft.Caches.pin(d))
    // df >= 2 is pure pruning (a df-1 fingerprint cannot pair);
    // df <= maxDf is the semantic cap mirrored by the oracle
    val keep = idx.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("fp"))
    val pruned = idx.join(keep, Seq("fp"))
    pruned.select(col("fp"), col("doc_id").as("a"))
      .join(pruned.select(col("fp"), col("doc_id").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Candidate pairs from LSH buckets: distinct (a < b) ids sharing a
    * (band, bucket). The self-join shuffles on (band, bucket) only. */
  def candidatePairs(buckets: DataFrame): DataFrame = {
    val l = buckets.select(col("band"), col("bucket"), col("doc_id").as("a"))
    val r = buckets.select(col("band"), col("bucket"), col("doc_id").as("b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** The sorted-distinct hashed shingle sets (doc_id, s) — ONE home
    * for the repartition-before-kernel rule (line: a compact parquet
    * scan arrives in few partitions and would otherwise pin the
    * per-char hash kernel to those few cores) and the Caches pin, so
    * the four operators sharing this build cannot drift. */
  private def sortedShingleSets(docs: DataFrame, id: Column, text: Column,
      n: Int): DataFrame =
    shingleHashFrame(docs.repartition(id), id, text, n)
      .select(col("doc_id"), array_sort(array_distinct(col("h"))).as("s"))
      .transform(d => graft.Caches.pin(d))

  /** Exact n-gram Jaccard verification of candidate pairs over a
    * prepared (doc_id, s) frame of SORTED DISTINCT hashed shingle sets:
    * join the sets back and compute |∩|/|∪| precisely. Only candidates
    * pay the set-intersection cost. Inputs MUST be
    * array_sort(array_distinct(...))-shaped.
    *
    * Three exactness-preserving optimizations (the result set is
    * identical, only non-qualifying pairs are skipped / the same
    * number is computed differently):
    *  - size-ratio prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so
    *    pairs failing that bound can't reach the threshold — drops
    *    them before any set intersection;
    *  - |A∪B| = |A|+|B|−|A∩B| for distinct arrays: one intersect per
    *    pair instead of intersect + union (halves the dominant cost);
    *  - the per-pair intersection is the allocation-free native merge
    *    scan (SortedIntersectCount) instead of ArrayIntersect's
    *    per-pair hash set.
    */
  def verifyJaccardOnSortedHashes(sh: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    // size prefilter on LIGHT (id, size) projections first: a pair
    // whose size ratio is below the threshold cannot reach it
    // (J ≤ min/max), so it must never pay the wide shingle-array
    // join — the charNgramNearDups discipline applied to the shared
    // verification path (sh is pinned, so the light scans hit cache)
    val za = sh.select(col("doc_id").as("a"), size(col("s")).as("na"))
    val zb = sh.select(col("doc_id").as("b"), size(col("s")).as("nb"))
    val survivors = candidates.join(za, "a").join(zb, "b")
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold) * greatest(col("na"), col("nb")))
    val sa = sh.select(col("doc_id").as("a"), col("s").as("sa"))
    val sb = sh.select(col("doc_id").as("b"), col("s").as("sb"))
    // ComputeOnce on the merge-scan count: the threshold filter would
    // otherwise be pushdown-substituted into the pair join's CONDITION
    // with the kernel inlined TWICE (the jaccard ratio references ni
    // twice), plus once more in the output projection — three
    // intersection scans per candidate pair instead of one (the r12
    // inlined-expensive-filter lint class)
    survivors.join(sa, "a").join(sb, "b")
      .withColumn("ni",
        graft.functions.ComputeOnce.once(
          graft.functions.SortedIntersectCount.sortedIntersectCount(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** End-to-end MinHash near-dup detection: LSH candidates → exact
    * Jaccard filter, everything over HASHED shingle sets (8-byte
    * values, not UTF8 strings — Broder-style shingle fingerprints; the
    * oracle applies the same hash so results stay bit-identical). The
    * sorted-distinct hash frame is computed ONCE and persisted — it
    * feeds the signature chain and the verification join; without the
    * persist each consumer re-hashes the corpus. The pin is tracked
    * by [[graft.Caches]]: call `Caches.releaseAll()` when done with
    * the results (it drops only the library's blocks, never a
    * caller's own caches). At warehouse scale the same role is played
    * by checkpointing signatures to parquet between stages. */
  def nearDuplicates(docs: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK, bands: Int = DefaultBands, threshold: Double = 0.8): DataFrame = {
    val sh = sortedShingleSets(docs, id, text, n)
    val sig = sh.select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("s"), k).as("sig"))
    val buckets = bucketsFromSignatures(sig, k, bands)
    verifyJaccardOnSortedHashes(sh, candidatePairs(buckets), threshold)
  }

  /** CANONICALIZED exact dedup: documents that are identical modulo
    * formatting — case, punctuation, whitespace runs — collapse to
    * one canonical text (ASCII casefold → non-alphanumerics to
    * spaces → space runs collapsed → trimmed) and dedup exactly on
    * it. This catches the "same article, different decoration"
    * near-exact class that wastes MinHash banding (J ≈ 1 pairs that
    * plain d40 exact dedup misses because one byte differs).
    * Case-folding is `translate` A–Z→a–z, never lower() (the
    * TextHash cross-engine rule).
    *
    * Same shape as d40: one hash-groupBy on the canonical form, no
    * pairwise work. Output: (keep_id, n_copies, n_variants) — copies
    * sharing a canonical form, and how many DISTINCT raw texts they
    * span (n_variants > 1 is what plain exact dedup would miss). */
  def exactCanonical(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val canonical = trim(regexp_replace(
      regexp_replace(TextHash.asciiLower(text), "[^a-z0-9 ]", " "),
      " +", " "))
    docs.select(id.as("doc_id"), text.as("graft_raw"), canonical.as("graft_canon"))
      // CONTENT-FREE docs (null text, or punctuation/whitespace-only —
      // canonical "") are not groupable: every "!!!" and "---" doc
      // would otherwise collapse into ONE "duplicate" group and the
      // keep-min-id rule would drop genuinely distinct documents.
      // They are absent from the output (route them to a length gate).
      .filter(col("graft_canon").isNotNull && col("graft_canon") =!= "")
      .groupBy(col("graft_canon"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("graft_raw")).as("n_variants"))
      .select(col("keep_id"), col("n_copies"), col("n_variants"))
  }

  /** Sketch calibration: for every LSH candidate pair, the MinHash
    * ESTIMATE's raw statistic (agreeing signature components, 0..k)
    * side by side with the EXACT Jaccard numerator/denominator over
    * the distinct hashed shingle sets — the measurement that tells
    * you whether k and the band layout are tuned before trusting the
    * sketch on 100 TB (estimate = matches/k, truth = n_inter/n_union;
    * E[matches/k] = J is the MinHash guarantee being audited).
    *
    * All-integer output (the t80/t85 rule — downstream divides when
    * it wants a ratio), candidates only (never all pairs): one band
    * self-join for candidates plus two skinny id joins for the
    * signature and set payloads.
    *
    * Output: (a, b, n_sig_match, n_inter, n_union). */
  def sketchCalibration(docs: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK, bands: Int = DefaultBands): DataFrame = {
    val sh = shingleHashFrame(docs.repartition(id), id, text, n)
      .select(col("doc_id"), array_distinct(col("h")).as("s"))
      .transform(d => graft.Caches.pin(d))
    val sig = sh.select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("s"), k).as("sig"))
      .transform(d => graft.Caches.pin(d))
    val cand = candidatePairs(bucketsFromSignatures(sig, k, bands))
    val inter = size(array_intersect(col("s_a"), col("s_b"))).cast("long")
    cand
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sig_a")), "a")
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sig_b")), "b")
      .join(sh.select(col("doc_id").as("a"), col("s").as("s_a")), "a")
      .join(sh.select(col("doc_id").as("b"), col("s").as("s_b")), "b")
      .select(col("a"), col("b"),
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          p => p)).cast("long").as("n_sig_match"),
        inter.as("n_inter"),
        (size(col("s_a")) + size(col("s_b")) - inter).cast("long").as("n_union"))
  }

  /** CONTAINMENT (subset) near-dup pairs: (contained, container,
    * containment) where containment(A in B) = |A∩B| / |A| ≥ t over
    * distinct hashed n-gram shingle sets. This is the case symmetric-
    * Jaccard LSH structurally MISSES: a short doc quoted whole inside
    * a long one has J ≈ |A|/|B| — below any practical band threshold —
    * yet containment 1.0 (boilerplate, quoted replies, documents
    * embedded in concatenations).
    *
    * Candidate generation is pigeonhole PREFIX FILTERING (the PPJoin
    * family): if ≥ t·|A| of A's shingles appear in B, then among any
    * |A| − ⌊t·|A|⌋ + 1 of A's shingles at least one is in B. Probing
    * that many of A's RAREST shingles (by corpus document frequency)
    * against the full inverted index therefore has EXACT recall at
    * threshold t — rarity-ordering is what bounds the candidate
    * fan-out (Σ df over rare probes), the pigeonhole is what makes the
    * filter lossless. One DF aggregation + one posting join +
    * O(candidates) native merge-scan verification; no all-pairs step
    * anywhere, and the probe count adapts per doc (6 probes for a
    * 50-shingle doc at t=0.9). Docs with fewer than n tokens have no
    * shingles — containment is undefined for them and they are absent
    * from the output. */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = sortedShingleSets(docs, id, text, n)
      .filter(size(col("s")) > 0)
    val postings = sh.select(col("doc_id"), explode(col("s")).as("h"))
    val dfreq = postings.groupBy(col("h")).agg(count(lit(1)).as("graft_df"))
    // per-doc rarest probes. The per-doc shingle count is size(s) —
    // known BEFORE the explode, so it rides along as a column instead
    // of a second (count-over-unbounded) window pass re-deriving it.
    // probe count sz − floor(t·sz) + 1 ≥ the pigeonhole bound
    // sz − ⌈t·sz⌉ + 1 for ANY float rounding of t·sz, so recall stays
    // exact even when t·sz lands on an integer boundary in FP.
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("graft_df"), col("h"))
    val probes = sh
      .select(col("doc_id"), size(col("s")).as("graft_sz"),
        explode(col("s")).as("h"))
      .join(dfreq, "h")
      .withColumn("graft_rn", row_number().over(wRank))
      .filter(col("graft_rn") <=
        col("graft_sz") - floor(lit(threshold) * col("graft_sz")) + 1)
      .select(col("doc_id").as("a"), col("h"))
    val cands = probes
      .join(postings.select(col("doc_id").as("b"), col("h")), Seq("h"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    val sa = sh.select(col("doc_id").as("a"), col("s").as("sa"),
      size(col("s")).as("na"))
    val sb = sh.select(col("doc_id").as("b"), col("s").as("sb"))
    // the once() barrier stops the threshold predicate from inlining
    // the merge-scan into the join condition — unbarriered, the kernel
    // ran once in the pushed condition and again in the output
    // projection (see verifyJaccardWith)
    cands.join(sa, "a").join(sb, "b")
      .withColumn("graft_ni", graft.functions.ComputeOnce.once(
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("sa"), col("sb"))))
      .filter(col("graft_ni").cast("double") >= lit(threshold) * col("na"))
      .select(col("a").as("contained"), col("b").as("container"),
        (col("graft_ni").cast("double") / col("na")).as("containment"))
  }

  /** Apply form of [[containmentPairs]]: drop every doc contained (at
    * `threshold`) in some OTHER doc — the curation step that removes
    * quotes, boilerplate fragments, and embedded copies while keeping
    * the containers. Mutual containment (near-identical sets in both
    * directions) keeps the smaller id, matching the exact-dedup
    * canonical-row rule. At threshold 1.0 a dropped doc's content
    * always survives in some kept container (strict-subset chains
    * terminate at a maximal set); below 1.0 the rule is GREEDY — in a
    * near-threshold asymmetric chain (A⊂C at t while C loses a mutual
    * tie elsewhere) a dropped doc's container can itself be dropped,
    * the standard one-pass set-cover caveat; survivor-aware coverage
    * needs the cluster loop ([[connectedComponents]] over pairs).
    * The corpus scan never joins anything larger than the
    * contained-id set (an id-narrow anti-join side). */
  def dropContained(docs: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, threshold: Double = 0.9): DataFrame = {
    val pairs = containmentPairs(docs, id, text, n, threshold)
    // mutual pairs: keep min id — drop (a in b) only when NOT (b in a
    // with b > a), i.e. a is dropped unless it is the canonical side
    // of a mutual pair. ONE aggregation over the pairs frame: each
    // unordered pair folds to a canonical (lo, hi) row carrying which
    // directions were observed, and the drop side falls out per row —
    // hi when mutual (keep the min id) or when only hi ⊂ lo, lo when
    // only lo ⊂ hi. Same set algebra as intersect/except over the two
    // orientations, but the containment chain (DF windows, candidate
    // join, merge-scan verify) is planned and executed ONCE instead of
    // three times — at any scale that chain IS the operator's cost.
    // pinned: when `docs` is a UNION (corpus + derived variants),
    // PushdownLeftSemiOrAntiJoin replicates the anti-join into every
    // union branch — without the pin each branch would execute the
    // whole containment chain again; with it the branches share one
    // InMemoryRelation of this id-narrow frame (Caches contract)
    val dropped = pairs.select(
        least(col("contained"), col("container")).as("lo"),
        greatest(col("contained"), col("container")).as("hi"),
        (col("contained") < col("container")).as("graft_fwd"))
      .groupBy(col("lo"), col("hi"))
      .agg(max(col("graft_fwd")).as("has_fwd"),
        max(!col("graft_fwd")).as("has_rev"))
      .select(when(col("has_fwd") && !col("has_rev"), col("lo"))
        .otherwise(col("hi")).as("graft_drop"))
      .distinct()
      .transform(d => graft.Caches.pin(d))
    docs.join(dropped, id === col("graft_drop"), "left_anti")
  }

  /** SURVIVOR-AWARE (minimal-drop) variant of [[dropContained]]: a doc
    * is dropped only when some container of it SURVIVES, so every
    * dropped doc's content remains represented in a kept doc even in
    * near-threshold chains below t = 1.0 — the set-cover caveat the
    * greedy rule documents (in an A⊂B⊂C chain with B⊂C at t but
    * A⊄C, greedy drops both A and B leaving A's tail unrepresented;
    * this variant drops B, keeps A and C).
    *
    * Semantics (the well-founded fixpoint over the canonical
    * containment DAG, mutual pairs folded hi→lo first): a doc with no
    * containers is KEPT; a doc with a KEPT container is DROPPED; a doc
    * ALL of whose containers are dropped is KEPT. Computed by layer
    * peeling — each round resolves the current sinks (kept) and their
    * direct containees (dropped), removes resolved nodes' edges, and
    * repeats; rounds = alternation depth of the chain structure, which
    * for near-dup corpora is the (shallow) quote-nesting depth, NOT
    * corpus size. If the pair graph contains a containment CYCLE
    * (possible only below t = 1.0, when every cycle member is
    * near-equal to its neighbors but mutual thresholds just missed),
    * the unresolved remainder is conservatively KEPT — never drop
    * without a surviving container.
    *
    * Two regimes run the peel, with the same semantics, the same cycle
    * rule and the same `maxIter` failure. Both start from one lazy
    * checkpoint of the folded edge set and one probe that counts it.
    *  - SMALL edge sets, whose rows (2 ids each, at the id type's
    *    default size) fit under the session's
    *    `spark.sql.autoBroadcastJoinThreshold`, finish on the driver:
    *    the edges are collected, their checkpoint is released at once,
    *    the peel runs in memory, and the drops come back as a local
    *    relation the anti-join broadcasts. Three Spark executions in
    *    all, whatever the chain depth. A threshold ≤ 0 never fits.
    *  - LARGER edge sets peel distributed: every per-round frame is
    *    id-narrow (≤ 2 ids), so at 100 TB the loop costs rounds ×
    *    (skinny anti-joins), all checkpoint-released as the loop
    *    advances (Caches contract). */
  def dropContainedMinimal(docs: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, threshold: Double = 0.9, maxIter: Int = 20): DataFrame =
    peelContainment(docs, id, containmentPairs(docs, id, text, n, threshold), maxIter,
      math.max(0L, docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold))

  /** The peel of [[dropContainedMinimal]] over a `(contained,
    * container)` pair frame. An edge set of at most `driverBytes`
    * (rows × 2 × the id type's default size) finishes on the driver;
    * `driverBytes` = 0 keeps the distributed loop for any edge set. */
  private[graft] def peelContainment(docs: DataFrame, id: Column, pairs: DataFrame,
      maxIter: Int, driverBytes: Long): DataFrame = {
    // The state is a SINGLE tagged frame carrying both the unresolved
    // edges (edge = true: c contained-in p, mutual pairs folded hi→lo,
    // the keep-min-id rule) and, in the distributed loop, the
    // accumulated drop set (edge = false, p null). It is built as one
    // lazy localCheckpoint whose materializing action is the fused
    // probe agg (edges remaining + drops so far — both counts in one
    // scan of the just-written blocks).
    val (state, releaseState) = graft.Caches.checkpoint(
      pairs.select(
          least(col("contained"), col("container")).as("lo"),
          greatest(col("contained"), col("container")).as("hi"),
          (col("contained") < col("container")).as("graft_fwd"))
        .groupBy(col("lo"), col("hi"))
        .agg(max(col("graft_fwd")).as("has_fwd"),
          max(!col("graft_fwd")).as("has_rev"))
        .select(
          when(col("has_fwd") && !col("has_rev"), col("lo"))
            .otherwise(col("hi")).as("c"),
          when(col("has_fwd") && !col("has_rev"), col("hi"))
            .otherwise(col("lo")).as("p"),
          lit(true).as("graft_edge")),
      eager = false)
    val (nRem, nDropped) = probeState(state)
    // the drop rows must carry the CALLER'S id type (the signature
    // takes an arbitrary id Column — string ids are valid); a
    // hardcoded long would fail the union's analysis
    val idType = state.schema("p").dataType
    val dropped =
      if (driverBytes > 0 && nRem <= driverBytes / (2L * idType.defaultSize) &&
          joinsByEquals(idType))
        peelOnDriver(state, releaseState, idType, maxIter)
      else peelOnCluster(state, releaseState, idType, nRem, nDropped, maxIter)
    docs.join(dropped, id === col("graft_drop"), "left_anti")
  }

  /** (edges remaining, drops so far) of a peel state, in one scan. */
  private def probeState(s: DataFrame): (Long, Long) = {
    val r = s.agg(
      count(when(col("graft_edge"), lit(1))),
      count(when(!col("graft_edge"), lit(1)))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Id types whose collected values compare with `==` exactly as
    * Spark's equi-join compares them (the driver peel keys sets on
    * them): integers and default-collation strings. */
  private def joinsByEquals(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  private def unresolvedPeel(maxIter: Int): String =
    s"dropContainedMinimal did not resolve in $maxIter rounds — chain depth exceeds the bound; raise maxIter"

  /** The small-state regime: the init state holds edges only, so the
    * drops so far are none. Same round as the distributed loop's, on
    * in-memory sets. */
  private def peelOnDriver(state: DataFrame, releaseState: () => Unit,
      idType: DataType, maxIter: Int): DataFrame = {
    var rem = try state.select(col("c"), col("p")).collect().toSeq.map(r => (r.get(0), r.get(1)))
      finally releaseState()
    val drops = Set.newBuilder[Any]
    var iter = 0
    var cyclic = false
    while (rem.nonEmpty && !cyclic && iter < maxIter) {
      val contained = rem.map(_._1).toSet
      val kept = rem.map(_._2).filterNot(contained).toSet
      val newDrop = rem.collect { case (c, p) if kept(p) => c }.toSet
      val resolved = kept ++ newDrop
      rem = rem.filterNot { case (c, p) => resolved(c) || resolved(p) }
      cyclic = newDrop.isEmpty && rem.nonEmpty
      drops ++= newDrop
      iter += 1
    }
    require(rem.isEmpty || cyclic, unresolvedPeel(maxIter))
    state.sparkSession.createDataFrame(drops.result().toSeq.map(Row(_)).asJava,
      StructType(Seq(StructField("graft_drop", idType))))
  }

  /** The distributed regime, for edge sets too large for the driver. */
  private def peelOnCluster(init: DataFrame, releaseInit: () => Unit, idType: DataType,
      initRem: Long, initDropped: Long, maxIter: Int): DataFrame = {
    // ONE MATERIALIZING ACTION PER ROUND (the pageRank lazy-checkpoint
    // + fused-probe pattern, ported per the r12 profile: under a
    // throttled driver the old loop's ~5 scheduling points per round —
    // two eager checkpoints, two counts, one more checkpoint —
    // dominated d58's variance). Each round builds the next state as
    // one lazy localCheckpoint materialized by its probe. Progress
    // and the cyclic-remainder exit both fall out of the probe: a
    // round that drops nothing while edges remain means no sinks ⇒
    // the remainder is a containment cycle, conservatively KEPT (see
    // scaladoc). Every frame stays id-narrow (≤ 2 ids + 1 bool);
    // the previous round's blocks are released only AFTER the next
    // state is materialized (a lazy localCheckpoint reads the
    // parent's blocks).
    var state = init
    var releaseState = releaseInit
    var nRem = initRem
    var nDropped = initDropped
    var iter = 0
    var cyclic = false
    // deliberately NOT staticLoopPlans: the peel frames SHRINK round
    // over round, and AQE's runtime coalescing tracks the shrinkage
    // (the Caches shrinking-loop rule) — A/B at sf0.1 under equal
    // probes: 2.5 s with AQE vs 3.3 s static. Under AQE the lazy
    // checkpoint is itself a stage-running execution (toRdd finalizes
    // the adaptive plan), so a round costs exactly TWO scheduling
    // points — the checkpoint's non-final stages and the probe's
    // final stage — down from the five the pre-r13 loop paid
    // (PlanAuditSpec pins 2 executions per round + 2 for init).
    while (nRem > 0 && !cyclic && iter < maxIter) {
      val edges = state.filter(col("graft_edge"))
        .select(col("c"), col("p"))
      val drops = state.filter(!col("graft_edge"))
      // sinks: unresolved docs that appear as a container but never as
      // a containee — nothing above them, so they are KEPT
      val kept = edges.select(col("p").as("id")).distinct()
        .join(edges.select(col("c").as("id")).distinct(), Seq("id"), "left_anti")
      // everything directly contained in a kept doc is DROPPED;
      // rounds resolve disjoint node sets, so the accumulated drop set
      // needs no cross-round distinct
      val newDrop = edges.join(kept.select(col("id").as("p")), Seq("p"))
        .select(col("c")).distinct()
      val resolved = kept
        .unionAll(newDrop.select(col("c").as("id")))
      val nextEdges = edges
        .join(resolved.select(col("id").as("c")), Seq("c"), "left_anti")
        .join(resolved.select(col("id").as("p")), Seq("p"), "left_anti")
      val (nextState, releaseNext) = graft.Caches.checkpoint(
        nextEdges.select(col("c"), col("p"), lit(true).as("graft_edge"))
          .unionAll(drops)
          .unionAll(newDrop.select(col("c"),
            lit(null).cast(idType).as("p"), lit(false).as("graft_edge"))),
        eager = false)
      val (nextRem, nextDropped) = probeState(nextState)
      // no new drops while edges remain ⇒ no sinks ⇒ cyclic remainder
      cyclic = nextDropped == nDropped && nextRem > 0
      releaseState()
      state = nextState; releaseState = releaseNext
      nRem = nextRem; nDropped = nextDropped
      iter += 1
    }
    require(nRem == 0L || cyclic, unresolvedPeel(maxIter))
    state.filter(!col("graft_edge")).select(col("c").as("graft_drop"))
  }

  /** Prebuilt corpus-side state for INCREMENTAL dedup: `buckets` =
    * LSH band buckets (the join key of candidate generation), `sets` =
    * sorted distinct shingle hashes (the verify operand). Built once
    * over the standing corpus; at warehouse scale both land in parquet
    * bucketed by (band, bucket) and doc_id respectively, so a delta
    * batch joins them with NO corpus-side shuffle and the corpus TEXT
    * is never rescanned. The build parameters travel WITH the index:
    * a delta probed with a different shingle width or banding than
    * the corpus was signed with would silently find (almost) nothing
    * — carrying n/k/bands makes that mistake unrepresentable. */
  final case class DedupIndex(buckets: DataFrame, sets: DataFrame,
      n: Int, k: Int, bands: Int)

  /** Build the incremental-dedup index over the standing corpus — the
    * write-once half of continuous-ingest dedup. Same kernels as
    * `nearDuplicates` (signatures and sets are interchangeable with
    * the batch path by construction). */
  def buildDedupIndex(docs: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK, bands: Int = DefaultBands): DedupIndex = {
    val sh = sortedShingleSets(docs, id, text, n)
    val sig = sh.select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("s"), k).as("sig"))
    DedupIndex(bucketsFromSignatures(sig, k, bands), sh, n, k, bands)
  }

  /** Incremental (delta) dedup: near-dup pairs between a NEW batch and
    * the standing corpus, without rescanning the corpus — the
    * production shape for continuously-ingested corpora, where
    * re-running `nearDuplicates` over corpus ∪ delta would redo
    * O(corpus) work per batch. Only the delta is shingled/signed;
    * candidates come from joining the delta's band buckets against the
    * prebuilt index (delta-sized shuffle against bucketed corpus
    * state), and only candidates pay the exact-Jaccard merge scan
    * against the index's stored sets. Within-delta duplicates are the
    * existing batch path (`nearDuplicates` on the delta alone).
    * Shingle width and banding come FROM the index (a delta probed
    * with different parameters than the corpus was signed with would
    * silently find nothing — carrying them makes that mistake
    * unrepresentable).
    * Output: (delta_id, corpus_id, jaccard) with jaccard ≥ threshold. */
  def dedupAgainstIndex(index: DedupIndex, delta: DataFrame, id: Column,
      text: Column, threshold: Double = 0.8): DataFrame = {
    val dsh = sortedShingleSets(delta, id, text, index.n)
    val dsig = dsh.select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("s"), index.k).as("sig"))
    val cand = bucketsFromSignatures(dsig, index.k, index.bands)
      .select(col("band"), col("bucket"), col("doc_id").as("delta_id"))
      .join(index.buckets
        .select(col("band"), col("bucket"), col("doc_id").as("corpus_id")),
        Seq("band", "bucket"))
      .select(col("delta_id"), col("corpus_id")).distinct()
    val sc = index.sets.select(col("doc_id").as("corpus_id"),
      col("s").as("sc"), size(col("s")).as("nc"))
    val sd = dsh.select(col("doc_id").as("delta_id"),
      col("s").as("sd"), size(col("s")).as("nd"))
    // once(): same join-condition-inlining guard as verifyJaccardWith
    // (the jaccard predicate would carry the merge-scan twice)
    cand.join(sc, "corpus_id").join(sd, "delta_id")
      .filter(least(col("nc"), col("nd")).cast("double") >=
        lit(threshold) * greatest(col("nc"), col("nd")))
      .withColumn("ni", graft.functions.ComputeOnce.once(
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("sc"), col("sd"))))
      .withColumn("jaccard",
        col("ni").cast("double") / (col("nc") + col("nd") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }

  /** Connected components over an undirected edge list — the top of
    * the dedup stack: near-dup PAIRS (LSH + Jaccard verify) become
    * duplicate CLUSTERS, and `cluster_id = min(doc_id in component)`
    * picks one canonical representative per cluster (keep it, drop the
    * rest — the standard corpus-dedup final step).
    *
    * Algorithm: distributed min-label propagation. Every node starts
    * as its own label; each round, a node's label becomes the min of
    * its own and its neighbors' labels; fixpoint = components. Each
    * round is one shuffle-join (labels ⋈ edges) + one aggregation —
    * no driver-side graph, no collect; the driver only coordinates the
    * loop and checks the (distributed) convergence count. Rounds
    * needed = graph diameter — near-dup clusters are shallow (dups of
    * a common source), so this converges in a handful of rounds.
    * Deep-graph alternatives, in preference order: if edges are
    * BLOCKED (never cross a shard/cell key), use `blockedComponents`
    * — no loop at all (measured: the 21-round embedding-cell graph
    * collapses to one cogroup); a single-hop pointer-chase join per
    * round buys only reach 2, not doubling (measured 21→16 rounds —
    * not worth the extra shuffle); true O(log n) needs
    * large-star/small-star EDGE rewiring ("Connected Components in
    * MapReduce and Beyond", Kiveris et al. 2014). Label propagation
    * is kept here for its by-construction determinism (min is
    * order-insensitive).
    * Each round's localCheckpoint pins one labels table (2 longs per
    * node); the previous round's blocks are released explicitly as
    * soon as the next round materializes (graft.Caches tracked
    * checkpoints), so peak extra storage is TWO rounds' labels —
    * 2 × |nodes| × 16 bytes — regardless of iteration count. The
    * returned frame is checkpoint-backed: it stays valid until the
    * caller's Caches.releaseAll() boundary.
    *
    * `nodes` must cover every id appearing in `edges` (pass the whole
    * corpus: singleton docs come out as their own cluster). An edge
    * endpoint missing from `nodes` would drop that endpoint's label
    * influence silently (the propagation join keeps labels only for
    * known ids), yielding labels that are not component minima —
    * `validate = true` runs a one-time distributed anti-join count
    * that fails fast instead (one extra job over the skinny edge
    * list; leave it off in production loops where the corpus frame is
    * the node universe by construction).
    *
    * Each round's labels are `localCheckpoint`ed — NOT merely
    * persisted: every round references the previous labels twice (the
    * propagation join and the convergence diff), so without lineage
    * truncation the logical plan doubles per round and analysis cost
    * explodes exponentially with the iteration count. On a cluster
    * with lineage-replay concerns, swap in reliable `checkpoint()` to
    * durable storage — same loop, same semantics. The convergence
    * check rides INSIDE the propagation result (prev label carried
    * through the select, counted on the checkpointed frame): a
    * separate next⋈labels diff join would add one more shuffle per
    * round to a loop whose cost is almost pure round latency.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25, validate: Boolean = false): DataFrame =
      graft.Caches.staticLoopPlans(nodes.sparkSession) {
    // pinned via the Caches registry (releasable at the caller's
    // releaseAll boundary — a bare persist would outlive the query)
    val sym = graft.Caches.pin(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst"))))
    if (validate) {
      val missing = sym.select(col("src").as("id")).distinct()
        .join(nodes.select(col("id")), Seq("id"), "left_anti").count()
      require(missing == 0L,
        s"connectedComponents: $missing edge endpoint id(s) absent from nodes — labels would not be component minima")
    }
    // Constant-factor diet for the loop: labels are 2 longs per node,
    // so checkpointing every round at full shuffle fan-out makes the
    // loop pure task-scheduling overhead below cluster scale. Pack
    // each round's materialization into ~64k-row partitions, bounded
    // above by the session's shuffle parallelism so a billion-node
    // graph still spreads across the cluster.
    val nNodes = nodes.count()
    val parts = math.max(1L, math.min(
      nodes.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      nNodes / 65536L)).toInt
    var (labels, releaseLabels) = graft.Caches.checkpoint(
      nodes.select(col("id"), col("id").as("cluster_id")).coalesce(parts))
    var changed = 1L
    var iter = 0
    // round width from the larger loop operand — the symmetrized edge
    // cache (materialized here; it would have been in round 1) or the
    // node table (see Caches.loopWidth; the coalesce above bounds
    // checkpoint BLOCKS, this bounds the join/agg stage widths)
    graft.Caches.loopWidth(nodes.sparkSession, math.max(nNodes, sym.count())) {
    while (changed > 0 && iter < maxIter) {
      val neighborMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nmin"))
      val (next, releaseNext) = graft.Caches.checkpoint(
        labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
          .select(labels("id"),
            least(labels("cluster_id"), coalesce(col("nmin"), labels("cluster_id")))
              .as("cluster_id"),
            labels("cluster_id").as("graft_prev"))
          .coalesce(parts))
      changed = next.filter(col("cluster_id") < col("graft_prev")).count()
      // round k is materialized — round k−1's blocks are dead; loop
      // storage stays bounded at two rounds instead of all of them
      releaseLabels()
      labels = next.select(col("id"), col("cluster_id"))
      releaseLabels = releaseNext
      iter += 1
    }
    }
    sym.unpersist()
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds — component diameter exceeds the bound; raise maxIter or switch to large-star/small-star")
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * rewiring ("Connected Components in MapReduce and Beyond",
    * Kiveris et al. 2014) — the deep-graph path `connectedComponents`'
    * scaladoc points at: label propagation needs diameter rounds,
    * this converges in O(log² n) rounds regardless of diameter (a
    * 300-hop chain: 25+ propagation rounds vs a handful of star
    * rounds), because each round rewires EDGES toward the local
    * minimum rather than moving labels one hop.
    *
    *  - large-star(n): m = min(Γ(n) ∪ {n}); every neighbor x > n is
    *    re-pointed at m — emit (x, m).
    *  - small-star(h) over (hi, lo)-oriented edges: m = min(lo-side
    *    neighbors); emit (h, m) and (lo, m) for lo ≠ m.
    *
    * Both steps preserve connectivity and only ever point nodes at
    * smaller ids, so the fixpoint is a star per component rooted at
    * the component minimum — `cluster_id = min(id)`, same contract
    * (and same determinism argument: min is order-insensitive) as
    * `connectedComponents`. Each round: two groupBy shuffles + two
    * DISTINCTs over the skinny (2-long) edge frame, localCheckpointed
    * to truncate lineage; convergence = edge set unchanged (count
    * equality + one except probe — an edge set that stopped moving is
    * the fixpoint, both steps being idempotent on stars).
    *
    * Use this when dup chains can be DEEP and unblocked (transitive
    * near-dup closure over a 100 TB crawl); `connectedComponents`
    * stays the shallow-graph / oracle twin, `blockedComponents` the
    * no-loop blocked fast path. */
  def starComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // same skinny-frame diet as connectedComponents: each round's
    // edge set is 2 longs per edge — coalesce the checkpointed frame
    // to ~64k-row partitions (bounded by the session's shuffle
    // parallelism) using the PREVIOUS round's exact count, so round
    // cost is the rewiring work, not task scheduling. The initial
    // checkpoint materializes at natural fan-out (its row count is
    // unknown until it runs), then narrows once the count exists.
    val shuffleParts =
      nodes.sparkSession.sessionState.conf.numShufflePartitions.toLong
    def parts(rows: Long): Int =
      math.max(1L, math.min(shuffleParts, rows / 65536L)).toInt
    var (cur, releaseCur) = graft.Caches.checkpoint(
      edges.select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct())
    var nEdges = cur.count()
    cur = cur.coalesce(parts(nEdges))
    var converged = nEdges == 0L
    var iter = 0
    // round width from the initial edge count (rewiring only shrinks
    // the set past the first rounds; see Caches.loopWidth)
    graft.Caches.loopWidth(nodes.sparkSession, nEdges) {
    while (!converged && iter < maxIter) {
      val sym = cur.select(col("hi").as("n"), col("lo").as("x"))
        .unionAll(cur.select(col("lo").as("n"), col("hi").as("x")))
      val mins = sym.groupBy("n").agg(min(col("x")).as("vmin"))
        .select(col("n"), least(col("n"), col("vmin")).as("m"))
      val ls = sym.join(mins, "n").filter(col("x") > col("n"))
        .select(col("x").as("hi"), col("m").as("lo")).distinct()
      val mins2 = ls.groupBy("hi").agg(min(col("lo")).as("m"))
      val (next, releaseNext) = graft.Caches.checkpoint(
        ls.join(mins2, "hi")
          .filter(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo"))
          .unionAll(mins2.select(col("hi"), col("m").as("lo")))
          .distinct().coalesce(parts(nEdges)))
      val nNext = next.count()
      // the (anti-join) fixpoint probe runs only on a count match —
      // an edge set that stopped shrinking is almost always the
      // fixpoint, so this fires ~once per call; deferring it further
      // (k consecutive matches) would trade the one cheap probe for a
      // whole extra rewiring round
      converged = nNext == nEdges && next.except(cur).isEmpty
      releaseCur()
      cur = next
      releaseCur = releaseNext
      nEdges = nNext
      iter += 1
    }
    }
    require(converged,
      s"starComponents did not converge in $maxIter rounds (edge set still moving) — raise maxIter")
    nodes.select(col("id"))
      .join(cur.select(col("hi").as("id"), col("lo").as("graft_root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("graft_root"), col("id")).as("cluster_id"))
  }

  /** Connected components of a BLOCKED similarity graph — the special
    * case where edges never cross a blocking key (IVF cells, shard
    * keys: the pair join was keyed on the block, so components are
    * contained in blocks BY CONSTRUCTION). Then clustering needs no
    * iterative global loop at all: one cogroup shuffle on the block
    * key and an in-memory union-find per block. Blocks are bounded by
    * construction (that is what made the pair join tractable), so
    * per-task memory is bounded; rounds, checkpoints and convergence
    * counts all disappear. Deterministic: roots are kept at the
    * component MINIMUM on every union, so the result is independent
    * of edge order. Use `connectedComponents` when edges are global
    * (LSH candidates across the corpus).
    *
    * `nodes`: (block, id); `edges`: (block, a, b) with a,b inside the
    * block. Output: (id, cluster_id = min id of the component). */
  def blockedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val n = nodes.select(col("block").cast("long"), col("id").cast("long"))
      .as[(Long, Long)]
    val e = edges.select(col("block").cast("long"), col("a").cast("long"),
      col("b").cast("long")).as[(Long, Long, Long)]
    n.groupByKey(_._1).cogroup(e.groupByKey(_._1)) { (_, ns, es) =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      ns.foreach { case (_, id) => parent(id) = id }
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (blk, a, b) =>
        // nodes-cover-edges contract: name the block and the missing
        // endpoint so a violation is diagnosable from the task failure
        // (a bare map lookup would surface as "key not found: N")
        Seq(a, b).foreach { x =>
          require(parent.contains(x),
            s"edge endpoint $x in block $blk has no node row — " +
              "blockedComponents requires nodes to cover all edge endpoints")
        }
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          // min stays root → cluster_id = component min, edge-order-free
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keysIterator.toSeq.sorted.iterator.map(id => (id, find(id)))
    }.toDF("id", "cluster_id")
  }

  /** SimHash near-dup pairs via bit-slice banding — the hamming-join
    * the fingerprint exists for: a 32-bit simhash splits into four
    * 8-bit bands, and two fingerprints within hamming distance 3 must
    * agree on at least one whole band (pigeonhole), so candidates =
    * pairs sharing a (band, value) bucket and only candidates pay the
    * exact bit_count(xor) check. `bucketCols` blocking rides in the
    * join key (as in charNgramNearDups): a 32-bit fingerprint over a
    * homogeneous corpus is coarse, so unblocked bucket fan-in — and
    * the pair count — grows quadratically in corpus density; at scale
    * the blocking key is the shard key. Never O(n²) within a block. */
  def simhashNearDups(df: DataFrame, id: Column, text: Column,
      bucketCols: Seq[String] = Nil, maxHamming: Int = 1): DataFrame = {
    // simhash computed with the blocking columns CARRIED through the
    // projection (no join-back): the whole fingerprint+band derivation
    // is one narrow pass over the corpus. ComputeOnce on the fold: the
    // join keys (band values) derive from it, so the join's inferred
    // isnotnull filters would otherwise push below this projection and
    // re-inline the interpreted 32×|tokens| fold into every filter
    // (measured 10×: 12 s → 1.2 s at sf0.1)
    val sims = df
      .select(bucketCols.map(col) :+ id.as("doc_id") :+
        transform(tokens(text), t => polyHashFast(t)).as("hs"): _*)
      .select(bucketCols.map(col) :+ col("doc_id") :+
        graft.functions.ComputeOnce.once(
          graft.functions.SimHashFold.simhashFold(col("hs"))).as("fp"): _*)
    hammingJoin(sims, bucketCols, bands = 4, bandBits = 8, maxHamming = maxHamming)
  }

  /** Hamming-distance self-join over any integer fingerprint column
    * `fp`, via bit-slice banding: the fingerprint splits into `bands`
    * disjoint slices of `bandBits` bits, and two fingerprints within
    * hamming distance `bands − 1` must agree on at least one whole
    * slice (pigeonhole), so candidates = pairs sharing a
    * (band, value) bucket and only candidates pay the exact
    * bit_count(xor) check. Shared engine of the SimHash text join
    * (d52: 4×8-bit slices of a 32-bit fingerprint) and the aHash
    * payload join (m73: 4×16-bit slices of a 63-bit fingerprint) —
    * any per-item fingerprint with hamming-correlated similarity
    * plugs in. `bucketCols` blocking rides in the join key; never
    * O(n²) within a block. Input: bucketCols + `doc_id` + `fp`. */
  def hammingJoin(fps: DataFrame, bucketCols: Seq[String],
      bands: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    require(bands >= 2 && bandBits >= 1 && bands * bandBits <= 64,
      s"need >= 2 bands and bands*bandBits <= 64, got $bands x $bandBits")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"$bands-band banding only guarantees recall for hamming <= ${bands - 1}, got $maxHamming")
    val mask = (1L << bandBits) - 1
    val bandsDf = fps
      .select(bucketCols.map(col) :+ col("doc_id") :+ col("fp") :+
        explode_outer(array((0 until bands).map { b =>
          struct(lit(b).as("band_idx"),
            shiftright(col("fp"), bandBits * b).bitwiseAND(lit(mask)).as("band_val"))
        }: _*)).as("bb"): _*)
      .select(bucketCols.map(col) :+ col("doc_id") :+ col("fp") :+
        col("bb.band_idx").as("band_idx") :+ col("bb.band_val").as("band_val"): _*)
      // both self-join sides consume this frame — persist or each side
      // recomputes the fingerprint derivation (cache contract as in
      // nearDuplicates; `bands` skinny rows per item)
      .transform(d => graft.Caches.pin(d))
    val joinKey = bucketCols ++ Seq("band_idx", "band_val")
    val l = bandsDf.select(joinKey.map(col) :+
      col("doc_id").as("a") :+ col("fp").as("sa"): _*)
    val r = bandsDf.select(joinKey.map(col) :+
      col("doc_id").as("b") :+ col("fp").as("sb"): _*)
    // first-matching-band dedup: a pair agreeing on several bands
    // would be emitted once per band; instead of a DISTINCT over the
    // full candidate set (a shuffle of O(pairs·bands) wide rows — the
    // dominant cost on fingerprint-dense corpora), keep a candidate
    // only in the LOWEST band where the slices agree, checked with
    // per-row bit arithmetic against the earlier slices
    val firstBandOnly = (0 until bands - 1).map { j =>
      col("band_idx") <= j ||
        shiftright(col("sa"), bandBits * j).bitwiseAND(lit(mask)) =!=
        shiftright(col("sb"), bandBits * j).bitwiseAND(lit(mask))
    }.reduce(_ && _)
    l.join(r, joinKey)
      .filter(col("a") < col("b"))
      .filter(firstBandOnly)
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Segment-level exact dedup — the line-level dedup of C4/RefinedWeb
    * generalized to token blocks: each document splits into
    * consecutive `segTokens`-token segments, a segment is a duplicate
    * if the SAME token sequence occurred earlier in the corpus
    * (earlier = smaller (doc_id, seg_idx) — the deterministic
    * first-occurrence rule), and each document reports how much of it
    * is redundant. The fix-the-boilerplate step that document-level
    * near-dup cannot express: two distinct docs sharing one boilerplate
    * block dedup at the block, not the doc.
    *
    * One tokenize pass, then a skew-safe two-level reduction on the
    * segment HASH (8-byte key, Broder-style fingerprint — never the
    * segment text). A row_number window per hash would concentrate an
    * ubiquitous segment (the skew case: a site-wide footer at 100 TB)
    * onto one reduce task at its full occurrence multiplicity;
    * instead (1) occurrences pre-aggregate per (hash, doc) —
    * map-side partials bound the hot key, and the hot hash's rows
    * spread over its containing DOCS, one row each — and (2) the
    * global first occurrence per hash is a min(struct(doc, seg_idx))
    * AGGREGATION (partial-combinable; no sort, no window) joined
    * back on the hash. A doc's occurrence is a duplicate unless it
    * IS that global first, so per (hash, doc): dups = count −
    * (1 if this doc holds the global first). The oracle twin keeps
    * the window formulation — same semantics, independent shape. */
  def segmentDedup(df: DataFrame, id: Column, text: Column,
      segTokens: Int = 10): DataFrame = {
    require(segTokens >= 1, s"segTokens must be positive, got $segTokens")
    // posexplode (not a window over explode output): the generator's
    // position IS the segment index — a row_number over the exploded
    // rows would rank an arbitrary intra-partition order
    val segs = df.select(id.as("doc_id"), tokens(text).as("t"))
      .select(col("doc_id"), posexplode_outer(
        when(size(col("t")) >= 1,
          transform(
            sequence(lit(1), floor((size(col("t")) + (segTokens - 1))
              .cast("double") / segTokens).cast("int")),
            i => concat_ws(" ",
              slice(col("t"), (i - 1) * segTokens + 1, lit(segTokens)))))
          .otherwise(array().cast("array<string>"))))
      .toDF("doc_id", "seg_idx", "seg")
      .filter(col("seg").isNotNull)
    // level 1: collapse occurrences per (hash, doc) — cnt occurrences,
    // and the doc's earliest seg_idx (the only one that can be the
    // global first). Both agg and the join below consume this frame;
    // persist pins one derivation (cache contract as in hammingJoin —
    // one skinny row per (hash, doc))
    val grp = segs
      .select(col("doc_id"), col("seg_idx"), polyHashFast(col("seg")).as("h"))
      .groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"), min(col("seg_idx")).as("mseg"))
      .transform(d => graft.Caches.pin(d))
    // level 2: global first occurrence per hash — an ordinary min over
    // structs (struct ordering = lexicographic (doc_id, seg_idx)),
    // partial-aggregated map-side; a hot hash contributes ONE row per
    // upstream partition to the shuffle
    val first = grp.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("mseg"))).as("f"))
      .select(col("h"), col("f.doc_id").as("first_doc"))
    grp.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_segments"),
        sum(col("cnt") - when(col("doc_id") === col("first_doc"), 1L)
          .otherwise(0L)).as("n_dup_segments"))
  }

  /** Cross-document repeated-span detection — the sliding-window
    * approximation of exact-substring training-data dedup (the
    * suffix-array method of Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", re-expressed relationally):
    * a `spanTokens`-token window whose token sequence occurred
    * earlier in the corpus (earlier = smaller (doc_id, start) — the
    * same first-occurrence rule as segmentDedup) is a duplicated
    * window, and overlapping/adjacent duplicated windows merge into
    * MAXIMAL spans — the unit a curator actually cuts. Unlike
    * segmentDedup's fixed block grid this catches duplicated runs at
    * ANY token offset (a quote pasted mid-sentence), at the cost of
    * one window per token position instead of one per block.
    * Within-doc repeats count: a doc restating its own span
    * duplicates it, as in the suffix-array formulation.
    *
    * Scale shape: one tokenize pass explodes to ~one row per corpus
    * token (the cardinality every n-gram operator here pays); the
    * global first occurrence per span hash is a min(struct)
    * AGGREGATION (map-side partials — never a corpus-wide window);
    * occurrences re-join their hash's first on the 8-byte hash key
    * (a viral span's occurrences concentrate in that hash's join
    * partition — AQE's skew-join split re-plans it, the bigramLm
    * note); the interval merge is a per-DOC window (partitioned by
    * doc_id — no single-partition funnel). Span identity is the
    * hash, Broder-style, as everywhere in this stack.
    *
    * Output per doc with duplicated content: `n_spans`,
    * `n_dup_windows`, `dup_tokens` (tokens covered by merged spans),
    * `longest_span`. Docs with no duplicated window are absent
    * (their signals are all zero). */
  def repeatedSpans(df: DataFrame, id: Column, text: Column,
      spanTokens: Int = 10): DataFrame =
    repeatedSpanIntervals(df, id, text, spanTokens)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("nw")).as("n_dup_windows"),
        sum(col("e0") - col("s0") + 1).as("dup_tokens"),
        max(col("e0") - col("s0") + 1).as("longest_span"))

  /** The merged duplicated-span intervals behind `repeatedSpans` /
    * `dropSpans`: one row per maximal span — (doc_id, s0, e0, nw)
    * with 1-based inclusive token positions and the window count that
    * merged into the span. */
  private[graft] def repeatedSpanIntervals(df: DataFrame, id: Column,
      text: Column, spanTokens: Int): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be positive, got $spanTokens")
    // posexplode: the generator position IS the window start (same
    // determinism argument as segmentDedup — never a row_number over
    // exploded rows). Window hashes come from the native one-pass
    // TokenShingleHashes kernel — element w IS
    // poly_hash(concat_ws(' ', tokens[w..w+n-1])) by the kernel's
    // contract (property-tested), so the relational oracle twin is
    // unchanged; the former interpreted concat-per-window HOF was the
    // t97 anti-pattern (measured here: d59 2.0 → 0.6 s warm at
    // sf0.1). _outer blocks InferFiltersFromGenerate from pushing a
    // size()>0 filter that would re-run the kernel per row; the
    // repartition spreads the per-char kernel off the compact scan
    // partitions (the nearDuplicates rule).
    val wins = df.repartition(id)
      .select(id.as("doc_id"),
        graft.functions.TokenShingleHashes.tokenShingleHashes(text, spanTokens).as("hs"))
      .select(col("doc_id"), posexplode_outer(col("hs")))
      .toDF("doc_id", "pos", "h")
      .filter(col("h").isNotNull)
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("start"), col("h"))
    // wins feeds two consumers (the firsts aggregation and the
    // occurrence join) and is DELIBERATELY recomputed, not pinned:
    // unlike d57's id-narrow frame this is corpus-token-sized, and
    // materializing it measured ~25% slower (normalized) than
    // re-running the narrow scan→explode→hash codegen chain — the
    // classic cache-vs-recompute call, decided by measurement.
    val firsts = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("start"))).as("f"),
        count(lit(1)).as("c"))
    // duplicated occurrences: hash seen >1 times, minus the single
    // global first — equivalent to occ > 1 under the (doc_id, start)
    // total order, without ranking the hash partition
    val dup = wins.join(firsts, "h")
      .filter(col("c") > 1 &&
        !(col("doc_id") === col("f.doc_id") && col("start") === col("f.start")))
      .select(col("doc_id"), col("start"))
    // classic interval merge per doc: a window [start, start+k-1]
    // opens a new span iff it clears the running max end by more than
    // adjacency; span id = running count of openers
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start"))
    val wPrev = wDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    dup
      .withColumn("graft_prev_end",
        max(col("start") + (spanTokens - 1)).over(wPrev))
      .withColumn("graft_opens",
        when(col("graft_prev_end").isNull ||
          col("start") > col("graft_prev_end") + 1, 1L).otherwise(0L))
      .withColumn("graft_span", sum(col("graft_opens")).over(wDoc))
      .groupBy(col("doc_id"), col("graft_span"))
      .agg(min(col("start")).as("s0"),
        (max(col("start")) + (spanTokens - 1)).as("e0"),
        count(lit(1)).as("nw"))
  }

  /** Repeated-span dedup APPLIED — the cut step of Lee-et-al
    * exact-substring dedup: every token covered by a merged
    * duplicated span (see `repeatedSpans`; global first occurrences
    * are NOT spans and survive) is removed, and the document is
    * re-emitted from its surviving tokens. Output per input doc:
    * `n_tokens`, `n_kept`, `cleaned_text` (surviving tokens joined by
    * single spaces — token-normalized text, the form every operator
    * in this stack compares).
    *
    * Scale shape: the span side aggregates to AT MOST one row per
    * doc (collect_list over the doc's few merged intervals — bounded
    * by doc length, not corpus size), so the apply join is a plain
    * equi-join on doc_id followed by one narrow per-row HOF filter
    * (position-indexed) — scan-stage work. The corpus is scanned
    * twice (span discovery + apply), the unavoidable two-pass of any
    * first-occurrence-keeping rewrite. */
  def dropSpans(df: DataFrame, id: Column, text: Column,
      spanTokens: Int = 10): DataFrame =
    dropSpansTokens(df, id, text, spanTokens)
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("cleaned_text"))

  /** `dropSpans` with the surviving TOKEN ARRAY exposed:
    * (doc_id, [carry...,] n_tokens, kept). `cleaned_text` is
    * array_join(kept, ' ') and — because kept tokens are case-folded,
    * non-empty and space-free — tokens(cleaned_text) == kept exactly,
    * so a downstream stage that needs the survivors' tokens (the fused
    * curation path) can consume `kept` directly instead of
    * re-tokenizing the joined string over the whole corpus. `carry`
    * names input columns to ride the apply pass unchanged — they cost
    * one projected column each, versus the corpus-scale doc_id re-join
    * a caller would otherwise pay to recover them. Carry names must
    * not collide with the operator's own output/working names. */
  private[graft] def dropSpansTokens(df: DataFrame, id: Column, text: Column,
      spanTokens: Int = 10, carry: Seq[String] = Nil): DataFrame = {
    val reserved = Set("doc_id", "n_tokens", "kept", "t", "graft_spans")
    carry.foreach(c => require(!reserved(c),
      s"dropSpansTokens carry column '$c' collides with a working name"))
    // null-text docs drop (like every token-keyed operator): tokens
    // of null is null and the legacy size(null) = -1 sentinel would
    // otherwise emit a garbage (-1, -1, null) row for them
    val in = df.filter(text.isNotNull)
    val spans = repeatedSpanIntervals(in, id, text, spanTokens)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s0"), col("e0"))).as("graft_spans"))
    in.select(id.as("doc_id") +: (carry.map(col) :+ tokens(text).as("t")): _*)
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id") +: (carry.map(col) ++ Seq(
        size(col("t")).cast("long").as("n_tokens"),
        when(col("graft_spans").isNull, col("t"))
          .otherwise(filter(col("t"), (_, i) =>
            !exists(col("graft_spans"), sp =>
              i + 1 >= sp("s0") && i + 1 <= sp("e0")))).as("kept"))): _*)
  }

  /** CDC chunk dedup APPLIED — documents rebuilt from only the
    * globally-first occurrence of each content-defined chunk (the
    * payload analog of `dropSpans`' token-span cut): chunk boundaries
    * come from the [[graft.functions.CdcChunks]] rolling-hash kernel,
    * so a shared run disappears from every doc but its first
    * REGARDLESS of its byte offset — the insertion-stable property
    * fixed-size chunking lacks. First occurrence = min(struct(doc_id,
    * chunk_idx)), an aggregation (viral-chunk skew argument as in
    * segmentDedup); the rebuild sorts the collected (chunk_idx, text)
    * structs — never collect_list arrival order, which is
    * partition-nondeterministic. Output per doc: n_chunks, n_kept,
    * cleaned_text. Empty docs have no chunks and are absent. */
  def dropDupChunks(df: DataFrame, id: Column, text: Column,
      w: Int = 8, mask: Long = 64L): DataFrame = {
    val chunks = df.select(id.as("doc_id"), text.as("graft_text"))
      .select(col("doc_id"), col("graft_text"),
        posexplode(graft.functions.CdcChunks.cdcChunks(col("graft_text"), w, mask)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("graft_text").substr(col("col.start").cast("int"),
          col("col.len").cast("int")).as("cstr"),
        col("col.chash").as("chash"))
      // two consumers (firsts + the keep join) — without the pin the
      // CDC kernel + substring explode run twice per action
      .transform(d => graft.Caches.pin(d))
    val firsts = chunks.groupBy(col("chash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
    chunks.join(firsts, "chash")
      .withColumn("graft_keep",
        col("doc_id") === col("f.doc_id") && col("chunk_idx") === col("f.chunk_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("graft_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx").as("i"),
            when(col("graft_keep"), col("cstr")).otherwise(lit("")).as("t")))),
          s2 => s2("t")), "").as("cleaned_text"))
  }

  /** Approximate containment SCREENING from MinHash signatures plus
    * exact distinct-shingle counts — the cheap lossy pre-filter to
    * `containmentPairs`' exact pigeonhole path (Broder's resemblance
    * estimation, turned directional): for LSH-banded candidate pairs,
    * Ĵ = signature agreement / k, and containment of the smaller set
    * A in the larger B follows as Ĉ = Ĵ·(|A|+|B|) / ((1+Ĵ)·|A|)
    * (from |A∩B| = Ĵ/(1+Ĵ)·(|A|+|B|), with |A|,|B| exact). Estimator
    * semantics: banding recall < 1 and Ĵ carries k-sample noise (Ĉ
    * may exceed 1); use d56's exact operator when recall must be
    * provable — this screen costs one signature pass + the band
    * self-join, nothing touching shingle SETS pairwise.
    *
    * One shingle-hash pass feeds both the signatures and the exact
    * sizes (pinned; cache contract as everywhere). Output per
    * candidate pair with Ĉ ≥ threshold: (contained, container,
    * est_containment), contained = the smaller set (ties keep the
    * a < b candidate order). */
  def containmentScreen(docs: DataFrame, id: Column, text: Column,
      n: Int = DefaultShingleN, k: Int = DefaultMinhashK, bands: Int = DefaultBands,
      threshold: Double = 0.5): DataFrame = {
    // the repartition-before-kernel rule (sortedShingleSets) applies
    // here too — this screen keeps RAW window hashes (signatures use
    // them unsorted), so it builds its own frame
    val hs = shingleHashFrame(docs.repartition(id), id, text, n)
      .transform(d => graft.Caches.pin(d))
    val sig = hs.select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("h"), k).as("sig"))
    val sz = hs.select(col("doc_id"),
      size(array_distinct(col("h"))).cast("long").as("sz"))
    val cand = candidatePairs(bucketsFromSignatures(sig, k, bands))
    cand
      .join(sig.select(col("doc_id").as("a"), col("sig").as("siga")), "a")
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sigb")), "b")
      .withColumn("graft_j",
        size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          p => p)).cast("double") / k)
      .join(sz.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
      .join(sz.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
      .select(
        when(col("sza") <= col("szb"), col("a")).otherwise(col("b")).as("contained"),
        when(col("sza") <= col("szb"), col("b")).otherwise(col("a")).as("container"),
        ((col("graft_j") * (col("sza") + col("szb")).cast("double")) /
          ((lit(1.0) + col("graft_j")) *
            least(col("sza"), col("szb")).cast("double")))
          .as("est_containment"))
      .filter(col("est_containment") >= threshold)
  }

  /** Quality-aware cluster canonicalization: per duplicate cluster,
    * the surviving representative is the member with the BEST quality
    * (ties → smallest id) — the curator's upgrade over min-id
    * canonical (d53): when a cluster holds a truncated copy and the
    * full document, keep the full one. Implemented as a skew-safe
    * ARG-MAX AGGREGATION — `max(struct(q, -id))` is partial-combinable
    * and order-insensitive, so a million-member viral cluster costs
    * one shuffle row per upstream partition; a per-cluster rank window
    * would funnel the whole cluster through one task (the t72/d59 skew
    * argument).
    *
    * `labels`: (id, cluster_id) from any of the components operators;
    * `quality`: (id, q) integral. Output: (cluster_id, rep_id, rep_q,
    * n_members). */
  def clusterRepresentatives(labels: DataFrame,
      quality: DataFrame): DataFrame =
    labels.select(col("id"), col("cluster_id"))
      .join(quality.select(col("id"), col("q")), "id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("id")).as("negid"))).as("best"))
      .select(col("cluster_id"), (-col("best.negid")).as("rep_id"),
        col("best.q").as("rep_q"), col("n_members"))

  /** Benchmark decontamination: training documents sharing at least
    * one word-n-gram with any document of an evaluation set — the
    * standard n-gram-overlap contamination check run before training
    * (GPT-3 used 13-grams, PaLM 8-grams; the width is a parameter).
    * Grams are hashed (Broder-style fingerprints, same kernel as the
    * dedup stack) so the join key is 8 bytes, and the BENCH side is
    * broadcast — eval sets are small by construction, so the 100 TB
    * training scan stays shuffle-free: explode, hash-probe, aggregate
    * (map-side partials). Output per contaminated train doc: distinct
    * shared grams and distinct benchmark docs hit.
    */
  def contamination(train: DataFrame, bench: DataFrame,
      id: Column, text: Column, n: Int = 5): DataFrame = {
    // repartition the 100 TB side off the compact scan partitions
    // before the per-char kernel (the sortedShingleSets rule)
    val tr = shingleHashFrame(train.repartition(id), id, text, n)
      .select(col("doc_id"), explode(array_distinct(col("h"))).as("g"))
    val be = shingleHashFrame(bench, id, text, n)
      .select(col("doc_id").as("bench_id"), explode(array_distinct(col("h"))).as("g"))
    tr.join(broadcast(be), "g")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_shared"),
        count_distinct(col("bench_id")).as("n_bench_docs"))
  }

  /** The 32-bit bit-majority fold over a token-hash array column named
    * `hs` (SQL text: dynamic bit shifts aren't expressible in the
    * Column DSL — still a Catalyst expression plan, not a UDF).
    * The bit weight shifts a BIGINT one: an INT shiftleft would wrap
    * bit 31 to −2^31, sign-flipping fingerprints whenever the hash
    * kernel sets high bits (poly_hash never does; xxhash64 would).
    * This is the REFERENCE formulation: the hot paths (simhash32,
    * simhashNearDups) run the native single-pass SimHashFold kernel,
    * property-tested bit-identical to this 32-walk interpreted fold. */
  private[graft] val SimHashFoldSql =
    """aggregate(sequence(0, 31), 0L, (acc, b) -> acc +
      |  CASE WHEN aggregate(hs, 0L,
      |    (a2, h) -> a2 + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END) > 0
      |  THEN shiftleft(CAST(1 AS BIGINT), b) ELSE 0L END)""".stripMargin

  /** 32-bit SimHash: bit b of the fingerprint is the sign of
    * Σ_tokens (±1 by token-hash bit b). Near-dup docs differ in few
    * bits. Two-stage: token hashes are staged as an array column via
    * the Column DSL, then the bit-fold — the native single-pass
    * SimHashFold kernel, bit-identical to SimHashFoldSql and to the
    * DuckDB oracle's list_reduce twin (property-tested).
    * Output: (doc_id, simhash). */
  def simhash32(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        transform(tokens(text), t => polyHashFast(t)).as("hs"))
      .select(col("doc_id"),
        graft.functions.SimHashFold.simhashFold(col("hs")).as("simhash"))

}
