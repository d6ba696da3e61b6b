package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Q, Tables}
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.operators.TextHash._

/** North-star operators as oracle-checked queries: dedup (exact /
  * MinHash+LSH / SimHash / n-gram Jaccard / embedding near-dup),
  * similarity search (brute-force + IVF), text analysis, multimodal
  * metadata. The DuckDB oracle SQL for the hash-based ops is GENERATED
  * from the same constants as the Spark plans (TextHash), so the
  * formulas cannot drift.
  */
object Extended {

  // ---- shared oracle CTE fragments (documents → tokens → shingles →
  // shingle hashes → minhash signature → LSH band buckets) ------------
  private val sigEntries = A.zip(B).map { case (a, b) =>
    s"list_min(list_transform(h, x -> ($a*x + $b) % $P))"
  }.mkString("[", ", ", "]")

  /** The signature chain over any (doc_id, text) relation — `documents`
    * for the batch oracles, a corpus∪delta CTE for the incremental one
    * (d55); one generator so the formulas cannot drift. `base` selects
    * the shingle-hash family member (131 = the d45 pluggable-hash
    * path; min over the distinct'd shingle list equals min over the
    * raw window list, so the same CTE replays the non-dedup'd native
    * kernel too). */
  private def sigCtesOver(table: String, base: Long = 31L) =
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM $table),
       |sh AS (SELECT doc_id, ${shinglesSql(3)} AS s FROM toks),
       |hs AS (SELECT doc_id, list_transform(s, sg -> ${polyHashSql("sg", base)}) AS h FROM sh),
       |sig AS (SELECT doc_id, $sigEntries AS sig FROM hs)""".stripMargin

  private val sigCtes = sigCtesOver("documents")

  private val bbCte =
    s"""bb AS (SELECT doc_id, CAST(b AS BIGINT) AS band,
       |         (sig[2*b+1]*$BandMix + sig[2*b+2]) % $P AS bucket
       |       FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b))""".stripMargin

  private val minhashCtes =
    s"""$sigCtes,
       |$bbCte""".stripMargin

  /** The d42 near-dup pair set as a reusable CTE chain (candidates →
    * exact-Jaccard filter), feeding the clustering oracle. */
  private val pairsCtes =
    s"""$minhashCtes,
       |hd AS (SELECT doc_id, list_distinct(h) AS s FROM hs),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bb l JOIN bb r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
       |pairs AS (
       |  SELECT a, b
       |  FROM cand JOIN hd sa ON cand.a = sa.doc_id JOIN hd sb ON cand.b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.8)""".stripMargin

  /** d40 — exact dedup by content (hash-groupBy; min-id canonical row).
    * Duplicates are injected deterministically (every 7th doc re-added
    * under a shifted id) since the corpus itself has no exact dups. */
  val d40DedupExact: Q = Q(
    "d40_dedup_exact",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
      |SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
      |FROM corpus GROUP BY text
      |ORDER BY keep_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    Dedup.exact(corpus, col("text"), col("doc_id"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** d41 — MinHash signatures → LSH band buckets (the shuffle key of
    * scalable near-dup detection). */
  val d41MinhashLsh: Q = Q(
    "d41_minhash_lsh",
    s"""WITH $minhashCtes
       |SELECT doc_id, band, bucket FROM bb
       |ORDER BY doc_id, band""".stripMargin) { (s, dir) =>
    Dedup.lshBuckets(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"), col("band"))
  }

  /** d42 — near-duplicate pairs: LSH candidates verified by exact
    * 3-gram Jaccard ≥ 0.8 over HASHED shingle sets (both engines
    * intersect the same distinct-hash sets, so collision behavior is
    * identical by construction). Cost is O(candidates), never O(n²). */
  val d42NearDupPairs: Q = Q(
    "d42_neardup_pairs",
    s"""WITH $minhashCtes,
       |hd AS (SELECT doc_id, list_distinct(h) AS s FROM hs),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bb l JOIN bb r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
       |SELECT a, b,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
       |FROM cand JOIN hd sa ON cand.a = sa.doc_id JOIN hd sb ON cand.b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.8
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.nearDuplicates(Tables.documents(s, dir), col("doc_id"), col("text"), threshold = 0.8)
      .orderBy(col("a"), col("b"))
  }

  /** d55 — INCREMENTAL dedup: a delta batch (every 7th doc re-ingested
    * under a shifted id, so each delta doc has an exact J=1 source,
    * plus whatever planted near-dups straddle the split) dedups
    * against the standing corpus via the prebuilt band-bucket index —
    * the corpus text is never rescanned. The oracle runs the same
    * signature chain over corpus ∪ delta and keeps only the CROSSING
    * candidate pairs (corpus id < 1000000 ≤ delta id). */
  val d55DeltaDedup: Q = Q(
    "d55_delta_dedup",
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
       |${sigCtesOver("all_docs")},
       |bb AS (SELECT doc_id, CAST(b AS BIGINT) AS band,
       |         (sig[2*b+1]*$BandMix + sig[2*b+2]) % $P AS bucket
       |       FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
       |hd AS (SELECT doc_id, list_distinct(h) AS s FROM hs),
       |cand AS (
       |  SELECT DISTINCT r.doc_id AS delta_id, l.doc_id AS corpus_id
       |  FROM bb l JOIN bb r ON l.band = r.band AND l.bucket = r.bucket
       |  WHERE l.doc_id < 1000000 AND r.doc_id >= 1000000)
       |SELECT delta_id, corpus_id,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
       |FROM cand JOIN hd sa ON cand.corpus_id = sa.doc_id JOIN hd sb ON cand.delta_id = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.8
       |ORDER BY delta_id, corpus_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val index = Dedup.buildDedupIndex(docs, col("doc_id"), col("text"))
    Dedup.dedupAgainstIndex(index, delta, col("doc_id"), col("text"), threshold = 0.8)
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  /** DuckDB twin of Dedup.SimHashFoldSql — the 32-bit bit-majority
    * fold over a token-hash list column named `hs`; ONE copy shared by
    * every simhash oracle (d43, d52) so the fingerprint definition
    * cannot drift between them. */
  private val simFoldSql =
    """list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32), b ->
      |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(hs, h -> CASE WHEN ((h >> b) & 1) = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
      |           (a2, x) -> a2 + x) > 0
      |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
      |    (acc, x) -> acc + x)""".stripMargin

  /** d43 — SimHash fingerprints (bit-majority of token hashes). */
  val d43Simhash: Q = Q(
    "d43_simhash",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |h2 AS (SELECT doc_id, list_transform(t, tok -> ${polyHashSql("tok")}) AS hs FROM toks)
       |SELECT doc_id, $simFoldSql AS simhash
       |FROM h2 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.simhash32(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(acc, x) -> acc + x)"

  /** d44 — embedding-cosine near-dup pairs within coarse cells (IVF
    * layout: label = cell id; pair cost is partition-local). */
  val d44EmbeddingNearDup: Q = Q(
    "d44_embedding_neardup",
    s"""SELECT a.vec_id AS a, b.vec_id AS b,
       |  ${dotSql("a.embedding", "b.embedding")} AS score
       |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} >= 0.3
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Similarity.nearDupPairs(Tables.embeddings(s, dir), 0.3)
      .orderBy(col("a"), col("b"))
  }

  /** g06 — seeded label propagation (Graph.labelPropagate): a small
    * labeled seed set (vec_id < 50, class = vec_id % 3 — an arbitrary
    * but deterministic attribute, deliberately NOT the cell id the
    * edges are bucketed by) spreads 2 rounds through the
    * cosine-similarity graph; unlabeled nodes adopt the majority
    * neighbor label (count desc, label asc), labeled nodes are
    * hard-clamped. Oracle = the d44 pair chain + 2 unrolled
    * MATERIALIZED vote/argmax/union rounds. */
  val g06LabelProp: Q = {
    def voteRound(i: Int) =
      s"""v$i AS MATERIALIZED (
         |  SELECT s.b AS id, l.cls, count(*) AS c
         |  FROM sym s JOIN l${i - 1} l ON l.id = s.a
         |  WHERE NOT EXISTS (SELECT 1 FROM l${i - 1} x WHERE x.id = s.b)
         |  GROUP BY s.b, l.cls),
         |w$i AS MATERIALIZED (SELECT id, cls FROM (
         |  SELECT id, cls, row_number() OVER (PARTITION BY id ORDER BY c DESC, cls) AS rn
         |  FROM v$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT id, cls FROM l${i - 1} UNION ALL SELECT id, cls FROM w$i)""".stripMargin
    Q(
      "g06_label_prop",
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.embedding", "b.embedding")} >= 0.3),
         |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |l0 AS MATERIALIZED (
         |  SELECT vec_id AS id, vec_id % 3 AS cls FROM embeddings WHERE vec_id < 50),
         |${voteRound(1)},
         |${voteRound(2)}
         |SELECT id, CAST(cls AS BIGINT) AS label FROM l2 ORDER BY id""".stripMargin) {
      (s, dir) =>
        val emb = Tables.embeddings(s, dir)
        val pairs = Similarity.nearDupPairs(emb, 0.3).select(col("a"), col("b"))
        val seeds = emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("id"), (col("vec_id") % 3).as("label"))
        graft.operators.Graph.labelPropagate(pairs, seeds, rounds = 2)
          .orderBy(col("id"))
    }
  }

  // ---- shared ANN oracle fragments: ONE query-set definition and ONE
  // score/rank shape for s50 (brute), s51 (IVF) and s54 (recall), so
  // the recall metric is by construction measured against the same
  // baseline the standalone queries check --------------------------------
  private val annQueryCte =
    "q AS (SELECT vec_id AS query_id, embedding AS qe, label AS cell FROM embeddings WHERE vec_id % 50 = 0)"
  private val annBruteJoin = "embeddings c CROSS JOIN q"
  private val annIvfJoin = "embeddings c JOIN q ON c.label = q.cell"
  private def annTopCtes(prefix: String, fromJoin: String): String =
    s"""${prefix}sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${dotSql("q.qe", "c.embedding")} AS score
       |       FROM $fromJoin WHERE c.vec_id <> q.query_id),
       |${prefix}rk AS (SELECT query_id, neighbor_id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |       FROM ${prefix}sc)""".stripMargin

  /** s50 — exact brute-force top-3 cosine neighbors for the query set
    * (every 50th vector); the correctness baseline for ANN. */
  val s50KnnBrute: Q = Q(
    "s50_knn_brute",
    s"""WITH $annQueryCte,
       |${annTopCtes("", annBruteJoin)}
       |SELECT query_id, rank, neighbor_id, score FROM rk WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0), 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** s51 — IVF-style top-3: candidates restricted to the query's cell
    * (the 100 TB path: probe one partition, not the corpus). */
  val s51KnnIvf: Q = Q(
    "s51_knn_ivf",
    s"""WITH $annQueryCte,
       |${annTopCtes("", annIvfJoin)}
       |SELECT query_id, rank, neighbor_id, score FROM rk WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0), 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** d52 — SimHash hamming-join: bit-slice banding (four 8-bit bands;
    * pigeonhole guarantees recall for hamming ≤ 3) then exact
    * bit_count(xor) on candidates only — completes the SimHash
    * pipeline from fingerprint (d43) to pairs. Blocked by
    * (lang, source) like d47: a 32-bit fingerprint over this
    * homogeneous corpus is coarse, and unblocked banding fans in
    * quadratically. */
  val d52SimhashNearDup: Q = {
    Q(
      "d52_simhash_neardup",
      s"""WITH toks AS (SELECT lang, source, doc_id, ${tokensSql("text")} AS t FROM documents),
         |h2 AS (SELECT lang, source, doc_id, list_transform(t, tok -> ${polyHashSql("tok")}) AS hs FROM toks),
         |sim AS (SELECT lang, source, doc_id, $simFoldSql AS sh FROM h2),
         |bands AS (SELECT lang, source, doc_id, sh, b, (sh >> (8*b)) & 255 AS bv
         |          FROM sim CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
         |cand AS (SELECT l.doc_id AS a, r.doc_id AS b, l.sh AS sa, r.sh AS sb
         |         FROM bands l JOIN bands r
         |           ON l.lang = r.lang AND l.source = r.source
         |          AND l.b = r.b AND l.bv = r.bv AND l.doc_id < r.doc_id
         |         WHERE (l.b <= 0 OR ((l.sh >> 0) & 255) <> ((r.sh >> 0) & 255))
         |           AND (l.b <= 1 OR ((l.sh >> 8) & 255) <> ((r.sh >> 8) & 255))
         |           AND (l.b <= 2 OR ((l.sh >> 16) & 255) <> ((r.sh >> 16) & 255)))
         |SELECT a, b, CAST(bit_count(CAST(xor(sa, sb) AS BIGINT)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(CAST(xor(sa, sb) AS BIGINT)) <= 1
         |ORDER BY a, b""".stripMargin) { (s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), col("doc_id"), col("text"),
          bucketCols = Seq("lang", "source"), maxHamming = 1)
        .orderBy(col("a"), col("b"))
    }
  }

  /** d51 — benchmark decontamination: train docs (16/17 of the
    * corpus) sharing any hashed 5-gram with the eval split (every
    * 17th doc). Bench side broadcast; the train scan never shuffles
    * before the aggregate. */
  val d51Decontaminate: Q = Q(
    "d51_decontaminate",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |sh5 AS (SELECT doc_id, ${shinglesSql(5)} AS s FROM toks),
       |hs5 AS (SELECT doc_id, list_distinct(list_transform(s, sg -> ${polyHashSql("sg")})) AS h FROM sh5),
       |tr AS (SELECT doc_id, unnest(h) AS g FROM hs5 WHERE doc_id % 17 <> 0),
       |be AS (SELECT doc_id AS bench_id, unnest(h) AS g FROM hs5 WHERE doc_id % 17 = 0),
       |j AS (SELECT tr.doc_id, tr.g, be.bench_id FROM tr JOIN be ON tr.g = be.g)
       |SELECT doc_id,
       |  CAST(count(DISTINCT g) AS BIGINT) AS n_shared,
       |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.contamination(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        col("doc_id"), col("text"), n = 5)
      .orderBy(col("doc_id"))
  }

  /** s52 — nearest-centroid assignment (the k-means/IVF assignment
    * step): centroids = the first 8 corpus vectors, broadcast; ties
    * break (score DESC, centroid ASC) on both engines. */
  val s52CentroidAssign: Q = Q(
    "s52_centroid_assign",
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |sc AS (SELECT e.vec_id, c.centroid_id, ${dotSql("e.embedding", "c.ce")} AS score
       |       FROM embeddings e CROSS JOIN c),
       |rk AS (SELECT vec_id, centroid_id, score,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rn
       |       FROM sc)
       |SELECT vec_id, centroid_id, score FROM rk WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.centroidAssign(emb, emb.filter(col("vec_id") < 8))
      .orderBy(col("vec_id"))
  }

  /** s53 — per-vector max-abs int8 quantization (embedding-corpus
    * compression); codes serialized to a string for the hash gate
    * (array columns are not comparator-hashable — q26 lesson). */
  val s53Int8Quant: Q = Q(
    "s53_int8_quant",
    s"""WITH s AS (SELECT vec_id, embedding,
       |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
       |  FROM embeddings)
       |SELECT vec_id, scale,
       |  array_to_string(list_transform(embedding, x ->
       |    CAST(CASE WHEN scale > 0
       |         THEN CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS INTEGER)
       |         ELSE 0 END AS VARCHAR)), '-') AS qvec_s
       |FROM s ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Similarity.int8Quantize(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("qvec"), x => x.cast("string")), "-").as("qvec_s"))
      .orderBy(col("vec_id"))
  }

  /** s61 — exact quantized k-means M-step
    * (Similarity.kmeansStepQuantized): assignments by the s52 argmax,
    * update statistics as (n, Σq) integer sums over per-tensor
    * int8-quantized values — the order-insensitive form of the
    * distributed centroid update (float sums would differ by
    * partitioning AND engine). Centroids = first 8 vectors, the s52
    * convention. */
  val s61KmeansStep: Q = Q(
    "s61_kmeans_step",
    s"""WITH g AS (SELECT max(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))) AS gscale
       |           FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |sc AS (SELECT e.vec_id, c.centroid_id, ${dotSql("e.embedding", "c.ce")} AS score
       |       FROM embeddings e CROSS JOIN c),
       |rk AS (SELECT vec_id, centroid_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rn
       |       FROM sc),
       |asg AS (SELECT vec_id, centroid_id FROM rk WHERE rn = 1),
       |q AS (SELECT e.vec_id, unnest(range(0, len(e.embedding))) AS dim,
       |        CASE WHEN g.gscale > 0
       |          THEN CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) / g.gscale * 127 + 0.5) AS BIGINT)
       |          ELSE 0 END AS qv
       |      FROM embeddings e CROSS JOIN g)
       |SELECT a.centroid_id, CAST(q.dim AS BIGINT) AS dim,
       |       CAST(count(*) AS BIGINT) AS n, CAST(sum(q.qv) AS BIGINT) AS sum_q
       |FROM q JOIN asg a ON a.vec_id = q.vec_id
       |GROUP BY a.centroid_id, q.dim
       |ORDER BY centroid_id, dim""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.kmeansStepQuantized(emb, emb.filter(col("vec_id") < 8))
      .orderBy(col("centroid_id"), col("dim"))
  }

  /** s56 — product-quantization encode + asymmetric-distance scoring
    * (Similarity.pqEncode / pqAdcScore): 4 subspaces of 16 dims,
    * codebook = the first 8 corpus vectors (the s52 convention),
    * query = vector 0. The oracle recomputes the sub-centroid argmax
    * (score DESC, cid — the engine's greatest(struct) tie rule) and
    * the ADC sum from the same slice-dot left folds, pivoted so the
    * four lookups add in the engine's fixed left-to-right order. */
  /** Shared SQL builders for the s56/s57 PQ oracles: the per-subspace
    * encode chain and the pivoted 4-lookup ADC sum, both over a
    * parameterized candidate source so the IVF+PQ twin restricts the
    * same chain to one cell. */
  private object PqSql {
    val m = 4
    val sub = 16
    def sl(e: String, j: Int) = s"($e[${j * sub + 1}:${(j + 1) * sub}])"
    def subdot(a: String, b: String, j: Int) = dotSql(sl(a, j), sl(b, j))
    /** enc/best/codes CTEs encoding every vector of `src` (needs CTE
      * `c(cid, ce)` in scope; `src` must expose vec_id + embedding). */
    def chain(src: String): String = {
      val enc = (0 until m).map { j =>
        s"""SELECT e.vec_id, $j AS j, c.cid,
           |  ${subdot("e.embedding", "c.ce", j)} - ${subdot("c.ce", "c.ce", j)}/2 AS score
           |FROM $src e CROSS JOIN c""".stripMargin
      }.mkString("\nUNION ALL\n")
      val pivots = (0 until m)
        .map(j => s"max(CASE WHEN j = $j THEN cid END) AS c$j").mkString(",\n  ")
      s"""enc AS ($enc),
         |best AS (SELECT vec_id, j, cid,
         |    row_number() OVER (PARTITION BY vec_id, j ORDER BY score DESC, cid) AS rn
         |  FROM enc),
         |codes AS (SELECT vec_id,
         |  $pivots
         |  FROM best WHERE rn = 1 GROUP BY vec_id)""".stripMargin
    }
    /** The ADC sum in the engine's fixed left-to-right lookup order
      * (needs codes alias `cd`, centroid aliases ca/cb/cc/cd2, and a
      * query CTE exposing `qe`). */
    val adc: String =
      s"""((((${subdot("q.qe", "ca.ce", 0)})
         |    + (${subdot("q.qe", "cb.ce", 1)}))
         |    + (${subdot("q.qe", "cc.ce", 2)}))
         |    + (${subdot("q.qe", "cd2.ce", 3)}))""".stripMargin
    val codeJoins: String =
      s"""JOIN c ca ON ca.cid = cd.c0
         |JOIN c cb ON cb.cid = cd.c1
         |JOIN c cc ON cc.cid = cd.c2
         |JOIN c cd2 ON cd2.cid = cd.c3""".stripMargin
  }

  val s56PqAdc: Q =
    Q("s56_pq_adc",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |${PqSql.chain("embeddings")}
         |SELECT cd.vec_id,
         |  array_to_string([CAST(cd.c0 AS VARCHAR), CAST(cd.c1 AS VARCHAR),
         |    CAST(cd.c2 AS VARCHAR), CAST(cd.c3 AS VARCHAR)], '-') AS code_s,
         |  ${PqSql.adc} AS adc
         |FROM codes cd
         |${PqSql.codeJoins}
         |CROSS JOIN q
         |ORDER BY cd.vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.pqAdcScore(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") === 0), m = 4)
        .orderBy(col("vec_id"))
    }

  /** s66 — BATCH PQ asymmetric-distance scoring
    * (Similarity.pqAdcScoreBatch): s56's encode+ADC lifecycle for the
    * same 8-query batch as s65 — per (query, vector) the m map
    * lookups add in the engine's fixed left-to-right order, the
    * corpus stays compressed end to end. Oracle = the s56 chain
    * CROSS JOINed against the multi-row query CTE. */
  val s66BatchAdc: Q =
    Q("s66_batch_adc",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 61 = 3),
         |${PqSql.chain("embeddings")}
         |SELECT q.qid AS query_id, cd.vec_id,
         |  array_to_string([CAST(cd.c0 AS VARCHAR), CAST(cd.c1 AS VARCHAR),
         |    CAST(cd.c2 AS VARCHAR), CAST(cd.c3 AS VARCHAR)], '-') AS code_s,
         |  ${PqSql.adc} AS adc
         |FROM codes cd
         |${PqSql.codeJoins}
         |CROSS JOIN q
         |ORDER BY query_id, cd.vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.pqAdcScoreBatch(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") % 61 === 3), m = 4)
        .orderBy(col("query_id"), col("vec_id"))
    }

  /** s57 — IVF+PQ top-k (FAISS-style IVFADC: Similarity.ivfPqTopK):
    * the query probes its coarse cell and the cell's members rank by
    * the PQ asymmetric-distance score — the corpus stays compressed
    * end to end. Oracle: the s56 encode chain restricted to the
    * query's cell, ranked (score DESC, vec_id). */
  val s57IvfPqTopK: Q =
    Q("s57_ivfpq_topk",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS qid, label AS qcell, embedding AS qe
         |      FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id, e.embedding FROM embeddings e, q
         |         WHERE e.label = q.qcell AND e.vec_id <> q.qid),
         |${PqSql.chain("cand")},
         |scored AS (SELECT cd.vec_id, ${PqSql.adc} AS score
         |  FROM codes cd
         |  ${PqSql.codeJoins}
         |  CROSS JOIN q),
         |rk AS (SELECT vec_id, score,
         |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT CAST(0 AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, score
         |FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") === 0), k = 10, m = 4)
        .orderBy(col("rank"))
    }

  /** s58 — IVF+PQ with exact re-ranking (Similarity.ivfPqRerank, the
    * ADC refinement of Jégou et al. §V): the compressed index proposes
    * a 30-candidate shortlist, only those rows pay a full-precision
    * dot, and the top 10 re-rank by the exact score. Oracle = the s57
    * chain extended by the exact-dot re-rank over the same shortlist;
    * both scores ride through (adc proposed, score decided). */
  val s58PqRerank: Q =
    Q("s58_pq_rerank",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS qid, label AS qcell, embedding AS qe
         |      FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id, e.embedding FROM embeddings e, q
         |         WHERE e.label = q.qcell AND e.vec_id <> q.qid),
         |${PqSql.chain("cand")},
         |scored AS (SELECT cd.vec_id, ${PqSql.adc} AS score
         |  FROM codes cd
         |  ${PqSql.codeJoins}
         |  CROSS JOIN q),
         |rk AS (SELECT vec_id, score,
         |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
         |  FROM scored),
         |short AS (SELECT vec_id, score AS adc FROM rk WHERE rank <= 30),
         |ex AS (SELECT sh.vec_id, sh.adc, ${dotSql("e.embedding", "q.qe")} AS score
         |       FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id
         |       CROSS JOIN q),
         |rk2 AS (SELECT vec_id, adc, score,
         |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
         |  FROM ex)
         |SELECT CAST(0 AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, adc, score
         |FROM rk2 WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqRerank(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") === 0), k = 10, shortlist = 30, m = 4)
        .orderBy(col("rank"))
    }

  /** s67 — BATCH IVF+PQ top-k (Similarity.ivfPqTopKBatch): s57's
    * IVFADC lifecycle for the same 8-query batch as s65/s66 — each
    * query probes its own coarse cell, candidates score by the PQ
    * asymmetric distance, corpus compressed end to end. The oracle
    * encodes the WHOLE corpus once (the engine computes codes in the
    * scan stage too) and joins scored candidates on the query's cell,
    * ranked per query. */
  val s67BatchIvfPq: Q =
    Q("s67_batch_ivfpq",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS qid, label AS qcell, embedding AS qe
         |      FROM embeddings WHERE vec_id % 61 = 3),
         |${PqSql.chain("embeddings")},
         |scored AS (SELECT q.qid, cd.vec_id, ${PqSql.adc} AS score
         |  FROM codes cd
         |  ${PqSql.codeJoins}
         |  JOIN embeddings e ON e.vec_id = cd.vec_id
         |  JOIN q ON e.label = q.qcell AND cd.vec_id <> q.qid),
         |rk AS (SELECT qid, vec_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, score
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKBatch(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") % 61 === 3), k = 10, m = 4)
        .orderBy(col("query_id"), col("rank"))
    }

  /** s68 — BATCH IVF+PQ exact re-rank (Similarity.ivfPqRerankBatch):
    * s58's ADC-propose / exact-decide refinement for the 8-query
    * batch — each query's 30-candidate compressed shortlist pays the
    * full-precision dot, top-10 by exact score; both scores ride
    * through (adc proposed, score decided). */
  val s68BatchRerank: Q =
    Q("s68_batch_rerank",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |q AS (SELECT vec_id AS qid, label AS qcell, embedding AS qe
         |      FROM embeddings WHERE vec_id % 61 = 3),
         |${PqSql.chain("embeddings")},
         |scored AS (SELECT q.qid, cd.vec_id, ${PqSql.adc} AS score
         |  FROM codes cd
         |  ${PqSql.codeJoins}
         |  JOIN embeddings e ON e.vec_id = cd.vec_id
         |  JOIN q ON e.label = q.qcell AND cd.vec_id <> q.qid),
         |rk AS (SELECT qid, vec_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
         |  FROM scored),
         |short AS (SELECT qid, vec_id, score AS adc FROM rk WHERE rank <= 30),
         |ex AS (SELECT sh.qid, sh.vec_id, sh.adc, ${dotSql("e.embedding", "q.qe")} AS score
         |       FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id
         |       JOIN q ON q.qid = sh.qid),
         |rk2 AS (SELECT qid, vec_id, adc, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
         |  FROM ex)
         |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, adc, score
         |FROM rk2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqRerankBatch(emb, emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") % 61 === 3), k = 10, shortlist = 30, m = 4)
        .orderBy(col("query_id"), col("rank"))
    }

  /** s69 — LARGE-nlist nearest-centroid assignment: s52's argmax over
    * a 256-centroid codebook — 4× past Similarity.LiteralCodebookMax,
    * so this is the driver gate for the BROADCAST-FRAME codebook path
    * (the literal `greatest(k structs)` inlining would blow
    * whole-stage codegen's method limit at a production nlist; here
    * the codebook stays a 1-row broadcast array and the argmax is one
    * HOF, constant plan size at any k). Same dot fold, same
    * (score DESC, centroid ASC) tie rule — the oracle is s52's SQL
    * with the wider centroid set. */
  val s69CentroidAssignBig: Q = Q(
    "s69_centroid_assign_big",
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 256),
       |sc AS (SELECT e.vec_id, c.centroid_id, ${dotSql("e.embedding", "c.ce")} AS score
       |       FROM embeddings e CROSS JOIN c),
       |rk AS (SELECT vec_id, centroid_id, score,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rn
       |       FROM sc)
       |SELECT vec_id, centroid_id, score FROM rk WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.centroidAssign(emb, emb.filter(col("vec_id") < 256))
      .orderBy(col("vec_id"))
  }

  /** s70 — LARGE-nlist BATCH multi-probe top-k: s65's retrieval
    * lifecycle against the 256-centroid codebook — per-query probe
    * ranking, cell assignment and candidate scoring all run through
    * the broadcast-frame codebook path (probe ranking = explode of
    * the scored array column; cell argmax = the s69 HOF). The
    * verdict-named 100-TB regime limit, driver-gated end to end. */
  val s70BatchKnnBig: Q = Q(
    "s70_batch_knn_big",
    ivfBatchProbeOracleSql(256, 61, 3, 3, 5)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfMultiProbeTopKBatch(emb, emb.filter(col("vec_id") < 256),
        emb.filter(col("vec_id") % 61 === 3), k = 5, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** GATE-CORPUS-CONDITIONAL query modulus for the layout-lifecycle
    * family (r19 verdict item 3): the sparse moduli (977/991/997)
    * that make partition pruning measurable at sf0.1+ yield only 1-2
    * queries — 2-5 hash-checked rows — at the 500-vector gate
    * corpora, so the per-round automatic gate barely exercised the
    * family. Below [[DenseGateMax]] corpus vectors the query set
    * densifies to `% [[DenseGateMod]]` (~13 queries, ≥20 gated rows
    * per lifecycle query); at sf0.1 and above the sparse modulus is
    * back and the probed fraction stays small. Both legs derive the
    * modulus from the corpus row count alone — the engine from a
    * metadata count, the oracle from the same CASE spelled in SQL —
    * so they cannot disagree. (The PlanAuditSpec pruning pins probe
    * the operators directly with sparse query sets: the FRACTION
    * this densification deliberately raises at the gate corpus is a
    * plan property, pinned where the probe is sparse by
    * construction.) */
  private val DenseGateMax = 1000L
  private val DenseGateMod = 37L
  private[graft] def lifecycleQueryMod(s: SparkSession, dir: String,
      sparse: Long): Long =
    if (Tables.embeddings(s, dir).count() < DenseGateMax) DenseGateMod
    else sparse
  private def condModSql(sparse: Int): String =
    s"(CASE WHEN (SELECT count(*) FROM embeddings) < $DenseGateMax " +
      s"THEN $DenseGateMod ELSE $sparse END)"

  /** The shared batch-multi-probe ORACLE (s65/s70 recompute paths and
    * the s71-s75 layout lifecycle): assignment argmax + per-query
    * probe ranking + exact-dot top-k over the UNPARTITIONED corpus.
    * One generator for all seven so the formulas cannot drift — the
    * argmax spelling, probe ranking, self-exclusion and both
    * (score DESC, id ASC) tie rules live here once; a layout/append/
    * compact query's answer is by construction the plain recompute's.
    * `condMod` opts a lifecycle query into the gate-densified
    * modulus; the fixed-corpus recompute paths (s65/s70) keep their
    * literal one. */
  private def ivfBatchProbeOracleSql(centMax: Int, qMod: Int, qRem: Int,
      nProbe: Int, k: Int, condMod: Boolean = false): String = {
    val modExpr = if (condMod) condModSql(qMod) else qMod.toString
s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < $centMax),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % $modExpr = $qRem),
       |cr AS (SELECT q.qid, c.centroid_id,
       |         row_number() OVER (PARTITION BY q.qid ORDER BY ${dotSql("q.qe", "c.ce")} DESC, c.centroid_id) AS crk
       |       FROM c CROSS JOIN q),
       |probed AS (SELECT qid, centroid_id FROM cr WHERE crk <= $nProbe),
       |sc0 AS (SELECT e.vec_id, c.centroid_id, ${dotSql("e.embedding", "c.ce")} AS score
       |        FROM embeddings e CROSS JOIN c),
       |asg AS (SELECT vec_id, centroid_id FROM (
       |          SELECT vec_id, centroid_id,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rn
       |          FROM sc0) r
       |        WHERE rn = 1),
       |cand AS (SELECT q.qid, q.qe, e.vec_id, e.embedding, a.centroid_id AS cell
       |         FROM embeddings e
       |         JOIN asg a USING (vec_id)
       |         JOIN probed p ON p.centroid_id = a.centroid_id
       |         JOIN q ON q.qid = p.qid
       |         WHERE e.vec_id <> q.qid),
       |sc AS (SELECT qid, vec_id, cell, ${dotSql("embedding", "qe")} AS score FROM cand),
       |rk AS (SELECT qid, vec_id, cell, score,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank
       |       FROM sc)
       |SELECT qid AS query_id, rank, vec_id AS neighbor_id, cell, score
       |FROM rk WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** s71 — multi-probe against the PARTITION-BY-CELL IVF layout
    * (Similarity.buildIvfLayout + ivfMultiProbeTopKBatchOnLayout): the
    * corpus is written `partitionBy(cell)` (each row's s69 argmax cell
    * as a hive partition column), read back with the explicit schema,
    * and probed with the operator's STATIC literal cell filter — the
    * probed cells prune the layout scan at PLANNING time, so unprobed
    * cells' files are never read (PlanAuditSpec pins the IN partition
    * filter AND the partitions-read metric; OperatorsSpec pins
    * hash-identity to the unpartitioned s70 path; the sparse %997
    * query set keeps the probed fraction small so pruning is
    * measurable, not just present — see the operator scaladoc for why
    * static literals beat DPP on this shape). The oracle recomputes
    * the assignment from the unpartitioned original — the layout must
    * change the WORK, never the answer (the q76 rule, at the
    * ANN-index level). */
  val s71IvfPartitioned: Q = Q(
    "s71_ivf_partitioned",
    ivfBatchProbeOracleSql(256, 997, 7, 2, 5, condMod = true)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") < 256)
    val layout = Similarity.buildIvfLayout(emb, cents,
      graft.engine.WorkDirs.runScoped("ivf_cells", dir))
    Similarity.ivfMultiProbeTopKBatchOnLayout(layout, cents,
        emb.filter(col("vec_id") % lifecycleQueryMod(s, dir, 997) === 7),
        k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** s72 — INCREMENTAL IVF index maintenance (Similarity.
    * appendToIvfLayout): the layout is built from the even half of
    * the corpus, the odd half arrives as a later ingest batch and is
    * APPENDED (same codebook, cells written in hive append mode —
    * existing cells' files untouched, cost ∝ the batch), and the
    * probe runs against the incrementally-grown layout. The oracle
    * recomputes assignment + probe over the WHOLE corpus at once:
    * an incrementally-built index must be indistinguishable from a
    * bulk build — if append re-assigned, dropped or duplicated
    * vectors, the per-query top-k would differ. 100 cells: still the
    * frame-codebook regime (> LiteralCodebookMax), but the fixture
    * writes 2×100 partition dirs, not 2×256 — the nlist-scale story
    * is s69-s71's; this query's is the APPEND semantics. */
  val s72IvfAppend: Q = Q(
    "s72_ivf_append",
    ivfBatchProbeOracleSql(100, 977, 3, 3, 4, condMod = true)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") < 100)
    val path = graft.engine.WorkDirs.runScoped("ivf_cells_inc", dir)
    Similarity.buildIvfLayout(emb.filter(col("vec_id") % 2 === 0), cents, path)
    val layout = Similarity.appendToIvfLayout(
      emb.filter(col("vec_id") % 2 === 1), cents, path)
    Similarity.ivfMultiProbeTopKBatchOnLayout(layout, cents,
        emb.filter(col("vec_id") % lifecycleQueryMod(s, dir, 977) === 3),
        k = 4, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** s73 — IVF layout COMPACTION, the third lifecycle leg
    * (Similarity.compactIvfLayout): the layout is built from one third
    * of the corpus and grown by TWO append batches — so every touched
    * cell holds up to three small files — then compacted
    * (maxFilesPerCell = 1: every fragmented cell is rewritten as one
    * file, untouched cells' directories byte-identical), and probed.
    * The oracle recomputes assignment + probe over the WHOLE corpus
    * at once: compaction must change the FILES, never the answer —
    * same contract as s72's append leg, inverted (OperatorsSpec pins
    * the file-listing halves: fragmented collapse, untouched
    * unchanged). */
  val s73IvfCompact: Q = Q(
    "s73_ivf_compact",
    ivfBatchProbeOracleSql(100, 977, 5, 3, 4, condMod = true)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") < 100)
    val path = graft.engine.WorkDirs.runScoped("ivf_cells_cpt", dir)
    Similarity.buildIvfLayout(emb.filter(col("vec_id") % 3 === 0), cents, path)
    Similarity.appendToIvfLayout(emb.filter(col("vec_id") % 3 === 1), cents, path)
    Similarity.appendToIvfLayout(emb.filter(col("vec_id") % 3 === 2), cents, path)
    val layout = Similarity.compactIvfLayout(s, path, maxFilesPerCell = 1)
    Similarity.ivfMultiProbeTopKBatchOnLayout(layout, cents,
        emb.filter(col("vec_id") % lifecycleQueryMod(s, dir, 977) === 5),
        k = 4, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** s74 — BUCKET-GROUPED IVF layout, the large-nlist storage regime
    * (Similarity.buildIvfLayoutBucketed +
    * ivfMultiProbeTopKBatchOnBucketedLayout): 256 cells grouped into
    * 16 bucket directories (cell_bucket = cell % 16 as the hive
    * partition column, exact cell kept as a sorted DATA column), so
    * the directory count is bounded at any nlist while the probe
    * still prunes — partition prune on the probed cells' buckets +
    * the cell filter PUSHED into the parquet scan where the
    * within-file sort makes it a row-group skip (PlanAuditSpec pins
    * both the bucket partition-filter metric and the pushed cell
    * filter; OperatorsSpec pins hash-identity to the unpartitioned
    * path). Oracle recomputes from the unpartitioned original —
    * layout changes the WORK, never the answer. */
  val s74IvfBucketed: Q = Q(
    "s74_ivf_bucketed",
    ivfBatchProbeOracleSql(256, 997, 13, 2, 5, condMod = true)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") < 256)
    val layout = Similarity.buildIvfLayoutBucketed(emb, cents,
      graft.engine.WorkDirs.runScoped("ivf_buckets", dir), buckets = 16)
    Similarity.ivfMultiProbeTopKBatchOnBucketedLayout(layout, cents,
        emb.filter(col("vec_id") % lifecycleQueryMod(s, dir, 997) === 13),
        k = 5, nProbe = 2, buckets = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  /** s75 — the BUCKETED layout's full maintenance lifecycle
    * (build → append → compact → probe), the bucketed twin of s73:
    * 256 cells (frame-codebook regime) grouped into 16 bucket
    * directories, grown by appending the odd half
    * (appendToIvfLayoutBucketed — scheme + modulus + fingerprint all
    * sidecar-checked), compacted (the rewrite restores the
    * within-file cell sort the probe's row-group skipping rests on),
    * probed through the bucket-pruned path. Oracle recomputes
    * assignment + probe over the whole corpus at once — grow and
    * compact must change files, never answers. */
  val s75IvfBucketedInc: Q = Q(
    "s75_ivf_bucketed_inc",
    ivfBatchProbeOracleSql(256, 991, 9, 3, 4, condMod = true)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") < 256)
    val path = graft.engine.WorkDirs.runScoped("ivf_buckets_inc", dir)
    Similarity.buildIvfLayoutBucketed(
      emb.filter(col("vec_id") % 2 === 0), cents, path, buckets = 16)
    Similarity.appendToIvfLayoutBucketed(
      emb.filter(col("vec_id") % 2 === 1), cents, path, buckets = 16)
    val layout = Similarity.compactIvfLayout(s, path, maxFilesPerCell = 1)
    Similarity.ivfMultiProbeTopKBatchOnBucketedLayout(layout, cents,
        emb.filter(col("vec_id") % lifecycleQueryMod(s, dir, 991) === 9),
        k = 4, nProbe = 3, buckets = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The s76 ORACLE: the [[ivfBatchProbeOracleSql]] probe machinery
    * (coarse argmax assignment + per-query probe ranking +
    * self-exclusion) composed with the s56/s58 PQ machinery (subspace
    * encode chain + pivoted 4-lookup ADC sum + exact-dot re-rank),
    * all recomputed from the UNPARTITIONED raw table — the layout,
    * its stored codes and its bucket pruning must change the WORK,
    * never the answer. Tie rules: shortlist (adc DESC, vec_id ASC),
    * final (score DESC, vec_id ASC) — the engine's `greatest(struct)`
    * / row_number spellings. */
  private def ivfPqLayoutOracleSql(centMax: Int, qMod: Int, qRem: Int,
      nProbe: Int, k: Int, shortlist: Int): String =
s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $centMax),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |      WHERE vec_id % ${condModSql(qMod)} = $qRem),
       |cr AS (SELECT q.qid, c.cid AS centroid_id,
       |         row_number() OVER (PARTITION BY q.qid ORDER BY ${dotSql("q.qe", "c.ce")} DESC, c.cid) AS crk
       |       FROM c CROSS JOIN q),
       |probed AS (SELECT qid, centroid_id FROM cr WHERE crk <= $nProbe),
       |sc0 AS (SELECT e.vec_id, c.cid AS centroid_id, ${dotSql("e.embedding", "c.ce")} AS score
       |        FROM embeddings e CROSS JOIN c),
       |asg AS (SELECT vec_id, centroid_id FROM (
       |          SELECT vec_id, centroid_id,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rn
       |          FROM sc0) r
       |        WHERE rn = 1),
       |${PqSql.chain("embeddings")},
       |cand AS (SELECT p.qid, cd0.vec_id, cd0.c0, cd0.c1, cd0.c2, cd0.c3
       |         FROM codes cd0
       |         JOIN asg a ON a.vec_id = cd0.vec_id
       |         JOIN probed p ON p.centroid_id = a.centroid_id
       |         WHERE cd0.vec_id <> p.qid),
       |adcs AS (SELECT cd.qid, cd.vec_id, ${PqSql.adc} AS adc
       |         FROM cand cd
       |         ${PqSql.codeJoins}
       |         JOIN q ON q.qid = cd.qid),
       |srk AS (SELECT qid, vec_id, adc,
       |          row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rk
       |        FROM adcs),
       |short AS (SELECT qid, vec_id, adc FROM srk WHERE rk <= $shortlist),
       |ex AS (SELECT sh.qid, sh.vec_id, sh.adc, ${dotSql("e.embedding", "q.qe")} AS score
       |       FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id
       |       JOIN q ON q.qid = sh.qid),
       |rk2 AS (SELECT qid, vec_id, adc, score,
       |          CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank
       |        FROM ex)
       |SELECT qid AS query_id, rank, vec_id AS neighbor_id, adc, score
       |FROM rk2 WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** s76 — IVF+PQ composed WITH the bucketed layout (the r19
    * verdict's top item — the one composition of proven parts the
    * 100-TB probe story was missing): the PQ code is STORED as a data
    * column at build (Similarity.buildIvfPqLayoutBucketed, codes
    * through the same codebook seam as s56-s58), and the probe is the
    * full production shape — bucket-pruned scan of (vec_id, cell,
    * code) with the raw embedding column never read in the
    * compressed pass (PlanAuditSpec pins the read schema), ADC map
    * lookups against the broadcast per-query tables, per-query
    * shortlist, then ONLY the shortlist pays exact dots from an
    * equally-pruned second scan and re-ranks by the true score
    * (Similarity.ivfPqRerankBatchOnBucketedLayout). 256 cells (frame
    * codebook), 16 bucket dirs. The oracle recomputes coarse probe,
    * codes, ADC and re-rank from the unpartitioned raw table;
    * OperatorsSpec additionally pins the layout path hash-identical
    * to the unpartitioned twin (ivfPqMultiProbeRerankBatch). */
  val s76IvfPqOnLayout: Q = Q(
    "s76_ivfpq_on_layout",
    ivfPqLayoutOracleSql(256, 997, 11, 2, 4, 10)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = emb.filter(col("vec_id") < 256)
    val layout = Similarity.buildIvfPqLayoutBucketed(emb, cents,
      graft.engine.WorkDirs.runScoped("ivfpq_buckets", dir),
      buckets = 16, m = 4)
    Similarity.ivfPqRerankBatchOnBucketedLayout(layout, cents,
        emb.filter(col("vec_id") % lifecycleQueryMod(s, dir, 997) === 11),
        k = 4, shortlist = 10, nProbe = 2, buckets = 16, m = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  private def lexSql(lang: String): String =
    TextAnalysis.Lexicons(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  private def ratioSql(lang: String): String =
    s"CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains(${lexSql(lang)}, x))) AS DOUBLE) / len(t) ELSE 0.0 END"

  /** t60 — text quality features (length / stopword stats). */
  val t60TextQuality: Q = Q(
    "t60_text_quality",
    s"""WITH toks AS (SELECT doc_id, length(text) AS n_chars_actual, ${tokensSql("text")} AS t FROM documents)
       |SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
       |  CASE WHEN len(t) > 0 THEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x) AS DOUBLE) / len(t) ELSE 0.0 END AS avg_token_len,
       |  ${ratioSql("en")} AS stopword_ratio
       |FROM toks ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.qualityFeatures(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** t61 — language-ID heuristic (stopword-lexicon scores + argmax). */
  val t61LangId: Q = Q(
    "t61_langid",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |sc AS (SELECT doc_id,
       |  ${ratioSql("en")} AS en_score,
       |  ${ratioSql("de")} AS de_score,
       |  ${ratioSql("es")} AS es_score
       |FROM toks)
       |SELECT doc_id, en_score, de_score, es_score,
       |  CASE WHEN greatest(en_score, de_score, es_score) < 0.02 THEN 'unknown'
       |       WHEN en_score >= de_score AND en_score >= es_score THEN 'en'
       |       WHEN de_score >= es_score THEN 'de'
       |       ELSE 'es' END AS predicted_lang
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.langId(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** t62 — token counting: whitespace, BPE-ish regex, chars/4. */
  val t62TokenStats: Q = Q(
    "t62_token_stats",
    s"""SELECT doc_id,
       |  CAST(len(${tokensSql("text")}) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(${graft.operators.TextHash.asciiLowerSql("text")}, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
       |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS subword_est
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.tokenStats(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** t63 — document fingerprint (rolling hash of normalized text). */
  val t63Fingerprint: Q = Q(
    "t63_fingerprint",
    s"""SELECT doc_id, ${polyHashSql(graft.operators.TextHash.asciiLowerSql("text"))} AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.fingerprint(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** t64 — Gopher-style repetition quality signals: distinct-token
    * ratio, most-frequent-token fraction, duplicate-2-gram fraction
    * (the per-token frequency table is a distributed (doc, token)
    * aggregation, not a per-row array scan). */
  val t64Repetition: Q = Q(
    "t64_repetition",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tc AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY doc_id, tok),
       |fr AS (SELECT doc_id, sum(n) AS n_tokens, count(*) AS n_distinct, max(n) AS top_n
       |       FROM tc GROUP BY doc_id),
       |gr AS (SELECT doc_id, greatest(len(t) - 1, 0) AS total2,
       |              len(${shinglesSql(2)}) AS distinct2 FROM toks)
       |SELECT d.doc_id,
       |  CAST(coalesce(fr.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN fr.n_tokens > 0 THEN CAST(fr.n_distinct AS DOUBLE) / fr.n_tokens ELSE 0.0 END AS distinct_token_ratio,
       |  CASE WHEN fr.n_tokens > 0 THEN CAST(fr.top_n AS DOUBLE) / fr.n_tokens ELSE 0.0 END AS top_token_fraction,
       |  CASE WHEN gr.total2 > 0 THEN 1.0 - CAST(gr.distinct2 AS DOUBLE) / gr.total2 ELSE 0.0 END AS dup_2gram_fraction
       |FROM documents d
       |LEFT JOIN fr ON d.doc_id = fr.doc_id
       |LEFT JOIN gr ON d.doc_id = gr.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.repetition(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** t65 — corpus-derived document frequency: top-20 DF terms
    * (df DESC, term ASC tie-break) broadcast back for a per-doc
    * coverage ratio — the two-pass corpus-statistic shape. */
  val t65CorpusDf: Q = Q(
    "t65_corpus_df",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
       |top AS (SELECT tok FROM dft ORDER BY df DESC, tok LIMIT 20),
       |pd AS (SELECT doc_id, count(*) AS n_tokens,
       |         sum(CASE WHEN tok IN (SELECT tok FROM top) THEN 1 ELSE 0 END) AS n_top
       |       FROM tok GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN pd.n_tokens > 0 THEN CAST(pd.n_top AS DOUBLE) / pd.n_tokens ELSE 0.0 END AS top_df_ratio
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.corpusTopDfRatio(Tables.documents(s, dir), col("doc_id"), col("text"), 20)
      .orderBy(col("doc_id"))
  }

  /** t66 — PII redaction over a deterministically PII-injected corpus
    * (the raw word-soup corpus has nothing to redact, which would
    * leave the operator untested): every doc gets an email + phone
    * appended, then the RE2-safe pattern set scrubs them. */
  val t66Redact: Q = {
    val Seq((emailP, emailR), (phoneP, phoneR)) = TextAnalysis.PiiPatterns
    Q(
      "t66_redact",
      s"""WITH pii AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-'
         |       || CAST(1000 + doc_id % 9000 AS VARCHAR) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(t, '$emailP', '$emailR', 'g'), '$phoneP', '$phoneR', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(t, '$emailP'))
         |     + len(regexp_extract_all(regexp_replace(t, '$emailP', '$emailR', 'g'), '$phoneP')) AS BIGINT) AS n_redactions
         |FROM pii ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 555-"),
          (lit(1000) + col("doc_id") % 9000).cast("string")).as("t"))
      TextAnalysis.redact(pii, col("doc_id"), col("t"))
        .orderBy(col("doc_id"))
    }
  }

  /** t67 — token-budget selection: spend a 20k-token budget on the
    * best documents first (quality = stopword ratio, doc_id
    * tiebreak). The global running total is the DISTRIBUTED two-pass
    * prefix sum (range partition + local window + broadcast offsets —
    * Prefix.runningTotal), never a single-task global window; the
    * oracle states the same selection as the naive OVER (ORDER BY)
    * form. */
  val t67TokenBudget: Q = Q(
    "t67_token_budget",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |q AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |        ${ratioSql("en")} AS quality FROM toks),
       |c AS (SELECT doc_id, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM q)
       |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
       |FROM c WHERE cum <= 20000
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val q = TextAnalysis.qualityFeatures(
        Tables.documents(s, dir), col("doc_id"), col("text"))
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio").as("quality"))
    graft.operators.Prefix.takeBudget(q,
        Seq(col("quality").desc, col("doc_id")), col("n_tokens"), 20000L)
      .select(col("doc_id"), col("n_tokens"), col("cum").as("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** t68 — TF-IDF top-3 terms per doc (rational idf — see
    * TextAnalysis.tfidfTopTerms for why log is deliberately absent). */
  val t68Tfidf: Q = Q(
    "t68_tfidf",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
       |dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
       |w AS (SELECT tf.doc_id, tf.tok,
       |        CAST(tf.tf AS DOUBLE) * (SELECT count(*) FROM documents) / dft.df AS weight
       |      FROM tf JOIN dft ON tf.tok = dft.tok),
       |rk AS (SELECT doc_id, tok, weight,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, tok) AS BIGINT) AS rank
       |       FROM w)
       |SELECT doc_id, rank, tok AS term, weight FROM rk WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
    TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), col("doc_id"), col("text"), 3)
      .orderBy(col("doc_id"), col("rank"))
  }

  /** t69 — training-mix assembly: per-language keep rates (the data
    * mixing step: en kept whole, de/es halved, fr quartered, zh
    * excluded) + a DETERMINISTIC epoch shuffle — the interleave
    * position is a salted hash of the doc id, so the global
    * permutation is reproducible across runs and engines (an
    * `orderBy(rand())` shuffle is neither); at scale the position is
    * the range-partition key, so the "shuffle" is one ordinary sort.
    * The salt decorrelates the permutation from the sampling hash. */
  val t69MixShuffle: Q = {
    val rates = Seq("en" -> 100, "de" -> 50, "es" -> 50, "fr" -> 25)
    val rateCase = rates.map { case (l, p) => s"WHEN '$l' THEN $p" }
      .mkString("CASE lang ", " ", " ELSE 0 END")
    Q(
      "t69_mix_shuffle",
      s"""SELECT doc_id, lang,
         |  ${polyHashSql("'mix-' || CAST(doc_id AS VARCHAR)")} AS mix_pos
         |FROM documents
         |WHERE ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 < $rateCase
         |ORDER BY mix_pos, doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.stratifiedHash(
          Tables.documents(s, dir), col("lang"), col("doc_id"), rates.toMap)
        .select(col("doc_id"), col("lang"),
          polyHashFast(concat(lit("mix-"), col("doc_id").cast("string"))).as("mix_pos"))
        .orderBy(col("mix_pos"), col("doc_id"))
    }
  }

  /** m71 — payload paging: one document → ordered fixed-size chunks
    * with sizes and content digests (the multipart-staging / chunk-
    * dedup unit; see Multimodal.chunkPages for the byte-based binary
    * operator — the catalogue twin chunks by CHARACTER because the
    * oracle engine cannot slice blobs; identical on this ASCII
    * corpus). */
  val m71PayloadChunks: Q = Q(
    "m71_payload_chunks",
    s"""WITH idx AS (
       |  SELECT doc_id, text,
       |    unnest(range(0, greatest(CAST(ceil(CAST(length(text) AS DOUBLE) / 64) AS BIGINT), 0))) AS i
       |  FROM documents)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(octet_length(encode(substring(text, CAST(i*64+1 AS BIGINT), 64))) AS BIGINT) AS n_bytes,
       |  md5(substring(text, CAST(i*64+1 AS BIGINT), 64)) AS chunk_md5
       |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    graft.operators.Multimodal.chunkPagesChars(
        Tables.documents(s, dir), col("doc_id"), col("text"), 64)
      .select(col("id").as("doc_id"), col("chunk_idx"),
        col("n_bytes"), col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** m74 — REAL byte-codec decode: each document is rendered into a
    * genuine binary P6 payload (header + 8x8 RGB pixels from its
    * text bytes), then `Multimodal.decodeImages` parses the file
    * format with [[graft.operators.ImageCodec]] inside mapPartitions
    * and extracts pixel features. The oracle recomputes dimensions,
    * per-channel means, and the 8x8 average hash from the same byte
    * layout — so the DECODER output (not a stand-in checksum) is
    * hash-gated. Determinism: channel means are integer-sum / 64
    * (exact in binary FP on both engines); luma and the hash are pure
    * integer arithmetic; bit 63 is masked on both sides (BIGINT
    * shift-overflow rule, as in m72). ASCII corpus ⇒ char codes =
    * payload bytes. */
  val m74ImageDecode: Q = Q(
    "m74_image_decode",
    s"""WITH px AS (
       |  SELECT doc_id, rpad(substring(text, 1, 192), 192, ' ') AS p FROM documents),
       |g AS (SELECT doc_id, p,
       |  list_transform(range(0, 64), i ->
       |    (77 * CAST(ascii(substring(p, CAST(3*i+1 AS BIGINT), 1)) AS BIGINT)
       |     + 150 * CAST(ascii(substring(p, CAST(3*i+2 AS BIGINT), 1)) AS BIGINT)
       |     + 29 * CAST(ascii(substring(p, CAST(3*i+3 AS BIGINT), 1)) AS BIGINT)) // 256) AS lum
       |  FROM px),
       |m AS (SELECT doc_id, p, lum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), lum), (a, x) -> a + x) // 64 AS mean
       |  FROM g),
       |chan AS (SELECT doc_id, lum, mean,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64),
       |    i -> CAST(ascii(substring(p, CAST(3*i+1 AS BIGINT), 1)) AS BIGINT))), (a, x) -> a + x) AS sr,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64),
       |    i -> CAST(ascii(substring(p, CAST(3*i+2 AS BIGINT), 1)) AS BIGINT))), (a, x) -> a + x) AS sg,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64),
       |    i -> CAST(ascii(substring(p, CAST(3*i+3 AS BIGINT), 1)) AS BIGINT))), (a, x) -> a + x) AS sb
       |  FROM m)
       |SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       |  CAST(sr AS DOUBLE) / 64 AS mean_r,
       |  CAST(sg AS DOUBLE) / 64 AS mean_g,
       |  CAST(sb AS DOUBLE) / 64 AS mean_b,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 63),
       |    i -> CASE WHEN lum[i+1] > mean THEN (CAST(1 AS BIGINT) << i)
       |              ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x) AS ahash63
       |FROM chan ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.{ImageCodec, Multimodal}
    val payloads = Tables.documents(s, dir).select(col("doc_id"),
      concat(lit("P6\n8 8\n255\n"),
        rpad(substring(col("text"), 1, 192), 192, " ")).cast("binary").as("payload"))
    val assets = Multimodal.toAssets(payloads, "doc_id", "payload", ImageCodec.PpmMime)
    Multimodal.decodeImages(s, assets).toDF()
      .select(col("id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        element_at(col("meanRgb"), 1).cast("double").as("mean_r"),
        element_at(col("meanRgb"), 2).cast("double").as("mean_g"),
        element_at(col("meanRgb"), 3).cast("double").as("mean_b"),
        col("ahash").bitwiseAND(lit(Long.MaxValue)).as("ahash63"))
      .orderBy(col("doc_id"))
  }

  /** m76 — patch-grid aHash (Multimodal.patchAHashes): a 16×16 P6
    * image built from document bytes splits into a 2×2 grid of 8×8
    * patches, each perceptually hashed — the regional near-dup /
    * patch-embedding prep step. On an 8×8 patch the aHash sample grid
    * degenerates to per-pixel luma ((2r+1)·8/16 = r exactly), so the
    * oracle replays ALL 64 patch pixels through the same integer
    * BT.601 luma, mean, and bit-fold, with the patch offset folded
    * into the byte position: px(i) = 3·((pr·8 + i÷8)·16 + pc·8 + i%8).
    * Same ahash63 convention as m72/m74 (bit 63 dropped — DuckDB `<<`
    * overflows signed at 63). */
  /** The m76/d69 patch-hash CTE chain over any (doc_id, text)
    * relation — one generator so the two oracles cannot drift.
    * Produces CTEs px→patches→g→mchain ending with per-(doc, pr, pc)
    * `lum` + `mean`; consumers fold ahash63 from them. */
  private def patchChainSql(table: String): String = {
    def pos(channel: Int) =
      s"CAST(3*((pr*8 + i//8)*16 + pc*8 + i%8) + $channel AS BIGINT)"
    s"""px AS (
       |  SELECT doc_id, rpad(substring(text, 1, 768), 768, ' ') AS p FROM $table),
       |patches AS (
       |  SELECT doc_id, p, pr, pc FROM px
       |  CROSS JOIN (SELECT unnest([0, 1]) AS pr)
       |  CROSS JOIN (SELECT unnest([0, 1]) AS pc)),
       |g AS (SELECT doc_id, pr, pc,
       |  list_transform(range(0, 64), i ->
       |    (77 * CAST(ascii(substring(p, ${pos(1)}, 1)) AS BIGINT)
       |     + 150 * CAST(ascii(substring(p, ${pos(2)}, 1)) AS BIGINT)
       |     + 29 * CAST(ascii(substring(p, ${pos(3)}, 1)) AS BIGINT)) // 256) AS lum
       |  FROM patches),
       |mchain AS (SELECT doc_id, pr, pc, lum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), lum), (a, x) -> a + x) // 64 AS mean
       |  FROM g)""".stripMargin
  }

  private val ahash63FoldSql: String =
    """list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 63),
      |    i -> CASE WHEN lum[i+1] > mean THEN (CAST(1 AS BIGINT) << i)
      |              ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x)""".stripMargin

  val m76PatchAhash: Q = Q(
    "m76_patch_ahash",
    s"""WITH ${patchChainSql("documents")}
       |SELECT doc_id, CAST(pr AS BIGINT) AS patch_row, CAST(pc AS BIGINT) AS patch_col,
       |  $ahash63FoldSql AS ahash63
       |FROM mchain ORDER BY doc_id, patch_row, patch_col""".stripMargin) { (s, dir) =>
    import graft.operators.{ImageCodec, Multimodal}
    val payloads = Tables.documents(s, dir).select(col("doc_id"),
      concat(lit("P6\n16 16\n255\n"),
        rpad(substring(col("text"), 1, 768), 768, " ")).cast("binary").as("payload"))
    val assets = Multimodal.toAssets(payloads, "doc_id", "payload", ImageCodec.PpmMime)
    Multimodal.patchAHashes(s, assets, grid = 2).toDF()
      .select(col("id").as("doc_id"),
        col("patch_row").cast("long"), col("patch_col").cast("long"),
        col("ahash").bitwiseAND(lit(Long.MaxValue)).as("ahash63"))
      .orderBy(col("doc_id"), col("patch_row"), col("patch_col"))
  }

  /** d69 — REGIONAL near-dup pairs: m76's patch hashes through the
    * generic hamming band join, bucketed by PATCH POSITION — two docs
    * pair where any region matches within hamming ≤ 3, even when the
    * whole images differ (the m73 whole-payload check structurally
    * misses a shared logo/border). Fixture: an ABSOLUTE 120-doc slice
    * (text-as-pixels luma is only mildly dispersive, so pair density
    * at hamming ≤ 3 is high — an absolute slice keeps the pair set
    * bounded at every scale factor), plus every 13th slice doc
    * re-ingested with ONE char changed (position 5 → patch (0,0))
    * under a shifted id — the other three patches stay byte-identical,
    * so guaranteed pairs exist at every scale. Oracle = the shared
    * patch chain over the injected corpus + the m73 banding SQL
    * shape. */
  val d69PatchNearDup: Q = Q(
    "d69_patch_neardup",
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 120
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |         substring(text, 1, 4) || 'X' || substring(text, 6, 2000000)
       |  FROM documents WHERE doc_id < 120 AND doc_id % 13 = 0 AND length(text) >= 6),
       |${patchChainSql("corpus")},
       |ah AS (SELECT doc_id, pr, pc, $ahash63FoldSql AS ahash FROM mchain),
       |bands AS (SELECT doc_id, pr, pc, ahash, b, (ahash >> (16*b)) & 65535 AS bv
       |          FROM ah CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)),
       |cand AS (SELECT l.pr, l.pc, l.doc_id AS a, r.doc_id AS b,
       |                l.ahash AS sa, r.ahash AS sb
       |         FROM bands l JOIN bands r
       |           ON l.pr = r.pr AND l.pc = r.pc
       |          AND l.b = r.b AND l.bv = r.bv AND l.doc_id < r.doc_id
       |         WHERE (l.b <= 0 OR ((l.ahash >> 0) & 65535) <> ((r.ahash >> 0) & 65535))
       |           AND (l.b <= 1 OR ((l.ahash >> 16) & 65535) <> ((r.ahash >> 16) & 65535))
       |           AND (l.b <= 2 OR ((l.ahash >> 32) & 65535) <> ((r.ahash >> 32) & 65535)))
       |SELECT CAST(pr AS BIGINT) AS patch_row, CAST(pc AS BIGINT) AS patch_col,
       |       a, b, CAST(bit_count(CAST(xor(sa, sb) AS BIGINT)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(CAST(xor(sa, sb) AS BIGINT)) <= 3
       |ORDER BY patch_row, patch_col, a, b""".stripMargin) { (s, dir) =>
    import graft.operators.{ImageCodec, Multimodal}
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 120)
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 13 === 0 && length(col("text")) >= 6)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(substring(col("text"), 1, 4), lit("X"),
            substring(col("text"), 6, 2000000)).as("text")))
    val payloads = corpus.select(col("doc_id"),
      concat(lit("P6\n16 16\n255\n"),
        rpad(substring(col("text"), 1, 768), 768, " ")).cast("binary").as("payload"))
    val assets = Multimodal.toAssets(payloads, "doc_id", "payload", ImageCodec.PpmMime)
    // hammingJoin's output is (a, b, hamming) without the bucket —
    // encode the patch cell INTO the item id (composite id·4 + cell;
    // same-bucket pairs share the cell, so it decodes from either side)
    val fps = Multimodal.patchAHashes(s, assets, grid = 2).toDF()
      .select(
        (col("id") * 4 + col("patch_row").cast("long") * 2 +
          col("patch_col").cast("long")).as("doc_id"),
        (col("patch_row").cast("long") * 2 + col("patch_col").cast("long")).as("cell"),
        graft.functions.ComputeOnce.once(
          col("ahash").bitwiseAND(lit(Long.MaxValue))).as("fp"))
    Dedup.hammingJoin(fps, bucketCols = Seq("cell"),
        bands = 4, bandBits = 16, maxHamming = 3)
      .select(expr("(a % 4) div 2").as("patch_row"), expr("a % 2").as("patch_col"),
        expr("a div 4").as("a"), expr("b div 4").as("b"), col("hamming"))
      .orderBy(col("patch_row"), col("patch_col"), col("a"), col("b"))
  }

  /** d56 — CONTAINMENT dedup (Dedup.containmentPairs): doc-inside-doc
    * pairs symmetric-Jaccard LSH structurally misses (J ≈ |A|/|B| for
    * a short doc quoted whole in a long one). Fixture: every 11th
    * doc's first-half token prefix is injected as its own doc — its
    * shingle set is a strict subset of the original's, so each
    * injected doc is contained at 1.0. Candidates come from the
    * pigeonhole prefix filter (rarest |A|−⌊t|A|⌋+1 shingles probed
    * against the full inverted index — exact recall at t); the oracle
    * restates the same filter + exact verify, so candidate-generation
    * AND verification are both hash-checked. */
  /** The containment fixture + prefix-filter + verified-pairs chain
    * shared by d56 (pairs) and d57 (apply) — one generator so the two
    * oracles cannot drift. */
  /** The pairs chain (toks→…→pairs) over whatever `corpus` CTE the
    * caller defines — shared by d56/d57 (documents + halves) and d58
    * (the chain-structured X/H/P corpus). */
  private val containmentChainCtes =
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM corpus),
       |sh AS (SELECT doc_id, ${shinglesSql(3)} AS s FROM toks),
       |hs AS (SELECT doc_id, list_transform(s, sg -> ${polyHashSql("sg")}) AS h FROM sh),
       |hd AS (SELECT doc_id, list_distinct(h) AS s FROM hs WHERE len(h) > 0),
       |post AS (SELECT doc_id, unnest(s) AS h FROM hd),
       |dfreq AS (SELECT h, count(*) AS df FROM post GROUP BY h),
       |pr AS (SELECT doc_id, h,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY df, h) AS rn,
       |    count(*) OVER (PARTITION BY doc_id) AS sz
       |  FROM post JOIN dfreq USING (h)),
       |probes AS (SELECT doc_id AS a, h FROM pr
       |  WHERE rn <= sz - floor(0.9 * sz) + 1),
       |cand AS (SELECT DISTINCT a, p.doc_id AS b
       |  FROM probes JOIN post p USING (h) WHERE a <> p.doc_id),
       |pairs AS (
       |  SELECT a, b,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / len(sa.s) AS containment
       |  FROM cand JOIN hd sa ON cand.a = sa.doc_id JOIN hd sb ON cand.b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= 0.9 * len(sa.s))""".stripMargin

  private val containmentCorpusCtes =
    s"""halves AS (
       |  SELECT doc_id + 2000000 AS doc_id,
       |    array_to_string(t[1:CAST((len(t)+1)//2 AS BIGINT)], ' ') AS text
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS t FROM documents)
       |  WHERE doc_id % 11 = 0),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM halves)""".stripMargin

  private val containmentCtes =
    s"""$containmentCorpusCtes,
       |$containmentChainCtes""".stripMargin

  /** The d56/d57 corpus on the engine side (documents + injected
    * first-half token-prefix docs). */
  private def containmentCorpus(s: SparkSession, dir: String) = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // tokens staged as an attribute: slice + size reference it, and
    // the inlined form tokenized every synthetic row twice (found by
    // the r12 project-duplication sweep)
    base.unionAll(base.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), tokens(col("text")).as("graft_t"))
      .select((col("doc_id") + 2000000).as("doc_id"),
        array_join(slice(col("graft_t"), lit(1), (size(col("graft_t")) + 1) / 2), " ")
          .as("text")))
  }

  val d56Containment: Q = Q(
    "d56_containment",
    s"""WITH $containmentCtes
       |SELECT a AS contained, b AS container, containment
       |FROM pairs ORDER BY contained, container""".stripMargin) { (s, dir) =>
    // the pairs frame is PINNED before the final orderBy: a global
    // sort's range-boundary sampling pass executes its child ONCE and
    // the shuffle executes it AGAIN — unpinned, the entire containment
    // chain (DF window, posting join, merge-scan verify) runs twice
    // per action. d57 never pays this (it pins its derived drop set);
    // pinning the pair-scale output makes the sampling pass a cached-
    // block scan, which is why this is a pin and not an operator change
    Dedup.containmentPairs(containmentCorpus(s, dir), col("doc_id"), col("text"),
        n = 3, threshold = 0.9)
      .transform(d => graft.Caches.pin(d))
      .orderBy(col("contained"), col("container"))
  }

  /** d57 — containment dedup APPLIED (Dedup.dropContained): contained
    * docs drop, containers survive, mutual containment keeps the
    * smaller id (the exact-dedup canonical-row rule). The oracle is
    * d56's pairs chain + the same set algebra as NOT IN / EXISTS. */
  val d57DropContained: Q = Q(
    "d57_drop_contained",
    s"""WITH $containmentCtes,
       |dropped AS (SELECT DISTINCT a FROM pairs p
       |  WHERE NOT (p.a < p.b AND EXISTS (
       |    SELECT 1 FROM pairs q WHERE q.a = p.b AND q.b = p.a)))
       |SELECT c.doc_id FROM corpus c
       |WHERE c.doc_id NOT IN (SELECT a FROM dropped)
       |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    Dedup.dropContained(containmentCorpus(s, dir), col("doc_id"), col("text"),
        n = 3, threshold = 0.9)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The d58 corpus: per selected base doc (≥ 20 tokens), three
    * variants engineered into a containment CHAIN at t = 0.9 —
    * X = first 20 tokens, H = first 14 tokens + a doc-unique junk
    * token (containment in X ≈ 12/13), P = tokens 8..14 + the same
    * junk token (containment in H = 1.0, in X ≈ 5/6 < 0.9). So
    * P ⊂ H ⊂ X with NO P→X edge — the exact shape where the greedy
    * drop rule (d57) discards both P and H while the survivor-aware
    * rule must keep P (its only container H is itself dropped). */
  private def containmentChainCorpus(s: SparkSession, dir: String) = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(col("doc_id") % 7 === 0 && size(col("t")) >= 20)
    val junk = concat(lit("zzj"), col("doc_id").cast("string"))
    base.select(col("doc_id"), array_join(slice(col("t"), 1, 20), " ").as("text"))
      .unionAll(base.select((col("doc_id") + 1000000).as("doc_id"),
        concat(array_join(slice(col("t"), 1, 14), " "), lit(" "), junk).as("text")))
      .unionAll(base.select((col("doc_id") + 2000000).as("doc_id"),
        concat(array_join(slice(col("t"), 8, 7), " "), lit(" "), junk).as("text")))
  }

  /** d58 — SURVIVOR-AWARE containment dedup (Dedup
    * .dropContainedMinimal): drop a doc only if a container of it
    * SURVIVES — the minimal-drop closure the greedy d57 rule
    * documents as its caveat. The oracle expresses the same layer
    * peeling as unrolled rounds of plain CTEs (kept = sinks, dropped
    * = contained-in-kept, resolved nodes leave the edge set): 6
    * rounds bounds the fixture's chain depth (X/H/P gives depth 2;
    * base-doc cross-containments can add a couple more), and BOTH
    * sides keep any cyclic remainder, so the round bound is the only
    * divergence risk and the hash compare would catch it. At sf0.001
    * the edge set is 128 pairs, far under the broadcast threshold, so
    * the engine side peels on the driver (3 Spark executions while the
    * query is built); the distributed loop, same rounds and same cycle
    * rule, takes over only for edge sets that do not fit. */
  val d58ContainmentMinimal: Q = Q(
    "d58_containment_minimal", {
      val rounds = 6
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
      // reference, so an unrolled iteration would expand the previous
      // round's subtree exponentially (observed as thousands of
      // re-opens of the same parquet file). Materializing each
      // round's frames keeps the oracle linear in the round count.
      val peel = (0 until rounds).map { r =>
        s"""kept$r AS MATERIALIZED (SELECT DISTINCT p AS id FROM rem$r
           |  WHERE p NOT IN (SELECT c FROM rem$r)),
           |drop$r AS MATERIALIZED (SELECT DISTINCT c AS id FROM rem$r
           |  JOIN kept$r ON rem$r.p = kept$r.id),
           |res$r AS MATERIALIZED (SELECT id FROM kept$r UNION SELECT id FROM drop$r),
           |rem${r + 1} AS MATERIALIZED (SELECT c, p FROM rem$r
           |  WHERE c NOT IN (SELECT id FROM res$r)
           |    AND p NOT IN (SELECT id FROM res$r))""".stripMargin
      }.mkString(",\n")
      val dropsAll = (0 until rounds)
        .map(r => s"SELECT id FROM drop$r").mkString(" UNION ")
      s"""WITH base58 AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
         |cands58 AS MATERIALIZED (SELECT doc_id, t FROM base58
         |  WHERE doc_id % 7 = 0 AND len(t) >= 20),
         |corpus AS MATERIALIZED (
         |  SELECT doc_id, array_to_string(t[1:20], ' ') AS text FROM cands58
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    array_to_string(t[1:14], ' ') || ' zzj' || CAST(doc_id AS VARCHAR)
         |  FROM cands58
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |    array_to_string(t[8:14], ' ') || ' zzj' || CAST(doc_id AS VARCHAR)
         |  FROM cands58),
         |$containmentChainCtes,
         |edges AS (
         |  SELECT CASE WHEN has_fwd AND NOT has_rev THEN lo ELSE hi END AS c,
         |         CASE WHEN has_fwd AND NOT has_rev THEN hi ELSE lo END AS p
         |  FROM (SELECT least(a, b) AS lo, greatest(a, b) AS hi,
         |          bool_or(a < b) AS has_fwd, bool_or(a > b) AS has_rev
         |        FROM pairs GROUP BY 1, 2)),
         |rem0 AS MATERIALIZED (SELECT c, p FROM edges),
         |$peel,
         |dropped AS ($dropsAll)
         |SELECT cr.doc_id FROM corpus cr
         |WHERE cr.doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY cr.doc_id""".stripMargin
    }) { (s, dir) =>
    // the id-narrow survivor frame is PINNED before the global sort
    // (the d56 rule): the sort's range-sampling pass executes its
    // child once and the shuffle again — unpinned, the anti-join's
    // corpus side (the tokenize+slice chain-corpus build) runs twice
    // per action
    Dedup.dropContainedMinimal(containmentChainCorpus(s, dir),
        col("doc_id"), col("text"), n = 3, threshold = 0.9)
      .select(col("doc_id"))
      .transform(d => graft.Caches.pin(d))
      .orderBy(col("doc_id"))
  }

  /** d59 — cross-document repeated-span detection (the sliding-window
    * form of Lee-et-al exact-substring dedup — Dedup.repeatedSpans):
    * every 4-token window repeating an earlier corpus occurrence is
    * duplicated; overlapping/adjacent duplicated windows merge into
    * maximal spans per doc. The oracle takes the INDEPENDENT window
    * formulation (row_number over the span hash — occ > 1 exactly
    * complements the engine's min(struct) global first), then the
    * same interval-merge algebra as running-max-end islands. Span
    * width 4 fits the word-soup fixture's duplicate density (~6% of
    * windows repeat at sf0.01). */
  /** The d59/d60 oracle CTE chain: 4-token windows → span hash →
    * global-first rank → duplicated starts → interval merge (the
    * INDEPENDENT row_number formulation of the engine's min(struct)
    * rule). Ends with `grp` = one row per maximal merged span. */
  private def repeatedSpanCtesOver(table: String, p: String = ""): String =
    s"""${p}toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM $table),
       |${p}idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 0) + 1)) AS i FROM ${p}toks),
       |${p}wins AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
       |           array_to_string(t[i : i + 3], ' ') AS s FROM ${p}idx),
       |${p}hs AS (SELECT doc_id, start, ${polyHashSql("s")} AS h FROM ${p}wins),
       |${p}occ AS (SELECT doc_id, start,
       |          row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS occ
       |        FROM ${p}hs),
       |${p}dup AS (SELECT doc_id, start FROM ${p}occ WHERE occ > 1),
       |${p}m AS (SELECT doc_id, start,
       |        max(start + 3) OVER (PARTITION BY doc_id ORDER BY start
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |      FROM ${p}dup),
       |${p}sp AS (SELECT doc_id, start,
       |         sum(CASE WHEN prev_end IS NULL OR start > prev_end + 1
       |             THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY start) AS span_id
       |       FROM ${p}m),
       |${p}grp AS (SELECT doc_id, span_id, min(start) AS s0, max(start) + 3 AS e0,
       |          count(*) AS nw
       |        FROM ${p}sp GROUP BY doc_id, span_id)""".stripMargin

  /** The d59/d60 chain over the plain corpus (unprefixed names). */
  private val repeatedSpanCtes = repeatedSpanCtesOver("documents")

  val d59RepeatedSpans: Q = Q(
    "d59_repeated_spans",
    s"""WITH $repeatedSpanCtes
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(nw) AS BIGINT) AS n_dup_windows,
       |  CAST(sum(e0 - s0 + 1) AS BIGINT) AS dup_tokens,
       |  CAST(max(e0 - s0 + 1) AS BIGINT) AS longest_span
       |FROM grp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.repeatedSpans(Tables.documents(s, dir), col("doc_id"), col("text"),
        spanTokens = 4)
      .orderBy(col("doc_id"))
  }

  /** d61 — approximate containment SCREEN (Dedup.containmentScreen):
    * Broder-style directional estimate from the minhash signatures
    * plus exact distinct-shingle sizes, over LSH-banded candidates of
    * the d56 corpus (injected half-docs guarantee real containments).
    * Estimator — NOT the exact path (that's d56); the oracle replays
    * signature agreement, the Ĵ→Ĉ algebra, and the size tie rule. */
  val d61ContainmentScreen: Q = Q(
    "d61_containment_screen",
    s"""WITH $containmentCorpusCtes,
       |${sigCtesOver("corpus")},
       |$bbCte,
       |hd AS (SELECT doc_id, len(list_distinct(h)) AS sz FROM hs),
       |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |         FROM bb l JOIN bb r
       |           ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
       |jj AS (SELECT cand.a, cand.b,
       |    CAST(list_sum(list_transform(range(1, 9),
       |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 8 AS j
       |  FROM cand JOIN sig sa ON cand.a = sa.doc_id
       |            JOIN sig sb ON cand.b = sb.doc_id),
       |est AS (SELECT
       |    CASE WHEN za.sz <= zb.sz THEN a ELSE b END AS contained,
       |    CASE WHEN za.sz <= zb.sz THEN b ELSE a END AS container,
       |    (j * CAST(za.sz + zb.sz AS DOUBLE))
       |      / ((1.0 + j) * CAST(least(za.sz, zb.sz) AS DOUBLE)) AS est_containment
       |  FROM jj JOIN hd za ON jj.a = za.doc_id JOIN hd zb ON jj.b = zb.doc_id)
       |SELECT contained, container, est_containment FROM est
       |WHERE est_containment >= 0.5
       |ORDER BY contained, container""".stripMargin) { (s, dir) =>
    Dedup.containmentScreen(containmentCorpus(s, dir), col("doc_id"), col("text"),
        threshold = 0.5)
      .orderBy(col("contained"), col("container"))
  }

  /** d62 — content-defined chunking (the graft.functions.CdcChunks
    * native kernel): Rabin/FastCDC-style boundaries where the rolling
    * 8-char window hash has its low 6 bits zero (expected chunk ≈ 64
    * chars) — the insertion-stable chunk identity payload dedup needs
    * (fixed-size chunking shifts EVERY later chunk after one edit).
    * One output row per chunk. The oracle is the relational twin:
    * per-position substring hashes, boundary flags, running-count
    * chunk ids — the kernel's rolling arithmetic must reproduce it
    * bit-for-bit. Plus cross-doc chunk dedup over the chunk hash:
    * n_dups = occurrences of this chunk's content seen earlier. */
  /** The d62/d63 oracle CTE chain: per-position window hashes →
    * boundary flags → running-count chunk ids → chunk table with
    * content hash and text → global-first rank (`occ`). */
  private val cdcCtes =
    s"""cpos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS p
       |            FROM documents),
       |bnd AS (SELECT doc_id, p,
       |    CASE WHEN p >= 8 AND (${polyHashSql("substring(text, p - 7, 8)")} & 63) = 0
       |         THEN 1 ELSE 0 END AS b
       |  FROM cpos),
       |cid AS (SELECT doc_id, p,
       |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
       |  FROM bnd),
       |chunks AS (SELECT doc_id, chunk_idx,
       |    CAST(min(p) AS BIGINT) AS start, CAST(count(*) AS BIGINT) AS len
       |  FROM cid GROUP BY doc_id, chunk_idx),
       |hashed AS (SELECT c.doc_id, CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
       |    c.start, c.len,
       |    substring(d.text, CAST(c.start AS INTEGER), CAST(c.len AS INTEGER)) AS cstr,
       |    ${polyHashSql("substring(d.text, CAST(c.start AS INTEGER), CAST(c.len AS INTEGER))")} AS chash
       |  FROM chunks c JOIN documents d ON c.doc_id = d.doc_id),
       |ranked AS (SELECT doc_id, chunk_idx, start, len, cstr, chash,
       |    row_number() OVER (PARTITION BY chash ORDER BY doc_id, chunk_idx) AS occ
       |  FROM hashed)""".stripMargin

  val d62CdcChunks: Q = Q(
    "d62_cdc_chunks",
    s"""WITH $cdcCtes
       |SELECT doc_id, chunk_idx, start, len, chash,
       |  CAST(CASE WHEN occ = 1 THEN 0 ELSE 1 END AS BIGINT) AS dup
       |FROM ranked ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.CdcChunks.cdcChunks(col("text"), 8, 64L)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.start").as("start"), col("col.len").as("len"),
        col("col.chash").as("chash"))
    // first occurrence per chunk hash as a min(struct) AGGREGATION —
    // a row_number window over chash would funnel a viral chunk (the
    // boilerplate-footer case) through one task; same skew argument
    // as segmentDedup/repeatedSpans. The oracle keeps the window
    // formulation as the independent twin.
    val firsts = chunks.groupBy(col("chash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
    chunks.join(firsts, "chash")
      .select(col("doc_id"), col("chunk_idx"), col("start"), col("len"),
        col("chash"),
        when(col("doc_id") === col("f.doc_id") &&
          col("chunk_idx") === col("f.chunk_idx"), 0L).otherwise(1L).as("dup"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** d63 — CDC chunk dedup APPLIED: documents rebuilt from only the
    * globally-first occurrence of each chunk's content — the payload
    * analog of d60's token-span cut, at content-defined boundaries
    * (so a shared boilerplate run disappears from every doc but its
    * first regardless of its offset). Rebuild order is made
    * deterministic by sorting the collected (chunk_idx, text) structs
    * — never the collect_list arrival order. */
  val d63CdcApply: Q = Q(
    "d63_cdc_apply",
    s"""WITH $cdcCtes
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  string_agg(CASE WHEN occ = 1 THEN cstr ELSE '' END, '' ORDER BY chunk_idx) AS cleaned_text
       |FROM ranked GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.dropDupChunks(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** d60 — repeated-span dedup APPLIED (Dedup.dropSpans): tokens
    * covered by a merged duplicated span are cut and the document
    * re-emitted from its survivors; first occurrences survive, so
    * the corpus keeps exactly one copy of every duplicated run. The
    * oracle re-derives the spans via the independent CTE chain, then
    * anti-ranges each token position against them. */
  val d60DropSpans: Q = Q(
    "d60_drop_spans",
    s"""WITH $repeatedSpanCtes,
       |tokpos AS (SELECT doc_id, unnest(t) AS tok,
       |             CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS pos
       |           FROM toks),
       |kept AS (SELECT p.doc_id, p.tok, p.pos FROM tokpos p
       |         WHERE NOT EXISTS (SELECT 1 FROM grp g
       |           WHERE g.doc_id = p.doc_id AND p.pos BETWEEN g.s0 AND g.e0)),
       |keptagg AS (SELECT doc_id, count(*) AS n_kept,
       |              string_agg(tok, ' ' ORDER BY pos) AS cleaned
       |            FROM kept GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.t) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  coalesce(k.cleaned, '') AS cleaned_text
       |FROM toks t LEFT JOIN keptagg k USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    Dedup.dropSpans(Tables.documents(s, dir), col("doc_id"), col("text"),
        spanTokens = 4)
      .orderBy(col("doc_id"))
  }

  /** m75 — REAL audio-codec decode: each document becomes a genuine
    * RIFF/WAVE payload (canonical 44-byte PCM header + its first 128
    * text bytes as unsigned 8-bit samples), then
    * `Multimodal.decodeAudio` WALKS THE CONTAINER with
    * [[graft.operators.AudioCodec]] — magic check, chunk scan, fmt
    * parse, sample extraction — and emits clip features. The oracle
    * recomputes every output from the same byte layout: format fields
    * as the header constants the parser must recover, amplitude stats
    * over the char codes, and mean-crossings via the exact integer
    * cross-multiplication (s·n vs Σs) both sides use — no float enters
    * any comparison; mean_amp divides by 128 (a power of two, exact in
    * binary FP). ASCII corpus ⇒ char codes = sample bytes. */
  val m75AudioDecode: Q = Q(
    "m75_audio_decode",
    s"""WITH pw AS (
       |  SELECT doc_id, rpad(substring(text, 1, 128), 128, ' ') AS p FROM documents),
       |cs AS (SELECT doc_id, list_transform(range(1, 129),
       |    i -> CAST(ascii(substring(p, CAST(i AS BIGINT), 1)) AS BIGINT)) AS a
       |  FROM pw),
       |st AS (SELECT doc_id, a,
       |    list_reduce(a, (x, y) -> x + y) AS s,
       |    list_reduce(a, (x, y) -> greatest(x, y)) AS peak
       |  FROM cs)
       |SELECT doc_id,
       |  CAST(8000 AS BIGINT) AS sample_rate,
       |  CAST(1 AS BIGINT) AS channels,
       |  CAST(8 AS BIGINT) AS bits,
       |  CAST(128 AS BIGINT) AS n_samples,
       |  CAST(16 AS BIGINT) AS duration_ms,
       |  CAST(s AS DOUBLE) / 128 AS mean_amp,
       |  peak AS peak_amp,
       |  CAST(len(list_filter(range(1, 128), i ->
       |    ((a[i]*128 - s) > 0 AND (a[i+1]*128 - s) < 0) OR
       |    ((a[i]*128 - s) < 0 AND (a[i+1]*128 - s) > 0))) AS BIGINT) AS mean_crossings
       |FROM st ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.{AudioCodec, Multimodal}
    val payloads = Tables.documents(s, dir).select(col("doc_id"),
      concat(lit(AudioCodec.wavHeader(8000, 1, 8, 128)),
        rpad(substring(col("text"), 1, 128), 128, " ").cast("binary")).as("payload"))
    val assets = Multimodal.toAssets(payloads, "doc_id", "payload", AudioCodec.WavMime)
    Multimodal.decodeAudio(s, assets).toDF()
      .select(col("id").as("doc_id"),
        col("sampleRate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("bitsPerSample").cast("long").as("bits"),
        col("nSamples").as("n_samples"),
        col("durationMs").as("duration_ms"),
        col("meanAmp").as("mean_amp"),
        col("peakAmp").as("peak_amp"),
        col("meanCrossings").as("mean_crossings"))
      .orderBy(col("doc_id"))
  }

  /** m70 — multimodal metadata path: payload treated as opaque bytes;
    * metadata-only projection (byte size + stable content id) reads no
    * payload at scan time thanks to column pruning. */
  val m70MultimodalMeta: Q = Q(
    "m70_multimodal_meta",
    s"""SELECT doc_id,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  ${polyHashSql("text")} % 997 AS content_bucket
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        (polyHashFast(col("text")) % 997).as("content_bucket"))
      .orderBy(col("doc_id"))
  }

  /** m72 — perceptual average-hash (aHash) of the payload head: bit i
    * set iff byte i exceeds the head's mean byte — the classic image
    * near-dup fingerprint shape applied to the opaque payload column
    * (a real deployment runs it on decoded pixels; the byte-level form
    * exercises the identical dataflow). Integer-exact: the mean
    * compare is cross-multiplied (code·n > Σ codes), so no division
    * appears anywhere. 63 bits, not 64: bit 63 would need 1<<63,
    * which overflows signed BIGINT (the oracle engine checks shift
    * overflow; a negative fingerprint would also sort differently). */
  /** Shared DuckDB aHash CTEs — `ah(doc_id, lang, source, ahash)`;
    * ONE copy feeds m72 (fingerprints) and m73 (hamming join) so the
    * fingerprint definition cannot drift between them. */
  private val ahashCtes =
    """head AS (
      |  SELECT doc_id, lang, source, substring(text, 1, 63) AS h64,
      |         length(substring(text, 1, 63)) AS n
      |  FROM documents),
      |astage AS (SELECT doc_id, lang, source, h64, n,
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(1, n+1), i -> CAST(ascii(substring(h64, i, 1)) AS BIGINT))),
      |          (acc, x) -> acc + x) AS tot
      |      FROM head),
      |ah AS (SELECT doc_id, lang, source,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, n+1), i ->
      |      CASE WHEN CAST(ascii(substring(h64, i, 1)) AS BIGINT) * n > tot
      |           THEN (CAST(1 AS BIGINT) << (i-1)) ELSE CAST(0 AS BIGINT) END)),
      |    (acc, x) -> acc + x) AS ahash
      |FROM astage)""".stripMargin

  /** Shared Spark-side aHash frame: (doc_id, lang, source, ahash) —
    * the engine twin of `ahashCtes`, one definition for m72/m73. */
  private def ahashFrame(s: SparkSession, dir: String) =
    // staged columns (h64/n/tot) as attributes: HOFs are interpreted,
    // inlining would re-walk the string per consumer. The n = 0 guard
    // follows the repo convention (TextHash.shingles): Spark's
    // sequence(1, 0) is the DESCENDING [1, 0], not empty like DuckDB's
    // range(1, 1) — today both branches happen to fold to 0 on an
    // empty string, but the guard keeps that from being a coincidence
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, 63).as("h64"))
      .select(col("doc_id"), col("lang"), col("source"), col("h64"),
        length(col("h64")).cast("long").as("n"))
      .select(col("doc_id"), col("lang"), col("source"), col("h64"), col("n"),
        // ComputeOnce: tot is referenced ONCE by the ahash fold, which
        // licenses CollapseProject to inline this 63-step fold into the
        // fold BODY — evaluated per ITERATION, turning O(n) per row
        // into O(n²) (measured 7 s on m73's cache build; the round-1
        // staged-HOF lesson in its sneakiest form)
        graft.functions.ComputeOnce.once(
          expr("""if(n > 0, aggregate(sequence(1, CAST(n AS INT)), 0L,
                  |  (acc, i) -> acc + CAST(ascii(substring(h64, i, 1)) AS BIGINT)), 0L)""".stripMargin))
          .as("tot"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("""if(n > 0, aggregate(sequence(1, CAST(n AS INT)), 0L,
                |  (acc, i) -> acc + CASE WHEN CAST(ascii(substring(h64, i, 1)) AS BIGINT) * n > tot
                |                         THEN shiftleft(CAST(1 AS BIGINT), i-1) ELSE 0L END), 0L)""".stripMargin)
          .as("ahash"))

  val m72PayloadAhash: Q = Q(
    "m72_payload_ahash",
    s"""WITH $ahashCtes
       |SELECT doc_id, ahash FROM ah ORDER BY doc_id""".stripMargin) { (s, dir) =>
    ahashFrame(s, dir)
      .select(col("doc_id"), col("ahash"))
      .orderBy(col("doc_id"))
  }

  /** m73 — multimodal payload NEAR-DUP: aHash fingerprints (m72's
    * definition, shared fragment) hamming-joined via 16-bit bit-slice
    * banding within (lang, source) blocks — Dedup.hammingJoin, the
    * same banding engine as the SimHash text join, over the payload
    * fingerprint instead (perceptual image dedup shape: aHash within
    * hamming ≤ 2 = same image up to small perturbations). */
  val m73PayloadNearDup: Q = Q(
    "m73_payload_neardup",
    s"""WITH $ahashCtes,
       |bands AS (SELECT lang, source, doc_id, ahash, b, (ahash >> (16*b)) & 65535 AS bv
       |          FROM ah CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
       |cand AS (SELECT l.doc_id AS a, r.doc_id AS b, l.ahash AS sa, r.ahash AS sb
       |         FROM bands l JOIN bands r
       |           ON l.lang = r.lang AND l.source = r.source
       |          AND l.b = r.b AND l.bv = r.bv AND l.doc_id < r.doc_id
       |         WHERE (l.b <= 0 OR ((l.ahash >> 0) & 65535) <> ((r.ahash >> 0) & 65535))
       |           AND (l.b <= 1 OR ((l.ahash >> 16) & 65535) <> ((r.ahash >> 16) & 65535))
       |           AND (l.b <= 2 OR ((l.ahash >> 32) & 65535) <> ((r.ahash >> 32) & 65535)))
       |SELECT a, b, CAST(bit_count(CAST(xor(sa, sb) AS BIGINT)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(CAST(xor(sa, sb) AS BIGINT)) <= 2
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    // ComputeOnce barrier on the fingerprint: the band derivation
    // reads fp 9 times (4 band structs + the carried column + the
    // first-band rechecks), and CollapseProject would inline the
    // 63-iteration interpreted fold into every one of them (measured
    // 7.2 s → the d52 disease). The barrier pins one evaluation per
    // row; band exprs then read the materialized attribute.
    Dedup.hammingJoin(
        ahashFrame(s, dir).select(col("lang"), col("source"), col("doc_id"),
          graft.functions.ComputeOnce.once(col("ahash")).as("fp")),
        bucketCols = Seq("lang", "source"), bands = 4, bandBits = 16,
        maxHamming = 2)
      .orderBy(col("a"), col("b"))
  }

  /** s54 — ANN quality measured IN the engine: recall@3 of the IVF
    * probe against the exact brute-force baseline (the two pipelines
    * s50/s51 joined on (query, neighbor)). One row; the number that
    * decides whether an index layout is usable. */
  val s54AnnRecall: Q = Q(
    "s54_ann_recall",
    s"""WITH $annQueryCte,
       |${annTopCtes("b", annBruteJoin)},
       |${annTopCtes("i", annIvfJoin)},
       |tb AS (SELECT query_id, neighbor_id FROM brk WHERE rank <= 3),
       |ti AS (SELECT query_id, neighbor_id FROM irk WHERE rank <= 3)
       |SELECT CAST(count(ti.neighbor_id) AS BIGINT) AS hits,
       |       CAST(count(*) AS BIGINT) AS total,
       |       CAST(count(ti.neighbor_id) AS DOUBLE) / NULLIF(count(*), 0) AS recall
       |FROM tb LEFT JOIN ti ON tb.query_id = ti.query_id AND tb.neighbor_id = ti.neighbor_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, queries, 3)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Similarity.ivfTopK(emb, queries, 3)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
      // an empty corpus leaves total = 0 in this GLOBAL aggregate's
      // one row — ANSI division throws where the lazy when/NULLIF
      // pair yields null on both legs (the r15 empty-corpus sweep)
      .agg(count(col("hit")).as("hits"), count(lit(1)).as("total"),
        when(count(lit(1)) > 0,
          count(col("hit")).cast("double") / count(lit(1))).as("recall"))
  }

  /** d45 — pluggable-kernel MinHash: the same signature operator over
    * an INDEPENDENT second hash family (base 131, fused
    * TokenShingleHashes kernel — see Dedup.minhashSignaturesFast for
    * the one-line xxhash64 swap you'd make at real 100 TB scale).
    * Oracle-gated since round 10: the portable family lets DuckDB
    * replay the full exploded signature (the q36/t90 portable-sketch
    * template applied to banding); CatalogueSpec's recall gate stays
    * as the second, semantic check. */
  val d45MinhashFast: Q = Q(
    "d45_minhash_fast",
    s"""WITH ${sigCtesOver("documents", base = Dedup.FastHashBase)}
       |SELECT doc_id, CAST(i AS BIGINT) AS hash_idx, sig[i+1] AS minhash
       |FROM sig CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS i)
       |ORDER BY doc_id, hash_idx""".stripMargin) { (s, dir) =>
    // posexplode_outer: a plain Generate gets an inferred size()>0
    // filter pushed below the staged projections (recomputing the
    // signature chain); sig is always length k so outer is identical
    Dedup.minhashSignaturesFast(Tables.documents(s, dir), col("doc_id"), col("text"))
      .select(col("doc_id"), posexplode_outer(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("hash_idx"), col("col").as("minhash"))
      .orderBy(col("doc_id"), col("hash_idx"))
  }

  /** d46 — SRP-LSH sketches: 16 sign-of-projection bits per embedding
    * against fixed pseudo-random hyperplanes — the bucketing key for
    * pairwise-free embedding near-dup candidate generation (the
    * embedding analog of MinHash banding). */
  val d46SrpSketch: Q = {
    val bitTerms = (0 until 16).map { j =>
      val h = graft.operators.Similarity.hyperplane(j, 64)
        .map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ($h)[i])),
         |  (acc, x) -> acc + x) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin
    }.mkString(" + ")
    Q(
      "d46_srp_sketch",
      s"""SELECT vec_id, $bitTerms AS sketch
         |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
      // slice to the hyperplane dim like the oracle's range(1, 65)
      // truncates: a longer embedding would otherwise null the native
      // dot (length mismatch) and zero the sketch on one side only
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.operators.Similarity.srpSketch(
            slice(col("embedding"), 1, 64)).as("sketch"))
        .orderBy(col("vec_id"))
    }
  }

  /** d47 — character-4-gram Jaccard near-dups with (lang, source)
    * blocking (pair cost bounded by bucket sizes, never O(n²)). */
  val d47CharNgramDedup: Q = Q(
    "d47_char_ngram_dedup",
    s"""WITH sh AS (SELECT lang, source, doc_id,
       |  list_distinct(list_transform(
       |    list_transform(range(1, greatest(length(text)-3,0)+1), i -> substring(text, i, 4)),
       |    sg -> ${polyHashSql("sg")})) AS s
       |  FROM documents)
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)/(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
       |FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)/(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.charNgramNearDups(Tables.documents(s, dir), col("doc_id"), col("text"),
        bucketCols = Seq("lang", "source"), n = 4, threshold = 0.8)
      .orderBy(col("a"), col("b"))
  }

  /** Winnowing CTE chain (k=4-gram hashes → per-window rightmost-min
    * selection), shared by d64/d65 — the relational twin of the O(n)
    * WinnowPositions deque kernel: every w-window ranks its positions
    * by (hash ASC, pos DESC) and keeps rank 1; DISTINCT collapses
    * consecutive windows agreeing on a position. The outer lambda
    * variable must not be `i` — polyHashSql's inner fold binds `i`
    * and would shadow it. */
  private def winnowCtes(k: Int, w: Int): String =
    s"""wh AS (SELECT doc_id,
       |    list_transform(range(1, greatest(length(text)-${k - 1}, 0)+1),
       |      p -> ${polyHashSql(s"substring(text, p, $k)")}) AS hs
       |  FROM documents),
       |wph AS (SELECT doc_id, CAST(unnest(range(1, len(hs)+1)) AS BIGINT) AS i,
       |          unnest(hs) AS hv
       |        FROM wh WHERE len(hs) > 0),
       |wwin AS (SELECT doc_id, unnest(range(1, greatest(len(hs)-$w, 0)+2)) AS j
       |         FROM wh WHERE len(hs) > 0),
       |wsel AS (SELECT w.doc_id, w.j, p.i, p.hv,
       |           row_number() OVER (PARTITION BY w.doc_id, w.j
       |             ORDER BY p.hv ASC, p.i DESC) AS rn
       |         FROM wwin w JOIN wph p
       |           ON p.doc_id = w.doc_id AND p.i >= w.j AND p.i < w.j + $w),
       |wfp AS (SELECT DISTINCT doc_id, i AS pos, CAST(hv AS BIGINT) AS fp
       |        FROM wsel WHERE rn = 1)""".stripMargin

  /** d64 — winnowed fingerprint index (TextAnalysis.winnowIndex; the
    * MOSS selection): one row per selected (position, k-gram hash).
    * Engine = two native O(n) kernels in the scan stage; oracle = the
    * positions×windows relational unroll above — same selection rule,
    * opposite cost shape. */
  val d64Winnowing: Q = Q(
    "d64_winnowing",
    s"""WITH ${winnowCtes(4, 8)}
       |SELECT doc_id, pos, fp FROM wfp
       |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
    // ordered = true: the (doc_id, pos) order comes from sorting the
    // compact pre-explode frame by doc_id (positions are emitted
    // ascending within each doc) — no index-row-scale global sort
    TextAnalysis.winnowIndex(Tables.documents(s, dir), col("doc_id"), col("text"),
        k = 4, w = 8, ordered = true)
  }

  /** d65 — local-overlap pairs by shared winnowed fingerprints
    * (Dedup.fingerprintOverlapPairs): docs sharing ≥ 2 distinct
    * fingerprint hashes pair, fingerprints in > 8 docs are dropped
    * (MOSS's too-common rule — and the self-join's skew cap: per-key
    * fan-out ≤ maxDf²). Winnowing's guarantee makes this the LOCAL
    * overlap detector — a copied ≥ w+k−1-char run always leaves a
    * shared fingerprint, however different the rest of the docs.
    * k = 20 (not d64's dense 4): detection fingerprints must be
    * doc-discriminative — at k=4 every selected hash is a common
    * English 4-gram, its DF blows the cap, and the pair set is empty
    * (measured); at k=20 a shared fingerprint means a verbatim
    * ≥ 27-char run. */
  val d65FpOverlap: Q = Q(
    "d65_fp_overlap",
    s"""WITH ${winnowCtes(20, 8)},
       |fpd AS (SELECT DISTINCT doc_id, fp FROM wfp),
       |keep AS (SELECT fp FROM fpd GROUP BY fp
       |         HAVING count(*) >= 2 AND count(*) <= 8),
       |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
       |       FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |       JOIN keep k ON k.fp = a.fp
       |       GROUP BY a.doc_id, b.doc_id
       |       HAVING count(*) >= 2)
       |SELECT a, b, CAST(shared AS BIGINT) AS shared FROM pr
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.fingerprintOverlapPairs(Tables.documents(s, dir), col("doc_id"),
        col("text"), k = 20, w = 8, minShared = 2, maxDf = 8)
      .orderBy(col("a"), col("b"))
  }

  /** d49 — duplicate CLUSTERS: the near-dup pairs closed into
    * connected components (distributed min-label propagation; see
    * Dedup.connectedComponents), cluster_id = canonical min doc_id.
    * Every doc appears — singletons cluster with themselves. The
    * oracle computes the same components via a recursive-CTE
    * transitive closure: two independent algorithms, same fixpoint. */
  val d49DedupClusters: Q = Q(
    "d49_dedup_clusters",
    s"""WITH RECURSIVE $pairsCtes,
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(src, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node)
       |SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY src
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.8)
      .select(col("a"), col("b"))
    Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** d54 — the SAME cluster closure as d49, computed by the
    * large-star/small-star edge-rewiring algorithm
    * (Dedup.starComponents, Kiveris et al. 2014) instead of min-label
    * propagation: rounds = O(log² n) instead of graph diameter, the
    * 100 TB path for DEEP unblocked dup chains. Oracle: the identical
    * recursive-CTE transitive closure — three independent algorithms
    * (propagation, star rewiring, recursive SQL), one fixpoint. */
  val d54StarClusters: Q = Q(
    "d54_star_clusters",
    s"""WITH RECURSIVE $pairsCtes,
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(src, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node)
       |SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY src
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.8)
      .select(col("a"), col("b"))
    Dedup.starComponents(docs.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** d48 — MinHash via the custom DeclarativeAggregate: shingle hashes
    * arrive as exploded ROWS and the codegen'd aggregate keeps the k
    * running minima (map-side partials; the shuffle carries k longs
    * per doc). The oracle computes signatures through the array-fold
    * formulation — two independent implementations, same values. */
  val d48MinhashAgg: Q = Q(
    "d48_minhash_agg",
    s"""WITH $sigCtes
       |SELECT doc_id, CAST(j AS BIGINT) AS hash_idx, sig[j+1] AS minhash
       |FROM sig CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS j)
       |ORDER BY doc_id, hash_idx""".stripMargin) { (s, dir) =>
    // explode_outer keeps docs shorter than the shingle width as one
    // null-hash row, so their aggregate evaluates to null minima
    // (matching the oracle's list_min([]) = NULL)
    val hashes = Dedup.shingleHashFrame(Tables.documents(s, dir), col("doc_id"), col("text"))
      .select(col("doc_id"), explode_outer(col("h")).as("h"))
    hashes.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhashAgg(col("h")).as("sig"))
      .select(col("doc_id"), posexplode_outer(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("hash_idx"), col("col").as("minhash"))
      .orderBy(col("doc_id"), col("hash_idx"))
  }

  /** t70 — sequence packing: the corpus concatenated in doc_id order
    * and cut into 512-token context windows (GPT-style
    * concatenate-and-chunk; a doc may span a window boundary). Stream
    * positions come from the DISTRIBUTED prefix sum
    * (Prefix.runningTotal / Packing.packSequences — never a
    * single-task global window); the oracle states the same layout
    * with the naive OVER (ORDER BY) form. */
  val t70PackSequences: Q = Q(
    "t70_pack_sequences",
    s"""WITH toks AS (SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
       |              FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |        sum(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM toks)
       |SELECT doc_id, n_tokens,
       |  CAST(cum - n_tokens AS BIGINT) AS start_pos,
       |  CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_first,
       |  CAST(greatest((cum - n_tokens) // 512, greatest(cum - 1, 0) // 512) AS BIGINT) AS seq_last
       |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(graft.operators.TextHash.tokens(col("text"))).as("nt"))
    graft.operators.Packing.packSequences(docs, Seq(col("doc_id")), col("nt"), 512)
      .select(col("doc_id"), col("n_tokens"), col("start_pos"),
        col("seq_first"), col("seq_last"))
      .orderBy(col("doc_id"))
  }

  /** t71 — corpus-bigram LM fit (KenLM-style quality filter reduced
    * to its engine-checkable core): per doc the exact-integer corpus
    * statistics of its bigrams. See TextAnalysis.bigramLm for the
    * scale shape (vocabulary-sized count tables, shuffle-join probes,
    * AQE skew handling on stopword-headed keys). */
  /** t74 — per-language quantile-threshold filter: the 30th-percentile
    * token count per language, computed EXACTLY over the value
    * distribution (count-collapse + integer-exact rank compare — the
    * 100 TB shape; see Quantiles), then applied as a broadcast filter.
    * Output: per-language threshold and the doc counts before/after —
    * the "drop each language's shortest 30%" curation step. */
  val t74QuantileFilter: Q = Q(
    "t74_quantile_filter",
    s"""WITH tk AS (SELECT doc_id, lang,
       |  CAST(len(${tokensSql("text")}) AS BIGINT) AS n FROM documents),
       |cnt AS (SELECT lang, n, count(*) AS c FROM tk GROUP BY lang, n),
       |cum AS (SELECT lang, n,
       |  sum(c) OVER (PARTITION BY lang ORDER BY n) AS cum,
       |  sum(c) OVER (PARTITION BY lang) AS tot FROM cnt),
       |thr AS (SELECT lang, min(n) AS threshold FROM cum
       |        WHERE cum * 100 >= tot * 30 GROUP BY lang)
       |SELECT t.lang AS lang, CAST(max(th.threshold) AS BIGINT) AS threshold,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN t.n >= th.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM tk t JOIN thr th ON t.lang = th.lang
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin) { (s, dir) =>
    val tk = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n"))
    val thr = graft.operators.Quantiles.discretePercentile(
      tk, Seq("lang"), col("n"), 30)
    tk.join(broadcast(thr), "lang")
      .groupBy(col("lang"))
      .agg(max(col("threshold")).as("threshold"),
        count(lit(1)).as("n_docs"),
        sum(when(col("n") >= col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** t75 — per-source document cap: keep each source's top 50 docs by
    * token count (the de-domination curation step — no single domain
    * may flood the mix). Engine side is the bounded-heap TopKByValue
    * aggregate: the exchange carries O(sources · 50) rows after
    * map-side partials, never a per-source sort of the corpus; the
    * oracle spells the same selection as a rank window. Ties break on
    * the smaller doc_id in both (the aggregator's documented order). */
  val t75SourceCap: Q = Q(
    "t75_source_cap",
    s"""WITH tk AS (SELECT doc_id, source,
       |  CAST(len(${tokensSql("text")}) AS BIGINT) AS n FROM documents),
       |rk AS (SELECT doc_id, source, n,
       |  row_number() OVER (PARTITION BY source ORDER BY n DESC, doc_id) AS rk
       |  FROM tk)
       |SELECT source, doc_id, n AS n_tokens FROM rk WHERE rk <= 50
       |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    val tk = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n"))
    tk.groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topK(50)(
        col("n").cast("double"), col("doc_id")).as("top"))
      .select(col("source"), explode(col("top")).as("t"))
      .select(col("source"), col("t._2").as("doc_id"),
        col("t._1").cast("long").as("n_tokens"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** t76 — heavy-hitter tokens per language via the Misra-Gries
    * candidate/re-count pattern, with the sketch fed PRE-AGGREGATED
    * weights: raw occurrences collapse to exact (lang, tok) counts in
    * a codegen'd hash aggregate first (partial-combinable, map-side),
    * and the object-buffer MG aggregate (capacity 64, mergeable-
    * summaries combine) consumes one WEIGHTED row per vocabulary
    * entry instead of one row per occurrence — the round-6 driver
    * profile showed the per-occurrence ObjectHashAggregate was the
    * whole cost of this query. The exact counts that pass 1 already
    * produced serve as the candidate re-count, so the corpus
    * tokenizes ONCE. Exactness: weighted MG undercount ≤ n/65 <
    * 2%·n (see MisraGriesWeighted), so every true heavy hitter is a
    * candidate, and the exact counts + threshold make the output
    * independent of the sketch's merge order — which is why it can
    * hash-match an exact GROUP BY/HAVING oracle. */
  val t76HeavyHitters: Q = Q(
    "t76_heavy_hitters",
    s"""WITH tk AS (SELECT lang, unnest(${tokensSql("text")}) AS tok FROM documents),
       |tot AS (SELECT lang, count(*) AS n FROM tk GROUP BY lang)
       |SELECT tk.lang AS lang, tok, CAST(count(*) AS BIGINT) AS cnt
       |FROM tk JOIN tot ON tk.lang = tot.lang
       |GROUP BY tk.lang, tok, tot.n
       |HAVING count(*) * 50 > tot.n
       |ORDER BY lang, tok""".stripMargin) { (s, dir) =>
    val tk = Tables.documents(s, dir)
      .select(col("lang"), explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    // occurrences → exact (lang, tok) counts, once, in codegen; both
    // the sketch pass and the threshold pass below read this frame
    val cnts = tk.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .transform(d => graft.Caches.pin(d))
    // sketch + language totals in ONE aggregation over vocabulary-
    // sized weighted rows; pass1 is ≤ langs·(64+1) rows, pinned so
    // its two consumers don't re-run the MG aggregate
    val pass1 = cnts.groupBy(col("lang"))
      .agg(graft.functions.FreqSketchAgg.misraGriesWeighted(64)(
          col("tok"), col("cnt")).as("cand"),
        sum(col("cnt")).as("n"))
      .transform(d => graft.Caches.pin(d))
    val cands = pass1.select(col("lang"), explode(col("cand")).as("tok"))
    val totals = pass1.select(col("lang"), col("n"))
    cnts.join(broadcast(cands), Seq("lang", "tok"))
      .join(broadcast(totals), "lang")
      .filter(col("cnt") * 50 > col("n"))
      .select(col("lang"), col("tok"), col("cnt"))
      .orderBy(col("lang"), col("tok"))
  }

  /** t78 — count-min sketch + point estimates cross-checked against
    * exact counts (TextAnalysis.cmSketch/cmEstimate): the d×w sketch
    * table is exact integer arithmetic over the portable hash family,
    * so the ENTIRE construction — cells, merge, min-over-rows
    * estimate — replays in DuckDB and hash-matches. Probes = tokens
    * above 1% of the corpus; cm_est ≥ exact_cnt by construction (the
    * oracle equality proves both engines' collision mass identical). */
  val t78CmSketch: Q = {
    val d = 4
    val w = 64
    val P = graft.operators.TextHash.P
    def bucket(i: Int) = {
      val a = graft.operators.TextHash.A(i)
      val b = graft.operators.TextHash.B(i)
      s"((h * $a + $b) % $P) % $w"
    }
    val cellRows = (0 until d).map(i =>
      s"SELECT $i AS row_idx, ${bucket(i)} AS bucket, cnt FROM hh")
      .mkString("\nUNION ALL\n")
    val probeRows = (0 until d).map(i =>
      s"SELECT tok, $i AS row_idx, ${bucket(i)} AS bucket FROM pr")
      .mkString("\nUNION ALL\n")
    Q("t78_cm_sketch",
      s"""WITH tk AS (SELECT unnest(${tokensSql("text")}) AS tok FROM documents),
         |cnt AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
         |hh AS (SELECT tok, cnt, ${polyHashSql("tok")} AS h FROM cnt),
         |cells AS ($cellRows),
         |sk AS (SELECT row_idx, bucket, sum(cnt) AS c FROM cells GROUP BY row_idx, bucket),
         |tot AS (SELECT sum(cnt) AS n FROM cnt),
         |pr AS (SELECT tok, cnt, h FROM hh, tot WHERE cnt * 100 > n),
         |pk AS ($probeRows),
         |est AS (SELECT pk.tok, min(sk.c) AS cm_est
         |        FROM pk JOIN sk ON pk.row_idx = sk.row_idx AND pk.bucket = sk.bucket
         |        GROUP BY pk.tok)
         |SELECT pr.tok AS tok, CAST(pr.cnt AS BIGINT) AS exact_cnt,
         |  CAST(est.cm_est AS BIGINT) AS cm_est
         |FROM pr JOIN est ON pr.tok = est.tok
         |ORDER BY tok""".stripMargin) { (s, dir) =>
      // one tokenization: the pinned counts serve the sketch build,
      // the probe selection, and the exact column
      val cnt = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .transform(d2 => graft.Caches.pin(d2))
      val tot = cnt.agg(sum(col("cnt")).as("n"))
      val probes = cnt.crossJoin(broadcast(tot))
        .filter(col("cnt") * 100 > col("n"))
        .select(col("tok"), col("cnt").as("exact_cnt"))
      val sk = TextAnalysis.cmSketchFromCounts(cnt)
      probes.join(TextAnalysis.cmEstimate(sk, probes.select(col("tok"))), "tok")
        .select(col("tok"), col("exact_cnt"), col("cm_est"))
        .orderBy(col("tok"))
    }
  }

  /** The bigram-count chain over any (doc_id, text) source as shared
    * fragments (prefix-parameterized like the t79 span CTEs): t71 and
    * t80 build on the SAME extraction, so the bigram definition cannot
    * drift between the self-fit stats and the reference-fit gate. */
  private def bigramCountCtes(src: String, p: String): String =
    s"""${p}toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM $src),
       |${p}bg0 AS (SELECT doc_id,
       |          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |        FROM ${p}toks),
       |${p}bgc AS (SELECT doc_id, bg, count(*) AS n FROM ${p}bg0 GROUP BY doc_id, bg)""".stripMargin

  /** pair / left-word count tables fitted on a bigram-count CTE. */
  private def pairLftCtes(bgc: String): String =
    s"""pair AS (SELECT bg, sum(n) AS c2 FROM $bgc GROUP BY bg),
       |lft AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1 FROM pair GROUP BY 1)""".stripMargin

  val t71BigramLm: Q = Q(
    "t71_bigram_lm",
    s"""WITH ${bigramCountCtes("documents", "")},
       |${pairLftCtes("bgc")}
       |SELECT bgc.doc_id,
       |  CAST(sum(bgc.n) AS BIGINT) AS n_bigrams,
       |  CAST(sum(bgc.n * CAST(pair.c2 AS HUGEINT)) AS VARCHAR) AS sum_pair,
       |  CAST(sum(bgc.n * CAST(lft.c1 AS HUGEINT)) AS VARCHAR) AS sum_left
       |FROM bgc JOIN pair USING (bg)
       |JOIN lft ON string_split(bgc.bg, ' ')[1] = lft.w1
       |GROUP BY bgc.doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.bigramLm(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** t80 — reference-fit LM quality gate (TextAnalysis.lmQualityGate,
    * the KenLM/CCNet shape): the bigram table is fitted on a trusted
    * reference subset (here the deterministic doc_id % 3 = 0 slice —
    * standing in for "the curated corpus"), every doc scores against
    * it via LEFT joins (unseen bigrams count 0), and docs at or above
    * the corpus-aggregate fit survive; sum_left = 0 fails outright.
    * The decision is exact rational cross-multiplication (HUGEINT /
    * decimal(38,0)) — no float division, so both engines decide every
    * doc identically; the threshold is corpus-RELATIVE, which is what
    * survives scale (an absolute cut that splits sf0.01 keeps 0.4% at
    * sf0.1 — measured before this design was chosen). */
  val t80LmGate: Q = Q(
    "t80_lm_gate",
    s"""WITH ${bigramCountCtes("documents", "")},
       |ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       |${bigramCountCtes("ref", "r")},
       |${pairLftCtes("rbgc")},
       |lm AS (SELECT bgc.doc_id,
       |    CAST(sum(bgc.n) AS BIGINT) AS n_bigrams,
       |    sum(bgc.n * CAST(coalesce(pair.c2, 0) AS HUGEINT)) AS sum_pair,
       |    sum(bgc.n * CAST(coalesce(lft.c1, 0) AS HUGEINT)) AS sum_left
       |  FROM bgc LEFT JOIN pair USING (bg)
       |  LEFT JOIN lft ON string_split(bgc.bg, ' ')[1] = lft.w1
       |  GROUP BY bgc.doc_id),
       |tot AS (SELECT sum(sum_pair) AS tsp, sum(sum_left) AS tsl FROM lm)
       |SELECT doc_id, n_bigrams,
       |  CAST(sum_pair AS VARCHAR) AS sum_pair,
       |  CAST(sum_left AS VARCHAR) AS sum_left
       |FROM lm, tot
       |WHERE sum_left > 0
       |  AND sum_pair * CAST(tsl AS HUGEINT) >=
       |      sum_left * CAST(tsp AS HUGEINT)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    TextAnalysis.lmQualityGate(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** The BPE base CTEs shared by t81/t82/t83: word frequencies
    * (corpus collapses to vocab FIRST — the t76 lesson) and the
    * round-0 character symbolization. */
  private val bpeBaseCtes =
    s"""bwf AS (SELECT tok AS word, count(*) AS freq
       |        FROM (SELECT unnest(${tokensSql("text")}) AS tok FROM documents)
       |        GROUP BY tok),
       |r0v AS MATERIALIZED (SELECT word, freq,
       |          list_transform(range(1, length(word)+1), p -> substring(word, p, 1)) AS syms
       |        FROM bwf)""".stripMargin

  /** ONE BPE training round over the previous round's symbolization:
    * pair counts, the deterministic winner, and the runs-parity greedy
    * merge (consecutive match positions — only possible when a = b —
    * group into runs; odd ranks merge). One generator powers the pair
    * stats (t81 reads r1pc), the single step (t82 reads r1v) and the
    * training loop (t83 unrolls 4 rounds), so the three entries
    * cannot drift. MATERIALIZED is load-bearing on the per-round
    * frames — plain CTEs inline per reference and the unrolled
    * recursion expands exponentially (the d58 lesson). */
  private def bpeRoundCtes(round: Int): String = {
    val r = s"r$round"
    val prev = s"r${round - 1}v"
    s"""${r}pc AS MATERIALIZED (
       |  SELECT cs[i] AS a, cs[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, syms AS cs, unnest(range(1, len(syms))) AS i
       |        FROM $prev WHERE len(syms) >= 2)
       |  GROUP BY cs[i], cs[i+1]),
       |${r}top AS MATERIALIZED (SELECT a, b, cnt FROM ${r}pc ORDER BY cnt DESC, a, b LIMIT 1),
       |${r}sym AS (SELECT word, freq, i, syms[i] AS s,
       |             CASE WHEN i < len(syms) THEN syms[i+1] END AS nx
       |           FROM (SELECT word, freq, syms, unnest(range(1, len(syms)+1)) AS i FROM $prev)),
       |${r}m AS (SELECT y.word, y.i FROM ${r}sym y, ${r}top t WHERE y.s = t.a AND y.nx = t.b),
       |${r}runs AS (SELECT word, i,
       |              i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
       |            FROM ${r}m),
       |${r}sel AS (SELECT word, i FROM (
       |             SELECT word, i, row_number() OVER (PARTITION BY word, g ORDER BY i) AS rn
       |             FROM ${r}runs) x
       |           WHERE rn % 2 = 1),
       |${r}emit AS (SELECT y.word, y.freq, y.i,
       |              CASE WHEN se.i IS NOT NULL THEN t.a || t.b ELSE y.s END AS o
       |            FROM ${r}sym y CROSS JOIN ${r}top t
       |            LEFT JOIN ${r}sel se ON se.word = y.word AND se.i = y.i
       |            LEFT JOIN ${r}sel sp ON sp.word = y.word AND sp.i = y.i - 1
       |            WHERE sp.i IS NULL),
       |${r}v AS MATERIALIZED (SELECT word, freq, list(o ORDER BY i) AS syms
       |         FROM ${r}emit GROUP BY word, freq)""".stripMargin
  }

  /** t81 — BPE pair statistics (TextAnalysis.bpePairStats): the
    * frequency-weighted adjacent-symbol pair table a BPE training
    * step maximizes over, top 10 ranked (cnt DESC, a, b). */
  val t81BpePairs: Q = Q(
    "t81_bpe_pairs",
    s"""WITH $bpeBaseCtes,
       |${bpeRoundCtes(1)}
       |SELECT rank, a, b, cnt FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rank,
       |    a, b, cnt
       |  FROM r1pc) r
       |WHERE rank <= 10
       |ORDER BY rank""".stripMargin) { (s, dir) =>
    TextAnalysis.bpePairStats(Tables.documents(s, dir), col("text"), topK = 10)
  }

  /** t82 — one BPE merge step applied (TextAnalysis.bpeMergeStep):
    * the top pair merges greedily left-to-right in every vocabulary
    * word; affected words come back with their '|'-joined symbols.
    * The engine merges with a carry FOLD; the oracle merges with a
    * runs-parity RELATIONAL formulation (consecutive match positions
    * group into overlap runs — only possible when a = b — and the
    * odd-ranked position of each run merges). Greedy expressed two
    * independent ways must agree — the d49 twin pattern. */
  val t82BpeMerge: Q = Q(
    "t82_bpe_merge",
    s"""WITH $bpeBaseCtes,
       |${bpeRoundCtes(1)}
       |SELECT word, CAST(freq AS BIGINT) AS freq,
       |  array_to_string(syms, '|') AS merged_s
       |FROM r1v WHERE len(syms) < length(word)
       |ORDER BY word""".stripMargin) { (s, dir) =>
    TextAnalysis.bpeMergeStep(Tables.documents(s, dir), col("text"))
      .orderBy(col("word"))
  }

  /** t83 — BPE training, 4 merges (TextAnalysis.bpeTrain): the
    * pair-count → winner → greedy-merge round ITERATED, emitting the
    * learned merge table a tokenizer ships. Engine: an eager
    * checkpoint loop (round k−1's blocks released as k materializes,
    * the CC-loop discipline) with the 1-row winner broadcast into the
    * next symbolization — no collect anywhere. Oracle: the same 4
    * rounds unrolled from the shared round generator as MATERIALIZED
    * CTEs. Later rounds genuinely depend on earlier merges (merged
    * symbols pair with their neighbors), so this checks the LOOP, not
    * 4 independent steps. */
  val t83BpeTrain: Q = Q(
    "t83_bpe_train",
    s"""WITH $bpeBaseCtes,
       |${(1 to 4).map(bpeRoundCtes).mkString(",\n")}
       |SELECT step, a, b, cnt FROM (
       |  ${(1 to 4).map(k =>
             s"SELECT CAST($k AS BIGINT) AS step, a, b, cnt FROM r${k}top")
            .mkString("\n  UNION ALL\n  ")}
       |) u
       |ORDER BY step""".stripMargin) { (s, dir) =>
    TextAnalysis.bpeTrain(Tables.documents(s, dir), col("text"), merges = 4)
      .orderBy(col("step"))
  }

  /** t84 — BPE encode (TextAnalysis.bpeEncode): the corpus tokenized
    * with the 4-merge table t83 just learned — per-doc whitespace
    * words, post-merge BPE symbols, raw chars. The doc-token
    * occurrences join the final symbolization r4v on the word key
    * (shuffle join: vocabulary is unbounded at corpus scale). */
  val t84BpeEncode: Q = Q(
    "t84_bpe_encode",
    s"""WITH $bpeBaseCtes,
       |${(1 to 4).map(bpeRoundCtes).mkString(",\n")},
       |dt AS (SELECT doc_id, tok AS word, count(*) AS n
       |       FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents)
       |       GROUP BY doc_id, tok)
       |SELECT dt.doc_id,
       |  CAST(sum(dt.n) AS BIGINT) AS n_words,
       |  CAST(sum(dt.n * len(v.syms)) AS BIGINT) AS n_syms,
       |  CAST(sum(dt.n * length(v.word)) AS BIGINT) AS n_chars
       |FROM dt JOIN r4v v USING (word)
       |GROUP BY dt.doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.bpeEncode(Tables.documents(s, dir), col("doc_id"), col("text"),
        merges = 4)
      .orderBy(col("doc_id"))
  }

  /** t85 — BM25-family retrieval (TextAnalysis.bm25TopDocs): rank the
    * corpus against a 3-term topic probe, keep the top 10. Exact
    * fixed-point scoring — rational odds idf (the monotone ln dropped,
    * per the t80 no-float-decision rule), k1 = 6/5, b = 3/4 folded
    * into one integer fraction per (doc, term), floor(10⁶·num/den) in
    * decimal(38,0)/HUGEINT, per-doc score = exact BIGINT sum. The
    * oracle replays the identical arithmetic, so scores hash-match
    * bit-for-bit. */
  val t85Bm25: Q = {
    val terms = Seq("spark", "stream", "window")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    Q(
      "t85_bm25",
      s"""WITH dl AS (SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS nn FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents)
         |       WHERE tok IN ($inList) GROUP BY doc_id, tok),
         |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |c AS (SELECT tf.doc_id,
         |        (CAST(22000000 AS HUGEINT) * tt * tf * (2*nn - 2*df + 1)) //
         |        (CAST(2*df + 1 AS HUGEINT) * (10*tf*tt + 3*tt + 9*dl.dl*nn)) AS contrib
         |      FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_fp
         |FROM c GROUP BY doc_id
         |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      TextAnalysis.bm25TopDocs(Tables.documents(s, dir), col("doc_id"), col("text"),
        terms, k = 10)
    }
  }

  /** t86 — vocabulary-growth (Heaps-law) curve: distinct-token count
    * vs corpus size at doc-count checkpoints. First-occurrence
    * attribution (min doc_id per token — the t65/t72 aggregation
    * pattern, never a corpus-ordered window), then each checkpoint
    * counts tokens whose first doc precedes it. The 5-mark explode is
    * constant fan-out on the VOCABULARY frame, not the corpus. The
    * curve is the standard diagnostic for tokenizer sizing and
    * dedup-health monitoring (a flattening curve on a growing corpus
    * signals duplication). */
  val t86VocabGrowth: Q = Q(
    "t86_vocab_growth",
    s"""WITH marks AS (SELECT unnest([100, 200, 300, 400, 500]) AS mark),
       |tk AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
       |firsts AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok),
       |v AS (SELECT m.mark, CAST(count(*) AS BIGINT) AS vocab
       |      FROM marks m JOIN firsts f ON f.first_doc < m.mark GROUP BY m.mark),
       |d AS (SELECT m.mark, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS total_tokens
       |      FROM marks m JOIN documents ON doc_id < m.mark GROUP BY m.mark)
       |SELECT d.mark, d.n_docs, d.total_tokens, v.vocab
       |FROM d JOIN v USING (mark) ORDER BY mark""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val marks = array((1 to 5).map(m => lit(m * 100L)): _*)
    val firsts = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val vocab = firsts.select(explode(marks).as("mark"), col("first_doc"))
      .filter(col("first_doc") < col("mark"))
      .groupBy(col("mark")).agg(count(lit(1)).as("vocab"))
    val sizes = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("ntok"))
      .select(explode(marks).as("mark"), col("doc_id"), col("ntok"))
      .filter(col("doc_id") < col("mark"))
      .groupBy(col("mark"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"))
    sizes.join(vocab, "mark")
      .select(col("mark"), col("n_docs"), col("total_tokens"), col("vocab"))
      .orderBy(col("mark"))
  }

  /** t87 — hashed-linear-model scoring (TextAnalysis.hashedLinearScore):
    * the fasttext-style quality-classifier apply step. The "model" here
    * is a deterministic 1024-bucket integer weight table (wgt = bucket
    * mod 7 − 3) so the oracle can rebuild it from range(); a real
    * deployment broadcasts trained quantized weights through the same
    * operator. Scores are exact BIGINT sums — bit-identical across
    * engines. */
  val t87LinearScore: Q = Q(
    "t87_linear_score",
    s"""WITH w AS (SELECT r AS bucket, r % 7 - 3 AS wgt FROM range(1024) t(r)),
       |tk AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
       |b AS (SELECT doc_id, ((${polyHashSql("tok")}) % 1024 + 1024) % 1024 AS bucket FROM tk)
       |SELECT b.doc_id, CAST(sum(w.wgt) AS BIGINT) AS score
       |FROM b JOIN w USING (bucket)
       |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    val weights = s.range(1024).select(col("id").as("bucket"),
      (col("id") % 7 - 3).as("wgt"))
    TextAnalysis.hashedLinearScore(Tables.documents(s, dir),
      col("doc_id"), col("text"), 1024, weights)
      .orderBy(col("doc_id"))
  }

  /** t88 — exact phrase search (TextAnalysis.phraseSearch): positional
    * postings intersected on (doc, normalized start). One Scala Seq
    * generates BOTH the Spark legs and the oracle's leg CTEs (the
    * TextHash emitter rule), so the phrase cannot drift between
    * engines. */
  val t88PhraseSearch: Q = {
    val phrase = Seq("table", "table")
    val legSql = phrase.zipWithIndex.map { case (w, i) =>
      s"l$i AS (SELECT doc_id, pos - $i AS start FROM p WHERE tok = '$w')"
    }.mkString(",\n")
    val joins = (1 until phrase.size)
      .map(i => s"JOIN l$i USING (doc_id, start)").mkString(" ")
    Q(
      "t88_phrase_search",
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
         |p AS (SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS pos FROM toks),
         |$legSql,
         |m AS (SELECT l0.doc_id, l0.start FROM l0 $joins)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.phraseSearch(Tables.documents(s, dir),
          col("doc_id"), col("text"), phrase)
        .orderBy(col("doc_id"))
    }
  }

  /** The t89/d72 URL corpus: a deterministic messy URL per document
    * (the documents table carries no URL column — the same
    * induce-it-deterministically pattern as q53's nulls), derived from
    * (doc_id, source) so both engines generate the identical string.
    * The variants exercise every canonicalization rule: upper-case
    * scheme/host (d%2 adds WWW.), default vs non-default vs absent
    * port (d%4 × d%3), repeated paths (d%10), tracking params with
    * PER-DOC varying values (utm_campaign=c<d>, gclid=g<d>,
    * fbclid=f<d> — so raw URLs are distinct while canonicals collide:
    * the collapsing is provably the canonicalizer's work), unsorted
    * params (d%5=1), no query (d%5=3), and per-doc fragments (odd d).
    * Canonical identity is the d%60 class within a source. */
  private[graft] def urlGen(d: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ds = d.cast("string")
    concat(
      when(d % 3 === 0, lit("HTTP")).otherwise(lit("HTTPS")), lit("://"),
      when(d % 2 === 0, lit("WWW.")).otherwise(lit("")),
      source, lit(".Example.COM"),
      when(d % 4 === 0, when(d % 3 === 0, lit(":80")).otherwise(lit(":443")))
        .when(d % 4 === 1, lit(":8080")).otherwise(lit("")),
      lit("/Docs/D"), (d % 10).cast("string"),
      when(d % 5 === 0, concat(lit("?utm_source=x&id="), (d % 3).cast("string"),
          lit("&utm_campaign=c"), ds))
        .when(d % 5 === 1, concat(lit("?b=2&a=1&id="), (d % 3).cast("string")))
        .when(d % 5 === 2, concat(lit("?gclid=g"), ds))
        .when(d % 5 === 3, lit(""))
        .otherwise(concat(lit("?a=1&fbclid=f"), ds, lit("&ref=tw"))),
      when(d % 2 === 1, concat(lit("#Sec-"), ds)).otherwise(lit("")))
  }
  private val urlGenSql: String =
    """CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'HTTPS' END || '://' ||
      |  CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END || source || '.Example.COM' ||
      |  CASE WHEN doc_id % 4 = 0 THEN (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
      |       WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END ||
      |  '/Docs/D' || CAST(doc_id % 10 AS VARCHAR) ||
      |  CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=c' || CAST(doc_id AS VARCHAR)
      |       WHEN doc_id % 5 = 1 THEN '?b=2&a=1&id=' || CAST(doc_id % 3 AS VARCHAR)
      |       WHEN doc_id % 5 = 2 THEN '?gclid=g' || CAST(doc_id AS VARCHAR)
      |       WHEN doc_id % 5 = 3 THEN ''
      |       ELSE '?a=1&fbclid=f' || CAST(doc_id AS VARCHAR) || '&ref=tw' END ||
      |  CASE WHEN doc_id % 2 = 1 THEN '#Sec-' || CAST(doc_id AS VARCHAR) ELSE '' END""".stripMargin

  /** The shared DuckDB canonicalization CTE chain (emitters from
    * graft.operators.Urls — same pattern constants as the engine's
    * Column builders, the twin-emitter discipline), ending in a `z`
    * relation of (doc_id, url_canon, host_key). */
  private val urlCanonCtesSql: String = {
    import graft.operators.Urls
    s"""u AS (SELECT doc_id, $urlGenSql AS url FROM documents),
       |b AS (SELECT doc_id, ${Urls.stripFragSql("url")} AS base FROM u),
       |x AS (SELECT doc_id,
       |        ${Urls.schemeSql("base")} AS sch,
       |        ${Urls.hostPortSql("base")} AS hp,
       |        ${Urls.pathSql("base")} AS path0,
       |        ${Urls.querySql("base")} AS q0
       |      FROM b),
       |y AS (SELECT doc_id, sch,
       |        ${Urls.stripPortSql("hp")} AS host,
       |        ${Urls.portSql("hp")} AS port,
       |        CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
       |        ${Urls.cleanQuerySql("q0")} AS q1
       |      FROM x),
       |z AS (SELECT doc_id,
       |        sch || '://' ||
       |        CASE WHEN port = '' OR (sch = 'http' AND port = '80') OR (sch = 'https' AND port = '443')
       |             THEN host ELSE host || ':' || port END ||
       |        path ||
       |        CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS url_canon,
       |        ${Urls.hostKeyFromHostSql("host")} AS host_key
       |      FROM (SELECT *, ${Urls.sortParamsSql("q1")} AS q2 FROM y))""".stripMargin
  }

  /** t89 — canonical URL normalization (Urls.canonicalUrl/hostKey):
    * the crawl-curation identity key. Pure codegen'd per-row string
    * built-ins — no shuffle, no HOFs; the oracle replays the identical
    * rules from the shared emitters. */
  val t89UrlCanon: Q = Q(
    "t89_url_canon",
    s"""WITH $urlCanonCtesSql
       |SELECT doc_id, url_canon, host_key FROM z ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val u = urlGen(col("doc_id"), col("source"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.operators.Urls.canonicalUrl(u).as("url_canon"),
        graft.operators.Urls.hostKey(u).as("host_key"))
      .orderBy(col("doc_id"))
  }

  /** d72 — exact dedup BY CANONICAL URL (Urls.canonicalUrl feeding the
    * d40 keep-min-id rule): raw URLs are pairwise DISTINCT by
    * construction (per-doc tracking values and fragments), so every
    * collapsed group below is the canonicalizer's work, not string
    * equality. One hash aggregate on the canonical key — the identical
    * shuffle shape d40 runs on content hashes; at crawl scale this is
    * the cheapest dedup pass and runs FIRST, before any content
    * hashing. */
  val d72UrlDedup: Q = Q(
    "d72_url_dedup",
    s"""WITH $urlCanonCtesSql
       |SELECT url_canon, CAST(min(doc_id) AS BIGINT) AS keep_id,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM z GROUP BY url_canon ORDER BY url_canon""".stripMargin) { (s, dir) =>
    val u = urlGen(col("doc_id"), col("source"))
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.operators.Urls.canonicalUrl(u).as("url_canon"))
      .groupBy(col("url_canon"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("url_canon"))
  }

  /** t100 — PER-HOST CAP (Urls.hostKey + Skew.saltedCap): keep each
    * site's top-k documents by length — the crawl-curation pass the
    * Urls scaladoc's 100 TB recipe describes, driver-gated (r14
    * verdict item 2: saltedCap was the one operator whose correctness
    * rested on a spec alone). The engine runs the TWO-STAGE salted cap
    * — per-(host, salt) rank bounds every window partition to
    * ~hotRows/saltFactor, then a re-rank of the ≤ k·saltFactor
    * survivors — which is provably row-identical to the naive single
    * window; the oracle IS that naive single window (row_number OVER
    * (PARTITION BY host_key)), so the equivalence is hash-checked on
    * the real corpus, not just the spec's mega-host fixture. Ordering
    * is (n_chars DESC, doc_id): row-unique via the id tiebreak, the
    * deterministic-cap rule. */
  val t100HostCap: Q = Q(
    "t100_host_cap",
    s"""WITH u AS (SELECT doc_id, n_chars, $urlGenSql AS url FROM documents),
       |h AS (SELECT doc_id, n_chars,
       |        ${graft.operators.Urls.hostKeyFromHostSql(
               graft.operators.Urls.stripPortSql(
                 graft.operators.Urls.hostPortSql(
                   graft.operators.Urls.stripFragSql("url"))))} AS host_key
       |      FROM u),
       |r AS (SELECT host_key, doc_id, n_chars,
       |        row_number() OVER (PARTITION BY host_key
       |                           ORDER BY n_chars DESC, doc_id) AS rn
       |      FROM h)
       |SELECT host_key, CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(n_chars AS BIGINT) AS n_chars
       |FROM r WHERE rn <= 5 ORDER BY host_key, doc_id""".stripMargin) { (s, dir) =>
    val u = urlGen(col("doc_id"), col("source"))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        graft.operators.Urls.hostKey(u).as("host_key"))
    graft.operators.Skew.saltedCap(docs, key = col("host_key"),
        ord = Seq(col("n_chars").desc, col("doc_id")), k = 5,
        rowTag = col("doc_id"), saltFactor = 8)
      .select(col("host_key"), col("doc_id"), col("n_chars"))
      .orderBy(col("host_key"), col("doc_id"))
  }

  /** t90 — PORTABLE HyperLogLog distinct-token estimate, fully
    * oracle-hash-matched — the counterexample to "HLL sketches are not
    * SQL-expressible" (q36's no_oracle carve-out): with the portable
    * polynomial hash, 64 registers, a GENERATED first-one-bit CASE
    * (identical SQL text on both engines), and 2^-rho spelled as
    * 1/(1<<rho) — every term a power of two, so the register sum is
    * EXACT in binary FP regardless of accumulation order — even the
    * raw estimate (alpha·m²/s, two IEEE ops on exact inputs) is
    * bit-reproducible. Engine-native sketches (q36) remain the
    * production path; this is the portable, verifiable twin. No
    * small/large-range corrections: they need ln(), which is libm —
    * est_raw is the uncorrected HLL estimator, emitted next to the
    * exact count so the differential also documents its error. */
  val t90HllDistinct: Q = {
    // rho = 1-based position of the first 1-bit in the 24-bit window
    // w = h div 64 (P = 1e9+7 < 2^30); w = 0 → 25. ONE generated CASE
    // (graft.operators.Sketches.RhoCaseSql), shared verbatim by Spark,
    // DuckDB, and t98's rolling merge — the register construction
    // cannot drift between the sketches.
    val rhoCase = graft.operators.Sketches.RhoCaseSql
    Q(
      "t90_hll_distinct",
      s"""WITH tk AS (SELECT lang, unnest(${tokensSql("text")}) AS tok FROM documents),
         |h AS (SELECT lang, ${polyHashSql("tok")} AS hh FROM tk),
         |b AS (SELECT lang, hh % 64 AS reg, hh // 64 AS w FROM h),
         |r AS (SELECT lang, reg, $rhoCase AS rho FROM b),
         |m AS (SELECT lang, reg, max(rho) AS max_rho FROM r GROUP BY lang, reg),
         |e AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_regs,
         |        sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s_present
         |      FROM m GROUP BY lang),
         |x AS (SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_exact FROM tk GROUP BY lang)
         |SELECT e.lang, e.n_regs,
         |  CAST('0.709' AS DOUBLE) * CAST(4096 AS DOUBLE)
         |    / (e.s_present + (64 - e.n_regs)) AS est_raw,
         |  x.n_exact
         |FROM e JOIN x USING (lang) ORDER BY lang""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      val regs = toks
        .select(col("lang"), polyHashFast(col("tok")).as("h"))
        .select(col("lang"), pmod(col("h"), lit(64L)).as("reg"),
          expr("h div 64").as("w"))
        .select(col("lang"), col("reg"), expr(rhoCase).as("rho"))
        .groupBy(col("lang"), col("reg")).agg(max(col("rho")).as("max_rho"))
      val est = regs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_regs"),
          sum(expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), max_rho)"))
            .as("s_present"))
        .select(col("lang"), col("n_regs"),
          (lit(0.709) * lit(4096.0) /
            (col("s_present") + (lit(64) - col("n_regs")))).as("est_raw"))
      val exact = toks.groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("n_exact"))
      est.join(exact, "lang")
        .select(col("lang"), col("n_regs"), col("est_raw"), col("n_exact"))
        .orderBy(col("lang"))
    }
  }

  /** t72 — segment-level exact dedup (C4-style line dedup over
    * 10-token blocks): per doc, how many of its segments occurred
    * earlier in the corpus (first occurrence = smallest
    * (doc_id, seg_idx)). The window-per-hash formulation is mirrored
    * line-for-line by the oracle. */
  val t72SegmentDedup: Q = Q(
    "t72_segment_dedup",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |idx AS (SELECT doc_id, t, unnest(range(1, (len(t) + 9) // 10 + 1)) AS i FROM toks),
       |segs AS (SELECT doc_id, i - 1 AS seg_idx,
       |           array_to_string(t[(i-1)*10+1 : (i-1)*10+10], ' ') AS seg
       |         FROM idx),
       |ranked AS (SELECT doc_id, seg_idx,
       |             row_number() OVER (PARTITION BY ${polyHashSql("seg")}
       |               ORDER BY doc_id, seg_idx) AS occ
       |           FROM segs)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       |  CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments
       |FROM ranked GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.segmentDedup(Tables.documents(s, dir), col("doc_id"), col("text"),
        segTokens = 10)
      .orderBy(col("doc_id"))
  }

  /** s55 — embedding duplicate CLUSTERS: cosine near-dup pairs (d44's
    * definition, same cells and threshold) closed into connected
    * components, cluster id = min vec_id — the embedding-space twin of
    * d49's text-space clustering, checked against the same independent
    * recursive-CTE transitive closure. Because the pair join is keyed
    * on the IVF cell, components cannot cross cells, so clustering is
    * Dedup.blockedComponents — ONE cogroup shuffle + per-cell
    * union-find, no iterative global loop (the cell graph here is
    * 20+ hops deep: label propagation took 21 rounds on it). */
  /** The embedding duplicate-cluster closure as a shared CTE chain
    * (cosine-0.3 same-cell pairs → symmetric closure → recursive
    * reachability): s55 reads the cluster map, s59 applies it. */
  private val embClusterCtes =
    s"""pairs AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.embedding", "b.embedding")} >= 0.3),
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(src, node) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node),
       |cl AS (SELECT src AS vec_id, CAST(min(node) AS BIGINT) AS cluster_id
       |       FROM reach GROUP BY src)""".stripMargin

  val s55EmbedClusters: Q = Q(
    "s55_embed_clusters",
    s"""WITH RECURSIVE $embClusterCtes
       |SELECT vec_id, cluster_id FROM cl
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val pairs = Similarity.nearDupPairsWithCell(emb, 0.3)
      .select(col("cell").as("block"), col("a"), col("b"))
    Dedup.blockedComponents(
        emb.select(col("label").as("block"), col("vec_id").as("id")), pairs)
      .select(col("id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** s60 — multi-probe IVF top-k (Similarity.ivfMultiProbeTopK): the
    * query ranks the coarse centroids and probes the best 3 cells;
    * candidates are rows whose ASSIGNED centroid (s52's argmax) is
    * probed, scored by exact dot. Restores the out-of-cell neighbors
    * single-probe IVF loses — the standard recall/latency dial. */
  val s60MultiProbe: Q = Q(
    "s60_multiprobe",
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cr AS (SELECT c.centroid_id,
       |         row_number() OVER (ORDER BY ${dotSql("q.qe", "c.ce")} DESC, c.centroid_id) AS crk
       |       FROM c CROSS JOIN q),
       |probed AS (SELECT centroid_id FROM cr WHERE crk <= 3),
       |sc0 AS (SELECT e.vec_id, c.centroid_id, ${dotSql("e.embedding", "c.ce")} AS score
       |        FROM embeddings e CROSS JOIN c),
       |asg AS (SELECT vec_id, centroid_id FROM (
       |          SELECT vec_id, centroid_id,
       |            row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rn
       |          FROM sc0) r
       |        WHERE rn = 1),
       |cand AS (SELECT e.vec_id, e.embedding, a.centroid_id AS cell
       |         FROM embeddings e
       |         JOIN asg a USING (vec_id)
       |         JOIN probed p ON p.centroid_id = a.centroid_id
       |         CROSS JOIN q
       |         WHERE e.vec_id <> q.qid),
       |sc AS (SELECT cand.vec_id, cand.cell, ${dotSql("cand.embedding", "q.qe")} AS score
       |       FROM cand CROSS JOIN q),
       |rk AS (SELECT vec_id, cell, score,
       |         row_number() OVER (ORDER BY score DESC, vec_id) AS rank
       |       FROM sc)
       |SELECT CAST(0 AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       |  vec_id AS neighbor_id, cell, score
       |FROM rk WHERE rank <= 10
       |ORDER BY rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfMultiProbeTopK(emb, emb.filter(col("vec_id") < 8),
        emb.filter(col("vec_id") === 0), k = 10, nProbe = 3)
      .orderBy(col("rank"))
  }

  /** s65 — BATCH multi-probe IVF top-k
    * (Similarity.ivfMultiProbeTopKBatch): the s60 lifecycle for an
    * 8-query batch (every 61st vector offset 3) — production
    * retrieval's shape, closing the r15 single-query design gap. Per
    * query: rank the 8 coarse centroids, probe the best 3 cells,
    * score candidates by exact dot, keep top-5. Oracle = s60's chain
    * with every window re-partitioned by the query id. */
  val s65BatchKnn: Q = Q(
    "s65_batch_knn",
    ivfBatchProbeOracleSql(8, 61, 3, 3, 5)) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfMultiProbeTopKBatch(emb, emb.filter(col("vec_id") < 8),
        emb.filter(col("vec_id") % 61 === 3), k = 5, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** s59 — semantic dedup APPLIED (Similarity.embedDedupApply, the
    * SemDeDup shape): s55's clusters collapse to their min-vec_id
    * representative, each carrying its cluster size; the oracle runs
    * the same closure and keeps the fixpoint's self-labeled rows. */
  val s59EmbedDedupApply: Q = Q(
    "s59_embed_dedup_apply",
    s"""WITH RECURSIVE $embClusterCtes,
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM cl GROUP BY cluster_id)
       |SELECT cl.vec_id, cl.cluster_id, sz.cluster_size
       |FROM cl JOIN sz USING (cluster_id)
       |WHERE cl.vec_id = cl.cluster_id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Similarity.embedDedupApply(Tables.embeddings(s, dir), 0.3)
      .orderBy(col("vec_id"))
  }

  /** t73 — RAG-style overlapping chunker: 64-token windows every 48
    * tokens (16 tokens of shared context between neighbors), with the
    * portable content hash per chunk. Pure per-row arithmetic after
    * one tokenize — the no-shuffle chunking step upstream of
    * chunk-level dedup / retrieval indexing. */
  val t73ChunkOverlap: Q = Q(
    "t73_chunk_overlap",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |idx AS (SELECT doc_id, t, unnest(range(0, (len(t) - 1) // 48 + 1)) AS i
       |        FROM toks WHERE len(t) >= 1),
       |ch AS (SELECT doc_id, i AS chunk_idx,
       |         array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk_text
       |       FROM idx)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_chunk_tokens,
       |  ${polyHashSql("chunk_text")} AS chunk_hash
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    graft.operators.Packing.chunkTokenWindows(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        window = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** d53 — dedup APPLIED: the end of the dedup pipeline. Near-dup
    * pairs close into clusters (d49's labels) and only each cluster's
    * canonical representative (min doc_id) survives; output is the
    * per-language cleaned-corpus profile. Checked against the same
    * independent recursive-CTE closure as d49. */
  val d53DedupApply: Q = Q(
    "d53_dedup_apply",
    s"""WITH RECURSIVE $pairsCtes,
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(src, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node),
       |lab AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src)
       |SELECT d.lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN l.cluster_id = l.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM documents d JOIN lab l ON d.doc_id = l.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.8)
      .select(col("a"), col("b"))
    val labels = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
    docs.join(labels, docs("doc_id") === labels("id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id") === col("id"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** d66 — quality-aware cluster canonicalization
    * (Dedup.clusterRepresentatives): near-dup clusters (d49's closure)
    * each keep their highest-quality member (quality = token count;
    * ties → smallest doc_id) instead of blind min-id. Engine side is
    * the skew-safe arg-max aggregation; the oracle ranks with a
    * window — two formulations, one answer. */
  val d66CanonicalPick: Q = Q(
    "d66_canonical_pick",
    s"""WITH RECURSIVE $pairsCtes,
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(src, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node),
       |lab AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src),
       |q AS (SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS q FROM documents),
       |r AS (SELECT l.cluster_id, q.doc_id, q.q,
       |        row_number() OVER (PARTITION BY l.cluster_id ORDER BY q.q DESC, q.doc_id) AS rn,
       |        count(*) OVER (PARTITION BY l.cluster_id) AS n_members
       |      FROM lab l JOIN q ON q.doc_id = l.doc_id)
       |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, doc_id AS rep_id,
       |       q AS rep_q, CAST(n_members AS BIGINT) AS n_members
       |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.8)
      .select(col("a"), col("b"))
    val labels = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
    val quality = docs.select(col("doc_id").as("id"),
      size(tokens(col("text"))).cast("long").as("q"))
    Dedup.clusterRepresentatives(labels, quality).orderBy(col("cluster_id"))
  }

  /** d67 — cluster-aware leakage-safe split: q71 hashes the DOC key,
    * which still leaks near-duplicate content across the train/test
    * boundary (a paraphrase in train, its twin in test). Splitting on
    * the CLUSTER id instead keeps every near-dup cluster on one side —
    * the contamination-safe evaluation protocol. Composition of the
    * standing operators: components closure → Sampling.split on
    * cluster_id. */
  val d67ClusterSplit: Q = Q(
    "d67_cluster_split",
    s"""WITH RECURSIVE $pairsCtes,
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(src, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node),
       |lab AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src),
       |b AS (SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       |        ${polyHashSql("CAST(cluster_id AS VARCHAR)")} % 100 AS h FROM lab)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.8)
      .select(col("a"), col("b"))
    val labels = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
    graft.operators.Sampling.split(labels, col("cluster_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select(col("id").as("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** d68 — posting-list compression accounting: per-term sorted
    * doc-id postings packed by the delta+ULEB128 kernel
    * (functions.VarintPostings — the layout inverted indexes ship at
    * scale: gaps are small, so entries cost ~1 byte instead of 8).
    * The oracle recomputes the packed size ARITHMETICALLY — per-delta
    * varint width via a generated CASE over the 2^(7k) bounds — so
    * the kernel's byte-exact output is hash-verified without DuckDB
    * ever seeing a varint. Roundtrip/rejection properties live in
    * PolyHashSpec. */
  val d68VarintPostings: Q = {
    val byteCase = (1 to 9)
      .map(k => s"WHEN v < ${1L << (7 * k)} THEN $k")
      .mkString("CASE ", " ", " ELSE 10 END")
    Q(
      "d68_varint_postings",
      s"""WITH tk AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
         |pl AS (SELECT tok, list_sort(list(DISTINCT doc_id)) AS p FROM tk GROUP BY tok),
         |d AS (SELECT tok, len(p) AS n,
         |        list_transform(range(1, len(p) + 1),
         |          i -> CASE WHEN i = 1 THEN p[1] ELSE p[i] - p[i-1] END) AS ds
         |      FROM pl)
         |SELECT tok, CAST(n AS BIGINT) AS n_postings, CAST(8*n AS BIGINT) AS raw_bytes,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(ds, v -> CAST($byteCase AS BIGINT))), (a, b) -> a + b) AS BIGINT)
         |    AS packed_bytes
         |FROM d ORDER BY tok""".stripMargin) { (s, dir) =>
      import graft.functions.VarintPostings
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"), col("doc_id"))
        .groupBy(col("tok"))
        .agg(sort_array(collect_set(col("doc_id"))).as("p"))
        .select(col("tok"), size(col("p")).cast("long").as("n_postings"),
          (size(col("p")) * 8).cast("long").as("raw_bytes"),
          length(VarintPostings.encodeNative(col("p"))).cast("long").as("packed_bytes"))
        .orderBy(col("tok"))
    }
  }

  /** t77 — the END-TO-END curation pipeline (Curation.curate): exact
    * dedup (injected every-7th-doc copies are removed, min-id row
    * kept) → language gate → quality gate → global token budget, each
    * stage the standing operator. The oracle restates the whole chain
    * as one CTE cascade, so the composition — not just each stage — is
    * hash-verified. quality := the en-stopword ratio (the same number
    * qualityFeatures emits as stopword_ratio). */
  /** The t77/t79 corpus CTE: documents plus every-7th-doc verbatim
    * re-ingests under shifted ids. */
  private val curationCorpusCte =
    """corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** The Curation.curate cascade (exact dedup → fused gates → global
    * budget) over a (doc_id, text, source) CTE — ONE generator shared
    * by t77 (raw corpus) and t79 (span-cut corpus) so the pipeline
    * oracle cannot drift between them. Ends with `sel`. */
  private def curationCascadeSql(src: String): String =
    s"""keep AS (SELECT min(doc_id) AS doc_id FROM $src GROUP BY text),
       |s1 AS (SELECT c.doc_id, c.text, c.source
       |       FROM $src c JOIN keep k ON c.doc_id = k.doc_id),
       |ctoks AS (SELECT doc_id, source, ${tokensSql("text")} AS t FROM s1),
       |feat AS (SELECT doc_id, source,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  ${ratioSql("en")} AS en_score,
       |  ${ratioSql("de")} AS de_score,
       |  ${ratioSql("es")} AS es_score
       |FROM ctoks),
       |gate AS (SELECT doc_id, source, n_tokens, en_score AS quality,
       |    CASE WHEN greatest(en_score, de_score, es_score) < 0.02 THEN 'unknown'
       |         WHEN en_score >= de_score AND en_score >= es_score THEN 'en'
       |         WHEN de_score >= es_score THEN 'de'
       |         ELSE 'es' END AS predicted_lang
       |  FROM feat
       |  WHERE n_tokens >= 5 AND en_score >= 0.02),
       |sel AS (SELECT doc_id, source, predicted_lang, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM gate WHERE predicted_lang <> 'unknown')""".stripMargin

  private val curationSelect =
    """SELECT doc_id, source, predicted_lang AS lang_pred, n_tokens,
      |  CAST(cum AS BIGINT) AS cum_tokens
      |FROM sel WHERE cum <= 15000
      |ORDER BY doc_id""".stripMargin

  val t77CurationPipeline: Q = Q(
    "t77_curation_pipeline",
    s"""WITH $curationCorpusCte,
       |${curationCascadeSql("corpus")}
       |$curationSelect""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("source")))
    graft.operators.Curation.curate(corpus)
      .select(col("doc_id"), col("source"),
        col("predicted_lang").as("lang_pred"), col("n_tokens"),
        col("cum").cast("long").as("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** t79 — span-cut curation (Curation.curateSpanCut): repeated-span
    * dedup CUTS duplicated runs first (a verbatim re-ingest collapses
    * to the empty string where it has ≥ 4 tokens; shorter copies
    * survive the cut and the exact-dedup stage mops them up), then
    * the t77 cascade runs over the token-normalized survivors — the
    * SAME cascade generator, so only the span stage differs between
    * the two pipeline oracles. */
  val t79CurationSpans: Q = Q(
    "t79_curation_spans",
    s"""WITH $curationCorpusCte,
       |${repeatedSpanCtesOver("corpus", "s")},
       |stokpos AS (SELECT doc_id, unnest(t) AS tok,
       |             CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS pos
       |           FROM stoks),
       |skept AS (SELECT p.doc_id, p.tok, p.pos FROM stokpos p
       |         WHERE NOT EXISTS (SELECT 1 FROM sgrp g
       |           WHERE g.doc_id = p.doc_id AND p.pos BETWEEN g.s0 AND g.e0)),
       |skeptagg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
       |            FROM skept GROUP BY doc_id),
       |cleaned AS (SELECT c.doc_id, coalesce(k.cleaned, '') AS text, c.source
       |            FROM corpus c LEFT JOIN skeptagg k USING (doc_id)),
       |${curationCascadeSql("cleaned")}
       |$curationSelect""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("source")))
    graft.operators.Curation.curateSpanCut(corpus)
      .select(col("doc_id"), col("source"),
        col("predicted_lang").as("lang_pred"), col("n_tokens"),
        col("cum").cast("long").as("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** t91 — HYBRID retrieval by reciprocal-rank fusion
    * (TextAnalysis.rrfFuse): BM25 top-20 (t85's exact fixed-point
    * ranker) fused with a dense top-20 (cosine against a broadcast
    * query vector, s52's dot kernel) as Σ 10¹² div (60 + rank) —
    * BIGINT-exact, so the hybrid ORDERING is hash-gated, not just the
    * membership. Both rank legs are post-limit windows over ≤ 20 rows
    * (t81's sanctioned class). The doc/vec id spaces share the fixture
    * domain, which is the point: a doc surfaced by BOTH modalities
    * out-scores single-list hits (n_lists = 2). */
  val t91RrfFusion: Q = {
    val terms = Seq("spark", "stream", "window")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    Q(
      "t91_rrf_fusion",
      s"""WITH dl AS (SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS nn FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents)
         |       WHERE tok IN ($inList) GROUP BY doc_id, tok),
         |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |c AS (SELECT tf.doc_id,
         |        (CAST(22000000 AS HUGEINT) * tt * tf * (2*nn - 2*df + 1)) //
         |        (CAST(2*df + 1 AS HUGEINT) * (10*tf*tt + 3*tt + 9*dl.dl*nn)) AS contrib
         |      FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot),
         |bmtop AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_fp
         |          FROM c GROUP BY doc_id ORDER BY score_fp DESC, doc_id LIMIT 20),
         |bm AS (SELECT doc_id AS id,
         |         row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rnk FROM bmtop),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |cs AS (SELECT vec_id, ${dotSql("embedding", "q")} AS score
         |       FROM embeddings CROSS JOIN qv),
         |cstop AS (SELECT vec_id, score FROM cs ORDER BY score DESC, vec_id LIMIT 20),
         |cr AS (SELECT vec_id AS id,
         |         row_number() OVER (ORDER BY score DESC, vec_id) AS rnk FROM cstop),
         |u AS (SELECT id, rnk FROM bm UNION ALL SELECT id, rnk FROM cr)
         |SELECT id AS doc_id,
         |  CAST(sum(1000000000000 // (60 + rnk)) AS BIGINT) AS rrf_fp,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM u GROUP BY id ORDER BY rrf_fp DESC, doc_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_fp").desc, col("id"))
      val bm = TextAnalysis.bm25TopDocs(Tables.documents(s, dir),
          col("doc_id"), col("text"), terms, k = 20)
        .select(col("doc_id").as("id"), col("score_fp"))
        .withColumn("rank", row_number().over(w))
        .select(col("id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q"))
      val wc = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id"))
      val cos = emb.crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          Similarity.dot(col("embedding"), col("q")).as("score"))
        .orderBy(col("score").desc, col("id")).limit(20)
        .withColumn("rank", row_number().over(wc))
        .select(col("id"), col("rank"))
      TextAnalysis.rrfFuse(Seq(bm, cos), k = 60)
        .select(col("id").as("doc_id"), col("rrf_fp"), col("n_lists"))
        .orderBy(col("rrf_fp").desc, col("doc_id"))
    }
  }

  /** d70 — LEAKAGE-SAFE train/val/test split: the sampling unit is the
    * NEAR-DUP CLUSTER (d49's connected components over the d42 pair
    * set), so near-duplicate documents can never straddle the
    * train/test boundary — the eval-integrity failure mode a doc-keyed
    * split (q71) cannot prevent. Split assignment is q71's
    * deterministic hash bucketing applied to cluster_id; the oracle is
    * d49's recursive-CTE closure + the same portable hash formula. */
  val d70LeakageSplit: Q = Q(
    "d70_leakage_split",
    s"""WITH RECURSIVE $pairsCtes,
       |sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(src, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node),
       |cl AS (SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
       |       FROM reach GROUP BY src),
       |b AS (SELECT doc_id, cluster_id,
       |        ${polyHashSql("CAST(cluster_id AS VARCHAR)")} % 100 AS h FROM cl)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.8)
      .select(col("a"), col("b"))
    val clusters = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
    graft.operators.Sampling.split(clusters, col("cluster_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select(col("id").as("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** t92 — length-bucketed batch planning (Packing
    * .lengthBucketBatches): similar-length docs batch together so each
    * batch pads to its own max — the padding-efficiency step of
    * training-batch assembly. Width-16 buckets, batch size 8,
    * deterministic (n_tokens, doc_id) in-bucket order; the whole
    * assignment is a pure corpus function, rank-for-rank mirrored by
    * the oracle. */
  val t92LengthBatching: Q = Q(
    "t92_length_batching",
    s"""WITH t AS (SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n FROM documents),
       |b AS (SELECT doc_id, n, n // 16 AS bucket FROM t),
       |r AS (SELECT doc_id, n, bucket,
       |        row_number() OVER (PARTITION BY bucket ORDER BY n, doc_id) AS rn FROM b)
       |SELECT doc_id AS id, n AS n_tokens, bucket,
       |  CAST((rn - 1) // 8 AS BIGINT) AS batch_idx
       |FROM r ORDER BY id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.operators.Packing.lengthBucketBatches(
        docs.select(col("doc_id"), size(tokens(col("text"))).as("nt")),
        col("doc_id"), col("nt"), bucketWidth = 16, batchSize = 8)
      .orderBy(col("id"))
  }

  /** t93 — per-source distribution drift vs the corpus
    * (TextAnalysis.tokenDistributionDrift): total-variation distance
    * as an exact integer fraction — TV needs no logarithm, so unlike
    * KL/JS it stays portably bit-checkable. The absent-token mass
    * telescopes to T_s·(T − shared), so neither engine builds a
    * source×vocab cross product. */
  val t93TvDrift: Q = Q(
    "t93_tv_drift",
    s"""WITH tk AS (SELECT source, unnest(${tokensSql("text")}) AS tok FROM documents),
       |cs AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS csn FROM tk GROUP BY source, tok),
       |corpus AS (SELECT tok, CAST(sum(csn) AS BIGINT) AS c FROM cs GROUP BY tok),
       |tsrc AS (SELECT source, CAST(sum(csn) AS BIGINT) AS t_s FROM cs GROUP BY source),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM corpus),
       |a AS (SELECT cs.source,
       |        sum(abs(CAST(cs.csn AS HUGEINT) * t - CAST(corpus.c AS HUGEINT) * t_s)) AS present,
       |        CAST(sum(corpus.c) AS BIGINT) AS shared
       |      FROM cs JOIN corpus USING (tok) JOIN tsrc USING (source) CROSS JOIN tot
       |      GROUP BY cs.source)
       |SELECT a.source, tsrc.t_s AS n_tokens,
       |  CAST(CAST(a.present + CAST(tsrc.t_s AS HUGEINT) * (tot.t - a.shared) AS HUGEINT) AS VARCHAR) AS tv_num,
       |  CAST(CAST(2 * CAST(tsrc.t_s AS HUGEINT) * tot.t AS HUGEINT) AS VARCHAR) AS tv_den
       |FROM a JOIN tsrc USING (source) CROSS JOIN tot
       |ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.tokenDistributionDrift(Tables.documents(s, dir),
        col("source"), col("text"))
      .orderBy(col("source"))
  }

  /** d71 — MinHash sketch calibration (Dedup.sketchCalibration): per
    * LSH candidate pair, the signature-agreement count next to the
    * exact Jaccard numerator/denominator — the audit that validates
    * k and the band layout before the sketch is trusted at scale.
    * All integers; the oracle replays the identical chain. */
  val d71SketchError: Q = Q(
    "d71_sketch_error",
    s"""WITH $minhashCtes,
       |hd AS (SELECT doc_id, list_distinct(h) AS s FROM hs),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bb l JOIN bb r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
       |SELECT a, b,
       |  CAST(len(list_filter(range(1, 9), i -> ga.sig[i] = gb.sig[i])) AS BIGINT) AS n_sig_match,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter,
       |  CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_union
       |FROM cand
       |  JOIN sig ga ON cand.a = ga.doc_id JOIN sig gb ON cand.b = gb.doc_id
       |  JOIN hd sa ON cand.a = sa.doc_id JOIN hd sb ON cand.b = sb.doc_id
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.sketchCalibration(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy(col("a"), col("b"))
  }

  /** t94 — feature hashing (TextAnalysis.featureHash): the
    * no-vocabulary bag-of-words vectorizer (hashing trick, signed) —
    * 64 buckets, signed counts, sparse "bucket:count" render. All
    * integers; the oracle rebuilds the identical signed histogram. */
  val t94FeatureHash: Q = Q(
    "t94_feature_hash",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |h AS (SELECT doc_id, unnest(list_transform(t, tok -> ${polyHashSql("tok")})) AS hv FROM toks),
       |b AS (SELECT doc_id, hv % 64 AS bucket,
       |        CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END AS sign FROM h),
       |a AS (SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS v
       |      FROM b GROUP BY doc_id, bucket HAVING sum(sign) <> 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
       |  CAST(sum(abs(v)) AS BIGINT) AS l1,
       |  string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(v AS VARCHAR), ',' ORDER BY bucket) AS vec_s
       |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.featureHash(Tables.documents(s, dir), col("doc_id"), col("text"), dim = 64)
      .orderBy(col("doc_id"))
  }

  /** s62 — retrieval evaluation (Similarity.retrievalEval): exact
    * top-10 against label-match relevance; MRR kept exact by the
    * lcm(1..10)=2520 integer scaling. Queries = every 17th vector. */
  val s62RetrievalEval: Q = Q(
    "s62_retrieval_eval",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
       |           FROM embeddings WHERE vec_id % 17 = 0),
       |sc AS (SELECT q.query_id, q.ql, c.vec_id AS neighbor_id, c.label AS nl,
       |         ${dotSql("q.qe", "c.embedding")} AS score
       |       FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id),
       |rk AS (SELECT query_id, ql, nl,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |       FROM sc),
       |t AS (SELECT * FROM rk WHERE rank <= 10)
       |SELECT query_id,
       |  min(CASE WHEN nl = ql THEN rank END) AS first_rel_rank,
       |  CAST(COALESCE(2520 // min(CASE WHEN nl = ql THEN rank END), 0) AS BIGINT) AS rr_x2520,
       |  CAST(count(*) FILTER (nl = ql) AS BIGINT) AS hits_at_k
       |FROM t GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.retrievalEval(emb, emb.filter(col("vec_id") % 17 === 0), k = 10)
      .orderBy(col("query_id"))
  }

  /** d73 — KMV / bottom-k (theta-family) set sketches per source with
    * pairwise union/intersection estimator statistics AND exact truth
    * (TextAnalysis.kmvSourceOverlap): the distinct-counting
    * calibration twin of d71. All integers; both engines replay the
    * identical bottom-k windows and merge. */
  val d73KmvSetOps: Q = Q(
    "d73_kmv_set_ops",
    s"""WITH tok AS (SELECT source, unnest(${tokensSql("text")}) AS tok FROM documents),
       |tk AS (SELECT DISTINCT source, ${polyHashSql("tok")} AS h FROM tok),
       |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM tk),
       |kmv AS (SELECT source, h FROM rk WHERE rk <= 32),
       |ss AS (SELECT DISTINCT source FROM kmv),
       |pairs AS (SELECT a.source AS s1, b.source AS s2 FROM ss a JOIN ss b ON a.source < b.source),
       |us AS (SELECT DISTINCT p.s1, p.s2, k.h AS uh
       |       FROM pairs p JOIN kmv k ON k.source = p.s1 OR k.source = p.s2),
       |urk AS (SELECT s1, s2, uh, row_number() OVER (PARTITION BY s1, s2 ORDER BY uh) AS urk FROM us),
       |u AS (SELECT s1, s2, uh FROM urk WHERE urk <= 32),
       |st AS (SELECT u.s1, u.s2, CAST(max(uh) AS BIGINT) AS kmv_theta,
       |         CAST(sum(CASE WHEN k1.h IS NOT NULL AND k2.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS kmv_inter,
       |         CAST(count(*) AS BIGINT) AS kmv_union_k
       |       FROM u LEFT JOIN kmv k1 ON k1.source = u.s1 AND k1.h = u.uh
       |              LEFT JOIN kmv k2 ON k2.source = u.s2 AND k2.h = u.uh
       |       GROUP BY u.s1, u.s2),
       |ei AS (SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS exact_inter
       |       FROM tk a JOIN tk b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY source)
       |SELECT st.s1, st.s2, st.kmv_theta, st.kmv_inter, st.kmv_union_k,
       |  COALESCE(ei.exact_inter, 0) AS exact_inter,
       |  z1.n + z2.n - COALESCE(ei.exact_inter, 0) AS exact_union
       |FROM st LEFT JOIN ei ON ei.s1 = st.s1 AND ei.s2 = st.s2
       |  JOIN sz z1 ON z1.source = st.s1 JOIN sz z2 ON z2.source = st.s2
       |ORDER BY st.s1, st.s2""".stripMargin) { (s, dir) =>
    TextAnalysis.kmvSourceOverlap(Tables.documents(s, dir),
        col("source"), col("text"), k = 32)
      .orderBy(col("s1"), col("s2"))
  }

  /** s64 — PQ codebook training step (Similarity.pqTrainStep): one
    * Lloyd iteration per subspace over the s56 codebook convention,
    * emitted as exact (n, Σ quantized) statistics per (subspace,
    * sub-centroid, sub-dim) — s61's order-insensitive M-step, per
    * subspace. Completes the PQ lifecycle: train (s64) → encode/ADC
    * (s56) → IVF search (s57) → re-rank (s58). */
  val s64PqTrainStep: Q = Q(
    "s64_pq_train",
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |${PqSql.chain("embeddings")},
       |g AS (SELECT max(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))) AS gscale
       |      FROM embeddings),
       |qz AS (SELECT e.vec_id, unnest(range(0, len(e.embedding))) AS dim,
       |        CASE WHEN g.gscale > 0
       |          THEN CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) / g.gscale * 127 + 0.5) AS BIGINT)
       |          ELSE 0 END AS qv
       |      FROM embeddings e CROSS JOIN g),
       |x AS (SELECT qz.vec_id, qz.dim // 16 AS subspace, qz.dim % 16 AS subdim, qz.qv,
       |        CASE qz.dim // 16 WHEN 0 THEN cd.c0 WHEN 1 THEN cd.c1
       |                          WHEN 2 THEN cd.c2 ELSE cd.c3 END AS cid
       |      FROM qz JOIN codes cd ON cd.vec_id = qz.vec_id)
       |SELECT CAST(subspace AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS cid,
       |  CAST(subdim AS BIGINT) AS subdim,
       |  CAST(count(*) AS BIGINT) AS n, CAST(sum(qv) AS BIGINT) AS sum_q
       |FROM x GROUP BY subspace, cid, subdim
       |ORDER BY subspace, cid, subdim""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.pqTrainStep(emb, emb.filter(col("vec_id") < 8), m = 4)
      .orderBy(col("subspace"), col("cid"), col("subdim"))
  }

  /** m77 — REAL frame-container sampling (Multimodal.sampleFramesReal
    * over ImageCodec.decodeFrameContainer): each document renders into
    * a genuine 4-frame P6 container (frame f's 8×8 pixels = text chars
    * [192f, 192(f+1))), the decoder walks the container and every 2nd
    * frame (indices 0 and 2) comes back with its perceptual hash. The
    * oracle replays the byte layout with the frame offset folded into
    * the char position — the m74 single-image construction lifted to
    * the container (same integer BT.601 luma, mean, bit-fold, bit 63
    * masked for DuckDB's signed `<<`). ASCII corpus ⇒ chars = bytes. */
  val m77FrameSample: Q = {
    def pos(f: String, channel: Int) =
      s"CAST(192*$f + 3*i + $channel AS BIGINT)"
    Q("m77_frame_sample",
      s"""WITH px AS (
         |  SELECT doc_id, rpad(substring(text, 1, 768), 768, ' ') AS p FROM documents),
         |fr AS (SELECT doc_id, p, f FROM px CROSS JOIN (SELECT unnest([0, 2]) AS f)),
         |g AS (SELECT doc_id, f,
         |  list_transform(range(0, 64), i ->
         |    (77 * CAST(ascii(substring(p, ${pos("f", 1)}, 1)) AS BIGINT)
         |     + 150 * CAST(ascii(substring(p, ${pos("f", 2)}, 1)) AS BIGINT)
         |     + 29 * CAST(ascii(substring(p, ${pos("f", 3)}, 1)) AS BIGINT)) // 256) AS lum
         |  FROM fr),
         |m AS (SELECT doc_id, f, lum,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), lum), (a, x) -> a + x) // 64 AS mean
         |  FROM g)
         |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
         |  CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 63),
         |    i -> CASE WHEN lum[i+1] > mean THEN (CAST(1 AS BIGINT) << i)
         |              ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x) AS ahash63
         |FROM m ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import graft.operators.{ImageCodec, Multimodal}
      val padded = rpad(substring(col("text"), 1, 768), 768, " ")
      val container = concat((0 until 4).flatMap { f =>
        Seq(lit("P6\n8 8\n255\n"), substring(padded, f * 192 + 1, 192))
      }: _*)
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id"), container.cast("binary").as("payload"))
      val assets = Multimodal.toAssets(payloads, "doc_id", "payload", ImageCodec.PpmMime)
      Multimodal.sampleFramesReal(s, assets, everyK = 2, maxFrames = 8).toDF()
        .select(col("id").as("doc_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("ahash").bitwiseAND(lit(Long.MaxValue)).as("ahash63"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }
  }

  /** m78 — REAL nearest-neighbor resize, oracle-gated end to end
    * (Multimodal.resizeImages = decode → resizeNearest → re-encode):
    * the 8×8 m74 payload downsamples to 4×4; dest pixel (x,y) reads
    * source (2x, 2y) (x·8/4 truncating), so the oracle reconstructs
    * the EXACT re-encoded P6 byte stream char-by-char and digests it
    * — the decoder, the resampler and the encoder are all inside the
    * hash gate. ASCII corpus ⇒ md5 over chars = md5 over bytes on
    * both engines (the m71 blob-digest rule). */
  val m78Resize: Q = {
    // dest pixel i (row-major 4×4): y=i//4, x=i%4 → src char base
    // 3·(2y·8 + 2x) = 3·(16·(i//4) + 2·(i%4)) inside the 192-char pane
    val picked = (0 until 16).flatMap { i =>
      val base = 3 * (16 * (i / 4) + 2 * (i % 4))
      (1 to 3).map(c => s"substring(p, ${base + c}, 1)")
    }.mkString(" || ")
    Q("m78_resize",
      s"""WITH px AS (
         |  SELECT doc_id, rpad(substring(text, 1, 192), 192, ' ') AS p FROM documents)
         |SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
         |  md5('P6' || chr(10) || '4 4' || chr(10) || '255' || chr(10) || $picked) AS resized_md5
         |FROM px ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.{ImageCodec, Multimodal}
      val payloads = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("P6\n8 8\n255\n"),
          rpad(substring(col("text"), 1, 192), 192, " ")).cast("binary").as("payload"))
      val assets = Multimodal.toAssets(payloads, "doc_id", "payload", ImageCodec.PpmMime)
      Multimodal.resizeImages(s, assets, 4, 4).toDF()
        .select(col("id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          md5(col("payload")).as("resized_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** t95 — language-ID evaluation (TextAnalysis.langIdEval): the
    * confusion matrix of the t61 heuristic against the corpus's gold
    * `lang` column — all-integer counts, one scan (gold rides the
    * scoring pass; no re-join). */
  val t95LangIdEval: Q = Q(
    "t95_langid_eval",
    s"""WITH toks AS (SELECT lang, ${tokensSql("text")} AS t FROM documents),
       |sc AS (SELECT lang AS gold,
       |  ${ratioSql("en")} AS en_score,
       |  ${ratioSql("de")} AS de_score,
       |  ${ratioSql("es")} AS es_score
       |FROM toks),
       |p AS (SELECT gold,
       |  CASE WHEN greatest(en_score, de_score, es_score) < 0.02 THEN 'unknown'
       |       WHEN en_score >= de_score AND en_score >= es_score THEN 'en'
       |       WHEN de_score >= es_score THEN 'de'
       |       ELSE 'es' END AS predicted_lang
       |FROM sc)
       |SELECT gold, predicted_lang, CAST(count(*) AS BIGINT) AS n
       |FROM p GROUP BY gold, predicted_lang
       |ORDER BY gold, predicted_lang""".stripMargin) { (s, dir) =>
    TextAnalysis.langIdEval(Tables.documents(s, dir), col("doc_id"), col("text"),
        gold = col("lang"))
      .orderBy(col("gold"), col("predicted_lang"))
  }

  /** t97 — within-corpus n-gram novelty (TextAnalysis.ngramNovelty):
    * per-doc distinct 5-grams and how many are shared with ANY other
    * doc — the corpus-internal memorization/boilerplate statistic
    * (d51's decontamination twin without an eval split). */
  val t97NgramNovelty: Q = Q(
    "t97_ngram_novelty",
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |sh5 AS (SELECT doc_id, ${shinglesSql(5)} AS s FROM toks),
       |hs AS (SELECT doc_id, unnest(list_distinct(list_transform(s, sg -> ${polyHashSql("sg")}))) AS h FROM sh5),
       |dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM hs GROUP BY h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(count(*) FILTER (dfq.df >= 2) AS BIGINT) AS n_shared
       |FROM hs JOIN dfq USING (h) GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.ngramNovelty(Tables.documents(s, dir), col("doc_id"), col("text"), n = 5)
      .orderBy(col("doc_id"))
  }

  /** t98 — ROLLING windowed distinct-count via HLL register MERGE
    * (Sketches.rollingHllDistinct): per hour bucket, distinct users
    * over the trailing 3 buckets, answered by max-merging the stored
    * per-bucket 64-register sketches — the mergeability property that
    * makes sketches the scalable windowed-distinct answer (one raw
    * scan into 64-rows-per-bucket partials; every window is a tiny
    * merge, never a raw rescan; the streaming twin is
    * StreamOps.hllStream's cross-batch register max). Window
    * materialized by replication (explode to ≤ W anchors), not a
    * range join — a between-join would nest-loop buckets × sketch
    * rows. Estimator is t90's portable construction (shared RhoCase /
    * mix SQL text), so est_raw is bit-reproducible; the exact
    * trailing count rides along for calibration. */
  val t98RollingHll: Q = {
    import graft.operators.Sketches
    Q(
      "t98_rolling_hll",
      s"""WITH ev AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
         |         user_id FROM events
         |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |hh AS (SELECT bucket, ${Sketches.bigintMixSql("k")} AS h
         |       FROM (SELECT bucket, ((user_id % ${graft.operators.TextHash.P}) + ${graft.operators.TextHash.P}) % ${graft.operators.TextHash.P} AS k FROM ev)),
         |b AS (SELECT bucket, ((h % 64) + 64) % 64 AS reg, h // 64 AS w FROM hh),
         |r AS (SELECT bucket, reg, ${Sketches.RhoCaseSql} AS rho FROM b),
         |m AS (SELECT bucket, reg, max(rho) AS max_rho FROM r GROUP BY bucket, reg),
         |sp AS (SELECT DISTINCT bucket AS win FROM m),
         |rep AS (SELECT unnest([bucket, bucket + 1, bucket + 2]) AS win, reg, max_rho FROM m),
         |mw AS (SELECT win, reg, max(max_rho) AS max_rho
         |       FROM rep JOIN sp USING (win) GROUP BY win, reg),
         |e AS (SELECT win AS bucket, CAST(count(*) AS BIGINT) AS n_regs,
         |        sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s_present
         |      FROM mw GROUP BY win),
         |du AS (SELECT DISTINCT bucket, user_id FROM ev),
         |durep AS (SELECT unnest([bucket, bucket + 1, bucket + 2]) AS win, user_id FROM du),
         |x AS (SELECT win AS bucket, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |      FROM durep JOIN sp USING (win) GROUP BY win)
         |SELECT e.bucket, e.n_regs,
         |  CAST('0.709' AS DOUBLE) * CAST(4096 AS DOUBLE)
         |    / (e.s_present + (64 - e.n_regs)) AS est_raw,
         |  x.n_exact
         |FROM e JOIN x USING (bucket) ORDER BY bucket""".stripMargin) { (s, dir) =>
      Sketches.rollingHllDistinct(Tables.events(s, dir),
          col("ts"), col("user_id"), bucketSec = 3600L, windowBuckets = 3)
        .orderBy(col("bucket"))
    }
  }

  /** t99 — ROLLING MEDIAN via mergeable bottom-k row samples
    * (Sketches.rollingMedianSample): per-bucket bottom-64-by-row-hash
    * samples merge into the TRUE bottom-64 of any trailing window
    * (every window-minimal hash is bucket-minimal), giving an exact
    * uniform window sample with no raw rescan — t98's merge cost
    * model with VALUES attached. Estimate = lower median of the
    * sample (q84's rule); the exact window median rides along for
    * calibration. Fully deterministic (integer hash membership), so
    * even the estimate is oracle-hash-gated — not just bounded. */
  val t99RollingMedian: Q = {
    import graft.operators.Sketches
    val P = graft.operators.TextHash.P
    Q(
      "t99_rolling_median",
      s"""WITH ev AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
         |         ((event_id % $P) + $P) % $P AS k0,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE ts IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL),
         |b AS (SELECT bucket, ${Sketches.bigintMixSql("k0")} AS h, k0, cents FROM ev),
         |sb AS (SELECT bucket, h, k0, cents,
         |         row_number() OVER (PARTITION BY bucket ORDER BY h, k0) AS rk FROM b),
         |samp AS (SELECT bucket, h, k0, cents FROM sb WHERE rk <= 64),
         |sp AS (SELECT DISTINCT bucket AS win FROM b),
         |rep AS (SELECT unnest([bucket, bucket + 1, bucket + 2]) AS win, h, k0, cents FROM samp),
         |sw0 AS (SELECT win, h, k0, cents,
         |          row_number() OVER (PARTITION BY win ORDER BY h, k0) AS rk
         |        FROM rep JOIN sp USING (win)),
         |sw AS (SELECT win, h, k0, cents FROM sw0 WHERE rk <= 64),
         |est AS (SELECT win, cents AS est_median_cents, sn AS sample_k FROM (
         |          SELECT win, cents,
         |            row_number() OVER (PARTITION BY win ORDER BY cents, h, k0) AS vr,
         |            count(*) OVER (PARTITION BY win) AS sn
         |          FROM sw) WHERE vr = (sn + 1) // 2),
         |arep AS (SELECT unnest([bucket, bucket + 1, bucket + 2]) AS win, h, k0, cents FROM b),
         |aw AS (SELECT win, h, k0, cents FROM arep JOIN sp USING (win)),
         |ex AS (SELECT win, cents AS exact_median_cents, n AS n_rows FROM (
         |          SELECT win, cents,
         |            row_number() OVER (PARTITION BY win ORDER BY cents, h, k0) AS vr,
         |            count(*) OVER (PARTITION BY win) AS n
         |          FROM aw) WHERE vr = (n + 1) // 2)
         |SELECT ex.win AS bucket, CAST(ex.n_rows AS BIGINT) AS n_rows,
         |  CAST(est.sample_k AS BIGINT) AS sample_k,
         |  est.est_median_cents, ex.exact_median_cents
         |FROM ex JOIN est ON est.win = ex.win ORDER BY bucket""".stripMargin) { (s, dir) =>
      Sketches.rollingMedianSample(Tables.events(s, dir),
          col("ts"), col("event_id"), col("value"),
          bucketSec = 3600L, k = 64, windowBuckets = 3)
        .orderBy(col("bucket"))
    }
  }

  /** d75 — canonicalized exact dedup (Dedup.exactCanonical): every
    * 9th doc re-ingested decorated (ASCII-uppercased via translate +
    * trailing "  !! ") — raw-exact d40 misses these, the canonical
    * form collapses them. n_variants counts the distinct raw texts
    * behind each canonical group. */
  val d75CanonicalDedup: Q = {
    Q("d75_canonical_dedup",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |    translate(text, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '  !! '
         |  FROM documents WHERE doc_id % 9 = 0),
         |canon AS (
         |  SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(
         |      ${graft.operators.TextHash.asciiLowerSql("text")},
         |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS c
         |  FROM corpus)
         |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_copies,
         |  CAST(count(DISTINCT text) AS BIGINT) AS n_variants
         |FROM canon WHERE c IS NOT NULL AND c <> ''
         |GROUP BY c
         |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val lo = ('a' to 'z').mkString
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(translate(col("text"), lo, lo.toUpperCase), lit("  !! ")).as("text")))
      Dedup.exactCanonical(corpus, col("doc_id"), col("text"))
        .orderBy(col("keep_id"))
    }
  }

  /** t96 — temperature-weighted mixture under a token budget
    * (Sampling.temperatureBudget): α = 0.5 per-source allocations
    * (∝ √tokens — IEEE sqrt is correctly rounded, so the integer
    * weights agree cross-engine), hash-ordered strict-prefix
    * admission per source. */
  val t96TemperatureMix: Q = Q(
    "t96_temperature_mix",
    s"""WITH toks AS (SELECT doc_id, source, ${tokensSql("text")} AS t FROM documents),
       |q AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
       |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS c FROM q GROUP BY source),
       |wt AS (SELECT source, CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS w FROM tot),
       |ws AS (SELECT CAST(sum(w) AS BIGINT) AS ws FROM wt),
       |al AS (SELECT source, CASE WHEN ws > 0 THEN (CAST(20000 AS HUGEINT) * w) // ws ELSE 0 END AS alloc FROM wt CROSS JOIN ws),
       |r AS (SELECT doc_id, source, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY source
       |          ORDER BY (doc_id * 3079 + 5024) % 1000000007, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM q)
       |SELECT r.source, r.doc_id, r.n_tokens,
       |  CAST(r.cum AS BIGINT) AS cum_tokens, CAST(al.alloc AS BIGINT) AS alloc
       |FROM r JOIN al USING (source) WHERE r.cum <= al.alloc
       |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    val q = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(graft.operators.TextHash.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.Sampling.temperatureBudget(q, budget = 20000L)
      .orderBy(col("source"), col("doc_id"))
  }

  /** s63 — filtered vector search audit
    * (Similarity.filterRecallAudit): even-label metadata filter,
    * exact top-5; pre-filter vs post-filter counts per query. */
  val s63FilteredKnn: Q = Q(
    "s63_filtered_knn",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |fsc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |          ${dotSql("q.qe", "c.embedding")} AS score
       |        FROM embeddings c CROSS JOIN q
       |        WHERE c.vec_id <> q.query_id AND c.label % 2 = 0),
       |frk AS (SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
       |        FROM fsc),
       |pre AS (SELECT query_id, neighbor_id FROM frk WHERE rk <= 5),
       |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS nl,
       |          ${dotSql("q.qe", "c.embedding")} AS score
       |        FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id),
       |rk AS (SELECT query_id, neighbor_id, nl,
       |          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
       |        FROM sc),
       |post AS (SELECT query_id, neighbor_id FROM rk WHERE rk <= 5 AND nl % 2 = 0),
       |np AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_pre FROM pre GROUP BY query_id),
       |ns AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_post FROM post GROUP BY query_id),
       |nc AS (SELECT pre.query_id, CAST(count(*) AS BIGINT) AS n_common
       |       FROM pre JOIN post ON pre.query_id = post.query_id AND pre.neighbor_id = post.neighbor_id
       |       GROUP BY pre.query_id)
       |SELECT q.query_id, COALESCE(np.n_pre, 0) AS n_pre,
       |  COALESCE(ns.n_post, 0) AS n_post, COALESCE(nc.n_common, 0) AS n_common
       |FROM q LEFT JOIN np ON np.query_id = q.query_id
       |  LEFT JOIN ns ON ns.query_id = q.query_id
       |  LEFT JOIN nc ON nc.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Similarity.filterRecallAudit(emb, emb.filter(col("vec_id") % 50 === 0),
        keep = col("label") % 2 === 0, k = 5)
      .orderBy(col("query_id"))
  }

  val all: Seq[Q] = Seq(
    d40DedupExact, d41MinhashLsh, d42NearDupPairs, d43Simhash, d44EmbeddingNearDup,
    d46SrpSketch, d47CharNgramDedup, d48MinhashAgg, d49DedupClusters, d51Decontaminate,
    d52SimhashNearDup, d53DedupApply, d54StarClusters, d55DeltaDedup, d56Containment,
    d57DropContained, d58ContainmentMinimal, d59RepeatedSpans, d60DropSpans,
    d61ContainmentScreen, d62CdcChunks, d63CdcApply, d64Winnowing, d65FpOverlap,
    d66CanonicalPick, d67ClusterSplit, d68VarintPostings,
    t73ChunkOverlap,
    s50KnnBrute, s51KnnIvf, s52CentroidAssign, s53Int8Quant, s54AnnRecall, s55EmbedClusters,
    s56PqAdc, s57IvfPqTopK, s58PqRerank, s59EmbedDedupApply, s60MultiProbe,
    s61KmeansStep, g06LabelProp,
    t60TextQuality, t61LangId, t62TokenStats, t63Fingerprint, t64Repetition, t65CorpusDf,
    t66Redact, t67TokenBudget, t68Tfidf, t69MixShuffle, t70PackSequences, t71BigramLm,
    t74QuantileFilter, t75SourceCap, t76HeavyHitters, t77CurationPipeline, t78CmSketch,
    t79CurationSpans, t80LmGate, t81BpePairs, t82BpeMerge, t83BpeTrain, t84BpeEncode,
    t85Bm25, t86VocabGrowth, t87LinearScore, t88PhraseSearch, t89UrlCanon,
    d72UrlDedup, t90HllDistinct,
    t72SegmentDedup,
    m70MultimodalMeta, m71PayloadChunks,
    m72PayloadAhash, m73PayloadNearDup, m74ImageDecode, m75AudioDecode, m76PatchAhash,
    d69PatchNearDup, d45MinhashFast,
    t91RrfFusion, d70LeakageSplit, t92LengthBatching, t93TvDrift,
    t94FeatureHash, s62RetrievalEval, d71SketchError, s63FilteredKnn, t95LangIdEval,
    m77FrameSample, d73KmvSetOps, m78Resize, s64PqTrainStep, t96TemperatureMix,
    d75CanonicalDedup, t97NgramNovelty, t98RollingHll, t99RollingMedian,
    t100HostCap, s65BatchKnn, s66BatchAdc, s67BatchIvfPq, s68BatchRerank,
    s69CentroidAssignBig, s70BatchKnnBig, s71IvfPartitioned, s72IvfAppend,
    s73IvfCompact, s74IvfBucketed, s75IvfBucketedInc, s76IvfPqOnLayout)
}
