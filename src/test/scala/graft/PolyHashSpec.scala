package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.PolyHash
import graft.operators.TextHash

/** Property: the codegen'd PolyHash expression computes exactly the
  * value of the reference HOF expression (and therefore of the DuckDB
  * oracle emitted from the same formula) for arbitrary strings. */
class PolyHashSpec extends SparkSpec {
  import spark.implicits._

  test("native kernel == HOF reference on generated strings (bulk)") {
    val gen = Gen.listOfN(500, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(40)),
      Gen.asciiPrintableStr.map(_.take(40)),
      Gen.const(""),
      Gen.nonEmptyListOf(Gen.oneOf('a', ' ', 'é', 'ß', '中')).map(_.mkString)))
    val strings = gen.apply(Gen.Parameters.default, Seed(42L)).get
    val df = strings.toDF("s")
    val mismatches = df.select(
        col("s"),
        TextHash.polyHash(col("s")).as("hof"),
        TextHash.polyHashFast(col("s")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(mismatches.count() == 0L,
      s"first mismatch: ${mismatches.take(1).mkString}")
  }

  test("JVM kernel matches the closed form and handles nulls/empties") {
    assert(PolyHash.hash("") == 0L)
    assert(PolyHash.hash("abc") == 97L * 961 + 98 * 31 + 99)
    val r = Seq((1, Option.empty[String]), (2, Some("x")))
      .toDF("id", "s")
      .select(TextHash.polyHashFast(col("s")).as("h"))
      .collect()
    assert(r(0).isNullAt(0) && r(1).getLong(0) == 'x'.toLong)
  }

  test("rolling shingle hashes == per-window poly_hash on generated strings") {
    val gen = Gen.listOfN(300, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(30)),
      Gen.asciiPrintableStr.map(_.take(30)),
      Gen.const(""), Gen.const("ab"),
      Gen.nonEmptyListOf(Gen.oneOf('x', ' ', 'é', '中')).map(_.mkString.take(20))))
    val strings = gen.apply(Gen.Parameters.default, Seed(11L)).get
    val df = strings.toDF("s")
    val reference = when(length(col("s")) >= 4, transform(
        sequence(lit(1), length(col("s")) - 3),
        i => TextHash.polyHashFast(col("s").substr(i, lit(4)))))
      .otherwise(array().cast("array<bigint>"))
    val mismatches = df.select(
        reference.as("ref"),
        graft.functions.PolyHashShingles.polyHashShingles(col("s"), 4).as("rolled"))
      .filter(col("ref") =!= col("rolled"))
    assert(mismatches.count() == 0L, mismatches.take(1).mkString)
  }

  test("fused token-shingle hashes == staged HOF chain on generated + real text") {
    val gen = Gen.listOfN(300, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(60)),
      Gen.asciiPrintableStr.map(_.take(60)),
      Gen.const(""), Gen.const("one two"), Gen.const("  padded   spaces  "),
      Gen.nonEmptyListOf(Gen.oneOf('a', 'B', ' ', ' ', 'é', '中')).map(_.mkString.take(40))))
    val strings = gen.apply(Gen.Parameters.default, Seed(7L)).get
    val df = strings.toDF("text") // generated strings
      .unionByName(graft.engine.Tables.documents(spark, sfDir)
        .select(col("text")).limit(100)) // real corpus text
    // staged HOF reference: tokens -> 3-shingles (NON-distinct to match
    // the all-windows kernel) -> poly_hash per shingle
    val toks = TextHash.tokens(col("text"))
    val hofShingles = when(size(toks) >= 3, transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val mism = df.select(
        transform(hofShingles, s => TextHash.polyHashFast(s)).as("hof"),
        graft.functions.TokenShingleHashes.tokenShingleHashes(col("text"), 3).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(mism.count() == 0L, mism.take(1).mkString)
  }

  test("word_shingles STRINGS == the staged HOF windows (the bigram-family contract)") {
    // bigramCounts (t71/t80/q...) keys its aggregation and joins on
    // these exact strings — the kernel must reproduce the HOF bigram
    // builder byte-for-byte, split rules included
    val gen = Gen.listOfN(300, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(60)),
      Gen.asciiPrintableStr.map(_.take(60)),
      Gen.const(""), Gen.const("one two"), Gen.const("  padded   spaces  "),
      Gen.nonEmptyListOf(Gen.oneOf('a', 'B', ' ', ' ', 'é', '中')).map(_.mkString.take(40))))
    val strings = gen.apply(Gen.Parameters.default, Seed(31L)).get
    val df = strings.toDF("text")
      .unionByName(graft.engine.Tables.documents(spark, sfDir)
        .select(col("text")).limit(100))
    val toks = TextHash.tokens(col("text"))
    val hof = when(size(toks) >= 2, transform(
        sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val mism = df.select(hof.as("hof"),
        graft.functions.WordShingles.wordShingles(col("text"), 2).as("native"))
      .filter(!(col("hof") <=> col("native")))
    assert(mism.count() == 0L, mism.take(1).mkString)
  }

  test("base-131 family member == HOF fold with base 131 (d45 portable path)") {
    val gen = Gen.listOfN(300, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(50)),
      Gen.asciiPrintableStr.map(_.take(50)),
      Gen.const(""), Gen.const("one two three four"),
      Gen.nonEmptyListOf(Gen.oneOf('a', ' ', 'é', '中')).map(_.mkString.take(30))))
    val strings = gen.apply(Gen.Parameters.default, Seed(131L)).get
    val df = strings.toDF("s")
    // HOF reference fold at base 131 — the same formula the d45 oracle
    // emits via polyHashSql(c, 131)
    val hof131 = aggregate(
      sequence(lit(1), length(col("s"))),
      lit(0L),
      (acc, i) => (acc * 131 + ascii(col("s").substr(i, lit(1)))) % TextHash.P)
    val mism = df.select(
        hof131.as("hof"),
        TextHash.polyHashFast(col("s"), base = 131L).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(mism.count() == 0L, mism.take(1).mkString)
    // fused shingle kernel at base 131 == per-window base-131 poly_hash
    val docs = graft.engine.Tables.documents(spark, sfDir).limit(100)
      .select(col("text"))
      .unionByName(strings.toDF("text"))
    val toks = TextHash.tokens(col("text"))
    val hofShingles = when(size(toks) >= 3, transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val mism2 = docs.select(
        transform(hofShingles, sg => TextHash.polyHashFast(sg, base = 131L)).as("hof"),
        graft.functions.TokenShingleHashes.tokenShingleHashes(col("text"), 3, base = 131L).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(mism2.count() == 0L, mism2.take(1).mkString)
  }

  test("native minhash signature == array-fold form (incl. empty -> nulls)") {
    val docs = graft.engine.Tables.documents(spark, sfDir).limit(200)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, "too short"), (900002L, "")).toDF("doc_id", "text"))
    val native = graft.operators.Dedup.minhashSignatures(docs, col("doc_id"), col("text"))
    val hof = graft.operators.Dedup.minhashSignaturesHof(docs, col("doc_id"), col("text"))
    val joined = native.withColumnRenamed("sig", "sn")
      .join(hof.withColumnRenamed("sig", "sh"), "doc_id")
    assert(joined.filter(not(col("sn") <=> col("sh"))).count() == 0L)
    val shortSig = native.filter(col("doc_id") === 900001L)
      .select(col("sig")).head().getSeq[Any](0)
    assert(shortSig.length == 8 && shortSig.forall(_ == null))
  }

  test("sorted intersect count == size(array_intersect) on sorted distinct sets") {
    val docs = graft.engine.Tables.documents(spark, sfDir).limit(120)
    val sh = docs.select(col("doc_id"),
      array_sort(array_distinct(
        graft.functions.TokenShingleHashes.tokenShingleHashes(col("text"), 3))).as("s"))
    val pairs = sh.select(col("doc_id").as("a"), col("s").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("b"), col("s").as("sb")))
      .filter(col("a") % 5 === 0 && col("b") % 7 === 0)
    val mism = pairs.select(
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("builtin"),
        graft.functions.SortedIntersectCount.sortedIntersectCount(col("sa"), col("sb")).as("native"))
      .filter(col("builtin") =!= col("native"))
    assert(mism.count() == 0L, mism.take(1).mkString)
  }

  test("native dot product == HOF fold bit-for-bit on real embeddings + null/length edges") {
    val emb = graft.engine.Tables.embeddings(spark, sfDir).limit(200)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")))
      .filter(col("a_id") % 7 === 0 && col("b_id") % 11 === 0)
    val mism = pairs.select(
        graft.operators.Similarity.dot(col("ea"), col("eb")).as("native"),
        graft.operators.Similarity.dotHof(col("ea"), col("eb")).as("hof"))
      .filter(not(col("native") <=> col("hof")))
    assert(mism.count() == 0L, mism.take(1).mkString)
    // null semantics: null array, null element, unequal lengths → null
    val edges = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),   // 11.0
      (None, Some(Seq(1.0f))),                          // null array
      (Some(Seq(1.0f)), Some(Seq(1.0f, 2.0f))),         // length mismatch
      (Some(Seq.empty[Float]), Some(Seq.empty[Float]))  // empty → 0.0
    ).toDF("a", "b")
    val out = edges.select(
      graft.operators.Similarity.dot(col("a"), col("b")).as("native"),
      graft.operators.Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(out(0).getDouble(0) == 11.0 && out(0).getDouble(1) == 11.0)
    assert(out(1).isNullAt(0) && out(1).isNullAt(1))
    assert(out(2).isNullAt(0) && out(2).isNullAt(1))
    assert(out(3).getDouble(0) == 0.0 && out(3).getDouble(1) == 0.0)
  }

  test("poly_hash is callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("SELECT poly_hash('abc') AS h").as[Long].head()
    assert(r == 97L * 961 + 98 * 31 + 99)
  }

  test("register adds only missing functions: the extension's stay, a plain session gets all") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = Seq("poly_hash", "poly_hash_shingles", "token_shingle_hashes", "word_shingles",
      "minhash_sig", "dot_product", "sorted_intersect_count", "simhash_fold", "cdc_chunks",
      "winnow_positions", "delta_varint_encode", "delta_varint_decode").map(FunctionIdentifier(_))
    val registry = spark.sessionState.functionRegistry
    val installed = names.map(registry.lookupFunction(_))
    assert(installed.forall(_.isDefined))
    graft.functions.GraftFunctions.register(spark)
    names.zip(installed).foreach { case (n, info) =>
      assert(registry.lookupFunction(n).get eq info.get, s"$n was replaced")
    }
    val plain = org.apache.spark.sql.GraftExpressionBridge.plainSession(spark.sparkContext)
    assert(names.forall(n => !plain.sessionState.functionRegistry.functionExists(n)))
    graft.functions.GraftFunctions.register(plain)
    assert(names.forall(plain.sessionState.functionRegistry.functionExists))
    assert(plain.sql("SELECT poly_hash('abc') AS h").head().getLong(0) == 97L * 961 + 98 * 31 + 99)
  }

  test("full custom-expression surface is SQL-callable") {
    graft.functions.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  size(token_shingle_hashes('a b c d', 3)) AS n_sh,
        |  size(word_shingles('a b c d', 3)) AS n_ws,
        |  size(minhash_sig(token_shingle_hashes('a b c d', 3))) AS n_sig,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS ic,
        |  size(poly_hash_shingles('abcd', 2)) AS n_cs,
        |  aggregate(cdc_chunks('abcdefgh', 8, 64), 0L, (a, c) -> a + c.len) AS cdc_total,
        |  winnow_positions(array(5L, 1L, 1L, 9L), 2) AS wp,
        |  delta_varint_decode(delta_varint_encode(array(7L, 300L, 301L))) AS dv""".stripMargin).head()
    assert(row.getInt(0) == 2 && row.getInt(1) == 2 && row.getInt(2) == 8)
    assert(row.getDouble(3) == 11.0 && row.getLong(4) == 2L && row.getInt(5) == 3)
    assert(row.getLong(6) == 8L) // chunks tile the input
    // windows: [5,1]→pos2, [1,1]→pos3 (rightmost tie), [1,9]→pos3
    assert(row.getSeq[Long](7) == Seq(2L, 3L))
    assert(row.getSeq[Long](8) == Seq(7L, 300L, 301L))
  }

  test("winnow positions == brute-force rightmost-min per window on tie-heavy arrays") {
    // small value range FORCES ties — the rule under test; lengths
    // cover 0, 1, < w, = w, > w for both window widths
    val gen = Gen.listOfN(400, Gen.oneOf(
      Gen.const(List.empty[Long]),
      Gen.listOfN(1, Gen.choose(0L, 3L)),
      Gen.nonEmptyListOf(Gen.choose(0L, 3L)).map(_.take(30)),
      Gen.nonEmptyListOf(Gen.choose(0L, graft.operators.TextHash.P - 1)).map(_.take(30))))
    val arrays = gen.apply(Gen.Parameters.default, Seed(23L)).get
    def brute(hs: List[Long], w: Int): Seq[Long] = {
      val n = hs.size
      if (n == 0) Seq.empty
      else (0 to math.max(n - w, 0)).map { j =>
        val hi = math.min(j + w - 1, n - 1)
        (j to hi).minBy(i => (hs(i), -i)) + 1L
      }.distinct
    }
    for (w <- Seq(1, 4, 8)) {
      val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "hs")
      val got = df.select(col("id"),
          graft.functions.WinnowPositions.winnowPositions(col("hs"), w).as("ps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      arrays.zipWithIndex.foreach { case (a, i) =>
        val exp = brute(a, w)
        assert(got(i.toLong) == exp,
          s"w=$w input=$a got=${got(i.toLong)} expected=$exp")
        // positions strictly increasing (distinct + sorted by construction)
        assert(got(i.toLong) == got(i.toLong).distinct.sorted)
      }
    }
  }

  test("delta-varint codec: roundtrip on generated sorted lists; known bytes; rejects unsorted/negative/truncated") {
    import graft.functions.VarintPostings
    // roundtrip property over generated sorted non-negative lists
    val rnd = new scala.util.Random(42)
    val lists = (0 until 200).map { _ =>
      val n = rnd.nextInt(30)
      Seq.fill(n)(math.abs(rnd.nextLong()) % 3000000L).sorted
    } :+ Seq.empty[Long] :+ Seq(0L, 0L, 0L) :+ Seq(Long.MaxValue - 1, Long.MaxValue)
    val df = lists.toDF("p")
    val bad = df.select(col("p"),
        VarintPostings.decodeNative(VarintPostings.encodeNative(col("p"))).as("rt"))
      .filter(not(col("p") <=> col("rt"))).count()
    assert(bad == 0L, s"$bad roundtrip mismatches")
    // known byte layouts: [0] -> 00; [300] -> AC 02; [1,2,3] -> 01 01 01
    def enc(xs: Seq[Long]): Seq[Int] = Seq(xs).toDF("p")
      .select(VarintPostings.encodeNative(col("p"))).collect()
      .head.getAs[Array[Byte]](0).toSeq.map(_ & 0xff)
    assert(enc(Seq(0L)) == Seq(0x00))
    assert(enc(Seq(300L)) == Seq(0xac, 0x02))
    assert(enc(Seq(1L, 2L, 3L)) == Seq(0x01, 0x01, 0x01))
    // rejections: unsorted and negative -> null blob; truncated -> null list
    val rejects = Seq(Seq(3L, 1L), Seq(-1L)).toDF("p")
      .select(VarintPostings.encodeNative(col("p")).as("b"))
      .filter(col("b").isNotNull).count()
    assert(rejects == 0L)
    val trunc = Seq(Array[Byte](0x80.toByte)).toDF("b")
      .select(VarintPostings.decodeNative(col("b")).as("d"))
      .collect().head
    assert(trunc.isNullAt(0))
  }

  test("whole-stage codegen path produces the same values as interpreted eval") {
    val df = graft.engine.Tables.documents(spark, sfDir)
    val viaExpr = df.select(sum(TextHash.polyHashFast(col("text")))).as[Long].head()
    val viaJvm = df.select(col("text")).as[String].collect()
      .map(PolyHash.hash(_)).sum
    assert(viaExpr == viaJvm)
  }

  test("native simhash fold == nested-HOF reference on generated arrays and real text") {
    // generated: arbitrary longs (incl. negatives/high bits — the SQL
    // fold's arithmetic shiftright semantics), null elements (−1 on
    // every bit), empty arrays (all ties → 0)
    val gen = Gen.listOfN(300, Gen.oneOf(
      Gen.listOfN(0, Gen.long).map(_.map(Option(_))),
      Gen.nonEmptyListOf(Gen.oneOf(
        Gen.choose(0L, graft.operators.TextHash.P - 1).map(Option(_)),
        Gen.long.map(Option(_)),
        Gen.const(Option.empty[Long]))).map(_.take(50))))
    val arrays = gen.apply(Gen.Parameters.default, Seed(7L)).get
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "hs")
    val mism = df.select(col("id"),
        expr(graft.operators.Dedup.SimHashFoldSql).as("hof"),
        graft.functions.SimHashFold.simhashFold(col("hs")).as("native"))
      .filter(not(col("hof") <=> col("native")))
    assert(mism.count() == 0L, s"first mismatch: ${mism.take(1).mkString}")
    // real corpus via the full simhash32 path (native) vs the HOF twin
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val hofSim = docs.select(col("doc_id"),
        transform(TextHash.tokens(col("text")), t => TextHash.polyHashFast(t)).as("hs"))
      .select(col("doc_id"), expr(graft.operators.Dedup.SimHashFoldSql).as("simhash"))
    val nativeSim = graft.operators.Dedup.simhash32(docs, col("doc_id"), col("text"))
    assert(nativeSim.exceptAll(hofSim).count() == 0L &&
      hofSim.exceptAll(nativeSim).count() == 0L)
  }
}
