package graft

import org.apache.spark.sql.functions.col

/** Dev-only measurement harness (test scope, never shipped) for the
  * literal-vs-frame codebook crossover (r17 verdict item 6):
  * `Similarity.LiteralCodebookMax = 64` was argued from whole-stage
  * codegen's 64KB method limit, not measured. This probe times
  * nearest-centroid assignment over the full embeddings corpus under
  * BOTH forced strategies at k ∈ {16, 64, 128, 512, 2000} and prints
  * a markdown table for NOTES. Two timed runs per cell, min taken
  * (first-run JIT/codegen noise); construction time (driver-side
  * collect + expression build for the literal form) is included in
  * the cell — at large k that cost is part of why the literal form
  * loses. Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.DevCrossover /root/testdata/sf0.1 [--json <path>]"
  * `--json` additionally writes the table as a machine-readable
  * artifact (r18 verdict item 8: the LiteralCodebookMax evidence
  * should regenerate mechanically, not live only in NOTES prose).
  */
object DevCrossover {
  def main(args: Array[String]): Unit = {
    val jsonPath = args.sliding(2).collectFirst { case Array("--json", p) => p }
    val plain = args.filterNot(_.startsWith("--"))
      .filterNot(a => jsonPath.contains(a))
    val sfDir = plain.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    import graft.operators.Similarity
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    emb.persist(); emb.count() // take scan IO out of every cell
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    println("| k | literal s (min2) | frame s (min2) | ratio lit/frame |")
    println("|---|---|---|---|")
    for (k <- Seq(16, 64, 128, 512, 2000)) {
      val cents = emb.filter(col("vec_id") < k)
      def run(mk: => Similarity.Codebook): Double =
        (1 to 2).map(_ => time {
          Similarity.centroidAssignWith(mk, emb).count(); ()
        }).min
      val lit = run(Similarity.literalCodebookOf(cents))
      val frm = run(Similarity.frameCodebookOf(cents))
      println(f"| $k | $lit%.2f | $frm%.2f | ${lit / frm}%.2f |")
      rows += f"""{"k":$k,"literal_s":$lit%.3f,"frame_s":$frm%.3f,"ratio":${lit / frm}%.3f}"""
    }
    jsonPath.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        rows.mkString(s"""{"corpus":"$sfDir","literal_codebook_max":${Similarity.LiteralCodebookMax},"rows":[""", ",", "]}\n"))
      println(s"json written to $p")
    }
    spark.stop()
  }
}
