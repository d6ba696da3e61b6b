package graft

import org.apache.spark.sql.functions.col

/** Dev-only measurement harness (test scope, never shipped) for the
  * IVF layout's partition-count REGIME (r18 verdict item 2 — the
  * `LiteralCodebookMax` treatment for storage): hive
  * one-directory-per-cell is fine at catalogue nlist but a
  * filesystem/catalog pathology at production nlist (10k-100k cells).
  * This probe, per nlist, builds BOTH layouts over the full corpus —
  * per-cell (`buildIvfLayout`) and bucket-grouped
  * (`buildIvfLayoutBucketed`, 64 buckets) — and reports build wall
  * time, directory count, data-file count, and the probe wall (min of
  * 2) for each, asserting the two probes stay row-identical. Builds
  * are timed once (a 20k-directory build is the pathology being
  * measured — minutes; re-running it doubles the tool's cost for a
  * number whose magnitude, not third digit, is the finding).
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.DevLayoutRegime <sfDir> [nlists] [--json <path>]"
  *   nlists default 200,2000 (use 200,2000,20000 with a >=20k-vector
  *   corpus, e.g. the /tmp/sf1 derived one)
  */
object DevLayoutRegime {
  def main(args: Array[String]): Unit = {
    val jsonPath = args.sliding(2).collectFirst {
      case Array("--json", p) => p }
    val plain = args.filterNot(_.startsWith("--"))
      .filterNot(a => jsonPath.contains(a))
    val sfDir = plain.headOption.getOrElse("/root/testdata/sf0.1")
    val nlists = plain.lift(1).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(200, 2000))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    import graft.operators.Similarity
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    emb.persist(); val n = emb.count() // take scan IO out of every cell
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def stats(dir: String): (Int, Int) = {
      val root = new java.io.File(dir)
      val dirs = root.listFiles().filter(_.isDirectory)
      val files = dirs.map(_.listFiles()
        .count(_.getName.endsWith(".parquet"))).sum
      (dirs.length, files)
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(t => (t._1, t._2)).toSeq
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    println(s"corpus $sfDir: $n vectors")
    println("| nlist | cell build s | cell dirs | cell files | cell probe s (min2) | bkt build s | bkt dirs | bkt files | bkt probe s (min2) |")
    println("|---|---|---|---|---|---|---|---|---|")
    for (nlist <- nlists if nlist <= n) {
      val cents = emb.filter(col("vec_id") < nlist)
      val qs = emb.filter(col("vec_id") % 997 === 7)
      val cellDir = s"/tmp/graft_regime/cell_$nlist"
      val bktDir = s"/tmp/graft_regime/bkt_$nlist"
      var cellLayout: org.apache.spark.sql.DataFrame = null
      val tCellBuild = time { cellLayout = Similarity.buildIvfLayout(emb, cents, cellDir) }
      val (cellDirs, cellFiles) = stats(cellDir)
      val tCellProbe = (1 to 2).map(_ => time {
        Similarity.ivfMultiProbeTopKBatchOnLayout(
          cellLayout, cents, qs, k = 5, nProbe = 2).count(); ()
      }).min
      var bktLayout: org.apache.spark.sql.DataFrame = null
      val tBktBuild = time { bktLayout = Similarity.buildIvfLayoutBucketed(emb, cents, bktDir, buckets = 64) }
      val (bktDirs, bktFiles) = stats(bktDir)
      val tBktProbe = (1 to 2).map(_ => time {
        Similarity.ivfMultiProbeTopKBatchOnBucketedLayout(
          bktLayout, cents, qs, k = 5, nProbe = 2, buckets = 64).count(); ()
      }).min
      val same = canon(Similarity.ivfMultiProbeTopKBatchOnLayout(
          cellLayout, cents, qs, k = 5, nProbe = 2)) ==
        canon(Similarity.ivfMultiProbeTopKBatchOnBucketedLayout(
          bktLayout, cents, qs, k = 5, nProbe = 2, buckets = 64))
      require(same, s"per-cell and bucketed probes diverged at nlist=$nlist")
      println(f"| $nlist | $tCellBuild%.2f | $cellDirs | $cellFiles | $tCellProbe%.2f | $tBktBuild%.2f | $bktDirs | $bktFiles | $tBktProbe%.2f |")
      rows += f"""{"nlist":$nlist,"cell_build_s":$tCellBuild%.3f,"cell_dirs":$cellDirs,"cell_files":$cellFiles,"cell_probe_s":$tCellProbe%.3f,"bkt_build_s":$tBktBuild%.3f,"bkt_dirs":$bktDirs,"bkt_files":$bktFiles,"bkt_probe_s":$tBktProbe%.3f}"""
    }
    jsonPath.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        rows.mkString(s"""{"corpus":"$sfDir","vectors":$n,""" +
          s""""layout_cell_dir_max":${Similarity.LayoutCellDirMax},"rows":[""",
          ",", "]}\n"))
      println(s"json written to $p")
    }
    spark.stop()
  }
}
