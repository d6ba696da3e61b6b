package graft

/** Dev tool (test scope, never shipped): print the formatted physical
  * plan and wall time for named catalogue queries, on the same session
  * config Bench and Verify run. Usage:
  *   sbt "Test/runMain graft.Explain <sfDir> <queryName> [queryName...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    names.foreach { name =>
      // time CONSTRUCTION + action together: iterative operators
      // (connected components) run their loop jobs eagerly while the
      // DataFrame is being built, which is exactly what Bench measures
      println(s"----- begin $name")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      println(s"===== $name =====")
      df.explain("formatted")
      val t1 = System.nanoTime()
      val n = df.count()
      println(f"$name: $n rows in ${(System.nanoTime() - t1) / 1e9 + tBuild}%.2f s (build $tBuild%.2f s)")
    }
    spark.stop()
  }
}
