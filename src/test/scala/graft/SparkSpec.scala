package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark's
  * getOrCreate makes this safe across suites), built by `GraftSession`
  * like every driver-facing session, extensions included.
  *
  * GRAFT_TEST_SHUFFLE overrides the shuffle partition count for
  * stress sweeps: partition-count-sensitive bugs (range-boundary
  * consistency, offset joins, per-partition state) hide at one fixed
  * count — run the suite at 1 and at a large odd count to flush them. */
object TestSpark {
  // local[4] and no SPARK_GRAFT_CPUS read: the plan pins assume 4 cores
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("GRAFT_TEST_SHUFFLE", "4"))
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"
}
