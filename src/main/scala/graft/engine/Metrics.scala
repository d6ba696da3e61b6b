package graft.engine

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Structured per-run metrics — the Spark-native analog of the
  * reference's `log_struct` JSON logging at every stage (SURVEY.md
  * §2.7 O5: etl-stage/event/reason/run_id fields, `gcp_utils.py:11-18`,
  * `gcp.py:57-61`).
  *
  * Design: `Dataset.observe(...)` attaches aggregates that are computed DURING
  * the action inside the same pass (a `CollectMetrics` node) — row
  * counts, null counts, dead-letter counts cost ZERO extra scans,
  * which is the only acceptable price at 100 TB (a separate
  * `df.count()` for logging would double every job). The listener
  * turns each completed action's observed metrics into one JSON line,
  * the same shape downstream log aggregation consumed from the
  * reference.
  */
object Metrics {

  /** JSON-lines listener over observed metrics. `sink` receives one
    * line per completed action that carried observations (driver-side
    * logging is a trickle; the heavy lifting stayed in-pass). */
  final class JsonMetricsListener(sink: String => Unit) extends QueryExecutionListener {

    private def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        val fields = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          val v = row.get(i)
          val jv = v match {
            case null => "null"
            case n: Number => n.toString
            case b: Boolean => b.toString
            case other => "\"" + esc(other.toString) + "\""
          }
          "\"" + esc(f) + "\": " + jv
        }
        sink(s"""{"metric_set": "${esc(name)}", "action": "${esc(funcName)}", """ +
          s""""duration_ms": ${durationNs / 1000000}, ${fields.mkString(", ")}}""")
      }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      sink(s"""{"metric_set": "failure", "action": "${esc(funcName)}", """ +
        s""""error": "${esc(String.valueOf(e.getMessage))}"}""")
  }

  /** Convenience: an in-memory collector (tests / local runs). */
  final class Collector {
    private val buf = TrieMap[Long, String]()
    private val n = new java.util.concurrent.atomic.AtomicLong()
    def listener: JsonMetricsListener =
      new JsonMetricsListener(line => buf.put(n.getAndIncrement(), line))
    def lines: Seq[String] = buf.toSeq.sortBy(_._1).map(_._2)
  }
}
