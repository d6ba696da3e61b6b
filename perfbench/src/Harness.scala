package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, SparkEntry}
import graft.engine.{Normalize, Sinks, Staging}
import graft.sources.FileLedger

/** Closed-loop benchmark harness: one client, each operation starts when
  * the previous one has completed. Drives the library's public functions
  * (Staging, Normalize, Sinks, FileLedger, the catalogue) and writes the
  * raw timings, counters and spans to `<work>/result.json`; `run.py`
  * turns them into metrics and checks the outputs.
  *
  * Usage: Harness <workload> <seed> <seconds> <min warm ops> <trace 0|1>
  *   <work dir> <catalogue data dir> <catalogue queries, comma-separated>
  *
  * Tracing: with trace=1 operations alternate between traced (listeners
  * registered, a span around every layer call) and untraced, so the
  * tracing overhead is measured inside one process; operation 0 is
  * always traced so its cold-run layer split is recorded.
  */
object Harness {

  final case class Span(id: Long, parent: Long, name: String, op: Int, start: Double, end: Double)

  private val SpanProp = "perfbench.span"

  // ---------------------------------------------------------------- tracing
  /** Spans, per-operation counters and Spark-side attribution. Spans and
    * counters are only recorded while `tracing` is on. */
  final class Tracer(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val clock0 = System.nanoTime()
    def now: Double = (System.nanoTime() - clock0) / 1e9
    // offset from the wall clock Spark stamps job events with to `now`
    private val wallOffset = System.currentTimeMillis() / 1e3 - now

    val spans = mutable.ArrayBuffer[Span]()
    private val spanInfo = new ConcurrentHashMap[Long, (String, Int)]()
    private var nextId = 1L
    private var stack: List[Long] = Nil
    var tracing = false
    var op = -1

    /** op -> counter name -> value */
    val counters = mutable.Map[Int, mutable.Map[String, Double]]()
    def add(name: String, v: Double): Unit = synchronized {
      counters.getOrElseUpdate(op, mutable.Map()).updateWith(name)(o => Some(o.getOrElse(0.0) + v))
    }

    private def open(name: String): Long = {
      val id = nextId; nextId += 1
      spanInfo.put(id, (name, op))
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      id
    }
    private def close(id: Long, name: String, t0: Double, t1: Double): Unit = {
      stack = stack.tail
      val parent = stack.headOption.getOrElse(0L)
      synchronized { spans += Span(id, parent, name, op, t0, t1) }
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }

    /** A span around one operation; recorded for every operation of a
      * traced run, so the top-level spans cover the measured window. */
    def operation[T](record: Boolean)(body: => T): T = {
      if (!record) return body
      val id = open("op")
      val t0 = now
      try body finally close(id, "op", t0, now)
    }

    /** A span around one call into a library layer. After the span ends,
      * the listener bus is drained so Spark-side events land on it. */
    def layer[T](name: String)(body: => T): T = {
      if (!tracing) return body
      val id = open(name)
      val t0 = now
      try body finally {
        val t1 = now
        close(id, name, t0, t1)
        add(name + "_s", t1 - t0)
        GraftListenerBridge.waitUntilListenerBusEmpty(sc)
        drainQueries(name)
      }
    }

    // ------------------------------------------------ Spark-side listeners
    private val jobSpan = new ConcurrentHashMap[Int, (Long, Double)]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private def ctx(spanId: Long): (String, Int) =
      Option(spanInfo.get(spanId)).getOrElse(("unattributed", op))

    private def addTo(o: Int, name: String, v: Double): Unit = synchronized {
      counters.getOrElseUpdate(o, mutable.Map()).updateWith(name)(x => Some(x.getOrElse(0.0) + v))
    }

    val sparkListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toLong).getOrElse(0L)
        jobSpan.put(e.jobId, (sid, e.time / 1e3 - wallOffset))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobSpan.remove(e.jobId)).foreach { case (sid, t0) =>
          val (parentName, o) = ctx(sid)
          val t1 = e.time / 1e3 - wallOffset
          synchronized { spans += Span(-e.jobId - 1L, sid, "spark.job", o, t0, math.max(t0, t1)) }
          addTo(o, "spark.jobs", 1)
          addTo(o, s"jobs.$parentName", 1)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val job = Option(stageJob.get(e.stageId))
        val o = job.flatMap(j => Option(jobSpan.get(j))).map(x => ctx(x._1)._2).getOrElse(op)
        addTo(o, "spark.tasks", 1)
        if (m != null) {
          addTo(o, "spark.executor_run_s", m.executorRunTime / 1e3)
          addTo(o, "spark.executor_cpu_s", m.executorCpuTime / 1e9)
          addTo(o, "spark.gc_s", m.jvmGCTime / 1e3)
          addTo(o, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          addTo(o, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          addTo(o, "spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      }
    }

    private val queryEvents = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val queryListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queryEvents.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    /** Planning phases of the actions that ran inside the span just
      * closed, summed per operation and under the span's name. */
    private def drainQueries(layerName: String): Unit = {
      var planning = 0.0
      var qe = queryEvents.poll()
      while (qe != null) {
        val ph = qe.tracker.phases
        for (p <- Seq("analysis", "optimization", "planning")) {
          val s = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          add(s"plan.${p}_s", s)
          planning += s
        }
        qe = queryEvents.poll()
      }
      add(layerName + ".plan_s", planning)
    }

    /** A sink call: its span, then (traced only) the data files it left
      * under `dir` — those modified since the call started. */
    def sink(name: String, dir: String)(body: => Unit): Unit = {
      val since = System.currentTimeMillis()
      layer(name)(body)
      if (tracing) {
        val walk = Files.walk(Paths.get(dir))
        val files = try walk.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
            Files.getLastModifiedTime(p).toMillis >= since
        }.toList finally walk.close()
        add("sinks.files_written", files.size.toDouble)
        add("sinks.bytes_written", bytesOf(files).toDouble)
      }
    }

    def start(): Unit = {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      tracing = true
    }
    def stop(): Unit = {
      GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      queryEvents.clear()
      tracing = false
    }
  }

  // ----------------------------------------------------------------- inputs
  final case class Staged(set: String, api: String, season: Int, league: Int,
      endpoint: String, run: String, payload: String)

  def readManifest(path: String): Seq[Staged] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val n = mapper.readTree(line)
        Staged(n.get("set").asText, n.get("api").asText, n.get("season").asInt,
          n.get("league").asInt, n.get("endpoint").asText, n.get("run").asText,
          n.get("payload").asText)
      }
  }

  /** Stage `files` under `root/<api>/...`, one `Staging.stageAll` call per
    * (api, run) like one acquisition run of the reference. */
  def stage(root: String, files: Seq[Staged]): Seq[Path] =
    files.groupBy(f => (f.api, f.run)).toSeq.sortBy(_._1).flatMap { case ((api, run), fs) =>
      Staging.stageAll(s"$root/$api", run,
        fs.map(f => (f.season, f.league, f.endpoint, () => f.payload)))
    }

  def bytesOf(paths: Seq[Path]): Long = paths.map(Files.size).sum

  def releaseAll(spark: SparkSession): Unit = {
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  // -------------------------------------------------------------- workloads
  trait Workload {
    /** Make the inputs ready. */
    def setup(): Unit
    /** One timed operation; returns (items completed, per-op record). */
    def run(i: Int): (Int, Map[String, Any])
    /** Persist whatever the output check reads, after the window. */
    def finish(): Unit = ()
    /** Layer figures measured during set-up. */
    var setupStats: Map[String, Double] = Map()
  }

  final class Backfill(spark: SparkSession, t: Tracer, work: String) extends Workload {
    private val files = readManifest(s"$work/manifest.jsonl")
    private var stageRoot = ""
    private var stagedFiles = 0

    def setup(): Unit = {
      stageRoot = s"$work/stage"
      val t0 = System.nanoTime()
      val paths = stage(stageRoot, files)
      stagedFiles = paths.size
      setupStats = Map("staging.stage_s" -> (System.nanoTime() - t0) / 1e9,
        "staging.files" -> stagedFiles.toDouble, "staging.bytes" -> bytesOf(paths).toDouble)
    }

    def run(i: Int): (Int, Map[String, Any]) = {
      val out = s"$work/out/op_$i"
      for (api <- Seq("apifootball", "apisports")) {
        val (ok, dead) = t.layer("normalize.build") { Normalize.pipeline(spark, s"$stageRoot/$api", api) }
        t.sink("sinks.unified", s"$out/teams_$api") { Sinks.writeUnified(ok, out, api) }
        t.sink("sinks.deadletter", s"$out/dead_$api") {
          Sinks.writeDeadLetter(dead, "pk", s"$out/dead_$api")
        }
      }
      t.layer("caches.release") { releaseAll(spark) }
      (stagedFiles, Map("out" -> out))
    }
  }

  final class Daily(spark: SparkSession, t: Tracer, work: String) extends Workload {
    private val files = readManifest(s"$work/manifest.jsonl")
    private val history = files.filter(_.set == "hist")
    private val days = files.filter(_.set != "hist").groupBy(_.set)
    private var base = ""

    private def load(stageRoot: String, out: String, runId: Long, fs: Seq[Staged]): Seq[Path] = {
      val paths = t.layer("staging.stage") { stage(stageRoot, fs) }
      val fresh = t.layer("ledger.newfiles") {
        val df = FileLedger.newFiles(spark, s"$base/stage/*/*/*/*/*/*.json", s"$base/ledger", runId)
        val n = df.count()
        if (n != paths.size)
          throw new IllegalStateException(s"ledger reports $n new files, staged ${paths.size}")
        df
      }
      for (api <- Seq("apifootball", "apisports")) {
        val (ok, dead) = t.layer("normalize.build") { Normalize.pipeline(spark, s"$stageRoot/$api", api) }
        t.sink("sinks.unified", s"$base/table/teams_$api") {
          Sinks.writeUnifiedUpsert(ok, s"$base/table", api)
        }
        t.sink("sinks.deadletter", s"$out/dead_$api") {
          Sinks.writeDeadLetter(dead, "pk", s"$out/dead_$api")
        }
      }
      t.layer("ledger.commit") { FileLedger.commit(spark, fresh, s"$base/ledger", runId) }
      t.layer("caches.release") { releaseAll(spark) }
      paths
    }

    def setup(): Unit = {
      base = s"$work/state"
      load(s"$base/stage/hist", s"$base/dead/hist", 0L, history)
    }

    def run(i: Int): (Int, Map[String, Any]) = {
      val set = f"day_$i%04d"
      val fs = days.getOrElse(set, throw new IllegalStateException(s"no generated input for $set"))
      val paths = load(s"$base/stage/$set", s"$base/dead/$set", i + 1L, fs)
      if (t.tracing) {
        t.add("staging.files", paths.size.toDouble)
        t.add("staging.bytes", bytesOf(paths).toDouble)
      }
      (paths.size, Map("set" -> set, "dead" -> s"$base/dead/$set", "table" -> s"$base/table"))
    }
  }

  final class Catalogue(spark: SparkSession, t: Tracer, work: String, data: String,
      queries: Seq[String], seed: Long) extends Workload {
    private val fns = SparkEntry.queries

    def setup(): Unit = queries.foreach(q => require(fns.contains(q), s"catalogue has no query $q"))

    def run(i: Int): (Int, Map[String, Any]) = {
      val order =
        if (i == 0) queries
        else new scala.util.Random(seed * 1000003L + i).shuffle(queries)
      val counts = order.map { q =>
        t.layer("caches.release") { releaseAll(spark) }
        val df = t.layer(s"queries.$q.construct") { fns(q)(spark, data) }
        q -> t.layer(s"queries.$q.count") { df.count() }
      }
      (order.size, Map("counts" -> counts.toMap))
    }

    override def finish(): Unit = queries.foreach { q =>
      releaseAll(spark)
      fns(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/results/$q")
    }
  }

  // ------------------------------------------------------------------- main
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the remaining settings are Bench.main's
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val processCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, minWarmS, traceS, work, data, queries) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val minWarm = minWarmS.toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

    val spark = session()
    val sessionReady = System.currentTimeMillis() / 1e3 - jvmStart
    val t = new Tracer(spark)
    val wl: Workload = workload match {
      case "etl_backfill" => new Backfill(spark, t, work)
      case "etl_daily" => new Daily(spark, t, work)
      case "catalogue_mix" => new Catalogue(spark, t, work, data, queries.split(",").toSeq, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ts = System.nanoTime()
    wl.setup()
    val inputsS = (System.nanoTime() - ts) / 1e9

    // operation 0 is the cold one; warm operations then run for `seconds`
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val window0 = t.now
    var warm0 = Double.MaxValue
    var i = 0
    var warm = 0
    while (i == 0 || t.now - warm0 < seconds || warm < minWarm) {
      val traced = trace && i % 2 == 0
      if (traced) t.start()
      t.op = i
      val compile0 = CodeGenerator.compileTime
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cpu0 = processCpu.getProcessCpuTime
      val t0 = t.now
      val (items, rec, error) =
        try {
          val (n, r) = t.operation(trace) { wl.run(i) }
          (n, r, "")
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] op $i failed: $e")
          (0, Map[String, Any](), String.valueOf(e))
        }
      val t1 = t.now
      val cpu = (processCpu.getProcessCpuTime - cpu0) / 1e9
      if (traced) {
        t.add("codegen.compile_s", (CodeGenerator.compileTime - compile0) / 1e9)
        t.add("codegen.classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble)
        t.stop()
      }
      ops += rec ++ Map("i" -> i, "start" -> t0, "end" -> t1, "seconds" -> (t1 - t0), "cpu" -> cpu,
        "items" -> items, "traced" -> traced, "error" -> error)
      if (i == 0) warm0 = t.now else warm += 1
      i += 1
    }
    val window1 = t.now
    val finishError =
      try { wl.finish(); "" } catch { case e: Throwable => String.valueOf(e) }

    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_s" -> sessionReady, "inputs_s" -> inputsS,
      "setup_s" -> (sessionReady + inputsS),
      "window" -> Seq(window0, window1), "ops" -> ops.toSeq,
      "counters" -> t.counters.toSeq.sortBy(_._1).map { case (o, m) => Map("op" -> o) ++ m },
      "spans" -> t.spans.toSeq.map(s => Seq(s.id, s.parent, s.name, s.op, s.start, s.end)),
      "finish_error" -> finishError, "setup_stats" -> wl.setupStats,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(s"$work/result.json"), Json.write(out))
    spark.stop()
  }
}

/** Minimal JSON writer for the result record (maps, sequences, numbers,
  * strings, booleans); anything else is written as its string. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
