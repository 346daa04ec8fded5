package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.{Sessions, Tables}
import graft.functions.{IntersectCountSorted, NgramSlice, NgramToken, TextFunctions}
import graft.streaming.StreamPipelines

import Json.Field

/** One stream event, laid out like the `events` table. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** The JVM side of the benchmark. It reads a plan (JSON) written by
  * `perfbench/run.py`, drives graft through its public entry points
  * only, and writes raw timings, counters and spans to the plan's `out`
  * file. Every statistic is computed by the runner.
  *
  * Usage: Harness <plan.json>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val plan = Json.parseFile(args(0))
    val h = new Harness(plan)
    val body =
      try h.run()
      finally h.stopSession()
    Files.writeString(Paths.get(plan.str("out")), body)
  }
}

final class Harness(plan: org.json4s.JValue) {
  private val traced = plan.bool("trace")
  private val cores = plan.int("cores")
  private val dir = plan.str("data")
  private val spans = new Spans
  private val root = spans.open(-1, "run", "workload" -> plan.str("workload"))
  private val tasks = new TaskCounters
  private val plans = new PlanCounters
  private val out = mutable.LinkedHashMap[String, Any]()
  private var spark: SparkSession = _

  def run(): String = {
    out("workload") = plan.str("workload")
    out("cores") = cores
    plan.str("kind") match {
      case "batch" => runBatch()
      case "stream" => runStream()
    }
    if (traced) out("probes") = probes()
    out("peak_rss_mb") = peakRssMb()
    spans.close(root)
    out("spans") = spans.toSeq
    Json.write(out) + "\n"
  }

  // ---- session and set-up ------------------------------------------------

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  private def newSession(n: Int): Double = {
    val t0 = System.nanoTime()
    spark = Sessions.local(n, "perfbench")
    (System.nanoTime() - t0) / 1e9
  }

  /** The set-up: a fresh session plus the workload's inputs, in the
    * JVM's first moments. The runner times it from before it prepared
    * the inputs it hands over to `ready_epoch_ms`. */
  private def setUp(buildInputs: () => Unit): Unit = {
    val sp = spans.open(root, "session")
    out("session_s") = newSession(cores)
    buildInputs()
    spans.close(sp)
    out("ready_epoch_ms") = System.currentTimeMillis()
    out("jvm_start_epoch_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
  }

  private def setTracing(on: Boolean): Unit = {
    val sc = spark.sparkContext
    sc.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
    // events still queued from untraced work must not reach the listeners
    PerfbenchBus.drain(sc)
    plans.take()
    if (on) {
      sc.addSparkListener(tasks)
      spark.listenerManager.register(plans)
    }
  }

  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  // ---- batch workloads ---------------------------------------------------

  private def runBatch(): Unit = {
    setUp(() => plan.strs("tables").foreach(n => Tables.load(spark, dir, n).schema))
    val passes = plan.lists("passes")
    val seconds = plan.num("seconds")
    val minWarm = plan.int("min_warm_passes")
    val results = mutable.ArrayBuffer[Map[String, Any]]()
    val failed = mutable.LinkedHashMap[String, String]()
    val cold = mutable.LinkedHashMap[String, (Array[Row], StructType)]()
    results += runPass(0, passes.head, traced, failed, Some(cold))
    out("check") = writeResults(cold, failed)
    // unmeasured warm-up passes first: the JIT keeps speeding passes up
    // for a few passes after the cold one
    val warmup = plan.int("warmup_passes")
    var p = 1
    while (p <= warmup) {
      results += runPass(p, passes(p % passes.size), tracedPass = false, failed, None) +
        ("warmup" -> true)
      p += 1
    }
    val warm0 = System.nanoTime()
    var last = 0.0
    // a measured pass starts while it is expected to end within `seconds`
    while (p <= warmup + minWarm || (System.nanoTime() - warm0) / 1e9 + last <= seconds) {
      // the traced run alternates untraced and traced warm passes, so
      // their walls give the tracing overhead
      val r = runPass(p, passes(p % passes.size), traced && (p - warmup) % 2 == 0, failed, None)
      last = r("wall").asInstanceOf[Double]
      results += r
      p += 1
    }
    out("passes") = results.toSeq
    out("failed") = failed
  }

  private def codegenCounts: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, WholeStageCodegenExec.codeGenTime)

  /** One pass over `order`. A query's wall covers its constructor and the
    * collect of its result; `keep` receives the results of the pass. */
  private def runPass(p: Int, order: Seq[String], tracedPass: Boolean,
                      failed: mutable.Map[String, String],
                      keep: Option[mutable.Map[String, (Array[Row], StructType)]])
      : Map[String, Any] = {
    setTracing(tracedPass)
    val ps = spans.open(root, "pass", "pass" -> p.toString, "traced" -> tracedPass.toString)
    val walls = mutable.LinkedHashMap[String, Double]()
    val traces = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    val cpu0 = Cpu.processNs
    val jit0 = Cpu.jitNs
    order.foreach { q =>
      try {
        val (wall, result) =
          if (tracedPass) {
            val (wall, tr, result) = tracedQuery(q, ps)
            traces += tr
            (wall, result)
          } else {
            val q0 = System.nanoTime()
            val df = SparkEntry.queries(q)(spark, dir)
            val rows = df.collect()
            ((System.nanoTime() - q0) / 1e9, (rows, df.schema))
          }
        walls(q) = wall
        keep.foreach(_(q) = result)
      } catch {
        case NonFatal(e) =>
          failed.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Cpu.processNs - cpu0) / 1e9
    val jit = (Cpu.jitNs - jit0) / 1e9
    spans.close(ps)
    Map("pass" -> p, "wall" -> wall, "cpu_s" -> cpu, "jit_s" -> jit, "traced" -> tracedPass,
      "queries" -> walls, "trace" -> traces.toSeq)
  }

  /** One query with a span per boundary: build (the query constructor,
    * whose eager checkpoint jobs run here), then the collect, split by the
    * planning tracker and the job intervals into plan and exec. */
  private def tracedQuery(q: String, pass: Int)
      : (Double, Map[String, Any], (Array[Row], StructType)) = {
    val sc = spark.sparkContext
    val qs = spans.open(pass, "query", "query" -> q)
    val (c0, g0) = codegenCounts
    val b = spans.open(qs, "build")
    sc.setLocalProperty(TaskCounters.Key, s"b$b")
    val df = SparkEntry.queries(q)(spark, dir)
    val buildNs = spans.close(b)
    val d1 = spans.open(qs, "drain")
    PerfbenchBus.drain(sc)
    spans.close(d1)
    val buildPlans = plans.take()
    val c = spans.open(qs, "collect")
    sc.setLocalProperty(TaskCounters.Key, s"c$c")
    val rows = df.collect()
    val collectNs = spans.close(c)
    sc.setLocalProperty(TaskCounters.Key, null)
    val (c1, g1) = codegenCounts
    val d2 = spans.open(qs, "drain")
    PerfbenchBus.drain(sc)
    spans.close(d2)
    val collectPlans = plans.take()
    spans.close(qs)
    val bAcc = tasks.take(s"b$b")
    val cAcc = tasks.take(s"c$c")

    def phaseMs(name: String): Long = collectPlans.flatMap(_.phases.get(name))
      .map { case (s, e) => e - s }.sum
    val planPhases = collectPlans.flatMap(e => Seq("analysis", "optimization", "planning")
      .flatMap(e.phases.get))
    if (planPhases.nonEmpty)
      spans.add(c, "plan", spans.fromEpochMs(planPhases.map(_._1).min),
        spans.fromEpochMs(planPhases.map(_._2).max))
    val execMs = TaskCounters.unionMs(cAcc.jobIntervals.toSeq)
    if (cAcc.jobIntervals.nonEmpty)
      spans.add(c, "exec", spans.fromEpochMs(cAcc.jobIntervals.map(_._1).min),
        spans.fromEpochMs(cAcc.jobIntervals.map(_._2).max), "busy_ms" -> execMs.toString)
    val all = buildPlans ++ collectPlans
    val wall = (buildNs + collectNs) / 1e9
    (wall, Map(
      "query" -> q, "wall_s" -> wall, "build_s" -> buildNs / 1e9,
      "collect_s" -> collectNs / 1e9, "build_jobs" -> bAcc.jobs,
      "analysis_s" -> phaseMs("analysis") / 1e3, "optimize_s" -> phaseMs("optimization") / 1e3,
      "physical_s" -> phaseMs("planning") / 1e3,
      "graft_rules_s" -> all.map(_.graftRuleNs).sum / 1e9,
      "exchanges" -> all.map(_.exchanges).sum, "codegen_stages" -> all.map(_.codegenStages).sum,
      "exec_s" -> execMs / 1e3,
      "codegen_compiles" -> (c1 - c0), "codegen_compile_s" -> (g1 - g0) / 1e9,
      "jobs" -> (bAcc.jobs + cAcc.jobs), "stages" -> (bAcc.stages + cAcc.stages),
      "tasks" -> (bAcc.tasks + cAcc.tasks),
      "task_run_s" -> (bAcc.runMs + cAcc.runMs) / 1e3,
      "task_cpu_s" -> (bAcc.cpuNs + cAcc.cpuNs) / 1e9,
      "gc_s" -> (bAcc.gcMs + cAcc.gcMs) / 1e3,
      "task_overhead_s" -> ((bAcc.durMs - bAcc.runMs) + (cAcc.durMs - cAcc.runMs)) / 1e3,
      "shuffle_write_bytes" -> (bAcc.shuffleWrite + cAcc.shuffleWrite),
      "shuffle_read_bytes" -> (bAcc.shuffleRead + cAcc.shuffleRead),
      "spill_bytes" -> (bAcc.spill + cAcc.spill),
      "scan_bytes" -> (bAcc.inBytes + cAcc.inBytes),
      "scan_rows" -> (bAcc.inRows + cAcc.inRows)), (rows, df.schema))
  }

  /** Untimed: each result of the cold pass, rows in collect order, as one
    * parquet file for the runner's oracle comparison. */
  private def writeResults(results: mutable.Map[String, (Array[Row], StructType)],
                           failed: mutable.Map[String, String]): Map[String, Any] = {
    setTracing(false)
    val checkDir = plan.str("check_dir")
    results.map { case (q, (rows, schema)) =>
      val path = s"$checkDir/$q"
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
      catch {
        case NonFatal(e) =>
          failed.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      q -> Map("result" -> path, "oracle_sql" -> SparkEntry.oracleSql.get(q))
    }.toMap
  }

  // ---- kernel probes (traced run only) -------------------------------------

  /** Each probe applies one public graft.functions kernel to the sf0.1
    * column it serves, replicated `probe_copies` times, and materialises
    * it with a noop write. Inputs are checkpointed before timing. */
  private def probes(): Map[String, Any] = {
    setTracing(false)
    val copies = plan.int("probe_copies")
    val reps = spark.range(copies).toDF("rep")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val sets = docs.select(col("doc_id"), sort_array(array_distinct(
      TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 5))).as("sset"))
    val pairs = sets.as("a").join(sets.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.sset").as("x"), col("b.sset").as("y")).localCheckpoint()
    val grams = docs.select(explode(TextFunctions.wordShingles(
      TextFunctions.tokens(col("text")), 5)).as("ng")).localCheckpoint()
    val vecs = Tables.embeddings(spark, dir)
      .select(TextFunctions.toDoubleArray(col("embedding")).as("v")).localCheckpoint()

    def probe(name: String, input: DataFrame, kernel: DataFrame => DataFrame): (String, Any) = {
      val in = input.crossJoin(reps)
      val rows = input.count() * copies
      val walls = (0 to plan.int("probe_reps")).map { _ =>
        val sp = spans.open(root, "probe", "probe" -> name)
        val t0 = System.nanoTime()
        kernel(in).write.format("noop").mode("overwrite").save()
        spans.close(sp)
        (System.nanoTime() - t0) / 1e9
      }.tail // the first run warms codegen
      name -> Map("rows" -> rows, "walls" -> walls)
    }
    Seq(
      probe("shingles", docs, _.select(
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 5).as("s"))),
      probe("ngram", grams, _.select(NgramToken(col("ng"), 0).as("h"),
        NgramSlice(col("ng"), 1, 4).as("t"))),
      probe("intersect", pairs, _.select(IntersectCountSorted(col("x"), col("y")).as("c"))),
      probe("dot", vecs, _.select(TextFunctions.dot(col("v"), col("v")).as("d")))
    ).toMap
  }

  // ---- stream workload -----------------------------------------------------

  private def segmentsAt(key: String): Seq[(Double, Double)] = (plan \ key) match {
    case org.json4s.JArray(xs) => xs.map(s => (s.num("rate"), s.num("seconds")))
    case _ => Nil
  }

  private def runStream(): Unit = {
    var rows: Array[Ev] = null
    setUp { () =>
      rows = Tables.normalizeEventsTs(spark.read.parquet(plan.str("events")))
        .as(Encoders.product[Ev]).collect()
    }
    val (raw, emitted, sent) = streamOnce(rows, segmentsAt("segments"),
      plan.str("checkpoint") + "/main", traced)

    // batch oracle: the same pipeline over every event sent, in one batch;
    // each window's last emitted row must equal it
    val failed = mutable.LinkedHashMap[String, String]()
    try {
      val sentDf = spark.createDataset(rows.take(sent).toSeq)(Encoders.product[Ev]).toDF()
      val expect = StreamPipelines.endToEnd(sentDf, Tables.customer(spark, dir)).collect()
      def got(r: Row) = Option(emitted.get((r.getAs[Long]("window_start"),
        r.getAs[String]("event_type"))))
      val diffs = expect.filter(r => !got(r).exists(g =>
        g.schema.fieldNames.forall(f => g.getAs[Any](f) == r.getAs[Any](f))))
      val missing = emitted.size - (expect.length - diffs.count(got(_).isEmpty))
      if (diffs.nonEmpty || missing > 0)
        failed("stream") = s"${diffs.length} of ${expect.length} windows differ and " +
          s"$missing emitted windows are not in the batch result, e.g. " +
          diffs.take(3).map(r => s"${r.toSeq} vs ${got(r).map(_.toSeq)}").mkString("; ")
      out("windows_compared") = expect.length
    } catch {
      case NonFatal(e) => failed("stream") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    out("stream") = raw
    out("failed") = failed
    if (plan.bool("single_core")) {
      stopSession()
      newSession(1)
      out("stream_1core") = streamOnce(rows, segmentsAt("single_core_segments"),
        plan.str("checkpoint") + "/one", tracedRun = false)._1
    }
  }

  /** One open-loop stream through StreamPipelines.endToEnd: a generator
    * thread feeds a MemoryStream on the rate schedule `segments`; event i
    * is due at its scheduled time whether or not the query keeps up, and
    * one addData per tick carries every event then due. Returns the raw
    * record, the last row emitted per (window_start, event_type), and the
    * number of events sent. */
  private def streamOnce(rows: Array[Ev], segments: Seq[(Double, Double)], ckpt: String,
                         tracedRun: Boolean)
      : (Map[String, Any], java.util.Map[(Long, String), Row], Int) = {
    // without numPartitions every addData becomes its own input partition
    val ms = MemoryStream[Ev](spark, spark.sparkContext.defaultParallelism)(
      Encoders.product[Ev])
    val emitted = new java.util.concurrent.ConcurrentHashMap[(Long, String), Row]()
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => emitted.put((r.getAs[Long]("window_start"),
        r.getAs[String]("event_type")), r))
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    if (tracedRun) {
      spark.sparkContext.addSparkListener(tasks)
      spark.sparkContext.setLocalProperty(TaskCounters.Key, "stream")
    }
    val startNs = spans.now
    val startCpu = Cpu.processNs
    val startJit = Cpu.jitNs
    val query = StreamPipelines.endToEnd(ms.toDF(), Tables.customer(spark, dir))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink).start()
    spark.sparkContext.setLocalProperty(TaskCounters.Key, null)

    val chunks = mutable.ArrayBuffer[(Long, Int, Int, Long)]() // offset, from, until, sent
    val bounds = segments.scanLeft((0.0, 0)) { case ((t, n), (rate, secs)) =>
      (t + secs, n + math.round(rate * secs).toInt) }
    val total = math.min(bounds.last._2, rows.length)
    def dueBy(tS: Double): Int = {
      val k = bounds.lastIndexWhere(_._1 <= tS)
      if (k >= segments.size) bounds.last._2
      else bounds(k)._2 + ((tS - bounds(k)._1) * segments(k)._1).toInt
    }
    val genStartNs = spans.now
    var sent = 0
    val gen = new Thread(() => {
      while (sent < total) {
        val due = math.min(total, dueBy((spans.now - genStartNs) / 1e9))
        if (due > sent) {
          val off = ms.addData(rows.slice(sent, due).toSeq).json.toLong
          chunks += ((off, sent, due, spans.now))
          sent = due
        } else Thread.sleep(plan.int("tick_ms"))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    query.processAllAvailable()
    val drainedNs = spans.now
    val drainedCpu = Cpu.processNs
    val drainedJit = Cpu.jitNs
    query.stop()
    // progress events are delivered on the listener bus: the last
    // micro-batches' events may still be queued when the query stops
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    def endMs(b: progress.Batch) = b.startMs + b.durations.getOrElse("triggerExecution", 0L)
    val batches = progress.batches
    val trig = spans.open(root, "stream", "cores" -> spark.sparkContext.defaultParallelism.toString)
    if (tracedRun) batches.foreach { b =>
      spans.add(trig, "trigger", spans.fromEpochMs(b.startMs), spans.fromEpochMs(endMs(b)),
        "batch" -> b.id.toString)
    }
    spans.close(trig)
    val exec = if (tracedRun) {
      spark.sparkContext.removeSparkListener(tasks)
      val a = tasks.take("stream")
      Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_run_s" -> a.runMs / 1e3, "task_cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "task_overhead_s" -> (a.durMs - a.runMs) / 1e3,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill, "exec_s" -> TaskCounters.unionMs(a.jobIntervals.toSeq) / 1e3)
    } else Map.empty[String, Any]
    (Map(
      "start_ns" -> startNs, "gen_start_ns" -> genStartNs, "drained_ns" -> drainedNs,
      "start_cpu_ns" -> startCpu, "drained_cpu_ns" -> drainedCpu,
      "start_jit_ns" -> startJit, "drained_jit_ns" -> drainedJit,
      "first_batch_end_ns" -> batches.headOption.map(b => spans.fromEpochMs(endMs(b))),
      "segments" -> segments.map { case (r, s) => Map("rate" -> r, "seconds" -> s) },
      "sent" -> sent,
      "chunks" -> chunks.map { case (o, a, b, t) => Seq(o, a, b, t) },
      "batches" -> batches.map { b => Map(
        "id" -> b.id, "start_ns" -> spans.fromEpochMs(b.startMs),
        "end_ns" -> spans.fromEpochMs(endMs(b)),
        "durations" -> b.durations, "input_rows" -> b.inputRows,
        "start_offset" -> b.startOffset, "end_offset" -> b.endOffset,
        "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes,
        "state_commit_ms" -> b.stateCommitMs, "late_dropped" -> b.lateDropped,
        "cpu_ns" -> b.cpuNs, "jit_ns" -> b.jitNs) },
      "exec" -> exec), emitted, sent)
  }
}
