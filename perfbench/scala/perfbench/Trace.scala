package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: name, start, end and the span that caused it. Times
  * are nanoseconds since the harness started; they are written out once,
  * when the run ends. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, t0: Long,
                        var t1: Long, attrs: Map[String, String])
  private val t0Ns = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val all = mutable.ArrayBuffer[Span]()

  def now: Long = System.nanoTime() - t0Ns
  /** An epoch-millisecond timestamp from Spark on this clock. */
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L

  def open(parent: Int, name: String, attrs: (String, String)*): Int = {
    all += Span(all.size, parent, name, now, -1L, attrs.toMap)
    all.size - 1
  }
  def close(id: Int): Long = { all(id).t1 = now; all(id).t1 - all(id).t0 }
  def add(parent: Int, name: String, t0: Long, t1: Long,
          attrs: (String, String)*): Int = {
    all += Span(all.size, parent, name, t0, t1, attrs.toMap)
    all.size - 1
  }

  def toSeq: Seq[Map[String, Any]] = all.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "t0_ns" -> s.t0, "t1_ns" -> s.t1, "attrs" -> s.attrs)
  }
}

/** Task and job counters, attributed to the span named in the job's
  * `perfbench.span` local property. */
final class TaskCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, durMs = 0L
    var shuffleWrite, shuffleRead, spill, inBytes, inRows = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val bySpan = mutable.HashMap[String, Acc]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  private def acc(s: String) = bySpan.getOrElseUpdate(s, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = Option(e.properties).map(_.getProperty(TaskCounters.Key)).orNull
    if (s != null) {
      acc(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
      jobStart(e.jobId) = (s, e.time)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t0) =>
      acc(s).jobIntervals += ((t0, e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageSpan.get(e.stageInfo.stageId).foreach(acc(_).stages += 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = acc(s)
      a.tasks += 1
      a.durMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
      }
    }
  }
  def take(span: String): Acc = synchronized(bySpan.remove(span).getOrElse(new Acc))
}

object TaskCounters {
  val Key = "perfbench.span"

  /** Length of the union of [start, end] intervals (epoch ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Planning counters of every action's QueryExecution: the tracker's
  * phase times, the time in graft's own optimizer rules, and the
  * exchanges and whole-stage-codegen stages of the executed plan. */
final class PlanCounters extends QueryExecutionListener {
  final case class Entry(phases: Map[String, (Long, Long)],
                         graftRuleNs: Long, exchanges: Int, codegenStages: Int)
  private val buf = mutable.ArrayBuffer[Entry]()
  private object Helper extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val graftNs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum
    val plan = qe.executedPlan
    val exchanges = Helper.collectWithSubqueries(plan) { case e: Exchange => e }.size
    val codegen = Helper.collectWithSubqueries(plan) { case w: WholeStageCodegenExec => w }.size
    synchronized { buf += Entry(phases, graftNs, exchanges, codegen) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[Entry] = synchronized { val r = buf.toList; buf.clear(); r }
}

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this JVM, all threads, in nanoseconds. */
  def processNs: Long = os.getProcessCpuTime

  // the JVM runs with a fixed set of compiler threads
  // (-XX:-UseDynamicNumberOfCompilerThreads), so none exits and takes its
  // time with it; their /proc stat files are found once
  private lazy val compilerStats: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val tasks = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/task"))
    try tasks.iterator.asScala.toList
      .filter(t => readStat(t.resolve("stat")).exists(_._1.contains("CompilerThre")))
      .map(_.resolve("stat"))
    finally tasks.close()
  }

  /** (comm, utime + stime in clock ticks) of one thread's stat file. */
  private def readStat(p: java.nio.file.Path): Option[(String, Long)] =
    try {
      val st = new String(java.nio.file.Files.readAllBytes(p))
      val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
      Some((st.substring(st.indexOf('(') + 1, st.lastIndexOf(')')), f(11).toLong + f(12).toLong))
    } catch { case _: java.io.IOException => None }

  /** CPU time of the JIT compiler threads, in nanoseconds (10 ms ticks). */
  def jitNs: Long = compilerStats.flatMap(readStat).map(_._2).sum * 10000000L
}

/** Every micro-batch's progress, in arrival order, with the JVM's CPU
  * time when the progress event arrived. */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(id: Long, startMs: Long, durations: Map[String, Long],
                         inputRows: Long, startOffset: Long, endOffset: Long,
                         stateRows: Long, stateBytes: Long, stateCommitMs: Long,
                         lateDropped: Long, cpuNs: Long, jitNs: Long)
  private val buf = mutable.ArrayBuffer[Batch]()

  private def offset(s: String): Long =
    if (s == null || s.isEmpty || s == "null") -1L else s.trim.toLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.nonEmpty && p.numInputRows > 0) {
      import scala.jdk.CollectionConverters._
      val ops = p.stateOperators
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, offset(p.sources(0).startOffset), offset(p.sources(0).endOffset),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum, Cpu.processNs,
        Cpu.jitNs)
      synchronized { buf += b }
    }
  }
  def batches: Seq[Batch] = synchronized(buf.toList)
}
