package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and listener counters for the traced run.
  *
  * Every operation (a registry query or a transit chunk) has an id. The
  * harness thread opens spans around its own calls into the program and
  * tags the jobs it launches with the job group `pb|<op>|<phase>`; jobs
  * launched by streaming queries carry their `sql.streaming.queryId` and are
  * keyed to the chunk in flight. Listener events are drained after every
  * operation, so an event is always keyed to the operation that caused it.
  *
  * Untraced runs build a disabled tracer: no listener is registered, no job
  * group is set and `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  final case class Span(idx: Int, parent: Int, name: String, op: String,
                        start: Double, end: Double)

  /** Task-level counters of one (operation, phase). */
  final class Agg {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, peakMem, inputBytes, inputRows = 0L
  }

  final case class Progress(op: String, query: String, durations: Map[String, Long],
                            stateRows: Long, stateBytes: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextIdx = 0
  private var open = List.empty[Int]
  private val anchors = mutable.Map.empty[String, Int] // op → span for listener children

  @volatile var currentOp: String = ""
  private val aggs = mutable.Map.empty[(String, String), Agg]
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val jobStart = mutable.Map.empty[Int, ((String, String), Long)]
  private val jobIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val planPhase = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  private val graftExprs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val queryNames = mutable.Map.empty[String, String]
  private val graftPattern = "graft_[a-z0-9_]+".r

  private def agg(k: (String, String)): Agg = aggs.getOrElseUpdate(k, new Agg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val key = prop("spark.jobGroup.id").filter(_.startsWith("pb|")) match {
        case Some(g) => val parts = g.split("\\|", 3); (parts(1), parts(2))
        case None => (currentOp, prop("sql.streaming.queryId")
          .map(id => "stream:" + queryNames.getOrElse(id, id)).getOrElse("other"))
      }
      agg(key).jobs += 1
      e.stageInfos.foreach(s => stageKey(s.stageId) = key)
      jobStart(e.jobId) = (key, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case ((op, _), t) =>
        jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((t, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(k => agg(k).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageKey.get(e.stageId).filter(_ => m != null).foreach { k =>
        val a = agg(k)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val op = currentOp
        qe.tracker.phases.foreach { case (phase, s) =>
          planPhase((op, phase)) += s.durationMs / 1e3
          addChild(op, s"plan.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        }
        graftExprs(op) += graftPattern.findAllIn(qe.executedPlan.toString).size
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { queryNames(e.id.toString) = e.name }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val op = currentOp
        val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress += Progress(op, p.name, durations, p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
        durations.get("triggerExecution").foreach { d =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          addChild(op, s"trigger.${p.name}", start, start + d)
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  // ---- spans ---------------------------------------------------------------

  /** Run `body` inside a span named `name` of operation `op`; `anchor` marks
    * the span that listener-derived children (plan phases, triggers) of
    * this operation hang under. */
  def span[T](name: String, op: String, anchor: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val (idx, parent) = synchronized {
        val i = nextIdx; nextIdx += 1
        val p = open.headOption.getOrElse(-1)
        open = i :: open
        if (anchor) anchors(op) = i
        (i, p)
      }
      val start = nowMs
      try body
      finally synchronized {
        open = open.tail
        spans += Span(idx, parent, name, op, start, nowMs)
      }
    }

  private def addChild(op: String, name: String, start: Double, end: Double): Unit = {
    val i = nextIdx; nextIdx += 1
    spans += Span(i, anchors.getOrElse(op, -1), name, op, start, end)
  }

  /** Tag jobs launched by `body` on this thread with `pb|op|phase`. */
  def jobs[T](op: String, phase: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb|$op|$phase", s"$op $phase", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** Wait until the listener bus has delivered every event posted so far
    * (`waitUntilEmpty` is not public; reached by reflection, with a short
    * sleep as the fallback). */
  def drain(): Unit = if (enabled) {
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: Throwable => Thread.sleep(50) }
  }

  // ---- read-outs -----------------------------------------------------------

  def sum(ops: Set[String], phase: String => Boolean = _ => true)(f: Agg => Long): Long =
    synchronized {
      aggs.collect { case ((op, ph), a) if ops(op) && phase(ph) => f(a) }.sum
    }

  def max(ops: Set[String])(f: Agg => Long): Long = synchronized {
    aggs.collect { case ((op, _), a) if ops(op) => f(a) }.maxOption.getOrElse(0L)
  }

  def plan(ops: Set[String], phase: String): Double = synchronized {
    planPhase.collect { case ((op, ph), v) if ops(op) && ph == phase => v }.sum
  }

  def graftExprCount(ops: Set[String]): Long = synchronized { ops.toSeq.map(graftExprs).sum }

  def progressOf(op: String): Seq[Progress] = synchronized { progress.filter(_.op == op).toSeq }

  /** Scheduler, executor, shuffle, scan, planning and native-expression
    * figures of `ops`, divided by `per` units of work; `wallS` is the wall
    * time those units took, for the core utilisation. */
  def taskLayers(ops: Set[String], per: Double, wallS: Double, cores: Int): Map[String, Double] = {
    def total(f: Agg => Long) = sum(ops)(f).toDouble / per
    Map(
      "spark.jobs" -> total(_.jobs), "spark.stages" -> total(_.stages),
      "spark.tasks" -> total(_.tasks),
      "exec.run_s" -> total(_.runMs) / 1e3, "exec.cpu_s" -> total(_.cpuNs) / 1e9,
      "exec.gc_s" -> total(_.gcMs) / 1e3,
      "exec.core_util" -> sum(ops)(_.runMs) / 1e3 / math.max(1e-9, wallS * cores),
      "shuffle.write_bytes" -> total(_.shuffleWrite), "shuffle.read_bytes" -> total(_.shuffleRead),
      "exec.spill_bytes" -> total(_.spill), "exec.peak_mem_bytes" -> max(ops)(_.peakMem).toDouble,
      "sources.input_bytes" -> total(_.inputBytes), "sources.input_rows" -> total(_.inputRows),
      "plan.analysis_s" -> plan(ops, "analysis") / per,
      "plan.optimization_s" -> plan(ops, "optimization") / per,
      "plan.planning_s" -> plan(ops, "planning") / per,
      "functions.graft_exprs" -> graftExprCount(ops) / per)
  }

  /** Seconds of `[start, end]` (epoch ms) during which no job of `op` ran. */
  def driverGap(op: String, start: Double, end: Double): Double = synchronized {
    val iv = jobIntervals.getOrElse(op, mutable.ArrayBuffer.empty)
      .map { case (a, b) => (math.max(a.toDouble, start), math.min(b.toDouble, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var reach = start
    iv.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    math.max(0.0, (end - start) - covered) / 1e3
  }

  def spansJson: String = synchronized {
    val byParent = spans.groupBy(_.parent)
    spans.sortBy(_.idx).map { s =>
      val kids = byParent.getOrElse(s.idx, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0.0
      var reach = s.start
      kids.foreach { case (a, b) =>
        val b2 = math.min(b, s.end)
        if (b2 > reach) { covered += b2 - math.max(a, reach); reach = b2 }
      }
      Json.write(Map("idx" -> s.idx, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "duration_ms" -> (s.end - s.start),
        "self_ms" -> math.max(0.0, s.end - s.start - covered)))
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def peakRssMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .asScala.find(_.startsWith("VmHWM:")).getOrElse("")
      line.replaceAll("[^0-9]", "").toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }

  def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }
}
