package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one span, filled in by [[SpanListener]]. */
final class SpanStats {
  var jobs = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var exchanges = 0
  var codegenStages = 0
  var fallbackExprs = 0
  val stageIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** One timed call into a layer. Spans of one operation share `op`. */
final class Span(val id: Long, val op: Long, val name: String, val parent: Long) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  val stats = new SpanStats
  var children = 0.0 // ms covered by child spans
  def ms: Double = (endNs - startNs) / 1e6
  def selfMs: Double = ms - children

  /** Span time with no stage running: the part spent waiting on the driver. */
  def driverMs: Double = {
    val ivs = stats.stageIntervals
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, ms - covered)
  }
}

/** Plan-shape counts taken by walking an executed plan, AQE stages included. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def record(plan: SparkPlan, s: SpanStats): Unit = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    s.exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    s.codegenStages += nodes.count(_.isInstanceOf[WholeStageCodegenExec])
    s.fallbackExprs += nodes.map(_.expressions.map(_.collect {
      case f: CodegenFallback => f }.size).sum).sum
  }
}

/** Attributes jobs, stages and task metrics to the span whose job group
  * started them, and executed plans to the span open when they finished.
  */
final class SpanListener extends SparkListener with QueryExecutionListener {
  val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  @volatile var current: Span = null

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g))).foreach { span =>
        span.stats.synchronized { span.stats.jobs += 1 }
        e.stageIds.foreach(byStage.put(_, span))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach { span =>
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        span.stats.synchronized { span.stats.stageIntervals += (s -> c) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (span <- Option(byStage.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = span.stats
      s.synchronized {
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(current).foreach(span => span.stats.synchronized(PlanShape.record(qe.executedPlan, span.stats)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Span recorder for the traced run. Inactive, [[span]] runs its body and
  * nothing else, so untraced operations pay no tracing cost. Active, each
  * span tags its Spark jobs with its own job group, and the listener bus is
  * drained at both ends so every event is attributed before the next span.
  * Spans stay in memory until [[dump]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new SpanListener
  private var nextId = 0L
  private var stack: List[Span] = Nil
  val spans = ArrayBuffer.empty[Span]
  var active = false
  var op = 0L

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      BusDrain(sc)
      val parent = stack.headOption
      val s = new Span(nextId, op, name, parent.map(_.id).getOrElse(-1L))
      nextId += 1
      val group = s"perfbench-${s.id}"
      listener.byGroup.put(group, s)
      sc.setJobGroup(group, name)
      listener.current = s
      stack = s :: stack
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        BusDrain(sc)
        stack = stack.tail
        parent match {
          case Some(p) =>
            p.children += s.ms
            sc.setJobGroup(s"perfbench-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
        listener.current = parent.orNull
        spans += s
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Writes every span as one JSON object per line. */
  def dump(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val st = s.stats
      w.println(
        f"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs},"ms":${s.ms}%.3f,"self_ms":${s.selfMs}%.3f,""" +
        f""""driver_ms":${s.driverMs}%.3f,"jobs":${st.jobs},"cpu_ms":${st.cpuNs / 1e6}%.3f,""" +
        f""""shuffle_write_bytes":${st.shuffleWriteBytes},"shuffle_write_records":${st.shuffleWriteRecords},""" +
        f""""shuffle_fetch_wait_ms":${st.fetchWaitMs},"spill_bytes":${st.spillBytes},""" +
        f""""exchanges":${st.exchanges},"codegen_stages":${st.codegenStages},""" +
        f""""fallback_exprs":${st.fallbackExprs}}""")
    } finally w.close()
  }
}
