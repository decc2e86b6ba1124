package graft.perfbench

import graft.util.StageMetricsListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed region of an op: the benchmark's own code around a call
  * into a layer's public functions. Spans of one op share `op`.
  */
final class Span(val id: Int, val op: Int, val name: String, val layer: String,
    val parent: Int, val start: Long) {
  var end: Long = start
  /** job-group counters, SQL phase times and join output rows */
  val m: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Every span sets its own Spark job group,
  * so [[StageMetricsListener]] folds the span's jobs, tasks, shuffle
  * and spill into it; a query-execution listener adds the analysis,
  * optimization and planning phases of every action the span ran.
  * Span boundaries drain the listener bus first, so asynchronous
  * events land in the span that caused them. Disabled, `span` is a
  * plain call.
  */
final class Tracer(spark: SparkSession, on: Boolean) {
  /** Whether spans are recorded now; only a tracing run turns it on. */
  var active: Boolean = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  @volatile private var current: Span = _
  private val stageMetrics = new StageMetricsListener
  private val jobWallMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  if (on) {
    val sc = spark.sparkContext
    sc.addSparkListener(stageMetrics)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        jobStart(e.jobId) = (g, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobStart.synchronized {
        jobStart.remove(e.jobId).foreach { case (g, t0) =>
          if (g != null) jobWallMs(g) += e.time - t0
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val s = current
    if (s != null) s.synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        s.m(s"phase.$phase") = s.m.getOrElse(s"phase.$phase", 0.0) + p.durationMs / 1e3
      }
      val joinRows = PlanMetrics.joinRows(qe)
      if (joinRows > 0) s.m("join_rows") = math.max(s.m.getOrElse("join_rows", 0.0), joinRows)
      s.m("scan_bytes") = s.m.getOrElse("scan_bytes", 0.0) + PlanMetrics.scanBytes(qe)
    }
  }

  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def group(s: Span): String = s"span-${s.id}"

  /** Root span of one op; every span opened inside shares its id. */
  def op[T](name: String)(f: => T): T =
    if (!active) f
    else {
      nextOp += 1
      span(name, "bench")(f)
    }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!active) f
    else {
      val sc = spark.sparkContext
      drain()
      val s = new Span(spans.size, nextOp, name, layer, stack.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      stack = s :: stack
      current = s
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try f
      finally {
        s.end = System.nanoTime()
        drain()
        stack = stack.tail
        current = stack.headOption.orNull
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        stageMetrics.snapshot().get(group(s)).foreach { a =>
          s.m ++= Seq("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
            "tasks" -> a.tasks.toDouble, "task_s" -> a.taskTimeMs / 1e3, "gc_s" -> a.gcTimeMs / 1e3,
            "input_rows" -> a.inputRecords.toDouble,
            "shuffle_bytes" -> a.shuffleWriteBytes.toDouble,
            "spill_bytes" -> (a.memorySpillBytes + a.diskSpillBytes).toDouble)
        }
        val wallMs: Long = jobStart.synchronized { jobWallMs(group(s)) }
        s.m("exec_s") = wallMs / 1e3
      }
    }

  /** Self time: a span's wall time minus that of its direct children. */
  def selfSeconds(ss: Seq[Span]): Map[Int, Double] = {
    val child = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    val ms = s.m.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end},"metrics":{$ms}}"""
  }
}

/** SQL metrics of an executed plan, AQE stages and subqueries included. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  private def metric(qe: QueryExecution, name: String)(pick: String => Boolean): Seq[Long] =
    collectWithSubqueries(qe.executedPlan) {
      case p if pick(p.nodeName) => p.metrics.get(name).fold(0L)(_.value)
    }

  /** Largest `numOutputRows` of any join: the candidate pairs a dedup
    * query produced.
    */
  def joinRows(qe: QueryExecution): Double =
    metric(qe, "numOutputRows")(n => n.contains("Join") || n.contains("CartesianProduct"))
      .maxOption.getOrElse(0L).toDouble

  /** Bytes of the files the plan's file scans read (after pruning). */
  def scanBytes(qe: QueryExecution): Double =
    metric(qe, "filesSize")(_.startsWith("Scan ")).sum.toDouble
}
