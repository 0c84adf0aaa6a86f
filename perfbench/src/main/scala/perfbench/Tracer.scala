package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation. Everything is read from Spark's
  * public listeners — a [[QueryExecutionListener]] for plan-level
  * metrics (planning phases from the `QueryPlanningTracker`, exchanges,
  * parquet scan bytes/rows/files) and a [[SparkListener]] for task
  * metrics — and attributed to the query that caused it: jobs through
  * the `perfbench.query` local property, plans through the
  * `perfbench__<name>` alias every measured frame carries. Spans are kept
  * in memory and written once, when the run ends. */
final class Tracer(spark: SparkSession, workload: String) {
  import Tracer._

  val runId: String = s"$workload-${System.currentTimeMillis()}"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanIds = new AtomicLong(0L)
  private val events = new AtomicLong(0L)

  /** Per-query accumulators (key: query name, or "-" when unattributed). */
  val plan = new ConcurrentHashMap[String, PlanAcc]()
  val tasks = new ConcurrentHashMap[String, TaskAcc]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    attached = true
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(taskListener)
  }

  def reset(): Unit = { plan.clear(); tasks.clear() }

  def span[T](name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = spanIds.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.synchronized {
      spans += Span(id, name, t0, System.nanoTime(), parent)
    }
  }

  /** Record a span whose interval was measured elsewhere (stream batches,
    * generator rungs); times are `System.nanoTime` based. */
  def record(name: String, start: Long, end: Long, parent: Long): Long = {
    val id = spanIds.incrementAndGet()
    spans.synchronized { spans += Span(id, name, start, end, parent) }
    id
  }

  private def qname(qe: QueryExecution): String =
    qe.analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
          if a.alias.startsWith(AliasPrefix) => a.alias.stripPrefix(AliasPrefix)
    }.getOrElse("-")

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val acc = plan.computeIfAbsent(qname(qe), _ => new PlanAcc)
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val leaves = flatten(qe.executedPlan)
      acc.synchronized {
        acc.executions += 1
        acc.analysisMs += ms("analysis")
        acc.optimizationMs += ms("optimization")
        acc.planningMs += ms("planning")
        acc.exchanges += leaves.count(_.isInstanceOf[ShuffleExchangeLike])
        leaves.foreach {
          case s: FileSourceScanExec =>
            def m(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
            acc.scanRows += m("numOutputRows")
            acc.scanBytes += m("filesSize")
            acc.filesRead += m("numFiles")
            acc.tableBytes += s.relation.sizeInBytes
          case _ => ()
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.incrementAndGet()
  }

  private val taskListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      val q = Option(e.properties).flatMap(p => Option(p.getProperty(QueryProp))).getOrElse("-")
      stageQuery.put(e.stageInfo.stageId, q)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val q = stageQuery.getOrDefault(e.stageInfo.stageId, "-")
      val acc = tasks.computeIfAbsent(q, _ => new TaskAcc)
      acc.synchronized { acc.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        val q = stageQuery.getOrDefault(e.stageId, "-")
        val acc = tasks.computeIfAbsent(q, _ => new TaskAcc)
        val info = e.taskInfo
        val runMs = m.executorRunTime.toDouble
        val dur = (info.finishTime - info.launchTime).toDouble
        val delay = math.max(0.0, dur - runMs - m.executorDeserializeTime - m.resultSerializationTime)
        acc.synchronized {
          acc.tasks += 1
          acc.taskDurations += dur
          acc.runMs += runMs
          acc.cpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          acc.schedDelayMs += delay
        }
      }
    }
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(maxMs: Long = 5000L): Unit = if (attached) {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (events.get() != last && System.currentTimeMillis() < deadline) {
      last = events.get()
      Thread.sleep(150)
    }
  }

  def addAnalysis(q: String, tracker: org.apache.spark.sql.catalyst.QueryPlanningTracker): Unit =
    tracker.phases.get("analysis").foreach { p =>
      val acc = plan.computeIfAbsent(q, _ => new PlanAcc)
      acc.synchronized { acc.analysisMs += p.endTimeMs - p.startTimeMs }
    }

  def planOf(q: String): PlanAcc = Option(plan.get(q)).getOrElse(new PlanAcc)
  def tasksOf(q: String): TaskAcc = Option(tasks.get(q)).getOrElse(new TaskAcc)

  /** Extra artifacts written beside the spans: file name → contents. */
  val extraFiles = mutable.LinkedHashMap.empty[String, String]

  /** Write the spans (JSON lines) and the extra artifacts; called once. */
  def finish(res: Result, dir: File): Unit = {
    dir.mkdirs()
    val t0 = spans.synchronized(spans.map(_.start).minOption.getOrElse(0L))
    val lines = spans.synchronized(spans.toVector).sortBy(_.start).map { s =>
      s"""{"run_id":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
        s""""start_ms":${(s.start - t0) / 1e6},"end_ms":${(s.end - t0) / 1e6},"parent":${s.parent}}"""
    }
    Files.write(new File(dir, "spans.jsonl").toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    extraFiles("self_times.json") = selfTimes().toSeq.sortBy(-_._2)
      .map { case (n, v) => s"${Json.str(n)}:$v" }.mkString("{\n", ",\n", "\n}\n")
    extraFiles.foreach { case (f, body) => Files.write(new File(dir, f).toPath, body.getBytes(UTF_8)) }
    res.note("trace.spans", lines.size)
    res.note("trace.run_id", runId)
  }

  /** Seconds of self time per span name: each span's duration minus the
    * time its child spans cover. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.synchronized(spans.toVector)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Vector.empty).map(c => c.end - c.start).sum
        math.max(0L, (s.end - s.start) - covered) / 1e9
      }.sum
    }
  }
}

object Tracer {
  val QueryProp = "perfbench.query"
  val AliasPrefix = "perfbench__"

  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long)

  final class PlanAcc {
    var executions = 0L
    var analysisMs, optimizationMs, planningMs = 0.0
    var exchanges, scanRows, scanBytes, filesRead, tableBytes = 0L
  }
  final class TaskAcc {
    var stages, tasks, shuffleWrite, spill, cpuNs = 0L
    var runMs, gcMs, fetchWaitMs, schedDelayMs = 0.0
    val taskDurations = mutable.ArrayBuffer.empty[Double]
  }

  /** Every operator of an executed plan, looking through adaptive
    * wrappers and query stages; a reused exchange counts once. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec => flatten(s.plan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }
}
