package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan telemetry joined with runtime telemetry, per operation. The
  * client thread tags every job it starts with the current operation id
  * (a local property, which Spark copies to the threads a query spawns);
  * jobs, stages and tasks are attributed through that tag. Catalyst
  * phases carry no tag, so a query belongs to the operation whose wall
  * window contains its analysis start.
  *
  * Listener events arrive asynchronously: [[drain]] waits for marker
  * events before anything is read.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Job(val op: String, val id: Int, val start: Long) {
    @volatile var end: Long = -1L
  }
  final class Tasks {
    val stages: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()
    val tasks, cpuNs, runMs, gcMs, shuffleWrite, input, output = new AtomicLong()
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[String, Tasks]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[Query]()
  private val markers = ConcurrentHashMap.newKeySet[String]()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Runs `body` with its Spark jobs tagged as operation `op`. */
  def tagged[A](op: String)(body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, op)
    try body finally sc.setLocalProperty(OpProperty, before)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(OpProperty)).orNull
    if (op != null) {
      jobs.put(e.jobId, new Job(op, e.jobId, e.time))
      e.stageIds.foreach(id => stageOp.put(id, op))
      if (op.startsWith(MarkerPrefix)) markers.add(op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op != null && e.taskMetrics != null) {
      val t = tasks.computeIfAbsent(op, _ => new Tasks)
      val m = e.taskMetrics
      t.stages.add(e.stageId)
      t.tasks.incrementAndGet()
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.runMs.addAndGet(m.executorRunTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.input.addAndGet(m.inputMetrics.bytesRead)
      t.output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    if (starts.nonEmpty)
      queries.add(Query(starts.min, ends.max, d("analysis"), d("optimization"),
        d("planning")))
    val plan = try qe.analyzed.toString catch { case _: Exception => "" }
    val at = plan.indexOf(MarkerPrefix)
    if (at >= 0) markers.add(plan.substring(at).takeWhile(c => c.isLetterOrDigit || c == '-'))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Waits until the listener queues have delivered everything posted
    * before this call: a tagged marker job on the shared queue, then a
    * marker query on the query-execution queue.
    */
  def drain(): Unit = {
    val job = s"${MarkerPrefix}job-${System.nanoTime()}"
    tagged(job)(spark.sparkContext.parallelize(Seq(1), 1).count())
    await(job)
    val query = s"${MarkerPrefix}query-${System.nanoTime()}"
    spark.range(1).selectExpr(s"'$query' AS m").collect()
    await(query)
  }
  private def await(marker: String): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!markers.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Runtime telemetry of one operation that ran in [startMs, endMs]. */
  def layers(op: String, startMs: Long, endMs: Long): Map[String, Double] = {
    val own = jobs.values.asScala.filter(_.op == op).toSeq
    val t = Option(tasks.get(op)).getOrElse(new Tasks)
    val qs = queries.asScala.filter(q => q.start >= startMs && q.start <= endMs).toSeq
    // wall time covered by no running job of this operation
    val covered = own.map(j => (math.max(j.start, startMs),
        math.min(if (j.end < 0) endMs else j.end, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach)
        else (acc + b - math.max(a, reach), b)
      }._1
    Map(
      "catalyst.queries" -> qs.size.toDouble,
      "catalyst.analysis_ms" -> qs.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> qs.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> qs.map(_.planningMs).sum.toDouble,
      "spark.jobs" -> own.size.toDouble,
      "spark.stages" -> t.stages.size.toDouble,
      "spark.tasks" -> t.tasks.get.toDouble,
      "spark.driver_gap_s" -> (endMs - startMs - covered) / 1e3,
      "spark.task_cpu_s" -> t.cpuNs.get / 1e9,
      "spark.executor_run_s" -> t.runMs.get / 1e3,
      "spark.gc_s" -> t.gcMs.get / 1e3,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.get.toDouble,
      "spark.input_bytes" -> t.input.get.toDouble,
      "spark.output_bytes" -> t.output.get.toDouble)
  }

  /** Job and query spans of one operation, for the span file. */
  def childSpans(op: String, startMs: Long, endMs: Long): Seq[(String, Long, Long)] = {
    val js = jobs.values.asScala.filter(_.op == op).toSeq.sortBy(_.id)
      .map(j => (s"spark.job.${j.id}", j.start, if (j.end < 0) endMs else j.end))
    val qs = queries.asScala.filter(q => q.start >= startMs && q.start <= endMs)
      .toSeq.sortBy(_.start).map(q => ("catalyst.query", q.start, q.end))
    qs ++ js
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
  private val MarkerPrefix = "perfbench-drain-"

  final case class Query(start: Long, end: Long, analysisMs: Long,
                         optimizationMs: Long, planningMs: Long)
}

/** Spans in memory, written out when the run ends. A span's trace is
  * the operation it belongs to; `parent` is the span that caused it;
  * times are milliseconds from `origin`.
  */
final class Spans {
  import Spans.Span
  private val spans = ArrayBuffer.empty[Span]
  def add(trace: Int, parent: Int, name: String, startMs: Long, endMs: Long): Int = {
    val id = spans.length + 1
    spans += Span(trace, id, parent, name, startMs, endMs)
    id
  }
  def jsonLines(origin: Long): Iterator[String] = spans.iterator.map { s =>
    val parent = if (s.parent == 0) "null" else s.parent.toString
    s"""{"trace":${s.trace},"span":${s.id},"parent":$parent,"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startMs - origin},"end_ms":${s.endMs - origin}}"""
  }
}

object Spans {
  final case class Span(trace: Int, id: Int, parent: Int, name: String,
                        startMs: Long, endMs: Long)
}
