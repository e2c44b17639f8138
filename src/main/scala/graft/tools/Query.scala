package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.graftshim.StreamingOps
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{Bench, GraftSession, SparkEntry}

/** Dev CLI over the registered queries, in one [[GraftSession]]:
  *
  *  - `time`: run each query `runs` times (count() as the action) and
  *    print the wall seconds of each run — the profiling inner loop;
  *  - `explain`: print each query's formatted physical plan — pushdown,
  *    broadcast choices, whole-stage-codegen spans;
  *  - `audit`: per query, the Exchange count, join strategies, codegen
  *    spans and scan lines (PushedFilters, CartesianProduct) of the
  *    formatted plan, greppable in bulk;
  *  - `jobs`: per-job wall breakdown of a warm run — each job's
  *    duration and SQL execution (else call site), and the gaps
  *    between jobs (driver-side planning, commit protocol, file IO)
  *    that job timings alone hide;
  *  - `stream`: per-micro-batch phases of a warm run — every progress
  *    event's `durationMs` and state rows updated.
  *
  * Usage: `runMain graft.tools.Query <time|explain|audit|jobs|stream>
  * <q1,q2,..|all> [sfDir] [runs]`; `sfDir` defaults as Bench's does,
  * `runs` (time only) to 3.
  */
object Query {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-query")
    try run(spark, args) finally spark.stop()
  }

  private val Modes = Seq("time", "explain", "audit", "jobs", "stream")

  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2 && Modes.contains(args(0)),
      s"usage: Query <${Modes.mkString("|")}> <q1,q2,..|all> [sfDir] [runs]")
    val queries =
      if (args(1) == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.named(args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val sfDir = args.lift(2).getOrElse(Bench.defaultSfDir)
    val runs = args.lift(3).fold(3)(_.toInt)
    queries.foreach { case (name, fn) =>
      def df = fn(spark, sfDir)
      args(0) match {
        case "time" => println(s"== $name"); time(df, runs)
        case "explain" => println(s"== $name"); println(plan(df))
        case "audit" => audit(name, df)
        case "jobs" => jobs(name, measure(spark, df))
        case "stream" => stream(name, measure(spark, df))
      }
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def time(df: => DataFrame, runs: Int): Unit =
    for (i <- 1 to runs) {
      val (n, sec) = timed(df.count())
      println(f"run$i: $sec%.2f s ($n rows)")
    }

  private def audit(name: String, df: => DataFrame): Unit =
    try {
      val lines = plan(df).linesIterator.toSeq
      def c(p: String) = lines.count(_.contains(p))
      val joins = Seq("SortMergeJoin", "BroadcastHashJoin",
        "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
        .map(j => s"$j=${c(j)}").filter(!_.endsWith("=0"))
      val codegenIds = lines.flatMap(l =>
        "\\[codegen id : (\\d+)\\]".r.findAllMatchIn(l).map(_.group(1)))
        .distinct.size
      println(s"AUDIT $name exchanges=${c("Exchange")} " +
        s"codegenSpans=$codegenIds ${joins.mkString(" ")}")
      lines.filter(l => l.contains("PushedFilters") || l.contains("CartesianProduct"))
        .take(8).foreach(l => println(s"  $name: ${l.trim.take(160)}"))
    } catch { case e: Throwable =>
      println(s"AUDIT $name FAILED: ${e.getMessage}")
    }

  private final case class Job(id: Int, start: Long, var end: Long, site: String)

  /** The jobs and streaming progress events of one measured run. The
    * streaming listener bus posts progress events to the Spark
    * listener bus too, so one listener records both.
    */
  private final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // a SQL job is labelled by its execution: AQE stage and broadcast
      // jobs start from a pool thread, so their call site names only
      // CompletableFuture
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(id => s"sql execution $id")
        .orElse(props.flatMap(p => Option(p.getProperty("spark.job.description"))))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .orElse(e.stageInfos.lastOption.map(_.name))
        .getOrElse("?")
      jobs += Job(e.jobId, e.time, -1L, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => synchronized(batches += p.progress)
      case _ => ()
    }
  }

  private final case class Measured(warmSec: Double, sec: Double, t0ms: Long,
      jobs: Vector[Job], batches: Vector[StreamingQueryProgress])

  /** Run `df` once to warm classloading, codegen and JIT, then once more
    * under a [[Recorder]] registered after the warm run's events are
    * delivered; returns after every event of the measured run is.
    */
  private def measure(spark: SparkSession, df: => DataFrame): Measured = {
    val (_, warmSec) = timed(df.count())
    StreamingOps.drainListenerBus(spark)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      val t0ms = System.currentTimeMillis()
      val (_, sec) = timed(df.count())
      StreamingOps.drainListenerBus(spark)
      rec.synchronized(Measured(warmSec, sec, t0ms,
        rec.jobs.filter(_.end > 0).sortBy(_.start).toVector, rec.batches.toVector))
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  private def jobs(name: String, m: Measured): Unit = {
    println(f"== $name warm=${m.warmSec}%.2fs measured=${m.sec}%.2fs jobs=${m.jobs.size}")
    println("timeline (offset_ms dur_ms gap_before_ms site):")
    var prevEnd = m.t0ms
    m.jobs.foreach { j =>
      val gap = j.start - prevEnd
      println(f"  +${j.start - m.t0ms}%6d ${j.end - j.start}%6d gap=${gap}%5d  ${j.site}")
      prevEnd = math.max(prevEnd, j.end)
    }
    val jobSum = m.jobs.map(j => j.end - j.start).sum / 1000.0
    println(f"job_time_sum=$jobSum%.2fs driver_gaps=${m.sec - jobSum}%.2fs")
    println("by_site_totals:")
    m.jobs.groupBy(_.site).map { case (s, js) =>
      (js.map(j => j.end - j.start).sum, js.size, s)
    }.toSeq.sortBy(-_._1).foreach { case (ms, n, s) =>
      println(f"  ${ms}%6d ms  n=$n%-3d $s")
    }
  }

  private val Phases = Seq("triggerExecution", "queryPlanning", "walCommit",
    "commitOffsets", "addBatch", "getBatch", "latestOffset")

  private def stream(name: String, m: Measured): Unit = {
    def dur(p: StreamingQueryProgress, phase: String, absent: Long): Long =
      Option(p.durationMs.get(phase)).fold(absent)(_.longValue)
    println(f"== $name warm=${m.warmSec}%.2fs measured=${m.sec}%.2fs batches=${m.batches.size}")
    println("batch  rows " + Phases.map(p => f"$p%16s").mkString)
    m.batches.foreach { b =>
      val state = Option(b.stateOperators).toSeq.flatten
      println(f"${b.batchId}%5d ${b.numInputRows}%5d " +
        Phases.map(p => f"${dur(b, p, -1L)}%16d").mkString +
        f"  stateRowsUpdated=${state.map(_.numRowsUpdated).sum} " +
        f"stateMemKiB=${state.map(_.memoryUsedBytes).sum / 1024}")
    }
    val trig = m.batches.map(dur(_, "triggerExecution", 0L)).sum
    println(f"sum(triggerExecution)=${trig} ms over ${m.batches.size} batches; " +
      f"non-trigger wall=${m.sec * 1000 - trig}%.0f ms")
    Phases.foreach { p =>
      println(f"  phase_total $p%-16s ${m.batches.map(dur(_, p, 0L)).sum}%6d ms")
    }
  }
}
