package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.StreamingOps
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry

/** Dev CLI: per-MICRO-BATCH breakdown of the streaming gates — where
  * the ~750 ms/batch fixed cost (r18 JobProfile) actually goes. A
  * StreamingQueryListener records every QueryProgressEvent's
  * `durationMs` map (triggerExecution, queryPlanning, walCommit,
  * commitOffsets, addBatch, getBatch, latestOffset) plus state-store
  * metrics (rows updated in state per batch; the total is not
  * tracked, RocksDB row counting being off), so the driver-gap guess ("re-planning + WAL") becomes a
  * measured number per phase. Guide §1: measure first.
  *
  * Usage: runMain graft.tools.StreamProfile <q1,q2,...> [sfDir] [cpus]
  * Runs each query twice; the report covers the SECOND (warm) run.
  */
object StreamProfile {
  private case class Batch(query: String, batchId: Long, numInputRows: Long,
      durations: Map[String, Long], stateRowsUpdated: Long, stateMemUsed: Long)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions",
        "graft.vintage.connector.VintageSqlExtension")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach(profileOne(spark, _, sfDir))
    spark.stop()
  }

  private def profileOne(spark: SparkSession, name: String, sfDir: String): Unit = {
    val fn = SparkEntry.queries(name)

    val w0 = System.nanoTime()
    fn(spark, sfDir).count() // warm-up: classloading, codegen, JIT
    val warmSec = (System.nanoTime() - w0) / 1e9

    val batches = mutable.ArrayBuffer.empty[Batch]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized {
          val p = e.progress
          val dur = p.durationMs
          import scala.jdk.CollectionConverters._
          val stateRowsUpdated = Option(p.stateOperators).toSeq.flatten
            .map(_.numRowsUpdated).sum
          val stateMem = Option(p.stateOperators).toSeq.flatten
            .map(_.memoryUsedBytes).sum
          batches += Batch(p.name, p.batchId, p.numInputRows,
            dur.asScala.map { case (k, v) => (k, v.longValue) }.toMap,
            stateRowsUpdated, stateMem)
        }
    }
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val totalSec = (System.nanoTime() - t0) / 1e9
    // the listener bus is async: wait until it has delivered every event
    StreamingOps.drainListenerBus(spark)
    spark.streams.removeListener(listener)

    val done = batches.synchronized(batches.toVector)
    println(f"== $name warm=$warmSec%.2fs measured=$totalSec%.2fs batches=${done.size}")
    val phases = Seq("triggerExecution", "queryPlanning", "walCommit",
      "commitOffsets", "addBatch", "getBatch", "latestOffset")
    println("batch  rows " + phases.map(p => f"$p%16s").mkString)
    done.foreach { b =>
      println(f"${b.batchId}%5d ${b.numInputRows}%5d " +
        phases.map(p => f"${b.durations.getOrElse(p, -1L)}%16d").mkString +
        f"  stateRowsUpdated=${b.stateRowsUpdated} stateMemKiB=${b.stateMemUsed / 1024}")
    }
    val trig = done.map(_.durations.getOrElse("triggerExecution", 0L)).sum
    println(f"sum(triggerExecution)=${trig} ms over ${done.size} batches; " +
      f"non-trigger wall=${totalSec * 1000 - trig}%.0f ms")
    phases.foreach { p =>
      val s = done.map(_.durations.getOrElse(p, 0L)).sum
      println(f"  phase_total $p%-16s ${s}%6d ms")
    }
  }
}
