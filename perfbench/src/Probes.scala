package perfbench

import java.io.File

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnExpr

import graft.vintage.{AddFile, FileSkipping, RemoveFile, Snapshot, VintageLog}

/** Per-layer probes of the traced run, called by the benchmark between
  * operations (never inside an operation's wall time). Each returns the
  * metric values and the spans it timed as (name, startMs, endMs).
  */
object Probes {
  type Timed = (String, Long, Long)

  private def timed[A](name: String, spans: collection.mutable.Buffer[Timed])(body: => A)
      : (A, Double) = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    spans += ((name, ms, System.currentTimeMillis()))
    (r, s)
  }

  /** Replays of `dir` under a spelling the snapshot cache has not seen
    * for 64 probes: the cache keys on the path string, so the first
    * replay misses (cold) and the second hits (warm). Extra slashes
    * normalise away in Hadoop paths.
    */
  private var alias = 0
  def log(dir: String, version: Long, spans: collection.mutable.Buffer[Timed])
      : Map[String, Double] = {
    alias = alias % 64 + 1
    val aliased = dir + "/" * alias
    val (_, latest) = timed("log.latest_version", spans)(VintageLog.latestVersion(dir))
    val (_, cold) = timed("log.replay_cold", spans)(VintageLog.replay(aliased, Some(version)))
    val (_, warm) = timed("log.replay_warm", spans)(VintageLog.replay(aliased, Some(version)))
    Map("log.latest_version_s" -> latest, "log.replay_cold_s" -> cold,
      "log.replay_warm_s" -> warm)
  }

  /** What the commit of `version` wrote: its log entry, checkpoint and
    * the AddFile/RemoveFile records. `submitted` is the number of rows
    * the message asked to change.
    */
  def commit(dir: String, version: Long, before: Snapshot, submitted: Long,
             spans: collection.mutable.Buffer[Timed]): Map[String, Double] = {
    val logDir = new File(dir, VintageLog.LogDirName)
    val prefix = f"$version%020d"
    val commitBytes = new File(logDir, s"$prefix.json").length()
    val cps = Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(s"$prefix.checkpoint") && !f.getName.endsWith(".crc"))
    val (actions, _) = timed("dml.read_version", spans)(VintageLog.readVersion(dir, version))
    val adds = actions.collect { case a: AddFile if a.dataChange => a }
    val removes = actions.collect { case r: RemoveFile if r.dataChange => r }
    val sizeBefore = before.files.iterator.map(f => f.path -> f.size).toMap
    val rowsWritten = adds.flatMap(_.numRecords).sum
    Map(
      "log.commit_bytes" -> commitBytes.toDouble,
      "log.checkpoint_bytes" -> cps.map(du).sum.toDouble,
      "log.checkpoints" -> (if (cps.nonEmpty) 1.0 else 0.0),
      "dml.files_added" -> adds.size.toDouble,
      "dml.files_removed" -> removes.size.toDouble,
      "dml.bytes_added" -> adds.map(_.size).sum.toDouble,
      "dml.bytes_removed" -> removes.map(r => sizeBefore.getOrElse(r.path, 0L)).sum.toDouble,
      "dml.rows_written" -> rowsWritten.toDouble,
      "dml.rows_submitted" -> submitted.toDouble)
  }

  /** File skipping on the operation's predicate over the snapshot it read. */
  def skipping(snap: Snapshot, predicate: Column, spans: collection.mutable.Buffer[Timed])
      : Map[String, Double] = {
    val (cand, _) = timed("skipping.candidates", spans)(
      FileSkipping.candidates(snap.schema, snap.statFiles, ColumnExpr.expr(predicate)))
    val total = snap.files.size
    Map("skipping.files_total" -> total.toDouble,
      "skipping.files_candidate" -> cand.size.toDouble,
      "skipping.prune_ratio" -> (if (total == 0) 0.0 else 1.0 - cand.size.toDouble / total))
  }

  /** Deletion-vector state of a snapshot. */
  def dv(dir: String, snap: Snapshot): Map[String, Double] = {
    val withDv = snap.files.filter(_.hasDv)
    val sidecars = withDv.flatMap(_.dvRef).map(_.path).distinct
    Map("dv.files_with_dv" -> withDv.size.toDouble,
      "dv.deleted_rows" -> withDv.map(_.dvCount).sum.toDouble,
      "dv.sidecar_bytes" -> sidecars.map(p => du(new File(AddFile.resolve(dir, p)))).sum.toDouble)
  }

  /** Bytes under a file or directory. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(du).sum
    else f.length()

  /** Bytes of live rows: each file's size pro-rated by its rows not
    * deleted by a deletion vector.
    */
  def liveBytes(snap: Snapshot): Double =
    snap.files.iterator.map { f =>
      f.numRecords.filter(_ > 0)
        .map(n => f.size.toDouble * (n - f.dvCount) / n).getOrElse(f.size.toDouble)
    }.sum
}
