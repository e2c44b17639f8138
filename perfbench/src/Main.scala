package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.vintage.VintageLog

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** `build` names the sources the classes were built from. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String, build: String)

/** One timed operation. `cls` is submit or read; `small` marks merges
  * of at most 1% of the table's rows.
  */
final case class Sample(kind: String, cls: String, layout: String, small: Boolean,
                        wallS: Double, cpuS: Double, ok: Boolean)

/** The vintage-table benchmark: one closed-loop client drives seeded
  * SDMX submissions, each confirmed by a read, through `graft.vintage`, checks
  * every result against the generator's model, and prints one JSON
  * line of metrics. See perfbench/README.md for the workloads and the
  * layer-to-metric map.
  */
object Main {
  val Workloads: Seq[String] = Seq("submissions", "submissions_sql_dv")
  /** 400 series x 150 months = 60,000 observations. */
  val Series = 400
  val Periods = 150

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "round_s" -> "s",
    "correction_s.p50" -> "s", "read_s.p50" -> "s", "bytes_per_live_byte" -> "ratio")
  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.queries" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "log.replay_cold_s" -> "s", "log.replay_warm_s" -> "s",
    "log.latest_version_s" -> "s", "log.commit_bytes" -> "bytes",
    "log.checkpoint_bytes" -> "bytes", "log.checkpoints" -> "count",
    "dml.files_added" -> "count", "dml.files_removed" -> "count",
    "dml.bytes_added" -> "bytes", "dml.bytes_removed" -> "bytes",
    "dml.rows_rewritten_per_row_submitted" -> "ratio",
    "skipping.files_total" -> "count", "skipping.files_candidate" -> "count",
    "skipping.prune_ratio" -> "ratio",
    "dv.files_with_dv" -> "count", "dv.deleted_rows" -> "count",
    "dv.sidecar_bytes" -> "bytes",
    "sdmx.prep_s" -> "s", "host.wall_cpu_ratio" -> "ratio")

  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --work <dir> --out <dir> --build <id>")
    sys.exit(2)
  }

  def parse(args: Array[String]): Args = {
    if (args.length % 2 != 0) usage()
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    try {
      val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt,
        m("trace") match { case "0" => false; case "1" => true },
        m("work"), m("out"), m("build"))
      if (!Workloads.contains(a.workload) || a.seconds < 1) usage()
      a
    } catch { case _: NoSuchElementException | _: NumberFormatException | _: MatchError =>
      usage()
    }
  }

  def session(work: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.extensions", "graft.vintage.connector.VintageSqlExtension")
      .config("spark.sql.catalog.vin", "graft.vintage.connector.VintageCatalog")
      .config("spark.sql.catalog.vin.warehouse", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val code =
      try new Bench(a).run()
      catch { case e: Gate.Mismatch =>
        System.err.println(s"[perfbench] ${e.getMessage}; run aborted")
        3
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** Host evidence: loadavg and MemAvailable from /proc. */
object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => None }
  def snapshot(): String = {
    val load = read("/proc/loadavg").map(_.trim.split("\\s+").take(3).toSeq)
      .getOrElse(Nil)
    val availMb = read("/proc/meminfo")
      .flatMap(_.linesIterator.find(_.startsWith("MemAvailable:")))
      .flatMap(_.split("\\s+").lift(1)).map(_.toLong / 1024)
    Json.obj(Seq("loadavg" -> load.mkString("[", ",", "]"),
      "mem_available_mb" -> availMb.fold("null")(_.toString)))
  }
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
}

final class Bench(a: Args) {
  import Main._

  /** Setup phases in order, with their wall seconds (side output). */
  private val phases = ArrayBuffer.empty[(String, Double)]
  private val spark = {
    val t0 = System.nanoTime()
    val s = Main.session(a.work)
    phases += (("session", (System.nanoTime() - t0) / 1e9))
    s
  }
  private lazy val tracer = new Tracer(spark)
  private val spans = new Spans
  private val samples = ArrayBuffer.empty[Sample]
  /** Per-layer values of each timed operation (traced run only). */
  private val layers = ArrayBuffer.empty[collection.mutable.Map[String, Double]]
  private val opWindows = ArrayBuffer.empty[(String, Long, Long, Int)]
  private val problems = ArrayBuffer.empty[String]
  private var deadline = 0L

  private def frame(s: Surface, rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    Gate.frame(s.spark, rows, partitions = math.max(1, math.min(8, rows.size / 8000)))

  // ----------------------------------------------------------- operations

  private def execute(s: Surface, op: Op, df: Option[DataFrame], stream: Stream): Unit = {
    op match {
      case _: Merge => s.merge(df.get)
      case d: DeleteSeries => s.deleteSeries(stream.currency(d.series))
      case u: UpdateDecimals => s.updateDecimals(stream.currency(u.series), u.decimals)
      case r: Replace => if (r.initial) s.load(df.get) else s.replace(df.get)
    }
  }
  private def dataOf(s: Surface, op: Op): Option[DataFrame] = op match {
    case m: Merge => Some(frame(s, m.rows))
    case r: Replace => Some(frame(s, r.rows))
    case _ => None
  }

  /** Untimed: setup applies messages the same way the loop does. */
  private def apply(s: Surface, op: Op, stream: Stream): Unit =
    execute(s, op, dataOf(s, op), stream)

  /** One timed operation; `probe` runs afterwards, in the traced run only. */
  private def timed(kind: String, cls: String, s: Surface, small: Boolean,
                    prep: Option[(Long, Double)])(body: => Boolean)
                   (probe: collection.mutable.Buffer[Probes.Timed] => Map[String, Double]): Unit = {
    val i = samples.length
    val opId = s"op-$i"
    val startMs = System.currentTimeMillis()
    val c0 = Host.cpuNs(); val t0 = System.nanoTime()
    val ok =
      try if (a.trace) tracer.tagged(opId)(body) else body
      catch { case e: Exception =>
        problems += s"$opId $kind on ${s.layout} failed: ${e.getClass.getName}: ${e.getMessage}"
        false
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Host.cpuNs() - c0) / 1e9
    val endMs = System.currentTimeMillis()
    if (!ok && problems.lastOption.forall(!_.startsWith(s"$opId ")))
      problems += s"$opId $kind on ${s.layout} returned a result that differs from the model"
    samples += Sample(kind, cls, s.layout, small, wall, cpu, ok)
    if (a.trace) {
      val buf = ArrayBuffer.empty[Probes.Timed]
      val values = collection.mutable.Map[String, Double]()
      if (ok) values ++= (try probe(buf) catch { case e: Exception =>
        problems += s"$opId probe failed: $e"; Map.empty[String, Double] })
      values("host.wall_cpu_ratio") = if (cpu > 0) wall / cpu else 0.0
      prep.foreach { case (_, s0) => values("sdmx.prep_s") = s0 }
      layers += values
      val rootStart = prep.fold(startMs)(_._1)
      val rootEnd = buf.lastOption.fold(endMs)(_._3)
      val root = spans.add(i, 0, s"op.$kind", rootStart, rootEnd)
      prep.foreach { case (ms, s0) => spans.add(i, root, "sdmx.prep", ms, ms + math.round(s0 * 1e3)) }
      val call = spans.add(i, root, s"${s.layout}.$kind", startMs, endMs)
      opWindows += ((opId, startMs, endMs, call))
      buf.foreach { case (n, s0, e0) => spans.add(i, root, n, s0, e0) }
    }
  }

  private def submit(s: Surface, op: Op, stream: Stream): Unit = {
    val v = stream.latestVersion
    val rowsBefore = stream.tableAt(v - 1)._1
    val prepMs = System.currentTimeMillis(); val p0 = System.nanoTime()
    val df = dataOf(s, op)
    val prepS = (System.nanoTime() - p0) / 1e9
    val (small, submitted, predicate) = op match {
      case m: Merge =>
        (m.rows.size <= rowsBefore / 100, m.rows.size.toLong,
          Some(col("KEY").isin(m.rows.map(r => SdmxRows.key(r.getString(1), r.getString(5))): _*)))
      case d: DeleteSeries =>
        (false, stream.seriesAt(d.series, v - 1)._1,
          Some(col("CURRENCY") === stream.currency(d.series)))
      case u: UpdateDecimals =>
        (false, stream.seriesAt(u.series, v)._1,
          Some(col("CURRENCY") === stream.currency(u.series)))
      case r: Replace => (false, r.rows.size.toLong, None)
    }
    timed(op.kind, "submit", s, small, Some((prepMs, prepS))) {
      execute(s, op, df, stream); true
    } { buf =>
      val before = VintageLog.replay(s.dir, Some(v - 1))
      val after = VintageLog.replay(s.dir, Some(v))
      Probes.log(s.dir, v, buf) ++ Probes.commit(s.dir, v, before, submitted, buf) ++
        predicate.fold(Map.empty[String, Double])(Probes.skipping(before, _, buf)) ++
        Probes.dv(s.dir, after)
    }
  }

  private def readProbe(s: Surface, version: Long, predicate: Option[Column])
                       (buf: collection.mutable.Buffer[Probes.Timed]): Map[String, Double] = {
    val snap = VintageLog.replay(s.dir, Some(version))
    Probes.log(s.dir, version, buf) ++
      predicate.fold(Map.empty[String, Double])(Probes.skipping(snap, _, buf)) ++
      Probes.dv(s.dir, snap)
  }

  /** Reads one series of the current version back, as the paper counts
    * the table after every step.
    */
  private def confirm(s: Surface, stream: Stream, ser: Int): Unit = {
    val cur = stream.currency(ser)
    val v = stream.latestVersion
    timed("confirm", "read", s, small = false, None) {
      s.series(cur, None) == stream.seriesAt(ser, v)
    }(readProbe(s, v, Some(col("CURRENCY") === cur)))
  }

  // ------------------------------------------------------------ workloads

  private def gate(s: Surface): Unit = phase(s"gate.${s.layout}")(Gate.run(s, a.seed))

  private def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases += ((name, (System.nanoTime() - t0) / 1e9))
  }

  /** The paper's stream on one table. Each message is followed by a
    * read of a series it touched (the paper counts after every step).
    * The loop runs whole rounds: after the deadline it finishes the
    * round it is in, so every message kind has a sample.
    */
  private def submissions(s: Surface, gateSurface: Surface): Unit = {
    gate(gateSurface)
    val stream = new Stream(a.seed, Series, Periods)
    phase("load")(apply(s, stream.initial(), stream))
    // the gate warms the DML paths on 504 rows; one untimed round at
    // scale lets the loop start at steady state, not on a trend
    phase("warmup")(Stream.Round.foreach { _ =>
      val op = stream.next()
      apply(s, op, stream)
      s.series(stream.currency(stream.randomLiveSeries()), None)
    })
    roundStorage = storage(s)
    startLoop()
    while (System.nanoTime() < deadline || !stream.atRoundStart) {
      val op = stream.next()
      submit(s, op, stream)
      val touched = op match {
        case m: Merge => m.touched(stream.nextInt(m.touched.size))
        case d: DeleteSeries => d.series
        case u: UpdateDecimals => u.series
        case _: Replace => stream.randomLiveSeries()
      }
      confirm(s, stream, touched)
    }
    endLoop()
    endStorage = storage(s)
    check(s, stream)
  }

  // ----------------------------------------------------------- measuring

  /** Bytes under the table directory (data, DV sidecars and log) per
    * byte of live data, after the first round: one reporting month of
    * messages, ending with its full replacement. Taken at a fixed point
    * of the stream so it does not depend on how far a run gets. The
    * value at the end of the loop, which grows with every round a run
    * completes, is in the side output.
    */
  private var roundStorage = Double.NaN
  private var endStorage = Double.NaN
  private def storage(s: Surface): Double =
    Probes.du(new File(s.dir)) / Probes.liveBytes(VintageLog.replay(s.dir))

  private var loopStartNs = 0L
  private var loopStartMs = 0L
  private var loopEndNs = 0L
  private var setupS = 0.0
  private val hostBefore = Host.snapshot()
  private var heapPeakMb = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  private def startLoop(): Unit = {
    if (a.trace) tracer.install()
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    loopStartMs = System.currentTimeMillis()
    loopStartNs = System.nanoTime()
    deadline = loopStartNs + a.seconds * 1000000000L
  }
  private def endLoop(): Unit = {
    loopEndNs = System.nanoTime()
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Final state of the table against the model: row count and
    * checksum of the current version, and the whole history.
    */
  private def check(s: Surface, st: Stream): Unit = {
    val got = s.table()
    val want = st.tableAt(st.latestVersion)
    if (got != want)
      problems += s"final ${s.layout} table (rows, checksum) $got differs from model $want"
    val hist = s.history().map(_._2)
    val wantHist = (0L to st.latestVersion).map(v => s.historyOp(st.opAt(v)))
    if (hist != wantHist)
      problems += s"final ${s.layout} history differs from the model"
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val v = xs.sorted; val n = v.length
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }
  /** Highest percentile with at least ten samples beyond it. */
  private def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.length < 11) None else {
      val v = xs.sorted; val n = v.length
      val rank = n - 11 // ten samples above index n-11
      Some((100.0 * (rank + 1) / n, v(rank)))
    }

  def run(): Int = {
    a.workload match {
      case "submissions" =>
        submissions(new FluentCow(spark, s"${a.work}/cow"),
          new FluentCow(spark, s"${a.work}/gate-cow"))
      case "submissions_sql_dv" =>
        submissions(new SqlDv(spark, "vin", "exr"), new SqlDv(spark, "vin", "gate_dv"))
    }
    val loopS = (loopEndNs - loopStartNs) / 1e9
    if (a.trace) {
      tracer.drain()
      opWindows.zip(layers).foreach { case ((op, s0, e0, call), values) =>
        values ++= tracer.layers(op, s0, e0)
        tracer.childSpans(op, s0, e0).foreach { case (n, cs, ce) =>
          spans.add(op.stripPrefix("op-").toInt, call, n, cs, ce)
        }
      }
    }
    val ok = samples.filter(_.ok)
    // latencies of the operations that succeeded; of all of them when
    // none did, so a metric still has a value when `correct` is false
    def wall(f: Sample => Boolean) = {
      val xs = ok.filter(f)
      (if (xs.nonEmpty) xs else samples.filter(f)).map(_.wallS).toSeq
    }
    val submits = wall(_.cls == "submit")
    val reads = wall(_.cls == "read")
    // seconds per reporting month: each message kind's median latency,
    // as often as the kind occurs in a round
    val perKind = Stream.Round.distinct.map(k => k -> median(wall(_.kind == k))).toMap
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> ok.size / loopS,
      "round_s" -> Stream.Round.map(perKind).sum,
      "correction_s.p50" -> perKind("correction"),
      "read_s.p50" -> median(reads),
      "bytes_per_live_byte" -> roundStorage)
    val failed = samples.count(!_.ok)
    val side = Map(
      "submit_s.p50" -> median(submits),
      "merge_small_s.p50" -> median(wall(_.small)),
      "merge_large_s.p50" -> perKind("revision"),
      "bytes_per_live_byte.end" -> endStorage,
      "read_share_of_loop" -> samples.filter(_.cls == "read").map(_.wallS).sum / loopS,
      "submit_share_of_loop" -> samples.filter(_.cls == "submit").map(_.wallS).sum / loopS,
      "heap_peak_mb" -> heapPeakMb,
      "failed_ops_frac" -> failed.toDouble / math.max(1, samples.size))
    val tails = Seq("submit_s.tail" -> tail(submits), "read_s.tail" -> tail(reads))

    val perLayer: Map[String, Double] = if (!a.trace) Map.empty else {
      def mean(name: String) = {
        val xs = layers.flatMap(_.get(name))
        if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      val written = layers.flatMap(_.get("dml.rows_written")).sum
      val asked = layers.flatMap(_.get("dml.rows_submitted")).sum
      PerLayer.map(_._1).map {
        case n @ "dml.rows_rewritten_per_row_submitted" =>
          n -> (if (asked > 0) written / asked else 0.0)
        case n => n -> mean(n)
      }.toMap
    }
    val correct = problems.isEmpty
    problems.take(20).foreach(p => System.err.println(s"[perfbench] $p"))
    writeSide(e2e, side, tails, perLayer, loopS, failed)

    val units = (EndToEnd ++ PerLayer).toMap
    val metrics = (if (a.trace) PerLayer.map(_._1).map(n => n -> perLayer(n))
                   else EndToEnd.map(_._1).map(n => n -> e2e(n)))
    val missing = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] no samples for ${missing.mkString(", ")}")
      return 4
    }
    val json = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> samples.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(n))))
      })))
    println(json)
    0
  }

  /** Side output: host evidence, all metrics (including those not in
    * the result line), every operation's wall and CPU time, and in the
    * traced run the per-operation layers, spans and tracing overhead.
    */
  private def writeSide(e2e: Map[String, Double], side: Map[String, Double],
                        tails: Seq[(String, Option[(Double, Double)])],
                        perLayer: Map[String, Double], loopS: Double, failed: Int): Unit = {
    val out = new File(a.out); out.mkdirs()
    val base = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val kinds = samples.groupBy(s => (s.kind, s.layout)).toSeq.sortBy(_._1).map {
      case ((k, l), ss) => s"$k.$l" -> Json.obj(Seq(
        "n" -> ss.size.toString,
        "p50_s" -> Json.num(median(ss.filter(_.ok).map(_.wallS).toSeq))))
    }
    // against the untraced run of the same workload, seed, length and build
    val overhead = if (!a.trace) None else {
      val untraced = new File(out, s"${a.workload}-seed${a.seed}-trace0.json")
      Some(untraced).filter(_.isFile).flatMap { f =>
        val text = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        val same = text.contains(s"\"build\":${Json.str(a.build)}") &&
          text.contains(s"\"seconds\":${a.seconds},")
        if (!same) None
        else "\"ops_per_s\":([0-9.eE+-]+)".r.findFirstMatchIn(text).map(_.group(1).toDouble)
      }.map(base0 => Json.obj(Seq(
        "untraced_ops_per_s" -> Json.num(base0),
        "traced_ops_per_s" -> Json.num(e2e("ops_per_s")),
        "slowdown" -> Json.num(base0 / e2e("ops_per_s") - 1))))
    }
    val ops = samples.map(s => Json.obj(Seq("kind" -> Json.str(s.kind),
      "layout" -> Json.str(s.layout), "wall_s" -> Json.num(s.wallS),
      "cpu_s" -> Json.num(s.cpuS), "ok" -> s.ok.toString)))
    val opLayers = if (!a.trace) "[]" else layers.map(m =>
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })).mkString("[", ",", "]")
    val doc = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
      "build" -> Json.str(a.build),
      "host" -> Json.obj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "spark_parallelism" -> spark.sparkContext.defaultParallelism.toString,
        "java" -> Json.str(System.getProperty("java.version")),
        "before" -> hostBefore, "after" -> Host.snapshot())),
      "setup_phases_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "scale" -> Json.obj(Seq("series" -> Series.toString, "periods" -> Periods.toString,
        "observations" -> (Series * Periods).toString)),
      "loop" -> Json.obj(Seq("type" -> Json.str("closed"), "clients" -> "1",
        "seconds" -> Json.num(loopS), "attempted" -> samples.size.toString,
        "failed" -> failed.toString)),
      "end_to_end" -> Json.obj((e2e ++ side).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "tails" -> Json.obj(tails.map { case (k, t) => k -> t.fold("null") { case (p, v) =>
        Json.obj(Seq("percentile" -> Json.num(p), "value_s" -> Json.num(v))) } }),
      "kinds" -> Json.obj(kinds),
      "per_layer" -> Json.obj(perLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "trace_overhead" -> overhead.getOrElse("null"),
      "problems" -> problems.map(Json.str).mkString("[", ",", "]"),
      "ops" -> ops.mkString("[", ",", "]"),
      "op_layers" -> opLayers))
    Files.write(new File(out, s"$base.json").toPath, doc.getBytes(StandardCharsets.UTF_8))
    if (a.trace) Files.write(new File(out, s"$base-spans.jsonl").toPath,
      spans.jsonLines(loopStartMs).toSeq.asJava)
    val summary = (e2e ++ side).toSeq.sortBy(_._1).map { case (k, v) =>
      val unit = Main.EndToEnd.toMap.getOrElse(k,
        if (k.endsWith("_mb")) "MB" else if (k.endsWith("_s") || k.endsWith(".p50")) "s"
        else "ratio")
      f"  $k%-22s ${if (v.isNaN) "n/a" else f"$v%.4f"}%10s $unit"
    } ++ tails.map { case (k, t) =>
      f"  $k%-22s ${t.fold("n/a") { case (p, v) => f"$v%.4f (p$p%.1f)" }}%10s s"
    }
    System.err.println(s"[perfbench] ${a.workload} seed ${a.seed}: ${samples.size} ops, " +
      s"$failed failed, side output ${new File(out, s"$base.json")}\n" + summary.mkString("\n"))
  }
}
