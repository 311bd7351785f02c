package pipebench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{Schemas, Scd2Config}
import graft.pipeline.{Pipeline, RunResult}
import graft.scd2.Historizer
import graft.store.TableStore

/** Closed-loop benchmark of `graft.pipeline.Pipeline.run`: one client, one
  * device, each run waiting for the previous one (the Success gate
  * serialises runs the same way). See `pipebench/README.md` for the
  * workloads and metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --result <file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = Workload.byName.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; one of ${Workload.byName.keys.mkString(", ")}"))
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    val result =
      try new Bench(spark, spec, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", work, started).run()
      finally spark.stop()
    Files.write(Paths.get(opt("result")), result.getBytes("UTF-8"))
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** A workload: how much history setup builds, how each cycle extends the
  * export, and where each run's `now` sits relative to the newest reading.
  *
  *  - `fresh`: every cycle runs on an empty store (a backfill of the whole
  *    export); otherwise cycles extend one growing target.
  *  - `lagHours`: the run clock trails the newest reading by this much, so
  *    each run re-ingests that overlap; `reviseShare` of the overlap is
  *    rewritten by the device before the run, giving U rows.
  *  - `recentProbeShare`: share of probes aimed at the last two days,
  *    where revised readings hold more than one version.
  *  - `minCycles`: timed cycles that run even past `--seconds`, the floor
  *    on each median's sample count.
  */
final case class Workload(name: String, historyDays: Int, warmup: Int, minCycles: Int,
    fresh: Boolean = false, lagHours: Int = 0, reviseShare: Double = 0.0,
    recentProbeShare: Double = 0.0)

object Workload {
  val all: Seq[Workload] = Seq(
    // small batches on a long history: per-run fixed cost and terms that
    // grow with history (control rewrites, whole-export re-parse, full
    // target max(), every nk bucket rewritten)
    Workload("daily", historyDays = 90, warmup = 2, minCycles = 3),
    // one large batch on an empty store: parse, explode, the nk-ordered
    // index sort and the first target write
    Workload("backfill", historyDays = 30, warmup = 2, minCycles = 3, fresh = true),
    // 6 h re-ingest overlap with revised payloads: U/NC rows, close-out,
    // AK retention; probes lean on the revised window
    Workload("revise_read", historyDays = 21, warmup = 1, minCycles = 4,
      lagHours = 6, reviseShare = 0.25, recentProbeShare = 0.5))
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}

/** Counts of one traced pipeline run, and of one traced probe batch. */
final case class TracedRun(unit: String, ingested: Long, leaves: Long, inserted: Long,
    closed: Long, controlCalls: Long, targetFilesRewritten: Long)
final case class TracedProbe(unit: String, hits: Long)

final class Bench(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
    traceMode: Boolean, work: Path, started: Long) {
  import spark.implicits._

  val deviceId = "DEV01OMKARVARMA"
  val probesPerBatch = 500
  // sub-second batches: several per run steady their median
  val probeBatches = 3
  val gen = new ExportGen(work.resolve("export").resolve(deviceId), seed)
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val listener = new SegmentListener

  /** One store directory seen through two clients: the plain pipeline for
    * untraced runs, the traced one for traced runs. Checks and probes read
    * through the plain store. */
  final class Stores(val dir: Path) {
    val store = new TableStore(spark, dir.toString)
    val plain = new Pipeline(spark, store)
    val tracedStore = new TracedStore(spark, dir.toString, tracer)
    val tracedPipe = new TracedPipeline(spark, tracedStore, tracer)
  }
  private var storeSeq = 0
  private var stores: Stores = openStores()
  private def openStores(): Stores = { storeSeq += 1; new Stores(work.resolve(s"store$storeSeq")) }
  private def storeDir = stores.dir
  private def store = stores.store
  private def plain = stores.plain
  private def tracedStore = stores.tracedStore
  private def tracedPipe = stores.tracedPipe
  private var prevNow: Option[Long] = None
  private var lastRunS = 0.0
  private var units = 0

  // e2e samples (untraced runs only)
  val runS, runRate, probeS = mutable.ArrayBuffer.empty[Double]
  var ingestedSum, bytesWritten = 0L
  // traced samples
  val tracedRunS = mutable.ArrayBuffer.empty[Double]
  val runUnits = mutable.ArrayBuffer.empty[TracedRun]
  val probeUnits = mutable.ArrayBuffer.empty[TracedProbe]
  var attempted, failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def run(): String = {
    if (traceMode) sc.addSparkListener(listener)
    for (_ <- 0 until w.historyDays) gen.addDay()
    if (!w.fresh) runCycle(history = true, timed = false, traced = false)
    for (_ <- 0 until w.warmup) cycle(timed = false, traced = false)
    val setupS = (System.nanoTime() - started) / 1e9
    val t0 = System.nanoTime()
    var k = 0
    def more = (System.nanoTime() - t0) / 1e9 < seconds || k < w.minCycles ||
      (traceMode && (runUnits.isEmpty || runS.isEmpty))
    while (problems.isEmpty && more) {
      cycle(timed = true, traced = traceMode && k % 2 == 1)
      k += 1
    }
    report(setupS)
  }

  /** One cycle: extend the export (or empty the store), one pipeline run,
    * then the probe batches. */
  private def cycle(timed: Boolean, traced: Boolean): Unit = {
    if (w.fresh) {
      store.destroy()
      stores = openStores()
      gen.resetTruth()
      prevNow = None
    } else {
      val newest = gen.dayEndMillis(gen.days - 1)
      gen.addDay()
      if (w.reviseShare > 0)
        gen.revise(prevNow.get, newest, w.reviseShare, salt = gen.days)
    }
    runCycle(history = false, timed, traced)
  }

  private def runCycle(history: Boolean, timed: Boolean, traced: Boolean): Unit = {
    val now = gen.dayEndMillis(gen.days - 1) - w.lagHours * 3600L * 1000L
    val t0 = System.nanoTime()
    if (timed) attempted += 1
    val ok = guard(timed)(pipelineRun(now, timed, traced))
    var b = 0
    while (ok && !history && b < probeBatches) {
      if (timed) attempted += 1
      if (guard(timed)(probeBatch(timed, traced))) b += 1 else b = probeBatches
    }
    System.err.println(f"pipebench: ${if (history) "history" else if (timed) "timed" else "warm-up"}%s" +
      f"${if (traced) " traced" else ""}%s cycle on ${gen.days}%d days: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
      f" (run $lastRunS%.2f s)")
  }

  /** Run `op`; an exception or a failed check fails the operation. */
  private def guard(timed: Boolean)(op: => Seq[String]): Boolean = {
    val found = try op catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (found.nonEmpty) {
      if (timed) failed += 1
      problems ++= found
      found.foreach(p => System.err.println(s"pipebench check failed: $p"))
    }
    found.isEmpty
  }

  private def pipelineRun(nowMillis: Long, timed: Boolean, tracedRun: Boolean): Seq[String] = {
    val exp = gen.expect(prevNow)
    val leaves = gen.leaves
    val before = Bench.files(storeDir)
    val targetBefore = before.keySet.filter(_.contains(s"/${plain.targetName}/"))
    val closedBefore = gen.closedRows
    val now = new Timestamp(nowMillis)
    val unit = s"run$units"
    units += 1
    val (res, secs) =
      if (tracedRun) {
        val t0 = tracer.begin(unit)
        var t1 = t0
        val r = try tracedPipe.run(gen.dir.toString, deviceId, now) finally t1 = tracer.end()
        (r, (t1 - t0) / 1e9)
      } else {
        val t0 = System.nanoTime()
        val r = plain.run(gen.dir.toString, deviceId, now)
        (r, (System.nanoTime() - t0) / 1e9)
      }
    lastRunS = secs
    val after = Bench.files(storeDir)
    gen.commit(prevNow, nowMillis)
    prevNow = Some(nowMillis)
    val found = checkRun(res, exp)
    if (timed && found.isEmpty) {
      if (tracedRun) {
        tracedRunS += secs
        val targetNew = after.keySet.filter(p => p.contains(s"/${plain.targetName}/") &&
          p.endsWith(".parquet") && !targetBefore.contains(p))
        runUnits += TracedRun(unit, res.ingested, leaves, res.inserted,
          gen.closedRows - closedBefore, tracedStore.takeControlCalls(), targetNew.size)
      } else {
        runS += secs
        runRate += res.ingested / secs
        ingestedSum += res.ingested
        bytesWritten += after.collect { case (p, n) if !before.contains(p) => n }.sum
      }
    }
    tracedStore.takeControlCalls()
    found
  }

  /** Output checks for one run: the result counts, the SCD2 invariants on
    * the stored target, and the control table. */
  private def checkRun(res: RunResult, exp: Expect): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (res.ingested != exp.ingested || res.inserted != exp.inserted)
      out += s"run ${res.loadKey}: ingested/inserted ${res.ingested}/${res.inserted}, " +
        s"expected ${exp.ingested}/${exp.inserted} (I=${exp.i} U=${exp.u} NC=${exp.nc})"
    val t = store.read(plain.targetName).agg(
      sum(when($"da_current_flag" === "Y", 1L).otherwise(0L)),
      countDistinct(when($"da_current_flag" === "Y", struct($"deviceid", $"timestamp"))),
      sum(when($"da_current_flag" === "N", 1L).otherwise(0L))).head()
    val (current, distinctCurrent, closed) = (t.getLong(0), t.getLong(1), t.getLong(2))
    if (current != distinctCurrent)
      out += s"run ${res.loadKey}: $current current rows for $distinctCurrent natural keys"
    if (current != gen.currentRows)
      out += s"run ${res.loadKey}: $current current rows, expected ${gen.currentRows}"
    if (closed != gen.closedRows)
      out += s"run ${res.loadKey}: $closed closed rows, expected cumulative U ${gen.closedRows}"
    val ctl = plain.ctl.control.select($"load_status", $"load_key").as[(String, Long)]
      .collect().sortBy(_._2)
    if (!ctl.forall(_._1 == "Success"))
      out += s"run ${res.loadKey}: control statuses ${ctl.map(_._1).distinct.mkString(",")}"
    if (!ctl.map(_._2).sameElements(1L to ctl.length))
      out += s"run ${res.loadKey}: load keys not contiguous from 1: ${ctl.map(_._2).mkString(",")}"
    out.toSeq
  }

  /** A batch of point-in-time probes against the stored target; every
    * answer must equal the version the truth holds valid at that instant. */
  private def probeBatch(timed: Boolean, tracedBatch: Boolean): Seq[String] = {
    val r = new Random(seed * 31L + units)
    val instants = gen.runInstants
    val n = gen.leaves.toInt
    val recent = math.max(0, n - 2 * gen.perDay)
    val probes = (0 until probesPerBatch).map { p =>
      val i = if (r.nextDouble() < w.recentProbeShare) recent + r.nextInt(n - recent) else r.nextInt(n)
      val asOf = instants(r.nextInt(instants.size)) + (r.nextInt(7200) - 3600) * 1000L
      (p.toLong, i, asOf)
    }
    val rows = probes.map { case (p, i, asOf) =>
      (p, deviceId, new Timestamp(gen.tsMillis(i)), new Timestamp(asOf))
    }
    val unit = s"probe$units"
    units += 1
    val t0 = if (tracedBatch) { val t = tracer.begin(unit); tracer.enter("asof"); t } else System.nanoTime()
    var t1 = t0
    val answers =
      try {
        val pr = rows.toDF("probe_id", "deviceid", "timestamp", "asof")
        val tgt = store.readOrEmpty(plain.targetName, Schemas.scd2TargetStored)
        Historizer.pointInTime(tgt, pr, Scd2Config(), "asof")
          .select(pr("probe_id"), tgt("dht11_key"), tgt("humidity"), tgt("temperature"))
          .collect()
      } finally t1 = if (tracedBatch) tracer.end() else System.nanoTime()
    val secs = (t1 - t0) / 1e9
    val byId = answers.groupBy(_.getLong(0))
    val out = mutable.ArrayBuffer.empty[String]
    var hits = 0L
    probes.foreach { case (p, i, asOf) =>
      val got = byId.getOrElse(p, Array.empty).filter(!_.isNullAt(1))
        .map(a => (a.getString(2), a.getString(3))).toSeq
      val want = gen.versionAt(i, asOf).map(v =>
        (Option(v.hum).getOrElse("N/A"), Option(v.temp).getOrElse("N/A"))).toSeq
      hits += got.size
      if (got != want && out.size < 5)
        out += s"probe reading $i as of ${new Timestamp(asOf)}: got $got, expected $want"
    }
    if (timed && out.isEmpty) {
      if (tracedBatch) probeUnits += TracedProbe(unit, hits) else probeS += secs
    }
    out.toSeq
  }

  private def report(setupS: Double): String = {
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traceMode || runS.nonEmpty) {
      val targetBytes = Bench.files(storeDir.resolve(plain.targetName)).values.sum
      e2e("setup_s") = (setupS, "s")
      e2e("run_s_p50") = (Bench.median(runS), "s")
      e2e("readings_per_s") = (Bench.median(runRate), "1/s")
      e2e("asof_query_s_p50") = (Bench.median(probeS), "s")
      e2e("bytes_written_per_reading") = (bytesWritten.toDouble / ingestedSum, "B")
      e2e("stored_bytes_per_reading") = (targetBytes.toDouble / gen.currentRows, "B")
      e2e("peak_rss_mb") = (Bench.peakRssMb(), "MB")
    }
    if (traceMode) {
      listener.drain(sc)
      layer ++= layerMetrics()
      writeSpans()
    }
    val metrics = if (traceMode) layer else e2e
    // nothing attempted means set-up or warm-up failed: one failed operation
    val (att, fail) = if (attempted == 0) (1L, 1L) else (attempted, failed)
    val lines = mutable.ArrayBuffer.empty[String]
    lines += s"workload ${w.name} seed $seed trace ${if (traceMode) 1 else 0}: " +
      s"$att operations attempted, $fail failed"
    lines += f"ops_failed_frac ${fail.toDouble / att}%.4f frac"
    val sample = if (traceMode) tracedRunS else runS
    lines += Bench.tail("run_s", sample.toSeq)
    lines += s"run_s samples ${runS.map(v => f"$v%.3f").mkString(" ")}"
    lines += s"asof_query_s samples ${probeS.map(v => f"$v%.3f").mkString(" ")}"
    (e2e ++ layer).foreach { case (k, (v, u)) => lines += s"$k $v $u" }
    lines.foreach(println)
    val correct = problems.isEmpty && attempted > 0
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Bench.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $att, "failed": $fail, "metrics": {$body}}"""
  }

  val segments = Seq("control", "ingest", "store.landing", "stage", "scd2", "store.target", "asof")

  private def layerMetrics(): Seq[(String, (Double, String))] = {
    val counters = listener.counters
    val self = tracer.spans.groupBy(s => s"${s.unit}/${s.segment}").view.mapValues(_.map(_.seconds).sum).toMap
    // tiling: a unit's segment times must sum to its wall time exactly
    tracer.spans.groupBy(_.unit).foreach { case (u, ss) =>
      val sorted = ss.sortBy(_.startNs)
      if (sorted.zip(sorted.tail).exists { case (a, b) => a.endNs != b.startNs })
        problems += s"trace: segments of $u leave a gap"
    }
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    for (seg <- segments) {
      val unitIds = if (seg == "asof") probeUnits.map(_.unit) else runUnits.map(_.unit)
      val keys = unitIds.map(u => s"$u/$seg")
      val cs = keys.flatMap(counters.get)
      def mean(f: Counters => Long): Double = cs.map(f).sum.toDouble / unitIds.size
      out += s"$seg.self_s" -> (keys.map(self.getOrElse(_, 0.0)).sum / unitIds.size, "s")
      out += s"$seg.jobs" -> (mean(_.jobs), "count")
      out += s"$seg.tasks" -> (mean(_.tasks), "count")
      out += s"$seg.task_busy_s" -> (mean(_.busyMs) / 1000.0, "s")
      out += s"$seg.input_bytes" -> (mean(_.inputBytes), "B")
      out += s"$seg.shuffle_write_bytes" -> (mean(_.shuffleWriteBytes), "B")
      out += s"$seg.output_bytes" -> (mean(_.outputBytes), "B")
      out += s"$seg.spill_bytes" -> (mean(_.spillBytes), "B")
    }
    val runs = runUnits.size.toDouble
    def runSum(f: TracedRun => Long): Double = runUnits.map(f).sum.toDouble
    def segSum(seg: String, f: Counters => Long): Double =
      runUnits.flatMap(u => counters.get(s"${u.unit}/$seg")).map(f).sum.toDouble
    val runJobs = runUnits.map(u => segments.flatMap(s => counters.get(s"${u.unit}/$s")).map(_.jobs).sum).sum
    val asofRecords = probeUnits.flatMap(u => counters.get(s"${u.unit}/asof")).map(_.inputRecords).sum
    out += "pipeline.jobs_per_run" -> (runJobs / runs, "count")
    out += "ingest.rows_out" -> (runSum(_.ingested) / runs, "count")
    out += "ingest.useful_ratio" -> (runSum(_.ingested) / runSum(_.leaves), "ratio")
    out += "stage.int_files" -> (Bench.files(storeDir.resolve(plain.intName)).keys
      .count(_.endsWith(".parquet")).toDouble, "count")
    out += "scd2.rows_inserted" -> (runSum(_.inserted) / runs, "count")
    out += "scd2.rows_closed" -> (runSum(_.closed) / runs, "count")
    out += "store.target.files_rewritten" -> (runSum(_.targetFilesRewritten) / runs, "count")
    out += "store.target.rewrite_useful_ratio" ->
      ((runSum(_.inserted) + runSum(_.closed)) / segSum("store.target", _.outputRecords), "ratio")
    out += "control.calls" -> (runSum(_.controlCalls) / runs, "count")
    out += "asof.rows_scanned_per_hit" ->
      (asofRecords.toDouble / probeUnits.map(_.hits).sum, "ratio")
    out += "trace.overhead_s" -> (Bench.median(tracedRunS) - Bench.median(runS), "s")
    out.toSeq
  }

  private def writeSpans(): Unit = {
    val lines = tracer.spans.map(s =>
      s"""{"unit": "${s.unit}", "segment": "${s.segment}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Files.write(work.getParent.resolve(s"spans-${w.name}-$seed.jsonl"), lines.asJava)
  }
}

object Bench {
  /** Regular files under `dir` with their sizes, by path. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def median(xs: collection.Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it, once that
    * percentile lies above the median (20 samples or more). */
  def tail(name: String, xs: Seq[Double]): String =
    if (xs.size < 20) s"${name}_tail n/a (n=${xs.size}; needs at least 20 samples)"
    else {
      val s = xs.sorted
      val k = s.size - 11
      s"${name}_p${100 * (k + 1) / s.size} ${s(k)} s (n=${s.size})"
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(sys.error("VmHWM not in /proc/self/status"))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
