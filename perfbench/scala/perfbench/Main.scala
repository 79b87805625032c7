package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop with one client. The harness lands
  * a unit's input, runs the unit, checks its output, and only then lands
  * the next unit's input. */
trait Workload {
  /** Generate the inputs and build the standing state under `dir`. Called
    * once, before the first unit. */
  def setup(dir: File): Unit

  /** Land unit `u`'s input (not timed). */
  def land(u: Int): Unit

  /** Unit `u` of work (timed). */
  def run(u: Int): Unit

  /** Output checks for unit `u` (not timed); each string is one failure. */
  def check(u: Int): Seq[String]

  /** Rows the unit landed in silver, warehouse, SCD2 history and sinks, as
    * counted by the generator. None where the metric does not apply. */
  def rowsLanded(u: Int): Option[Long]

  /** Bytes of input the unit landed (the base of `io.read_amp`). */
  def bytesLanded(u: Int): Long

  /** Directories the unit writes, for `sinks.files_written`. */
  def outputRoots: Seq[File]

  /** Calls into single layers, outside the units, each under a span;
    * outputs to compare with an oracle go to `oracleOut`. */
  def probes(oracleOut: File): Unit = ()

  /** Per-layer metrics only this workload can give, from `units` traced
    * units (`snap`) and the probe pass (`probeSnap`). */
  def layerMetrics(units: Seq[Int], snap: Probes.Snapshot,
                   probeSnap: Probes.Snapshot): Map[String, Double] = Map.empty

  /** Modules no unit of this workload calls, only its probe pass: their
    * job metrics are the probe pass's totals. */
  def probeModules: Set[String] = Set.empty

  /** Workload-specific end-to-end metrics, each with its value and unit. */
  def extraEndToEnd: Map[String, Map[String, Any]] = Map.empty

  /** What the generator made, for the record. */
  def generatorRecord: Map[String, Any]

  /** Drop what unit `u` left behind that later units do not need. */
  def cleanup(u: Int): Unit = ()
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, out: File, cores: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("work")), new File(m("out")), Runtime.getRuntime.availableProcessors())
  }

  /** The session the shipped configuration builds (`build.sbt` JVM options
    * and `graft.Bench`), plus the MERGE extension and local directories. */
  def session(a: Args): SparkSession = {
    val n = a.cores.toString
    SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftMergeExtensions")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .getOrCreate()
  }

  val ConfigKeys: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.ui.enabled",
    "spark.sql.codegen.cache.maxEntries", "spark.sql.extensions")

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "drift_full_load" => new DriftFullLoad(spark, seed)
    case "cdc_stream" => new CdcStream(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every per-layer metric; a workload that does not exercise a layer
    * reports 0 for it. */
  val LayerNames: Seq[String] = Seq(
    "schema.discover_s", "schema.versions", "jobs.ingest_parse_s",
    "jobs.subject_area_s", "jobs.class_p50_s", "jobs.class_max_s",
    "sinks.versioned_write_s", "sinks.merged_write_s", "sinks.files_written",
    "io.read_amp", "io.output_mb", "io.shuffle_mb", "io.spill_mb",
    "operators.not_extracted_s", "plans.merge_s", "plans.write_amp",
    "plans.partitions_rewritten", "streaming.scd2_drain_s",
    "streaming.ingest_drain_s", "streaming.compact_s") ++
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
      "triggerExecution").map(k => s"streaming.${k}_ms") ++
    Seq("streaming.jobs_per_batch", "streaming.state_mb", "streaming.state_files") ++
    GateProbe.Queries.map(q => s"queries.${q}_s") ++
    Probes.Modules.flatMap(m => Seq(s"$m.spark_jobs", s"$m.job_s", s"$m.task_cpu_s")) ++
    Seq("spark.driver_gap_s", "catalyst.plan_s", "codegen.compile_s",
      "jvm.metaspace_mb", "jvm.gc_s", "trace.overhead_s")

  val MinWarmUnits = 3
  /** Seconds after JVM start by which the warm loop stops starting units,
    * whatever `--seconds` and the minimum say, so that a run on a slow box
    * still ends inside its time limit; a traced run keeps more room for its
    * probes. */
  def loopDeadlineS(traced: Boolean): Double = if (traced) 90.0 else 120.0

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${java.time.LocalTime.now()} $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val calibStart = Jvm.calibrate(a.cores)
    a.work.mkdirs()
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session built ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after JVM start")
    // the same warm-up graft.Bench does before its first timed query
    spark.range(1000000).selectExpr("sum(id)").collect()
    // JVM start to a warm session, less the calibration loop run before it
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibStart
    val wl = workload(a.workload, spark, a.seed)
    log(f"session ready in $sessionS%.2f s")

    val t0Setup = Util.now()
    wl.setup(new File(a.work, "setup"))
    val workloadSetupS = Util.now() - t0Setup
    val setupS = sessionS + workloadSetupS
    log(f"set up in $workloadSetupS%.2f s")
    Jvm.MajorGcPeak.install()

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failedUnits = 0

    final case class UnitRun(u: Int, wall: Double, cpu: Double, startMs: Long,
                             endMs: Long, files: Int, compile: Double)

    val probes = new Probes(spark)
    var tracedGcS = 0.0

    /** Land, run and check unit `u`. When `traced`, only the run itself has
      * the listeners attached and spans on. */
    def oneUnit(u: Int, traced: Boolean = false): Option[UnitRun] = {
      attempted += 1
      wl.land(u)
      val gc0 = Jvm.gcSeconds
      if (traced) { probes.attach(); Trace.unit = u; Trace.enabled = true }
      val filesBefore = wl.outputRoots.map(d => Util.dataFiles(d).size).sum
      val compile0 = Jvm.codegenCompileSeconds
      val cpu0 = Jvm.processCpuSeconds
      val startMs = System.currentTimeMillis()
      val t0 = Util.now()
      val err =
        try { Trace.span("unit")(wl.run(u)); None }
        catch { case e: Throwable => Some(s"unit $u: ${e.getClass.getName}: ${e.getMessage}") }
      val wall = Util.now() - t0
      val endMs = System.currentTimeMillis()
      if (traced) { Trace.enabled = false; probes.detach(); tracedGcS += Jvm.gcSeconds - gc0 }
      log(f"unit $u ran in $wall%.2f s")
      val cpu = Jvm.processCpuSeconds - cpu0
      val compile = Jvm.codegenCompileSeconds - compile0
      val bad = err.toSeq ++ (if (err.isEmpty)
        (try wl.check(u) catch { case e: Throwable => Seq(s"unit $u check: $e") })
        else Nil)
      val files = wl.outputRoots.map(d => Util.dataFiles(d).size).sum - filesBefore
      wl.cleanup(u)
      if (bad.nonEmpty) {
        failedUnits += 1
        failures ++= bad.map(_.take(400))
        None
      } else Some(UnitRun(u, wall, cpu, startMs, endMs, files, compile))
    }

    val oracleDir = new File(a.work, "oracle")
    val t0Loop = Util.now()
    val cold = oneUnit(0)
    var u = 1
    /** Warm units until `budget` seconds and `minUnits` units have passed;
      * units for which `traced` holds run with every listener attached and
      * spans on. */
    def warmLoop(budget: Double, minUnits: Int, traced: Int => Boolean): Seq[(UnitRun, Boolean)] = {
      val runs = mutable.ArrayBuffer.empty[(UnitRun, Boolean)]
      val start = Util.now()
      var done = 0
      while ((Util.now() - start < budget || done < minUnits) &&
             System.currentTimeMillis() - jvmStartMs < loopDeadlineS(a.trace) * 1e3 &&
             failedUnits == 0) {
        val t = traced(done)
        Jvm.MajorGcPeak.armed = true
        val r = oneUnit(u, t)
        Jvm.MajorGcPeak.armed = false
        r.foreach { x =>
          runs += x -> t
          val live = Jvm.liveHeapMb()
          if (live > Jvm.MajorGcPeak.peakMb) Jvm.MajorGcPeak.peakMb = live
        }
        u += 1
        done += 1
      }
      runs.toSeq
    }

    val result = mutable.LinkedHashMap.empty[String, Any]
    val e2e = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)

    val warm: Seq[UnitRun] =
      if (!a.trace) warmLoop(a.seconds.toDouble, MinWarmUnits, _ => false).map(_._1)
      else {
        // untraced and traced units run in the order U T T U, so that a
        // JIT speed-up over the run does not pass for tracing overhead
        val runs = warmLoop(a.seconds.toDouble, 4, i => i % 4 == 1 || i % 4 == 2)
        val plain = runs.collect { case (r, false) => r }
        val tracedRuns = runs.collect { case (r, true) => r }
        val snap = probes.snapshot()
        probes.reset()
        probes.attach()
        Trace.unit = -2L
        Trace.enabled = true
        try Trace.span("probes")(wl.probes(oracleDir))
        catch { case e: Throwable =>
          failedUnits += 1; attempted += 1; failures += s"probes: $e".take(400) }
        Trace.enabled = false
        probes.detach()
        val probeSnap = probes.snapshot()
        // the physical plan of every anti-join (Incremental.notExtracted),
        // counted per query execution that ran it
        result("anti_joins") = Map("units" -> snap.antiJoins, "probes" -> probeSnap.antiJoins)
        result("job_modules") = (snap.modules.toSeq ++ probeSnap.modules.toSeq.map {
          case (m, st) => s"probe:$m" -> st }).map { case (m, st) =>
          m -> Map("jobs" -> st.jobs, "job_s" -> st.jobSeconds) }.toMap
        val gcS = tracedGcS
        val n = math.max(1, tracedRuns.size)
        layers ++= layerProfile(wl, tracedRuns.map(_.u), snap, probeSnap, n)
        layers("spark.driver_gap_s") = tracedRuns.map(r => r.wall -
          Probes.coveredSeconds(snap.jobIntervalsMs, r.startMs, r.endMs)).sum / n
        layers("sinks.files_written") = tracedRuns.map(_.files).sum.toDouble / n
        layers("jvm.gc_s") = gcS / n
        layers("jvm.metaspace_mb") = Jvm.metaspaceMb
        layers("codegen.compile_s") = cold.map(_.compile).getOrElse(0.0)
        layers("trace.overhead_s") =
          tracedRuns.map(_.wall).sum / n - plain.map(_.wall).sum / math.max(1, plain.size)
        result("trace_units") = Map("untraced" -> plain.map(_.wall),
          "traced" -> tracedRuns.map(_.wall))
        Trace.write(new File(a.out.getParentFile,
          a.out.getName.stripSuffix(".json") + "-spans.jsonl").getPath)
        plain ++ tracedRuns
      }
    val loopEnd = Util.now()
    log(f"measured ${warm.size} warm units in ${loopEnd - t0Loop}%.2f s")
    val calibEnd = Jvm.calibrate(a.cores)

    val walls = warm.map(_.wall)
    e2e("setup_s") = metric(setupS, "s")
    e2e("cold_run_s") = metric(cold.map(_.wall).getOrElse(Double.NaN), "s")
    e2e("run_p50_s") = metric(Util.median(walls), "s")
    Util.tail(walls) match {
      case Some((p, v)) => e2e("run_tail_s") =
        Map("value" -> v, "unit" -> "s", "percentile" -> p, "samples" -> walls.size)
      case None => result("run_tail_s_omitted") =
        s"${walls.size} warm units; a tail needs at least 11"
    }
    val rows = warm.flatMap(r => wl.rowsLanded(r.u))
    if (rows.size == warm.size && warm.nonEmpty)
      e2e("rows_per_s") = metric(rows.sum / walls.sum, "rows/s")
    e2e("cpu_s_per_run") = metric(Util.median(warm.map(_.cpu)), "s")
    e2e("live_heap_peak_mb") = metric(Jvm.MajorGcPeak.peakMb, "MB")
    e2e("failed_ratio") = metric(failedUnits.toDouble / math.max(1, attempted), "ratio")
    e2e ++= wl.extraEndToEnd

    result("workload") = a.workload
    result("seed") = a.seed
    result("trace") = a.trace
    result("config") = ConfigKeys.map(k => k -> spark.conf.getOption(k).getOrElse(
      spark.sparkContext.getConf.get(k, ""))).toMap ++ Map(
      "cores" -> a.cores,
      "jvm.max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark.version" -> spark.version,
      "loop" -> "closed, one client")
    result("generator") = wl.generatorRecord
    result("calib_s") = Map("start" -> calibStart, "end" -> calibEnd)
    // a run whose box slowed down or sped up while it measured
    result("calib_drift") = math.abs(calibEnd - calibStart) / calibStart
    result("session_s") = sessionS
    result("workload_setup_s") = workloadSetupS
    result("warm_units_s") = walls
    result("loop_s") = loopEnd - t0Loop
    result("attempted") = attempted
    result("failed") = failedUnits
    result("failures") = failures.toSeq
    result("end_to_end") = e2e
    result("oracle_dir") = oracleDir.getPath
    if (a.trace) result("per_layer") =
      LayerNames.map(k => k -> layers.getOrElse(k, 0.0)).toMap

    a.out.getParentFile.mkdirs()
    java.nio.file.Files.writeString(a.out.toPath, Json.render(result) + "\n")
    log("result written")
    spark.stop()
    log("session stopped")
  }

  /** Per-layer metrics from the listeners and spans of the traced units. */
  def layerProfile(wl: Workload, units: Seq[Int], snap: Probes.Snapshot,
                   probeSnap: Probes.Snapshot, n: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    // per traced unit; the modules only the probe pass calls report that
    // pass's totals instead
    Probes.Modules.foreach { m =>
      val (from, per) = if (wl.probeModules(m)) (probeSnap, 1) else (snap, n)
      val s = from.modules.get(m)
      out(s"$m.spark_jobs") = s.map(_.jobs).getOrElse(0).toDouble / per
      out(s"$m.job_s") = s.map(_.jobSeconds).getOrElse(0.0) / per
      out(s"$m.task_cpu_s") = s.map(_.taskCpuSeconds).getOrElse(0.0) / per
    }
    val landed = units.map(wl.bytesLanded).sum.toDouble
    out("io.read_amp") = if (landed > 0) snap.inputBytes / landed else 0.0
    out("io.output_mb") = snap.outputBytes / 1048576.0 / n
    out("io.shuffle_mb") = snap.shuffleBytes / 1048576.0 / n
    out("io.spill_mb") = snap.spillBytes / 1048576.0 / n
    out("catalyst.plan_s") = snap.planSeconds / n
    def p50(key: String): Double = {
      val xs = snap.progress.flatMap(p => Option(p.durationMs.get(key)).map(_.toDouble))
      if (xs.isEmpty) 0.0 else Util.median(xs)
    }
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
      "triggerExecution").foreach(k => out(s"streaming.${k}_ms") = p50(k))
    out("streaming.jobs_per_batch") =
      if (snap.jobsPerBatch.isEmpty) 0.0 else Util.median(snap.jobsPerBatch)
    out ++= wl.layerMetrics(units, snap, probeSnap)
    out.toMap
  }
}
