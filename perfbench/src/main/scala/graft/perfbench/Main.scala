package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** One op execution inside a pass. */
final case class Sample(op: String, pass: Int, secs: Double, rows: Long, error: Option[String])

/** Measured pass: wall and process CPU seconds, the JVM's JIT-compile
  * and GC seconds within it, the share of the machine's CPU time lost to
  * steal, input rows/bytes read.
  */
final case class Pass(index: Int, wall: Double, cpu: Double, jit: Double, gc: Double,
                      codegen: Long, traced: Boolean, stealShare: Double,
                      var rows: Long = 0L, var bytes: Long = 0L) {
  def clean: Boolean = stealShare <= Main.StealLimit
}

/** The benchmark's JVM side: one closed-loop client running a workload's
  * ops one at a time against a `GraftSession.local` session after
  * untimed warm-up passes (the first dumps every op's result for the
  * oracle compare), and (traced runs only) span, listener and layer-probe
  * numbers. Everything measured goes to `<out>/result.json`; the
  * launcher turns it into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --out DIR --cores C --calib DIR [--inject-faults 1]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dir = a("data")
    val out = a("out")
    val cores = a("cores").toInt
    val ops = Workloads.ops(workload, a.get("inject-faults").contains("1"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg
    val setupSteal0 = Steal.seconds
    val setupT0 = System.nanoTime()

    val tracer = new Tracer(traced)
    val counters = new PassCounters
    val t0 = System.nanoTime()
    val spark = tracer.span("core.session")(GraftSession.local("graft-perfbench", cores))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    sc.addSparkListener(counters)

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Pass]

    def runOp(op: Op, pass: Int): Sample = {
      val id = s"$pass:${op.name}"
      sc.setLocalProperty(PassCounters.OpKey, id)
      tracer.op = id
      val t = System.nanoTime()
      try {
        val rows = tracer.span("queries.op") {
          val df = tracer.span("queries.build")(op.fn(spark, dir))
          val qe = df.queryExecution
          tracer.span("queries.plan")(qe.executedPlan)
          tracer.span("queries.exec")(
            SQLExecution.withNewExecutionId(qe, Some(op.name))(qe.toRdd.count()))
        }
        Sample(op.name, pass, (System.nanoTime() - t) / 1e9, rows, None)
      } catch {
        case e: Throwable =>
          Sample(op.name, pass, (System.nanoTime() - t) / 1e9, -1L, Some(describe(e)))
      } finally {
        sc.setLocalProperty(PassCounters.OpKey, null)
        tracer.op = ""
      }
    }

    // one pass = every op once, in an order drawn from the seed, a new
    // draw for each pass
    def pass(index: Int, traceIt: Boolean, record: Boolean = true): Unit = {
      sc.setLocalProperty(PassCounters.Key, index.toString)
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(ops)
      val cpu0 = processCpu
      val jit0 = jitSeconds
      val gc0 = gcSeconds
      val codegen0 = codegenCompiles
      val steal0 = Steal.seconds
      val w0 = System.nanoTime()
      val got = order.map(op => runOp(op, index))
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = processCpu - cpu0
      val jit = jitSeconds - jit0
      val gc = gcSeconds - gc0
      val codegen = codegenCompiles - codegen0
      val stealShare = Steal.share(steal0, wall)
      sc.setLocalProperty(PassCounters.Key, null)
      if (record) {
        passes += Pass(index, wall, cpu, jit, gc, codegen, traceIt, stealShare)
        samples ++= got
      }
    }

    // set-up: session (above), then untimed warm-up passes: the check
    // pass, which writes every op's result to parquet for the oracle
    // compare, and WarmupPasses passes down the timed path, whose plans
    // (and so their generated code) differ from the writing ones
    val checkDir = Paths.get(out, "check").toString
    val w0 = System.nanoTime()
    sc.setLocalProperty(PassCounters.Key, "0")
    val checks = tracer.span("core.warmup") {
      new scala.util.Random(seed * 1000003L).shuffle(ops).map { op =>
        sc.setLocalProperty(PassCounters.OpKey, s"0:${op.name}")
        tracer.op = s"0:${op.name}"
        val err =
          try {
            tracer.span("queries.op") {
              val df = tracer.span("queries.build")(op.fn(spark, dir))
              tracer.span("queries.exec")(
                df.write.mode("overwrite").parquet(s"$checkDir/${op.name}"))
            }
            None
          } catch { case e: Throwable => Some(describe(e)) }
        (op, err)
      }
    }
    sc.setLocalProperty(PassCounters.OpKey, null)
    sc.setLocalProperty(PassCounters.Key, null)
    tracer.op = ""
    (1 to WarmupPasses).foreach(k => tracer.span("core.warmup")(pass(-k, traceIt = false, record = false)))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupStealShare = Steal.share(setupSteal0, (System.nanoTime() - setupT0) / 1e9)
    // the CPU calibration brackets the timed passes (the second run is
    // with the provenance below): a machine whose speed drifted between
    // the two measured the host, not the program
    val calibCpuBefore = graft.Bench.calibCpu()

    // timed passes; a traced run alternates untraced passes (the
    // overhead base) with traced ones that record spans and listener
    // events, so JIT warm-up drifts into neither side
    val sparkTrace = new SparkTrace
    val start = System.nanoTime()
    var i = 1
    while (i == 1 || (System.nanoTime() - start) / 1e9 < seconds) {
      val traceIt = traced && i % 2 == 0
      tracer.enabled = traceIt
      if (traceIt) sc.addSparkListener(sparkTrace)
      pass(i, traceIt)
      if (traceIt) {
        PassCounters.settle(() => sparkTrace.events)
        sc.removeSparkListener(sparkTrace)
      }
      i += 1
    }
    tracer.enabled = traced
    PassCounters.settle(() => counters.events)
    passes.foreach { p =>
      val c = counters.of(p.index.toString)
      p.rows = c.rows; p.bytes = c.bytes
    }

    // per-layer numbers (traced runs): the traced passes, then direct
    // probes of single layers
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val probeErrors = mutable.LinkedHashMap.empty[String, String]
    var probesAttempted = 0
    if (traced) {
      layers("core.session_s") = (sessionS, "s")
      layers("core.warmup_s") = (warmupS, "s")
      layers ++= Layers.fromTrace(passes.toSeq, samples.toSeq, ops, tracer, sparkTrace, cores)
      val probes = new Probes(spark, dir, tracer, sparkTrace)
      sc.addSparkListener(sparkTrace)
      if (workload == "corpus_curate") probes.corpus() else probes.retail()
      sc.removeSparkListener(sparkTrace)
      layers ++= probes.metrics
      probeErrors ++= probes.errors
      probesAttempted = probes.attempted
    }

    // provenance, after everything measured
    val k0 = System.nanoTime()
    val calibCpu = graft.Bench.calibCpu()
    // the scan calibration's fixed 10M-row table is written once per
    // checkout and reused by later runs
    val calibRoot = a("calib")
    val calibScanDir = Paths.get(calibRoot, "calib_parquet").toString
    if (!Files.exists(Paths.get(calibScanDir, "_SUCCESS"))) graft.Bench.calibScanWrite(spark, calibRoot)
    val calibScan = graft.Bench.calibScan(spark, calibScanDir)
    val confPairs = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.") && !Main.volatileConf(k) }
      .sorted.map { case (k, v) => s"$k=$v" }
    val fingerprint = java.security.MessageDigest.getInstance("SHA-256")
      .digest(confPairs.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
    val calibS = (System.nanoTime() - k0) / 1e9
    val rssMb = peakRssMb

    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> traced,
      "setup_s" -> setupS, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "calib_s" -> calibS,
      "peak_rss_mb" -> rssMb,
      "steal_limit" -> StealLimit, "min_clean_passes" -> MinCleanPasses,
      "setup_steal_share" -> setupStealShare,
      "passes" -> passes.toSeq.map(p => Json.obj("index" -> p.index, "wall" -> p.wall,
        "cpu" -> p.cpu, "jit" -> p.jit, "gc" -> p.gc, "codegen" -> p.codegen,
        "traced" -> p.traced, "steal_share" -> p.stealShare, "clean" -> p.clean,
        "rows" -> p.rows, "bytes" -> p.bytes)),
      "samples" -> samples.toSeq.map(s => Json.obj("op" -> s.op, "pass" -> s.pass,
        "secs" -> s.secs, "rows" -> s.rows, "error" -> s.error)),
      "check" -> checks.map { case (op, err) => Json.obj("op" -> op.name,
        "registry" -> op.registry, "oracle" -> op.oracle, "tables" -> op.tables, "error" -> err,
        "dir" -> s"$checkDir/${op.name}") },
      "probes" -> Json.obj("attempted" -> probesAttempted,
        "errors" -> probeErrors.toSeq.map { case (k, v) => Json.obj("probe" -> k, "error" -> v) }),
      "layers" -> layers.toSeq.map { case (k, (v, u)) => Json.obj("name" -> k, "value" -> v, "unit" -> u) },
      "self_s" -> tracer.selfSeconds.toSeq.sortBy(-_._2).map { case (k, v) => Json.obj("span" -> k, "s" -> v) },
      "provenance" -> Json.obj(
        "conf_fingerprint" -> fingerprint, "conf_settings" -> confPairs.size,
        "calib_cpu_s" -> calibCpu, "calib_cpu_before_s" -> calibCpuBefore,
        "calib_scan_s" -> calibScan,
        "load_start" -> loadStart, "load_end" -> loadAvg, "nproc" -> cores,
        "passes_started" -> (i - 1)))
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "result.json"), result.s.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(out, "spans.json"),
      tracer.all.map(s => Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op).s).mkString("[", ",\n", "]")
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** A pass that loses more than this share of the machine's CPU time
    * to steal (the hypervisor running other guests) is disturbed: its
    * times measure the host, not the program.
    */
  val StealLimit = 0.03

  /** Untimed passes down the timed path before the first timed pass. */
  val WarmupPasses = 1

  /** Undisturbed untraced passes a run needs to be comparable. */
  val MinCleanPasses = 2

  /** Settings that differ between runs of one configuration (ids,
    * ports, start times, per-checkout paths); left out of the
    * fingerprint so it identifies the configuration only.
    */
  val volatileConf: Set[String] = Set("spark.app.id", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.local.dir", "spark.sql.warehouse.dir", "spark.app.name")

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def processCpu: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** JIT compiler time so far, all compiler threads. */
  private def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Classes Spark's code generator has compiled so far (its cache misses). */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Collection time so far, all collectors. */
  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Peak resident set of this JVM (VmHWM), in MB; 0 where /proc is absent. */
  private def peakRssMb: Double =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}

/** Machine-wide CPU steal from `/proc/stat` (0 where it is absent). */
object Steal {
  private val stat = Paths.get("/proc/stat")
  private val UserHz = 100.0 // the fixed tick of /proc/stat's counters

  private def lines: Seq[String] =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(stat).asScala.toSeq
    } catch { case _: Exception => Nil }

  private val cpus: Int =
    math.max(1, lines.count(l => l.startsWith("cpu") && l.length > 3 && l(3).isDigit))

  /** Steal seconds summed over all CPUs since boot. */
  def seconds: Double =
    lines.headOption.map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toDouble / UserHz).getOrElse(0.0)

  /** Share of the machine's CPU time stolen since `from` (a value of
    * `seconds`) over an interval of `wall` seconds.
    */
  def share(from: Double, wall: Double): Double =
    if (wall <= 0) 0.0 else (seconds - from) / (wall * cpus)
}

/** Minimal JSON writer for the result file. */
object Json {
  /** An already-encoded JSON value. */
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${enc(v)}" }.mkString("{", ",", "}"))

  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
