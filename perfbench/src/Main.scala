package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload: set-up, a warm-up iteration, host calibration, then
  * iterations for the given seconds. With `--trace 1` half the iterations
  * are traced and the per-layer metrics are reported; otherwise the
  * end-to-end metrics are. The last stdout line is the result JSON.
  *
  * {{{
  * Main --workload pipeline --seed 1 --seconds 12 --trace 0 --out <dir>
  * }}}
  */
object Main {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  val warmupMinS = 10.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload.all.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; one of " +
        Workload.all.map(_.name).mkString(", ")))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val out = new File(opts("out"))
    val code = try run(workload, seed, seconds, trace, out) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def run(w: Workload, seed: Long, seconds: Double, trace: Boolean,
      out: File): Int = {
    // wall clock of each phase of the run, for the artifact
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var mark = now()
    def phase(name: String): Unit = { val t = now(); phases(name) = t - mark; mark = t }
    phases("jvm_start") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    // per-process scratch, so runs sharing a checkout never collide
    val work = new File(out, s"work-${ProcessHandle.current().pid()}")
    Workload.deleteTree(work)
    val inputDir = new File(work, "input")
    // set-up, several times: a fresh session and the seeded inputs; the
    // first round is the JVM's cold start and is left out of setup_s
    var spark: SparkSession = null
    val setupAll = (0 to w.setupRounds).map { _ =>
      if (spark != null) spark.stop()
      Workload.deleteTree(inputDir)
      // start each round once the last context's threads have wound
      // down and on an empty young generation, so that no round pays for
      // the one before
      Thread.sleep(200)
      System.gc()
      val t0 = now()
      spark = graft.GraftSession.local(appName = "perfbench")
      w.generate(seed, inputDir)
      w.prepare(spark, inputDir)
      now() - t0
    }
    val setupS = setupAll.tail
    phase("setup")
    graft.GraftSession.quietKnownWarnings()
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, tracer, work)
    var attempted = 0
    var failedOps = 0
    def iteration(i: Int): Unit = {
      tracer.iteration = i
      val before = tracer.spans.size
      try w.iterate(ctx, inputDir) catch {
        case e: Exception =>
          failedOps += 1
          ctx.failures += s"iteration $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
      }
      attempted += tracer.spans.drop(before).count(s => w.spanNames.contains(s.name))
    }

    // warm-up: at least one iteration and warmupMinS; the mix's short
    // passes keep getting faster for about that long
    val warm0 = now()
    var warmups = 0
    while (warmups == 0 || now() - warm0 < warmupMinS) { iteration(0); warmups += 1 }
    val warmupS = now() - warm0
    phase("warmup")
    val calib = Calibration.run(spark, new File(out, "calibration.parquet"))
    phase("calibration")

    val listener = new LayerListener
    val ticks0 = Calibration.cpuTicks()
    val t0 = now()
    var i = 1
    // with tracing, iterations run in untraced-traced-traced-untraced
    // blocks, so the overhead ratio cancels a steady drift such as the
    // JIT still warming; a traced run measures whole blocks
    while (now() - t0 < seconds || (trace && i % 4 != 1)) {
      tracer.traced = trace && (i % 4 == 2 || i % 4 == 3)
      if (tracer.traced) sc.addSparkListener(listener)
      iteration(i)
      if (tracer.traced) { listener.drain(sc); sc.removeSparkListener(listener) }
      tracer.traced = false
      i += 1
    }
    val measureS = now() - t0
    val ticks1 = Calibration.cpuTicks()
    val stealShare = if (ticks1._1 > ticks0._1)
      (ticks1._2 - ticks0._2).toDouble / (ticks1._1 - ticks0._1) else 0.0
    phase("measure")
    val spans = tracer.spans
    val untraced = spans.filter(s => s.iteration >= 1 && !s.traced)
    val traced = spans.filter(s => s.iteration >= 1 && s.traced)
    val summary = w.summarize(untraced)
    val peakRssMb = Calibration.peakRssMb()
    val retainedHeapMb = Calibration.retainedHeapMb()

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("items_per_s", summary.itemsPerS, "1/s"),
      ("cycle_p50_s", summary.cycleP50S, "s"),
      ("stored_bytes_ratio", summary.storedBytesRatio, "ratio"),
      ("retained_heap_mb", retainedHeapMb, "MB"))

    val layerRows = traced.map(s => s -> LayerReport.metrics(s, spans, listener))
    val perLayer: Seq[(String, Double, String)] = if (!trace) Nil else {
      val spanMetrics = Metrics.layerSpans.flatMap { name =>
        val rows = layerRows.filter(_._1.name == name).map(_._2)
        LayerReport.metricNames.map(m => (s"$name.$m",
          if (rows.isEmpty) 0.0 else Stats.median(rows.map(_(m))), Metrics.unitOf(m)))
      } ++ EdaMix.spanNames.map { name =>
        val walls = Workload.walls(traced, name)
        (s"$name.wall_s", if (walls.isEmpty) 0.0 else Stats.median(walls), "s")
      }
      val overhead = traced.filter(_.name == "iteration").map(_.wallS).sum /
        untraced.filter(_.name == "iteration").map(_.wallS).sum
      spanMetrics ++ Seq(
        ("index.planted_recall", if (w == IndexIngest) IndexIngest.recall else 0.0, "ratio"),
        ("retries", listener.failedTasks.toDouble, "count"),
        ("host.calib_cpu_s", calib.cpuS, "s"),
        ("host.calib_scan_s", calib.scanS, "s"),
        ("trace_overhead", overhead, "ratio"))
    }

    val attemptedAll = attempted + ctx.checks
    val failedAll = failedOps + ctx.failures.size
    val errorRate = failedAll.toDouble / attemptedAll
    val reported = if (trace) perLayer else endToEnd

    // the artifact: everything measured in this run, spans included
    val artifact = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> sc.defaultParallelism,
      "setup_cold_s" -> setupAll.head, "setup_rounds_s" -> setupS,
      "warmup_s" -> warmupS, "warmup_iterations" -> warmups, "measured_s" -> measureS,
      "iterations" -> (i - 1), "phases_s" -> phases,
      "memory_mb" -> Map("peak_rss" -> peakRssMb, "retained_heap" -> retainedHeapMb),
      "host" -> Map("calib_cpu_s" -> calib.cpuS, "calib_scan_s" -> calib.scanS,
        "calib_cpu_samples_s" -> calib.cpuSamples, "calib_scan_samples_s" -> calib.scanSamples,
        "steal_share" -> stealShare),
      "operations_attempted" -> attempted, "checks" -> ctx.checks,
      "failed" -> failedAll, "error_rate" -> errorRate, "failures" -> ctx.failures.toSeq,
      "end_to_end" -> endToEnd.map(m => m._1 -> m._2).toMap,
      "detail" -> summary.detail,
      "per_layer" -> perLayer.map(m => m._1 -> m._2).toMap,
      "spans" -> spans.map { s =>
        val layer = layerRows.find(_._1.id == s.id).map(_._2).getOrElse(Map.empty)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "iteration" -> s.iteration, "traced" -> s.traced, "start_ms" -> s.startMs,
          "wall_s" -> s.wallS, "self_s" -> LayerReport.selfS(s, spans)) ++ layer
      })
    val artifactFile = new File(out,
      s"artifacts/${w.name}-seed$seed-trace${if (trace) 1 else 0}.json")
    artifactFile.getParentFile.mkdirs()
    Files.writeString(artifactFile.toPath, json.writeValueAsString(artifact) + "\n")

    println(s"workload ${w.name}  seed $seed  iterations ${i - 1}  " +
      f"measured $measureS%.1f s  setup rounds ${setupS.map(x => f"$x%.2f").mkString(" ")} s  " +
      f"warm-up $warmupS%.2f s in $warmups")
    println(f"host calibration: cpu ${calib.cpuS}%.4f s  scan ${calib.scanS}%.4f s  " +
      f"steal while measuring $stealShare%.3f")
    summary.detail.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"  $k: ${json.writeValueAsString(v)}")
    }
    reported.foreach { case (n, v, u) => println(f"$n%-28s $v%14.6f $u") }
    println(s"error_rate $errorRate ($failedAll failed of $attemptedAll attempted)")
    ctx.failures.foreach(f => println(s"FAILED: $f"))
    println(s"artifact ${artifactFile.getPath}")
    spark.stop()
    Workload.deleteTree(work)
    phase("stop")
    System.err.println(s"perfbench phases: $phases")

    val metrics = ListMap(reported.map { case (n, v, u) =>
      n -> ListMap("value" -> v, "unit" -> u)
    }: _*)
    println(json.writeValueAsString(ListMap("correct" -> (failedAll == 0),
      "attempted" -> attemptedAll, "failed" -> failedAll, "metrics" -> metrics)))
    0
  }
}

/** Per-layer metric names: the same list on every workload. Spans a
  * workload does not run read 0 there. */
object Metrics {
  val layerSpans: Seq[String] = Workload.all.flatMap(_.layerSpans)

  def unitOf(metric: String): String = metric match {
    case "jobs" | "tasks" => "count"
    case m if m.endsWith("_mb") => "MB"
    case _ => "s"
  }
}

/** Host drift probe: a fixed pure-JVM CPU loop and a fixed parquet scan,
  * the same work on every run and every commit. */
object Calibration {
  final case class Result(cpuS: Double, scanS: Double, cpuSamples: Seq[Double],
      scanSamples: Seq[Double])

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  @volatile private var sink = 0L

  private def cpuLoop(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
  }

  def run(spark: SparkSession, file: File): Result = {
    if (!file.exists()) {
      val staging = new File(file.getPath + s".${ProcessHandle.current().pid()}")
      spark.range(0, 1000000, 1, 4)
        .select(col("id"), (col("id") * 7919 % 1000).as("k"),
          (col("id") % 997 / 3.0).as("v"))
        .write.mode("overwrite").parquet(staging.getPath)
      // another run may have published it meanwhile; either copy is the same
      if (!staging.renameTo(file)) Workload.deleteTree(staging)
    }
    val cpu = (0 until 3).map(_ => time(cpuLoop()))
    val scan = (0 until 3).map(_ => time(
      spark.read.parquet(file.getPath).agg(sum("k"), max("v")).collect()))
    Result(Stats.median(cpu), Stats.median(scan), cpu, scan)
  }

  /** Heap still in use after the run, in MiB: two full collections a
    * second apart, so Spark's cleaner can drop the broadcasts and
    * shuffles the first one released. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** CPU ticks since boot, all and stolen by the hypervisor, from
    * /proc/stat; zeros where it cannot be read. */
  def cpuTicks(): (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    } finally f.close()
  } catch { case _: Exception => (0L, 0L) }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
