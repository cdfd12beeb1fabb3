package mvbench

import java.io.File

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in a fresh JVM:
 *
 *   mvbench.Main --workload W --seed N --seconds S --trace 0|1
 *                --cores C --work DIR --spans FILE
 *
 * Set-up (session start, input generation) is followed by one cold job,
 * `WarmupJobs` warm-up jobs and a fixed number of measured warm jobs
 * derived from S. The last line of standard output is the result object;
 * the line before it, prefixed `noise:`, carries the run's own noise
 * attribution.
 */
object Main {
  /** Measured warm jobs per run: one per `SecondsPerWarmJob` of
   * `--seconds`, at least 3. A fixed count, not a deadline, so every run
   * of one length repeats the same schedule: a deadline would mix runs
   * of 4 and 5 jobs. */
  val SecondsPerWarmJob = 4.0

  /** Warm-up jobs between the cold job and the measured ones. They run
   * and are checked like any other job, but their figures are left out
   * of the warm medians and of `mem_peak_mb`: the 1st warm job is still
   * 20–40% slower than the 2nd while the JIT catches up, and how far it
   * has caught up differs from JVM to JVM. Later jobs change by ~10% or
   * less from one to the next. */
  val WarmupJobs = 1

  /** Per-layer metrics and units; a layer the workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.scan_rows" -> "count",
    "sources.scan_input_mb" -> "MB",
    "reconcile.s" -> "s", "reconcile.task_cpu_s" -> "s",
    "reconcile.shuffle_write_mb" -> "MB", "reconcile.spill_mb" -> "MB",
    "reconcile.cache_mb" -> "MB", "reconcile.keys" -> "count",
    "report.s" -> "s", "report.stats_s" -> "s", "report.records" -> "count",
    "report.files" -> "count", "report.written_mb" -> "MB",
    "repair.plan_s" -> "s", "repair.mutations" -> "count",
    "sources.commit_s" -> "s", "sources.commit_written_mb" -> "MB",
    "sources.commit_files" -> "count",
    "dedup.lsh_s" -> "s", "dedup.pairs" -> "count", "dedup.cc_s" -> "s",
    "dedup.cc_jobs" -> "count", "dedup.clusters" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.gc_s" -> "s", "spark.input_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.result_mb" -> "MB", "spark.core_busy_share" -> "share",
    "jvm.jit_s" -> "s", "jvm.gc_s" -> "s", "host.steal_s" -> "s",
    "trace.job_s" -> "s")

  /** Input sizes: measured warm jobs take 3–4.5 s on 4 cores, with enough
   * rows that per-row work, not per-job overhead, weighs on their time. */
  val RepairSpec = ReconSpec(keys = 60000, orphan = 0.1, missing = 0.1,
    inconsistent = 0.1, ttlShare = 0.25)
  val CorpusSpec = Corpus.Spec(groups = 50000)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def metricsJson(ms: Seq[(String, String, Double)]): String =
    ms.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts.getOrElse("trace", "0") == "1"
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val work = new File(opts("work"))
    require(Set("recon_repair", "dedup_lsh")(workload),
      s"unknown workload $workload")
    val firstMeasured = 1 + WarmupJobs
    val jobs = firstMeasured + math.max(3, math.round(seconds / SecondsPerWarmJob).toInt)

    Fs.rm(work)
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"mvbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionUp = Probes.jvmUptimeSeconds()

    val data = new File(work, "data")
    val wl: Workload = workload match {
      case "recon_repair" => new ReconWorkload(spark, data, seed, RepairSpec, cores)
      case "dedup_lsh" => new DedupWorkload(spark, data, seed, CorpusSpec, cores)
    }
    wl.setup()
    val setupS = Probes.jvmUptimeSeconds()
    println(f"setup: session up at $sessionUp%.3f s, inputs in place at $setupS%.3f s " +
      s"(${wl.inputRows} input rows)")

    val meter = new Meter(spark, tracing)
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    val shuffles = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layerRows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var memPeak = 0.0
    var cold = 0.0
    var jitCold = 0.0
    var gcS = 0.0
    var failed = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val steal0 = Probes.stealSeconds()
    val t0 = System.nanoTime()
    var last: JobOut = null
    for (i <- 0 until jobs) {
      wl.prepare(i)
      meter.startJob()
      val c0 = meter.counters()
      val jit0 = Probes.jitSeconds()
      val gc0 = Probes.gcSeconds()
      val steal = Probes.stealSeconds()
      val j0 = System.nanoTime()
      val out = try Some(wl.run(i, meter)) catch {
        case e: Exception =>
          failed += 1
          e.printStackTrace()
          None
      }
      val wall = (System.nanoTime() - j0) / 1e9
      val jit = Probes.jitSeconds() - jit0
      val gc = Probes.gcSeconds() - gc0
      val c = meter.counters() - c0
      if (i == 0) jitCold = jit
      gcS += gc
      out.foreach { o =>
        if (i == 0) cold = wall
        if (i >= firstMeasured) {
          walls += wall
          cpus += c.cpuNs / 1e9
        }
        shuffles += c.shuffleWriteBytes / 1048576.0
        if (tracing && i >= firstMeasured) {
          val spans = meter.spans.filter(s => s != null && s.job == i).toSeq
          val root = spans.find(_.name == "job").get
          layerRows += wl.layers(o, spans) ++ Map(
            "spark.jobs" -> root.counters.jobs.toDouble,
            "spark.stages" -> root.counters.stages.toDouble,
            "spark.tasks" -> root.counters.tasks.toDouble,
            "spark.task_run_s" -> root.counters.runMs / 1e3,
            "spark.gc_s" -> root.counters.gcMs / 1e3,
            "spark.input_mb" -> root.counters.inputBytes / 1048576.0,
            "spark.shuffle_read_mb" -> root.counters.shuffleReadBytes / 1048576.0,
            "spark.spill_mb" -> root.counters.spillBytes / 1048576.0,
            "spark.result_mb" -> root.counters.resultBytes / 1048576.0,
            "spark.core_busy_share" -> root.counters.runMs / 1e3 / (root.seconds * cores),
            "trace.job_s" -> root.seconds)
        }
        errors ++= wl.checkJob(o)
        if (i == 0 || i >= firstMeasured)
          memPeak = math.max(memPeak, Probes.liveHeapMb(spark.sparkContext))
        last = o
      }
      println(f"job $i: wall $wall%.3f s, task cpu ${c.cpuNs / 1e9}%.3f s, " +
        f"jit $jit%.3f s, gc $gc%.3f s, steal ${Probes.stealSeconds() - steal}%.2f s")
      // the last job's outputs stay for the full checks
      if (i < jobs - 1 && last != null) { last.release(); last = null }
    }
    val measured = (System.nanoTime() - t0) / 1e9
    val stealS = Probes.stealSeconds() - steal0
    if (last != null) {
      errors ++= wl.checkLast(last)
      last.release()
    }
    if (tracing) meter.writeSpans(opts("spans"))
    spark.stop()

    errors.foreach(e => System.err.println(s"CHECK FAILED: $e"))
    val e2e: Seq[(String, String, Double)] = Seq(
      ("rows_per_s", "rows/s", median(walls.map(wl.inputRows / _).toSeq)),
      ("cold_job_s", "s", cold),
      ("task_cpu_s", "s", median(cpus.toSeq)),
      ("shuffle_mb", "MB", median(shuffles.toSeq)),
      ("mem_peak_mb", "MB", memPeak),
      ("setup_s", "s", setupS))
    val noise = Seq(("host.steal_s", "s", stealS), ("jvm.jit_s", "s", jitCold),
      ("jvm.gc_s", "s", gcS))
    println("noise: " + metricsJson(noise ++ Seq(("measured_s", "s", measured))))
    val metrics: Seq[(String, String, Double)] =
      if (!tracing) e2e
      else {
        val warmLayers = layerRows.toSeq
        PerLayer.map { case (n, u) =>
          val v = n match {
            case "jvm.jit_s" => jitCold
            case "jvm.gc_s" => gcS
            case "host.steal_s" => stealS
            case _ => median(warmLayers.map(_.getOrElse(n, 0.0)))
          }
          (n, u, v)
        }
      }
    println(s"""{"correct": ${errors.isEmpty}, "attempted": $jobs, "failed": $failed, """ +
      s""""metrics": ${metricsJson(metrics)}}""")
    Fs.rm(work)
  }
}
