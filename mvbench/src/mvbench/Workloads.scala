package mvbench

import java.io.File

import graft.MvSyncJob
import graft.config.Settings
import graft.operators.Dedup
import graft.reconcile.MvReconciler
import graft.repair.{RepairApplier, RepairPlanner}
import graft.report.{JobStats, ReportWriter, StatsCollector}
import graft.sources.{Dsv2ParquetSource, GraftParquetProvider, ParquetSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col

/** What one timed job left behind for the checks and the trace. */
trait JobOut {
  /** Called once the job's figures are taken: frees what the job cached. */
  def release(): Unit = ()
}

trait Workload {
  /** Generates the inputs; part of set-up. */
  def setup(): Unit
  /** Input rows one job reads (base + MV rows, or corpus documents). */
  def inputRows: Long
  /** Untimed preparation before job `i`. */
  def prepare(i: Int): Unit = ()
  /** The timed job. With a tracing meter it records one span per layer. */
  def run(i: Int, meter: Meter): JobOut
  /** Cheap checks after every job; returns the failures found. */
  def checkJob(out: JobOut): Seq[String]
  /** Full output checks on the last job. */
  def checkLast(out: JobOut): Seq[String]
  /** Per-layer figures of one traced job, from its spans. */
  def layers(out: JobOut, spans: Seq[Span]): Map[String, Double]
}

object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else if (f.isFile) Seq(f) else Nil
  def copyTree(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles).toSeq.flatten.foreach { f =>
      val dst = new File(to, f.getName)
      if (f.isDirectory) copyTree(f, dst)
      else java.nio.file.Files.copy(f.toPath, dst.toPath)
    }
  }
  /** Data files of a table directory: parquet files outside `_`/`.` entries. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
  def mb(fs: Seq[File]): Double = fs.map(_.length).sum / 1048576.0
}

/**
 * `recon_repair`: the base table is parquet, the damaged MV a DSv2
 * connector table. One job is `MvSyncJob.run` with every fix flag on, as
 * a user calls it, then `RepairApplier.applyPlan` of its mutation plan
 * and the overwrite commit through the connector.
 */
final class ReconWorkload(spark: SparkSession, dir: File, seed: Long,
    spec: ReconSpec, parts: Int) extends Workload {
  import Recon._

  private val fmt = classOf[GraftParquetProvider].getName
  private val basePath = new File(dir, "base").getPath
  private val mvPath = new File(dir, "mv").getPath
  private val pristine = new File(dir, "mv_pristine")
  private val settings = Settings.fromSession(spark).copy(
    fixMissingMv = true, fixOrphanMv = true, fixInconsistentMv = true)
  private var truthCounts: Map[Fate, Long] = Map.empty
  private var rows = 0L

  /** Counts a traced job takes between its spans. */
  final case class Traced(keys: Long, cacheMb: Double, mutations: Long,
      reportFiles: Int, reportMb: Double)

  final case class Out(outDir: File, stats: JobStats, classified: DataFrame,
      traced: Option[Traced]) extends JobOut {
    override def release(): Unit = classified.unpersist(blocking = true)
  }

  override def setup(): Unit = {
    val (base, mv) = Recon.frames(spark, spec, seed, parts)
    base.write.parquet(basePath)
    // the damaged MV lives in a connector table; the pristine copy
    // restores it before every job
    mv.write.format(fmt).option("graft.schema", mv.schema.toDDL)
      .mode("append").save(pristine.getPath)
    truthCounts = Recon.truth(spec, seed)
    rows = 2 * spec.keys - truthCounts(Orphan) - truthCounts(Missing)
  }

  override def inputRows: Long = rows

  private def outDir(i: Int) = new File(dir, s"report-$i")

  override def prepare(i: Int): Unit = {
    if (i > 0) Fs.rm(outDir(i - 1))
    val mv = new File(mvPath)
    Fs.rm(mv)
    Fs.copyTree(pristine, mv)
  }

  private def mvSource = Dsv2ParquetSource(mvPath)

  private def commit(plan: DataFrame): Unit = {
    val repaired = RepairApplier.applyPlan(
      mvSource.load(spark, mvSchema), plan, mvSchema)
    repaired.write.format(fmt).mode("overwrite").save(mvPath)
  }

  override def run(i: Int, meter: Meter): JobOut = {
    val out = outDir(i)
    val s = settings.copy(outputDir = out.getPath)
    if (!meter.tracing) {
      val r = MvSyncJob.run(spark, ParquetSource(basePath), mvSource,
        baseSchema, mvSchema, s)
      commit(r.mutations)
      Out(out, r.stats, r.classified, None)
    } else meter.span("job") {
      MvSyncJob.validate(s, mvSchema)
      val (base, mv) = meter.span("sources.scan") {
        val b = ParquetSource(basePath).load(spark, baseSchema)
        val m = mvSource.load(spark, mvSchema)
        Seq(b, m).foreach(_.write.format("noop").mode("overwrite").save())
        (b, m)
      }
      val (classified, keys) = meter.span("reconcile") {
        val c = MvReconciler.reconcile(base, mv, baseSchema, mvSchema, s).cache()
        (c, c.count())
      }
      val cacheMb = classified.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.sizeInBytesStats.value.longValue
      }.getOrElse(0L) / 1048576.0
      val stats = meter.span("report") {
        ReportWriter.write(classified, baseSchema, mvSchema, s)
      }
      meter.span("report.stats") {
        StatsCollector.collect(classified, s.fixMissingMv, s.fixOrphanMv,
          s.fixInconsistentMv)
      }
      val (plan, mutations) = meter.span("repair.plan") {
        val p = RepairPlanner.plan(classified, baseSchema, mvSchema, s)
          .localCheckpoint()
        (p, p.count())
      }
      meter.span("sources.commit")(commit(plan))
      val files = Fs.files(out).filterNot(_.getName == "stats.txt")
      Out(out, stats, classified,
        Some(Traced(keys, cacheMb, mutations, files.length, Fs.mb(files))))
    }
  }

  private def expectedStats: String = {
    val inc = truthCounts(Inconsistent)
    val orphan = truthCounts(Orphan)
    val missing = truthCounts(Missing)
    val upsert = missing + inc
    s"totRecords: ${spec.keys}, skippedRecords: 0, " +
      s"consistentRecords: ${truthCounts(Ok)}, inConsistentRecords: $inc, " +
      s"missingBaseTableRecords: $orphan, missingMvRecords: $missing, " +
      s"repairRecords: ${orphan + upsert}, notRepairRecords: 0, " +
      s"delAttemptedRecords: $orphan, delErrRecords: 0, delSuccessRecords: $orphan, " +
      s"notDelRecords: 0, upsertAttemptedRecords: $upsert, upsertErrRecords: 0, " +
      s"upsertSuccessRecords: $upsert"
  }

  override def checkJob(o: JobOut): Seq[String] = {
    val out = o.asInstanceOf[Out]
    val want = expectedStats
    val statsFile = new File(out.outDir, "stats.txt")
    val onDisk =
      if (!statsFile.isFile) "<no stats.txt>"
      else {
        val src = scala.io.Source.fromFile(statsFile, "UTF-8")
        try src.mkString.trim finally src.close()
      }
    Seq(
      Option.when(out.stats.toString != want)(
        s"stats line differs:\n  got  ${out.stats}\n  want $want"),
      Option.when(onDisk != want)(
        s"stats.txt differs:\n  got  $onDisk\n  want $want")).flatten
  }

  /** Report rendering of one cell value (timestamps and blobs do not occur). */
  private def render(v: Any): String = v.toString

  private def checkReports(out: File): Seq[String] = {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def err(m: String): Unit = if (errors.length < 20) errors += m
    for (fate <- Seq(Orphan, Missing, Inconsistent)) {
      val seen = new java.util.HashSet[java.lang.Long]()
      Fs.files(new File(out, fate.problem)).foreach { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val text = try src.mkString finally src.close()
        text.split("(?m)^" + graft.report.ReportFormatter.Separator + "\\s*$")
          .map(_.trim).filter(_.nonEmpty).foreach { rec =>
            val lines = rec.split("\n").map { l =>
              val i = l.indexOf(": ")
              if (i < 0) l -> "" else l.substring(0, i) -> l.substring(i + 2)
            }.toMap
            val key = lines.getOrElse("RowKey", "")
            val kv = key.split(",").map(_.split(":", 3)).collect {
              case Array(k, _, v) => k -> v
            }.toMap
            val id = kv.get("id").flatMap(_.toLongOption).getOrElse(-1L)
            if (lines.get("Problem").contains(fate.problem) && id >= 0 &&
                id < spec.keys && Recon.fate(spec, seed, id) == fate &&
                kv.get("grp").contains(Recon.grp(spec, seed, id).toString)) {
              if (!seen.add(id)) err(s"${fate.problem}: key $id reported twice")
              val entries = (lines.get("MainTableEntry"), lines.get("MVTableEntry"))
              val entriesOk = fate match {
                case Orphan => entries._1.contains("null") && !entries._2.contains("null")
                case Missing => !entries._1.contains("null") && entries._2.contains("null")
                case _ => !entries._1.contains("null") && !entries._2.contains("null")
              }
              if (!entriesOk) err(s"${fate.problem}: key $id has wrong table entries")
              if (fate == Inconsistent) {
                val c = Recon.perturbed(seed, id)
                val b = Recon.baseRow(spec, seed, id).cells(c).value
                val t = Recon.Types(c)
                val wantBase = s"$c:$t:${render(b)}"
                val wantMv = s"$c:$t:${render(Recon.perturb(b))}"
                if (!lines.get("BaseColumn").contains(wantBase) ||
                    !lines.get("MvColumn").contains(wantMv))
                  err(s"INCONSISTENT key $id: got ${lines.get("BaseColumn")} / " +
                    s"${lines.get("MvColumn")}, want $wantBase / $wantMv")
              }
            } else err(s"${fate.problem}: record does not belong there: ${rec.take(200)}")
          }
      }
      if (seen.size != truthCounts(fate))
        err(s"${fate.problem}: ${seen.size} distinct keys reported, " +
          s"generator made ${truthCounts(fate)}")
    }
    errors.toSeq
  }

  private def checkRepaired(): Seq[String] = {
    import ReconWorkload.{canonical, fingerprint}
    val got = spark.read.format(fmt).load(mvPath)
      .select((Seq("grp", "id") ++ Compared.flatMap(c =>
        Seq(c, s"writetime_$c", s"ttl_$c"))).map(col): _*)
      .rdd.map { r =>
        canonical(r.getLong(0), r.getLong(1), Compared.indices.map(i =>
          (r.get(2 + 3 * i), r.get(3 + 3 * i), r.get(4 + 3 * i))))
      }.mapPartitions(it => Iterator(fingerprint(it)))
      .fold((0L, 0L, 0L)) { case ((a, b, c), (d, e, f)) => (a + d, b + e, c ^ f) }
    val want = fingerprint(Iterator.range(0, spec.keys.toInt)
      .flatMap(i => Recon.baseOnly(spec, seed, i.toLong)).map { r =>
        canonical(r.grp, r.id, Compared.map { c =>
          val cell = r.cells(c)
          (cell.value, cell.writetime, cell.ttl.orNull)
        })
      })
    val replan = RepairPlanner.plan(
      MvReconciler.reconcile(ParquetSource(basePath).load(spark, baseSchema),
        mvSource.load(spark, mvSchema), baseSchema, mvSchema, settings),
      baseSchema, mvSchema, settings).count()
    Seq(
      Option.when(got != want)(s"repaired MV (rows, sum, xor) = $got, base re-keyed = $want"),
      Option.when(replan != 0)(s"re-planning the repaired MV gave $replan mutations")
    ).flatten
  }

  override def checkLast(o: JobOut): Seq[String] = {
    val out = o.asInstanceOf[Out]
    checkReports(out.outDir) ++ checkRepaired()
  }

  override def layers(o: JobOut, spans: Seq[Span]): Map[String, Double] = {
    val out = o.asInstanceOf[Out]
    def secs(n: String) = spans.find(_.name == n).get.seconds
    val scan = spans.find(_.name == "sources.scan").get
    val rec = spans.find(_.name == "reconcile").get
    val t = out.traced.get
    val mvFiles = Fs.dataFiles(new File(mvPath))
    Map(
      "sources.scan_s" -> scan.seconds,
      "sources.scan_rows" -> scan.counters.inputRecords.toDouble,
      // on-disk size of the two scanned tables: Spark's own bytesRead
      // misses the column-chunk reads of local parquet scans
      "sources.scan_input_mb" -> Fs.mb(Fs.dataFiles(new File(basePath)) ++
        Fs.dataFiles(new File(pristine.getPath))),
      "reconcile.s" -> math.max(0.0, rec.seconds - scan.seconds),
      "reconcile.task_cpu_s" -> rec.counters.cpuNs / 1e9,
      "reconcile.shuffle_write_mb" -> rec.counters.shuffleWriteBytes / 1048576.0,
      "reconcile.spill_mb" -> rec.counters.spillBytes / 1048576.0,
      "reconcile.cache_mb" -> t.cacheMb,
      "reconcile.keys" -> t.keys.toDouble,
      "report.s" -> secs("report"),
      "report.stats_s" -> secs("report.stats"),
      "report.records" -> (out.stats.inConsistentRecords +
        out.stats.missingBaseTableRecords + out.stats.missingMvRecords).toDouble,
      "report.files" -> t.reportFiles.toDouble,
      "report.written_mb" -> t.reportMb,
      "repair.plan_s" -> secs("repair.plan"),
      "repair.mutations" -> t.mutations.toDouble,
      "sources.commit_s" -> secs("sources.commit"),
      "sources.commit_written_mb" -> Fs.mb(mvFiles),
      "sources.commit_files" -> mvFiles.length.toDouble)
  }
}

object ReconWorkload {
  /** Order-independent fingerprint of a set of MV rows: count, sum and
   * xor of a 64-bit hash of each row's canonical text. */
  def fingerprint(it: Iterator[String]): (Long, Long, Long) =
    it.foldLeft((0L, 0L, 0L)) { case ((n, s, x), line) =>
      val h = Mix.avalanche(line.hashCode.toLong * 0x9e3779b97f4a7c15L +
        scala.util.hashing.MurmurHash3.stringHash(line, 7))
      (n + 1, s + h, x ^ h)
    }

  def canonical(grp: Long, id: Long, cells: Seq[(Any, Any, Any)]): String =
    (Seq(grp, id) ++ cells.flatMap { case (v, w, t) => Seq(v, w, t) })
      .map(v => if (v == null) "null" else v.toString).mkString("|")

}

/** `dedup_lsh`: MinHash-LSH pairs, then connected components, ending in
 * the doc → cluster labels collected on the driver. */
final class DedupWorkload(spark: SparkSession, dir: File, seed: Long,
    spec: Corpus.Spec, parts: Int) extends Workload {
  private val path = new File(dir, "corpus").getPath
  private var docs = 0L

  final case class Out(pairs: DataFrame, labels: Array[(Long, Long)],
      pairCount: Long) extends JobOut

  override def setup(): Unit = {
    Corpus.write(spark, spec, seed, parts, path)
    docs = Corpus.docCount(spec, seed)
  }

  override def inputRows: Long = docs

  override def run(i: Int, meter: Meter): JobOut = {
    val corpus = spark.read.parquet(path)
    def labelsOf(pairs: DataFrame) =
      Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (!meter.tracing) {
      val pairs = Dedup.minhashLshPairs(corpus)
      Out(pairs, labelsOf(pairs), -1)
    } else meter.span("job") {
      val (pairs, n) = meter.span("dedup.lsh") {
        val p = Dedup.minhashLshPairs(corpus).localCheckpoint()
        (p, p.count())
      }
      Out(pairs, meter.span("dedup.cc")(labelsOf(pairs)), n)
    }
  }

  override def checkJob(o: JobOut): Seq[String] = Nil

  override def checkLast(o: JobOut): Seq[String] = {
    val out = o.asInstanceOf[Out]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def err(m: String): Unit = if (errors.length < 20) errors += m
    val texts = scala.collection.mutable.HashMap.empty[Long, String]
    def text(id: Long): String =
      texts.getOrElseUpdate(id, Corpus.text(spec, seed, id).getOrElse(""))
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairs = out.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    if (pairSet.size != pairs.length) err("duplicate pairs reported")
    pairs.foreach { case (a, b, j) =>
      val exact = Corpus.jaccard(text(a), text(b))
      if (!(a < b) || j < 0.5 || j != round6(exact))
        err(s"pair ($a, $b): jaccard $j, exact word-3-gram jaccard $exact")
    }
    // planted groups
    var nearPairs = 0
    var nearFound = 0
    var nearBound = 0.0
    var g = 0L
    while (g < spec.groups) {
      val ids = Corpus.docIds(spec, seed, g)
      Corpus.kind(spec, seed, g) match {
        case Corpus.Exact =>
          for (a <- ids; b <- ids if a < b; if !pairSet((a, b)))
            err(s"exact duplicates ($a, $b) not paired")
        case Corpus.Near =>
          ids.tail.foreach { b =>
            val j = Corpus.jaccard(text(ids.head), text(b))
            nearPairs += 1
            nearBound += 1 - math.pow(1 - math.pow(j, Dedup.RowsPerBand), Dedup.NumBands)
            if (pairSet((ids.head, b))) nearFound += 1
          }
        case Corpus.Single =>
      }
      g += 1
    }
    val recall = nearFound.toDouble / math.max(1, nearPairs)
    val bound = nearBound / math.max(1, nearPairs) - DedupWorkload.RecallMargin
    if (recall < bound)
      err(f"near-duplicate recall $recall%.4f below the banding bound $bound%.4f")
    println(f"dedup check: ${pairs.length} pairs, near recall $recall%.4f " +
      f"(bound ${bound + DedupWorkload.RecallMargin}%.4f less margin " +
      s"${DedupWorkload.RecallMargin}), $nearPairs planted near pairs")
    // clusters: plain union-find over the reported pairs
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    val got = out.labels.toMap
    if (got.size != out.labels.length) err("a document has several cluster labels")
    if (got != want) {
      val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      err(s"${diff.size} documents labelled differently from union-find, e.g. " +
        diff.take(3).map(k => s"$k: got ${got.get(k)} want ${want.get(k)}").mkString(", "))
    }
    errors.toSeq
  }

  override def layers(o: JobOut, spans: Seq[Span]): Map[String, Double] = {
    val out = o.asInstanceOf[Out]
    def sp(n: String) = spans.find(_.name == n).get
    Map(
      "dedup.lsh_s" -> sp("dedup.lsh").seconds,
      "dedup.pairs" -> out.pairCount.toDouble,
      "dedup.cc_s" -> sp("dedup.cc").seconds,
      "dedup.cc_jobs" -> sp("dedup.cc").counters.jobs.toDouble,
      "dedup.clusters" -> out.labels.map(_._2).distinct.length.toDouble)
  }
}

object DedupWorkload {
  /** Allowed shortfall of planted near-duplicate recall below the mean
   * 4-band × 4-row collision probability at the planted similarities. */
  val RecallMargin = 0.03
}
