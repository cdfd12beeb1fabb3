package mvbench

import graft.schema.TableSchema
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded 64-bit hashing: every generated value is a pure function of
 * (seed, id, salt), so the generator, the output checks and any re-run
 * derive the same inputs without sharing state. */
object Mix {
  def avalanche(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def h(seed: Long, id: Long, salt: Long): Long =
    avalanche(avalanche(seed * 0x9e3779b97f4a7c15L + salt) + id)
  /** Uniform in [0, 1). */
  def unit(seed: Long, id: Long, salt: Long): Double =
    (h(seed, id, salt) >>> 11) * (1.0 / (1L << 53))
  /** Uniform in [0, n). */
  def below(seed: Long, id: Long, salt: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(h(seed, id, salt), n)
}

/**
 * The base/MV pair of the reconcile workloads. The base table is keyed
 * by `id`; the MV promotes `grp` into its key, `(grp, id)` — the classic
 * Cassandra MV shape. Every key gets one fate, decided by the generator
 * from the seed, so the damage categories are disjoint key sets:
 *
 *   Ok            same row on both sides (cells, writetimes and TTLs)
 *   Orphan        row only in the MV          → MISSING_IN_BASE_TABLE
 *   Missing       row only in the base        → MISSING_IN_MV_TABLE
 *   Inconsistent  one regular column perturbed in the MV, with an older
 *                 writetime and no TTL        → INCONSISTENT
 */
final case class ReconSpec(keys: Long, orphan: Double, missing: Double,
    inconsistent: Double, ttlShare: Double)

object Recon {
  sealed abstract class Fate(val problem: String)
  case object Ok extends Fate("CONSISTENT")
  case object Orphan extends Fate("MISSING_IN_BASE_TABLE")
  case object Missing extends Fate("MISSING_IN_MV_TABLE")
  case object Inconsistent extends Fate("INCONSISTENT")

  /** Regular columns compared by the reconciler, in name order; `grp`
   * is regular in the base and a key column in the MV. */
  val Compared: Seq[String] = Seq("amount", "name", "qty", "status")
  val Types: Map[String, String] = Map("id" -> "BIGINT", "grp" -> "BIGINT",
    "amount" -> "DOUBLE", "name" -> "TEXT", "qty" -> "INT", "status" -> "TEXT")
  val baseSchema: TableSchema = TableSchema(Seq("id"), Types)
  val mvSchema: TableSchema = TableSchema(Seq("grp", "id"), Types)

  private val Statuses = Array("NEW", "PAID", "PACKED", "SHIPPED", "DONE", "HOLD")
  private val T0 = 1700000000000000L // µs

  final case class Cell(value: Any, writetime: Long, ttl: Option[Int])
  /** One side's row: key columns plus the compared cells by name. */
  final case class KeyRow(id: Long, grp: Long, cells: Map[String, Cell])

  def fate(spec: ReconSpec, seed: Long, id: Long): Fate = {
    val u = Mix.unit(seed, id, 1)
    if (u < spec.orphan) Orphan
    else if (u < spec.orphan + spec.missing) Missing
    else if (u < spec.orphan + spec.missing + spec.inconsistent) Inconsistent
    else Ok
  }

  def grp(spec: ReconSpec, seed: Long, id: Long): Long =
    Mix.below(seed, id, 2, math.max(1L, spec.keys / 8))

  /** The column the MV perturbs on an Inconsistent key. */
  def perturbed(seed: Long, id: Long): String =
    Compared(Mix.below(seed, id, 7, Compared.length).toInt)

  private def name(seed: Long, id: Long): String = {
    val len = 6 + Mix.below(seed, id, 3, 11).toInt
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) {
      sb.append(('a' + Mix.below(seed, id * 31 + i, 30, 26)).toChar)
      i += 1
    }
    sb.toString
  }

  /** The base row of `id` — also the MV row of every Ok key. */
  def baseRow(spec: ReconSpec, seed: Long, id: Long): KeyRow = {
    val ttl: Option[Int] =
      if (Mix.unit(seed, id, 6) < spec.ttlShare)
        Some(86400 + Mix.below(seed, id, 8, 1000000).toInt)
      else None
    def wt(ci: Int): Long = T0 + Mix.below(seed, id, 10 + ci, 100000000000L)
    val values: Seq[Any] = Seq(
      Mix.below(seed, id, 4, 10000000L) / 100.0,
      name(seed, id),
      Mix.below(seed, id, 5, 1000).toInt,
      Statuses(Mix.below(seed, id, 9, Statuses.length).toInt))
    KeyRow(id, grp(spec, seed, id), Compared.zip(values).zipWithIndex.map {
      case ((c, v), ci) => c -> Cell(v, wt(ci), ttl)
    }.toMap)
  }

  def perturb(value: Any): Any = value match {
    case d: Double => d + 1.0
    case i: Int => i + 1
    case s: String if Statuses.contains(s) =>
      Statuses((Statuses.indexOf(s) + 1) % Statuses.length)
    case s: String => s + "~"
  }

  def mvRow(spec: ReconSpec, seed: Long, id: Long): Option[KeyRow] =
    fate(spec, seed, id) match {
      case Missing => None
      case Inconsistent =>
        val b = baseRow(spec, seed, id)
        val c = perturbed(seed, id)
        val old = b.cells(c)
        Some(b.copy(cells = b.cells.updated(c,
          Cell(perturb(old.value), old.writetime - 1000L, None))))
      case _ => Some(baseRow(spec, seed, id))
    }

  def baseOnly(spec: ReconSpec, seed: Long, id: Long): Option[KeyRow] =
    if (fate(spec, seed, id) == Orphan) None else Some(baseRow(spec, seed, id))

  private def cellType(c: String): DataType = c match {
    case "amount" => DoubleType
    case "qty" => IntegerType
    case _ => StringType
  }
  private def cellFields(c: String): Seq[StructField] = Seq(
    StructField(c, cellType(c)),
    StructField(s"writetime_$c", LongType),
    StructField(s"ttl_$c", IntegerType))

  /** Base layout: id, grp (with its own writetime/ttl cells), then the
   * compared columns — the wide shape a Cassandra scan produces. */
  val baseStruct: StructType = StructType(
    Seq(StructField("id", LongType, nullable = false),
      StructField("grp", LongType),
      StructField("writetime_grp", LongType),
      StructField("ttl_grp", IntegerType)) ++ Compared.flatMap(cellFields))

  val mvStruct: StructType = StructType(
    Seq(StructField("grp", LongType, nullable = false),
      StructField("id", LongType, nullable = false)) ++ Compared.flatMap(cellFields))

  private def cells(r: KeyRow): Seq[Any] = Compared.flatMap { c =>
    val cell = r.cells(c)
    Seq(cell.value, cell.writetime, cell.ttl.map(Int.box).orNull)
  }
  def toBaseRow(r: KeyRow): Row = {
    val g = r.cells("amount")
    Row.fromSeq(Seq(r.id, r.grp, g.writetime, g.ttl.map(Int.box).orNull) ++ cells(r))
  }
  def toMvRow(r: KeyRow): Row = Row.fromSeq(Seq(r.grp, r.id) ++ cells(r))

  /** The generated base table and damaged MV, `parts` partitions each. */
  def frames(spark: SparkSession, spec: ReconSpec, seed: Long,
      parts: Int): (DataFrame, DataFrame) = {
    val ids = spark.sparkContext.range(0L, spec.keys, 1L, parts)
    (spark.createDataFrame(
      ids.flatMap(id => baseOnly(spec, seed, id).map(toBaseRow)), baseStruct),
     spark.createDataFrame(
      ids.flatMap(id => mvRow(spec, seed, id).map(toMvRow)), mvStruct))
  }

  /** Per-fate key counts from the generator's own rules. */
  def truth(spec: ReconSpec, seed: Long): Map[Fate, Long] = {
    val counts = scala.collection.mutable.Map[Fate, Long]().withDefaultValue(0L)
    var id = 0L
    while (id < spec.keys) { counts(fate(spec, seed, id)) += 1; id += 1 }
    counts.toMap.withDefaultValue(0L)
  }
}

/**
 * The dedup corpus: `(doc_id BIGINT, text STRING)`. Documents come in
 * groups of up to `GroupSlots` ids (`doc_id = group * GroupSlots + k`):
 *
 *   single      one document of seeded vocabulary words
 *   exact       a source plus 1–3 byte-identical copies
 *   near        a source plus one copy with ONE word replaced at an
 *               interior position (so exactly 3 word 3-grams change)
 */
object Corpus {
  val GroupSlots = 4
  val VocabSize = 4096
  sealed trait Kind
  case object Single extends Kind
  case object Exact extends Kind
  case object Near extends Kind

  final case class Spec(groups: Long)
  /** One exact and one near group in every `KindCycle` groups. */
  val KindCycle = 20

  private def word(seed: Long, w: Long): String = {
    val len = 3 + Mix.below(seed, w, 40, 7).toInt
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) {
      sb.append(('a' + Mix.below(seed, w * 16 + i, 41, 26)).toChar)
      i += 1
    }
    sb.toString
  }

  /** Group kinds and sizes follow the group index, so every seed plants
   * the same number of pairs and only the texts change with the seed. */
  def kind(spec: Spec, seed: Long, g: Long): Kind = g % KindCycle match {
    case 0 => Exact
    case 1 => Near
    case _ => Single
  }

  def groupSize(spec: Spec, seed: Long, g: Long): Int = kind(spec, seed, g) match {
    case Single => 1
    case Exact => 2 + ((g / KindCycle) % 3).toInt
    // one copy: a missed source-copy pair can never leave a copy-copy
    // path behind, so every component is one hop from its smallest id
    // and connected components runs the same rounds for every seed
    case Near => 2
  }

  private def sourceWords(seed: Long, g: Long): Array[String] = {
    val len = 40 + Mix.below(seed, g, 44, 41).toInt
    Array.tabulate(len)(i => word(seed, Mix.below(seed, g * 128 + i, 45, VocabSize)))
  }

  /** Text of document `docId`, or None when the slot is unused. */
  def text(spec: Spec, seed: Long, docId: Long): Option[String] = {
    val g = docId / GroupSlots
    val k = (docId % GroupSlots).toInt
    if (g >= spec.groups || k >= groupSize(spec, seed, g)) None
    else {
      val words = sourceWords(seed, g)
      if (k > 0 && kind(spec, seed, g) == Near) {
        // interior position: the replaced word sits inside 3 shingles
        val p = 3 + Mix.below(seed, docId, 46, words.length - 6).toInt
        // a word outside the vocabulary: the 3 new shingles are unique
        words(p) = s"edit${k}x${Mix.below(seed, docId, 47, 1000000)}"
      }
      Some(words.mkString(" "))
    }
  }

  def docIds(spec: Spec, seed: Long, g: Long): Seq[Long] =
    (0 until groupSize(spec, seed, g)).map(k => g * GroupSlots + k)

  val struct: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  def write(spark: SparkSession, spec: Spec, seed: Long, parts: Int,
      path: String): Unit = {
    val rows = spark.sparkContext.range(0L, spec.groups, 1L, parts)
      .flatMap(g => docIds(spec, seed, g).map(id => Row(id, text(spec, seed, id).get)))
    spark.createDataFrame(rows, struct).write.mode("overwrite").parquet(path)
  }

  def docCount(spec: Spec, seed: Long): Long = {
    var n = 0L
    var g = 0L
    while (g < spec.groups) { n += groupSize(spec, seed, g); g += 1 }
    n
  }

  /** Word 3-gram set, tokens = runs of whitespace-free characters. */
  def shingles(text: String): Set[String] =
    text.split("\\s+").filter(_.nonEmpty).sliding(3)
      .collect { case w if w.length == 3 => w.mkString(" ") }.toSet

  def jaccard(a: String, b: String): Double = {
    val sa = shingles(a); val sb = shingles(b)
    val inter = sa.count(sb.contains)
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
