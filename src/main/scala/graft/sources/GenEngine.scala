package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The shared closed-form generator engine behind the `graft-tpch` and
  * `graft-tpcds` connectors (reference: `presto-tpch/.../TpchMetadata
  * .java`, `presto-tpcds/.../TpcdsMetadata.java` — both serve
  * deterministic generator tables through the same connector SPI).
  *
  * A [[ClosedFormGen]] describes a table family: row counts per scale
  * factor, schemas, a monotone primary key whose predicates prune
  * GENERATION (the reference's split pruning), and per-column
  * `row index → value` functions. On the shared [[StoreScan]] base the
  * engine adds key-range pushdown, key-range splits (`parts`
  * independent slices — a 1000-executor cluster hands each task its
  * contiguous range), and exact statistics so joins broadcast without
  * hints.
  */
trait ClosedFormGen extends Serializable {
  /** connector short name, used in scan descriptions */
  def genName: String
  def rowCount(table: String, sf: Double): Long
  /** monotone primary-key column; predicates on it prune generation */
  def keyColumn(table: String): String
  /** row index range [lo, hi) whose keys satisfy key ∈ [kLo, kHi] */
  def indexRangeForKeys(table: String, kLo: Long, kHi: Long, n: Long): (Long, Long)
  def schemaOf(table: String): StructType
  /** column generator: row index k → Catalyst value */
  def generator(table: String, column: String, sf: Double): Long => Any
}

/** `spark.read.format(<genName>).option("table", t)`, with optional
  * `sf` (default 0.01) and `parts` (default 8). The generator is a
  * `def`: Spark instantiates every registered provider on its first
  * format lookup, and that must not initialize the generators. */
abstract class GenProvider(genName: String) extends StoreProvider(genName) {
  protected def gen: ClosedFormGen

  override protected def open(opts: CaseInsensitiveStringMap,
      schema: StructType): Table =
    new GenTable(gen, StoreTable.option(opts, genName, "table").toLowerCase,
      Option(opts.get("sf")).map(_.toDouble).getOrElse(0.01),
      Option(opts.get("parts")).map(_.toInt).getOrElse(8))
}

class GenTable(gen: ClosedFormGen, table: String, sf: Double, parts: Int)
    extends StoreTable(s"${gen.genName}.$table(sf=$sf)") {
  override def schema(): StructType = gen.schemaOf(table)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GenScanBuilder(gen, table, sf, parts)
}

/** Key-range predicate pushdown: supported key predicates are fully
  * absorbed (generation range narrows, Spark does NOT re-evaluate
  * them) as inclusive (lo, hi) key bounds; everything else stays with
  * Spark. */
class GenScanBuilder(gen: ClosedFormGen, table: String, sf: Double, parts: Int)
    extends StoreScanBuilder[(Long, Long)](gen.schemaOf(table)) {

  private val key = gen.keyColumn(table)

  override protected def compile(f: Filter): Option[(Long, Long)] = f match {
    case EqualTo(`key`, v: Number) if v.longValue() >= 0 =>
      Some((v.longValue(), v.longValue()))
    case GreaterThan(`key`, v: Number) =>
      Some((v.longValue() + 1, Long.MaxValue))
    case GreaterThanOrEqual(`key`, v: Number) =>
      Some((v.longValue(), Long.MaxValue))
    case LessThan(`key`, v: Number) =>
      Some((Long.MinValue, v.longValue() - 1))
    case LessThanOrEqual(`key`, v: Number) =>
      Some((Long.MinValue, v.longValue()))
    case _ => None
  }

  override def build(): Scan =
    new GenScan(gen, table, sf, parts, required, pushed,
      queries.foldLeft(Long.MinValue)((lo, q) => math.max(lo, q._1)),
      queries.foldLeft(Long.MaxValue)((hi, q) => math.min(hi, q._2)))
}

final case class GenRange(start: Long, end: Long) extends InputPartition

class GenScan(gen: ClosedFormGen, table: String, sf: Double, parts: Int,
    required: StructType, pushed: Array[Filter], kLo: Long, kHi: Long)
    extends StoreScan(required, pushed) {

  override protected def label: String = s"${gen.genName} $table sf=$sf"

  private def prunedRange: (Long, Long) = {
    val n = gen.rowCount(table, sf)
    if (kLo == Long.MinValue && kHi == Long.MaxValue) (0L, n)
    else {
      // guard the index arithmetic against overflow (a `< Long.MaxValue`
      // bound times a lines-per-key factor would wrap) WITHOUT clamping
      // into [0, n] — key spaces may sit far above the row count
      // (julian d_date_sk, week-based inv_date_sk); each generator's
      // inverse clamps its OUTPUT to [0, n]
      val cap = 1L << 40
      gen.indexRangeForKeys(table,
        math.max(-cap, math.min(cap, kLo)),
        math.max(-cap, math.min(cap, kHi)), n)
    }
  }

  /** Exact post-pruning cardinality — the generator knows it, so
    * broadcast-vs-shuffle picks are right without ANALYZE. Width:
    * 8 bytes per fixed field, 20 per string — only has to land the
    * broadcast threshold. */
  override protected def rowCount: Option[Long] = {
    val (lo, hi) = prunedRange
    Some(math.max(0L, hi - lo))
  }
  override protected def rowBytes: Long =
    required.fields.map(_.dataType match {
      case StringType => 20L
      case _ => 8L
    }).sum

  override def planInputPartitions(): Array[InputPartition] = {
    val (lo, hi) = prunedRange
    if (hi <= lo) return Array.empty
    val span = hi - lo
    val p = math.max(1, math.min(parts, span).toInt)
    (0 until p).map { i =>
      GenRange(lo + span * i / p, lo + span * (i + 1) / p)
    }.filter(r => r.end > r.start).toArray[InputPartition]
  }

  override protected def reader: StoreScan.Reader =
    GenScan.reader(gen, table, sf, required.fieldNames)
}

object GenScan {
  def reader(gen: ClosedFormGen, table: String, sf: Double,
      columns: Array[String]): StoreScan.Reader = (p, _) => {
    val r = p.asInstanceOf[GenRange]
    val gens = columns.map(gen.generator(table, _, sf))
    new Iterator[InternalRow] {
      private var k = r.start
      override def hasNext: Boolean = k < r.end
      override def next(): InternalRow = {
        val row = new GenericInternalRow(gens.length)
        var i = 0
        while (i < gens.length) { row.update(i, gens(i)(k)); i += 1 }
        k += 1
        row
      }
    }
  }
}
