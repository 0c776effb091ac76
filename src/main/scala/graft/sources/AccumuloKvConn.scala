package graft.sources

import java.util.Comparator
import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap, ConcurrentSkipListSet}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An Accumulo-shaped sorted key/value connector — the Spark-native
  * re-expression of the reference's Accumulo connector
  * (`presto-accumulo/src/main/java/com/facebook/presto/accumulo/
  * AccumuloConnectorFactory.java`), seventh application of the
  * documented in-process-substitution pattern ([[KafkaLog]],
  * [[RedisStore]], [[EsStore]], [[CassStore]], [[MongoStore]],
  * [[DruidStore]]).
  *
  * DOCUMENTED SUBSTITUTION: no Accumulo server or client jar exists in
  * this zero-egress distribution, so the tablet-server half is replaced
  * by [[AccStore]], a JVM-wide registry that keeps the real Accumulo
  * data organization: rows SORTED by an order-preserving row-id
  * encoding (the Lexicoder contract), cells stored per column FAMILY
  * (so locality groups prune structurally), plus the connector's own
  * secondary-index and metrics tables. EVERYTHING above the RPC stays
  * Accumulo-connector-shaped:
  *
  *   - '''Secondary-index planning''' mirrors
  *     `index/IndexLookup.applyIndex` (`:129-285`) decision for
  *     decision: constraints on indexed columns look up row IDs in the
  *     index table (value -> rowId, `Indexer.java:231`); with metrics
  *     enabled the per-value CARDINALITIES and the table row count
  *     (`___METRICS_TABLE___/___rows___/___card___`,
  *     `Indexer.java:108-116`) drive the choice — a column under the
  *     lowest-cardinality threshold (default .01,
  *     `AccumuloSessionProperties.java:89-94`) short-circuits to that
  *     column's row IDs alone, otherwise ALL indexed constraints'
  *     row-id sets INTERSECT (`IndexLookup.getIndexRanges` retainAll);
  *     if the final candidate count is >= index_threshold (default .2)
  *     of the table the index is ABANDONED for a tablet scan
  *     (`IndexLookup.java:270-285`).
  *   - '''Split model''': index hits are BINNED into splits of
  *     index_rows_per_split row IDs (default 10000,
  *     `IndexLookup.binRanges:372`); non-indexed scans split the row-id
  *     range on TABLET boundaries
  *     (`AccumuloClient.getTabletSplits:652-715` +
  *     `splitByTabletBoundaries:756`) — one task per tablet on a
  *     cluster.
  *   - '''Predicates are enforced store-side''' (the filter-iterator
  *     analog): every pushed filter is re-applied to candidate rows, so
  *     stale index entries left by Accumulo's append-only `Indexer`
  *     (overwritten rows are NOT un-indexed; metrics cardinalities are
  *     additive upper bounds) never surface — exactly the reference's
  *     index-then-refilter contract. Filters outside the surface stay
  *     residual Spark filters.
  *   - '''Locality groups''' (`AccumuloClient.java:220-252`): families
  *     grouped per the table property; the row-id column cannot be in a
  *     locality group (`:231`); a projection fetches only the families
  *     its columns and predicates need — the scan's
  *     `familyCells.<family>` metrics count per-family cell fetches,
  *     and the suite locks that the untouched group reads ZERO cells.
  *   - '''Writes are Accumulo mutations''' (`io/AccumuloPageSink
  *     .java:142-170`): row ID from the row_id column (default: the
  *     FIRST column, `AccumuloClient.getRowIdColumn:280-284`),
  *     overwrite-by-key semantics so task retries are idempotent, and
  *     every write feeds the `Indexer` (index entries + cardinality
  *     metrics + first/last row).
  *
  * Session knobs carry `conf/AccumuloSessionProperties.java:55-110`
  * names and defaults: optimize_index_enabled=true,
  * index_rows_per_split=10000, index_threshold=0.2,
  * index_lowest_cardinality_threshold=0.01, index_metrics_enabled=true,
  * optimize_split_ranges_enabled=true.
  *
  * Scale stance: the in-process store stands in for the tablet servers;
  * the connector layer — cardinality-driven index-vs-scan choice,
  * binned index splits, tablet-boundary scan splits, store-side
  * filtering, locality-group pruning — is the real contract and fans
  * out one task per tablet/bin on a cluster.
  */
object AccStore {

  final case class ColumnDef(name: String, family: String, dt: DataType,
      indexed: Boolean)

  /** Order-preserving row-id encoding — the Lexicoder contract: the
    * encoded STRING sort order equals the value order. */
  def encodeKey(v: Any): String = v match {
    case s: String => "s" + s
    case u: UTF8String => "s" + u.toString
    case l: Long =>
      val u = l ^ Long.MinValue // flip sign bit: unsigned order == signed
      val s = java.lang.Long.toUnsignedString(u)
      "l" + ("0" * (20 - s.length)) + s
    case i: Int => encodeKey(i.toLong)
    case other => sys.error(s"graft-accumulo: unsupported row-id $other")
  }

  private[sources] final class AccRow(val rowId: Any,
      val families: Map[String, Map[String, Any]])

  /** Comparator for index keys of one column (typed, like the
    * reference's per-type Lexicoders). */
  private def keyComparator(dt: DataType): Comparator[AnyRef] =
    new Comparator[AnyRef] with Serializable {
      override def compare(a: AnyRef, b: AnyRef): Int = dt match {
        case StringType => a.toString.compareTo(b.toString)
        case LongType => java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
        case DoubleType => java.lang.Double.compare(
          a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue())
        case BooleanType => java.lang.Boolean.compare(
          a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
        case other => sys.error(s"graft-accumulo: bad index type $other")
      }
    }

  final class AccTable(
      val name: String,
      val rowIdCol: String,
      val rowIdType: DataType,
      val columns: Seq[ColumnDef],
      val localityGroups: Map[String, Set[String]]) {

    // the data table: encoded row id -> row, SORTED (tablet order)
    private[sources] val rows = new ConcurrentSkipListMap[String, AccRow]()
    // the <table>_idx analog: column -> value -> row ids
    // (`Indexer.getIndexTableName:431`; append-only like the Indexer)
    private[sources] val index: Map[String, ConcurrentSkipListMap[AnyRef, ConcurrentSkipListSet[String]]] =
      columns.filter(_.indexed).map(c =>
        c.name -> new ConcurrentSkipListMap[AnyRef, ConcurrentSkipListSet[String]](
          keyComparator(c.dt))).toMap
    // the <table>_idx_metrics analog: per-value cardinalities +
    // ___rows___ count + first/last row (additive, like the Indexer's
    // metrics mutations — upper bounds after overwrites). Store data
    // the index planner reads, not per-query telemetry.
    private[sources] val cardinality: Map[String, ConcurrentHashMap[AnyRef, AtomicLong]] =
      columns.filter(_.indexed).map(c =>
        c.name -> new ConcurrentHashMap[AnyRef, AtomicLong]()).toMap
    private[sources] val numRowsMetric = new AtomicLong(0L)
    @volatile private[sources] var firstRow: Option[String] = None
    @volatile private[sources] var lastRow: Option[String] = None
    // tablet boundaries over encoded row ids (TableOperations.addSplits)
    @volatile private[sources] var splitPoints: Vector[String] = Vector.empty

    private[sources] val colByName: Map[String, ColumnDef] =
      columns.map(c => c.name -> c).toMap

    // r18 OPT: the mutation layout is static per table — precompute it
    // once instead of re-deriving (groupBy allocation) per written row
    private[sources] val famCols: Array[(String, Array[ColumnDef])] =
      columns.groupBy(_.family).map { case (f, cs) =>
        (f, cs.toArray)
      }.toArray
    private[sources] val indexedCols: Array[ColumnDef] =
      columns.filter(_.indexed).toArray

    def familyOf(col: String): String =
      if (col == rowIdCol) "___ROW___" else colByName(col).family
  }

  private[graft] val tables = new ConcurrentHashMap[String, AccTable]()

  def create(name: String, rowId: (String, DataType),
      columns: Seq[(String, String, DataType)], indexed: Set[String],
      localityGroups: Map[String, Seq[String]] = Map.empty): Unit = {
    (rowId._2 +: columns.map(_._3)).foreach { dt =>
      require(dt == StringType || dt == LongType || dt == DoubleType ||
        dt == BooleanType,
        s"graft-accumulo: unsupported type ${dt.catalogString}")
    }
    // locality groups are declared over COLUMNS and resolve to their
    // families (`AccumuloClient.java:220-252` + `:345-360`); the row-id
    // column cannot be in one (`:231`)
    localityGroups.foreach { case (g, members) =>
      require(!members.contains(rowId._1),
        "graft-accumulo: Row ID column cannot be in a locality group")
      members.foreach(c => require(columns.exists(_._1 == c),
        s"graft-accumulo: Unknown column '$c' in locality group '$g'"))
    }
    indexed.foreach(c => require(columns.exists(_._1 == c),
      s"graft-accumulo: indexed column '$c' is not a column"))
    val defs = columns.map { case (n, fam, dt) =>
      ColumnDef(n, fam, dt, indexed.contains(n))
    }
    val famOf = columns.map(c => c._1 -> c._2).toMap
    tables.put(name, new AccTable(name, rowId._1, rowId._2, defs,
      localityGroups.view.mapValues(_.map(famOf).toSet).toMap))
  }

  def drop(name: String): Unit = tables.remove(name)

  private[sources] def table(name: String): AccTable = {
    val t = tables.get(name)
    require(t != null, s"graft-accumulo: unknown table '$name'")
    t
  }

  /** Tablet boundaries (TableOperations.addSplits analog): each point
    * ends a tablet — a full scan plans one split per tablet. */
  def addSplits(name: String, points: Seq[Any]): Unit = {
    val t = table(name)
    t.splitPoints =
      (t.splitPoints ++ points.map(encodeKey)).distinct.sorted
  }

  /** One mutation through the `AccumuloPageSink.toMutation` +
    * `Indexer` path: overwrite the row by key, append index entries and
    * metrics. Stale index entries for an overwritten row are NOT
    * removed (the Indexer is append-only) — the scan-side re-filter
    * hides them, and metrics stay additive upper bounds. */
  def put(name: String, values: Map[String, Any]): Unit = {
    val t = table(name)
    val rowIdVal = values.getOrElse(t.rowIdCol,
      sys.error(s"graft-accumulo: missing row id '${t.rowIdCol}'"))
    require(rowIdVal != null, "graft-accumulo: null row id")
    val key = encodeKey(rowIdVal)
    // r18 OPT: flat loops over the precomputed layout — the former
    // per-row groupBy/flatMap re-derived the static family layout and
    // allocated intermediate collections for every mutation
    var fams = Map.empty[String, Map[String, Any]]
    var i = 0
    while (i < t.famCols.length) {
      val (fam, cols) = t.famCols(i)
      var cm = Map.empty[String, Any]
      var j = 0
      while (j < cols.length) {
        val v = values.getOrElse(cols(j).name, null)
        if (v != null) cm = cm.updated(cols(j).name, v)
        j += 1
      }
      fams = fams.updated(fam, cm)
      i += 1
    }
    t.rows.put(key, new AccRow(rowIdVal, fams))
    i = 0
    while (i < t.indexedCols.length) {
      val c = t.indexedCols(i)
      val v = values.getOrElse(c.name, null)
      if (v != null) {
        val vk = v.asInstanceOf[AnyRef]
        t.index(c.name)
          .computeIfAbsent(vk, _ => new ConcurrentSkipListSet[String]())
          .add(key)
        t.cardinality(c.name)
          .computeIfAbsent(vk, _ => new AtomicLong(0L)).incrementAndGet()
      }
      i += 1
    }
    t.numRowsMetric.incrementAndGet()
    // volatile pre-check keeps concurrent writers off the lock on the
    // (vastly common) rows that move neither boundary
    if (t.firstRow.forall(_ > key) || t.lastRow.forall(_ < key))
      t.synchronized {
        if (t.firstRow.forall(_ > key)) t.firstRow = Some(key)
        if (t.lastRow.forall(_ < key)) t.lastRow = Some(key)
      }
  }

  /** The metrics table's `___rows___` count (additive upper bound). */
  def metricRowCount(name: String): Long = table(name).numRowsMetric.get()

  /** The metrics table's first/last row entries (encoded keys). */
  def firstLastRow(name: String): (Option[String], Option[String]) = {
    val t = table(name); (t.firstRow, t.lastRow)
  }

  // ---- the pushed-constraint surface -------------------------------

  /** An encoded-row-id range (Accumulo `Range`). */
  final case class KeyRange(lo: Option[String], loInc: Boolean,
      hi: Option[String], hiInc: Boolean) {
    def contains(k: String): Boolean =
      lo.forall(l => if (loInc) k >= l else k > l) &&
        hi.forall(h => if (hiInc) k <= h else k < h)
    def intersect(o: KeyRange): Option[KeyRange] = {
      val (nlo, nloInc) = (lo, o.lo) match {
        case (None, b) => (b, o.loInc)
        case (a, None) => (a, loInc)
        case (Some(a), Some(b)) =>
          if (a > b) (Some(a), loInc)
          else if (b > a) (Some(b), o.loInc)
          else (Some(a), loInc && o.loInc)
      }
      val (nhi, nhiInc) = (hi, o.hi) match {
        case (None, b) => (b, o.hiInc)
        case (a, None) => (a, hiInc)
        case (Some(a), Some(b)) =>
          if (a < b) (Some(a), hiInc)
          else if (b < a) (Some(b), o.hiInc)
          else (Some(a), hiInc && o.hiInc)
      }
      val empty = (nlo, nhi) match {
        case (Some(l), Some(h)) => l > h || (l == h && !(nloInc && nhiInc))
        case _ => false
      }
      if (empty) None else Some(KeyRange(nlo, nloInc, nhi, nhiInc))
    }
  }
  val FullRange: KeyRange = KeyRange(None, false, None, false)

  /** One constraint on a data column (`AccumuloColumnConstraint`). */
  sealed trait Spec
  final case class ValuesIn(vs: Seq[Any]) extends Spec
  final case class ValueRange(lo: Option[Any], loInc: Boolean,
      hi: Option[Any], hiInc: Boolean) extends Spec
  case object NotNullSpec extends Spec
  case object NullSpec extends Spec
  final case class Constraint(col: String, spec: Spec)

  /** Row IDs matching one indexed constraint, from the index table and
    * restricted to the row-id ranges (`IndexLookup.getIndexRanges`'s
    * inRange check). */
  private[sources] def indexRowIds(t: AccTable, c: Constraint,
      rowRanges: Seq[KeyRange]): collection.SortedSet[String] = {
    val ix = t.index(c.col)
    val out = mutable.SortedSet.empty[String]
    def addAll(s: ConcurrentSkipListSet[String]): Unit =
      s.forEach(k => if (rowRanges.exists(_.contains(k))) out += k)
    c.spec match {
      case ValuesIn(vs) =>
        vs.foreach { v =>
          val s = ix.get(v.asInstanceOf[AnyRef])
          if (s != null) addAll(s)
        }
      case ValueRange(lo, loInc, hi, hiInc) =>
        var sub: java.util.concurrent.ConcurrentNavigableMap[AnyRef, ConcurrentSkipListSet[String]] = ix
        lo.foreach(l => sub = sub.tailMap(l.asInstanceOf[AnyRef], loInc))
        hi.foreach(h => sub = sub.headMap(h.asInstanceOf[AnyRef], hiInc))
        sub.values().forEach(addAll)
      case _ => ()
    }
    out
  }

  /** Constraint cardinality from the metrics table
    * (`ColumnCardinalityCache` reads the same per-value counters). */
  private[sources] def metricCardinality(t: AccTable,
      c: Constraint): Long = {
    val cards = t.cardinality(c.col)
    c.spec match {
      case ValuesIn(vs) =>
        vs.map { v =>
          val a = cards.get(v.asInstanceOf[AnyRef])
          if (a == null) 0L else a.get()
        }.sum
      case ValueRange(lo, loInc, hi, hiInc) =>
        // metrics are scanned by value range like the index itself
        var sub: java.util.concurrent.ConcurrentNavigableMap[AnyRef, ConcurrentSkipListSet[String]] = t.index(c.col)
        lo.foreach(l => sub = sub.tailMap(l.asInstanceOf[AnyRef], loInc))
        hi.foreach(h => sub = sub.headMap(h.asInstanceOf[AnyRef], hiInc))
        var n = 0L
        sub.keySet().forEach { k =>
          val a = cards.get(k); if (a != null) n += a.get()
        }
        n
      case _ => 0L
    }
  }
}

class AccumuloKvProvider extends StoreProvider("graft-accumulo") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new AccumuloKvTable(o)
}

class AccumuloKvTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-accumulo.${options.get("table")}",
      TableCapability.BATCH_WRITE) with SupportsWrite {

  private val tableName =
    StoreTable.option(options, "graft-accumulo", "table")

  override def schema(): StructType = {
    val t = AccStore.table(tableName)
    StructType(StructField(t.rowIdCol, t.rowIdType) +:
      t.columns.map(c => StructField(c.name, c.dt)))
  }

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new AccScanBuilder(tableName, schema(), o)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AccWriteBuilder(tableName, info.schema())
}

/** Compiles Spark source filters onto row-id ranges (Left: one range
  * set, intersected with the others) and column constraints (Right).
  * Compiled filters are FULLY enforced store-side (the filter-iterator
  * analog re-applies them to every candidate row), so they are not
  * residual; anything else stays a Spark filter. */
class AccScanBuilder(tableName: String, full: StructType,
    options: CaseInsensitiveStringMap)
    extends StoreScanBuilder[
      Seq[Either[Seq[AccStore.KeyRange], AccStore.Constraint]]](full) {

  import AccStore._

  private val t = AccStore.table(tableName)

  private def isRowId(a: String) = a == t.rowIdCol
  private def isCol(a: String) = t.colByName.contains(a)

  private def norm(col: String, v: Any): Any = {
    val dt = if (isRowId(col)) t.rowIdType else t.colByName(col).dt
    (dt, v) match {
      case (LongType, n: Number) => n.longValue()
      case (DoubleType, n: Number) => n.doubleValue()
      case (StringType, s) => s.toString
      case _ => v
    }
  }

  private def key(a: String, v: Any): Option[String] =
    Some(encodeKey(norm(a, v)))
  private def rows(r: KeyRange) = Some(Seq(Left(Seq(r))))
  private def cons(a: String, spec: Spec) = Some(Seq(Right(Constraint(a, spec))))

  override protected def compile(f: Filter)
      : Option[Seq[Either[Seq[KeyRange], Constraint]]] = f match {
    case EqualTo(a, v) if isRowId(a) && v != null =>
      rows(KeyRange(key(a, v), true, key(a, v), true))
    case In(a, vs) if isRowId(a) && vs.nonEmpty && !vs.contains(null) =>
      Some(Seq(Left(vs.toSeq.map(v =>
        KeyRange(key(a, v), true, key(a, v), true)))))
    case GreaterThan(a, v) if isRowId(a) && v != null =>
      rows(KeyRange(key(a, v), false, None, false))
    case GreaterThanOrEqual(a, v) if isRowId(a) && v != null =>
      rows(KeyRange(key(a, v), true, None, false))
    case LessThan(a, v) if isRowId(a) && v != null =>
      rows(KeyRange(None, false, key(a, v), false))
    case LessThanOrEqual(a, v) if isRowId(a) && v != null =>
      rows(KeyRange(None, false, key(a, v), true))
    case IsNotNull(a) if isRowId(a) => Some(Seq.empty) // row ids are never null
    case EqualTo(a, v) if isCol(a) && v != null =>
      cons(a, ValuesIn(Seq(norm(a, v))))
    case In(a, vs) if isCol(a) && vs.nonEmpty && !vs.contains(null) =>
      cons(a, ValuesIn(vs.toSeq.map(norm(a, _))))
    case GreaterThan(a, v) if isCol(a) && v != null =>
      cons(a, ValueRange(Some(norm(a, v)), false, None, false))
    case GreaterThanOrEqual(a, v) if isCol(a) && v != null =>
      cons(a, ValueRange(Some(norm(a, v)), true, None, false))
    case LessThan(a, v) if isCol(a) && v != null =>
      cons(a, ValueRange(None, false, Some(norm(a, v)), false))
    case LessThanOrEqual(a, v) if isCol(a) && v != null =>
      cons(a, ValueRange(None, false, Some(norm(a, v)), true))
    case IsNotNull(a) if isCol(a) => cons(a, NotNullSpec)
    case IsNull(a) if isCol(a) => cons(a, NullSpec)
    case And(l, r) =>
      // only take the AND if both sides compile (else fully residual)
      for (a <- compile(l); b <- compile(r)) yield a ++ b
    case _ => None
  }

  override def build(): Scan = {
    val parts = queries.flatten
    // top-level filters are conjuncts: intersect the row-range sets
    val rowRanges = parts.collect { case Left(rs) => rs }
      .foldLeft(Seq(FullRange))((acc, rs) =>
        acc.flatMap(a => rs.flatMap(a.intersect)))
    new AccScan(tableName, rowRanges, parts.collect { case Right(c) => c },
      required, pushed, options)
  }
}

/** A bin of index-determined row IDs (`IndexLookup.binRanges`). */
final case class AccIndexSplit(table: String, rowIds: Array[String])
    extends InputPartition
/** One tablet's slice of a row-id range scan
  * (`AccumuloClient.splitByTabletBoundaries`). */
final case class AccRangeSplit(table: String, range: AccStore.KeyRange)
    extends InputPartition

class AccScan(tableName: String, rowRanges: Seq[AccStore.KeyRange],
    constraints: Seq[AccStore.Constraint], required: StructType,
    pushedFilters: Array[Filter], options: CaseInsensitiveStringMap)
    extends StoreScan(required, pushedFilters) {

  import AccStore._

  private val t = AccStore.table(tableName)

  /** RUNTIME split pruning (Spark's dynamic-pruning hook for DSv2,
    * SPARK-35779): a join's build-side key values arrive as In/EqualTo
    * filters after the build side executes. Row-id values intersect
    * the row-range set (point lookups chopped on tablet boundaries —
    * the dynamic counterpart of the row-id-range arm); values on
    * INDEXED columns join the constraint set and ride the SAME
    * `IndexLookup.applyIndex` decision tree as planning-time
    * predicates, so a selective join probes the secondary index's
    * rowId sets instead of scanning tablets. Readers keep the STATIC
    * constraint set (the scan's `rowsMaterialized` metric counts the
    * saved volume). */
  @volatile private var runtimeRanges: Seq[KeyRange] = Seq.empty
  @volatile private var runtimeConstraints: Seq[Constraint] = Seq.empty
  /** The latest planning decision ("index ..." / "tabletScan ..."),
    * shown in the description like the reference's planner debug log. */
  @volatile private var decision = "?"

  private def normRt(col: String, v: Any): Any = {
    val dt = if (col == t.rowIdCol) t.rowIdType else t.colByName(col).dt
    (dt, v) match {
      case (LongType, n: Number) => n.longValue()
      case (DoubleType, n: Number) => n.doubleValue()
      case (StringType, s) => s.toString
      case _ => v
    }
  }

  // only columns in the pruned read schema: Spark resolves these
  // against the scan's OUTPUT and errors on a pruned-away column
  override protected def runtimeColumns: Seq[String] =
    (t.rowIdCol +: t.columns.filter(_.indexed).map(_.name))
      .distinct.filter(required.fieldNames.contains)

  override def filter(filters: Array[Filter]): Unit = {
    val rr = Seq.newBuilder[KeyRange]
    val cs = Seq.newBuilder[Constraint]
    filters.foreach {
      case In(a, vs) if a == t.rowIdCol && vs.nonEmpty &&
          !vs.contains(null) =>
        vs.foreach { v =>
          val k = encodeKey(normRt(a, v))
          rr += KeyRange(Some(k), true, Some(k), true)
        }
      case EqualTo(a, v) if a == t.rowIdCol && v != null =>
        val k = encodeKey(normRt(a, v))
        rr += KeyRange(Some(k), true, Some(k), true)
      case In(a, vs) if t.colByName.get(a).exists(_.indexed) &&
          vs.nonEmpty && !vs.contains(null) =>
        cs += Constraint(a, ValuesIn(vs.toSeq.map(normRt(a, _))))
      case EqualTo(a, v) if t.colByName.get(a).exists(_.indexed) &&
          v != null =>
        cs += Constraint(a, ValuesIn(Seq(normRt(a, v))))
      case _ => ()
    }
    runtimeRanges = rr.result()
    runtimeConstraints = cs.result()
  }

  // AccumuloSessionProperties names and defaults (`:55-110`)
  private def boolOpt(k: String, d: Boolean) =
    Option(options.get(k)).map(_.toBoolean).getOrElse(d)
  private val optimizeIndex = boolOpt("optimize_index_enabled", true)
  private val metricsEnabled = boolOpt("index_metrics_enabled", true)
  private val splitRangesEnabled =
    boolOpt("optimize_split_ranges_enabled", true)
  private val rowsPerSplit =
    Option(options.get("index_rows_per_split")).map(_.toInt).getOrElse(10000)
  private val indexThreshold =
    Option(options.get("index_threshold")).map(_.toDouble).getOrElse(0.2)
  private val smallCardThreshold =
    Option(options.get("index_lowest_cardinality_threshold"))
      .map(_.toDouble).getOrElse(0.01)

  override protected def label: String = s"graft-accumulo $tableName"
  override protected def detail: String = {
    if (decision == "?") planned // the static plan, until one ran
    s" plan=$decision"
  }

  /** The `AccumuloClient.getTabletSplits:652-715` decision tree. */
  private def computePlanned(rr: Seq[KeyRange], cs: Seq[Constraint])
      : Array[InputPartition] = {
    val indexed = cs.filter(c => t.colByName(c.col).indexed &&
      (c.spec match {
        case _: ValuesIn | _: ValueRange => true
        case _ => false // exists/missing are not index lookups
      }))
    val (viaIndex, how): (Option[Array[InputPartition]], String) =
      if (!optimizeIndex || indexed.isEmpty)
        (None, "tabletScan(noIndexedConstraint)")
      else if (!metricsEnabled) {
        // `IndexLookup.java:157-173`: no metrics — intersect and bin
        val sets = indexed.map(indexRowIds(t, _, rr))
        val hits = sets.reduceLeft((a, b) => a.intersect(b))
        (Some(bin(hits)), s"index(noMetrics,${hits.size})")
      }
      else {
        val numRows = math.max(t.numRowsMetric.get(), 1L)
        val byCard = indexed.map(c => metricCardinality(t, c) -> c)
          .sortBy(_._1)
        val (lowestCard, lowestC) = byCard.head
        // which row-id set to consider, per
        // `IndexLookup.getRangesWithMetrics:225-261`
        val hitsOpt: Option[(collection.SortedSet[String], String)] =
          if (lowestCard.toDouble / numRows <= smallCardThreshold)
            // under the lowest-cardinality threshold: that column ALONE
            Some((indexRowIds(t, lowestC, rr),
              s"lowCard(${lowestC.col})"))
          else if (indexed.size == 1 &&
            lowestCard.toDouble / numRows >= indexThreshold)
            None // single column already over the threshold (`:240-247`)
          else {
            val sets = indexed.map(indexRowIds(t, _, rr))
            Some((sets.reduceLeft((a, b) => a.intersect(b)), "intersect"))
          }
        hitsOpt match {
          case None =>
            (None, s"tabletScan(cardOverThreshold,$lowestCard/$numRows)")
          case Some((hits, how)) =>
            // final ratio check + binning (`IndexLookup.java:268-285`)
            val ratio = hits.size.toDouble / numRows
            if (ratio < indexThreshold)
              (Some(bin(hits)), s"index($how,${hits.size}/$numRows)")
            else
              (None, s"tabletScan(ratio,${hits.size}/$numRows)")
        }
      }
    decision = how
    viaIndex.getOrElse(tabletScan(rr))
  }

  // stats report the STATIC plan (runtime filters arrive later);
  // execution re-plans with whatever runtime values Spark handed over
  private lazy val planned: Array[InputPartition] =
    computePlanned(rowRanges, constraints)

  private def bin(hits: collection.SortedSet[String])
      : Array[InputPartition] =
    hits.toArray.grouped(math.max(rowsPerSplit, 1))
      .map(g => AccIndexSplit(tableName, g): InputPartition).toArray

  private def tabletScan(rr: Seq[KeyRange]): Array[InputPartition] = {
    // split each row-id range on tablet boundaries (`:756`)
    val pieces =
      if (!splitRangesEnabled) rr
      else rr.flatMap { r =>
        val cuts = t.splitPoints.filter(p =>
          r.lo.forall(l => p > l) && r.hi.forall(h => p < h))
        // walk [lo, cut1], (cut1, cut2], ..., (cutN, hi]
        var lo = r.lo; var loInc = r.loInc
        val out = mutable.ArrayBuffer.empty[KeyRange]
        cuts.foreach { c =>
          out += KeyRange(lo, loInc, Some(c), true)
          lo = Some(c); loInc = false
        }
        out += KeyRange(lo, loInc, r.hi, r.hiInc)
        out.toSeq
      }
    pieces.map(p => AccRangeSplit(tableName, p): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeRanges.isEmpty && runtimeConstraints.isEmpty) planned
    else {
      val rr =
        if (runtimeRanges.isEmpty) rowRanges
        else rowRanges.flatMap(a => runtimeRanges.flatMap(a.intersect))
      computePlanned(rr, constraints ++ runtimeConstraints)
    }

  override protected def rowCount: Option[Long] =
    Some(planned.map {
      case AccIndexSplit(_, ids) => ids.length.toLong
      case AccRangeSplit(_, r) =>
        var n = 0L
        val it = t.rows.keySet().iterator()
        while (it.hasNext) { if (r.contains(it.next())) n += 1 }
        n
    }.sum)

  private val families = t.columns.map(_.family).distinct.sorted.toArray

  // candidate rows visited (an index scan's count is its candidates,
  // not the table size), then data cells fetched per family — the
  // locality-group proof: an untouched group reads zero cells
  override protected def taskMetrics: Seq[(String, String)] =
    ("rowsMaterialized" -> "candidate rows examined") +:
      families.toSeq.map(f =>
        s"familyCells.$f" -> s"cells fetched from family $f")

  override protected def reader: StoreScan.Reader =
    AccScan.reader(required, constraints, rowRanges, families)
}

object AccScan {
  import AccStore._

  /** Slot 0 counts candidate rows; slot 1 + i the cells of
    * `families(i)`. */
  def reader(required: StructType, constraints: Seq[Constraint],
      rowRanges: Seq[KeyRange], families: Array[String])
      : StoreScan.Reader = (p, counts) => {
    val (tableName, candidates) = p match {
      case AccIndexSplit(n, ids) =>
        val t = AccStore.table(n)
        (n, ids.iterator.flatMap(k => Option(t.rows.get(k)).map(k -> _)))
      case AccRangeSplit(n, r) =>
        val t = AccStore.table(n)
        var sub: java.util.concurrent.ConcurrentNavigableMap[String, AccStore.AccRow] = t.rows
        r.lo.foreach(l => sub = sub.tailMap(l, r.loInc))
        r.hi.foreach(h => sub = sub.headMap(h, r.hiInc))
        (n, sub.entrySet().iterator().asScala
          .map(e => e.getKey -> e.getValue))
    }
    val t = AccStore.table(tableName)
    // families this task touches: required columns + constraint columns
    // (locality-group pruning — untouched groups read zero cells)
    val neededCols = (required.fieldNames.toSet ++
      constraints.map(_.col)) - t.rowIdCol
    val neededFams = neededCols.map(c => t.colByName(c).family).toArray
    val famSlots = neededFams.map(f => 1 + families.indexOf(f))

    // everything resolvable from the static scan description is
    // resolved ONCE per reader (constraint matchers, field accessors,
    // range check), and the counts are task-local slots
    def colValue(row: AccStore.AccRow, col: String): Any =
      if (col == t.rowIdCol) row.rowId
      else {
        val fam = t.colByName(col).family
        row.families.getOrElse(fam, Map.empty).get(col).orNull
      }

    def cmpFn(dt: DataType): (Any, Any) => Int = dt match {
      case StringType => (a, b) => a.toString.compareTo(b.toString)
      case LongType => (a, b) => java.lang.Long.compare(
        a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
      case DoubleType => (a, b) => java.lang.Double.compare(
        a.asInstanceOf[Number].doubleValue(),
        b.asInstanceOf[Number].doubleValue())
      case BooleanType => (a, b) => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case other => sys.error(s"graft-accumulo: bad type $other")
    }

    // the filter-iterator analog: re-apply every pushed constraint —
    // compiled to one closure per constraint
    val consFns: Array[AccStore.AccRow => Boolean] = constraints.map { c =>
      val cmp = cmpFn(t.colByName(c.col).dt)
      val name = c.col
      c.spec match {
        case NullSpec => (r: AccStore.AccRow) => colValue(r, name) == null
        case NotNullSpec => (r: AccStore.AccRow) => colValue(r, name) != null
        case ValuesIn(vs) => (r: AccStore.AccRow) => {
          val v = colValue(r, name)
          v != null && vs.exists(cmp(v, _) == 0)
        }
        case ValueRange(lo, loInc, hi, hiInc) => (r: AccStore.AccRow) => {
          val v = colValue(r, name)
          v != null &&
            lo.forall(l => { val d = cmp(v, l); d > 0 || (loInc && d == 0) }) &&
            hi.forall(h => { val d = cmp(v, h); d < 0 || (hiInc && d == 0) })
        }
      }
    }.toArray
    val fullRangeOnly = rowRanges == Seq(FullRange)

    def matches(k: String, row: AccStore.AccRow): Boolean = {
      if (!fullRangeOnly && !rowRanges.exists(_.contains(k))) return false
      var i = 0
      while (i < consFns.length) {
        if (!consFns(i)(row)) return false
        i += 1
      }
      true
    }

    // per-field accessor+converter, resolved once
    val fieldFns: Array[AccStore.AccRow => Any] = required.fields.map { f =>
      val get: AccStore.AccRow => Any =
        if (f.name == t.rowIdCol) r => r.rowId
        else {
          val fam = t.colByName(f.name).family
          val nm = f.name
          r => r.families.getOrElse(fam, Map.empty).get(nm).orNull
        }
      f.dataType match {
        case StringType => (r: AccStore.AccRow) => {
          val v = get(r)
          if (v == null) null else UTF8String.fromString(v.toString)
        }
        case LongType => (r: AccStore.AccRow) => {
          val v = get(r)
          if (v == null) null
          else java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
        }
        case DoubleType => (r: AccStore.AccRow) => {
          val v = get(r)
          if (v == null) null
          else java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())
        }
        case BooleanType => get
        case other => sys.error(s"graft-accumulo: bad type $other")
      }
    }

    candidates.filter { case (k, row) =>
      counts(0) += 1L
      matches(k, row)
    }.map { case (_, row) =>
      var i = 0
      while (i < neededFams.length) {
        counts(famSlots(i)) +=
          row.families.getOrElse(neededFams(i), Map.empty).size.toLong
        i += 1
      }
      val out = new Array[Any](fieldFns.length)
      i = 0
      while (i < fieldFns.length) { out(i) = fieldFns(i)(row); i += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
  }
}

/** `AccumuloPageSink` analog: rows become overwrite-by-key mutations
  * through the Indexer, so task retries are idempotent. */
class AccWriteBuilder(tableName: String, schema: StructType)
    extends WriteBuilder {

  override def build(): Write = new Write {
    val t = AccStore.table(tableName)
    // plan-time schema validation: row id present + types line up
    require(schema.fieldNames.contains(t.rowIdCol),
      s"graft-accumulo: write schema is missing row id '${t.rowIdCol}'")
    schema.fields.foreach { f =>
      val expected =
        if (f.name == t.rowIdCol) t.rowIdType
        else t.colByName.getOrElse(f.name,
          sys.error(s"graft-accumulo: unknown column '${f.name}'")).dt
      require(f.dataType == expected,
        s"graft-accumulo: column '${f.name}' is ${f.dataType.catalogString}, " +
          s"table has ${expected.catalogString}")
    }
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo)
          : DataWriterFactory = new AccWriterFactory(tableName, schema)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

class AccWriterFactory(tableName: String, schema: StructType)
    extends DataWriterFactory with Serializable {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    override def write(record: InternalRow): Unit = {
      val values = schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> (if (record.isNullAt(i)) null
        else f.dataType match {
          case StringType => record.getUTF8String(i).toString
          case LongType => java.lang.Long.valueOf(record.getLong(i))
          case DoubleType => java.lang.Double.valueOf(record.getDouble(i))
          case BooleanType => java.lang.Boolean.valueOf(record.getBoolean(i))
          case other => sys.error(s"graft-accumulo: bad type $other")
        })
      }.toMap
      AccStore.put(tableName, values)
    }
    override def commit(): WriterCommitMessage =
      new WriterCommitMessage {}
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
