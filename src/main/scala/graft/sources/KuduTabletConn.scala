package graft.sources

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Kudu-shaped tablet-store connector — the Spark-native
  * re-expression of the reference's Kudu connector
  * (`presto-kudu/src/main/java/com/facebook/presto/kudu/
  * KuduConnectorFactory.java`), eighth application of the documented
  * in-process-substitution pattern.
  *
  * DOCUMENTED SUBSTITUTION: no Kudu server or client jar exists in
  * this zero-egress distribution, so the tablet-server half is
  * replaced by [[KuduStore]], a JVM-wide registry that keeps Kudu's
  * actual data organization: a table is a grid of TABLETS — one per
  * (hash-bucket, range-partition) pair — each holding its rows SORTED
  * by primary key. EVERYTHING above the RPC stays
  * Kudu-connector-shaped:
  *
  *   - '''Scan-token split model''' mirrors
  *     `KuduClientSession.buildKuduSplits` (`:150-193`): planning asks
  *     the store for scan tokens and gets ONE SPLIT PER SURVIVING
  *     TABLET — Kudu's own tablet pruning applies first: equality (or
  *     IN, bounded) predicates over ALL columns of a hash level prune
  *     to those buckets, and range predicates on the range column
  *     prune whole range partitions. The suite locks both prunings by
  *     split count.
  *   - '''Predicate pushdown''' carries the
  *     `KuduClientSession.addConstraintPredicates` surface
  *     (`:468-532`): eq / IN-list / gt / ge / lt / le / IS NULL /
  *     IS NOT NULL per column, translated one filter to one
  *     `KuduPredicate` analog and evaluated at the tablet (rows are
  *     filtered before they reach Spark; a contradictory predicate
  *     returns zero splits, `:159-161`). Anything else stays a
  *     residual Spark filter.
  *   - '''Column projection''' pushes like
  *     `builder.setProjectedColumnIndexes` (`:164-186`): the tablet
  *     materializes only requested columns.
  *   - '''Writes are UPSERTS by primary key'''
  *     (`KuduPageSink.java:109` — `table.newUpsert()`): task retries
  *     are idempotent. Primary-key columns are the FIRST columns of
  *     the schema, non-nullable (Kudu's schema rule); a NULL key or a
  *     row whose range-column value lands outside every defined range
  *     partition is rejected loudly — Kudu's non-covered-range error.
  *   - '''Online range-partition management''' per
  *     `KuduClientSession.addRangePartition`/`dropRangePartition`
  *     (`:336-346`): new range partitions add tablets to the grid;
  *     dropping one discards its rows (Kudu semantics).
  *
  * The bucket hash is a documented stand-in (MurmurHash3 over the
  * encoded key columns rather than Kudu's murmur2) — the CONTRACT
  * (deterministic value→bucket routing, equality pruning) is what the
  * connector layer exercises.
  *
  * Scale stance: the in-process store stands in for the tablet
  * servers; the connector layer — tablet-grid scan tokens, two-level
  * partition pruning, tablet-side predicate + projection, idempotent
  * upserts — is the real contract and fans out one task per tablet on
  * a cluster.
  */
object KuduStore {

  final case class ColumnDef(name: String, dt: DataType,
      nullable: Boolean)
  /** One range partition [lo, hi) over the range column; None = open. */
  final case class RangePart(lo: Option[Long], hi: Option[Long]) {
    def covers(v: Long): Boolean =
      lo.forall(v >= _) && hi.forall(v < _)
    /** Intersection with an INCLUSIVE query interval [qLo, qHi]. */
    def intersects(qLo: Option[Long], qHi: Option[Long]): Boolean =
      qLo.forall(l => hi.forall(l < _)) && qHi.forall(h => lo.forall(h >= _))
  }

  private def encode(v: Any): String = v match {
    case null => sys.error("graft-kudu: NULL in a key column")
    case s: String => s
    case l: Long =>
      val u = l ^ Long.MinValue
      val s = java.lang.Long.toUnsignedString(u)
      "0" * (20 - s.length) + s
    case b: Boolean => if (b) "1" else "0"
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  final class KuduTable(
      val name: String,
      val columns: Seq[ColumnDef],
      val pkCount: Int,
      val hashCols: Seq[String],
      val hashBuckets: Int,
      val rangeCol: Option[String]) {

    // tablet grid: (bucket, rangePartition) -> pk-sorted rows
    private[sources] val tablets =
      new ConcurrentHashMap[(Int, RangePart), ConcurrentSkipListMap[String, Seq[Any]]]()
    @volatile private[sources] var ranges: Vector[RangePart] =
      Vector(RangePart(None, None))

    private[sources] val colIdx: Map[String, Int] =
      columns.map(_.name).zipWithIndex.toMap

    private[sources] def bucketOf(values: Seq[Any]): Int =
      KuduStore.bucketIdOf(hashCols.map(c => values(colIdx(c))),
        hashBuckets)

    private[sources] def pkOf(values: Seq[Any]): String =
      (0 until pkCount).map(i => encode(values(i))).mkString("\u0000")
  }

  /** The hash-bucket arithmetic, shared by row placement AND the
    * catalog's `bucket` V2 function (SPJ consistency: partition-key
    * values a split reports must equal what the function computes). */
  def bucketIdOf(vs: Seq[Any], n: Int): Int = {
    val key = vs.map(encode).mkString("\u0000")
    (MurmurHash3.stringHash(key) & Int.MaxValue) % n
  }
  def bucketIdOf(v: Any, n: Int): Int = bucketIdOf(Seq(v), n)

  private[graft] val tables = new ConcurrentHashMap[String, KuduTable]()

  def create(name: String, columns: Seq[(String, DataType, Boolean)],
      pkCount: Int, hashCols: Seq[String], hashBuckets: Int,
      rangeCol: Option[String] = None,
      rangeBounds: Seq[(Option[Long], Option[Long])] = Seq.empty): Unit = {
    require(pkCount > 0 && pkCount <= columns.size,
      "graft-kudu: primary key must be a non-empty column prefix")
    columns.take(pkCount).foreach { case (n, _, nullable) =>
      require(!nullable, s"graft-kudu: key column '$n' must be NOT NULL")
    }
    columns.foreach { case (n, dt, _) =>
      require(dt == StringType || dt == LongType || dt == DoubleType ||
        dt == BooleanType,
        s"graft-kudu: unsupported type ${dt.catalogString} for '$n'")
    }
    val pkNames = columns.take(pkCount).map(_._1)
    hashCols.foreach(c => require(pkNames.contains(c),
      s"graft-kudu: hash column '$c' must be part of the primary key"))
    require(hashBuckets >= 1, "graft-kudu: hash buckets must be >= 1")
    rangeCol.foreach { c =>
      require(pkNames.contains(c),
        s"graft-kudu: range column '$c' must be part of the primary key")
      require(columns.find(_._1 == c).get._2 == LongType,
        "graft-kudu: range column must be bigint")
    }
    val t = new KuduTable(name,
      columns.map { case (n, dt, nl) => ColumnDef(n, dt, nl) },
      pkCount, hashCols, hashBuckets, rangeCol)
    if (rangeCol.isDefined && rangeBounds.nonEmpty)
      t.ranges = rangeBounds.map { case (lo, hi) => RangePart(lo, hi) }
        .toVector
    tables.put(name, t)
  }

  def drop(name: String): Unit = tables.remove(name)

  private[sources] def table(name: String): KuduTable = {
    val t = tables.get(name)
    require(t != null, s"graft-kudu: unknown table '$name'")
    t
  }

  /** `KuduClientSession.addRangePartition:336` — new tablets appear
    * online, one per hash bucket. */
  def addRangePartition(name: String, lo: Option[Long],
      hi: Option[Long]): Unit = {
    val t = table(name)
    require(t.rangeCol.isDefined,
      "graft-kudu: table has no range partitioning")
    val p = RangePart(lo, hi)
    t.synchronized {
      require(!t.ranges.exists(r => r.intersects(lo, hi.map(_ - 1))),
        s"graft-kudu: range partition overlaps an existing one")
      t.ranges :+= p
    }
  }

  /** `dropRangePartition:342` — Kudu discards the partition's rows. */
  def dropRangePartition(name: String, lo: Option[Long],
      hi: Option[Long]): Unit = {
    val t = table(name)
    val p = RangePart(lo, hi)
    t.synchronized {
      require(t.ranges.contains(p),
        s"graft-kudu: no such range partition [$lo, $hi)")
      t.ranges = t.ranges.filterNot(_ == p)
      (0 until t.hashBuckets).foreach(b => t.tablets.remove((b, p)))
    }
  }

  /** The `KuduPageSink` upsert: route to the covering tablet, put by
    * primary key. */
  def upsert(name: String, values: Seq[Any]): Unit = {
    val t = table(name)
    t.columns.zipWithIndex.foreach { case (c, i) =>
      if (!c.nullable) require(values(i) != null,
        s"graft-kudu: NULL in non-nullable column '${c.name}'")
    }
    val range = t.rangeCol match {
      case None => t.ranges.head
      case Some(rc) =>
        val v = values(t.colIdx(rc)).asInstanceOf[Number].longValue()
        t.ranges.find(_.covers(v)).getOrElse(sys.error(
          s"graft-kudu: row value $v for '$rc' does not belong to any " +
            "currently defined range partition (non-covered range)"))
    }
    val tablet = t.tablets.computeIfAbsent((t.bucketOf(values), range),
      _ => new ConcurrentSkipListMap[String, Seq[Any]]())
    tablet.put(t.pkOf(values), values)
  }

  // ---- the KuduPredicate surface -----------------------------------

  sealed trait Pred { def col: String }
  final case class EqPred(col: String, v: Any) extends Pred
  final case class InPred(col: String, vs: Seq[Any]) extends Pred
  final case class CmpPred(col: String, lo: Option[Any], loInc: Boolean,
      hi: Option[Any], hiInc: Boolean) extends Pred
  final case class NullPred(col: String, isNull: Boolean) extends Pred
}

class KuduTabletProvider extends StoreProvider("graft-kudu") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new KuduTabletTable(o)
}

class KuduTabletTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-kudu.${options.get("table")}",
      TableCapability.BATCH_WRITE) with SupportsWrite {

  private val tableName = StoreTable.option(options, "graft-kudu", "table")
  // set by KuduCatalog.loadTable: only catalog-loaded scans can have
  // their reported partitioning honored (V2ScanPartitioning resolves
  // the bucket transform through the owning catalog; bare format()
  // reads carry no catalog, so theirs is always dropped)
  private val viaCatalog = options.getBoolean("via-catalog", false)

  override def schema(): StructType =
    StructType(KuduStore.table(tableName).columns.map(c =>
      StructField(c.name, c.dt, c.nullable)))

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new KuduScanBuilder(tableName, schema(), viaCatalog)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KuduWriteBuilder(tableName, info.schema())
}

/** `addConstraintPredicates:468-532`: one Spark filter to one
  * KuduPredicate analog; non-translatable filters stay residual. */
class KuduScanBuilder(tableName: String, full: StructType,
    viaCatalog: Boolean = false)
    extends StoreScanBuilder[Seq[KuduStore.Pred]](full) {

  import KuduStore._

  private val t = KuduStore.table(tableName)

  private def isCol(a: String) = t.colIdx.contains(a)

  private def norm(col: String, v: Any): Any =
    (t.columns(t.colIdx(col)).dt, v) match {
      case (LongType, n: Number) => n.longValue()
      case (DoubleType, n: Number) => n.doubleValue()
      case (StringType, s) => s.toString
      case _ => v
    }

  override protected def compile(f: Filter): Option[Seq[Pred]] = f match {
    case EqualTo(a, v) if isCol(a) && v != null =>
      Some(Seq(EqPred(a, norm(a, v))))
    case In(a, vs) if isCol(a) && vs.nonEmpty && !vs.contains(null) =>
      Some(Seq(InPred(a, vs.toSeq.map(norm(a, _)))))
    case GreaterThan(a, v) if isCol(a) && v != null =>
      Some(Seq(CmpPred(a, Some(norm(a, v)), false, None, false)))
    case GreaterThanOrEqual(a, v) if isCol(a) && v != null =>
      Some(Seq(CmpPred(a, Some(norm(a, v)), true, None, false)))
    case LessThan(a, v) if isCol(a) && v != null =>
      Some(Seq(CmpPred(a, None, false, Some(norm(a, v)), false)))
    case LessThanOrEqual(a, v) if isCol(a) && v != null =>
      Some(Seq(CmpPred(a, None, false, Some(norm(a, v)), true)))
    case IsNull(a) if isCol(a) => Some(Seq(NullPred(a, true)))
    case IsNotNull(a) if isCol(a) => Some(Seq(NullPred(a, false)))
    case And(l, r) =>
      (compile(l), compile(r)) match {
        case (Some(a), Some(b)) => Some(a ++ b)
        case _ => None
      }
    case _ => None
  }

  override def build(): Scan =
    new KuduScan(tableName, queries.flatten, required, pushed, viaCatalog)
}

/** One scan token = one surviving tablet (`buildKuduSplits:188-193`).
  * Carries its hash-bucket id as the partition key so a scan that
  * reports KeyGroupedPartitioning can group splits per bucket. */
final case class KuduTokenSplit(table: String, bucket: Int,
    rangeLo: Option[Long], rangeHi: Option[Long]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

class KuduScan(tableName: String, preds: Seq[KuduStore.Pred],
    required: StructType, pushedFilters: Array[Filter],
    viaCatalog: Boolean = false)
    extends StoreScan(required, pushedFilters)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  import KuduStore._

  private val t = KuduStore.table(tableName)

  override protected def label: String = s"graft-kudu $tableName"

  /** STORAGE-PARTITIONED JOIN support (SPARK-37375): when the table is
    * a pure hash grid (single full range partition), every split IS one
    * bucket, so the scan reports `KeyGroupedPartitioning(bucket(n,
    * hashCols), #splits)` and each split carries its bucket id as the
    * partition key. Two co-bucketed tables then join with ZERO
    * exchange — the shuffle-free co-located join (activated by
    * `spark.sql.sources.v2.bucketing.enabled`; the transform resolves
    * through [[KuduCatalog.loadFunction]], so only catalog-loaded
    * scans participate). Range-partitioned grids would need per-key
    * split grouping — reported as unknown for now. */
  private def spjEligible: Boolean =
    viaCatalog && t.hashCols.nonEmpty && t.ranges.size == 1 &&
      t.ranges.head == RangePart(None, None)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning._
    import org.apache.spark.sql.connector.expressions.Expressions
    if (spjEligible)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(t.hashBuckets, t.hashCols: _*)),
        planned.length)
    else new UnknownPartitioning(planned.length)
  }

  /** RUNTIME tablet pruning (Spark's dynamic-pruning hook for DSv2,
    * SPARK-35779): the build side's key values prune hash buckets and
    * range partitions exactly like planning-time predicates — the
    * dynamic counterpart of Kudu's scan-token pruning (a selective dim
    * join touches only the tablets holding matching keys, decided at
    * execution). */
  @volatile private var runtimePreds: Seq[Pred] = Seq.empty

  override protected def runtimeColumns: Seq[String] =
    (t.hashCols ++ t.rangeCol.toSeq).distinct

  override def filter(filters: Array[Filter]): Unit =
    runtimePreds = filters.toSeq.flatMap {
      case In(c, vs) if vs.nonEmpty => Some(InPred(c, vs.toSeq))
      case EqualTo(c, v) => Some(EqPred(c, v))
      case _ => None
    }

  /** Tablet pruning, Kudu's planning half: hash levels prune when
    * every hash column carries a bounded value set; range partitions
    * prune against range-column bounds. */
  private def computePlanned(ps: Seq[Pred]): Array[InputPartition] = {
    // bounded value sets per column from eq/in predicates
    val valueSets: Map[String, Seq[Seq[Any]]] =
      ps.collect {
        case EqPred(c, v) => c -> Seq(v)
        case InPred(c, vs) => c -> vs
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // a contradictory eq pair (a=1 AND a=2) -> zero splits (`:159-161`)
    val perCol: Map[String, Option[Seq[Any]]] =
      valueSets.view.mapValues { sets =>
        val inter = sets.reduceLeft((a, b) => a.filter(b.contains))
        if (inter.isEmpty) None else Some(inter)
      }.toMap
    if (perCol.values.exists(_.isEmpty)) Array.empty
    else {
      val buckets: Seq[Int] =
        if (t.hashCols.nonEmpty && t.hashCols.forall(perCol.contains)) {
          // cartesian product of the hash columns' value sets
          val combos = t.hashCols.foldLeft(Seq(Seq.empty[Any])) {
            (acc, c) => acc.flatMap(p => perCol(c).get.map(p :+ _))
          }
          if (combos.size > 64) 0 until t.hashBuckets // too wide: no prune
          else combos.map { combo =>
            val values = t.columns.map(c =>
              t.hashCols.indexOf(c.name) match {
                case -1 => null
                case i => combo(i)
              })
            t.bucketOf(values)
          }.distinct.sorted
        }
        else 0 until t.hashBuckets
      val (qLo, qHi) = t.rangeCol match {
        case None => (None, None)
        case Some(rc) =>
          var lo: Option[Long] = None; var hi: Option[Long] = None
          ps.foreach {
            case EqPred(`rc`, v) =>
              val x = v.asInstanceOf[Number].longValue()
              lo = Some(lo.fold(x)(math.max(_, x)))
              hi = Some(hi.fold(x)(math.min(_, x)))
            case CmpPred(`rc`, l, lInc, h, hInc) =>
              l.foreach { b =>
                val x = b.asInstanceOf[Number].longValue() +
                  (if (lInc) 0 else 1)
                lo = Some(lo.fold(x)(math.max(_, x)))
              }
              h.foreach { b =>
                val x = b.asInstanceOf[Number].longValue() +
                  (if (hInc) 0 else -1)
                hi = Some(hi.fold(x)(math.min(_, x)))
              }
            case _ => ()
          }
          (lo, hi)
      }
      val survivingRanges = t.ranges.filter(_.intersects(qLo, qHi))
      (for {
        b <- buckets
        r <- survivingRanges
      } yield KuduTokenSplit(tableName, b, r.lo, r.hi): InputPartition)
        .toArray
    }
  }

  // stats report the STATIC plan (runtime filters arrive later);
  // execution re-plans with whatever runtime values Spark handed over
  private lazy val planned: Array[InputPartition] = computePlanned(preds)

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimePreds.isEmpty) planned
    else if (spjEligible)
      // a catalog-loaded SPJ-layout scan may have had its reported
      // KeyGroupedPartitioning honored — runtime In-filters must then
      // NOT drop whole-bucket splits or Spark's post-runtime-filter
      // partitioning check fails ("output partitioning changed").
      // Forgo the split prune; the join re-applies exact semantics.
      // Bare format() reads (viaCatalog=false) keep full pruning —
      // their reported partitioning is always dropped by Spark.
      planned
    else computePlanned(preds ++ runtimePreds)

  override protected def rowCount: Option[Long] =
    Some(planned.map {
      case KuduTokenSplit(_, b, lo, hi) =>
        val tab = t.tablets.get((b, RangePart(lo, hi)))
        if (tab == null) 0L else tab.size.toLong
    }.sum)

  // predicate evaluation is tablet-side, so a pruned scan counts its
  // tablets' rows, never the table's
  override protected def taskMetrics: Seq[(String, String)] =
    Seq("rowsScanned" -> "tablet rows scanned")

  override protected def reader: StoreScan.Reader =
    KuduScan.reader(required, preds)
}

object KuduScan {
  import KuduStore._

  def reader(required: StructType, preds: Seq[Pred]): StoreScan.Reader =
    (p, counts) => {
      val KuduTokenSplit(name, bucket, lo, hi) =
        p.asInstanceOf[KuduTokenSplit]
      val t = KuduStore.table(name)
      val tablet = t.tablets.get((bucket, RangePart(lo, hi)))
      val rows: Iterator[Seq[Any]] =
        if (tablet == null) Iterator.empty
        else tablet.values().iterator().asScala

      def cmp(col: String, a: Any, b: Any): Int =
        t.columns(t.colIdx(col)).dt match {
          case StringType => a.toString.compareTo(b.toString)
          case LongType => java.lang.Long.compare(
            a.asInstanceOf[Number].longValue(),
            b.asInstanceOf[Number].longValue())
          case DoubleType => java.lang.Double.compare(
            a.asInstanceOf[Number].doubleValue(),
            b.asInstanceOf[Number].doubleValue())
          case BooleanType => java.lang.Boolean.compare(
            a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
          case other => sys.error(s"graft-kudu: bad type $other")
        }

      // the tablet-side KuduPredicate evaluation
      def matches(values: Seq[Any]): Boolean = preds.forall { pr =>
        val v = values(t.colIdx(pr.col))
        pr match {
          case NullPred(_, isNull) => (v == null) == isNull
          case EqPred(c, x) => v != null && cmp(c, v, x) == 0
          case InPred(c, xs) => v != null && xs.exists(cmp(c, v, _) == 0)
          case CmpPred(c, l, lInc, h, hInc) => v != null &&
            l.forall(b => { val d = cmp(c, v, b); d > 0 || (lInc && d == 0) }) &&
            h.forall(b => { val d = cmp(c, v, b); d < 0 || (hInc && d == 0) })
        }
      }

      rows.filter { values =>
        counts(0) += 1
        matches(values)
      }.map { values =>
        InternalRow.fromSeq(required.fields.toSeq.map { f =>
          val v = values(t.colIdx(f.name))
          if (v == null) null
          else f.dataType match {
            case StringType => UTF8String.fromString(v.toString)
            case LongType => v.asInstanceOf[Number].longValue()
            case DoubleType => v.asInstanceOf[Number].doubleValue()
            case BooleanType => v.asInstanceOf[Boolean]
            case other => sys.error(s"graft-kudu: bad type $other")
          }
        })
      }
    }
}

/** `KuduPageSink`: every row becomes an upsert by primary key. */
class KuduWriteBuilder(tableName: String, schema: StructType)
    extends WriteBuilder {

  override def build(): Write = new Write {
    val t = KuduStore.table(tableName)
    require(schema.fieldNames.toSeq == t.columns.map(_.name),
      s"graft-kudu: write schema ${schema.fieldNames.mkString(",")} " +
        s"must match table columns ${t.columns.map(_.name).mkString(",")}")
    schema.fields.zip(t.columns).foreach { case (f, c) =>
      require(f.dataType == c.dt,
        s"graft-kudu: column '${f.name}' is ${f.dataType.catalogString}, " +
          s"table has ${c.dt.catalogString}")
    }
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo)
          : DataWriterFactory = new KuduWriterFactory(tableName, schema)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

class KuduWriterFactory(tableName: String, schema: StructType)
    extends DataWriterFactory with Serializable {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    override def write(record: InternalRow): Unit = {
      val values: Seq[Any] = schema.fields.toSeq.zipWithIndex.map {
        case (f, i) =>
          if (record.isNullAt(i)) null
          else f.dataType match {
            case StringType => record.getUTF8String(i).toString
            case LongType => java.lang.Long.valueOf(record.getLong(i))
            case DoubleType => java.lang.Double.valueOf(record.getDouble(i))
            case BooleanType => java.lang.Boolean.valueOf(record.getBoolean(i))
            case other => sys.error(s"graft-kudu: bad type $other")
          }
      }
      KuduStore.upsert(tableName, values)
    }
    override def commit(): WriterCommitMessage =
      new WriterCommitMessage {}
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
