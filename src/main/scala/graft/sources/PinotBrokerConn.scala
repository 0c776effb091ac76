package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownTopN}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Pinot-shaped OLAP connector — the Spark-native re-expression of
  * the reference's Pinot connector (`presto-pinot-toolkit/src/main/
  * java/com/facebook/presto/pinot/PinotSplitManager.java`), ninth
  * application of the documented in-process-substitution pattern, and
  * the one that carries the reference's WHOLE-QUERY-INTO-THE-STORE
  * mechanic: `PinotQueryGenerator` compiles a matching
  * filter/project/aggregate/limit/TopN subtree into one PQL query the
  * BROKER executes, and the split manager then plans a SINGLE
  * broker split (`generateSplitForBrokerBasedScan:63-66`, chosen at
  * `:189-192`) instead of per-segment scans.
  *
  * DOCUMENTED SUBSTITUTION: no Pinot cluster or client exists in this
  * zero-egress distribution, so the wire half is [[PinotStore]], a
  * JVM-wide store keeping Pinot's data organization — a table is a
  * list of sealed SEGMENTS, each assigned to a server by the routing
  * table. The connector layer stays Pinot-shaped:
  *
  *   - '''Two split modes''', exactly the reference's: a query whose
  *     aggregation / limit / TopN pushed plans ONE broker split (the
  *     broker answers the FINAL result — Spark's
  *     `supportCompletePushDown = true`, the opposite contract from
  *     the Druid analog's partial merge); a plain scan plans one split
  *     per segment from the routing table
  *     (`generateSplitsForSegmentBasedScan:68-123`).
  *   - '''Complete aggregate pushdown''': grouped
  *     count/count(col)/sum/min/max/avg over dimensions — note AVG is
  *     answered by the store as one number (`PinotAggregationProject
  *     Converter`'s statistical conversions), NOT decomposed into
  *     sum+count the way partial mode forces; Spark plans NO
  *     aggregate at all above the scan, and the suite locks that.
  *   - '''Limit / TopN push into the query''' like
  *     `PinotQueryGenerator.visitLimit/visitTopN` (`:460-476`): the
  *     sort AND the cap execute store-side, Spark plans no Sort; the
  *     reference's own rule that limit cannot push in segment mode
  *     (`:462-463`) holds — limit/TopN pushdown IS what flips the scan
  *     to broker mode.
  *   - '''Predicate pushdown''' (PQL WHERE): eq / IN / range / IS
  *     (NOT) NULL per column, applied before rows reach Spark;
  *     anything else residual.
  *
  * Read-only (Pinot ingests via its controller, not SQL INSERT);
  * population via [[PinotStore.ingest]] + [[PinotStore.seal]] — the
  * segment-build lifecycle.
  *
  * Scale stance: segment scans fan out one task per segment; pushed
  * aggregations/TopNs move only the FINAL result rows out of the
  * store — the broker fan-out to servers lives inside the store layer,
  * exactly where Pinot keeps it.
  */
object PinotStore {

  final case class ColumnDef(name: String, dt: DataType)

  final class Segment(val id: Int, val server: String) {
    private[sources] val rows = mutable.ArrayBuffer.empty[Seq[Any]]
    @volatile private[sources] var sealed_ = false
  }

  final class PinotTable(val name: String, val columns: Seq[ColumnDef],
      val servers: Int) {
    private[sources] val segments = mutable.ArrayBuffer.empty[Segment]
    private[sources] val colIdx: Map[String, Int] =
      columns.map(_.name).zipWithIndex.toMap
    def schema: StructType =
      StructType(columns.map(c => StructField(c.name, c.dt)))
  }

  private[graft] val tables = new ConcurrentHashMap[String, PinotTable]()

  def create(name: String, columns: Seq[(String, DataType)],
      servers: Int = 3): Unit = {
    columns.foreach { case (n, dt) =>
      require(dt == StringType || dt == LongType || dt == DoubleType ||
        dt == BooleanType,
        s"graft-pinot: unsupported type ${dt.catalogString} for '$n'")
    }
    require(servers > 0, "graft-pinot: servers must be > 0")
    tables.put(name, new PinotTable(name,
      columns.map { case (n, dt) => ColumnDef(n, dt) }, servers))
  }

  def drop(name: String): Unit = tables.remove(name)

  private[sources] def table(name: String): PinotTable = {
    val t = tables.get(name)
    require(t != null, s"graft-pinot: unknown table '$name'")
    t
  }

  /** Append a row to the open (unsealed) tail segment. */
  def ingest(name: String, values: Seq[Any]): Unit = {
    val t = table(name)
    require(values.length == t.columns.length,
      "graft-pinot: row arity mismatch")
    t.synchronized {
      val seg = t.segments.lastOption.filterNot(_.sealed_).getOrElse {
        val s = new Segment(t.segments.length,
          s"server-${t.segments.length % t.servers}")
        t.segments += s
        s
      }
      seg.rows += values
    }
  }

  /** Bulk ingest — the out-of-band segment-build path (the reference's
    * Pinot tables are loaded by offline segment jobs, not row-at-a-time
    * through the connector): appends the whole batch, sealing a segment
    * every `segmentRows` rows. Gates make ONE call per fixture. */
  def ingestBatch(name: String, rows: Seq[Seq[Any]],
      segmentRows: Int = 100): Unit = {
    require(segmentRows > 0, "graft-pinot: segmentRows must be > 0")
    var i = 0
    rows.foreach { r =>
      ingest(name, r)
      i += 1
      if (i % segmentRows == 0) seal(name)
    }
  }

  /** Seal the open segment — the segment-build step; the next ingest
    * opens a new one (and the routing table assigns its server). */
  def seal(name: String): Unit = {
    val t = table(name)
    t.synchronized(t.segments.lastOption.foreach(_.sealed_ = true))
  }

  def segmentCount(name: String): Int =
    table(name).synchronized(table(name).segments.length)

  // ---- the compiled query (the GeneratedPql analog) ----------------

  sealed trait PPred { def col: String }
  final case class PEq(col: String, v: Any) extends PPred
  final case class PIn(col: String, vs: Seq[Any]) extends PPred
  final case class PRange(col: String, lo: Option[Any], loInc: Boolean,
      hi: Option[Any], hiInc: Boolean) extends PPred
  final case class PNull(col: String, isNull: Boolean) extends PPred

  final case class PAgg(groupCols: Seq[String],
      aggs: Seq[(String, String, DataType)]) // (op, col|"", resultType)
  /** (column, ascending, nullsFirst) triples + the cap. */
  final case class PTopN(orders: Seq[(String, Boolean, Boolean)],
      limit: Int)

  final case class PinotQuery(preds: Seq[PPred],
      agg: Option[PAgg], topN: Option[PTopN], limit: Option[Int]) {
    def isBrokerQuery: Boolean =
      agg.isDefined || topN.isDefined || limit.isDefined
  }

  private[sources] def evalPred(t: PinotTable, values: Seq[Any],
      p: PPred): Boolean = {
    val v = values(t.colIdx(p.col))
    def cmp(a: Any, b: Any): Int = t.columns(t.colIdx(p.col)).dt match {
      case StringType => a.toString.compareTo(b.toString)
      case LongType => java.lang.Long.compare(
        a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
      case DoubleType => java.lang.Double.compare(
        a.asInstanceOf[Number].doubleValue(),
        b.asInstanceOf[Number].doubleValue())
      case BooleanType => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case other => sys.error(s"graft-pinot: bad type $other")
    }
    p match {
      case PNull(_, isNull) => (v == null) == isNull
      case PEq(_, x) => v != null && cmp(v, x) == 0
      case PIn(_, xs) => v != null && xs.exists(cmp(v, _) == 0)
      case PRange(_, lo, loInc, hi, hiInc) => v != null &&
        lo.forall(b => { val d = cmp(v, b); d > 0 || (loInc && d == 0) }) &&
        hi.forall(b => { val d = cmp(v, b); d < 0 || (hiInc && d == 0) })
    }
  }

  /** The broker: execute the whole compiled query over every segment
    * and return FINAL rows. This is the `PinotBrokerPageSource` —
    * the server fan-out happens inside the store, like Pinot. */
  private[sources] def brokerExecute(t: PinotTable, q: PinotQuery,
      required: StructType): Iterator[Seq[Any]] = {
    val all: Vector[Seq[Any]] = t.synchronized {
      t.segments.flatMap(_.rows).toVector
    }.filter(r => q.preds.forall(evalPred(t, r, _)))
    q.agg match {
      case Some(PAgg(groupCols, aggs)) =>
        val acc = mutable.LinkedHashMap.empty[Seq[Any], Array[Any]]
        all.foreach { r =>
          val key = groupCols.map(c => r(t.colIdx(c)))
          // slots: (sum-or-value, count) pairs packed per agg
          val slots = acc.getOrElseUpdate(key,
            Array.fill[Any](aggs.length * 2)(null))
          aggs.zipWithIndex.foreach { case ((op, col, dt), i) =>
            def cv: Any = if (col.isEmpty) null else r(t.colIdx(col))
            op match {
              case "count_star" =>
                slots(2 * i) = Option(slots(2 * i))
                  .map(_.asInstanceOf[Long]).getOrElse(0L) + 1L
              case "count" =>
                val inc = if (cv != null) 1L else 0L
                slots(2 * i) = Option(slots(2 * i))
                  .map(_.asInstanceOf[Long]).getOrElse(0L) + inc
              case "distinct_count" => if (cv != null) {
                // Pinot's DISTINCTCOUNT: an exact value set per group
                // (the segment-level set union the broker merges)
                val set = Option(slots(2 * i))
                  .map(_.asInstanceOf[mutable.HashSet[Any]])
                  .getOrElse { val s0 = mutable.HashSet.empty[Any]
                    slots(2 * i) = s0; s0 }
                set += cv
              }
              case "sum" => if (cv != null) {
                slots(2 * i) =
                  if (dt == LongType)
                    Option(slots(2 * i)).map(_.asInstanceOf[Long])
                      .getOrElse(0L) + cv.asInstanceOf[Number].longValue()
                  else
                    Option(slots(2 * i)).map(_.asInstanceOf[Double])
                      .getOrElse(0.0) + cv.asInstanceOf[Number].doubleValue()
              }
              case "avg" => if (cv != null) {
                slots(2 * i) = Option(slots(2 * i))
                  .map(_.asInstanceOf[Double]).getOrElse(0.0) +
                  cv.asInstanceOf[Number].doubleValue()
                slots(2 * i + 1) = Option(slots(2 * i + 1))
                  .map(_.asInstanceOf[Long]).getOrElse(0L) + 1L
              }
              case "min" | "max" => if (cv != null) {
                val better = Option(slots(2 * i)) match {
                  case None => true
                  case Some(prev) =>
                    val d = t.columns(t.colIdx(col)).dt match {
                      case LongType => java.lang.Long.compare(
                        cv.asInstanceOf[Number].longValue(),
                        prev.asInstanceOf[Number].longValue())
                      case _ => java.lang.Double.compare(
                        cv.asInstanceOf[Number].doubleValue(),
                        prev.asInstanceOf[Number].doubleValue())
                    }
                    if (op == "min") d < 0 else d > 0
                }
                if (better) slots(2 * i) = cv
              }
            }
          }
        }
        acc.iterator.map { case (key, slots) =>
          key ++ aggs.zipWithIndex.map { case ((op, _, _), i) =>
            op match {
              case "avg" =>
                if (slots(2 * i) == null) null
                else slots(2 * i).asInstanceOf[Double] /
                  slots(2 * i + 1).asInstanceOf[Long]
              case "count" | "count_star" =>
                Option(slots(2 * i)).getOrElse(0L)
              case "distinct_count" =>
                Option(slots(2 * i))
                  .map(_.asInstanceOf[mutable.HashSet[Any]].size.toLong)
                  .getOrElse(0L)
              case _ => slots(2 * i)
            }
          }
        }
      case None =>
        def project(r: Seq[Any]): Seq[Any] =
          required.fields.toSeq.map(f => r(t.colIdx(f.name)))
        q.topN match {
          case Some(PTopN(orders, limit)) =>
            // sort the RAW rows: the ORDER BY column need not be in the
            // SELECT list (the pruned schema), exactly like PQL
            val ord = new Ordering[Seq[Any]] {
              override def compare(a: Seq[Any], b: Seq[Any]): Int = {
                var i = 0
                while (i < orders.length) {
                  val (c, asc, nullsFirst) = orders(i)
                  val (x, y) = (a(t.colIdx(c)), b(t.colIdx(c)))
                  val d =
                    if (x == null && y == null) 0
                    else if (x == null) { if (nullsFirst) -1 else 1 }
                    else if (y == null) { if (nullsFirst) 1 else -1 }
                    else {
                      val raw = (x, y) match {
                        case (p: String, r: String) => p.compareTo(r)
                        case (p: Boolean, r: Boolean) =>
                          java.lang.Boolean.compare(p, r)
                        case (p: Number, r: Number) =>
                          java.lang.Double.compare(p.doubleValue(),
                            r.doubleValue())
                        case _ => x.toString.compareTo(y.toString)
                      }
                      if (asc) raw else -raw
                    }
                  if (d != 0) return d
                  i += 1
                }
                0
              }
            }
            all.sorted(ord).iterator.take(limit).map(project)
          case None => q.limit match {
            case Some(n) => all.iterator.take(n).map(project)
            case None => all.iterator.map(project)
          }
        }
    }
  }
}

class PinotBrokerProvider extends StoreProvider("graft-pinot") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new PinotBrokerTable(o)
}

class PinotBrokerTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-pinot.${options.get("table")}") {

  private val tableName = StoreTable.option(options, "graft-pinot", "table")

  override def schema(): StructType = PinotStore.table(tableName).schema

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new PinotScanBuilder(tableName)
}

/** The `PinotQueryGenerator` analog: compiles the pushed subtree into
  * a [[PinotStore.PinotQuery]]. Aggregation / limit / TopN pushing is
  * COMPLETE — the broker answers finals — and flips the split plan to
  * one broker split. */
class PinotScanBuilder(tableName: String)
    extends StoreScanBuilder[Seq[PinotStore.PPred]](
      PinotStore.table(tableName).schema)
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {

  import PinotStore._

  private val t = PinotStore.table(tableName)
  private var agg: Option[PAgg] = None
  private var topN: Option[PTopN] = None
  private var limit: Option[Int] = None

  private def isCol(a: String) = t.colIdx.contains(a)
  private def norm(col: String, v: Any): Any =
    (t.columns(t.colIdx(col)).dt, v) match {
      case (LongType, n: Number) => n.longValue()
      case (DoubleType, n: Number) => n.doubleValue()
      case (StringType, s) => s.toString
      case _ => v
    }

  override protected def compile(f: Filter): Option[Seq[PPred]] = f match {
    case EqualTo(a, v) if isCol(a) && v != null =>
      Some(Seq(PEq(a, norm(a, v))))
    case In(a, vs) if isCol(a) && vs.nonEmpty && !vs.contains(null) =>
      Some(Seq(PIn(a, vs.toSeq.map(norm(a, _)))))
    case GreaterThan(a, v) if isCol(a) && v != null =>
      Some(Seq(PRange(a, Some(norm(a, v)), false, None, false)))
    case GreaterThanOrEqual(a, v) if isCol(a) && v != null =>
      Some(Seq(PRange(a, Some(norm(a, v)), true, None, false)))
    case LessThan(a, v) if isCol(a) && v != null =>
      Some(Seq(PRange(a, None, false, Some(norm(a, v)), false)))
    case LessThanOrEqual(a, v) if isCol(a) && v != null =>
      Some(Seq(PRange(a, None, false, Some(norm(a, v)), true)))
    case IsNull(a) if isCol(a) => Some(Seq(PNull(a, true)))
    case IsNotNull(a) if isCol(a) => Some(Seq(PNull(a, false)))
    case And(l, r) =>
      (compile(l), compile(r)) match {
        case (Some(a), Some(b)) => Some(a ++ b)
        case _ => None
      }
    case _ => None
  }

  private def fieldOf(e: VExpression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  /** Complete pushdown — the broker returns finals (`:189-192` picks
    * the broker split whenever the PQL generator succeeded). */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    translate(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    translate(aggregation) match {
      case Some(p) =>
        agg = Some(p)
        required = StructType(
          p.groupCols.map(c =>
            StructField(c, t.columns(t.colIdx(c)).dt)) ++
            p.aggs.zipWithIndex.map { case ((op, f, dt), i) =>
              StructField(s"${op}_${if (f.isEmpty) "star" else f}_$i", dt)
            })
        true
      case None => false
    }

  private def translate(aggregation: Aggregation): Option[PAgg] = {
    val groups = aggregation.groupByExpressions().toSeq.map(fieldOf)
    if (groups.exists(g => g.isEmpty || !isCol(g.get))) return None
    def numeric(f: String): Boolean = {
      val dt = t.columns(t.colIdx(f)).dt
      dt == LongType || dt == DoubleType
    }
    val aggs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(("count_star", "", LongType))
      case c: Count if c.isDistinct =>
        // the reference compiles distinct counts store-side too:
        // `PinotAggregationProjectConverter` maps COUNT(DISTINCT x) /
        // approx_distinct(x) onto Pinot's DISTINCTCOUNT family — the
        // broker answers one final per group, raw values never leave
        fieldOf(c.column).filter(isCol)
          .map(f => ("distinct_count", f, LongType))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).filter(isCol).map(f => ("count", f, LongType))
      case s: Sum if !s.isDistinct =>
        fieldOf(s.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("sum", f, t.columns(t.colIdx(f)).dt))
      case a: Avg if !a.isDistinct =>
        fieldOf(a.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("avg", f, DoubleType))
      case m: Min =>
        fieldOf(m.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("min", f, t.columns(t.colIdx(f)).dt))
      case m: Max =>
        fieldOf(m.column).filter(f => isCol(f) && numeric(f))
          .map(f => ("max", f, t.columns(t.colIdx(f)).dt))
      case _ => None
    }
    if (aggs.exists(_.isEmpty)) None
    else Some(PAgg(groups.map(_.get), aggs.map(_.get)))
  }

  /** `visitLimit:460-463` — pushing the limit IS going broker mode. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  /** `visitTopN:470-476` — single-step TopN only, fully store-side. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val compiled = orders.toSeq.map { o =>
      fieldOf(o.expression()).filter(isCol).map { c =>
        (c, o.direction() == SortDirection.ASCENDING,
          o.nullOrdering() ==
            org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)
      }
    }
    if (compiled.exists(_.isEmpty)) false
    else {
      topN = Some(PTopN(compiled.map(_.get), n))
      true
    }
  }

  override def isPartiallyPushed(): Boolean = false // broker = complete

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (agg.isEmpty) required = requiredSchema

  override def build(): Scan =
    new PinotScan(tableName, PinotQuery(queries.flatten, agg, topN, limit),
      required, pushed)
}

/** The single whole-query split (`generateSplitForBrokerBasedScan`). */
final case class PinotBrokerSplit(table: String,
    query: PinotStore.PinotQuery) extends InputPartition
/** One split per segment from the routing table
  * (`generateSplitsForSegmentBasedScan`). */
final case class PinotSegmentSplit(table: String, segmentId: Int,
    server: String, query: PinotStore.PinotQuery) extends InputPartition

class PinotScan(tableName: String, query: PinotStore.PinotQuery,
    required: StructType, pushedFilters: Array[Filter])
    extends StoreScan(required, pushedFilters) {

  override protected def label: String =
    s"graft-pinot $tableName mode=" +
      (if (query.isBrokerQuery) "broker" else "segment")
  override protected def detail: String =
    s" PushedAggregation: ${query.agg.isDefined}" +
      s" PushedTopN: ${query.topN.isDefined}" +
      s" PushedLimit: ${query.limit.isDefined}"

  /** The `:189-192` choice: broker split when the query compiled. */
  override def planInputPartitions(): Array[InputPartition] = {
    val t = PinotStore.table(tableName)
    if (query.isBrokerQuery)
      Array(PinotBrokerSplit(tableName, query))
    else t.synchronized {
      t.segments.map(s => PinotSegmentSplit(tableName, s.id, s.server,
        query): InputPartition).toArray
    }
  }

  override protected def rowCount: Option[Long] = {
    val t = PinotStore.table(tableName)
    Some(t.synchronized(t.segments.map(_.rows.length.toLong).sum))
  }

  // rows that crossed the store->Spark boundary: for a pushed
  // aggregation, the RESULT rows — the broker-mode proof
  override protected def taskMetrics: Seq[(String, String)] =
    Seq("rowsReturned" -> "rows returned by the store")

  override protected def reader: StoreScan.Reader = PinotScan.reader(required)
}

object PinotScan {
  import PinotStore._

  def reader(required: StructType): StoreScan.Reader = (p, counts) => {
    val out: Iterator[Seq[Any]] = p match {
      case PinotBrokerSplit(name, q) =>
        val t = PinotStore.table(name)
        brokerExecute(t, q, required)
      case PinotSegmentSplit(name, segId, _, q) =>
        val t = PinotStore.table(name)
        val rows = t.synchronized(
          t.segments.find(_.id == segId).map(_.rows.toVector)
            .getOrElse(Vector.empty))
        rows.iterator
          .filter(r => q.preds.forall(evalPred(t, r, _)))
          .map(r => required.fields.toSeq.map(f => r(t.colIdx(f.name))))
    }
    out.map { cur =>
      counts(0) += 1
      InternalRow.fromSeq(cur.zip(required.fields.toSeq).map {
        case (null, _) => null
        case (v, f) => f.dataType match {
          case StringType => UTF8String.fromString(v.toString)
          case LongType => v.asInstanceOf[Number].longValue()
          case DoubleType => v.asInstanceOf[Number].doubleValue()
          case BooleanType => v.asInstanceOf[Boolean]
          case other => sys.error(s"graft-pinot: bad type $other")
        }
      })
    }
  }
}
