package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.{Expression => VExpression}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder, SupportsPushDownAggregates}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Druid-shaped time-series OLAP connector — the Spark-native
  * re-expression of the reference's Druid connector
  * (`presto-druid/src/main/java/com/facebook/presto/druid/
  * DruidConnectorFactory.java`), sixth application of the documented
  * in-process-substitution pattern, and the one that carries the
  * reference's AGGREGATION-INTO-THE-STORE mechanic natively (not via
  * JDBC): `DruidPlanOptimizer` compiles matching aggregations to DQL
  * executed by the broker; here the same decision happens through
  * Spark's own `SupportsPushDownAggregates`.
  *
  * DOCUMENTED SUBSTITUTION: no Druid cluster or client exists in this
  * zero-egress distribution, so the wire half is [[DruidStore]], a
  * JVM-wide store that keeps Druid's actual data organization: a
  * datasource is a set of SEGMENTS keyed by time interval
  * (`__time`-floored at the ingest granularity), rows inside a segment
  * carrying dimension and metric columns. The connector layer stays
  * Druid-shaped:
  *
  *   - '''Segment splits''' mirror `DruidSplitManager.getSplits`
  *     (`:47-65`): a raw scan plans one split per segment
  *     (`getDataSegmentId` enumeration) — one task per segment on a
  *     cluster, the historical fan-out.
  *   - '''Time-interval segment PRUNING''': pushed `__time` bounds drop
  *     whole segments whose interval cannot intersect at PLANNING time
  *     — Druid's defining scan optimization; dimension equality/IN
  *     pushes into the per-segment row filter
  *     (`DruidFilterExpressionConverter`), everything else residual.
  *   - '''Aggregations execute store-side''' like the reference's
  *     broker split (`DruidSplit.SplitType.BROKER`,
  *     `DruidPlanOptimizer.java:163-175`): Spark pushes grouped
  *     count/sum/min/max via `SupportsPushDownAggregates`; each segment
  *     split answers with its PARTIAL per-group aggregates and Spark
  *     performs the final merge — exactly Druid's historicals-then-
  *     broker execution (`supportCompletePushDown = false` IS the
  *     broker-merge contract). Unsupported aggregate shapes simply
  *     don't push, like the reference's
  *     DRUID_PUSHDOWN_UNSUPPORTED_EXPRESSION fallback.
  *
  * Read-only; ingestion via [[DruidStore.ingest]] (Druid ingestion is a
  * batch-task system, an API surface, not a SQL INSERT).
  *
  * Scale stance: segments fan out one task each; a grouped aggregation
  * moves only (groups x segments) partial rows to the merge — never raw
  * rows; time pruning cuts the segment list before any task launches.
  */
object DruidStore {

  final case class DruidDef(granularityMs: Long,
      dims: Seq[String], metrics: Seq[(String, DataType)]) {
    def schema: StructType = StructType(
      StructField("__time", LongType) +:
        (dims.map(StructField(_, StringType)) ++
          metrics.map { case (m, dt) => StructField(m, dt) }))
  }

  final class Segment(val start: Long) {
    private[sources] val rows =
      mutable.ArrayBuffer.empty[(Long, Seq[String], Seq[Any])]
  }

  final case class Datasource(defn: DruidDef,
      segments: ConcurrentHashMap[Long, Segment])

  private[graft] val datasources =
    new ConcurrentHashMap[String, Datasource]()

  def create(name: String, granularityMs: Long, dims: Seq[String],
      metrics: Seq[(String, DataType)]): Unit = {
    require(granularityMs > 0, "graft-druid: granularity must be > 0")
    metrics.foreach { case (m, dt) =>
      require(dt == LongType || dt == DoubleType,
        s"graft-druid: metric '$m' must be bigint or double")
    }
    datasources.put(name, Datasource(DruidDef(granularityMs, dims, metrics),
      new ConcurrentHashMap[Long, Segment]()))
  }

  def drop(name: String): Unit = datasources.remove(name)

  private[sources] def datasource(name: String): Datasource = {
    val ds = datasources.get(name)
    require(ds != null, s"graft-druid: unknown datasource '$name'")
    ds
  }

  /** Ingest one row into its interval's segment (`__time` floored at
    * the granularity — Druid's segment assignment). */
  def ingest(name: String, tsMs: Long, dims: Seq[String],
      metrics: Seq[Any]): Unit = {
    val ds = datasource(name)
    require(dims.length == ds.defn.dims.length &&
      metrics.length == ds.defn.metrics.length,
      "graft-druid: row arity mismatch")
    val start = Math.floorDiv(tsMs, ds.defn.granularityMs) *
      ds.defn.granularityMs
    val seg = ds.segments.computeIfAbsent(start, new Segment(_))
    seg.synchronized { seg.rows += ((tsMs, dims, metrics)) }
  }

  /** Batch-indexing-task shape — Druid loads rows through indexing
    * tasks over batches, never row-at-a-time from a client loop; gate
    * fixtures load with ONE call. */
  def ingestBatch(name: String,
      rows: Seq[(Long, Seq[String], Seq[Any])]): Unit =
    rows.foreach { case (ts, dims, metrics) =>
      ingest(name, ts, dims, metrics)
    }

  def segmentCount(name: String): Int = datasource(name).segments.size()
}

class DruidSegmentProvider extends StoreProvider("graft-druid") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new DruidSegmentTable(o)
}

class DruidSegmentTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-druid.${options.get("datasource")}") {

  private val dsName =
    StoreTable.option(options, "graft-druid", "datasource")

  override def schema(): StructType = DruidStore.datasource(dsName).defn.schema

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new DruidScanBuilder(dsName)
}

/** The pushed per-segment work: a time window, dimension term filters,
  * and optionally a grouped aggregation answered segment-side. */
final case class DruidQuerySpec(
    tsLo: Long, tsHi: Long, // [tsLo, tsHi)
    dimEq: Seq[(String, Seq[String])], // dim -> allowed values
    agg: Option[DruidAggSpec]) extends Serializable

final case class DruidAggSpec(groupDims: Seq[String],
    aggs: Seq[(String, String, DataType)]) // (op, column|"", resultType)
    extends Serializable

/** Pushed filters compile to (tsLo, tsHi, dimension terms): `__time`
  * bounds narrow the window [tsLo, tsHi), dimension equalities become
  * term filters, and NOT NULL on `__time` or a dimension is always
  * true. */
class DruidScanBuilder(dsName: String)
    extends StoreScanBuilder[(Long, Long, Option[(String, Seq[String])])](
      DruidStore.datasource(dsName).defn.schema)
    with SupportsPushDownAggregates {

  private val defn = DruidStore.datasource(dsName).defn
  private var aggSpec: Option[DruidAggSpec] = None

  private def isDim(f: String) = defn.dims.contains(f)

  override protected def compile(f: Filter)
      : Option[(Long, Long, Option[(String, Seq[String])])] = f match {
    case GreaterThan("__time", v: Long) => Some((v + 1, Long.MaxValue, None))
    case GreaterThanOrEqual("__time", v: Long) => Some((v, Long.MaxValue, None))
    case LessThan("__time", v: Long) => Some((Long.MinValue, v, None))
    case LessThanOrEqual("__time", v: Long) =>
      Some((Long.MinValue, v + 1, None))
    case EqualTo(a, v) if isDim(a) && v != null =>
      Some((Long.MinValue, Long.MaxValue, Some((a, Seq(v.toString)))))
    case In(a, vs) if isDim(a) && vs.nonEmpty && !vs.contains(null) =>
      Some((Long.MinValue, Long.MaxValue, Some((a, vs.map(_.toString).toSeq))))
    case IsNotNull(a) if a == "__time" || isDim(a) => // never null
      Some((Long.MinValue, Long.MaxValue, None))
    case _ => None
  }

  /** The `DruidPlanOptimizer` decision: grouped count/sum/min/max over
    * dimensions pushes (each segment answers partially, Spark is the
    * merging broker); anything else stays a Spark aggregation. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def fieldOf(e: VExpression): Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val groups = aggregation.groupByExpressions().toSeq.map(fieldOf)
    if (groups.exists(g => g.isEmpty || !isDim(g.get))) return false
    val metricTypes = defn.metrics.toMap
    def metricOf(e: VExpression): Option[(String, DataType)] =
      fieldOf(e).flatMap(f => metricTypes.get(f).map(f -> _))
    val aggs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(("count_star", "", LongType))
      case c: Count if !c.isDistinct =>
        // count(col): non-null col count; dims and metrics both fine
        fieldOf(c.column).filter(f =>
          isDim(f) || metricTypes.contains(f) || f == "__time")
          .map(f => ("count", f, LongType))
      case s: Sum if !s.isDistinct =>
        metricOf(s.column).map { case (f, dt) => ("sum", f, dt) }
      case m: Min => metricOf(m.column).map { case (f, dt) => ("min", f, dt) }
      case m: Max => metricOf(m.column).map { case (f, dt) => ("max", f, dt) }
      case _ => None
    }
    if (aggs.exists(_.isEmpty)) return false
    aggSpec = Some(DruidAggSpec(groups.map(_.get), aggs.map(_.get)))
    // partial pushdown: Spark merges the per-segment groups — the
    // broker's job, kept in the engine
    required = StructType(
      aggSpec.get.groupDims.map(StructField(_, StringType)) ++
        aggSpec.get.aggs.zipWithIndex.map { case ((op, f, dt), i) =>
          StructField(s"${op}_${if (f.isEmpty) "star" else f}_$i", dt)
        })
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (aggSpec.isEmpty) required = requiredSchema

  override def build(): Scan =
    new DruidScan(dsName,
      DruidQuerySpec(queries.map(_._1).foldLeft(Long.MinValue)(math.max),
        queries.map(_._2).foldLeft(Long.MaxValue)(math.min),
        queries.flatMap(_._3), aggSpec), required, pushed)
}

final case class DruidSegmentSplit(ds: String, segmentStart: Long,
    spec: DruidQuerySpec) extends InputPartition

class DruidScan(dsName: String, spec: DruidQuerySpec,
    required: StructType, pushedFilters: Array[Filter])
    extends StoreScan(required, pushedFilters) {

  /** RUNTIME segment pruning (Spark's dynamic-pruning hook for DSv2,
    * SPARK-35779) — the time-dimension DPP every star-schema query
    * wants: a date-dim join's build-side `__time` values arrive as a
    * runtime In-filter, and only the segments whose interval holds at
    * least one of them are read. The static `__time`-bound pruning is
    * Druid's defining scan optimization; this is the same decision
    * deferred to execution, when the join has revealed WHICH times
    * matter. */
  @volatile private var runtimeTimes: Option[Seq[Long]] = None

  override protected def runtimeColumns: Seq[String] = Seq("__time")

  override def filter(filters: Array[Filter]): Unit =
    runtimeTimes = filters.collectFirst {
      case In("__time", vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Number]) =>
        vs.toSeq.map(_.asInstanceOf[Number].longValue())
      case EqualTo("__time", v: Number) => Seq(v.longValue())
    }

  override protected def label: String = s"graft-druid $dsName"
  override protected def detail: String =
    s" PushedAggregation: ${spec.agg.isDefined}"

  /** Segment pruning by time interval, then one split per survivor. */
  override def planInputPartitions(): Array[InputPartition] = {
    val ds = DruidStore.datasource(dsName)
    val g = ds.defn.granularityMs
    import scala.jdk.CollectionConverters._
    ds.segments.keySet().asScala.toSeq.sorted
      .filter(start => start < spec.tsHi && start + g > spec.tsLo)
      .filter(start => runtimeTimes.forall(_.exists(t =>
        t >= start && t < start + g)))
      .map(start => DruidSegmentSplit(dsName, start, spec): InputPartition)
      .toArray
  }

  override protected def rowCount: Option[Long] = {
    val ds = DruidStore.datasource(dsName)
    var rows = 0L
    planInputPartitions().foreach { p =>
      val seg = ds.segments.get(
        p.asInstanceOf[DruidSegmentSplit].segmentStart)
      if (seg != null) rows += seg.synchronized(seg.rows.length.toLong)
    }
    Some(rows)
  }

  // the proof that runtime filtering pruned the historical fan-out
  override protected def taskMetrics: Seq[(String, String)] =
    Seq("segmentsOpened" -> "segments opened")

  override protected def reader: StoreScan.Reader = DruidScan.reader(required)
}

object DruidScan {
  def reader(required: StructType): StoreScan.Reader = (p, counts) => {
    val DruidSegmentSplit(dsName, start, spec) =
      p.asInstanceOf[DruidSegmentSplit]
    counts(0) += 1
    val ds = DruidStore.datasource(dsName)
    val defn = ds.defn
    val seg = ds.segments.get(start)
    val dimIdx = defn.dims.zipWithIndex.toMap
    val metricIdx = defn.metrics.map(_._1).zipWithIndex.toMap

    val rows: Vector[(Long, Seq[String], Seq[Any])] =
      if (seg == null) Vector.empty
      else seg.synchronized(seg.rows.toVector).filter { case (ts, dims, _) =>
        ts >= spec.tsLo && ts < spec.tsHi &&
          spec.dimEq.forall { case (d, allowed) =>
            allowed.contains(dims(dimIdx(d)))
          }
      }

    val out: Iterator[Seq[Any]] = spec.agg match {
      case None =>
        rows.iterator.map { case (ts, dims, metrics) =>
          required.fields.toSeq.map { f =>
            if (f.name == "__time") ts
            else dimIdx.get(f.name).map(dims(_))
              .getOrElse(metrics(metricIdx(f.name)))
          }
        }
      case Some(DruidAggSpec(groupDims, aggs)) =>
        // per-segment partial aggregation — the historical's answer
        val acc = mutable.LinkedHashMap.empty[Seq[String], Array[Any]]
        rows.foreach { case (ts, dims, metrics) =>
          val key = groupDims.map(d => dims(dimIdx(d)))
          val slots = acc.getOrElseUpdate(key,
            Array.fill[Any](aggs.length)(null))
          aggs.zipWithIndex.foreach { case ((op, col, dt), i) =>
            def colVal: Any =
              if (col == "__time") ts
              else dimIdx.get(col).map(dims(_))
                .getOrElse(metrics(metricIdx(col)))
            op match {
              case "count_star" =>
                slots(i) = Option(slots(i)).map(_.asInstanceOf[Long])
                  .getOrElse(0L) + 1L
              case "count" =>
                if (colVal != null)
                  slots(i) = Option(slots(i)).map(_.asInstanceOf[Long])
                    .getOrElse(0L) + 1L
                else if (slots(i) == null) slots(i) = 0L
              case "sum" => if (colVal != null) {
                slots(i) =
                  if (dt == LongType)
                    Option(slots(i)).map(_.asInstanceOf[Long]).getOrElse(0L) +
                      colVal.asInstanceOf[Number].longValue()
                  else
                    Option(slots(i)).map(_.asInstanceOf[Double])
                      .getOrElse(0.0) +
                      colVal.asInstanceOf[Number].doubleValue()
              }
              case "min" => if (colVal != null) {
                val c = colVal.asInstanceOf[Number]
                slots(i) = Option(slots(i)) match {
                  case None => if (dt == LongType) c.longValue() else c.doubleValue()
                  case Some(prev) =>
                    if (dt == LongType)
                      math.min(prev.asInstanceOf[Long], c.longValue())
                    else math.min(prev.asInstanceOf[Double], c.doubleValue())
                }
              }
              case "max" => if (colVal != null) {
                val c = colVal.asInstanceOf[Number]
                slots(i) = Option(slots(i)) match {
                  case None => if (dt == LongType) c.longValue() else c.doubleValue()
                  case Some(prev) =>
                    if (dt == LongType)
                      math.max(prev.asInstanceOf[Long], c.longValue())
                    else math.max(prev.asInstanceOf[Double], c.doubleValue())
                }
              }
            }
          }
        }
        acc.iterator.map { case (key, slots) =>
          key.map(identity[Any]) ++ slots.toSeq
        }
    }

    out.map { cur =>
      InternalRow.fromSeq(cur.zip(required.fields.toSeq).map {
        case (null, _) => null
        case (v: String, _) => UTF8String.fromString(v)
        case (v, f) => f.dataType match {
          case LongType => v.asInstanceOf[Number].longValue()
          case DoubleType => v.asInstanceOf[Number].doubleValue()
          case StringType => UTF8String.fromString(v.toString)
          case other => sys.error(s"graft-druid: bad type $other")
        }
      })
    }
  }
}
