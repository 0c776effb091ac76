package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DataSource V2 plumbing every in-process connector shares — the
  * engine half of the reference's Connector SPI, where a connector
  * supplies only its splits and a page source (`ConnectorSplitManager`,
  * `ConnectorPageSource`) and the engine owns the scan operator and its
  * statistics.
  *
  * A connector supplies: a [[StoreProvider]] naming its table, a
  * [[StoreTable]] with its schema, a [[StoreScanBuilder]] whose
  * `compile` maps one Spark filter onto the store's query surface, and
  * a [[StoreScan]] with its splits and a row reader. Everything else —
  * option checks, capabilities, column pruning, absorbed-vs-residual
  * filter bookkeeping, description, statistics, the runtime-filtering
  * hook and the scan metrics — lives here once.
  *
  * Scan metrics are scoped to one execution, so queries that overlap
  * never mix their counts: each reader keeps task-local counts
  * reported through `currentMetricsValues`, counts gathered while
  * planning go through `reportDriverMetrics`, and Spark sums them onto
  * the `BatchScan` node, where `EXPLAIN ANALYZE` and
  * [[StoreScan.metric]] read them.
  */
abstract class StoreProvider(connector: String,
    externalSchema: Boolean = false)
    extends TableProvider with DataSourceRegister {

  /** The connector's table; `schema` is the caller's when the provider
    * accepts an external schema, else the inferred one. */
  protected def open(options: CaseInsensitiveStringMap,
      schema: StructType): Table

  override def shortName(): String = connector
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    open(options, new StructType()).schema()
  override def supportsExternalMetadata(): Boolean = externalSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    open(new CaseInsensitiveStringMap(properties), schema)
}

/** Table boilerplate: the name, and batch read plus any `extra`
  * capabilities (writes, streaming). */
abstract class StoreTable(tableName: String, extra: TableCapability*)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ)
    extra.foreach(caps.add)
    caps
  }
}

object StoreTable {
  /** A required connector option, failing loudly with the connector's
    * name when it is missing. */
  def option(options: CaseInsensitiveStringMap, connector: String,
      key: String): String = {
    val v = options.get(key)
    require(v != null && v.nonEmpty, s"$connector requires option '$key'")
    v
  }
}

/** Column pruning plus filter bookkeeping. A connector maps one filter
  * onto its store's query surface `Q` (or declines it); compiled
  * filters are absorbed — the store answers them exactly and Spark
  * plans no re-filter — unless `exact` is false, in which case they
  * only prune and every filter stays residual. */
abstract class StoreScanBuilder[Q](full: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  protected var required: StructType = full
  protected var queries: Seq[Q] = Seq.empty
  protected var pushed: Array[Filter] = Array.empty

  protected def compile(f: Filter): Option[Q]
  protected def exact: Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val compiled = filters.map(f => f -> compile(f))
    queries = compiled.toSeq.flatMap(_._2)
    if (!exact) filters
    else {
      pushed = compiled.collect { case (f, Some(_)) => f }
      compiled.collect { case (f, None) => f }
    }
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
}

/** The scan half: a connector supplies `planInputPartitions` and a
  * [[StoreScan.Reader]]; it may declare metrics, an exact row count,
  * and the columns Spark's dynamic pruning (SPARK-35779) may hand
  * runtime join-key values for. */
abstract class StoreScan(required: StructType,
    pushed: Array[Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  /** Connector and table: the head of the description. */
  protected def label: String
  /** Connector-specific description between the filters and columns. */
  protected def detail: String = ""
  /** Reads one split into rows; must capture nothing unserializable. */
  protected def reader: StoreScan.Reader
  /** (name, description) of the per-reader counts, in slot order. */
  protected def taskMetrics: Seq[(String, String)] = Nil
  /** (name, description, value) of counts gathered while planning. */
  protected def driverMetrics: Seq[(String, String, Long)] = Nil
  /** The store's exact row count for this scan, when it knows it. */
  protected def rowCount: Option[Long] = None
  protected def rowBytes: Long = 128L
  protected def runtimeColumns: Seq[String] = Nil

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"$label PushedFilters: [${pushed.mkString(", ")}]$detail cols=" +
      required.fieldNames.mkString(",")

  override def estimateStatistics(): Statistics = {
    val rows = rowCount
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(r =>
          java.util.OptionalLong.of(r * math.max(1L, rowBytes)))
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }
  }

  override def filterAttributes(): Array[NamedReference] =
    runtimeColumns.map(Expressions.column).toArray
  /** Receives runtime In/EqualTo values on `runtimeColumns` before the
    * splits are planned. Pruning only: the join re-applies exact
    * semantics. */
  override def filter(filters: Array[Filter]): Unit = ()

  override def supportedCustomMetrics(): Array[CustomMetric] =
    (taskMetrics ++ driverMetrics.map(m => (m._1, m._2))).map {
      case (n, d) => new StoreMetric(n, d): CustomMetric
    }.toArray
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    driverMetrics.map { case (n, _, v) => StoreScan.count(n, v) }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new StoreReaderFactory(taskMetrics.map(_._1).toArray, reader)
}

object StoreScan {
  /** One split into rows, bumping one task-local slot per declared
    * task metric. */
  type Reader = (InputPartition, Array[Long]) => Iterator[InternalRow]

  private[sources] def count(metric: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metric
      override def value(): Long = v
    }

  private val plans = new AdaptiveSparkPlanHelper {}

  /** A scan metric of `df`'s own execution, summed over its BatchScan
    * nodes (through AQE stages). Read it after an action on `df`
    * itself: derived Datasets (`count()`, `head()`) execute other
    * plans. Fails when no scan declares the metric, so a misspelt
    * name cannot read as zero. */
  def metric(df: DataFrame, name: String): Long = {
    val found = plans.collect(df.queryExecution.executedPlan) {
      case s: BatchScanExec if s.metrics.contains(name) =>
        s.metrics(name).value
    }
    require(found.nonEmpty, s"no scan in the plan reports metric '$name'")
    found.sum
  }
}

/** A count summed over tasks. Spark re-creates the class by reflection
  * to format the total, hence the no-argument constructor. */
class StoreMetric(metricName: String, desc: String) extends CustomSumMetric {
  def this() = this("", "")
  override def name(): String = metricName
  override def description(): String = desc
}

class StoreReaderFactory(metrics: Array[String], reader: StoreScan.Reader)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val counts = new Array[Long](metrics.length)
    new StoreReader(metrics, reader(p, counts), counts)
  }
}

private final class StoreReader(metrics: Array[String],
    rows: Iterator[InternalRow], counts: Array[Long])
    extends PartitionReader[InternalRow] {
  private var row: InternalRow = _
  override def next(): Boolean =
    rows.hasNext && { row = rows.next(); true }
  override def get(): InternalRow = row
  override def close(): Unit = rows match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    metrics.indices.map(i => StoreScan.count(metrics(i), counts(i))).toArray
  // Spark hands a task's later readers the earlier ones' totals
  override def initMetricsValues(prior: Array[CustomTaskMetric]): Unit =
    prior.foreach { m =>
      val i = metrics.indexOf(m.name())
      if (i >= 0) counts(i) += m.value()
    }
}
