package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An atop-shaped host-monitoring connector — the Spark-native
  * re-expression of the reference's atop connector
  * (`presto-atop/src/main/java/com/facebook/presto/atop/
  * AtopConnectorFactory.java`), eleventh application of the documented
  * in-process-substitution pattern, and the one whose split model is
  * HOST × DAY: the reference plans one split per worker node per day
  * of retained history (`AtopSplitManager.java:68-84`), pins the split
  * to its node (atop's raw logs live on the host that wrote them), and
  * PRUNES whole days at planning when the query's start_time/end_time
  * constraint cannot overlap the day's domain (`:76-79` — the overlap
  * check this connector carries verbatim).
  *
  * DOCUMENTED SUBSTITUTION: there is no fleet of hosts running atop(1)
  * here, so the wire half is a JVM-wide log store keyed (host, epoch
  * day) holding raw atop-parseable lines. Everything above it keeps
  * the reference's contracts:
  *
  *   - '''Fixed tables from one label stream''' (`AtopTable.java:45-70`):
  *     `disks` parses DSK sample lines by FIELD INDEX — 1 host (short,
  *     unused: host_ip comes from the split), 2 end-epoch seconds,
  *     5 duration seconds, 6 device, 7 io millis, 8-11 the four
  *     request/sector counters; start_time = end − duration,
  *     utilization_percent = round(100·io/durationMs) capped at 100,
  *     io_millis surfaces the INTERVAL's millisecond payload
  *     (`AtopTable.java:56-58` writes the same long).
  *   - '''The RESET/SEP stream protocol''' (`AtopPageSource.java:132-156`):
  *     SEP lines skip; for `disks` a RESET drops the IMMEDIATELY
  *     FOLLOWING sample (the "since boot" duration outlier); for
  *     `reboots` ONLY the line after a RESET matters — power_on_time =
  *     its end − duration.
  *   - '''Host×day splits with planning-time day pruning''' and
  *     `preferredLocations` = the host (the reference's hard node
  *     affinity, advisory on a local cluster).
  *   - '''Residual filters''': the reference's engine re-applies the
  *     constraint on rows; the day pruning is the only thing the
  *     connector promises. All pushed filters stay residual here too.
  *
  * Scale stance: split count = hosts × retained days (the reference's
  * own fan-out: a 1000-host fleet at 30-day retention is 30k
  * independent splits); day pruning is planning-time metadata work;
  * each split parses one host-day log locally.
  */
object AtopLogStore {
  /** store name -> (host -> epochDay -> raw lines). */
  private val stores = new ConcurrentHashMap[String,
    ConcurrentHashMap[(String, Long), Vector[String]]]()

  def drop(store: String): Unit = stores.remove(store)

  private[sources] def clearAll(): Unit = stores.clear()

  def append(store: String, host: String, epochDay: Long,
      lines: Seq[String]): Unit = {
    val s = stores.computeIfAbsent(store,
      _ => new ConcurrentHashMap[(String, Long), Vector[String]]())
    s.merge((host, epochDay), lines.toVector, (a, b) => a ++ b)
  }

  private[sources] def hostDays(store: String): Seq[(String, Long)] = {
    val s = stores.get(store)
    require(s != null, s"graft-atop: unknown store '$store'")
    s.keySet().asScala.toSeq.sorted
  }

  private[sources] def lines(store: String, host: String,
      epochDay: Long): Vector[String] =
    Option(stores.get(store)).flatMap(s => Option(s.get((host, epochDay))))
      .getOrElse(Vector.empty)
}

object AtopTables {
  val Disks: StructType = StructType(Seq(
    StructField("host_ip", StringType, nullable = false),
    StructField("start_time", TimestampType, nullable = false),
    StructField("end_time", TimestampType, nullable = false),
    StructField("device_name", StringType, nullable = false),
    StructField("utilization_percent", DoubleType, nullable = false),
    StructField("io_millis", LongType, nullable = false),
    StructField("read_requests", LongType, nullable = false),
    StructField("sectors_read", LongType, nullable = false),
    StructField("write_requests", LongType, nullable = false),
    StructField("sectors_written", LongType, nullable = false)))

  val Reboots: StructType = StructType(Seq(
    StructField("host_ip", StringType, nullable = false),
    StructField("power_on_time", TimestampType, nullable = false)))

  def schemaOf(table: String): StructType = table match {
    case "disks" => Disks
    case "reboots" => Reboots
    case other => throw new IllegalArgumentException(
      s"graft-atop: unknown table '$other' (disks, reboots)")
  }
}

class AtopLogProvider extends StoreProvider("graft-atop") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new AtopLogTable(o)
}

class AtopLogTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-atop.${options.get("store")}." +
      options.get("table")) {

  private val store = {
    val s = options.get("store")
    require(s != null, "graft-atop requires option 'store'")
    s
  }
  private val tableName = options.get("table")

  override def schema(): StructType = AtopTables.schemaOf(tableName)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new AtopScanBuilder(store, tableName, schema(),
      Option(options.get("max_history_days")).map(_.toInt).getOrElse(30))
}

/** Records inclusive epoch-second (column, lo, hi) bounds for day
  * pruning; every filter stays residual (the reference's engine
  * re-filters rows too). */
class AtopScanBuilder(store: String, table: String, full: StructType,
    maxHistoryDays: Int)
    extends StoreScanBuilder[(String, Long, Long)](full) {

  private val timeCols = Set("start_time", "end_time", "power_on_time")

  override protected def exact: Boolean = false

  private def epochOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime / 1000)
    case i: java.time.Instant => Some(i.getEpochSecond)
    case _ => None
  }

  override protected def compile(f: Filter): Option[(String, Long, Long)] =
    f match {
      case EqualTo(c, v) if timeCols(c) => epochOf(v).map(e => (c, e, e))
      case GreaterThan(c, v) if timeCols(c) =>
        epochOf(v).map(e => (c, e, Long.MaxValue))
      case GreaterThanOrEqual(c, v) if timeCols(c) =>
        epochOf(v).map(e => (c, e, Long.MaxValue))
      case LessThan(c, v) if timeCols(c) =>
        epochOf(v).map(e => (c, Long.MinValue, e))
      case LessThanOrEqual(c, v) if timeCols(c) =>
        epochOf(v).map(e => (c, Long.MinValue, e))
      case _ => None
    }

  override def build(): Scan = {
    // the constraint on each time column, as one (lo, hi)
    val bounds = queries.groupMapReduce(_._1)(q => (q._2, q._3)) {
      case ((l0, h0), (l1, h1)) => (math.max(l0, l1), math.min(h0, h1))
    }
    new AtopScan(store, table, required, bounds, maxHistoryDays)
  }
}

final case class AtopSplit(store: String, table: String, host: String,
    epochDay: Long, columns: Seq[String]) extends InputPartition {
  // the reference pins the split to its host (`AtopSplit.getAddresses`)
  override def preferredLocations(): Array[String] = Array(host)
}

class AtopScan(store: String, table: String, required: StructType,
    bounds: Map[String, (Long, Long)], maxHistoryDays: Int)
    extends StoreScan(required) {

  override protected def label: String = s"graft-atop $table"
  override protected def detail: String =
    s" days<=$maxHistoryDays bounds=${bounds.keys.toSeq.sorted.mkString(",")}"

  /** The `AtopSplitManager.getSplits:68-84` loop: one split per
    * (host, retained day), kept only when the day's time domain
    * overlaps every recorded constraint — planning-time day pruning. */
  override def planInputPartitions(): Array[InputPartition] = {
    val all = AtopLogStore.hostDays(store)
    val maxDay = all.map(_._2).maxOption.getOrElse(0L)
    val minDay = maxDay - (maxHistoryDays - 1)
    all.filter { case (_, day) =>
      day >= minDay && {
        val dayLo = day * 86400L
        val dayHi = dayLo + 86399L // inclusive, the reference's 23:59:59
        // a row's start/end/power_on always falls inside its own day
        // domain, so every recorded bound must overlap [dayLo, dayHi]
        bounds.values.forall { case (lo, hi) => lo <= dayHi && hi >= dayLo }
      }
    }.map { case (host, day) =>
      AtopSplit(store, table, host, day, required.fieldNames.toSeq)
    }.toArray
  }

  override protected def reader: StoreScan.Reader = AtopScan.reader(required)
}

object AtopScan {
  def reader(required: StructType): StoreScan.Reader = (p, _) => {
    val split = p.asInstanceOf[AtopSplit]
    val raw = AtopLogStore.lines(split.store, split.host, split.epochDay)

    // the AtopPageSource.getNextPage stream protocol (:132-156)
    val samples: Vector[Vector[String]] = {
      val out = Vector.newBuilder[Vector[String]]
      var i = 0
      while (i < raw.length) {
        val row = raw(i)
        if (row == "SEP") { i += 1 }
        else if (row == "RESET") {
          if (split.table == "reboots") {
            if (i + 1 < raw.length) {
              out += raw(i + 1).split(' ').toVector
            }
            i += 2
          } else {
            // drop the sample right after a RESET: a "since boot"
            // duration outlier
            i += 2
          }
        } else {
          if (split.table != "reboots") out += row.split(' ').toVector
          i += 1
        }
      }
      out.result()
    }

    samples.iterator.map { f =>
      def epoch = f(2).toLong
      def dur = f(5).toLong
      def micros(sec: Long): Long = sec * 1000000L
      InternalRow.fromSeq(required.fieldNames.toSeq.map {
        case "host_ip" => UTF8String.fromString(split.host)
        case "start_time" => micros(epoch - dur)
        case "end_time" => micros(epoch)
        case "power_on_time" => micros(epoch - dur)
        case "device_name" => UTF8String.fromString(f(6))
        case "utilization_percent" =>
          // `AtopTable.java:47-55`: round(100·io/durationMs), cap 100
          val u = math.round(100.0 * f(7).toLong / (dur * 1000.0))
            .toDouble
          if (u > 100) 100.0 else u
        case "io_millis" => f(7).toLong
        case "read_requests" => f(8).toLong
        case "sectors_read" => f(9).toLong
        case "write_requests" => f(10).toLong
        case "sectors_written" => f(11).toLong
        case other => sys.error(s"graft-atop: unknown column $other")
      })
    }
  }
}
