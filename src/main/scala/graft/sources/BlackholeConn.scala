package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A benchmark black-hole connector — the Spark-native re-expression of
  * the reference's blackhole plugin (`presto-blackhole/src/main/java/com/
  * facebook/presto/plugin/blackhole/BlackHoleConnector.java:44-49`,
  * `BlackHolePageSourceProvider.java:87-151`, `BlackHolePageSink.java`):
  *
  *   - WRITES are discarded. The sink accepts any schema, counts rows
  *     per task, and the driver-side commit folds the counts into a
  *     JVM-wide per-name counter — the "measure the pipeline, not the
  *     sink" tool the reference uses for write benchmarking. At cluster
  *     scale the counters are per-task longs in commit messages; no row
  *     data ever moves to the driver.
  *   - READS generate synthetic rows, exactly the reference's recipe:
  *     `split_count` splits × `pages_per_split` pages × `rows_per_page`
  *     rows of ZERO values — numerics 0, boolean false, DATE/TIMESTAMP
  *     epoch, and variable-width columns `field_length` (default 16)
  *     bytes of '*' (byte 42; `BlackHolePageSourceProvider.java:90-92`).
  *     Each split is one Spark InputPartition, so `split_count` is the
  *     read parallelism knob just as it sizes the reference's split set.
  *
  * Spark surface:
  * {{{
  *   spark.read.format("graft-blackhole").schema(sch)
  *     .option("split_count", 4).option("pages_per_split", 3)
  *     .option("rows_per_page", 5).load()
  *   df.write.format("graft-blackhole").option("name", "sink")
  *     .mode("append").save()   // discards; BlackholeConn.rowsWritten("sink")
  * }}}
  *
  * `page_processing_delay` (a latency-injection test knob in the
  * reference) and `distributed_on` (bucketing hints for its node
  * partitioning) are accepted and ignored: Spark's AQE owns runtime
  * distribution, and injected sleeps have no place in a library path.
  */
object BlackholeConn {
  // per-sink totals are the sink's contents, not per-query telemetry
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  /** Total rows discarded into the named sink since JVM start. */
  def rowsWritten(name: String): Long = {
    val c = counters.get(name)
    if (c == null) 0L else c.get()
  }

  def reset(name: String): Unit = counters.remove(name)

  private[sources] def add(name: String, n: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(n)

  private[sources] def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | DateType | TimestampType |
         TimestampNTZType | StringType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The reference's createZeroBlock, one row: numerics 0, boolean
    * false, epoch dates, '*'-filled variable-width fields. */
  private[sources] def zeroRow(schema: StructType, fieldLength: Int): InternalRow = {
    val vals: Array[Any] = schema.fields.map { f =>
      f.dataType match {
        case ByteType                     => 0.toByte
        case ShortType                    => 0.toShort
        case IntegerType | DateType       => 0
        case LongType | TimestampType | TimestampNTZType => 0L
        case FloatType                    => 0f
        case DoubleType                   => 0d
        case BooleanType                  => false
        case d: DecimalType               => Decimal(BigDecimal(0), d.precision, d.scale)
        case StringType                   => UTF8String.fromString("*" * fieldLength)
        case BinaryType                   => Array.fill[Byte](fieldLength)(42)
        case other =>
          throw new IllegalArgumentException(
            s"graft-blackhole: unsupported type [$other]")
      }
    }
    new GenericInternalRow(vals)
  }
}

// A pure sink needs no schema; reads must supply one (the reference
// reads the created table's declared columns — Spark's analog is
// .schema() on the reader).
class BlackholeTableProvider
    extends StoreProvider("graft-blackhole", externalSchema = true) {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new BlackholeTable(schema, o)
}

class BlackholeTable(schema0: StructType, options: CaseInsensitiveStringMap)
    extends StoreTable("graft-blackhole", TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA) with SupportsWrite {

  private def intOpt(key: String, dflt: Int): Int = {
    val v = options.get(key)
    if (v == null) dflt else v.toInt
  }

  override def schema(): StructType = schema0

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    schema0.fields.foreach(f => require(BlackholeConn.supported(f.dataType),
      s"graft-blackhole: unsupported type [${f.dataType.simpleString}]"))
    () => new BlackholeScan(schema0,
      intOpt("split_count", 0), intOpt("pages_per_split", 0),
      intOpt("rows_per_page", 0), intOpt("field_length", 16))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // discard is discard
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new BlackholeBatchWrite(options.getOrDefault("name", "default"))
        // streaming discard sink: the stream-benchmark twin of the
        // batch path — per-epoch task counts fold into the same
        // per-sink counter
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new BlackholeStreamingWrite(
            options.getOrDefault("name", "default"))
      }
    }
}

final case class BlackholeSplit(id: Int) extends InputPartition

class BlackholeScan(schema0: StructType, splits: Int, pages: Int,
    rowsPerPage: Int, fieldLength: Int) extends StoreScan(schema0) {

  override protected def label: String = "graft-blackhole"
  override protected def detail: String =
    s" splits=$splits pages=$pages rows=$rowsPerPage"

  // synthetic tables know their exact cardinality — report it so join
  // planning sees the configured generation size
  override protected def rowCount: Option[Long] =
    Some(splits.toLong * pages * rowsPerPage)
  override protected def rowBytes: Long =
    schema0.fields.map(f => f.dataType match {
      case StringType | BinaryType => fieldLength.toLong
      case _ => 8L
    }).sum

  override def planInputPartitions(): Array[InputPartition] =
    (0 until splits).map(BlackholeSplit(_)).toArray[InputPartition]

  override protected def reader: StoreScan.Reader =
    BlackholeScan.reader(schema0, pages.toLong * rowsPerPage, fieldLength)
}

object BlackholeScan {
  def reader(schema: StructType, rowsPerSplit: Long,
      fieldLength: Int): StoreScan.Reader = (_, _) => {
    // one shared row, the reference's single reused zero Page
    val row = BlackholeConn.zeroRow(schema, fieldLength)
    new Iterator[InternalRow] {
      private var i = 0L
      override def hasNext: Boolean = i < rowsPerSplit
      override def next(): InternalRow = { i += 1; row }
    }
  }
}

final case class BlackholeCommit(rows: Long) extends WriterCommitMessage

class BlackholeBatchWrite(name: String) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new BlackholeWriterFactory
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    BlackholeConn.add(name,
      messages.map(_.asInstanceOf[BlackholeCommit].rows).sum)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class BlackholeStreamingWrite(name: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StreamingDataWriterFactory with Serializable {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new DataWriter[InternalRow] {
          private var n = 0L
          override def write(record: InternalRow): Unit = n += 1
          override def commit(): WriterCommitMessage = BlackholeCommit(n)
          override def abort(): Unit = ()
          override def close(): Unit = ()
        }
    }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    BlackholeConn.add(name,
      messages.map(_.asInstanceOf[BlackholeCommit].rows).sum)
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

class BlackholeWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var n = 0L
      override def write(record: InternalRow): Unit = n += 1
      override def commit(): WriterCommitMessage = BlackholeCommit(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
