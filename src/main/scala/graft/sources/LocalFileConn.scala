package graft.sources

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Local log-file connector — the Spark-native re-expression of the
  * reference's local-file plugin (`presto-local-file/src/main/java/com/
  * facebook/presto/localfile/LocalFileTables.java:113-133`,
  * `LocalFileRecordCursor.java:68-71,300-345`): a directory of
  * (optionally gzipped) HTTP request logs as the `http_request_log`
  * table.
  *
  * Format, verbatim from the cursor: one record per line, TAB-separated
  * trimmed fields, timestamps ISO-8601 with offset; a missing or empty
  * trailing field reads NULL. Columns (`HttpRequestLogTable.COLUMNS`):
  * server_address (the reading node, not in the file), timestamp,
  * client_address, method, request_uri, user, agent, response_code,
  * request_size, response_size, time_to_last_byte, trace_token.
  *
  * Scale/pushdown shape: one InputPartition per file (the reference
  * schedules per-node splits over each node's own log directory — on a
  * Spark cluster the same files-as-splits listing distributes over
  * executors). Timestamp predicates push into the SCAN as file-level
  * pruning: log files rotate in time order, so a file whose FIRST
  * record is already past a pushed upper bound is skipped wholesale.
  * The reference goes further and drops any file whose first record
  * fails the predicate (`readFields`' newReader check) — that loses
  * in-range rows of straddling files; we prune only provably-excluded
  * files and report the filters as residual so Spark re-applies them
  * row-level (correctness-preserving refinement, noted in SURVEY).
  */
object LocalFileConn {
  val Iso: DateTimeFormatter = DateTimeFormatter.ISO_OFFSET_DATE_TIME

  val schema: StructType = StructType(Seq(
    StructField("server_address", StringType),
    StructField("timestamp", TimestampType),
    StructField("client_address", StringType),
    StructField("method", StringType),
    StructField("request_uri", StringType),
    StructField("user", StringType),
    StructField("agent", StringType),
    StructField("response_code", LongType),
    StructField("request_size", LongType),
    StructField("response_size", LongType),
    StructField("time_to_last_byte", LongType),
    StructField("trace_token", StringType)))

  /** GZIP sniff, the `isGZipped` magic check. */
  private[sources] def open(path: String): BufferedReader = {
    val fis = new FileInputStream(path)
    val in =
      if (fis.markSupported()) fis else new java.io.BufferedInputStream(fis)
    in.mark(2)
    val b0 = in.read(); val b1 = in.read()
    in.reset()
    val stream =
      if ((b0 | (b1 << 8)) == GZIPInputStream.GZIP_MAGIC) new GZIPInputStream(in)
      else in
    new BufferedReader(new InputStreamReader(stream, StandardCharsets.UTF_8))
  }

  private[sources] def epochMicros(iso: String): Long = {
    val odt = OffsetDateTime.parse(iso, Iso)
    odt.toInstant.getEpochSecond * 1000000L + odt.getNano / 1000L
  }

  /** First record's timestamp micros, or None for an empty/blank file. */
  private[sources] def firstTimestamp(path: String): Option[Long] = {
    val r = open(path)
    try {
      Iterator.continually(r.readLine()).takeWhile(_ != null)
        .find(_.trim.nonEmpty)
        .map(l => epochMicros(l.split("\t", -1)(0).trim))
    } finally r.close()
  }

  /** One line → InternalRow: TAB split, trimmed, short rows NULL-pad —
    * `LocalFileRecordCursor.getFieldValue` returns null past the last
    * field; empty strings read NULL likewise. */
  private[sources] def parse(line: String, node: String): InternalRow = {
    val f = line.split("\t", -1).map(_.trim)
    def s(i: Int): Any =
      if (i >= f.length || f(i).isEmpty) null else UTF8String.fromString(f(i))
    def l(i: Int): Any =
      if (i >= f.length || f(i).isEmpty) null else f(i).toLong
    val ts: Any =
      if (f.length < 1 || f(0).isEmpty) null else epochMicros(f(0))
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(node), ts, s(1), s(2), s(3), s(4), s(5),
      l(6), l(7), l(8), l(9), s(10)))
  }
}

class LocalFileTableProvider extends StoreProvider("graft-localfile") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new LocalFileTable(o)
}

class LocalFileTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-localfile.${options.get("dir")}") {
  private val dir = {
    val d = options.get("dir")
    require(d != null, "graft-localfile requires option 'dir'")
    d
  }
  private val pattern = options.getOrDefault("pattern", "*")

  override def schema(): StructType = LocalFileConn.schema

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LocalFileScanBuilder(dir, pattern)
}

/** Accepts timestamp bounds for file-level pruning; EVERYTHING stays
  * residual so Spark still filters row-level. Rows are parsed whole,
  * so columns are not pruned. */
class LocalFileScanBuilder(dir: String, pattern: String)
    extends StoreScanBuilder[Filter](LocalFileConn.schema) {

  override protected def exact: Boolean = false

  override protected def compile(f: Filter): Option[Filter] = f match {
    case GreaterThan("timestamp", _) | GreaterThanOrEqual("timestamp", _) |
         LessThan("timestamp", _) | LessThanOrEqual("timestamp", _) => Some(f)
    case _ => None
  }

  override def pruneColumns(requiredSchema: StructType): Unit = ()

  override def build(): Scan =
    new LocalFileScan(dir, pattern, queries.toArray)
}

final case class LocalFileSplit(path: String) extends InputPartition

class LocalFileScan(dir: String, pattern: String, pruning: Array[Filter])
    extends StoreScan(LocalFileConn.schema) {

  override protected def label: String = s"graft-localfile $dir"
  override protected def detail: String =
    s" pruning=[${pruning.mkString(", ")}]"

  private def tsMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case other => throw new IllegalArgumentException(other.getClass.getName)
  }

  /** Upper bound from the pushed timestamp predicates, if any. */
  private def upperBound: Option[Long] = {
    val ubs = pruning.collect {
      case LessThan("timestamp", v) => tsMicros(v)
      case LessThanOrEqual("timestamp", v) => tsMicros(v)
    }
    if (ubs.isEmpty) None else Some(ubs.min)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"graft-localfile: '$dir' is not a directory")
    val rx = java.util.regex.Pattern.compile(
      pattern.split("\\*", -1).map(java.util.regex.Pattern.quote)
        .mkString(".*"))
    val files = d.listFiles().toSeq
      .filter(f => f.isFile && rx.matcher(f.getName).matches())
      .sortBy(_.getName)
    // rotation-ordered pruning: drop files whose first record is past
    // the pushed upper bound (every later record is too — time-ascending
    // log append). Lower-bound-only files keep: rows may straddle.
    val kept = upperBound match {
      case None => files
      case Some(ub) => files.filter(f =>
        LocalFileConn.firstTimestamp(f.getAbsolutePath).forall(_ <= ub))
    }
    kept.map(f => LocalFileSplit(f.getAbsolutePath)).toArray[InputPartition]
  }

  override protected def reader: StoreScan.Reader = LocalFileScan.reader
}

object LocalFileScan {
  val reader: StoreScan.Reader = (p, _) => {
    val path = p.asInstanceOf[LocalFileSplit].path
    val node = JmxConn.nodeId
    new Iterator[InternalRow] with AutoCloseable {
      private val in = LocalFileConn.open(path)
      private var line = advance()
      private def advance(): String = {
        var l = in.readLine()
        while (l != null && l.trim.isEmpty) l = in.readLine()
        l
      }
      override def hasNext: Boolean = line != null
      override def next(): InternalRow = {
        val row = LocalFileConn.parse(line, node)
        line = advance()
        row
      }
      override def close(): Unit = in.close()
    }
  }
}
