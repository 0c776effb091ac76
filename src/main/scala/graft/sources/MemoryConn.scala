package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An in-memory read/write connector — the Spark-native re-expression
  * of the reference's memory connector (`presto-memory/src/main/java/
  * com/facebook/presto/plugin/memory/MemoryConnectorFactory.java`,
  * `MemoryPagesStore.java`): named tables live as row pages in the
  * process, written through the DataSource V2 WRITE path (WriteBuilder
  * → BatchWrite → per-task DataWriter → driver-side commit, the same
  * two-phase shape a distributed sink uses) and read back as one
  * partition per committed task chunk.
  *
  * Spark surface:
  * {{{
  *   df.write.format("graft-memory").option("name", "t")
  *     .mode("append"|"overwrite").save()
  *   spark.read.format("graft-memory").option("name", "t").load()
  * }}}
  *
  * Scale stance (same as the reference's): a memory connector is a
  * small-table / fixture tool — the reference pins pages to worker
  * memory and fails beyond `max-data-per-node`; here rows travel in
  * commit messages to one JVM-wide store, honest for local mode and
  * for dimension-sized tables only. Fact-scale data belongs in the
  * parquet/ORC connectors.
  */
object MemoryConn {
  /** chunks of committed rows per table; schema pinned at first write */
  private[sources] val store =
    new ConcurrentHashMap[String, (StructType, ArrayBuffer[Array[InternalRow]])]()

  def drop(name: String): Unit = store.remove(name)

  private[sources] def commit(name: String, schema: StructType,
      chunks: Seq[Array[InternalRow]], truncate: Boolean): Unit =
    store.synchronized {
      val cur = store.get(name)
      if (cur != null && !truncate) {
        // names + types must line up; nullability may differ (a CREATEd
        // table's nullable columns accept a non-null INSERT projection)
        def shape(s: StructType) =
          s.fields.toSeq.map(f => (f.name, f.dataType.sql))
        require(shape(cur._1) == shape(schema),
          s"graft-memory: schema mismatch appending to '$name'")
        cur._2 ++= chunks
      } else {
        store.put(name, (schema, ArrayBuffer(chunks: _*)))
      }
    }
}

class MemoryTableProvider
    extends StoreProvider("graft-memory", externalSchema = true) {

  private def name(options: CaseInsensitiveStringMap): String =
    StoreTable.option(options, "graft-memory", "name")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = MemoryConn.store.get(name(options))
    require(t != null,
      s"graft-memory: table '${name(options)}' does not exist")
    t._1
  }

  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new MemoryTable(name(o), schema)
}

class MemoryTable(name: String, schema0: StructType)
    extends StoreTable(s"graft-memory.$name", TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE) with SupportsWrite {
  override def schema(): StructType = schema0

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new MemoryScan(name, schema0)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MemoryWriteBuilder(name, info.schema())
}

final case class MemoryChunk(chunk: Int) extends InputPartition

class MemoryScan(name: String, schema0: StructType) extends StoreScan(schema0) {
  override protected def label: String = s"graft-memory $name"

  // exact cardinality from the page store (the reference's memory
  // connector serves getTableStatistics the same way) — fixture-sized
  // tables then broadcast without ANALYZE
  override protected def rowCount: Option[Long] = {
    val t = MemoryConn.store.get(name)
    Some(if (t == null) 0L else t._2.map(_.length.toLong).sum)
  }
  override protected def rowBytes: Long =
    schema0.fields.map(f => f.dataType match {
      case org.apache.spark.sql.types.StringType => 20L
      case _ => 8L
    }).sum

  override def planInputPartitions(): Array[InputPartition] = {
    val t = MemoryConn.store.get(name)
    require(t != null, s"graft-memory: table '$name' does not exist")
    t._2.indices.map(MemoryChunk(_)).toArray[InputPartition]
  }

  override protected def reader: StoreScan.Reader = MemoryScan.reader(name)
}

/** Tasks look the chunk up in the JVM-wide store — local-mode /
  * same-JVM semantics, per the header. */
object MemoryScan {
  def reader(name: String): StoreScan.Reader = (p, _) =>
    MemoryConn.store.get(name)._2(p.asInstanceOf[MemoryChunk].chunk).iterator
}

class MemoryWriteBuilder(name: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new MemoryBatchWrite(name, schema,
      doTruncate)
  }
}

/** Task writers buffer copied rows; the driver-side commit installs all
  * chunks atomically (two-phase, abort discards). */
final case class MemoryCommit(rows: Array[Array[Byte]])
    extends WriterCommitMessage

class MemoryBatchWrite(name: String, schema: StructType, truncate: Boolean)
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new MemoryWriterFactory(schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(schema)
    val chunks = messages.toSeq.map { m =>
      m.asInstanceOf[MemoryCommit].rows.map { bytes =>
        val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(
          schema.length)
        row.pointTo(bytes, bytes.length)
        proj(row).copy(): InternalRow
      }
    }
    MemoryConn.commit(name, schema, chunks, truncate)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class MemoryWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = ArrayBuffer.empty[Array[Byte]]
      private val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(schema)
      override def write(record: InternalRow): Unit =
        buf += proj(record).copy().getBytes
      override def commit(): WriterCommitMessage = MemoryCommit(buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}
