package graft.sources

import java.lang.management.ManagementFactory
import java.util
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import javax.management.{MBeanAttributeInfo, ObjectName}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** JVM-introspection connector — the Spark-native re-expression of the
  * reference's jmx catalog (`presto-jmx/src/main/java/com/facebook/
  * presto/connector/jmx/JmxMetadata.java:73-76,124-167`,
  * `JmxRecordSetProvider.java:80-150`, `JmxHistoricalData.java`):
  * every MBean of the platform MBeanServer is a queryable table.
  *
  *   - Schema `current`: table name = the MBean ObjectName, lowercased,
  *     `*` wildcards allowed (`java.lang:type=garbagecollector,name=*`
  *     unions all matching beans). Columns: `node`, `object_name`, then
  *     the distinct readable attributes sorted by name — boolean
  *     attributes as BOOLEAN, integral as BIGINT, floating as DOUBLE,
  *     everything else rendered VARCHAR (arrays in `Arrays.toString`
  *     form, CompositeData via toString), exactly the reference's
  *     column typing (`JmxMetadata.java:264-290`).
  *   - Schema `history`: the same tables with a leading `timestamp`
  *     column, reading snapshots recorded by [[JmxConn.sample]] — the
  *     on-demand analog of the reference's `JmxPeriodicSampler`, which
  *     dumps configured tables on a fixed period into a bounded
  *     in-memory buffer. Our buffer keeps the newest
  *     [[JmxConn.MaxHistory]] snapshots per table, like the
  *     reference's `jmx.max-entries`.
  *
  * Wired in Sessions.local as `spark.sql.catalog.graft_jmx`, so:
  * {{{ SELECT node, uptime FROM graft_jmx.current.`java.lang:type=runtime` }}}
  *
  * Scale stance: attribute reads happen INSIDE the task (the split),
  * not at planning — the reference schedules one split per node and
  * each node reads its own MBeanServer. local[32] is one JVM, so the
  * plan has one split and `node` is the local JVM name; a cluster
  * deployment would plan one split per executor the same way the
  * reference fans one split per worker. Metadata (schema inference)
  * reads MBeanInfo only — names and types, no values.
  */
object JmxConn {
  val MaxHistory = 256

  private def server = ManagementFactory.getPlatformMBeanServer

  /** this JVM's node identity — pid@host, the runtime bean's name */
  def nodeId: String = ManagementFactory.getRuntimeMXBean.getName

  /** `JmxMetadata.toPattern`: literal unless `*` wildcards appear. */
  private[sources] def toPattern(tableName: String): Pattern = {
    val p =
      if (!tableName.contains("*")) Pattern.quote(tableName)
      else tableName.split("\\*", -1).map(Pattern.quote).mkString(".*")
    Pattern.compile(p)
  }

  private[sources] def matchNames(tableName: String): Seq[ObjectName] = {
    val pat = toPattern(tableName.toLowerCase(java.util.Locale.ENGLISH))
    server.queryNames(null, null).asScala.toSeq
      .filter(n => pat.matcher(
        n.getCanonicalName.toLowerCase(java.util.Locale.ENGLISH)).matches())
      .sortBy(_.getCanonicalName)
  }

  def listTableNames(): Seq[String] =
    server.queryNames(null, null).asScala.toSeq
      .map(_.getCanonicalName.toLowerCase(java.util.Locale.ENGLISH)).sorted

  /** `JmxMetadata.getColumnType`: boolean → BOOLEAN; fixed integrals →
    * BIGINT; floating (and the boxed Number supertype) → DOUBLE; all
    * other open types render as VARCHAR. */
  private[sources] def attrType(a: MBeanAttributeInfo): DataType =
    a.getType match {
      case "boolean" | "java.lang.Boolean" => BooleanType
      case "byte" | "java.lang.Byte" | "short" | "java.lang.Short" |
           "int" | "java.lang.Integer" | "long" | "java.lang.Long" =>
        LongType
      case "java.lang.Number" | "float" | "java.lang.Float" |
           "double" | "java.lang.Double" => DoubleType
      case _ => StringType
    }

  /** node, object_name, then distinct readable attributes sorted by
    * (lowercased) name — the deterministic cross-node column order the
    * reference sorts for (`JmxMetadata.java:144-148`). */
  private[sources] def schemaFor(names: Seq[ObjectName]): StructType = {
    val attrs = names.flatMap { n =>
      server.getMBeanInfo(n).getAttributes.toSeq
        .filter(_.isReadable)
        .map(a => (a.getName.toLowerCase(java.util.Locale.ENGLISH),
          attrType(a)))
    }.distinct.sortBy(_._1)
    StructType(
      StructField("node", StringType) ::
      StructField("object_name", StringType) ::
      attrs.map { case (n, t) => StructField(n, t) }.toList)
  }

  /** Render a non-scalar attribute the way the reference does
    * (`JmxRecordSetProvider.java:110-146`): primitive arrays and
    * Object[] in Arrays.toString form, everything else toString. */
  private def render(v: Any): String = v match {
    case a: Array[Boolean] => a.mkString("[", ", ", "]")
    case a: Array[Byte]    => a.mkString("[", ", ", "]")
    case a: Array[Char]    => a.mkString("[", ", ", "]")
    case a: Array[Double]  => a.mkString("[", ", ", "]")
    case a: Array[Float]   => a.mkString("[", ", ", "]")
    case a: Array[Int]     => a.mkString("[", ", ", "]")
    case a: Array[Long]    => a.mkString("[", ", ", "]")
    case a: Array[Short]   => a.mkString("[", ", ", "]")
    case a: Array[AnyRef]  => util.Arrays.toString(a)
    case other             => other.toString
  }

  /** One row per matched MBean: attribute fetch happens at call time
    * (in-task for `current`, at sample time for `history`). A throwing
    * or type-mismatched attribute reads NULL, like the reference. */
  private[sources] def rowsFor(tableName: String,
      schema: StructType): Seq[InternalRow] =
    matchNames(tableName).map { objName =>
      val info = server.getMBeanInfo(objName)
      val readable = info.getAttributes.filter(_.isReadable)
        .map(a => a.getName.toLowerCase(java.util.Locale.ENGLISH) -> a.getName)
        .toMap
      val vals: Array[Any] = schema.fields.map { f =>
        f.name match {
          case "node" => UTF8String.fromString(nodeId)
          case "object_name" => UTF8String.fromString(objName.getCanonicalName)
          case "timestamp" => null // filled by sample()
          case attr =>
            readable.get(attr).flatMap { orig =>
              val raw =
                try Option(server.getAttribute(objName, orig))
                catch { case _: Exception => None }
              raw.flatMap { v =>
                (f.dataType, v) match {
                  case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue())
                  case (LongType, n: Number) => Some(n.longValue())
                  case (DoubleType, n: Number) => Some(n.doubleValue())
                  case (StringType, other) =>
                    Some(UTF8String.fromString(render(other)))
                  case _ => None
                }
              }
            }.orNull
        }
      }
      new GenericInternalRow(vals)
    }

  // ——— history buffer (the JmxPeriodicSampler / JmxHistoricalData analog) ———

  private val history =
    new java.util.concurrent.ConcurrentHashMap[String, ArrayBuffer[(Long, Seq[InternalRow])]]()

  /** Record one snapshot of `tableName` (lowercased, wildcards allowed)
    * into the history buffer, stamped with the current epoch micros. */
  def sample(tableName: String): Unit = {
    val key = tableName.toLowerCase(java.util.Locale.ENGLISH)
    val snap = rowsFor(key, schemaFor(matchNames(key)))
    val ts = System.currentTimeMillis() * 1000L
    history.synchronized {
      val buf = history.computeIfAbsent(key, _ => ArrayBuffer.empty)
      buf += ((ts, snap))
      if (buf.length > MaxHistory) buf.remove(0, buf.length - MaxHistory)
    }
  }

  def clearHistory(tableName: String): Unit =
    history.remove(tableName.toLowerCase(java.util.Locale.ENGLISH))

  private[sources] def sampledTables: Seq[String] =
    history.keySet.asScala.toSeq.sorted

  /** History rows: timestamp prepended to each sampled snapshot row,
    * reprojected onto the CURRENT schema by column name (an MBean whose
    * attribute set changed reads NULL for columns absent at sample
    * time — the reference rebuilds the handle the same way). */
  private[sources] def historyRows(tableName: String,
      schema: StructType): Seq[InternalRow] = {
    val key = tableName.toLowerCase(java.util.Locale.ENGLISH)
    val buf = history.get(key)
    if (buf == null) Seq.empty
    else {
      val inner = schemaFor(matchNames(key))
      val idx = inner.fieldNames.zipWithIndex.toMap
      buf.toSeq.flatMap { case (ts, rows) =>
        rows.map { r =>
          val vals: Array[Any] = schema.fields.map { f =>
            if (f.name == "timestamp") ts
            else idx.get(f.name).map(i => r.get(i, inner(i).dataType)).orNull
          }
          new GenericInternalRow(vals)
        }
      }
    }
  }
}

/** TableCatalog face: `graft_jmx.current.<objectname>` /
  * `graft_jmx.history.<objectname>`. Read-only. */
class JmxCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName = "graft_jmx"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name

  override def name(): String = catalogName

  private def ro = new UnsupportedOperationException(
    s"$catalogName is a read-only introspection catalog")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    namespace match {
      case Array("current") =>
        JmxConn.listTableNames().map(Identifier.of(namespace, _)).toArray
      case Array("history") =>
        JmxConn.sampledTables.map(Identifier.of(namespace, _)).toArray
      case _ => throw new IllegalArgumentException(
        s"$catalogName: unknown schema ${namespace.mkString(".")}")
    }

  override def loadTable(ident: Identifier): Table = {
    val hist = ident.namespace() match {
      case Array("current") => false
      case Array("history") => true
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
    val names = JmxConn.matchNames(ident.name())
    if (names.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val base = JmxConn.schemaFor(names)
    val schema =
      if (hist) StructType(StructField("timestamp", TimestampType) +: base.fields)
      else base
    new JmxTable(ident.name().toLowerCase(java.util.Locale.ENGLISH), hist,
      schema)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = throw ro
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw ro
  override def dropTable(ident: Identifier): Boolean = throw ro
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw ro

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("current"), Array("history"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.sameElements(Array("current")) ||
      namespace.sameElements(Array("history"))
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    require(namespaceExists(namespace),
      s"$catalogName: unknown schema ${namespace.mkString(".")}")
    util.Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = throw ro
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = throw ro
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = throw ro
}

final case class JmxSplit(table: String, hist: Boolean) extends InputPartition

class JmxTable(table: String, hist: Boolean, schema0: StructType)
    extends StoreTable(
      s"graft_jmx.${if (hist) "history" else "current"}.$table") {
  override def schema(): StructType = schema0

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new JmxScan(table, hist, schema0)
}

class JmxScan(table: String, hist: Boolean, schema0: StructType)
    extends StoreScan(schema0) {
  override protected def label: String = s"graft-jmx $table"

  // One split: this JVM. A cluster build would plan one per executor
  // (the reference's one-split-per-node), each reading its own
  // MBeanServer inside the task.
  override def planInputPartitions(): Array[InputPartition] =
    Array(JmxSplit(table, hist))

  override protected def reader: StoreScan.Reader = JmxScan.reader(schema0)
}

object JmxScan {
  def reader(schema: StructType): StoreScan.Reader = (p, _) => {
    val s = p.asInstanceOf[JmxSplit]
    (if (s.hist) JmxConn.historyRows(s.table, schema)
    else JmxConn.rowsFor(s.table, schema)).iterator
  }
}
