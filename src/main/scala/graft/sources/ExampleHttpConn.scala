package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An example-http-shaped connector — the Spark-native re-expression
  * of the reference's tutorial connector
  * (`presto-example-http/src/main/java/com/facebook/presto/example/
  * ExampleConnectorFactory.java`), twelfth application of the
  * documented in-process-substitution pattern, and the reference's own
  * teaching model for "a table is just documents on a web server":
  *
  *   - '''Catalog FROM a fetched document''' (`ExampleClient.java:83-104`):
  *     the whole catalog — schemas → tables → columns → source URIs —
  *     is one JSON document at `metadata-uri` (`ExampleConfig.java:32`),
  *     fetched and MEMOIZED (`Suppliers.memoize`, `:54`) — each scan
  *     reports its document fetches (`fetches` in tasks,
  *     `metadataFetches` while planning) and the suite locks that no
  *     scan re-fetches the metadata of its table handle.
  *   - '''One split per source URI''' (`ExampleSplitManager.java:60-64`):
  *     a table's data is N separate documents; each becomes one split.
  *     The reference shuffles the split list to spread load across
  *     workers — kept here with a DETERMINISTIC seed (table name) so
  *     plans replay; the set, not the order, is the contract.
  *   - '''A table removed between metadata and planning fails loudly'''
  *     (`:58` — "Table %s.%s no longer exists").
  *   - '''CSV rows, comma-split and trimmed''' (`ExampleRecordCursor
  *     .java:41` `Splitter.on(",").trimResults()`), typed by the
  *     catalog's varchar/bigint/double/boolean column types.
  *
  * DOCUMENTED SUBSTITUTION: no HTTP server exists in this zero-egress
  * distribution, so URI → document is a JVM-wide map ([[ExampleHttpStore]]).
  * Everything above the socket — the catalog document format, the
  * memoization, the split-per-URI model, the cursor's parse rules —
  * keeps the reference's contracts.
  *
  * Scale stance: the metadata document is catalog-sized (KBs); data
  * fan-out = one task per source document, the reference's own
  * parallelism bound for web-served tables.
  */
object ExampleHttpStore {
  private val docs = new ConcurrentHashMap[String, String]()

  def put(uri: String, content: String): Unit = docs.put(uri, content)
  def remove(uri: String): Unit = docs.remove(uri)
  private[sources] def clearAll(): Unit = docs.clear()

  private[sources] def fetch(uri: String): String = {
    val c = docs.get(uri)
    require(c != null, s"graft-example-http: fetch failed for '$uri'")
    c
  }
}

/** The catalog document, parsed: schema -> table -> (columns, sources). */
private[sources] final case class ExampleTableDef(schema: String,
    name: String, columns: Seq[(String, DataType)], sources: Seq[String])

private[sources] object ExampleCatalog {
  private def dataTypeOf(t: String): DataType = t match {
    case "varchar" => StringType
    case "bigint" => LongType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case other => throw new IllegalArgumentException(
      s"graft-example-http: unsupported column type '$other'")
  }

  /** Parse the reference's catalog JSON shape:
    * {"schema": [{"name", "columns": [{"name","type"}], "sources": []}]}. */
  def parse(json: String): Map[(String, String), ExampleTableDef] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json)
    root.properties().asScala.flatMap { e =>
      val schema = e.getKey
      e.getValue.elements().asScala.map { t =>
        val name = t.get("name").asText()
        val cols = t.get("columns").elements().asScala.map { c =>
          (c.get("name").asText(), dataTypeOf(c.get("type").asText()))
        }.toSeq
        val sources = t.get("sources").elements().asScala
          .map(_.asText()).toSeq
        (schema, name) -> ExampleTableDef(schema, name, cols, sources)
      }
    }.toMap
  }
}

class ExampleHttpProvider extends StoreProvider("graft-example-http") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new ExampleHttpTable(o)
}

class ExampleHttpTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-example-http." +
      s"${Option(options.get("schema")).getOrElse("example")}." +
      options.get("table")) {

  private val metadataUri =
    StoreTable.option(options, "graft-example-http", "metadata_uri")
  private val schemaName = Option(options.get("schema")).getOrElse("example")
  private val tableName =
    StoreTable.option(options, "graft-example-http", "table")

  @volatile private[sources] var metadataFetches = 0L

  // Suppliers.memoize (`ExampleClient.java:54`): the catalog document
  // is fetched ONCE per table handle, not per scan
  private lazy val catalog: Map[(String, String), ExampleTableDef] = {
    metadataFetches += 1
    ExampleCatalog.parse(ExampleHttpStore.fetch(metadataUri))
  }

  private[sources] def tableDef: ExampleTableDef =
    catalog.getOrElse((schemaName, tableName),
      throw new IllegalStateException(
        s"Table $schemaName.$tableName no longer exists"))

  override def schema(): StructType =
    StructType(tableDef.columns.map { case (n, dt) => StructField(n, dt) })

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ExampleScanBuilder(this)
}

class ExampleScanBuilder(table: ExampleHttpTable)
    extends StoreScanBuilder[Nothing](table.schema()) {

  override protected def compile(f: Filter): Option[Nothing] = None

  override def build(): Scan = {
    // `ExampleSplitManager.java:55-58`: the table is re-resolved at
    // planning; a vanished table fails loudly
    val before = table.metadataFetches
    val t = table.tableDef
    new ExampleScan(t, required, table.metadataFetches - before)
  }
}

final case class ExampleSplit(uri: String, full: Seq[(String, String)],
    required: Seq[String]) extends InputPartition

class ExampleScan(t: ExampleTableDef, required: StructType,
    metadataFetches: Long) extends StoreScan(required) {

  override protected def label: String =
    s"graft-example-http ${t.schema}.${t.name}"
  override protected def detail: String = s" sources=${t.sources.size}"

  /** One split per source URI (`:60-63`), shuffled like the reference
    * (`:64` Collections.shuffle — load spreading) but with a
    * deterministic seed so plans replay. */
  override def planInputPartitions(): Array[InputPartition] = {
    val rnd = new scala.util.Random((t.schema + "." + t.name).hashCode)
    rnd.shuffle(t.sources).map { uri =>
      ExampleSplit(uri,
        t.columns.map { case (n, dt) => (n, dt.catalogString) },
        required.fieldNames.toSeq)
    }.toArray
  }

  override protected def driverMetrics: Seq[(String, String, Long)] =
    Seq(("metadataFetches", "metadata documents fetched", metadataFetches))
  override protected def taskMetrics: Seq[(String, String)] =
    Seq("fetches" -> "data documents fetched")

  override protected def reader: StoreScan.Reader = (p, counts) => {
    val split = p.asInstanceOf[ExampleSplit]
    val colIdx = split.full.map(_._1).zipWithIndex.toMap
    val types = split.full.toMap
    counts(0) += 1
    ExampleHttpStore.fetch(split.uri)
      .split('\n').iterator.filter(_.nonEmpty).map { line =>
        // `ExampleRecordCursor.java:41`: comma split, trimmed results
        val fields = line.split(',').map(_.trim)
        InternalRow.fromSeq(split.required.map { name =>
          val v = fields(colIdx(name))
          types(name) match {
            case "string" => UTF8String.fromString(v)
            case "bigint" => v.toLong
            case "double" => v.toDouble
            case "boolean" => v.toBoolean
            case other =>
              sys.error(s"graft-example-http: bad type $other")
          }
        })
      }
  }
}
