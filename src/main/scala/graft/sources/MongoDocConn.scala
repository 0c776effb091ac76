package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A MongoDB-shaped document connector — the Spark-native re-expression
  * of the reference's MongoDB connector
  * (`presto-mongodb/src/main/java/com/facebook/presto/mongodb/
  * MongoConnectorFactory.java:32`), fifth application of the documented
  * in-process-substitution pattern.
  *
  * DOCUMENTED SUBSTITUTION: no MongoDB server or driver jar exists in
  * this zero-egress distribution, so the wire half is [[MongoStore]], a
  * JVM-wide registry of collections holding NESTED documents
  * (maps/lists/scalars). The connector layer stays Mongo-shaped:
  *
  *   - '''Schema inference from data''' mirrors
  *     `MongoSession.guessTableFields` (`MongoSession.java:461-493`):
  *     the table schema is GUESSED from the collection's FIRST document
  *     — string→varchar, int/long→bigint, float/double→double, boolean,
  *     nested document→row (recursive), uniform list→array; a field
  *     whose type cannot be guessed (null first value, mixed-type list)
  *     is DROPPED from the schema exactly like the reference's
  *     `guessFieldType` empty return. No other connector here derives
  *     its schema from data.
  *   - '''Query-document pushdown''' mirrors `MongoSession.buildQuery`/
  *     `buildPredicate` (`:243-325`): per-column predicates compile to
  *     the $eq/$in/$gt/$gte/$lt/$lte/$exists operators, null checks to
  *     the `$exists: false` arm — applied before documents reach Spark;
  *     non-compilable filters stay residual.
  *   - '''Split model''': ONE split per collection, the reference's own
  *     `MongoSplitManager.getSplits` (`:46-60` — a FixedSplitSource of
  *     exactly one split). That single-cursor bound is the reference's,
  *     kept honestly; sharded parallel readers are a different
  *     connector generation.
  *   - '''Writes''' are document INSERTS (`MongoPageSink`): append-only,
  *     nested rows/arrays serialize back to documents.
  *
  * Scale stance: the document model (schema-on-read, nested rows) and
  * the query-document filter are the contract; the single-split scan is
  * the reference's own bound and is stated as such.
  */
object MongoStore {

  private[graft] val collections =
    new ConcurrentHashMap[String, mutable.ArrayBuffer[Map[String, Any]]]()

  def drop(name: String): Unit = collections.remove(name)

  def insert(name: String, doc: Map[String, Any]): Unit = {
    val coll = collections.computeIfAbsent(name,
      _ => mutable.ArrayBuffer.empty[Map[String, Any]])
    coll.synchronized { coll += doc }
  }

  private[sources] def collection(
      name: String): mutable.ArrayBuffer[Map[String, Any]] = {
    val c = collections.get(name)
    require(c != null, s"graft-mongo: unknown collection '$name'")
    c
  }

  /** `guessFieldType` (`MongoSession.java:495-560`): None = the field
    * drops from the schema. */
  private[graft] def guessType(value: Any): Option[DataType] = value match {
    case null => None
    case _: String => Some(StringType)
    case _: Int | _: Long => Some(LongType)
    case _: Float | _: Double => Some(DoubleType)
    case _: Boolean => Some(BooleanType)
    case l: Seq[_] =>
      val subs = l.map(guessType)
      if (subs.isEmpty || subs.exists(_.isEmpty)) None
      else {
        val set = subs.flatten.toSet
        if (set.size == 1) Some(ArrayType(set.head)) else None
      }
    case m: Map[_, _] =>
      val fields = m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .flatMap { case (k, v) => guessType(v).map(StructField(k, _)) }
      if (fields.isEmpty) None else Some(StructType(fields))
    case _ => None
  }

  /** `guessTableFields`: schema from the FIRST document. */
  private[graft] def inferSchema(name: String): StructType = {
    val coll = collection(name)
    val first = coll.synchronized(coll.headOption)
    require(first.isDefined,
      s"graft-mongo: collection '$name' is empty — no schema to guess")
    StructType(first.get.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      guessType(v).map(StructField(k, _))
    })
  }

  // ---- the query-document surface MongoSession.buildPredicate emits ----

  sealed trait MQuery
  final case class MEq(field: String, value: Any) extends MQuery
  final case class MIn(field: String, values: Seq[Any]) extends MQuery
  final case class MRange(field: String, lo: Option[Any], loInc: Boolean,
      hi: Option[Any], hiInc: Boolean) extends MQuery
  final case class MExists(field: String, exists: Boolean) extends MQuery

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Number, y: Number) =>
      Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  private[graft] def matches(doc: Map[String, Any], q: MQuery): Boolean =
    q match {
      case MEq(f, v) =>
        doc.get(f).exists(d => cmp(d, v).contains(0))
      case MIn(f, vs) =>
        doc.get(f).exists(d => vs.exists(v => cmp(d, v).contains(0)))
      case MRange(f, lo, loInc, hi, hiInc) =>
        doc.get(f).filter(_ != null).exists { d =>
          lo.forall(v => cmp(d, v).exists(c => c > 0 || (loInc && c == 0))) &&
          hi.forall(v => cmp(d, v).exists(c => c < 0 || (hiInc && c == 0)))
        }
      case MExists(f, e) =>
        doc.get(f).exists(_ != null) == e
    }
}

class MongoDocProvider extends StoreProvider("graft-mongo") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new MongoDocTable(o)
}

class MongoDocTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-mongo.${options.get("collection")}",
      TableCapability.BATCH_WRITE) with SupportsWrite {

  private val collName =
    StoreTable.option(options, "graft-mongo", "collection")
  private val inferred = MongoStore.inferSchema(collName)

  override def schema(): StructType = inferred

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new MongoScanBuilder(collName, inferred)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              i: PhysicalWriteInfo): DataWriterFactory =
            new MongoWriterFactory(collName, info.schema())
          override def commit(m: Array[WriterCommitMessage]): Unit = ()
          override def abort(m: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
}

/** Compiles Spark filters onto the query-document operators —
  * `MongoSession.buildPredicate`'s surface. Top-level scalar fields
  * only (nested paths stay residual, like predicates outside the
  * reference's TupleDomain). */
class MongoScanBuilder(collName: String, full: StructType)
    extends StoreScanBuilder[MongoStore.MQuery](full) {

  private def scalarField(f: String): Boolean =
    full.fields.exists(sf => sf.name == f && (sf.dataType match {
      case StringType | LongType | DoubleType | BooleanType => true
      case _ => false
    }))

  override protected def compile(f: Filter): Option[MongoStore.MQuery] =
    f match {
      case EqualTo(a, v) if scalarField(a) && v != null =>
        Some(MongoStore.MEq(a, v))
      case In(a, vs) if scalarField(a) && vs.nonEmpty && !vs.contains(null) =>
        Some(MongoStore.MIn(a, vs.toSeq))
      case GreaterThan(a, v) if scalarField(a) && v != null =>
        Some(MongoStore.MRange(a, Some(v), false, None, false))
      case GreaterThanOrEqual(a, v) if scalarField(a) && v != null =>
        Some(MongoStore.MRange(a, Some(v), true, None, false))
      case LessThan(a, v) if scalarField(a) && v != null =>
        Some(MongoStore.MRange(a, None, false, Some(v), false))
      case LessThanOrEqual(a, v) if scalarField(a) && v != null =>
        Some(MongoStore.MRange(a, None, false, Some(v), true))
      case IsNull(a) if scalarField(a) => Some(MongoStore.MExists(a, false))
      case IsNotNull(a) if scalarField(a) => Some(MongoStore.MExists(a, true))
      case _ => None
    }

  override def build(): Scan =
    new MongoScan(collName, queries, required, pushed)
}

/** The reference's single split (`MongoSplitManager.java:46-60`). */
final case class MongoCollSplit(coll: String,
    queries: Seq[MongoStore.MQuery]) extends InputPartition

class MongoScan(collName: String, queries: Seq[MongoStore.MQuery],
    required: StructType, pushedFilters: Array[Filter])
    extends StoreScan(required, pushedFilters) {

  override protected def label: String = s"graft-mongo $collName"

  override def planInputPartitions(): Array[InputPartition] =
    Array(MongoCollSplit(collName, queries))

  override protected def rowCount: Option[Long] = {
    val coll = MongoStore.collection(collName)
    Some(coll.synchronized(
      coll.count(d => queries.forall(MongoStore.matches(d, _))).toLong))
  }
  override protected def rowBytes: Long = 256L

  override protected def reader: StoreScan.Reader = MongoScan.reader(required)
}

object MongoScan {
  /** Document value -> Catalyst value for the target type; a value
    * whose shape no longer matches the guessed schema reads NULL (the
    * schema-on-read tolerance Mongo users expect). */
  private[sources] def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (n: Number, LongType) => n.longValue()
    case (n: Number, DoubleType) => n.doubleValue()
    case (b: Boolean, BooleanType) => b
    case (l: Seq[_], ArrayType(et, _)) =>
      new GenericArrayData(l.map(convert(_, et)).toArray)
    case (m: Map[_, _], st: StructType) =>
      val doc = m.asInstanceOf[Map[String, Any]]
      InternalRow.fromSeq(st.fields.toSeq.map(f =>
        convert(doc.getOrElse(f.name, null), f.dataType)))
    case _ => null
  }

  def reader(required: StructType): StoreScan.Reader = (p, _) => {
    val MongoCollSplit(coll, queries) = p.asInstanceOf[MongoCollSplit]
    val c = MongoStore.collection(coll)
    c.synchronized(c.toVector).iterator
      .filter(d => queries.forall(MongoStore.matches(d, _)))
      .map(d => InternalRow.fromSeq(required.fields.toSeq.map(f =>
        convert(d.getOrElse(f.name, null), f.dataType))))
  }
}

final case class MongoInserted(n: Long) extends WriterCommitMessage

class MongoWriterFactory(collName: String, schema: StructType)
    extends DataWriterFactory {

  private def toDoc(r: InternalRow, st: StructType): Map[String, Any] =
    st.fields.zipWithIndex.flatMap { case (f, i) =>
      if (r.isNullAt(i)) None
      else Some(f.name -> (f.dataType match {
        case StringType => r.getUTF8String(i).toString
        case LongType => r.getLong(i)
        case IntegerType => r.getInt(i).toLong
        case DoubleType => r.getDouble(i)
        case BooleanType => r.getBoolean(i)
        case nested: StructType =>
          toDoc(r.getStruct(i, nested.fields.length), nested)
        case ArrayType(et, _) =>
          val arr = r.getArray(i)
          (0 until arr.numElements()).map(j => et match {
            case StringType => arr.getUTF8String(j).toString
            case LongType => arr.getLong(j)
            case DoubleType => arr.getDouble(j)
            case BooleanType => arr.getBoolean(j)
            case other => sys.error(s"graft-mongo: bad array type $other")
          }).toSeq
        case other => sys.error(s"graft-mongo: bad type $other")
      }))
    }.toMap

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var n = 0L
      override def write(r: InternalRow): Unit = {
        MongoStore.insert(collName, toDoc(r, schema))
        n += 1
      }
      override def commit(): WriterCommitMessage = MongoInserted(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
