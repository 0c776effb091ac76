package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Cassandra-shaped wide-row connector — the Spark-native
  * re-expression of the reference's Cassandra connector
  * (`presto-cassandra/src/main/java/com/facebook/presto/cassandra/
  * CassandraConnectorFactory.java:37`), fourth application of the
  * documented in-process-substitution pattern ([[KafkaLog]],
  * [[RedisStore]], [[EsStore]]).
  *
  * DOCUMENTED SUBSTITUTION: no Cassandra cluster or driver jar exists
  * in this zero-egress distribution, so the wire half (cluster
  * metadata, replicas) is replaced by [[CassStore]], a JVM-wide store
  * that keeps the actual Cassandra data organization: rows hashed by
  * PARTITION KEY onto a token ring, sorted by CLUSTERING KEY within
  * each partition. EVERYTHING above the socket stays
  * Cassandra-connector-shaped:
  *
  *   - '''Token-range splits''' mirror `CassandraSplitManager
  *     .getSplitsByTokenRange` + `CassandraTokenSplitManager.getSplits`
  *     (`CassandraSplitManager.java:91-112`,
  *     `CassandraTokenSplitManager.java:61-97`): an unpruned scan plans
  *     `max(partitionCount / splitSize, 1)` splits, each a
  *     `token(pk) > start AND token(pk) <= end` ring range — one task
  *     per vnode-ish range on a cluster. Tokens here are non-negative
  *     longs over an even ring (the Murmur3Partitioner shape).
  *   - '''Partition pruning at the SPLIT level''' mirrors
  *     `getSplitsForPartitions` (`CassandraSplitManager.java:114-180`):
  *     when the query binds the FULL partition key by equality/IN
  *     (CQL's rule — a partially-bound partition key cannot prune),
  *     splits enumerate exactly the matched partitions; a single-column
  *     partition key batches values `partitionSizeForBatchSelect`-at-
  *     a-time into IN-clause splits, a composite key keeps one split
  *     per partition — both reference behaviors.
  *   - '''Clustering-key pushdown''' follows
  *     `CassandraClusteringPredicatesExtractor.getClusteringKeysSet`
  *     (`:65-170`): predicates push in clustering-column ORDER —
  *     equalities on a prefix, then at most one range, then STOP at the
  *     first unconstrained column (CQL's restriction model). A pushed
  *     bound becomes a binary-searched SLICE of the partition's
  *     clustering-sorted rows — never a partition scan. Everything
  *     outside the pushable shape stays a residual Spark filter
  *     (the reference's unenforced constraints).
  *   - '''Writes are upserts by primary key''' like
  *     `CassandraPageSink` (every Cassandra INSERT overwrites the
  *     (partition key, clustering key) row), so task retries are
  *     naturally idempotent.
  *
  * Scale stance: the in-process store stands in for the cluster; the
  * split/pruning/slice layer is the real contract. At 100 TB the token
  * scan fans out per ring range, a point lookup plans ONE split, and a
  * clustering slice reads O(log n + hits) of its partition.
  */
object CassStore {

  final case class TableDef(partitionKeys: Seq[String],
      clusteringKeys: Seq[String], fields: Seq[(String, DataType)]) {
    val fieldMap: Map[String, DataType] = fields.toMap
    require(partitionKeys.nonEmpty, "graft-cassandra: partition key required")
    (partitionKeys ++ clusteringKeys).foreach(k =>
      require(fieldMap.contains(k), s"graft-cassandra: key '$k' unmapped"))
  }

  /** One partition: rows sorted by clustering key (the memtable/SSTable
    * invariant). Vector insert is O(n) — a real store uses a skip list;
    * fixture-sized here, the SLICE reads are what the connector locks. */
  final class Partition {
    private[sources] var rows = Vector.empty[Seq[Any]]
  }

  final case class CTable(defn: TableDef,
      partitions: ConcurrentHashMap[Seq[Any], Partition])

  private[graft] val tables = new ConcurrentHashMap[String, CTable]()

  def create(name: String, partitionKeys: Seq[String],
      clusteringKeys: Seq[String], fields: Seq[(String, DataType)]): Unit = {
    fields.foreach { case (f, dt) =>
      require(dt == StringType || dt == LongType || dt == IntegerType ||
        dt == DoubleType || dt == BooleanType,
        s"graft-cassandra: unsupported type ${dt.catalogString} for '$f'")
    }
    tables.put(name, CTable(TableDef(partitionKeys, clusteringKeys, fields),
      new ConcurrentHashMap[Seq[Any], Partition]()))
  }

  def drop(name: String): Unit = tables.remove(name)

  private[sources] def table(name: String): CTable = {
    val t = tables.get(name)
    require(t != null, s"graft-cassandra: unknown table '$name'")
    t
  }

  /** Non-negative ring token of a partition key tuple (the
    * Murmur3Partitioner shape: stable hash onto an even ring). */
  def token(pk: Seq[Any]): Long = {
    var h = 0x9E3779B97F4A7C15L
    pk.foreach { v =>
      var x = v match {
        case null => 0L
        case l: Long => l
        case i: Int => i.toLong
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case b: Boolean => if (b) 1L else 0L
        case s => s.toString.hashCode.toLong
      }
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      x = (x ^ (x >>> 33)) * 0xC4CEB9FE1A85EC53L
      h = (h ^ x ^ (x >>> 33)) * 0x9E3779B97F4A7C15L
    }
    h & Long.MaxValue
  }

  private[graft] def compareVals(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  private[graft] def compareTuples(a: Seq[Any], b: Seq[Any]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = compareVals(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(a.length, b.length)
  }

  /** Upsert one row (Cassandra INSERT semantics: the primary key —
    * partition key + clustering key — identifies the row; a second
    * insert overwrites). `row` is positionally aligned with
    * `defn.fields`. */
  def upsert(name: String, row: Seq[Any]): Unit = {
    val t = table(name)
    val idx = t.defn.fields.map(_._1).zipWithIndex.toMap
    val pk = t.defn.partitionKeys.map(k => row(idx(k)))
    val ck = t.defn.clusteringKeys.map(k => row(idx(k)))
    val p = t.partitions.computeIfAbsent(pk, _ => new Partition)
    p.synchronized {
      val ckOf = (r: Seq[Any]) => t.defn.clusteringKeys.map(k => r(idx(k)))
      // binary search the clustering position
      var lo = 0; var hi = p.rows.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (compareTuples(ckOf(p.rows(mid)), ck) < 0) lo = mid + 1
        else hi = mid
      }
      if (lo < p.rows.length && compareTuples(ckOf(p.rows(lo)), ck) == 0)
        p.rows = p.rows.updated(lo, row) // upsert: overwrite by primary key
      else p.rows = (p.rows.take(lo) :+ row) ++ p.rows.drop(lo)
    }
  }

  def partitionCount(name: String): Int = table(name).partitions.size()

  /** The reference's split-count formula
    * (`CassandraTokenSplitManager.java:97`):
    * max(partitionsCountEstimate / splitSize, 1). */
  private[graft] def tokenRangeCount(partitions: Int, splitSize: Int): Int =
    math.max(partitions / splitSize, 1)

  /** Even (start, end] ranges over the non-negative token ring; the
    * first range starts at -1 so token 0 is covered. */
  private[graft] def tokenRanges(n: Int): Seq[(Long, Long)] = {
    val width = Long.MaxValue / n
    (0 until n).map { i =>
      val start = if (i == 0) -1L else i * width
      val end = if (i == n - 1) Long.MaxValue else (i + 1) * width
      (start, end)
    }
  }
}

class CassandraRingProvider extends StoreProvider("graft-cassandra") {
  override protected def open(o: CaseInsensitiveStringMap,
      schema: StructType): Table = new CassandraRingTable(o)
}

object CassandraRingTable {
  /** `partitionSizeForBatchSelect` — the reference's IN-batch width. */
  val PartitionBatch = 100
  val DefaultSplitSize = 64
}

class CassandraRingTable(options: CaseInsensitiveStringMap)
    extends StoreTable(s"graft-cassandra.${options.get("table")}",
      TableCapability.BATCH_WRITE) with SupportsWrite {

  private val tableName =
    StoreTable.option(options, "graft-cassandra", "table")
  private val splitSize =
    Option(options.get("split.size")).map(_.toInt)
      .getOrElse(CassandraRingTable.DefaultSplitSize)

  override def schema(): StructType =
    StructType(CassStore.table(tableName).defn.fields.map { case (f, dt) =>
      StructField(f, dt)
    })

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CassScanBuilder(tableName, splitSize, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val defn = CassStore.table(tableName).defn
    val expect = defn.fields.map(_._1)
    require(info.schema().fieldNames.toSeq == expect,
      s"graft-cassandra write schema must be ${expect.mkString(",")}, " +
        s"got ${info.schema().fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              i: PhysicalWriteInfo): DataWriterFactory =
            new CassWriterFactory(tableName)
          override def commit(m: Array[WriterCommitMessage]): Unit = ()
          override def abort(m: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

/** The pushed clustering bound: equalities on a clustering-column
  * prefix, then at most one range — the only shapes CQL can serve from
  * the sorted partition. */
final case class ClusteringBound(eqPrefix: Seq[Any],
    range: Option[(Option[Any], Boolean, Option[Any], Boolean)])
    extends Serializable

sealed trait CassSplit extends InputPartition {
  def table: String
  def bound: ClusteringBound
}
/** token(pk) > start AND token(pk) <= end. */
final case class TokenRangeSplit(table: String, start: Long, end: Long,
    bound: ClusteringBound) extends CassSplit
/** A batch of fully-bound partition keys (the IN-clause split). */
final case class PartitionsSplit(table: String, pks: Seq[Seq[Any]],
    bound: ClusteringBound) extends CassSplit

/** CQL's pushdown rules are over the WHOLE conjunction (every
  * partition-key column bound; a clustering prefix), not per filter,
  * so this builder replaces the per-filter compile with `pushFilters`. */
class CassScanBuilder(tableName: String, splitSize: Int, full: StructType)
    extends StoreScanBuilder[Nothing](full) {

  private val defn = CassStore.table(tableName).defn
  private var pkValues: Option[Seq[Seq[Any]]] = None
  private var bound = ClusteringBound(Seq.empty, None)

  override protected def compile(f: Filter): Option[Nothing] = None

  private def lit(col: String, v: Any): Option[Any] = {
    // normalize the filter literal to the stored representation
    defn.fieldMap.get(col).flatMap {
      case StringType => Some(String.valueOf(v))
      case LongType => v match {
        case n: Number => Some(n.longValue()); case _ => None
      }
      case IntegerType => v match {
        case n: Number => Some(n.intValue()); case _ => None
      }
      case DoubleType => v match {
        case n: Number => Some(n.doubleValue()); case _ => None
      }
      case BooleanType => v match {
        case b: Boolean => Some(b); case _ => None
      }
      case _ => None
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // --- partition-key binding: equality/IN on EVERY pk column ---
    val eqs = mutable.Map.empty[String, Seq[Any]]
    val pkFilters = filters.filter {
      case EqualTo(a, v) if defn.partitionKeys.contains(a) &&
          lit(a, v).isDefined =>
        eqs(a) = Seq(lit(a, v).get); true
      case In(a, vs) if defn.partitionKeys.contains(a) && vs.nonEmpty &&
          vs.forall(v => v != null && lit(a, v).isDefined) =>
        eqs(a) = vs.map(v => lit(a, v).get).toSeq; true
      case _ => false
    }
    val fullyBound = defn.partitionKeys.forall(eqs.contains)
    if (fullyBound) {
      // cartesian of the per-column value lists = the partition list
      // (CassandraPartitionManager enumerates the same combinations)
      pkValues = Some(defn.partitionKeys.map(eqs)
        .foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
          acc.flatMap(prefix => vs.map(prefix :+ _))
        })
    }
    // --- clustering predicates: prefix equalities, then one range ---
    val remaining = mutable.ArrayBuffer.empty[Filter] ++
      filters.filterNot(f => fullyBound && pkFilters.contains(f))
    val eqPrefix = mutable.ArrayBuffer.empty[Any]
    var range: Option[(Option[Any], Boolean, Option[Any], Boolean)] = None
    val consumed = mutable.ArrayBuffer.empty[Filter]
    var stop = false
    defn.clusteringKeys.foreach { ck =>
      if (!stop) {
        val eq = remaining.collectFirst {
          case f @ EqualTo(a, v) if a == ck && lit(a, v).isDefined =>
            (f, lit(a, v).get)
        }
        eq match {
          case Some((f, v)) =>
            eqPrefix += v; consumed += f; remaining -= f
          case None =>
            // at most one range bound pair on THIS column, then stop
            var lo: Option[Any] = None; var loInc = false
            var hi: Option[Any] = None; var hiInc = false
            remaining.toSeq.foreach {
              case f @ GreaterThan(a, v) if a == ck && lit(a, v).isDefined =>
                lo = lit(a, v); loInc = false; consumed += f; remaining -= f
              case f @ GreaterThanOrEqual(a, v)
                  if a == ck && lit(a, v).isDefined =>
                lo = lit(a, v); loInc = true; consumed += f; remaining -= f
              case f @ LessThan(a, v) if a == ck && lit(a, v).isDefined =>
                hi = lit(a, v); hiInc = false; consumed += f; remaining -= f
              case f @ LessThanOrEqual(a, v)
                  if a == ck && lit(a, v).isDefined =>
                hi = lit(a, v); hiInc = true; consumed += f; remaining -= f
              case _ =>
            }
            if (lo.isDefined || hi.isDefined)
              range = Some((lo, loInc, hi, hiInc))
            stop = true // range or unconstrained column ends the prefix
        }
      }
    }
    bound = ClusteringBound(eqPrefix.toSeq, range)
    pushed = (if (fullyBound) pkFilters else Array.empty[Filter]) ++ consumed
    // a pushed equality/range implies NOT NULL, so the isnotnull guards
    // Spark derives for those columns are served too
    val covered = pushed.flatMap {
      case EqualTo(a, _) => Some(a)
      case In(a, _) => Some(a)
      case GreaterThan(a, _) => Some(a)
      case GreaterThanOrEqual(a, _) => Some(a)
      case LessThan(a, _) => Some(a)
      case LessThanOrEqual(a, _) => Some(a)
      case _ => None
    }.toSet
    pushed = pushed ++ filters.collect {
      case f @ IsNotNull(a) if covered.contains(a) => f
    }
    // handled filters are served EXACTLY (pruned partitions + sorted
    // slice); the rest is Spark's residual — the reference's
    // unenforced constraints
    filters.filterNot(pushed.contains)
  }

  override def build(): Scan =
    new CassScan(tableName, splitSize, pkValues, bound, required, pushed)
}

class CassScan(tableName: String, splitSize: Int,
    pkValues: Option[Seq[Seq[Any]]], bound: ClusteringBound,
    required: StructType, pushedFilters: Array[Filter])
    extends StoreScan(required, pushedFilters) {

  /** RUNTIME partition pruning (Spark's dynamic-pruning hook for DSv2
    * scans, SPARK-35779): when a selective dim join's build side
    * executes, its key values arrive as an In-filter and convert the
    * planned token scan into partition-key splits — CQL's fully-bound
    * pruning rule applied dynamically. Faithful to that rule, only a
    * SINGLE-column partition key is declared (Spark hands over one
    * join key's values; a partially-bound composite key cannot prune).
    * Reading only the named partitions IS the equality filter, and the
    * join re-applies exact semantics on top. */
  @volatile private var runtimePks: Option[Seq[Seq[Any]]] = None

  private def defn = CassStore.table(tableName).defn

  private def normalize(col: String, v: Any): Option[Any] =
    defn.fieldMap.get(col).flatMap {
      case StringType => Some(String.valueOf(v))
      case LongType => v match {
        case n: Number => Some(n.longValue()); case _ => None
      }
      case IntegerType => v match {
        case n: Number => Some(n.intValue()); case _ => None
      }
      case DoubleType => v match {
        case n: Number => Some(n.doubleValue()); case _ => None
      }
      case BooleanType => v match {
        case b: Boolean => Some(b); case _ => None
      }
      case _ => None
    }

  override protected def runtimeColumns: Seq[String] =
    if (defn.partitionKeys.size == 1 && pkValues.isEmpty)
      defn.partitionKeys
    else Nil

  override def filter(filters: Array[Filter]): Unit = {
    val pk = defn.partitionKeys.head
    runtimePks = filters.collectFirst {
      case In(a, vs) if a == pk && vs.nonEmpty &&
          vs.forall(v => v != null && normalize(pk, v).isDefined) =>
        vs.toSeq.map(v => Seq(normalize(pk, v).get))
      case EqualTo(a, v) if a == pk && normalize(pk, v).isDefined =>
        Seq(Seq(normalize(pk, v).get))
    }
  }

  override protected def label: String = s"graft-cassandra $tableName"
  override protected def detail: String =
    if (pkValues.isDefined) s" partitions=${pkValues.get.length}"
    else " tokenScan"

  override def planInputPartitions(): Array[InputPartition] =
    pkValues.orElse(runtimePks) match {
      case Some(pks) =>
        // getSplitsForPartitions: single-column keys batch into
        // IN-clause splits; composite keys keep one split per partition
        val single = CassStore.table(tableName).defn.partitionKeys.size == 1
        val batch = if (single) CassandraRingTable.PartitionBatch else 1
        pks.grouped(batch)
          .map(g => PartitionsSplit(tableName, g, bound): InputPartition)
          .toArray
      case None =>
        val n = CassStore.tokenRangeCount(
          CassStore.partitionCount(tableName), splitSize)
        CassStore.tokenRanges(n).map { case (s, e) =>
          TokenRangeSplit(tableName, s, e, bound): InputPartition
        }.toArray
    }

  override protected def rowCount: Option[Long] = {
    val t = CassStore.table(tableName)
    Some(pkValues match {
      case Some(pks) => pks.map(pk =>
        Option(t.partitions.get(pk)).map(_.rows.length.toLong)
          .getOrElse(0L)).sum
      case None =>
        var n = 0L
        t.partitions.forEach((_, p) => n += p.rows.length)
        n
    })
  }

  // which split kind ran: the proof that runtime filtering converts a
  // token scan into partition-key splits at execution
  override protected def taskMetrics: Seq[(String, String)] = Seq(
    "tokenSplitsOpened" -> "token-range splits opened",
    "partitionSplitsOpened" -> "partition-key splits opened")

  override protected def reader: StoreScan.Reader = CassScan.reader(required)
}

object CassScan {
  def reader(required: StructType): StoreScan.Reader = (p, counts) => {
    val split = p.asInstanceOf[CassSplit]
    split match {
      case _: TokenRangeSplit => counts(0) += 1
      case _: PartitionsSplit => counts(1) += 1
    }
    val t = CassStore.table(split.table)
    val idx = t.defn.fields.map(_._1).zipWithIndex.toMap
    val ckIdx = t.defn.clusteringKeys.map(idx)
    val outIdx = required.fields.map(f => (idx(f.name), f.dataType))

    def sliceOf(part: CassStore.Partition): Vector[Seq[Any]] = {
      val rows = part.synchronized(part.rows)
      val b = split.bound
      if (b.eqPrefix.isEmpty && b.range.isEmpty) rows
      else {
        // binary-search the clustering slice: [prefix ++ lo, prefix ++ hi]
        def ckOf(r: Seq[Any]) = ckIdx.map(r)
        def lowerBound(key: Seq[Any], orEqual: Boolean): Int = {
          var lo = 0; var hi = rows.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            val c = CassStore.compareTuples(
              ckOf(rows(mid)).take(key.length), key)
            if (c < 0 || (!orEqual && c == 0)) lo = mid + 1 else hi = mid
          }
          lo
        }
        val (rlo, rloInc, rhi, rhiInc) =
          b.range.getOrElse((None, false, None, false))
        val loKey = b.eqPrefix ++ rlo.toSeq
        val hiKey = b.eqPrefix ++ rhi.toSeq
        val from =
          if (rlo.isDefined) lowerBound(loKey, rloInc)
          else lowerBound(b.eqPrefix, orEqual = true)
        val until =
          if (rhi.isDefined) lowerBound(hiKey, !rhiInc)
          else if (b.eqPrefix.nonEmpty)
            lowerBound(b.eqPrefix, orEqual = false)
          else rows.length
        if (from >= until) Vector.empty else rows.slice(from, until)
      }
    }

    val parts: Iterator[CassStore.Partition] = split match {
      case PartitionsSplit(_, pks, _) =>
        pks.iterator.flatMap(pk => Option(t.partitions.get(pk)))
      case TokenRangeSplit(_, start, end, _) =>
        import scala.jdk.CollectionConverters._
        t.partitions.entrySet().iterator().asScala
          .filter { e =>
            val tok = CassStore.token(e.getKey)
            tok > start && tok <= end
          }.map(_.getValue)
    }
    parts.flatMap(sliceOf).map { cur =>
      InternalRow.fromSeq(outIdx.toSeq.map { case (i, dt) =>
        cur(i) match {
          case null => null
          case v => dt match {
            case StringType => UTF8String.fromString(v.toString)
            case LongType => v.asInstanceOf[Number].longValue()
            case IntegerType => v.asInstanceOf[Number].intValue()
            case DoubleType => v.asInstanceOf[Number].doubleValue()
            case BooleanType => v.asInstanceOf[Boolean]
            case other => sys.error(s"graft-cassandra: bad type $other")
          }
        }
      })
    }
  }
}

final case class CassWritten(n: Long) extends WriterCommitMessage

class CassWriterFactory(tableName: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val defn = CassStore.table(tableName).defn
      private var n = 0L
      override def write(r: InternalRow): Unit = {
        val row = defn.fields.zipWithIndex.map { case ((_, dt), i) =>
          if (r.isNullAt(i)) null
          else dt match {
            case StringType => r.getUTF8String(i).toString
            case LongType => r.getLong(i)
            case IntegerType => r.getInt(i)
            case DoubleType => r.getDouble(i)
            case BooleanType => r.getBoolean(i)
            case other => sys.error(s"graft-cassandra: bad type $other")
          }
        }
        CassStore.upsert(tableName, row)
        n += 1
      }
      override def commit(): WriterCommitMessage = CassWritten(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
