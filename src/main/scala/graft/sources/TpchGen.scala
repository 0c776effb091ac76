package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A deterministic TPC-H-shaped GENERATOR connector — the Spark-native
  * re-expression of the reference's `presto-tpch` connector
  * (`presto-tpch/src/main/java/com/facebook/presto/tpch/
  * TpchConnectorFactory.java`, `TpchMetadata.java`, splits in
  * `TpchSplitManager.java`): tables materialize from pure arithmetic at
  * scan time, split into parallel key-range partitions, with DataSource
  * V2 column pruning and key-predicate pushdown that PRUNES GENERATION
  * (the analog of the reference's split pruning) rather than filtering
  * after the fact.
  *
  * Spark surface:
  * {{{
  *   spark.read.format("graft-tpch")
  *     .option("table", "lineitem").option("sf", "0.01")
  *     .option("parts", "8").load()
  * }}}
  *
  * Scale design: a scan of N rows costs zero I/O and splits into
  * `parts` independent key ranges — on a 1000-executor cluster each
  * task generates its contiguous slice (the reference hands dbgen
  * chunks to workers the same way). Pushdown on the table's monotone
  * primary key narrows the generated range BEFORE any row exists, so
  * `WHERE o_orderkey <= 1000` generates 1000 rows, not 1.5M-and-filter.
  *
  * Every column is a closed-form function of the row index with one
  * shared 64-bit mixing hash, so the DuckDB differential oracle can
  * replay the generator exactly (see `queries/Connectors.scala`) —
  * arithmetic stays within BIGINT range in both engines.
  */
object TpchGen extends ClosedFormGen {

  override def genName: String = "graft-tpch"

  /** Shared mixing hash — nonneg, overflow-free in any 64-bit engine:
    * max k·2654435761 ≈ 1.6e16 « 2^63. Replayed verbatim in DuckDB. */
  @inline def h(k: Long, salt: Long): Long =
    (k * 2654435761L + salt * 40503L) % 1000000007L

  /** Row counts at scale factor sf (fixture-convention bases). */
  override def rowCount(table: String, sf: Double): Long = table match {
    case "lineitem" => 4L * math.max(1L, (1500000 * sf).toLong)
    case "orders"   => math.max(1L, (1500000 * sf).toLong)
    case "customer" => math.max(1L, (150000 * sf).toLong)
    case "supplier" => math.max(1L, (10000 * sf).toLong)
    case "part"     => math.max(1L, (200000 * sf).toLong)
    case "nation"   => 25L
    case "region"   => 5L
    case other => throw new IllegalArgumentException(
      s"graft-tpch: unknown table '$other'")
  }

  /** The monotone primary-key column whose predicates prune generation. */
  override def keyColumn(table: String): String = table match {
    case "lineitem" => "l_orderkey"
    case "orders" => "o_orderkey"
    case "customer" => "c_custkey"
    case "supplier" => "s_suppkey"
    case "part" => "p_partkey"
    case "nation" => "n_nationkey"
    case "region" => "r_regionkey"
  }

  /** key value for row index k (monotone nondecreasing in k). */
  private def keyOf(table: String, k: Long): Long = table match {
    case "lineitem" => k / 4 + 1
    case "nation" | "region" => k
    case _ => k + 1
  }

  /** Row index range [lo, hi) whose keys satisfy key ∈ [kLo, kHi]. */
  override def indexRangeForKeys(table: String, kLo: Long, kHi: Long,
      n: Long): (Long, Long) = table match {
    case "lineitem" =>
      (math.max(0L, (kLo - 1) * 4), math.min(n, kHi * 4))
    case "nation" | "region" =>
      (math.max(0L, kLo), math.min(n, kHi + 1))
    case _ =>
      (math.max(0L, kLo - 1), math.min(n, kHi))
  }

  override def schemaOf(table: String): StructType = table match {
    case "lineitem" => StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_partkey", LongType, nullable = false),
      StructField("l_suppkey", LongType, nullable = false),
      StructField("l_linenumber", IntegerType, nullable = false),
      StructField("l_quantity", DoubleType, nullable = false),
      StructField("l_extendedprice", DoubleType, nullable = false),
      StructField("l_discount", DoubleType, nullable = false),
      StructField("l_tax", DoubleType, nullable = false),
      StructField("l_returnflag", StringType, nullable = false),
      StructField("l_linestatus", StringType, nullable = false),
      StructField("l_shipdate", TimestampType, nullable = false)))
    case "orders" => StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = false),
      StructField("o_orderstatus", StringType, nullable = false),
      StructField("o_totalprice", DoubleType, nullable = false),
      StructField("o_orderdate", TimestampType, nullable = false),
      StructField("o_orderpriority", StringType, nullable = false)))
    case "customer" => StructType(Seq(
      StructField("c_custkey", LongType, nullable = false),
      StructField("c_name", StringType, nullable = false),
      StructField("c_nationkey", IntegerType, nullable = false),
      StructField("c_acctbal", DoubleType, nullable = false),
      StructField("c_mktsegment", StringType, nullable = false)))
    case "supplier" => StructType(Seq(
      StructField("s_suppkey", LongType, nullable = false),
      StructField("s_name", StringType, nullable = false),
      StructField("s_nationkey", IntegerType, nullable = false),
      StructField("s_acctbal", DoubleType, nullable = false)))
    case "part" => StructType(Seq(
      StructField("p_partkey", LongType, nullable = false),
      StructField("p_name", StringType, nullable = false),
      StructField("p_brand", StringType, nullable = false),
      StructField("p_type", StringType, nullable = false),
      StructField("p_size", IntegerType, nullable = false),
      StructField("p_retailprice", DoubleType, nullable = false)))
    case "nation" => StructType(Seq(
      StructField("n_nationkey", IntegerType, nullable = false),
      StructField("n_name", StringType, nullable = false),
      StructField("n_regionkey", IntegerType, nullable = false)))
    case "region" => StructType(Seq(
      StructField("r_regionkey", IntegerType, nullable = false),
      StructField("r_name", StringType, nullable = false)))
    case other => throw new IllegalArgumentException(
      s"graft-tpch: unknown table '$other'")
  }

  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("O", "F")
  private val OrderStatus = Array("O", "F", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Array("STANDARD", "SMALL", "MEDIUM", "LARGE",
    "ECONOMY", "PROMO")
  private val EpochDay19920101 = 8035L // days from 1970-01-01
  private val MicrosPerDay = 86400L * 1000000L

  private def ts(days: Long): Long = (EpochDay19920101 + days) * MicrosPerDay

  /** Column generator: row index k → Catalyst value. sf fixes the
    * cross-table key spaces (part/supp/cust references). */
  override def generator(table: String, column: String, sf: Double): Long => Any = {
    val nPart = rowCount("part", sf)
    val nSupp = rowCount("supplier", sf)
    val nCust = rowCount("customer", sf)
    (table, column) match {
      case ("lineitem", "l_orderkey") => k => k / 4 + 1
      case ("lineitem", "l_partkey") => k => h(k, 1) % nPart + 1
      case ("lineitem", "l_suppkey") => k => h(k, 2) % nSupp + 1
      case ("lineitem", "l_linenumber") => k => (k % 4 + 1).toInt
      case ("lineitem", "l_quantity") => k => (h(k, 3) % 50 + 1).toDouble
      case ("lineitem", "l_extendedprice") =>
        k => (900 + h(k, 4) % 10000) * (h(k, 3) % 50 + 1) / 100.0
      case ("lineitem", "l_discount") => k => (h(k, 5) % 11) / 100.0
      case ("lineitem", "l_tax") => k => (h(k, 6) % 9) / 100.0
      case ("lineitem", "l_returnflag") =>
        k => UTF8String.fromString(ReturnFlags((h(k, 7) % 3).toInt))
      case ("lineitem", "l_linestatus") =>
        k => UTF8String.fromString(LineStatus((h(k, 8) % 2).toInt))
      case ("lineitem", "l_shipdate") => k => ts(h(k, 9) % 2527)
      case ("orders", "o_orderkey") => k => k + 1
      case ("orders", "o_custkey") => k => h(k, 11) % nCust + 1
      case ("orders", "o_orderstatus") =>
        k => UTF8String.fromString(OrderStatus((h(k, 12) % 3).toInt))
      case ("orders", "o_totalprice") =>
        k => (10000 + h(k, 13) % 500000) / 100.0
      case ("orders", "o_orderdate") => k => ts(h(k, 14) % 2406)
      case ("orders", "o_orderpriority") =>
        k => UTF8String.fromString(Priorities((h(k, 15) % 5).toInt))
      case ("customer", "c_custkey") => k => k + 1
      case ("customer", "c_name") =>
        k => UTF8String.fromString("Customer#" + (k + 1))
      case ("customer", "c_nationkey") => k => (h(k, 21) % 25).toInt
      case ("customer", "c_acctbal") =>
        k => (h(k, 22) % 1100000 - 99999) / 100.0
      case ("customer", "c_mktsegment") =>
        k => UTF8String.fromString(Segments((h(k, 23) % 5).toInt))
      case ("supplier", "s_suppkey") => k => k + 1
      case ("supplier", "s_name") =>
        k => UTF8String.fromString("Supplier#" + (k + 1))
      case ("supplier", "s_nationkey") => k => (h(k, 31) % 25).toInt
      case ("supplier", "s_acctbal") =>
        k => (h(k, 32) % 1100000 - 99999) / 100.0
      case ("part", "p_partkey") => k => k + 1
      case ("part", "p_name") =>
        k => UTF8String.fromString("Part#" + (k + 1))
      case ("part", "p_brand") =>
        k => UTF8String.fromString(
          "Brand#" + (h(k, 41) % 5 + 1) + (h(k, 42) % 5 + 1))
      case ("part", "p_type") =>
        k => UTF8String.fromString(PartTypes((h(k, 43) % 6).toInt))
      case ("part", "p_size") => k => (h(k, 44) % 50 + 1).toInt
      case ("part", "p_retailprice") =>
        k => (90000 + h(k, 45) % 20001) / 100.0
      case ("nation", "n_nationkey") => k => k.toInt
      case ("nation", "n_name") =>
        k => UTF8String.fromString("NATION_" + k)
      case ("nation", "n_regionkey") => k => (k % 5).toInt
      case ("region", "r_regionkey") => k => k.toInt
      case ("region", "r_name") =>
        k => UTF8String.fromString("REGION_" + k)
      case (t, c) => throw new IllegalArgumentException(
        s"graft-tpch: no generator for $t.$c")
    }
  }
}

/** spark.read.format("graft-tpch") entry point. */
class TpchTableProvider extends GenProvider("graft-tpch") {
  override protected def gen: ClosedFormGen = TpchGen
}
