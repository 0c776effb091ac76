package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GraftThriftService, InMemoryThriftService, StoreScan, ThriftRegistry}

/** The Thrift-shaped connector (sources/ThriftSvcConn.scala): full
  * service delegation — paged split discovery via continuation tokens,
  * maxBytes-paged row retrieval, column selection through the RPC, and
  * advisory (never-enforced) constraint hints. */
class ThriftSvcSuite extends GraftSuite {

  private def schema3 = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("score", DoubleType)))

  private def mkService(name: String, rows: Int, rowsPerSplit: Int,
      applyHints: Boolean = true): InMemoryThriftService = {
    val svc = new InMemoryThriftService("g", rowsPerSplit, applyHints)
    svc.putTable("t", schema3,
      (1 to rows).map(i => Seq(i.toLong, s"k${i % 4}", i * 0.5)))
    ThriftRegistry.register(name, svc)
    svc
  }

  private def read(name: String, opts: Map[String, String] = Map.empty) = {
    val r = spark.read.format("graft-thrift").option("service", name)
      .option("schema", "g").option("table", "t")
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("schema and tables come from the service, nothing is local") {
    val svc = mkService("th_meta", 10, 5)
    assert(svc.listSchemaNames() == Seq("g"))
    assert(svc.listTables(Some("g")) == Seq(("g", "t")))
    assert(read("th_meta").schema.fieldNames.toSeq ==
      Seq("id", "kind", "score"))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-thrift").option("service", "absent")
        .option("schema", "g").option("table", "t").load()
    }
    assert(e.getMessage.contains("unknown service"))
  }

  test("split discovery drains batches by continuation token") {
    mkService("th_splits", 2500, 100) // 25 splits
    // lock the drain contract at the Scan level: ONE planning pass
    // over 25 splits at <=10 per batch is exactly 3 getSplits calls
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val opts = new CaseInsensitiveStringMap(java.util.Map.of(
      "service", "th_splits", "schema", "g", "table", "t",
      "max_split_count", "10"))
    val table = new graft.sources.ThriftSvcTable(opts)
    val scan = table.newScanBuilder(opts).build()
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length == 25)
    assert(scan.reportDriverMetrics()
      .collectFirst { case m if m.name == "splitCalls" => m.value } ==
      Some(3L))
    val df = read("th_splits", Map("max_split_count" -> "10"))
    assert(df.rdd.getNumPartitions == 25)
    assert(df.count() == 2500)
  }

  test("row retrieval pages by maxBytes with continuation tokens") {
    mkService("th_pages", 1000, 1000) // one split
    // the sum prunes to 1 column: 6400B / 128B -> 50 rows/page -> 20
    // pages chained by token; every row intact across page boundaries
    val df = read("th_pages", Map("max_response_bytes" -> "6400"))
    val summed = df.agg(sum(col("id")))
    assert(summed.collect()(0).getLong(0) == 500500L)
    val calls = StoreScan.metric(summed, "rowsCalls")
    assert(calls == 20, s"expected 20 pages, saw $calls")
    assert(df.count() == 1000)
  }

  test("column selection travels through the RPC") {
    mkService("th_cols", 50, 50)
    val q = read("th_cols").select(col("kind"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("cols=kind"), plan) // desiredColumns pruned
    assert(q.distinct().count() == 4)
  }

  test("constraints are advisory: Spark refilters even a lazy service") {
    // applyHints = false: the service IGNORES the hint entirely
    mkService("th_lazy", 400, 100, applyHints = false)
    val lazyQ = read("th_lazy").filter(col("kind") === "k1" &&
      col("score") > 50.0)
    // the filter must be planned Spark-side (never trusted to the svc)
    assert(lazyQ.queryExecution.executedPlan.treeString.contains("Filter"))
    assert(lazyQ.count() == 75) // i%4==1 && i>100
    // applyHints = true: the service reduces the scan; results identical
    mkService("th_eager", 400, 100, applyHints = true)
    val eagerQ = read("th_eager").filter(col("kind") === "k1" &&
      col("score") > 50.0)
    assert(eagerQ.count() == 75)
    // and the eager service planned fewer rows into splits
    val lazySplits = read("th_lazy").filter(col("kind") === "k1")
      .rdd.getNumPartitions
    val eagerSplits = read("th_eager").filter(col("kind") === "k1")
      .rdd.getNumPartitions
    assert(eagerSplits < lazySplits,
      s"eager=$eagerSplits lazy=$lazySplits — hint did not reduce the scan")
  }

  test("a custom service implementation plugs straight in") {
    // a closed-form generator service — no storage at all, the pure
    // delegation contract
    import graft.sources.ThriftApi._
    val gen = new GraftThriftService {
      private val n = 300
      override def listSchemaNames(): Seq[String] = Seq("gen")
      override def listTables(s: Option[String]): Seq[(String, String)] =
        Seq(("gen", "t"))
      override def getTableMetadata(s: String, t: String): StructType =
        StructType(Seq(StructField("id", LongType),
          StructField("sq", LongType)))
      override def getSplits(s: String, t: String,
          cols: Option[Seq[String]], c: Seq[Hint], max: Int,
          tok: Option[Array[Byte]]): SplitBatch =
        SplitBatch(Seq("0".getBytes, "1".getBytes, "2".getBytes),
          Seq.fill(3)(Seq.empty), None)
      override def getRows(id: Array[Byte], cols: Seq[String],
          maxBytes: Long, tok: Option[Array[Byte]]): RowsPage = {
        val part = new String(id).toInt
        val rows = ((part * 100 + 1) to (part * 100 + 100)).map { i =>
          cols.map {
            case "id" => i.toLong
            case "sq" => i.toLong * i
          }
        }
        RowsPage(rows, None)
      }
    }
    ThriftRegistry.register("th_gen", gen)
    val df = spark.read.format("graft-thrift").option("service", "th_gen")
      .option("schema", "gen").option("table", "t").load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.agg(sum(col("sq"))).head().getLong(0) ==
      (1L to 300L).map(i => i * i).sum)
  }
}
