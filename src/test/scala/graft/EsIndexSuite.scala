package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{EsStore, StoreScan}

/** The Elasticsearch-shaped connector (sources/EsIndexConn.scala): the
  * term/range/exists pushdown surface, index-driven (not scan-driven)
  * execution, shard split fan-out, residual-filter behavior, and the
  * refresh lifecycle. */
class EsIndexSuite extends GraftSuite {

  private def mkIndex(name: String, shards: Int = 3): Unit = {
    EsStore.drop(name)
    EsStore.create(name, shards, Seq(
      "cat" -> StringType, "n" -> LongType, "score" -> DoubleType,
      "flag" -> BooleanType))
    (1 to 300).foreach { i =>
      val doc = Map[String, Any](
        "cat" -> s"c${i % 5}", "n" -> i.toLong,
        "score" -> i * 0.5, "flag" -> (i % 2 == 0)) ++
        // every 10th doc misses `score` (exists-query fodder)
        (if (i % 10 == 0) Map("score" -> null) else Map.empty)
      EsStore.indexDoc(name, s"d$i", doc)
    }
    EsStore.refresh(name)
  }

  private def read(name: String) =
    spark.read.format("graft-es").option("index", name).load()

  test("schema surfaces _id plus the mapped fields") {
    mkIndex("es_schema")
    val df = read("es_schema")
    assert(df.schema.fieldNames.toSeq ==
      Seq("_id", "cat", "n", "score", "flag"))
    assert(df.count() == 300)
    assert(df.rdd.getNumPartitions == 3) // one split per shard
  }

  test("term/in/range/exists filters push into the index; no re-filter") {
    mkIndex("es_push")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.treeString
    // a fully-compiled conjunction: PushedFilters in the scan, and NO
    // Filter node survives (the index answers exactly)
    val q = read("es_push")
      .filter(col("cat") === "c1" && col("n") > 100 && col("n") <= 250)
    val plan = planOf(q)
    assert(plan.contains("PushedFilters"), plan)
    assert(!plan.contains("Filter ("), s"residual re-filter planned:\n$plan")
    // c1 = i % 5 == 1; (100, 250] -> 101..250 -> 30 matches
    assert(q.count() == 30)
    // IN compiles to the terms disjunction
    assert(read("es_push").filter(col("cat").isin("c1", "c2")).count() == 120)
    // exists queries: every 10th doc misses `score`
    assert(read("es_push").filter(col("score").isNull).count() == 30)
    assert(read("es_push").filter(col("score").isNotNull).count() == 270)
    // range boundary semantics on doubles
    assert(read("es_push")
      .filter(col("score") >= 1.0 && col("score") < 2.0).count() == 2)
  }

  test("execution is index-driven: only hits materialize") {
    mkIndex("es_mat")
    val q = read("es_mat").filter(col("cat") === "c3" && col("n") <= 50)
    val hits = q.collect()
    assert(hits.length == 10) // 3, 8, ..., 48
    val materialized = StoreScan.metric(q, "docsMaterialized")
    assert(materialized == 10,
      s"index should materialize 10 hits, not $materialized of 300 docs")
  }

  test("uncompilable filters stay residual and still answer correctly") {
    mkIndex("es_resid")
    val q = read("es_resid").filter(col("_id").endsWith("7"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("Filter"), s"residual filter missing:\n$plan")
    assert(q.count() == 30) // d7, d17, ..., d297
    // partial AND (compilable && not) stays residual as a whole but
    // the result is still exact
    val mixed = read("es_resid")
      .filter(col("cat") === "c1" && col("_id").endsWith("1"))
    assert(mixed.count() == 30) // i%5==1 && i ends in 1 -> i%10==1
  }

  test("column pruning reaches the reader (the _source extraction analog)") {
    mkIndex("es_prune")
    val q = read("es_prune").filter(col("n") <= 10).select("cat")
    val scanLine = q.queryExecution.executedPlan.treeString.linesIterator
      .find(_.contains("graft-es")).getOrElse("")
    assert(scanLine.contains("cols=cat"),
      s"projection did not prune to cat: $scanLine")
    assert(q.count() == 10)
  }

  test("exact hit statistics let a selective control query broadcast") {
    mkIndex("es_bc")
    val dim = read("es_bc").filter(col("cat") === "c2")
      .select(col("n"), col("score"))
    val fact = spark.range(0, 5000).toDF("id")
      .withColumn("n", col("id") % 300 + 1)
    val plan = fact.join(dim, "n").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"selective es query should broadcast:\n$plan")
  }

  test("unrefreshed documents fail loudly (the index/refresh lifecycle)") {
    EsStore.drop("es_stale")
    EsStore.create("es_stale", 1, Seq("v" -> LongType))
    EsStore.indexDoc("es_stale", "x", Map("v" -> 1L))
    val e = intercept[Exception] {
      read("es_stale").collect()
    }
    assert(e.getMessage.contains("unrefreshed"), e.getMessage)
    EsStore.refresh("es_stale")
    assert(read("es_stale").count() == 1)
  }

  test("search primitives: posting intersection and range binary search") {
    EsStore.drop("es_prim")
    EsStore.create("es_prim", 1, Seq("k" -> StringType, "v" -> LongType))
    Seq(("a", 1L), ("b", 2L), ("a", 3L), ("a", 4L), ("b", 5L))
      .zipWithIndex.foreach { case ((k, v), i) =>
        EsStore.indexDoc("es_prim", s"p$i", Map("k" -> k, "v" -> v))
      }
    EsStore.refresh("es_prim")
    val s = EsStore.indexes.get("es_prim").shards(0)
    assert(EsStore.search(s, EsStore.Terms("k", Seq("a"))).toSeq ==
      Seq(0, 2, 3))
    assert(EsStore.search(s,
      EsStore.RangeQ("v", Some(2.0), true, Some(4.0), false)).toSeq ==
      Seq(1, 2))
    assert(EsStore.search(s, EsStore.BoolMust(Seq(
      EsStore.Terms("k", Seq("a")),
      EsStore.RangeQ("v", Some(2.0), false, None, false)))).toSeq ==
      Seq(2, 3))
    assert(EsStore.search(s, EsStore.Terms("k", Seq("zzz"))).isEmpty)
  }

  test("runtime In-filter prunes materialization via posting lists") {
    mkIndex("es_rt")
    // SELECTIVE build-side filter (the shape Spark's dynamic-pruning
    // rule requires): keeps cats c1 only -> runtime In(cat, [c1])
    val dim = spark.range(0, 5)
      .select(concat(lit("c"), col("id")).as("cat"), col("id"))
      .filter(col("id") === 1)
      .select(col("cat"))
    val joined = read("es_rt").join(broadcast(dim), Seq("cat"))
    val rows = joined.collect()
    val materialized = StoreScan.metric(joined, "docsMaterialized")
    assert(rows.length == 60) // i % 5 == 1 of 300
    // without runtime pruning every shard materializes all 300 docs
    assert(materialized == 60,
      s"runtime filter did not prune: $materialized docs of 300")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters: [cat"),
      s"no runtime filter on the scan:\n$plan")
  }

  test("Scan.filter re-plans shard queries with runtime terms") {
    mkIndex("es_rt_scan")
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    val scan = new graft.sources.EsScan("es_rt_scan",
      EsStore.BoolMust(Seq.empty),
      read("es_rt_scan").schema, Array.empty)
    scan.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        In("cat", Array("c2", "c4"))))
    // locked at the Scan level (df.rdd would re-plan under AQE): the
    // re-planned splits carry the runtime terms and readers drain
    // exactly the posting-list hits
    val splits = scan.toBatch.planInputPartitions()
    assert(splits.length == 3) // still one split per shard
    val rf = scan.toBatch.createReaderFactory()
    var n = 0
    splits.foreach { sp =>
      val r = rf.createReader(sp)
      while (r.next()) n += 1
    }
    assert(n == 120, s"runtime terms should drain 120 hits, got $n")
  }

  test("concurrent queries each see only their own docsMaterialized") {
    // two selective queries over ONE index run at the same time from
    // two threads; each query's metric must equal its own hit count
    // (a JVM-wide counter read as a before/after delta mixes them)
    mkIndex("es_conc")
    val filters =
      Seq(col("cat") === "c1", col("cat") === "c2" && col("n") <= 150)
    val start = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = filters.map { f =>
        pool.submit(new java.util.concurrent.Callable[(Long, Long)] {
          override def call(): (Long, Long) = {
            val runs = (1 to 5).map { _ =>
              val q = read("es_conc").filter(f)
              start.await()
              val hits = q.collect().length.toLong
              (hits, StoreScan.metric(q, "docsMaterialized"))
            }
            assert(runs.distinct.size == 1, runs)
            runs.head
          }
        })
      }
      val Seq((hits1, mat1), (hits2, mat2)) = futures.map(_.get())
      assert(hits1 == 60 && hits2 == 30, (hits1, hits2))
      assert(mat1 == hits1, s"query 1 materialized $mat1 for $hits1 hits")
      assert(mat2 == hits2, s"query 2 materialized $mat2 for $hits2 hits")
    } finally pool.shutdown()
  }

  test("EXPLAIN ANALYZE shows the pruned scan's connector metric") {
    // the q2l shape: a selective dim join prunes the es scan at runtime
    mkIndex("es_explain")
    read("es_explain").createOrReplaceTempView("es_explain_docs")
    spark.range(0, 5).select(concat(lit("c"), col("id")).as("cat"),
      col("id")).createOrReplaceTempView("es_explain_dim")
    val text = graft.functions.Registry.prestoStatement(spark,
      """EXPLAIN ANALYZE SELECT /*+ BROADCAST(d) */ count(*) AS n
        |FROM es_explain_docs e JOIN es_explain_dim d ON e.cat = d.cat
        |WHERE d.id = 1""".stripMargin)
      .collect()(0).getString(0)
    val scanLine = text.linesIterator
      .find(l => l.startsWith("BatchScan") && l.contains("docsMaterialized"))
    assert(scanLine.isDefined, text)
    // runtime pruning: the 60 c1 documents, not all 300
    assert(scanLine.get.contains("docsMaterialized=60"), scanLine.get)
  }
}
