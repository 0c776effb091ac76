package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{KuduStore, StoreScan}

/** The Kudu-shaped connector (sources/KuduTabletConn.scala): the
  * tablet-grid scan-token split model with hash + range pruning,
  * tablet-side predicate evaluation, upsert-by-primary-key writes,
  * non-covered-range rejection, and online range-partition management. */
class KuduTabletSuite extends GraftSuite {

  private def read(name: String) =
    spark.read.format("graft-kudu").option("table", name).load()

  // hash-only table: pk (id), 4 buckets
  private def mkHashTable(name: String): Unit = {
    KuduStore.drop(name)
    KuduStore.create(name,
      columns = Seq(("id", LongType, false), ("kind", StringType, true),
        ("score", DoubleType, true)),
      pkCount = 1, hashCols = Seq("id"), hashBuckets = 4)
    (1 to 400).foreach(i => KuduStore.upsert(name,
      Seq(i.toLong, s"k${i % 5}", i * 0.5)))
  }

  // hash x range grid: pk (id, ts), hash(id) 3 buckets, range(ts)
  // partitions [0,100), [100,200), [200,300)
  private def mkGridTable(name: String): Unit = {
    KuduStore.drop(name)
    KuduStore.create(name,
      columns = Seq(("id", LongType, false), ("ts", LongType, false),
        ("kind", StringType, true)),
      pkCount = 2, hashCols = Seq("id"), hashBuckets = 3,
      rangeCol = Some("ts"),
      rangeBounds = Seq((Some(0L), Some(100L)), (Some(100L), Some(200L)),
        (Some(200L), Some(300L))))
    (0 until 300).foreach(i => KuduStore.upsert(name,
      Seq((i % 10).toLong, i.toLong, s"k${i % 4}")))
  }

  test("upserts are idempotent; a full scan plans one split per tablet") {
    import spark.implicits._
    val name = "kd_upsert"
    KuduStore.drop(name)
    KuduStore.create(name,
      columns = Seq(("id", LongType, false), ("kind", StringType, true),
        ("score", DoubleType, true)),
      pkCount = 1, hashCols = Seq("id"), hashBuckets = 4)
    val df = spark.range(1, 201).select(col("id"),
      concat(lit("k"), col("id") % 5).as("kind"),
      (col("id") * 0.5).as("score"))
    df.write.mode("append").format("graft-kudu").option("table", name).save()
    df.write.mode("append").format("graft-kudu").option("table", name).save()
    assert(read(name).count() == 200) // upsert by pk, not append
    assert(read(name).rdd.getNumPartitions == 4) // 4 buckets x 1 range
    // rows come back pk-sorted within each tablet (Kudu scanner order)
    val one = read(name).filter(col("id") === 77L)
    assert(one.select("score").head().getDouble(0) == 38.5)
  }

  test("equality on the hash column prunes to one bucket's tablet") {
    val name = "kd_hashprune"
    mkHashTable(name)
    val q = read(name).filter(col("id") === 42L)
    assert(q.rdd.getNumPartitions == 1, "hash pruning must keep 1 bucket")
    assert(q.select("kind").head().getString(0) == "k2")
    // IN-list prunes to the distinct buckets of its values
    val in = read(name).filter(col("id").isin(1L, 2L, 3L))
    assert(in.rdd.getNumPartitions <= 3)
    assert(in.count() == 3)
    // predicate evaluation is tablet-side: only the pruned tablet scans
    val point = read(name).filter(col("id") === 42L)
    assert(point.collect().length == 1)
    val delta = StoreScan.metric(point, "rowsScanned")
    assert(delta < 400, s"scanned $delta rows — pruning did not happen")
  }

  test("range predicates prune range partitions off the tablet grid") {
    val name = "kd_rangeprune"
    mkGridTable(name)
    assert(read(name).rdd.getNumPartitions == 9) // 3 buckets x 3 ranges
    // [150, 250) intersects ranges [100,200) and [200,300): 3x2 splits
    val q = read(name).filter(col("ts") >= 150L && col("ts") < 250L)
    assert(q.rdd.getNumPartitions == 6)
    assert(q.count() == 100)
    // equality binds one range; with the hash column bound too the scan
    // hits exactly ONE tablet of the grid
    val point = read(name).filter(col("id") === 7L && col("ts") === 217L)
    assert(point.rdd.getNumPartitions == 1)
    assert(point.select("kind").head().getString(0) == "k1") // 217 % 4
  }

  test("contradictory pushed predicates plan zero splits") {
    val name = "kd_contra"
    mkHashTable(name)
    val q = read(name).filter(col("id") === 1L && col("id") === 2L)
    assert(q.rdd.getNumPartitions == 0)
    assert(q.count() == 0)
  }

  test("rows outside every range partition are rejected loudly") {
    val name = "kd_covered"
    mkGridTable(name)
    val e = intercept[RuntimeException] {
      KuduStore.upsert(name, Seq(1L, 350L, "x"))
    }
    assert(e.getMessage.contains(
      "does not belong to any currently defined range partition"),
      e.getMessage)
  }

  test("range partitions add and drop online; drop discards rows") {
    val name = "kd_online"
    mkGridTable(name)
    assert(read(name).count() == 300)
    // not coverable yet -> add [300, 400) -> write lands
    KuduStore.addRangePartition(name, Some(300L), Some(400L))
    KuduStore.upsert(name, Seq(1L, 350L, "new"))
    assert(read(name).count() == 301)
    assert(read(name).rdd.getNumPartitions == 12) // 3 x 4 now
    // overlapping partition rejected
    val e = intercept[IllegalArgumentException] {
      KuduStore.addRangePartition(name, Some(250L), Some(500L))
    }
    assert(e.getMessage.contains("overlaps"))
    // dropping a partition discards its rows (Kudu semantics)
    KuduStore.dropRangePartition(name, Some(0L), Some(100L))
    assert(read(name).count() == 201)
  }

  test("projection pushes; non-translatable filters stay residual") {
    val name = "kd_residual"
    mkHashTable(name)
    val q = read(name).filter(col("kind").endsWith("3"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("Filter"), plan) // endsWith is residual
    assert(q.count() == 80)
    // a fully-pushed filter needs no residual
    val pushed = read(name).filter(col("kind") === "k3" &&
      col("score") > 100.0)
    val p2 = pushed.queryExecution.executedPlan.treeString
    assert(p2.contains("PushedFilters"), p2)
    assert(!p2.contains("Filter ("), s"residual re-filter planned:\n$p2")
    assert(pushed.count() == 40) // id % 5 == 3 && id > 200
  }

  test("schema rules are loud: nullable keys, bad hash/range columns") {
    val e1 = intercept[IllegalArgumentException] {
      KuduStore.create("kd_bad1",
        columns = Seq(("id", LongType, true)), pkCount = 1,
        hashCols = Seq("id"), hashBuckets = 2)
    }
    assert(e1.getMessage.contains("must be NOT NULL"))
    val e2 = intercept[IllegalArgumentException] {
      KuduStore.create("kd_bad2",
        columns = Seq(("id", LongType, false), ("v", StringType, true)),
        pkCount = 1, hashCols = Seq("v"), hashBuckets = 2)
    }
    assert(e2.getMessage.contains("must be part of the primary key"))
    // NULL in a non-nullable column is rejected at write
    KuduStore.drop("kd_bad3")
    KuduStore.create("kd_bad3",
      columns = Seq(("id", LongType, false), ("v", StringType, true)),
      pkCount = 1, hashCols = Seq("id"), hashBuckets = 2)
    val e3 = intercept[IllegalArgumentException] {
      KuduStore.upsert("kd_bad3", Seq(null, "x"))
    }
    assert(e3.getMessage.contains("NULL in non-nullable column"))
  }

  test("a selective dim join prunes tablets at RUNTIME (dynamic pruning)") {
    import spark.implicits._
    val name = "kd_runtime"
    mkHashTable(name) // 400 rows hashed over 4 buckets on id
    // the dim keeps two keys behind a SELECTIVE filter (the shape
    // Spark's dynamic-pruning rule requires on the build side) -> the
    // runtime In(id, ...) must prune the scan to those keys' buckets
    val dim = spark.range(1, 101)
      .select(col("id"), (col("id") % 50).as("tag"))
      .filter(col("tag") === 7) // keeps ids 7 and 57
    val joined = read(name).join(broadcast(dim), Seq("id"))
    val rows = joined.collect()
    val scanned = StoreScan.metric(joined, "rowsScanned")
    assert(rows.length == 2)
    // ids 7 and 57 land in at most 2 of the 4 buckets (~100 rows
    // each): roughly half the table is scanned; without runtime
    // pruning all 400 rows would be
    assert(scanned <= 250, s"runtime filter did not prune: $scanned rows")
    // and the executed plan carries the runtime filter on the scan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters: [id"),
      s"no runtime filter on the scan:\n$plan")
  }

  test("storage-partitioned join: co-bucketed tables join shuffle-free") {
    def mk(name: String, mul: Double): Unit = {
      KuduStore.drop(name)
      KuduStore.create(name,
        columns = Seq(("id", LongType, false), ("v", DoubleType, true)),
        pkCount = 1, hashCols = Seq("id"), hashBuckets = 8)
      (1 to 400).foreach(i =>
        KuduStore.upsert(name, Seq(i.toLong, i * mul)))
    }
    mk("spj_a", 1.0)
    mk("spj_b", 2.0)
    spark.conf.set("spark.sql.catalog.kudu_spj",
      classOf[graft.sources.KuduCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.table("kudu_spj.spj_a")
        .join(spark.table("kudu_spj.spj_b").hint("merge")
          .withColumnRenamed("v", "w"), "id")
      val rows = j.collect()
      assert(rows.length == 400)
      val plan = j.queryExecution.executedPlan.toString
      // the co-located join: sort-merge with NO shuffle on either side
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join reshuffled:\n$plan")
      // values correct through the keyed join
      val r7 = rows.find(_.getLong(0) == 7L).get
      assert(r7.getDouble(1) == 7.0 && r7.getDouble(2) == 14.0)
      // negative control: with SPJ off the same join MUST shuffle —
      // proving the assertion above discriminates
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val j2 = spark.table("kudu_spj.spj_a")
        .join(spark.table("kudu_spj.spj_b").hint("merge")
          .withColumnRenamed("v", "w"), "id")
      j2.collect()
      assert(j2.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "negative control failed: join did not shuffle with SPJ off")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    }
  }

  test("SPJ mismatched bucket counts fall back to a shuffle") {
    def mk(name: String, buckets: Int): Unit = {
      KuduStore.drop(name)
      KuduStore.create(name,
        columns = Seq(("id", LongType, false), ("v", DoubleType, true)),
        pkCount = 1, hashCols = Seq("id"), hashBuckets = buckets)
      (1 to 200).foreach(i => KuduStore.upsert(name, Seq(i.toLong, i * 1.0)))
    }
    mk("spj_m8", 8)
    mk("spj_m4", 4)
    spark.conf.set("spark.sql.catalog.kudu_spj",
      classOf[graft.sources.KuduCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // bucket(8, id) and bucket(4, id) are NOT compatible partitionings
    // (the bucket function is not reducible) — Spark must insert the
    // correctness-preserving shuffle, and the rows must still be right
    val j = spark.table("kudu_spj.spj_m8")
      .join(spark.table("kudu_spj.spj_m4").hint("merge")
        .withColumnRenamed("v", "w"), "id")
    val rows = j.collect()
    assert(rows.length == 200)
    assert(rows.find(_.getLong(0) == 9L).exists(r =>
      r.getDouble(1) == 9.0 && r.getDouble(2) == 9.0))
    assert(j.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "mismatched bucket counts did not fall back to a shuffle")
  }

  test("SPJ multi-hash-column grid binds and falls back safely") {
    // bucket(n, id, g): the transform lists BOTH hash columns — the
    // bucket V2 function must BIND (numBuckets, colN...) instead of
    // failing the scan at plan time (the 2-arg-only bind regression).
    // Spark's SPJ currently honors only single-column-leaf transforms
    // (KeyGroupedPartitioning.satisfies requires one leaf per
    // expression), so the jointly-hashed layout planwise falls back to
    // a correctness-preserving shuffle — when Spark lifts that
    // restriction, the zero-exchange join comes free here.
    def mk(name: String): Unit = {
      KuduStore.drop(name)
      KuduStore.create(name,
        columns = Seq(("id", LongType, false), ("g", StringType, false),
          ("v", DoubleType, true)),
        pkCount = 2, hashCols = Seq("id", "g"), hashBuckets = 8)
      (1 to 200).foreach(i =>
        KuduStore.upsert(name, Seq(i.toLong, s"g${i % 3}", i * 1.0)))
    }
    mk("spj_mc_a")
    mk("spj_mc_b")
    spark.conf.set("spark.sql.catalog.kudu_spj",
      classOf[graft.sources.KuduCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val j = spark.table("kudu_spj.spj_mc_a")
      .join(spark.table("kudu_spj.spj_mc_b").hint("merge")
        .withColumnRenamed("v", "w"), Seq("id", "g"))
    val rows = j.collect() // plan-time bind must not throw
    assert(rows.length == 200)
    assert(rows.find(_.getLong(0) == 9L).exists(r =>
      r.getString(1) == "g0" && r.getDouble(2) == 9.0 &&
        r.getDouble(3) == 9.0))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Exchange hashpartitioning"),
      s"expected the conservative shuffle fallback:\n$plan")
  }
}
