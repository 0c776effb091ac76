package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{AccStore, StoreScan}

/** The Accumulo-shaped connector (sources/AccumuloKvConn.scala): the
  * cardinality-driven index-vs-scan planning of
  * `IndexLookup.applyIndex`, binned index splits, tablet-boundary scan
  * splits, store-side filtering (stale-index tolerance), locality-group
  * pruning, and the mutation write path. */
class AccumuloKvSuite extends GraftSuite {

  // id 1..1000; kind 1% per value, grp 25%, flag ~33%; payload/score
  // live in family "b" (the second locality group)
  private def mkTable(name: String): Unit = {
    AccStore.drop(name)
    AccStore.create(name, rowId = ("id", LongType),
      columns = Seq(
        ("kind", "a", StringType), ("grp", "a", StringType),
        ("flag", "a", BooleanType), ("payload", "b", StringType),
        ("score", "b", DoubleType)),
      indexed = Set("kind", "grp", "flag"),
      localityGroups = Map(
        "meta" -> Seq("kind", "grp", "flag"),
        "data" -> Seq("payload", "score")))
    (1 to 1000).foreach { i =>
      AccStore.put(name, Map(
        "id" -> i.toLong, "kind" -> s"k${i % 100}",
        "grp" -> s"g${i % 4}", "flag" -> (i % 3 == 0),
        "payload" -> s"p$i", "score" -> i * 0.5))
    }
  }

  /** The scan's index-vs-tablet decision, from its description. */
  private def planOf(q: org.apache.spark.sql.DataFrame): String = {
    val text = q.queryExecution.executedPlan.toString
    " plan=(\\S+) cols=".r.findFirstMatchIn(text).fold(text)(_.group(1))
  }

  private def read(name: String, opts: Map[String, String] = Map.empty) = {
    val r = spark.read.format("graft-accumulo").option("table", name)
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("rows sort by row id; mutations overwrite (upsert) + metadata") {
    val name = "acc_sorted"
    AccStore.drop(name)
    AccStore.create(name, rowId = ("id", LongType),
      columns = Seq(("v", "a", StringType)), indexed = Set.empty)
    Seq(5L, 1L, -3L, 9L).foreach(i =>
      AccStore.put(name, Map("id" -> i, "v" -> s"v$i")))
    // overwrite key 5 — Accumulo mutations upsert by key
    AccStore.put(name, Map("id" -> 5L, "v" -> "v5b"))
    val rows = read(name).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(-3L, 1L, 5L, 9L))
    assert(rows.map(_.getString(1)).toSeq == Seq("v-3", "v1", "v5b", "v9"))
    assert(read(name).count() == 4) // not 5: overwrite, not append
    // negative ids sort before positive in the encoded order too
    val (first, last) = AccStore.firstLastRow(name)
    assert(first.contains(AccStore.encodeKey(-3L)))
    assert(last.contains(AccStore.encodeKey(9L)))
  }

  test("selective predicate plans index splits and visits only hits") {
    val name = "acc_index"
    mkTable(name)
    val q = read(name).filter(col("kind") === "k7")
    assert(q.collect().length == 10) // i % 100 == 7
    // 10/1000 = .01 <= lowest-cardinality threshold -> that column alone
    assert(planOf(q).startsWith("index(lowCard(kind)"), planOf(q))
    // 10 candidates visited — not the 1000-row table
    assert(StoreScan.metric(q, "rowsMaterialized") == 10)
    // pushed filter is fully index-handled: no residual re-filter
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("PushedFilters"), plan)
    assert(!plan.contains("Filter ("), s"residual re-filter planned:\n$plan")
  }

  test("two mid-cardinality constraints intersect row-id sets") {
    val name = "acc_intersect"
    mkTable(name)
    // grp .25 and flag .33 both above the .01 low-card threshold ->
    // intersect (i%4==0 && i%3==0 -> i%12==0 -> 83 rows, ratio .083 < .2)
    val q = read(name).filter(col("grp") === "g0" && col("flag") === true)
    assert(q.count() == 83)
    assert(planOf(q).startsWith("index(intersect,83/1000"), planOf(q))
  }

  test("low-card short-circuit skips the intersection, refilters rest") {
    val name = "acc_lowcard"
    mkTable(name)
    // kind at .01 short-circuits; flag is re-applied store-side to the
    // 10 candidates (i%100==7 && i%3==0: 207, 507, 807)
    val q = read(name).filter(col("kind") === "k7" && col("flag") === true)
    assert(q.collect().length == 3)
    assert(planOf(q).startsWith("index(lowCard(kind)"), planOf(q))
    assert(StoreScan.metric(q, "rowsMaterialized") == 10)
  }

  test("index abandoned over the threshold; tablet boundaries split") {
    val name = "acc_scan"
    mkTable(name)
    AccStore.addSplits(name, Seq(250L, 500L, 750L))
    // flag=true is 333/1000 = .33 >= .2 -> full tablet scan
    val q = read(name).filter(col("flag") === true)
    assert(q.count() == 333)
    assert(planOf(q).startsWith("tabletScan("), planOf(q))
    assert(q.rdd.getNumPartitions == 4) // 3 boundaries -> 4 tablets
    // a row-id range also chops on the boundaries inside it
    val r = read(name).filter(col("id") > 300L && col("id") <= 800L)
    assert(r.rdd.getNumPartitions == 3) // cuts at 500, 750
    assert(r.count() == 500)
    // row-id point lookup: one split, one row
    val p = read(name).filter(col("id") === 42L)
    assert(p.rdd.getNumPartitions == 1)
    assert(p.select("payload").head().getString(0) == "p42")
  }

  test("index hits bin into index_rows_per_split splits") {
    val name = "acc_bins"
    mkTable(name)
    val q = read(name, Map("index_rows_per_split" -> "3"))
      .filter(col("kind") === "k7")
    assert(q.rdd.getNumPartitions == 4) // ceil(10/3)
    assert(q.count() == 10)
    // the reference default (10000) packs them into one
    assert(read(name).filter(col("kind") === "k7")
      .rdd.getNumPartitions == 1)
  }

  test("locality groups: untouched family reads zero cells") {
    val name = "acc_locality"
    mkTable(name)
    // projection + predicate confined to family "a" (group "meta")
    val q = read(name).filter(col("grp") === "g1")
      .select(sum(length(col("kind"))))
    assert(q.collect()(0).getLong(0) > 0)
    assert(StoreScan.metric(q, "familyCells.a") > 0)
    assert(StoreScan.metric(q, "familyCells.b") == 0,
      "family 'b' was read for a family-'a'-only query")
    // row-id column cannot be in a locality group (INVALID_TABLE_PROPERTY)
    val e = intercept[IllegalArgumentException] {
      AccStore.create("acc_bad", rowId = ("id", LongType),
        columns = Seq(("v", "a", StringType)), indexed = Set.empty,
        localityGroups = Map("g" -> Seq("id")))
    }
    assert(e.getMessage.contains("Row ID column cannot be in a locality group"))
  }

  test("DSv2 write path: mutations via the Indexer, loud bad schema") {
    import spark.implicits._
    val name = "acc_write"
    AccStore.drop(name)
    AccStore.create(name, rowId = ("id", LongType),
      columns = Seq(("kind", "a", StringType), ("score", "b", DoubleType)),
      indexed = Set("kind"))
    val df = spark.range(1, 201)
      .select(col("id"), concat(lit("k"), col("id") % 5).as("kind"),
        (col("id") * 1.5).as("score"))
    df.write.mode("append").format("graft-accumulo")
      .option("table", name).save()
    // idempotent task retry: the same mutations land on the same keys
    df.write.mode("append").format("graft-accumulo")
      .option("table", name).save()
    assert(read(name).count() == 200)
    // the write fed the index: a selective read uses it
    assert(read(name).filter(col("kind") === "k3").count() == 40)
    // metrics overcount after re-writes (additive, like the reference's
    // Indexer) — but never undercount, and the scan stays exact
    assert(AccStore.metricRowCount(name) == 400)
    // type mismatch fails loudly at plan time
    val bad = spark.range(1, 3)
      .select(col("id"), col("id").cast("string").as("kind"),
        col("id").cast("string").as("score")) // string, table has double
    val e = intercept[Exception] {
      bad.write.mode("append").format("graft-accumulo")
        .option("table", name).save()
    }
    assert(e.getMessage.contains("score"), e.getMessage)
  }

  test("stale index entries from overwrites never surface in results") {
    val name = "acc_stale"
    AccStore.drop(name)
    AccStore.create(name, rowId = ("id", LongType),
      columns = Seq(("kind", "a", StringType)), indexed = Set("kind"))
    (1 to 50).foreach(i =>
      AccStore.put(name, Map("id" -> i.toLong, "kind" -> "old")))
    // overwrite 10 rows to a new kind; the Indexer does NOT remove the
    // old entries (append-only) — the store-side re-filter hides them
    (1 to 10).foreach(i =>
      AccStore.put(name, Map("id" -> i.toLong, "kind" -> "new")))
    assert(read(name).filter(col("kind") === "new").count() == 10)
    assert(read(name).filter(col("kind") === "old").count() == 40)
    assert(read(name).count() == 50)
  }

  test("residual filters stay Spark-side and answer exactly") {
    val name = "acc_residual"
    mkTable(name)
    val q = read(name).filter(col("payload").endsWith("7") &&
      col("grp") === "g1")
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("Filter"), plan) // endsWith is not compilable
    // i%4==1 && i ends in 7: 17, 37, 57, 77, 97 pattern -> 50 rows
    assert(q.count() == 50)
  }

  test("runtime In on the row id prunes to point-range splits") {
    val name = "acc_rt_rowid"
    mkTable(name)
    val dim = spark.range(1, 1001)
      .select(col("id"), (col("id") % 250).as("tag"))
      .filter(col("tag") === 7) // keeps ids 7, 257, 507, 757
    val joined = read(name).select(col("id"), col("score"))
      .join(broadcast(dim.select(col("id"))), Seq("id"))
    val rows = joined.collect()
    val examined = StoreScan.metric(joined, "rowsMaterialized")
    assert(rows.length == 4)
    // point ranges examine exactly the 4 keys; a full tablet scan
    // would walk all 1000 rows
    assert(examined == 4,
      s"runtime row-id filter did not prune: $examined rows of 1000")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters: [id"),
      s"no runtime filter on the scan:\n$plan")
  }

  test("Scan.filter routes runtime indexed-column values via the index") {
    val name = "acc_rt_index"
    mkTable(name)
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // a bare scan (no planning-time predicate): static plan = tablet
    // scan; a runtime In on the INDEXED `kind` column must flip the
    // re-plan onto the secondary index's rowId sets
    val scan = new graft.sources.AccScan(name, Seq(AccStore.FullRange),
      Seq.empty, read(name).schema, Array.empty,
      new CaseInsensitiveStringMap(java.util.Map.of()))
    scan.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        In("kind", Array("k7"))))
    // locked at the Scan level (df.rdd would re-plan under AQE)
    val splits = scan.toBatch.planInputPartitions()
    assert(splits.forall(_.isInstanceOf[graft.sources.AccIndexSplit]),
      s"runtime indexed values did not ride the index: " +
        splits.map(_.getClass.getSimpleName).mkString(","))
    assert(scan.description().contains(" plan=index("), scan.description())
    val rf = scan.toBatch.createReaderFactory()
    var n = 0
    splits.foreach { sp =>
      val r = rf.createReader(sp)
      while (r.next()) { r.get(); n += 1 } // get() advances this reader
    }
    // kind k7 = 1% of 1000 = 10 rowIds fetched via the index; the
    // reader keeps STATIC constraints (pruning only), so all 10 drain
    assert(n == 10, s"index route should drain 10 rows, got $n")
  }
}
