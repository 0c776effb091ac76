package graft

import org.apache.spark.sql.functions._

import graft.sources.{ExampleHttpStore, StoreScan}

/** The example-http-shaped connector (sources/ExampleHttpConn.scala):
  * catalog-from-a-document, memoized metadata fetch, split-per-source-
  * URI, loud vanished tables, and the trimmed-CSV cursor rules. */
class ExampleHttpSuite extends GraftSuite {

  private val Meta = "http://meta.example/catalog.json"

  private def seedCatalog(): Unit = {
    ExampleHttpStore.put(Meta,
      """{"example": [
        |  {"name": "numbers",
        |   "columns": [{"name": "word", "type": "varchar"},
        |               {"name": "value", "type": "bigint"},
        |               {"name": "ratio", "type": "double"},
        |               {"name": "flag", "type": "boolean"}],
        |   "sources": ["http://data.example/numbers-1.csv",
        |               "http://data.example/numbers-2.csv",
        |               "http://data.example/numbers-3.csv"]}],
        | "other": [
        |  {"name": "tiny",
        |   "columns": [{"name": "x", "type": "bigint"}],
        |   "sources": ["http://data.example/tiny.csv"]}]}""".stripMargin)
    ExampleHttpStore.put("http://data.example/numbers-1.csv",
      "one, 1, 1.5, true\ntwo,2,2.5,false")
    ExampleHttpStore.put("http://data.example/numbers-2.csv",
      " three ,3, 3.5 ,true")
    ExampleHttpStore.put("http://data.example/numbers-3.csv",
      "four,4,4.5,false\nfive, 5 ,5.5,true")
    ExampleHttpStore.put("http://data.example/tiny.csv", "42")
  }

  private def read(schema: String, table: String) =
    spark.read.format("graft-example-http")
      .option("metadata_uri", Meta).option("schema", schema)
      .option("table", table).load()

  test("the catalog comes from one memoized metadata fetch") {
    seedCatalog()
    val df = read("example", "numbers")
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("word", "string"), ("value", "bigint"),
        ("ratio", "double"), ("flag", "boolean")))
    // several scans over the same handle: data fetches only (3 source
    // docs per scan), no metadata re-fetch
    val counted = df.groupBy().count()
    assert(counted.collect()(0).getLong(0) == 5)
    val summed = df.agg(sum(col("value")))
    assert(summed.collect()(0).getLong(0) == 15L)
    val metaFetches = Seq(counted, summed).map(q =>
      StoreScan.metric(q, "fetches") +
        StoreScan.metric(q, "metadataFetches")).sum
    assert(metaFetches == 6, s"expected 6 data fetches, saw $metaFetches")
  }

  test("one split per source URI; second schema resolves") {
    seedCatalog()
    assert(read("example", "numbers").rdd.getNumPartitions == 3)
    assert(read("other", "tiny").rdd.getNumPartitions == 1)
    assert(read("other", "tiny").head().getLong(0) == 42L)
  }

  test("a vanished table fails loudly at planning") {
    seedCatalog()
    val e = intercept[Exception] {
      read("example", "ghost").count()
    }
    assert(e.getMessage.contains("no longer exists"), e.getMessage)
  }

  test("cursor rules: comma split with TRIMMED fields, typed columns") {
    seedCatalog()
    val rows = read("example", "numbers").orderBy("value").collect()
    // " three ,3, 3.5 ,true" parses trimmed like the reference's
    // Splitter.on(",").trimResults()
    assert(rows(2).getString(0) == "three")
    assert(rows(2).getDouble(2) == 3.5)
    assert(rows(2).getBoolean(3))
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("column pruning reaches the reader") {
    seedCatalog()
    val q = read("example", "numbers").select(col("flag"))
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("graft-example-http"), plan)
    assert(q.filter(col("flag")).count() == 3)
  }
}
