package graft.queries

import scala.util.chaining._

import org.apache.spark.sql.functions._

/** The generator-connector surface (graft.sources.TpchGen — the
  * Spark-native `presto-tpch` analog): gates prove the DataSource V2
  * contract end-to-end — deterministic generation, column pruning,
  * key-predicate pushdown that PRUNES generation, and joins between
  * generated tables — against a DuckDB oracle that replays the
  * generator's closed-form arithmetic verbatim (`h(k,s) =
  * (k*2654435761 + s*40503) % 1000000007`, BIGINT-safe in both
  * engines).
  */
object Connectors extends QueryPack {

  private def gen(s: org.apache.spark.sql.SparkSession, table: String,
      sf: String = "0.01") =
    s.read.format("graft-tpch")
      .option("table", table).option("sf", sf).option("parts", "8").load()

  override def defs: Map[String, Q] = Map(
    // Generator scan + aggregate: per-returnflag counts and sums over
    // 60k generated lineitem rows; the oracle replays the arithmetic.
    "q0a_tpchgen_agg" -> ((s, dir) => {
      gen(s, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("l_returnflag"))
    }),

    // Key pushdown prunes GENERATION (o_orderkey <= 3000 generates
    // 3000 rows, not 15000-and-filter; asserted plan-side in
    // TpchGenSuite) and a generated-orders ⋈ generated-customer join:
    // revenue by market segment with the dimension side broadcast.
    "q0b_tpchgen_join" -> ((s, dir) => {
      val orders = gen(s, "orders").filter(col("o_orderkey") <= 3000)
      val cust = gen(s, "customer")
      orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // The generated star joins across all its reference keys (lineitem
    // ⋈ part ⋈ supplier with dims broadcast), plus the fixed
    // nation/region dimensions — proving referential integrity of the
    // generated key spaces.
    "q0c_tpchgen_star" -> ((s, dir) => {
      val li = gen(s, "lineitem").filter(col("l_orderkey") <= 2500)
      val part = gen(s, "part")
      val supp = gen(s, "supplier")
      val nation = gen(s, "nation")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("p_partkey")).as("n_parts"),
          round(sum(col("l_extendedprice")), 2).as("ext_sum"))
        .orderBy(col("n_regionkey"))
    }),

    // The catalog face (TpchCatalog — Presto's `tpch.tiny.orders`
    // spelling verbatim as a DSv2 TableCatalog wired into the session):
    // a three-table qualified-name join with generation-pruning
    // pushdown on the fact side, replayed arithmetically in DuckDB.
    "q0e_tpch_catalog" -> ((s, dir) => {
      s.sql(
        """SELECT n_name, count(*) AS n,
          |  round(sum(o_totalprice), 2) AS total
          |FROM graft_tpch.tiny.orders o
          |JOIN graft_tpch.tiny.customer c ON o.o_custkey = c.c_custkey
          |JOIN graft_tpch.tiny.nation n ON c.c_nationkey = n.n_nationkey
          |WHERE o.o_orderkey <= 2000
          |GROUP BY n_name ORDER BY n_name""".stripMargin)
    }),

    // The write half of the connector SPI (graft-memory, the
    // presto-memory analog): route fixture rows through the DSv2
    // two-phase write path (task writers → commit messages → atomic
    // install), read them back, and aggregate — the oracle reads the
    // same fixture directly, so the roundtrip must be lossless.
    "q0d_memory_roundtrip" -> ((s, dir) => {
      val supp = graft.Tables.view(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      supp.repartition(4).write.format("graft-memory")
        .option("name", "graft_mem_supplier").mode("overwrite").save()
      s.read.format("graft-memory").option("name", "graft_mem_supplier").load()
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("s_suppkey")).as("key_sum"),
          round(sum(col("s_acctbal")), 2).as("bal_sum"))
        .orderBy(col("s_nationkey"))
    }),

    // The blackhole READ side (graft-blackhole, the presto-blackhole
    // analog): split_count x pages_per_split x rows_per_page zero-rows
    // — numerics 0, boolean false, DATE epoch, '*'-filled varchars —
    // generated across split_count parallel partitions. The oracle is
    // the closed form of the reference's zero-page recipe.
    "q0f_blackhole_read" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val sch = StructType(Seq(
        StructField("a", LongType), StructField("b", DoubleType),
        StructField("c", StringType), StructField("d", BooleanType),
        StructField("e", DateType)))
      s.read.format("graft-blackhole").schema(sch)
        .option("split_count", 4).option("pages_per_split", 3)
        .option("rows_per_page", 5).load()
        .agg(count(lit(1)).as("n"), sum(col("a")).as("a_sum"),
          sum(col("b")).as("b_sum"), min(col("c")).as("c_min"),
          max(length(col("c"))).as("c_len"),
          bool_or(col("d")).as("any_d"), min(col("e")).as("e_min"))
    }),

    // The blackhole WRITE side: a discard sink that costs only the
    // upstream pipeline (the reference's write-benchmark tool). Rows
    // never leave the tasks — each commit message carries one long, and
    // the gate reads the folded per-sink counter back as the result.
    "q0g_blackhole_sink" -> ((s, dir) => {
      import s.implicits._
      graft.sources.BlackholeConn.reset("q0g_sink")
      graft.Tables.view(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .write.format("graft-blackhole").option("name", "q0g_sink")
        .mode("append").save()
      Seq(graft.sources.BlackholeConn.rowsWritten("q0g_sink"))
        .toDF("rows_written")
    }),

    // The jmx catalog's `current` schema (graft_jmx, the presto-jmx
    // analog): the Runtime MBean as a queryable table — node identity,
    // canonical object_name, BIGINT uptime/starttime, VARCHAR vmname.
    // JMX values are process-specific, so the gate pins the
    // DETERMINISTIC surface: name resolution, column typing, and value
    // invariants that hold in any live JVM.
    "q0h_jmx_runtime" -> ((s, dir) => {
      s.sql("""SELECT object_name,
              |  node IS NOT NULL AS has_node,
              |  uptime >= 0 AS up,
              |  starttime > 0 AS started,
              |  vmname IS NOT NULL AS named
              |FROM graft_jmx.current.`java.lang:type=runtime`""".stripMargin)
    }),

    // Wildcard tables + the `history` schema: `java.lang:type=*` unions
    // every single-key java.lang platform bean (the reference's
    // `JmxMetadata.toPattern` wildcard), and two explicit samples into a
    // cleared history buffer read back exactly 2x the current row count
    // with non-null timestamps (the JmxPeriodicSampler analog).
    "q0i_jmx_wildcard_history" -> ((s, dir) => {
      graft.sources.JmxConn.clearHistory("java.lang:type=*")
      graft.sources.JmxConn.sample("java.lang:type=*")
      graft.sources.JmxConn.sample("java.lang:type=*")
      s.sql("""WITH cur AS (
              |  SELECT count(*) AS n_cur,
              |    bool_and(object_name LIKE 'java.lang:type=%') AS prefixed
              |  FROM graft_jmx.current.`java.lang:type=*`),
              |h AS (
              |  SELECT count(*) AS n_hist,
              |    bool_and(timestamp IS NOT NULL) AS stamped
              |  FROM graft_jmx.history.`java.lang:type=*`)
              |SELECT n_cur >= 5 AS many, prefixed,
              |  n_hist = 2 * n_cur AS hist_double, stamped
              |FROM cur CROSS JOIN h""".stripMargin)
    }),

    // The RAW record decoder (functions/RecordDecoders.scala — the
    // presto-record-decoder module's kafka-message layer): encode
    // lineitem rows into big-endian binary messages with the registry's
    // to_big_endian builtins, then decode them back through RawField
    // offset mappings (LONG@0, INT@8, varchar tail@12). The oracle
    // reads the same columns directly — the group-by matching proves
    // the decode is the identity on the encode.
    "q0k_raw_decoder" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import graft.functions.RecordDecoders
      graft.functions.Registry.install(s)
      graft.Tables.view(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .withColumn("msg", expr(
          """concat(to_big_endian_64(l_orderkey),
            |  to_big_endian_32(l_linenumber),
            |  encode(l_returnflag, 'UTF-8'))""".stripMargin))
        .select(
          RecordDecoders.raw(col("msg"), LongType, "LONG", "0").as("k"),
          RecordDecoders.raw(col("msg"), IntegerType, "INT", "8").as("ln"),
          RecordDecoders.raw(col("msg"), StringType, "BYTE", "12").as("rf"))
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          sum(col("ln")).as("ln_sum"))
        .orderBy(col("rf"))
    }),

    // The JSON field decoders: slash-path mappings plus all four dated
    // formats (default cast, seconds/milliseconds-since-epoch, rfc2822,
    // iso8601) round-tripped through to_json/date_format and read back
    // as unix seconds — every decoded timestamp must equal the source
    // epoch, which the oracle computes arithmetically.
    "q0l_json_decoder" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import graft.functions.RecordDecoders
      graft.Tables.view(s, dir, "documents")
        .filter(col("doc_id") <= 50)
        .withColumn("ts_s", col("doc_id") * 86400 + lit(1700000000L))
        .withColumn("msg", to_json(struct(
          struct(col("doc_id").as("id"), col("source").as("src")).as("meta"),
          col("ts_s"), (col("ts_s") * 1000).as("ts_ms"),
          date_format(timestamp_seconds(col("ts_s")),
            "EEE MMM dd HH:mm:ss Z yyyy").as("ts_r"),
          date_format(timestamp_seconds(col("ts_s")),
            "yyyy-MM-dd'T'HH:mm:ss").as("ts_i"))))
        .select(
          RecordDecoders.jsonField(col("msg"), "meta/id", LongType).as("id"),
          RecordDecoders.jsonField(col("msg"), "meta/src", StringType).as("src"),
          unix_seconds(RecordDecoders.jsonField(col("msg"), "ts_s",
            TimestampType, "seconds-since-epoch")).as("u_s"),
          unix_seconds(RecordDecoders.jsonField(col("msg"), "ts_ms",
            TimestampType, "milliseconds-since-epoch")).as("u_ms"),
          unix_seconds(RecordDecoders.jsonField(col("msg"), "ts_r",
            TimestampType, "rfc2822")).as("u_r"),
          unix_seconds(RecordDecoders.jsonField(col("msg"), "ts_i",
            TimestampType, "iso8601")).as("u_i"))
        .orderBy(col("id"))
    }),

    // TPC-DS generator: date_dim calendar correctness — DuckDB computes
    // the proleptic Gregorian calendar ITSELF from the same julian
    // surrogate convention (2415022 = 1900-01-02), so year/quarter/
    // month/day-name derivations must agree cell-for-cell.
    "q0q_tpcdsgen_datedim" -> ((s, dir) => {
      s.read.format("graft-tpcds").option("table", "date_dim").load()
        .filter(col("d_year").between(1999, 2000))
        .groupBy(col("d_year"), col("d_qoy"))
        .agg(count(lit(1)).as("n_days"),
          min(col("d_date_sk")).as("min_sk"),
          min(col("d_date")).as("min_date"),
          max(col("d_dom")).as("max_dom"),
          countDistinct(col("d_moy")).as("n_months"),
          min(col("d_day_name")).as("min_day_name"),
          max(col("d_week_seq")).as("max_week_seq"))
        .orderBy(col("d_year"), col("d_qoy"))
    }),

    // TPC-DS generator star join: store_sales ⋈ date_dim ⋈ item for
    // 1998, revenue by category — dimensions auto-broadcast off the
    // reported statistics, and the oracle replays the fact/dimension
    // arithmetic (incl. the integer-cents price core) verbatim.
    "q0r_tpcdsgen_star" -> ((s, dir) => {
      def t(n: String) =
        s.read.format("graft-tpcds").option("table", n).load()
      t("store_sales")
        .join(t("date_dim"), col("ss_sold_date_sk") === col("d_date_sk"))
        .filter(col("d_year") === 1998)
        .join(t("item"), col("ss_item_sk") === col("i_item_sk"))
        .groupBy(col("i_category"))
        .agg(count(lit(1)).as("n"),
          sum(col("ss_quantity")).cast("bigint").as("qty_sum"),
          round(sum(col("ss_ext_sales_price")), 2).as("rev"))
        .orderBy(col("i_category"))
    }),

    // TPC-DS generator returns slice: every store_return joins back to
    // exactly one parent sales line on (ticket, item) — referential
    // integrity of the every-10th-sale recomputation, through the
    // catalog-qualified spelling.
    "q0s_tpcdsgen_returns" -> ((s, dir) => {
      s.sql("""WITH m AS (
              |  SELECT r.sr_ticket_number, r.sr_item_sk,
              |    count(*) AS n_parents
              |  FROM graft_tpcds.tiny.store_returns r
              |  JOIN graft_tpcds.tiny.store_sales sls
              |    ON r.sr_ticket_number = sls.ss_ticket_number
              |   AND r.sr_item_sk = sls.ss_item_sk
              |  GROUP BY 1, 2)
              |SELECT
              |  (SELECT count(*) FROM graft_tpcds.tiny.store_returns)
              |    AS n_returns,
              |  count(*) AS n_matched,
              |  bool_and(n_parents >= 1) AS all_have_parents
              |FROM m""".stripMargin)
    }),

    // TPC-DS generator demographics: cd is the spec's full mixed-radix
    // CROSS PRODUCT (1,920,800 rows); a cd_demo_sk bound prunes
    // GENERATION to the first 1,400 rows (2x5x7x20 — each
    // (gender, marital, education) cell appears exactly 20 times, one
    // per purchase-estimate level), and the oracle replays the mixed
    // radix in div/mod.
    "q0t_tpcdsgen_demographics" -> ((s, dir) => {
      s.read.format("graft-tpcds")
        .option("table", "customer_demographics").load()
        .filter(col("cd_demo_sk") <= 1400)
        .groupBy(col("cd_gender"), col("cd_marital_status"),
          col("cd_education_status"))
        .agg(count(lit(1)).as("n"),
          sum(col("cd_purchase_estimate")).cast("bigint").as("pe_sum"))
        .orderBy(col("cd_gender"), col("cd_marital_status"),
          col("cd_education_status"))
    }),

    // The AVRO record decoder: single-record object-container messages
    // (the exact form AvroRowDecoder.decodeRow consumes) built
    // driver-side from closed-form arithmetic, decoded distributed by
    // the AvroDecode expression — nullable-union, array, and map fields
    // all surfacing as typed Spark columns. Oracle replays the
    // arithmetic; spark-avro is absent from this distribution, so the
    // expression rides avro-core alone.
    "q0o_avro_decoder" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.RecordDecoders
      val df = (1L to 100L).map(k => Tuple1(q0oAvroMsg(k))).toDF("m")
      df.select(RecordDecoders.avroRow(col("m"), Q0oSchema).as("r"))
        .select(col("r.id").as("id"), col("r.name").as("name"),
          col("r.score").as("score"), size(col("r.tags")).as("ntags"),
          element_at(col("r.attrs"), "b").as("b"))
        .groupBy(coalesce(col("name"), lit("<null>")).as("name"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
          round(sum(col("score")), 2).as("score_sum"),
          sum(col("ntags")).as("tags_total"), sum(col("b")).as("b_sum"))
        .orderBy(col("name"))
    }),

    // Kafka end-to-end, batch half (reference:
    // `presto-kafka/.../KafkaConnectorFactory.java:39` over the
    // record-decoder layer; substitution documented in
    // sources/KafkaLogConn.scala — no broker jar ships here, so the
    // topic log is in-process while everything above the socket stays
    // Kafka-shaped). Producer: the DSv2 sink with explicit key/value/
    // partition/timestamp columns, RAW-framed lineitem messages
    // (big-endian LONG@0, INT@8, varchar tail@12). Consumer:
    // `format("graft-kafka")` scan — one split per partition offset
    // range — decoded by the same RawField expressions q0k locks.
    // The gate checks the decode AND the transport metadata: key bytes
    // round-trip, the explicit partition is honored, the produce
    // timestamp survives as CreateTime (timestampType 0).
    "q1d_kafka_raw" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import graft.functions.RecordDecoders
      graft.functions.Registry.install(s)
      val topic = s"graft_q1d_${Integer.toHexString(dir.hashCode)}"
      graft.sources.KafkaLog.create(topic, 2)
      graft.Tables.view(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(
          expr("to_big_endian_64(l_orderkey)").as("key"),
          expr("""concat(to_big_endian_64(l_orderkey),
                |  to_big_endian_32(l_linenumber),
                |  encode(l_returnflag, 'UTF-8'))""".stripMargin).as("value"),
          (col("l_orderkey") % 2).cast("int").as("partition"),
          timestamp_millis(lit(1700000000000L) + col("l_orderkey") * 1000)
            .as("timestamp"))
        .write.mode("append").format("graft-kafka").option("topic", topic).save()
      s.read.format("graft-kafka").option("subscribe", topic).load()
        .select(
          RecordDecoders.raw(col("key"), LongType, "LONG", "0").as("kk"),
          RecordDecoders.raw(col("value"), LongType, "LONG", "0").as("k"),
          RecordDecoders.raw(col("value"), IntegerType, "INT", "8").as("ln"),
          RecordDecoders.raw(col("value"), StringType, "BYTE", "12").as("rf"),
          col("partition"), col("timestamp"), col("timestampType"))
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          sum(col("ln")).as("ln_sum"),
          bool_and(col("kk") === col("k")).as("key_ok"),
          bool_and(col("partition") === (col("k") % 2).cast("int"))
            .as("part_ok"),
          bool_and(unix_millis(col("timestamp")) ===
            lit(1700000000000L) + col("k") * 1000).as("ts_ok"),
          bool_and(col("timestampType") === 0).as("tstype_ok"))
        .orderBy(col("rf"))
    }),

    // Kafka end-to-end, offset-semantics half: JSON documents messages
    // keyed by doc_id, partitioned doc_id % 2. The full read checks the
    // log invariants per partition (offsets contiguous from 0, all
    // distinct) plus the slash-path JSON field decode; a second scan
    // with Kafka-JSON `startingOffsets` skipping 5 per partition proves
    // the split planner honors explicit offset ranges (the
    // `KafkaSplitManager` begin/end contract).
    "q1e_kafka_json" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import graft.functions.RecordDecoders
      val topic = s"graft_q1e_${Integer.toHexString(dir.hashCode)}"
      graft.sources.KafkaLog.create(topic, 2)
      graft.Tables.view(s, dir, "documents")
        .filter(col("doc_id") <= 50)
        .select(
          expr("encode(cast(doc_id AS string), 'UTF-8')").as("key"),
          encode(to_json(struct(
            struct(col("doc_id").as("id"), col("source").as("src"))
              .as("meta"),
            (col("doc_id") * 7).as("v"))), "UTF-8").as("value"),
          (col("doc_id") % 2).cast("int").as("partition"))
        .write.mode("append").format("graft-kafka").option("topic", topic).save()
      val full = s.read.format("graft-kafka").option("subscribe", topic)
        .load()
        .select(col("partition").as("part"), col("offset"),
          RecordDecoders.jsonField(col("value").cast("string"), "meta/id",
            LongType).as("id"),
          RecordDecoders.jsonField(col("value").cast("string"), "v",
            LongType).as("v"))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n"), min(col("offset")).as("min_off"),
          max(col("offset")).as("max_off"),
          countDistinct(col("offset")).as("n_off"),
          sum(col("id")).as("id_sum"), sum(col("v")).as("v_sum"))
      val tail = s.read.format("graft-kafka").option("subscribe", topic)
        .option("startingOffsets", s"""{"$topic":{"0":5,"1":5}}""")
        .load()
        .groupBy(col("partition").as("part"))
        .agg(count(lit(1)).as("n_tail"))
      full.join(tail, "part").orderBy(col("part"))
    }),

    // Kafka end-to-end, Avro half: the q0o single-record
    // object-container messages produced to a 1-partition topic (the
    // driver-side test-producer shape), scanned back and decoded by
    // AvroDecode — the exact aggregate q0o locks, now with the topic
    // transport in the middle.
    "q1f_kafka_avro" -> ((s, dir) => {
      import graft.functions.RecordDecoders
      val topic = s"graft_q1f_${Integer.toHexString(dir.hashCode)}"
      graft.sources.KafkaLog.create(topic, 1)
      (1L to 100L).foreach(k => graft.sources.KafkaLog.produce(
        topic, 0, null, q0oAvroMsg(k), 1700000000000L + k))
      s.read.format("graft-kafka").option("subscribe", topic).load()
        .select(RecordDecoders.avroRow(col("value"), Q0oSchema).as("r"))
        .select(col("r.id").as("id"), col("r.name").as("name"),
          col("r.score").as("score"), size(col("r.tags")).as("ntags"),
          element_at(col("r.attrs"), "b").as("b"))
        .groupBy(coalesce(col("name"), lit("<null>")).as("name"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
          round(sum(col("score")), 2).as("score_sum"),
          sum(col("ntags")).as("tags_total"), sum(col("b")).as("b_sum"))
        .orderBy(col("name"))
    }),

    // The local-file log connector (graft-localfile, the
    // presto-local-file analog): three deterministically-derived
    // rotation files (middle one GZIPPED — the connector sniffs the
    // magic) read back as the http_request_log table, with a timestamp
    // predicate that file-prunes the last rotation at the SCAN (its
    // first record is past the bound) and row-filters the straddler.
    // The oracle replays the line-derivation arithmetic in DuckDB.
    "q0n_localfile_log" -> ((s, dir) => {
      val logDir = writeQ0nLogs()
      s.read.format("graft-localfile").option("dir", logDir).load()
        .filter(col("timestamp") < lit("2024-01-01 08:00:00").cast("timestamp"))
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n"),
          sum(col("response_code")).as("code_sum"),
          sum(col("response_size")).as("resp_sum"),
          count(when(col("trace_token").isNull, 1)).as("n_null_trace"),
          min(col("request_uri")).as("min_uri"))
        .orderBy(col("method"))
    }),

    // Redis end-to-end, SCAN half (reference: `presto-redis/.../
    // RedisConnectorFactory.java:39`; the in-process store substitution
    // is documented in sources/RedisKvConn.scala — no server or client
    // jar ships here, everything above the socket stays
    // Redis-connector-shaped). String-keyed table discovered by the
    // key-prefix match pattern `docs:*` (`RedisRecordCursor
    // .setScanParms`): JSON string values decoded by the same
    // record-decoder layer the kafka gates use. The keyspace is
    // polluted with another table's keys (excluded by the match
    // pattern) and a hash-typed key under the table prefix (skipped by
    // the string-value fetch — the cursor's "data modified" arm), so
    // the aggregate proves the table mapping, not just the decode.
    "q1o_redis_scan" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import graft.functions.RecordDecoders
      graft.Tables.view(s, dir, "documents")
        .filter(col("doc_id") <= 200)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .collect().toSeq.map(r => ("docs:" + r.getLong(0),
          s"""{"lang":"${r.getString(1)}","nc":${r.getLong(2)}}"""))
        .pipe(graft.sources.RedisStore.setBatch)
      // other-table keys and a re-typed key: both must be invisible
      graft.sources.RedisStore.set("other:1", """{"lang":"xx","nc":1}""")
      graft.sources.RedisStore.set("othertable:9", """{"lang":"xx","nc":1}""")
      graft.sources.RedisStore.hset("docs:9999999",
        Map("lang" -> "xx", "nc" -> "1"))
      s.read.format("graft-redis").option("table", "docs").load()
        .select(
          RecordDecoders.jsonField(col("value"), "lang", StringType)
            .as("lang"),
          RecordDecoders.jsonField(col("value"), "nc", LongType).as("nc"),
          col("key"), col("key_length"), col("value_length"),
          col("value"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("nc")).as("nc_sum"),
          sum(col("key_length")).as("klen_sum"),
          bool_and(col("key_length") === length(col("key")))
            .as("klen_ok"),
          bool_and(col("value_length") === length(col("value")))
            .as("vlen_ok"),
          bool_and(col("key").startsWith("docs:")).as("prefix_ok"))
        .orderBy(col("lang"))
    }),

    // Redis end-to-end, ZSET half: the table's keys live in a
    // user-provided sorted set, chunked into stride-100 index-range
    // splits (`RedisSplitManager.java:62-113` — zcount, stride, end=-1
    // tail), values are redis HASHes surfaced as a field map
    // (`RedisRecordCursor.java:343`). The gate pins the split contract
    // (ceil(n/100) non-empty scan partitions, counted by
    // spark_partition_id before any shuffle) alongside the hash-field
    // arithmetic.
    "q1p_redis_zset_hash" -> ((s, dir) => {
      // orders, not lineitem: the key must identify a row, and
      // o_orderkey is the testdata's unique key
      val rows = graft.Tables.view(s, dir, "orders")
        .filter(col("o_orderkey") <= 1200)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .collect()
      rows.foreach { r =>
        val key = "ord:" + r.getLong(0)
        graft.sources.RedisStore.zadd("ord_index",
          r.getLong(0).toDouble, key)
        graft.sources.RedisStore.hset(key, Map(
          "status" -> r.getString(1),
          "price" -> r.getDouble(2).toString,
          "prio" -> r.getString(3)))
      }
      val scan = s.read.format("graft-redis")
        .option("table", "ord").option("key.format", "zset")
        .option("key.name", "ord_index").option("value.format", "hash")
        .load()
        .withColumn("pid", spark_partition_id())
      val nSplits = scan.select(col("pid")).distinct().count()
      scan
        .select(element_at(col("hash"), "status").as("status"),
          element_at(col("hash"), "price").cast("double").as("price"),
          element_at(col("hash"), "prio").as("prio"),
          col("value").isNull.as("value_null"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price")), 2).as("price_sum"),
          min(col("prio")).as("min_prio"),
          bool_and(col("value_null")).as("string_arm_null"),
          lit(nSplits).as("n_splits"))
        .orderBy(col("status"))
    }),

    // Elasticsearch end-to-end (reference: `presto-elasticsearch/.../
    // ElasticsearchConnectorFactory.java:31`; in-process substitution
    // documented in sources/EsIndexConn.scala — no server/client jar
    // here, but the store builds REAL per-shard search structures:
    // posting lists + value-sorted arrays). One split per shard
    // (`ElasticsearchSplitManager`), predicates compiled onto the
    // term/range/exists surface (`ElasticsearchQueryBuilder`) and
    // answered from the index — only hits materialize. The gate runs a
    // terms-IN + numeric-range query and an IS NULL (missing-field)
    // query, joins the per-source aggregates, and pins the shard
    // fan-out counted at runtime.
    "q1t_es_search" -> ((s, dir) => {
      import graft.sources.EsStore
      import org.apache.spark.sql.types._
      val ixName = s"docs_idx_${Integer.toHexString(dir.hashCode)}"
      EsStore.drop(ixName)
      EsStore.create(ixName, 5, Seq(
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType, "nc7" -> LongType))
      EsStore.bulk(ixName, graft.Tables.view(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .collect().toSeq.map { r =>
          val id = r.getLong(0)
          (s"doc$id", Map[String, Any](
            "lang" -> r.getString(1), "source" -> r.getString(2),
            "n_chars" -> r.getLong(3),
            "nc7" -> (if (id % 7 == 0) null else r.getLong(3))))
        })
      def scan = s.read.format("graft-es").option("index", ixName).load()
      val nSplits = scan.select(spark_partition_id())
        .distinct().count() // every shard non-empty at 500 docs
      val hits = scan
        .filter(col("lang").isin("en", "fr") && col("n_chars") > 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("nc_sum"))
      val missing = scan.filter(col("nc7").isNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_missing"))
      hits.join(missing, Seq("source"), "left")
        .select(col("source"), col("n"), col("nc_sum"),
          coalesce(col("n_missing"), lit(0L)).as("n_missing"),
          lit(nSplits).as("n_shards"))
        .orderBy(col("source"))
    }),

    // Cassandra end-to-end (reference: `presto-cassandra/.../
    // CassandraConnectorFactory.java:37`; in-process substitution
    // documented in sources/CassandraRingConn.scala — rows live hashed
    // by partition key on a token ring, clustering-sorted within each
    // partition). The gate drives the full lifecycle: the DSv2 writer
    // upserts an orders slice (wide rows per customer), a token-range
    // scan aggregates per status (split count = the reference's
    // max(partitions/splitSize, 1) formula, pinned), and a point lookup
    // on one customer plans a single partition split with a
    // clustering-range slice on top.
    "q1v_cassandra_ring" -> ((s, dir) => {
      import graft.sources.CassStore
      import org.apache.spark.sql.types._
      val tbl = s"orders_ring_${Integer.toHexString(dir.hashCode)}"
      CassStore.drop(tbl)
      CassStore.create(tbl,
        partitionKeys = Seq("o_custkey"), clusteringKeys = Seq("o_orderkey"),
        fields = Seq("o_custkey" -> LongType, "o_orderkey" -> LongType,
          "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType))
      val src = graft.Tables.view(s, dir, "orders")
        .filter(col("o_custkey") <= 2000)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      src.write.mode("append").format("graft-cassandra")
        .option("table", tbl).save()
      def scan = s.read.format("graft-cassandra").option("table", tbl).load()
      val nSplits = scan.rdd.getNumPartitions
      val minCk = src.agg(min(col("o_custkey"))).head().getLong(0)
      val mine = scan.filter(col("o_custkey") === minCk)
      val nCust = mine.count()
      val minOk = mine.agg(min(col("o_orderkey"))).head().getLong(0)
      // clustering-range slice within the single pruned partition
      val nTail = scan.filter(col("o_custkey") === minCk &&
        col("o_orderkey") > minOk).count()
      scan.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("price_sum"))
        .withColumn("n_splits", lit(nSplits.toLong))
        .withColumn("n_cust", lit(nCust))
        .withColumn("n_cust_tail", lit(nTail))
        .orderBy(col("o_orderstatus"))
    }),

    // MongoDB end-to-end (reference: `presto-mongodb/.../
    // MongoConnectorFactory.java:32`; in-process substitution
    // documented in sources/MongoDocConn.scala). The distinctive
    // mechanics under test: the table schema is GUESSED from the
    // collection's first document (`MongoSession.guessTableFields`) —
    // including the NESTED user/metrics rows — and predicates compile
    // to the query-document operators ($eq/$gt/$lte) applied before
    // documents reach Spark, while the nested-field predicate stays a
    // residual Spark filter. Events arrive as nested documents through
    // the DSv2 INSERT path (`MongoPageSink`).
    "q1w_mongo_docs" -> ((s, dir) => {
      import graft.sources.MongoStore
      val coll = s"events_docs_${Integer.toHexString(dir.hashCode)}"
      MongoStore.drop(coll)
      // seed the schema prototype doc (the "first document" the
      // inference reads), matching the insert shape below
      MongoStore.insert(coll, Map(
        "event_id" -> -1L, "etype" -> "seed",
        "user" -> Map("id" -> 0L, "bucket" -> 0L),
        "metrics" -> Map("value" -> 0.0, "k" -> 0L)))
      graft.Tables.view(s, dir, "events")
        .filter(col("event_id") <= 4000)
        .select(col("event_id"), col("event_type").as("etype"),
          struct(col("user_id").as("id"),
            (col("user_id") % 10).as("bucket")).as("user"),
          struct(col("value"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
            .as("metrics"))
        .write.mode("append").format("graft-mongo")
        .option("collection", coll).save()
      s.read.format("graft-mongo").option("collection", coll).load()
        .filter(col("etype") === "click" && col("event_id") > 100 &&
          col("event_id") <= 3500)
        .filter(col("user.bucket") < 5) // residual nested predicate
        .groupBy(col("user.bucket").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("metrics.value")), 2).as("v_sum"),
          sum(col("metrics.k")).as("k_sum"))
        .orderBy(col("bucket"))
    }),

    // Druid end-to-end (reference: `presto-druid/.../
    // DruidConnectorFactory.java`; in-process substitution documented
    // in sources/DruidSegmentConn.scala — a datasource IS a set of
    // time-interval segments). The distinctive mechanics under test:
    // events ingest into 6-hour segments; a `__time` range PRUNES
    // segments at planning; the grouped count/sum/min/max pushes via
    // SupportsPushDownAggregates so each segment answers with partial
    // per-group aggregates and Spark performs the broker merge (the
    // DruidSegmentSuite locks the partial-row cardinality; this gate
    // locks the merged numbers against DuckDB).
    "q1x_druid_rollup" -> ((s, dir) => {
      import graft.sources.DruidStore
      import org.apache.spark.sql.types._
      val dsName = s"events_seg_${Integer.toHexString(dir.hashCode)}"
      val SixH = 6L * 3600 * 1000
      DruidStore.drop(dsName)
      DruidStore.create(dsName, granularityMs = SixH,
        dims = Seq("etype"), metrics = Seq("value" -> DoubleType,
          "uid" -> LongType))
      graft.Tables.view(s, dir, "events")
        .select(unix_millis(col("ts")).as("tms"), col("event_type"),
          col("value"), col("user_id"))
        .collect().toSeq.map(r => (r.getLong(0), Seq(r.getString(1)),
          Seq[Any](r.getDouble(2), r.getLong(3))))
        .pipe(DruidStore.ingestBatch(dsName, _))
      val scan = s.read.format("graft-druid")
        .option("datasource", dsName).load()
      val nSegs = scan.rdd.getNumPartitions
      // time window: [epoch(2024-01-01 06:00), epoch(2024-01-02 00:00))
      val lo = java.time.LocalDateTime.of(2024, 1, 1, 6, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      val hi = java.time.LocalDateTime.of(2024, 1, 2, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      val windowed = scan.filter(col("__time") >= lo && col("__time") < hi)
      val nPruned = windowed.rdd.getNumPartitions
      windowed.groupBy(col("etype"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("v_sum"),
          min(col("uid")).as("uid_min"), max(col("uid")).as("uid_max"))
        .withColumn("n_segments", lit(nSegs.toLong))
        .withColumn("n_pruned", lit(nPruned.toLong))
        .orderBy(col("etype"))
    }),

    // Accumulo end-to-end (reference: `presto-accumulo/.../
    // AccumuloConnectorFactory.java`; in-process substitution
    // documented in sources/AccumuloKvConn.scala — rows sorted by an
    // order-preserving row-id encoding, secondary index + metrics
    // tables fed by every mutation). The distinctive mechanics under
    // test: orders arrive through the DSv2 mutation path (row id =
    // o_orderkey, the first column, like `AccumuloClient
    // .getRowIdColumn`); a selective indexed predicate (status 'P',
    // ~4% of rows) rides the SECONDARY INDEX (`IndexLookup.applyIndex`
    // — cardinality metrics say 4% < the 20% threshold); a broad
    // 3-priority IN (~60%) ABANDONS the index for a tablet scan; and a
    // row-id range chops on tablet boundaries. All three arms are
    // re-counted against DuckDB; AccumuloKvSuite locks the plan
    // decisions themselves.
    "q1y_accumulo_table" -> ((s, dir) => {
      import graft.sources.AccStore
      import org.apache.spark.sql.types._
      val tbl = s"orders_acc_${Integer.toHexString(dir.hashCode)}"
      AccStore.drop(tbl)
      AccStore.create(tbl, rowId = ("o_orderkey", LongType),
        columns = Seq(
          ("o_custkey", "m", LongType),
          ("o_orderstatus", "m", StringType),
          ("o_orderpriority", "m", StringType),
          ("o_totalprice", "v", DoubleType)),
        indexed = Set("o_orderstatus", "o_orderpriority"),
        localityGroups = Map(
          "keys" -> Seq("o_custkey", "o_orderstatus", "o_orderpriority"),
          "vals" -> Seq("o_totalprice")))
      AccStore.addSplits(tbl, Seq(1500L, 3000L, 4500L))
      // r18 note (measured): spreading this write across 32 tasks
      // (repartition before save) LOSES — the fixture arrives rowid-
      // sorted, so one writer appends at the skiplist tail, while 32
      // writers insert at random points and contend (q1y 0.67 -> 0.71,
      // q2m 0.94 -> 1.22 isolated). Parallel page sinks are still the
      // cluster shape; at gate scale the exchange + CAS churn dominates.
      graft.Tables.view(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice"))
        .write.mode("append").format("graft-accumulo")
        .option("table", tbl).save()
      def scan = s.read.format("graft-accumulo")
        .option("table", tbl).load()
      // index-path arm: rare status rides the secondary index
      val p = scan.filter(col("o_orderstatus") === "P")
        .agg(count(lit(1)), sum(col("o_custkey"))).head()
      val (nP, custSumP) = (p.getLong(0), p.getLong(1))
      // row-id-range arm: chopped on the tablet boundaries inside it
      val nRange = scan.filter(col("o_orderkey") <= 6000L).count()
      // tablet-scan arm: ~60% of rows — the index is abandoned
      scan.filter(col("o_orderpriority")
          .isin("1-URGENT", "2-HIGH", "3-MEDIUM"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("price_sum"))
        .withColumn("n_p", lit(nP))
        .withColumn("cust_sum_p", lit(custSumP))
        .withColumn("n_range", lit(nRange))
        .orderBy(col("o_orderpriority"))
    }),

    // Kudu end-to-end (reference: `presto-kudu/.../
    // KuduConnectorFactory.java`; in-process substitution documented in
    // sources/KuduTabletConn.scala — a table IS a tablet grid of
    // hash buckets x range partitions, rows pk-sorted per tablet). The
    // distinctive mechanics under test: events upsert twice through the
    // DSv2 path (`KuduPageSink.newUpsert` — idempotent, counts don't
    // double); a point lookup on the hash+range key hits ONE tablet; a
    // range predicate prunes whole range partitions off the grid
    // (`buildKuduSplits` scan tokens). All arms re-counted in DuckDB;
    // KuduTabletSuite locks the split counts themselves.
    "q1z_kudu_tablets" -> ((s, dir) => {
      import graft.sources.KuduStore
      import org.apache.spark.sql.types._
      val tbl = s"events_kudu_${Integer.toHexString(dir.hashCode)}"
      KuduStore.drop(tbl)
      KuduStore.create(tbl,
        columns = Seq(("event_id", LongType, false),
          ("user_id", LongType, false), ("event_type", StringType, true),
          ("value", DoubleType, true)),
        pkCount = 1, hashCols = Seq("event_id"), hashBuckets = 4,
        rangeCol = Some("event_id"),
        rangeBounds = Seq((None, Some(2000L)), (Some(2000L), Some(4000L)),
          (Some(4000L), None)))
      val src = graft.Tables.view(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      // upsert twice: task-retry idempotence end-to-end
      src.write.mode("append").format("graft-kudu")
        .option("table", tbl).save()
      src.write.mode("append").format("graft-kudu")
        .option("table", tbl).save()
      def scan = s.read.format("graft-kudu").option("table", tbl).load()
      val nTablets = scan.rdd.getNumPartitions // 4 buckets x 3 ranges
      // point lookup: hash + range pruning meet at one tablet
      val point = scan.filter(col("event_id") === 123L)
      val nPointSplits = point.rdd.getNumPartitions
      val pointCnt = point.count()
      // range arm: (2500, 5000] prunes the first range partition
      val ranged = scan.filter(col("event_id") > 2500L &&
        col("event_id") <= 5000L)
      val nRangeSplits = ranged.rdd.getNumPartitions
      val nRange = ranged.count()
      scan.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("v_sum"))
        .withColumn("n_tablets", lit(nTablets.toLong))
        .withColumn("n_point_splits", lit(nPointSplits.toLong))
        .withColumn("n_point", lit(pointCnt))
        .withColumn("n_range_splits", lit(nRangeSplits.toLong))
        .withColumn("n_range", lit(nRange))
        .orderBy(col("event_type"))
    }),

    // Kudu runtime tablet pruning (Spark's dynamic-pruning hook for
    // DSv2, SPARK-35779, on the q1z connector): a SELECTIVE dim join's
    // build-side key values arrive at the scan as runtime In-filters
    // and prune hash buckets at EXECUTION time — the dynamic
    // counterpart of Kudu's scan-token pruning. The gate reads its own
    // scan's `rowsScanned` metric: with 16 buckets and ~19 surviving
    // keys, far fewer than the full table's rows may flow (the boolean
    // lock); the join itself replays in DuckDB.
    "q2j_kudu_runtime_pruning" -> ((s, dir) => {
      import graft.sources.{KuduStore, StoreScan}
      import org.apache.spark.sql.types._
      val tbl = s"ev_kudu_rt_${Integer.toHexString(dir.hashCode)}"
      KuduStore.drop(tbl)
      KuduStore.create(tbl,
        columns = Seq(("event_id", LongType, false),
          ("event_type", StringType, true), ("value", DoubleType, true)),
        pkCount = 1, hashCols = Seq("event_id"), hashBuckets = 16)
      graft.Tables.view(s, dir, "events")
        .filter(col("event_id") <= 4000)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("append").format("graft-kudu")
        .option("table", tbl).save()
      val total = s.read.format("graft-kudu").option("table", tbl)
        .load().count()
      val dim = graft.Tables.view(s, dir, "events")
        .select(col("event_id"))
        .filter(col("event_id") <= 4000 && col("event_id") % 211 === 0)
      val joined = s.read.format("graft-kudu").option("table", tbl)
        .load()
        .join(broadcast(dim), Seq("event_id"))
      val q = joined
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2)
          .as("v_sum"),
          min(col("event_id")).as("k_min"), max(col("event_id"))
            .as("k_max"))
      val agg = q.collect()(0)
      val scanned = StoreScan.metric(q, "rowsScanned")
      import s.implicits._
      Seq((agg.getLong(0), agg.getDouble(1), agg.getLong(2),
        agg.getLong(3), scanned < total))
        .toDF("n", "v_sum", "k_min", "k_max", "runtime_pruned")
    }),

    // ES runtime term pruning (SPARK-35779 on the q1t connector): a
    // selective dim join's build-side keys arrive at the scan as
    // runtime In-filters and compile onto the SAME posting-list
    // surface planning-time predicates use — each shard answers the
    // join probe from its term index, so only matching documents
    // materialize (the search-index counterpart of Kudu's runtime
    // tablet pruning, q2j; beyond the reference, which has no dynamic
    // filtering in this snapshot). The gate reads its own scan's
    // `docsMaterialized` metric: with ~5 surviving keys of 500+
    // indexed docs, far fewer than the corpus may flow (the boolean
    // lock); the join replays in DuckDB.
    "q2l_es_runtime_pruning" -> ((s, dir) => {
      import graft.sources.{EsStore, StoreScan}
      import org.apache.spark.sql.types._
      val ixName = s"docs_rt_${Integer.toHexString(dir.hashCode)}"
      EsStore.drop(ixName)
      EsStore.create(ixName, 5, Seq(
        "dockey" -> StringType, "source" -> StringType,
        "n_chars" -> LongType))
      EsStore.bulk(ixName, graft.Tables.view(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .collect().toSeq.map { r =>
          val id = r.getLong(0)
          (s"doc$id", Map[String, Any]("dockey" -> s"d$id",
            "source" -> r.getString(1), "n_chars" -> r.getLong(2)))
        })
      val total = s.read.format("graft-es").option("index", ixName)
        .load().count()
      // a SELECTIVE parquet-side filter (the shape Spark's dynamic
      // pruning rule requires of the build side)
      val dim = graft.Tables.view(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0)
        .select(concat(lit("d"), col("doc_id")).as("dockey"))
      val joined = s.read.format("graft-es").option("index", ixName)
        .load()
        .join(broadcast(dim), Seq("dockey"))
      val q = joined
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("nc_sum"),
          min(col("dockey")).as("k_min"), max(col("dockey")).as("k_max"))
      val agg = q.collect()(0)
      val materialized = StoreScan.metric(q, "docsMaterialized")
      import s.implicits._
      Seq((agg.getLong(0), agg.getLong(1), agg.getString(2),
        agg.getString(3), materialized < total))
        .toDF("n", "nc_sum", "k_min", "k_max", "runtime_pruned")
    }),

    // Accumulo runtime row-id pruning (SPARK-35779 on the q1y
    // connector): the build-side keys arrive as a runtime In on the
    // ROW ID and intersect the row-range set into point lookups
    // chopped on tablet boundaries — the dynamic counterpart of the
    // q1y range arm (runtime values on INDEXED columns ride the
    // IndexLookup decision tree instead; AccumuloKvSuite locks both
    // arms at the Scan level). The gate reads its own scan's
    // `rowsMaterialized` metric: with ~28 surviving keys of 6000
    // rows, far fewer than the table may flow; the join replays in
    // DuckDB.
    "q2m_accumulo_runtime_pruning" -> ((s, dir) => {
      import graft.sources.{AccStore, StoreScan}
      import org.apache.spark.sql.types._
      val tbl = s"ord_accrt_${Integer.toHexString(dir.hashCode)}"
      AccStore.drop(tbl)
      AccStore.create(tbl, rowId = ("o_orderkey", LongType),
        columns = Seq(
          ("o_orderstatus", "m", StringType),
          ("o_totalprice", "v", DoubleType)),
        indexed = Set("o_orderstatus"),
        localityGroups = Map("keys" -> Seq("o_orderstatus"),
          "vals" -> Seq("o_totalprice")))
      AccStore.addSplits(tbl, Seq(1500L, 3000L, 4500L))
      graft.Tables.view(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("append").format("graft-accumulo")
        .option("table", tbl).save()
      val total = s.read.format("graft-accumulo").option("table", tbl)
        .load().count()
      val dim = graft.Tables.view(s, dir, "orders")
        .select(col("o_orderkey"))
        .filter(col("o_orderkey") % 211 === 0)
      val joined = s.read.format("graft-accumulo").option("table", tbl)
        .load()
        .join(broadcast(dim), Seq("o_orderkey"))
      val q = joined
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("price_sum"),
          min(col("o_orderkey")).as("k_min"),
          max(col("o_orderkey")).as("k_max"))
      val agg = q.collect()(0)
      val examined = StoreScan.metric(q, "rowsMaterialized")
      import s.implicits._
      Seq((agg.getLong(0), agg.getDouble(1), agg.getLong(2),
        agg.getLong(3), examined < total))
        .toDF("n", "price_sum", "k_min", "k_max", "runtime_pruned")
    }),

    // Storage-partitioned join on the Kudu analog (SPARK-37375 on the
    // q1z connector; the reference models the same idea as
    // bucket-compatible exchanges, `presto-hive/.../HiveBucketing
    // .java`, and Kudu itself co-locates by hash bucket): two tables
    // hash-bucketed the SAME way join with ZERO exchange — each
    // catalog-loaded scan reports its bucket layout as a
    // KeyGroupedPartitioning (sources/KuduCatalog.scala resolves the
    // bucket transform; every split carries its bucket id), and
    // EnsureRequirements recognizes the sides as co-partitioned. At
    // 100 TB this deletes the largest shuffle a fact-fact join pays.
    // The boolean locks that NO hash exchange on the join key exists
    // in the executed plan (the post-join group-by's own exchange is
    // on a different key); the join replays in DuckDB.
    "q2u_kudu_spj" -> ((s, dir) => {
      import graft.sources.KuduStore
      import org.apache.spark.sql.types._
      val tag = Integer.toHexString(dir.hashCode)
      val fact = s"ev_spjf_$tag"
      val dim = s"ev_spjd_$tag"
      def mk(name: String, cols: Seq[(String, DataType, Boolean)]): Unit = {
        KuduStore.drop(name)
        KuduStore.create(name, cols, pkCount = 1,
          hashCols = Seq("event_id"), hashBuckets = 8)
      }
      mk(fact, Seq(("event_id", LongType, false),
        ("event_type", StringType, true), ("value", DoubleType, true)))
      mk(dim, Seq(("event_id", LongType, false),
        ("user_id", LongType, true)))
      val src = graft.Tables.view(s, dir, "events")
        .filter(col("event_id") <= 4000)
      src.select(col("event_id"), col("event_type"), col("value"))
        .write.mode("append").format("graft-kudu")
        .option("table", fact).save()
      src.select(col("event_id"), col("user_id"))
        .write.mode("append").format("graft-kudu")
        .option("table", dim).save()
      s.conf.set("spark.sql.catalog.graft_kudu_cat",
        classOf[graft.sources.KuduCatalog].getName)
      // v2 bucketing scoped to THIS gate: leaving it on session-wide
      // would put every later Kudu scan on the SPJ partitioning path
      // (and disable their runtime split pruning — see KuduScan
      // .planInputPartitions)
      val prevBucketing = s.conf
        .getOption("spark.sql.sources.v2.bucketing.enabled")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val joined = s.table(s"graft_kudu_cat.$fact")
          .join(s.table(s"graft_kudu_cat.$dim").hint("merge"), "event_id")
        val agg = joined.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v_sum"),
            sum(col("user_id")).as("uid_sum"))
        val out = agg.collect()
        val plan = agg.queryExecution.executedPlan.toString
        val spjOk = plan.contains("SortMergeJoin") &&
          !plan.contains("hashpartitioning(event_id")
        import s.implicits._
        out.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), spjOk)).sortBy(_._1)
          .toDF("event_type", "n", "v_sum", "uid_sum", "spj_no_shuffle")
      } finally prevBucketing match {
        case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }),

    // SPJ hardening, the two arms real clusters hit beyond q2u's pure
    // grid. (1) FACT-FACT: the TPC-DS Q95 shape — a line-item-grain
    // self-join on the order number finding orders shipped by more
    // than one supplier; both sides are the same co-bucketed layout,
    // so the join runs with ZERO exchange (at 100 TB this is the
    // single largest shuffle a Q95-class query pays, deleted).
    // (2) MISMATCHED BUCKET COUNTS: an 8-bucket fact joined to a
    // 4-bucket copy reports incompatible KeyGroupedPartitionings —
    // Spark must fall back to a correctness-preserving shuffle
    // (the bucket function is not reducible, so no coalescing
    // applies); the boolean locks that the Exchange REAPPEARS, the
    // negative control proving q2u/arm-1's no-exchange assertion
    // discriminates. Join results replay in DuckDB.
    "q2y_kudu_spj_factfact" -> ((s, dir) => {
      import graft.sources.KuduStore
      import org.apache.spark.sql.types._
      val tag = Integer.toHexString(dir.hashCode)
      val fact = s"li_spjf_$tag"
      val small = s"li_spjs_$tag"
      def mk(name: String, buckets: Int): Unit = {
        KuduStore.drop(name)
        KuduStore.create(name, Seq(("l_orderkey", LongType, false),
          ("l_suppkey", LongType, false), ("l_linenumber", LongType, false)),
          pkCount = 3, hashCols = Seq("l_orderkey"), hashBuckets = buckets)
      }
      mk(fact, 8)
      mk(small, 4)
      // distinct-triple grain: the store upserts by PK, so duplicate
      // (orderkey, suppkey, linenumber) rows would collapse — dedupe
      // source-side so the oracle replays the same grain
      val src = graft.Tables.view(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 1500)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_linenumber").cast("long").as("l_linenumber"))
        .distinct()
      Seq(fact, small).foreach(t =>
        src.write.mode("append").format("graft-kudu")
          .option("table", t).save())
      s.conf.set("spark.sql.catalog.graft_kudu_cat",
        classOf[graft.sources.KuduCatalog].getName)
      val prevBucketing = s.conf
        .getOption("spark.sql.sources.v2.bucketing.enabled")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val a = s.table(s"graft_kudu_cat.$fact").as("a")
        val b = s.table(s"graft_kudu_cat.$fact").as("b")
        val pairs = a.join(b.hint("merge"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        val agg = pairs.agg(
          count(lit(1)).as("n_pairs"),
          countDistinct(col("a.l_orderkey")).as("n_multi_supp"))
        val row = agg.collect()(0)
        val plan = agg.queryExecution.executedPlan.toString
        val spjOk = plan.contains("SortMergeJoin") &&
          !plan.contains("hashpartitioning(l_orderkey")
        // mismatched bucket counts: the exchange must REAPPEAR
        val mis = s.table(s"graft_kudu_cat.$fact").as("a")
          .join(s.table(s"graft_kudu_cat.$small").as("b").hint("merge"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_suppkey") < col("b.l_suppkey"))
          .agg(count(lit(1)).as("n"))
        val misRow = mis.collect()(0)
        val misShuffles = mis.queryExecution.executedPlan.toString
          .contains("hashpartitioning(l_orderkey")
        import s.implicits._
        Seq((row.getLong(0), row.getLong(1), misRow.getLong(0),
          spjOk, misShuffles))
          .toDF("n_pairs", "n_multi_supp", "n_pairs_mismatch",
            "spj_no_shuffle", "mismatch_shuffles")
      } finally prevBucketing match {
        case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }),

    // Pinot end-to-end (reference: `presto-pinot-toolkit/.../
    // PinotSplitManager.java`; in-process substitution documented in
    // sources/PinotBrokerConn.scala). The distinctive mechanics under
    // test: documents ingest into sealed 100-doc segments; the grouped
    // count/sum/avg/min/max pushes COMPLETELY (supportCompletePushDown
    // — the broker answers finals over one split, avg NOT decomposed;
    // PinotBrokerSuite locks the no-HashAggregate plan) and a TopN
    // (longest doc, doc_id tiebreak) executes store-side through the
    // single broker split. Merged numbers re-counted in DuckDB.
    "q2a_pinot_broker" -> ((s, dir) => {
      import graft.sources.PinotStore
      import org.apache.spark.sql.types._
      val tbl = s"docs_pinot_${Integer.toHexString(dir.hashCode)}"
      PinotStore.drop(tbl)
      PinotStore.create(tbl, Seq(("doc_id", LongType),
        ("lang", StringType), ("source", StringType),
        ("n_chars", LongType)), servers = 3)
      PinotStore.ingestBatch(tbl, graft.Tables.view(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))), segmentRows = 100)
      def scan = s.read.format("graft-pinot").option("table", tbl).load()
      val nSegments = scan.rdd.getNumPartitions.toLong
      // store-side TopN through the broker split
      val topDoc = scan.orderBy(col("n_chars").desc, col("doc_id").asc)
        .limit(1).select("doc_id").head().getLong(0)
      scan.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("nc_sum"),
          round(avg(col("n_chars")), 2).as("nc_avg"),
          min(col("doc_id")).as("id_min"),
          max(col("doc_id")).as("id_max"))
        .withColumn("top_doc", lit(topDoc))
        .withColumn("n_segments", lit(nSegments))
        .orderBy(col("lang"))
    }),

    // Pinot distinct-count pushdown (reference: `presto-pinot-toolkit/
    // .../PinotAggregationProjectConverter.java` — the converter that
    // compiles COUNT(DISTINCT x)/approx_distinct(x) onto the store's
    // DISTINCTCOUNT family so raw values never cross the broker
    // boundary). Spark plans NO aggregate and NO distinct Expand: the
    // broker split answers one final per group (PinotBrokerSuite locks
    // the plan); replayed as DuckDB's exact count(DISTINCT).
    "q2c_pinot_distinct" -> ((s, dir) => {
      import graft.sources.PinotStore
      import org.apache.spark.sql.types._
      val tbl = s"docs_pndc_${Integer.toHexString(dir.hashCode)}"
      PinotStore.drop(tbl)
      PinotStore.create(tbl, Seq(("doc_id", LongType),
        ("lang", StringType), ("source", StringType),
        ("n_chars", LongType)), servers = 3)
      PinotStore.ingestBatch(tbl, graft.Tables.view(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))), segmentRows = 100)
      def scan = s.read.format("graft-pinot").option("table", tbl).load()
      scan.groupBy(col("lang"))
        .agg(countDistinct(col("source")).as("nd_source"),
          countDistinct(col("n_chars")).as("nd_len"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // Example-HTTP end-to-end (reference: `presto-example-http/.../
    // ExampleConnectorFactory.java`; in-process substitution documented
    // in sources/ExampleHttpConn.scala). The distinctive mechanics
    // under test: the whole catalog arrives as ONE JSON document at
    // metadata_uri (schemas → tables → columns → source URIs), the
    // table's data is 3 separate CSV documents each planned as its own
    // split (n_splits pinned), rows parse comma-split-and-trimmed into
    // the catalog's varchar/bigint/double types. Aggregates replayed
    // from the same lineitem slice in DuckDB.
    "q2g_example_http" -> ((s, dir) => {
      import graft.sources.ExampleHttpStore
      val tag = Integer.toHexString(dir.hashCode)
      val meta = s"http://meta.example/cat_$tag.json"
      val srcs = (1 to 3).map(i => s"http://data.example/li_${tag}_$i.csv")
      val rows = graft.Tables.view(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .collect()
      srcs.zipWithIndex.foreach { case (uri, i) =>
        ExampleHttpStore.put(uri, rows.zipWithIndex
          .filter(_._2 % 3 == i)
          .map { case (r, _) =>
            s"${r.getLong(0)}, ${r.getString(1)}, ${r.getDouble(2)}" }
          .mkString("\n"))
      }
      ExampleHttpStore.put(meta,
        s"""{"example": [{"name": "lineitem",
           |  "columns": [{"name": "l_orderkey", "type": "bigint"},
           |              {"name": "l_returnflag", "type": "varchar"},
           |              {"name": "l_quantity", "type": "double"}],
           |  "sources": [${srcs.map("\"" + _ + "\"").mkString(",")}]}]}"""
          .stripMargin)
      def scan = s.read.format("graft-example-http")
        .option("metadata_uri", meta).option("schema", "example")
        .option("table", "lineitem").load()
      val nSplits = scan.rdd.getNumPartitions
      scan.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty_sum"),
          max(col("l_orderkey")).as("k_max"))
        .withColumn("n_splits", lit(nSplits.toLong))
        .orderBy(col("l_returnflag"))
    }),

    // Atop end-to-end (reference: `presto-atop/.../AtopSplitManager
    // .java:68-84`; in-process substitution documented in
    // sources/AtopLogConn.scala). The distinctive mechanics under test:
    // host×day splits (3 hosts × 4 days = 12), planning-time DAY
    // pruning (the start_time >= day-2 filter leaves 6 splits), the
    // RESET/SEP stream protocol (disks drops the post-RESET "since
    // boot" sample; reboots is built FROM that sample), and the
    // field-index parsing contract incl. the rounded-and-capped
    // utilization. The raw lines are generated from a closed form the
    // oracle replays exactly (odd io values dodge round-half ties).
    "q2f_atop_disks" -> ((s, dir) => {
      import graft.sources.AtopLogStore
      val store = s"at_li_${Integer.toHexString(dir.hashCode)}"
      AtopLogStore.drop(store)
      val E0 = 1700006400L
      for (h <- 0 until 3; d <- 0 until 4) {
        val lines = Seq.newBuilder[String]
        for (sm <- 0 until 4) {
          if (sm == 2 && ((h == 0 && d == 1) || (h == 2 && d == 3)))
            lines += "RESET"
          for ((dev, di) <- Seq(("sda", 0), ("sdb", 1))) {
            val epoch = E0 + d * 86400 + (sm + 1) * 600
            val io = ((h * 7 + d * 5 + sm * 3 + di * 11) % 700) * 1000 + 1
            val rr = h * 100 + d * 10 + sm + di
            lines += s"DSK h $epoch 2023/11/15 00:00:00 600 $dev " +
              s"$io $rr ${rr * 2} ${rr + 5} ${rr * 3}"
          }
          lines += "SEP"
        }
        AtopLogStore.append(store, s"10.0.0.$h", E0 / 86400 + d,
          lines.result())
      }
      def disks = s.read.format("graft-atop").option("store", store)
        .option("table", "disks").load()
      val nFull = disks.rdd.getNumPartitions
      val pruned = disks.filter(col("start_time") >=
        to_timestamp(lit((E0 + 2 * 86400).toDouble)))
      val nPruned = pruned.rdd.getNumPartitions
      val reboots = s.read.format("graft-atop").option("store", store)
        .option("table", "reboots").load()
        .groupBy(col("host_ip"))
        .agg(count(lit(1)).as("n_reboots"),
          min(unix_timestamp(col("power_on_time")))
            .as("first_power_on"))
      pruned.groupBy(col("host_ip"), col("device_name"))
        .agg(count(lit(1)).as("n"), sum(col("io_millis")).as("io_sum"),
          sum(col("read_requests")).as("rr_sum"),
          sum(col("sectors_written")).as("sw_sum"),
          round(avg(col("utilization_percent")), 4).as("util_avg"),
          min(unix_timestamp(col("start_time"))).as("st_min"),
          max(unix_timestamp(col("end_time"))).as("et_max"))
        .join(reboots, Seq("host_ip"), "left")
        .withColumn("n_splits_full", lit(nFull.toLong))
        .withColumn("n_splits_pruned", lit(nPruned.toLong))
        .orderBy(col("host_ip"), col("device_name"))
    }),

    // Thrift end-to-end (reference: `presto-thrift-connector/.../
    // ThriftConnectorFactory.java` over the presto-thrift-connector-api
    // service; in-process substitution documented in
    // sources/ThriftSvcConn.scala). The distinctive mechanics under
    // test: the connector owns NOTHING — schema, splits, and rows all
    // come from a registered service implementing the five-method
    // PrestoThriftService surface; split discovery drains 100-row
    // splits in token-chained batches of 3, row retrieval pages by
    // max_response_bytes, and the returnflag filter travels only as an
    // ADVISORY hint (Spark refilters — exactness never depends on the
    // service honoring it). Aggregates replayed in DuckDB.
    "q2b_thrift_rows" -> ((s, dir) => {
      import graft.sources.{InMemoryThriftService, ThriftRegistry}
      import org.apache.spark.sql.types._
      val svcName = s"th_li_${Integer.toHexString(dir.hashCode)}"
      val svc = new InMemoryThriftService("g", rowsPerSplit = 100)
      val schema = StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType)))
      svc.putTable("lineitem", schema,
        graft.Tables.view(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 1000)
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity"), col("l_extendedprice"))
          .collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getString(1),
            r.getDouble(2), r.getDouble(3))))
      ThriftRegistry.register(svcName, svc)
      def scan = s.read.format("graft-thrift").option("service", svcName)
        .option("schema", "g").option("table", "lineitem")
        .option("max_split_count", "3")
        .option("max_response_bytes", "64000").load()
      val nSplits = scan.rdd.getNumPartitions
      val nReturned = scan.filter(col("l_returnflag") === "R").count()
      scan.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty_sum"),
          round(sum(col("l_extendedprice")), 2).as("price_sum"))
        .withColumn("n_splits", lit(nSplits.toLong))
        .withColumn("n_returned", lit(nReturned))
        .orderBy(col("l_returnflag"))
    })
  )

  /** q0o fixture schema + message builder — closed-form, replayed by
    * the oracle. Container-per-message is the reference's expected
    * producer form (`AvroRowDecoder.decodeRow`). */
  private[graft] val Q0oSchema =
    """{"type":"record","name":"Doc","fields":[
      |  {"name":"id","type":"long"},
      |  {"name":"name","type":["null","string"]},
      |  {"name":"score","type":"double"},
      |  {"name":"tags","type":{"type":"array","items":"string"}},
      |  {"name":"attrs","type":{"type":"map","values":"long"}}]}"""
      .stripMargin

  private[graft] def q0oAvroMsg(k: Long): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser().parse(Q0oSchema)
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put("id", k)
    rec.put("name", if (k % 10 == 0) null else "n" + (k % 7))
    rec.put("score", k * 0.5)
    val tags = new java.util.ArrayList[CharSequence]()
    tags.add("t" + (k % 3)); tags.add("t" + (k % 5))
    rec.put("tags", tags)
    val attrs = new java.util.HashMap[CharSequence, java.lang.Long]()
    attrs.put("a", k % 11); attrs.put("b", k * 2)
    rec.put("attrs", attrs)
    val bos = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[
      org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter(schema))
    w.create(schema, bos); w.append(rec); w.close()
    bos.toByteArray
  }

  /** q0n fixture: 1200 closed-form log lines in 3 rotation files
    * (0-399 plain, 400-799 gzip, 800-1199 plain), rebuilt on every
    * call. The SAME arithmetic replays as the DuckDB oracle CTE. */
  private def q0nLine(k: Long): String = {
    val ts = java.time.OffsetDateTime.of(2024, 1, 1, 0, 0, 0, 0,
      java.time.ZoneOffset.UTC).plusSeconds(k * 60)
    Seq(ts.format(graft.sources.LocalFileConn.Iso),
      s"10.0.0.${k % 256}",
      Seq("GET", "POST", "PUT")((k % 3).toInt),
      s"/api/v1/item/$k", s"user${k % 5}", "agent/1.0",
      (200 + (k % 3) * 100).toString, ((k * 7) % 1000).toString,
      ((k * 13) % 10000).toString, ((k * 3) % 500).toString,
      if (k % 10 == 0) "" else s"tok-$k").mkString("\t")
  }

  private[graft] def writeQ0nLogs(): String = {
    import java.nio.file.{Files, Paths}
    val logDir = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_q0n_logs")
    if (Files.isDirectory(logDir))
      Files.list(logDir).forEach(p => Files.delete(p))
    else Files.createDirectories(logDir)
    def dump(name: String, ks: Range, gzip: Boolean): Unit = {
      val text = ks.map(k => q0nLine(k.toLong)).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val fos = Files.newOutputStream(logDir.resolve(name))
      val out = if (gzip) new java.util.zip.GZIPOutputStream(fos) else fos
      try out.write(text) finally out.close()
    }
    dump("http-request.log.1", 0 until 400, gzip = false)
    dump("http-request.log.2.gz", 400 until 800, gzip = true)
    dump("http-request.log.3", 800 until 1200, gzip = false)
    logDir.toString
  }

  // DuckDB replay of the generator arithmetic. `//` is integer
  // division; all operands stay inside BIGINT.
  private val H = "((k * 2654435761 + %d * 40503) %% 1000000007)"
  private def h(salt: Int) = H.format(salt)

  override def oracles: Map[String, String] = Map(
    "q0f_blackhole_read" ->
      """SELECT CAST(60 AS BIGINT) AS n, CAST(0 AS BIGINT) AS a_sum,
        |  CAST(0 AS DOUBLE) AS b_sum, '****************' AS c_min,
        |  16 AS c_len, FALSE AS any_d, DATE '1970-01-01' AS e_min""".stripMargin,

    "q0g_blackhole_sink" ->
      "SELECT CAST(count(*) AS BIGINT) AS rows_written FROM lineitem",

    "q0h_jmx_runtime" ->
      """SELECT 'java.lang:type=Runtime' AS object_name,
        |  TRUE AS has_node, TRUE AS up, TRUE AS started,
        |  TRUE AS named""".stripMargin,

    "q0i_jmx_wildcard_history" ->
      """SELECT TRUE AS many, TRUE AS prefixed, TRUE AS hist_double,
        |  TRUE AS stamped""".stripMargin,

    "q0q_tpcdsgen_datedim" ->
      """WITH d AS (
        |  SELECT 2415022 + k AS d_date_sk,
        |    DATE '1900-01-02' + CAST(k AS INT) AS d_date, k
        |  FROM (SELECT unnest(range(0, 73049)) AS k)),
        |e AS (SELECT d_date_sk, d_date,
        |    CAST(year(d_date) AS INT) AS d_year,
        |    CAST(month(d_date) AS INT) AS d_moy,
        |    CAST(day(d_date) AS INT) AS d_dom,
        |    CAST((month(d_date) - 1) // 3 + 1 AS INT) AS d_qoy,
        |    dayname(d_date) AS d_day_name,
        |    CAST(k // 7 + 1 AS INT) AS d_week_seq
        |  FROM d)
        |SELECT d_year, d_qoy, count(*) AS n_days,
        |  min(d_date_sk) AS min_sk, min(d_date) AS min_date,
        |  max(d_dom) AS max_dom, count(DISTINCT d_moy) AS n_months,
        |  min(d_day_name) AS min_day_name,
        |  max(d_week_seq) AS max_week_seq
        |FROM e WHERE d_year BETWEEN 1999 AND 2000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q0r_tpcdsgen_star" ->
      """WITH ks AS (SELECT unnest(range(0, 28800)) AS k),
        |ss AS (SELECT k,
        |    2450815 + ((k * 2654435761 + 111 * 40503) % 1000000007)
        |      % 1826 AS sold,
        |    ((k * 2654435761 + 114 * 40503) % 1000000007) % 180 + 1
        |      AS item,
        |    ((k * 2654435761 + 104 * 40503) % 1000000007) % 100 + 1
        |      AS qty,
        |    100 + ((k * 2654435761 + 101 * 40503) % 1000000007) % 19900
        |      AS listc,
        |    20 + ((k * 2654435761 + 102 * 40503) % 1000000007) % 81
        |      AS pct
        |  FROM ks),
        |ss2 AS (SELECT *, (listc * pct) // 100 AS salesc FROM ss),
        |it AS (SELECT j + 1 AS item,
        |    ['Books','Children','Electronics','Home','Jewelry','Men',
        |     'Music','Shoes','Sports','Women'][CAST(((j * 2654435761
        |       + 41 * 40503) % 1000000007) % 10 AS INT) + 1]
        |      AS i_category
        |  FROM (SELECT unnest(range(0, 180)) AS j))
        |SELECT i_category, count(*) AS n,
        |  CAST(sum(qty) AS BIGINT) AS qty_sum,
        |  round(sum(salesc * qty / 100.0), 2) AS rev
        |FROM ss2 JOIN it USING (item)
        |WHERE sold BETWEEN 2450815 AND 2451179
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q0s_tpcdsgen_returns" ->
      """SELECT CAST(2880 AS BIGINT) AS n_returns,
        |  CAST(2880 AS BIGINT) AS n_matched,
        |  TRUE AS all_have_parents""".stripMargin,

    "q0t_tpcdsgen_demographics" ->
      """WITH ks AS (SELECT unnest(range(0, 1400)) AS k),
        |d AS (SELECT
        |    ['M','F'][CAST(k % 2 AS INT) + 1] AS cd_gender,
        |    ['M','S','D','W','U'][CAST((k // 2) % 5 AS INT) + 1]
        |      AS cd_marital_status,
        |    ['Primary','Secondary','College','2 yr Degree',
        |     '4 yr Degree','Advanced Degree','Unknown']
        |      [CAST((k // 10) % 7 AS INT) + 1] AS cd_education_status,
        |    ((k // 70) % 20 + 1) * 500 AS pe
        |  FROM ks)
        |SELECT cd_gender, cd_marital_status, cd_education_status,
        |  count(*) AS n, CAST(sum(pe) AS BIGINT) AS pe_sum
        |FROM d GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q0o_avro_decoder" ->
      """WITH ks AS (SELECT unnest(range(1, 101)) AS k),
        |r AS (SELECT k, CASE WHEN k % 10 = 0 THEN '<null>'
        |    ELSE 'n' || (k % 7) END AS name FROM ks)
        |SELECT name, count(*) AS n, CAST(sum(k) AS BIGINT) AS id_sum,
        |  round(sum(k * 0.5), 2) AS score_sum,
        |  CAST(count(*) * 2 AS BIGINT) AS tags_total,
        |  CAST(sum(k * 2) AS BIGINT) AS b_sum
        |FROM r GROUP BY name ORDER BY name""".stripMargin,

    "q0n_localfile_log" ->
      """WITH ks AS (SELECT unnest(range(0, 1200)) AS k),
        |r AS (SELECT k,
        |    CASE k % 3 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
        |      ELSE 'PUT' END AS method,
        |    200 + (k % 3) * 100 AS code,
        |    (k * 13) % 10000 AS resp,
        |    k % 10 = 0 AS nul,
        |    '/api/v1/item/' || k AS uri
        |  FROM ks WHERE k * 60 < 28800)
        |SELECT method, count(*) AS n,
        |  CAST(sum(code) AS BIGINT) AS code_sum,
        |  CAST(sum(resp) AS BIGINT) AS resp_sum,
        |  CAST(count_if(nul) AS BIGINT) AS n_null_trace,
        |  min(uri) AS min_uri
        |FROM r GROUP BY method ORDER BY method""".stripMargin,

    "q1d_kafka_raw" ->
      """SELECT l_returnflag AS rf, count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS k_sum,
        |  CAST(sum(l_linenumber) AS BIGINT) AS ln_sum,
        |  true AS key_ok, true AS part_ok, true AS ts_ok,
        |  true AS tstype_ok
        |FROM lineitem WHERE l_orderkey <= 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Offsets are arrival-order within a partition (contiguous from 0),
    // so per-partition counts/min/max/distinct and the content sums are
    // closed-form; the tail read drops exactly 5 per partition.
    "q1e_kafka_json" ->
      """SELECT CAST(doc_id % 2 AS INT) AS part, count(*) AS n,
        |  CAST(0 AS BIGINT) AS min_off,
        |  CAST(count(*) - 1 AS BIGINT) AS max_off,
        |  count(*) AS n_off,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(doc_id * 7) AS BIGINT) AS v_sum,
        |  count(*) - 5 AS n_tail
        |FROM documents WHERE doc_id <= 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q1f_kafka_avro" ->
      """WITH ks AS (SELECT unnest(range(1, 101)) AS k),
        |r AS (SELECT k, CASE WHEN k % 10 = 0 THEN '<null>'
        |    ELSE 'n' || (k % 7) END AS name FROM ks)
        |SELECT name, count(*) AS n, CAST(sum(k) AS BIGINT) AS id_sum,
        |  round(sum(k * 0.5), 2) AS score_sum,
        |  CAST(count(*) * 2 AS BIGINT) AS tags_total,
        |  CAST(sum(k * 2) AS BIGINT) AS b_sum
        |FROM r GROUP BY name ORDER BY name""".stripMargin,

    // key_length = length('docs:' || doc_id) replayed arithmetically;
    // the transport bools are identities on the Spark side
    "q1o_redis_scan" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS nc_sum,
        |  CAST(sum(5 + length(CAST(doc_id AS VARCHAR))) AS BIGINT)
        |    AS klen_sum,
        |  true AS klen_ok, true AS vlen_ok, true AS prefix_ok
        |FROM documents WHERE doc_id <= 200
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // 6h-bucket arithmetic replayed in DuckDB: the window is
    // bucket-aligned, so pruned segments == buckets with data inside it
    "q1x_druid_rollup" ->
      """WITH e AS (SELECT epoch_ms(ts) AS tms, event_type AS etype,
        |    value, user_id FROM events),
        |w AS (SELECT * FROM e
        |  WHERE tms >= 1704088800000 AND tms < 1704153600000)
        |SELECT etype, count(*) AS n, round(sum(value), 2) AS v_sum,
        |  min(user_id) AS uid_min, max(user_id) AS uid_max,
        |  (SELECT CAST(count(DISTINCT tms // 21600000) AS BIGINT) FROM e)
        |    AS n_segments,
        |  (SELECT CAST(count(DISTINCT tms // 21600000) AS BIGINT) FROM w)
        |    AS n_pruned
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "q1w_mongo_docs" ->
      """SELECT user_id % 10 AS bucket, count(*) AS n,
        |  round(sum(value), 2) AS v_sum,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events
        |WHERE event_type = 'click' AND event_id > 100
        |  AND event_id <= 3500 AND user_id % 10 < 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // n_splits replays the reference's max(partitions/splitSize, 1)
    // formula over the distinct-customer count; the point-lookup arms
    // count one customer's wide row and its clustering tail
    "q1v_cassandra_ring" ->
      """WITH sub AS (SELECT * FROM orders WHERE o_custkey <= 2000),
        |mk AS (SELECT min(o_custkey) AS m FROM sub),
        |c AS (SELECT count(*) AS n FROM sub
        |      WHERE o_custkey = (SELECT m FROM mk))
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS price_sum,
        |  (SELECT CAST(greatest(count(DISTINCT o_custkey) // 64, 1)
        |     AS BIGINT) FROM sub) AS n_splits,
        |  (SELECT n FROM c) AS n_cust,
        |  (SELECT n - 1 FROM c) AS n_cust_tail
        |FROM sub GROUP BY 1 ORDER BY 1""".stripMargin,

    // n_missing counts doc_id % 7 == 0 PER SOURCE among the hit
    // sources; n_shards = 5 by construction (all shards non-empty)
    "q1t_es_search" ->
      """WITH hits AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS nc_sum
        |  FROM documents
        |  WHERE lang IN ('en', 'fr') AND n_chars > 100
        |  GROUP BY source),
        |miss AS (
        |  SELECT source, count(*) AS n_missing FROM documents
        |  WHERE doc_id % 7 = 0 GROUP BY source)
        |SELECT h.source, h.n, h.nc_sum,
        |  CAST(coalesce(m.n_missing, 0) AS BIGINT) AS n_missing,
        |  CAST(5 AS BIGINT) AS n_shards
        |FROM hits h LEFT JOIN miss m ON h.source = m.source
        |ORDER BY h.source""".stripMargin,

    // the CSV shards partition the slice without loss; the double
    // column round-trips through its text rendering exactly
    "q2g_example_http" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty_sum,
        |  max(l_orderkey) AS k_max, CAST(3 AS BIGINT) AS n_splits
        |FROM lineitem WHERE l_orderkey <= 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the closed-form grid replays every parsed field; the two
    // post-RESET drops leave the disks grid, the reboot rows come FROM
    // them; split counts land as constants
    "q2f_atop_disks" ->
      """WITH g AS (
        |  SELECT h.h, d.d, s.s, di.di,
        |    CASE di.di WHEN 0 THEN 'sda' ELSE 'sdb' END AS dev,
        |    1700006400 + d.d * 86400 + (s.s + 1) * 600 AS ep,
        |    ((h.h * 7 + d.d * 5 + s.s * 3 + di.di * 11) % 700) * 1000 + 1
        |      AS io,
        |    h.h * 100 + d.d * 10 + s.s + di.di AS rr
        |  FROM (SELECT unnest(range(3)) AS h) h,
        |       (SELECT unnest(range(4)) AS d) d,
        |       (SELECT unnest(range(4)) AS s) s,
        |       (SELECT unnest(range(2)) AS di) di
        |  WHERE NOT ((h.h = 0 AND d.d = 1 AND s.s = 2 AND di.di = 0)
        |          OR (h.h = 2 AND d.d = 3 AND s.s = 2 AND di.di = 0))),
        |w AS (SELECT *, least(round(100.0 * io / 600000.0), 100) AS util
        |      FROM g WHERE d >= 2),
        |a AS (SELECT '10.0.0.' || h AS host_ip, dev AS device_name,
        |    count(*) AS n, CAST(sum(io) AS BIGINT) AS io_sum,
        |    CAST(sum(rr) AS BIGINT) AS rr_sum,
        |    CAST(sum(rr * 3) AS BIGINT) AS sw_sum,
        |    round(avg(util), 4) AS util_avg,
        |    CAST(min(ep - 600) AS BIGINT) AS st_min,
        |    CAST(max(ep) AS BIGINT) AS et_max
        |  FROM w GROUP BY 1, 2),
        |rb AS (
        |  SELECT '10.0.0.0' AS host_ip, CAST(1 AS BIGINT) AS n_reboots,
        |    CAST(1700006400 + 86400 + 1200 AS BIGINT) AS first_power_on
        |  UNION ALL
        |  SELECT '10.0.0.2', CAST(1 AS BIGINT),
        |    CAST(1700006400 + 3 * 86400 + 1200 AS BIGINT))
        |SELECT a.host_ip, a.device_name, a.n, a.io_sum, a.rr_sum,
        |  a.sw_sum, a.util_avg, a.st_min, a.et_max, rb.n_reboots,
        |  rb.first_power_on, CAST(12 AS BIGINT) AS n_splits_full,
        |  CAST(6 AS BIGINT) AS n_splits_pruned
        |FROM a LEFT JOIN rb ON a.host_ip = rb.host_ip
        |ORDER BY a.host_ip, a.device_name""".stripMargin,

    // the store's DISTINCTCOUNT is exact — DuckDB's count(DISTINCT)
    // replays it directly
    "q2c_pinot_distinct" ->
      """SELECT lang, count(DISTINCT source) AS nd_source,
        |  count(DISTINCT n_chars) AS nd_len, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // splits are 100-row slices of the service's table -> ceil(n/100);
    // the 'R' arm replays the advisory-hint filter exactly
    "q2b_thrift_rows" ->
      """WITH sub AS (SELECT * FROM lineitem WHERE l_orderkey <= 1000)
        |SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty_sum,
        |  round(sum(l_extendedprice), 2) AS price_sum,
        |  (SELECT CAST(ceil(count(*) / 100.0) AS BIGINT) FROM sub)
        |    AS n_splits,
        |  (SELECT count(*) FROM sub WHERE l_returnflag = 'R')
        |    AS n_returned
        |FROM sub GROUP BY 1 ORDER BY 1""".stripMargin,

    // segments seal every 100 docs -> ceil(n/100); the TopN arm replays
    // as ORDER BY n_chars DESC, doc_id LIMIT 1
    "q2a_pinot_broker" ->
      """WITH t AS (SELECT doc_id FROM documents
        |  ORDER BY n_chars DESC, doc_id LIMIT 1)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS nc_sum,
        |  round(avg(n_chars), 2) AS nc_avg,
        |  min(doc_id) AS id_min, max(doc_id) AS id_max,
        |  (SELECT doc_id FROM t) AS top_doc,
        |  (SELECT CAST(ceil(count(*) / 100.0) AS BIGINT) FROM documents)
        |    AS n_segments
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // the grid is 4 buckets x 3 ranges = 12 tablets by construction;
    // the point arm prunes to exactly 1 tablet, the range arm keeps 2
    // of 3 range partitions (8 splits); upsert-twice must not double
    // any count
    // the join replays directly; the scanned-row reduction lands as a
    // constant boolean (the suite pins the mechanics)
    "q2j_kudu_runtime_pruning" ->
      """SELECT count(*) AS n, round(sum(value), 2) AS v_sum,
        |  min(event_id) AS k_min, max(event_id) AS k_max,
        |  true AS runtime_pruned
        |FROM events
        |WHERE event_id <= 4000 AND event_id % 211 = 0""".stripMargin,

    // the co-bucketed join replays directly; the no-shuffle plan
    // observation lands as a constant boolean (KuduTabletSuite pins
    // the plan shape incl. the negative control)
    "q2u_kudu_spj" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS v_sum,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |  true AS spj_no_shuffle
        |FROM events WHERE event_id <= 4000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Q95-shaped self-join replays at line-item grain; both plan
    // observations (zero-exchange co-bucketed join, mismatched-bucket
    // fallback shuffle) land as constant booleans
    "q2y_kudu_spj_factfact" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey, l_linenumber
        |            FROM lineitem WHERE l_orderkey <= 1500)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT a.l_orderkey) AS BIGINT) AS n_multi_supp,
        |  CAST(count(*) AS BIGINT) AS n_pairs_mismatch,
        |  true AS spj_no_shuffle, true AS mismatch_shuffles
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_suppkey < b.l_suppkey""".stripMargin,

    // the join replays directly; the materialized-doc reduction lands
    // as a constant boolean (EsIndexSuite pins the mechanics)
    "q2l_es_runtime_pruning" ->
      """SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS nc_sum,
        |  min('d' || doc_id) AS k_min, max('d' || doc_id) AS k_max,
        |  true AS runtime_pruned
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

    // the join replays directly; the examined-row reduction lands as
    // a constant boolean (AccumuloKvSuite pins the mechanics)
    "q2m_accumulo_runtime_pruning" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS price_sum,
        |  min(o_orderkey) AS k_min, max(o_orderkey) AS k_max,
        |  true AS runtime_pruned
        |FROM orders WHERE o_orderkey % 211 = 0""".stripMargin,

    "q1z_kudu_tablets" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS v_sum,
        |  CAST(12 AS BIGINT) AS n_tablets,
        |  CAST(1 AS BIGINT) AS n_point_splits,
        |  (SELECT count(*) FROM events WHERE event_id = 123) AS n_point,
        |  CAST(8 AS BIGINT) AS n_range_splits,
        |  (SELECT count(*) FROM events WHERE event_id > 2500
        |     AND event_id <= 5000) AS n_range
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the three arms replay directly: status-'P' count/sum (the index
    // path), the priority tablet scan, and the row-id range count
    "q1y_accumulo_table" ->
      """WITH p AS (SELECT count(*) AS n,
        |    CAST(sum(o_custkey) AS BIGINT) AS sc
        |  FROM orders WHERE o_orderstatus = 'P'),
        |r AS (SELECT count(*) AS n FROM orders WHERE o_orderkey <= 6000)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS price_sum,
        |  (SELECT n FROM p) AS n_p, (SELECT sc FROM p) AS cust_sum_p,
        |  (SELECT n FROM r) AS n_range
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q1p_redis_zset_hash" ->
      """WITH sub AS (SELECT * FROM orders WHERE o_orderkey <= 1200)
        |SELECT o_orderstatus AS status, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS price_sum,
        |  min(o_orderpriority) AS min_prio,
        |  true AS string_arm_null,
        |  (SELECT CAST(ceil(count(*) / 100.0) AS BIGINT) FROM sub)
        |    AS n_splits
        |FROM sub GROUP BY 1 ORDER BY 1""".stripMargin,

    "q0k_raw_decoder" ->
      """SELECT l_returnflag AS rf, count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS k_sum,
        |  CAST(sum(l_linenumber) AS BIGINT) AS ln_sum
        |FROM lineitem WHERE l_orderkey <= 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q0l_json_decoder" ->
      """SELECT doc_id AS id, source AS src,
        |  CAST(doc_id * 86400 + 1700000000 AS BIGINT) AS u_s,
        |  CAST(doc_id * 86400 + 1700000000 AS BIGINT) AS u_ms,
        |  CAST(doc_id * 86400 + 1700000000 AS BIGINT) AS u_r,
        |  CAST(doc_id * 86400 + 1700000000 AS BIGINT) AS u_i
        |FROM documents WHERE doc_id <= 50 ORDER BY id""".stripMargin,

    "q0d_memory_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
        |  round(sum(s_acctbal), 2) AS bal_sum
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q0e_tpch_catalog" ->
      s"""WITH o AS (
         |  SELECT ${h(11)} % 1500 + 1 AS o_custkey,
         |    (10000 + ${h(13)} % 500000) / 100.0 AS o_totalprice
         |  FROM (SELECT unnest(range(0, 2000)) AS k)),
         |c AS (
         |  SELECT k + 1 AS c_custkey, ${h(21)} % 25 AS c_nationkey
         |  FROM (SELECT unnest(range(0, 1500)) AS k))
         |SELECT 'NATION_' || c_nationkey AS n_name, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total
         |FROM o JOIN c ON o.o_custkey = c.c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q0a_tpchgen_agg" ->
      s"""WITH li AS (
         |  SELECT ${h(3)} % 50 + 1 AS qty,
         |    (900 + ${h(4)} % 10000) * (${h(3)} % 50 + 1) / 100.0 AS ext,
         |    (${h(5)} % 11) / 100.0 AS disc,
         |    CASE ${h(7)} % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N'
         |      ELSE 'R' END AS rf
         |  FROM (SELECT unnest(range(0, 60000)) AS k))
         |SELECT rf AS l_returnflag, count(*) AS n,
         |  CAST(sum(qty) AS DOUBLE) AS sum_qty,
         |  round(sum(ext * (1 - disc)), 2) AS revenue
         |FROM li GROUP BY rf ORDER BY rf""".stripMargin,

    "q0b_tpchgen_join" ->
      s"""WITH o AS (
         |  SELECT k + 1 AS o_orderkey, ${h(11)} % 1500 + 1 AS o_custkey,
         |    (10000 + ${h(13)} % 500000) / 100.0 AS o_totalprice
         |  FROM (SELECT unnest(range(0, 3000)) AS k)),
         |c AS (
         |  SELECT k + 1 AS c_custkey,
         |    CASE ${h(23)} % 5 WHEN 0 THEN 'AUTOMOBILE'
         |      WHEN 1 THEN 'BUILDING' WHEN 2 THEN 'FURNITURE'
         |      WHEN 3 THEN 'HOUSEHOLD' ELSE 'MACHINERY' END AS c_mktsegment
         |  FROM (SELECT unnest(range(0, 1500)) AS k))
         |SELECT c_mktsegment, count(*) AS n_orders,
         |  round(sum(o_totalprice), 2) AS total
         |FROM o JOIN c ON o.o_custkey = c.c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q0c_tpchgen_star" ->
      s"""WITH li AS (
         |  SELECT ${h(1)} % 2000 + 1 AS l_partkey,
         |    ${h(2)} % 100 + 1 AS l_suppkey,
         |    (900 + ${h(4)} % 10000) * (${h(3)} % 50 + 1) / 100.0 AS ext
         |  FROM (SELECT unnest(range(0, 10000)) AS k)),
         |s AS (SELECT k + 1 AS s_suppkey, CAST(${h(31)} % 25 AS INTEGER)
         |        AS s_nationkey
         |      FROM (SELECT unnest(range(0, 100)) AS k))
         |SELECT CAST(s_nationkey % 5 AS INTEGER) AS n_regionkey,
         |  count(*) AS n, count(DISTINCT l_partkey) AS n_parts,
         |  round(sum(ext), 2) AS ext_sum
         |FROM li JOIN s ON li.l_suppkey = s.s_suppkey
         |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
