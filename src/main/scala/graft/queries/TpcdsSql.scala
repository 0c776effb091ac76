package graft.queries

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.functions.Registry

/** TPC-DS starter surface: the benchmark's distinguishing shapes —
  * date-dim star joins, demographic multi-dim stars, ROLLUP reports,
  * class-partition window ratios, and cross-channel UNION reports — as
  * verbatim-shaped query texts over a deterministically derived star
  * schema.
  *
  * Reference: the TPC-DS generator connector
  * (`presto-tpcds/.../TpcdsConnectorFactory.java:35`) and the benchto
  * suite running all 99 queries (`presto-benchto-benchmarks/.../presto/
  * tpcds.yaml:1-60`). The reference generates TPC-DS tables on the fly;
  * here the star schema derives from the TPC-H fixture with pure
  * integer/date arithmetic (the `partsupp` trick, `Tables.register`),
  * and every oracle replays the identical derivation as DuckDB CTEs, so
  * both engines see byte-identical dimension and fact rows.
  *
  * Texts follow the published TPC-DS query shapes (Q3/Q7/Q27/Q42/Q52/
  * Q55/Q98 and a Q5/Q77-style channel report) with the standard
  * adaptations: aggregate outputs rounded (doubles sum order-sensitively
  * at the last ulp — the gate rule), ORDER BY extended to a unique key
  * where the spec's ordering is non-deterministic under LIMIT, and
  * predicate literals sized to the fixture's value ranges.
  *
  * Scale: all facts join dimensions on equi-keys; every dimension here
  * (6 years of dates, 10 stores, 50 promos, demographics keyed off
  * customer) is broadcast-sized at any corpus scale, so each star query
  * plans as scan + broadcast joins + one partial/final aggregation —
  * the same plan a 1000-executor cluster wants. ROLLUP is one Expand
  * (rows x grouping-set count) feeding the same hash aggregate.
  */
object TpcdsSql extends QueryPack {

  /** Derived TPC-DS views, registered once per (session, dir).
    *
    * The guard is load-bearing for BENCH honesty (r12): re-issuing the
    * ~25 CREATE OR REPLACE TEMPORARY VIEW statements costs 0.6-1.1 s of
    * ANALYSIS per call (each view SQL re-analyzes against a function
    * registry that grew every round), and every TPC-DS gate paid it
    * inside its timed body — the bulk of the r11 "regressions" on
    * q54/q80/q23/q67 was this re-registration tax, not execution. Like
    * Tables.register: keyed per (session, dir), re-registers on a dir
    * switch (temp views capture the analyzed plan of the dir they were
    * created over). */
  private val tpcdsRegistered =
    new java.util.WeakHashMap[SparkSession, String]()

  private def registerTpcds(s: SparkSession, dir: String): Unit =
    synchronized {
      if (tpcdsRegistered.get(s) == dir) return
      registerTpcdsViews(s, dir)
      tpcdsRegistered.put(s, dir)
    }

  private def registerTpcdsViews(s: SparkSession, dir: String): Unit = {
    Tables.register(s, dir)
    // 6 fixture years of calendar days; sk = days since 1995-01-01 at the
    // Julian-ish 2450000 base the real generator uses.
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW date_dim AS
            |SELECT cast(datediff(d_date, DATE '1995-01-01') + 2450000
            |    as bigint) AS d_date_sk,
            |  d_date,
            |  cast(year(d_date) as bigint) AS d_year,
            |  cast(month(d_date) as bigint) AS d_moy,
            |  cast(day(d_date) as bigint) AS d_dom,
            |  cast(quarter(d_date) as bigint) AS d_qoy,
            |  cast((datediff(d_date, DATE '1995-01-01')) DIV 7 as bigint)
            |    AS d_week_seq,
            |  cast((year(d_date) - 1995) * 12 + month(d_date) - 1 as bigint)
            |    AS d_month_seq,
            |  date_format(d_date, 'EEEE') AS d_day_name
            |FROM (SELECT explode(sequence(DATE '1995-01-01',
            |  DATE '2000-12-31')) AS d_date)""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW store_sales AS
            |SELECT cast(datediff(cast(o_orderdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint) AS ss_sold_date_sk,
            |  l_partkey AS ss_item_sk,
            |  o_custkey AS ss_customer_sk,
            |  cast(l_suppkey % 10 + 1 as bigint) AS ss_store_sk,
            |  cast(l_partkey % 50 + 1 as bigint) AS ss_promo_sk,
            |  o_custkey AS ss_cdemo_sk,
            |  o_custkey AS ss_hdemo_sk,
            |  cast((o_orderkey * 181 + l_linenumber * 7919) % 86400
            |    as bigint) AS ss_sold_time_sk,
            |  CASE WHEN (o_orderkey * 3 + l_linenumber * 5) % 13 = 0
            |    THEN NULL ELSE l_suppkey END AS ss_addr_sk,
            |  o_orderkey AS ss_ticket_number,
            |  l_quantity AS ss_quantity,
            |  l_extendedprice / l_quantity AS ss_list_price,
            |  l_extendedprice AS ss_ext_sales_price,
            |  l_extendedprice * (1 - l_discount) / l_quantity
            |    AS ss_sales_price,
            |  l_extendedprice * l_discount AS ss_coupon_amt,
            |  l_extendedprice * (1 - l_discount - l_tax) * 0.1
            |    AS ss_net_profit
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin)
    // web channel: a (orderkey + linenumber) % 3 slice. The three
    // channels were odd/even linenumber splits through r6, which made
    // store = web ∪ catalog EXACTLY — structurally emptying every
    // cross-channel EXCEPT (Q87) and store-vs-web cumulative compare
    // (Q51). The mod-3 slice leaves a store-only residue (lines ≡ 0),
    // modeling TPC-DS's independent channels; ship date / order number /
    // warehouse feed Q95's multi-warehouse semi-join chain.
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW web_sales AS
            |SELECT cast(datediff(cast(o_orderdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint) AS ws_sold_date_sk,
            |  cast(datediff(cast(l_shipdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint) AS ws_ship_date_sk,
            |  l_partkey AS ws_item_sk,
            |  o_custkey AS ws_bill_customer_sk,
            |  cast(l_suppkey % 5 + 1 as bigint) AS ws_web_site_sk,
            |  o_orderkey AS ws_order_number,
            |  cast(l_suppkey % 4 + 1 as bigint) AS ws_warehouse_sk,
            |  cast(l_partkey % 50 + 1 as bigint) AS ws_promo_sk,
            |  cast((o_orderkey * 181 + l_linenumber * 7919) % 86400
            |    as bigint) AS ws_sold_time_sk,
            |  l_quantity AS ws_quantity,
            |  l_extendedprice * (1 - l_discount) / l_quantity
            |    AS ws_sales_price,
            |  l_extendedprice * l_discount AS ws_ext_discount_amt,
            |  l_extendedprice AS ws_ext_sales_price,
            |  l_extendedprice * (1 - l_discount - l_tax) * 0.1
            |    AS ws_net_profit,
            |  CASE WHEN (o_orderkey * 5 + l_linenumber * 3) % 11 = 0
            |    THEN NULL ELSE o_custkey END AS ws_ship_customer_sk
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |WHERE (o_orderkey + l_linenumber) % 3 = 1""".stripMargin)
    // web returns: the 'R'-flagged slice of the web channel, returned
    // on the ship date
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW web_returns AS
            |SELECT o_orderkey AS wr_order_number,
            |  l_partkey AS wr_item_sk,
            |  cast(l_suppkey % 5 + 1 as bigint) AS wr_web_site_sk,
            |  o_custkey AS wr_refunded_customer_sk,
            |  l_quantity AS wr_return_quantity,
            |  l_extendedprice * (1 - l_discount) AS wr_return_amt,
            |  cast(datediff(cast(l_shipdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint)
            |    AS wr_returned_date_sk
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |WHERE (o_orderkey + l_linenumber) % 3 = 1
            |  AND l_returnflag = 'R'""".stripMargin)
    // returns: the 'R'-flagged slice, returned on the ship date
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW store_returns AS
            |SELECT cast(datediff(cast(l_shipdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint)
            |    AS sr_returned_date_sk,
            |  o_custkey AS sr_customer_sk,
            |  l_partkey AS sr_item_sk,
            |  o_orderkey AS sr_ticket_number,
            |  cast(l_suppkey % 10 + 1 as bigint) AS sr_store_sk,
            |  l_quantity AS sr_return_quantity,
            |  l_extendedprice * (1 - l_discount) AS sr_return_amt
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |WHERE l_returnflag = 'R'""".stripMargin)
    // catalog returns: the 'R'-flagged slice of the catalog channel,
    // returned on the ship date
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW catalog_returns AS
            |SELECT cast(datediff(cast(l_shipdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint)
            |    AS cr_returned_date_sk,
            |  cast(l_suppkey % 3 + 1 as bigint) AS cr_call_center_sk,
            |  l_extendedprice * (1 - l_discount) AS cr_return_amount,
            |  l_partkey AS cr_item_sk,
            |  o_orderkey AS cr_order_number,
            |  o_custkey AS cr_returning_customer_sk,
            |  l_quantity AS cr_return_quantity
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |WHERE (o_orderkey + l_linenumber) % 3 = 2
            |  AND l_returnflag = 'R'""".stripMargin)
    // item: brand id from the TPC-H brand digits, category/class from the
    // p_type word positions, manufact/manager ids by modulus
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW item AS
            |SELECT p_partkey AS i_item_sk,
            |  concat('ITEM', lpad(cast(p_partkey as string), 8, '0'))
            |    AS i_item_id,
            |  cast(substring(p_brand, 7) as bigint) AS i_brand_id,
            |  p_brand AS i_brand,
            |  cast(length(p_type) as bigint) AS i_category_id,
            |  p_type AS i_category,
            |  concat(p_type, '#', cast(p_partkey % 3 + 1 as string))
            |    AS i_class,
            |  cast(p_partkey % 1000 + 1 as bigint) AS i_manufact_id,
            |  cast(p_partkey % 100 + 1 as bigint) AS i_manager_id,
            |  p_retailprice AS i_current_price,
            |  CASE cast(p_partkey % 8 as int) WHEN 0 THEN 'red'
            |    WHEN 1 THEN 'blue' WHEN 2 THEN 'green' WHEN 3 THEN 'white'
            |    WHEN 4 THEN 'yellow' WHEN 5 THEN 'black' WHEN 6 THEN 'pink'
            |    ELSE 'orange' END AS i_color,
            |  CASE cast(p_partkey % 5 as int) WHEN 0 THEN 'Oz'
            |    WHEN 1 THEN 'Lb' WHEN 2 THEN 'Ton' WHEN 3 THEN 'Gram'
            |    ELSE 'Box' END AS i_units,
            |  CASE cast(p_partkey % 4 as int) WHEN 0 THEN 'small'
            |    WHEN 1 THEN 'medium' WHEN 2 THEN 'large'
            |    ELSE 'petite' END AS i_size,
            |  concat('Product', lpad(cast(p_partkey as string), 8, '0'))
            |    AS i_product_name
            |FROM part""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW store AS
            |SELECT cast(sk as bigint) AS s_store_sk,
            |  concat('S', cast(sk as string)) AS s_store_id,
            |  concat('Store', cast(sk as string)) AS s_store_name,
            |  CASE cast(sk % 5 as int) WHEN 0 THEN 'TN' WHEN 1 THEN 'CA'
            |    WHEN 2 THEN 'TX' WHEN 3 THEN 'NY' ELSE 'WA' END AS s_state,
            |  lpad(cast(sk * 11111 % 100000 as string), 5, '0') AS s_zip
            |FROM (SELECT explode(sequence(1, 10)) AS sk)""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW customer_address AS
            |SELECT c_custkey AS ca_address_sk,
            |  lpad(cast(c_custkey * 7919 % 100000 as string), 5, '0')
            |    AS ca_zip,
            |  CASE cast(c_custkey % 7 as int) WHEN 0 THEN 'TN'
            |    WHEN 1 THEN 'CA' WHEN 2 THEN 'TX' WHEN 3 THEN 'NY'
            |    WHEN 4 THEN 'WA' WHEN 5 THEN 'OR' ELSE 'FL' END AS ca_state,
            |  concat('City', cast(c_custkey % 30 as string)) AS ca_city
            |FROM customer""".stripMargin)
    // catalog channel: the (orderkey + linenumber) % 3 = 2 slice (web
    // takes ≡ 1; ≡ 0 lines are store-only — see the web_sales note)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW catalog_sales AS
            |SELECT cast(datediff(cast(o_orderdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint) AS cs_sold_date_sk,
            |  l_partkey AS cs_item_sk,
            |  o_custkey AS cs_bill_customer_sk,
            |  cast(l_suppkey % 3 + 1 as bigint) AS cs_call_center_sk,
            |  l_quantity AS cs_quantity,
            |  l_extendedprice AS cs_ext_sales_price,
            |  l_extendedprice * (1 - l_discount - l_tax) * 0.1
            |    AS cs_net_profit,
            |  o_orderkey AS cs_order_number,
            |  cast(datediff(cast(l_shipdate as date),
            |    DATE '1995-01-01') + 2450000 as bigint)
            |    AS cs_ship_date_sk,
            |  cast(l_suppkey % 4 + 1 as bigint) AS cs_warehouse_sk,
            |  cast(l_partkey % 50 + 1 as bigint) AS cs_promo_sk,
            |  o_custkey AS cs_bill_cdemo_sk,
            |  l_extendedprice / l_quantity AS cs_list_price,
            |  l_extendedprice * l_discount AS cs_coupon_amt,
            |  l_extendedprice * (1 - l_discount) / l_quantity
            |    AS cs_sales_price,
            |  l_extendedprice * l_discount AS cs_ext_discount_amt,
            |  cast((o_orderkey * 181 + l_linenumber * 7919) % 86400
            |    as bigint) AS cs_sold_time_sk,
            |  CASE WHEN (o_orderkey * 7 + l_linenumber) % 11 = 0 THEN NULL
            |    ELSE l_suppkey END AS cs_ship_addr_sk,
            |  cast((o_orderkey + l_suppkey) % 5 + 1 as bigint)
            |    AS cs_ship_mode_sk
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |WHERE (o_orderkey + l_linenumber) % 3 = 2""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW customer_demographics AS
            |SELECT c_custkey AS cd_demo_sk,
            |  CASE WHEN c_custkey % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
            |  CASE cast(c_custkey % 3 as int) WHEN 0 THEN 'S' WHEN 1 THEN 'M'
            |    ELSE 'D' END AS cd_marital_status,
            |  CASE cast(c_custkey % 4 as int) WHEN 0 THEN 'College'
            |    WHEN 1 THEN 'Primary' WHEN 2 THEN 'Secondary'
            |    ELSE 'Advanced Degree' END AS cd_education_status,
            |  cast(c_custkey % 10 * 500 + 500 as bigint)
            |    AS cd_purchase_estimate,
            |  CASE cast(c_custkey % 4 as int) WHEN 0 THEN 'Low Risk'
            |    WHEN 1 THEN 'Good' WHEN 2 THEN 'High Risk'
            |    ELSE 'Unknown' END AS cd_credit_rating,
            |  cast(c_custkey % 7 as bigint) AS cd_dep_count,
            |  cast(c_custkey % 5 as bigint) AS cd_dep_employed_count,
            |  cast(c_custkey % 3 as bigint) AS cd_dep_college_count
            |FROM customer""".stripMargin)
    // the 5 return reasons Q9 anchors its single-row CASE report on
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW reason AS
            |SELECT cast(sk as bigint) AS r_reason_sk,
            |  concat('Reason', cast(sk as string)) AS r_reason_desc
            |FROM (SELECT explode(sequence(1, 5)) AS sk)""".stripMargin)
    // the 5 ship modes the catalog channel's latency reports key on
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW ship_mode AS
            |SELECT cast(sk as bigint) AS sm_ship_mode_sk,
            |  CASE cast(sk % 5 as int) WHEN 0 THEN 'EXPRESS'
            |    WHEN 1 THEN 'OVERNIGHT' WHEN 2 THEN 'REGULAR'
            |    WHEN 3 THEN 'TWO DAY' ELSE 'LIBRARY' END AS sm_type
            |FROM (SELECT explode(sequence(1, 5)) AS sk)""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW promotion AS
            |SELECT cast(sk as bigint) AS p_promo_sk,
            |  CASE WHEN sk % 3 = 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
            |  CASE WHEN sk % 4 = 0 THEN 'Y' ELSE 'N' END AS p_channel_event
            |FROM (SELECT explode(sequence(1, 50)) AS sk)""".stripMargin)
    // 86400 seconds-of-day; broadcast-sized like every dimension here
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW time_dim AS
            |SELECT cast(t as bigint) AS t_time_sk,
            |  cast(t DIV 3600 as bigint) AS t_hour,
            |  cast(t % 3600 DIV 60 as bigint) AS t_minute
            |FROM (SELECT explode(sequence(0, 86399)) AS t)""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW household_demographics AS
            |SELECT c_custkey AS hd_demo_sk,
            |  cast(c_custkey % 10 as bigint) AS hd_dep_count,
            |  cast(c_custkey % 5 as bigint) AS hd_vehicle_count,
            |  cast(c_custkey % 20 + 1 as bigint) AS hd_income_band_sk
            |FROM customer""".stripMargin)
    // 20 5k-wide income bands the household demographics key onto (Q84)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW income_band AS
            |SELECT cast(sk as bigint) AS ib_income_band_sk,
            |  cast((sk - 1) * 5000 as bigint) AS ib_lower_bound,
            |  cast(sk * 5000 as bigint) AS ib_upper_bound
            |FROM (SELECT explode(sequence(1, 20)) AS sk)""".stripMargin)
    // the 3 call centers the catalog channel's suppkey%3 slices onto
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW call_center AS
            |SELECT cast(sk as bigint) AS cc_call_center_sk,
            |  concat('CC', cast(sk as string)) AS cc_name,
            |  CASE cast(sk % 3 as int) WHEN 0 THEN 'small'
            |    WHEN 1 THEN 'medium' ELSE 'large' END AS cc_class
            |FROM (SELECT explode(sequence(1, 3)) AS sk)""".stripMargin)
    // the 4 warehouses inventory and ship-channel facts key on
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW warehouse AS
            |SELECT cast(sk as bigint) AS w_warehouse_sk,
            |  concat('Warehouse', cast(sk as string)) AS w_warehouse_name,
            |  CASE cast(sk % 4 as int) WHEN 0 THEN 'TN' WHEN 1 THEN 'CA'
            |    WHEN 2 THEN 'TX' ELSE 'NY' END AS w_state
            |FROM (SELECT explode(sequence(1, 4)) AS sk)""".stripMargin)
    // weekly inventory: part x 4 warehouses x the 52 weeks of 1998
    // (day offset 1096 = 1995-01-01 → 1998-01-01), quantity by integer
    // hash — the Q21/Q39/Q72/Q82 fact. Scale: rows = items x 4 x 52,
    // generated lazily by a codegen'd sequence explode (real TPC-DS
    // ships inventory as a table; the generation is the fixture stand-
    // in, and every join below keys on item/date like the real fact).
    // The multipliers are range() relations, NOT explode(sequence())
    // on a one-row relation: Range reports its true row count to the
    // size-only stats visitor, so the estimated inventory size carries
    // the 208x fan-out. With the explode spelling the view's estimate
    // collapsed to ~one part-scan and Catalyst BROADCAST THE 4.2M-ROW
    // FACT (BuildLeft on the item join, plan-audited r7) — the exact
    // mistake that melts a driver at 100 TB. Honest stats keep facts on
    // the probe/shuffle side and dimensions on the build side.
    // r18 OPT (guide §2.5 "input skew: one huge unsplittable file ...
    // otherwise repartition immediately after the read"): the part
    // fixture is one row group, so the 208x generation fan-out below ran
    // inside a single task (qu6's 4.16M-row stage measured ~1.0s
    // single-threaded, the dominant cost of every inventory gate).
    // Spread the tiny part scan across the session's core-derived
    // parallelism BEFORE the fan-out — the shuffle moves only the
    // 20k-row part slice. The partition count is explicit because AQE's
    // advisory-size coalescing sees only the ~200KB pre-fan-out bytes
    // and folds a no-arg REPARTITION back to one task (measured). On a
    // cluster the part scan is already split and the tiny extra
    // exchange is noise.
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW inventory AS
            |SELECT cast(2450000 + 1096 + wk * 7 as bigint) AS inv_date_sk,
            |  p_partkey AS inv_item_sk,
            |  cast(w as bigint) AS inv_warehouse_sk,
            |  cast((p_partkey * 31 + w * 7 + wk * 13) % 1000 as bigint)
            |    AS inv_quantity_on_hand
            |FROM (SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */
            |    p_partkey FROM part) p
            |CROSS JOIN (SELECT cast(id as int) AS w FROM range(1, 5)) ws
            |CROSS JOIN (SELECT cast(id as int) AS wk FROM range(0, 52)) wks""".stripMargin)
    materializeFacts(s, dir)
  }

  // Real TPC-DS ships the channel facts as STORED tables; deriving them
  // from lineitem⋈orders inside every query is a fixture artifact that
  // both re-pays the derivation per fact reference (Q14 scans channels
  // nine times) and hides parquet pushdown behind a join. Materialize
  // each fact to parquet ONCE per (JVM, sfDir) and re-point the views —
  // every query then plans the production shape: a real columnar scan
  // with PushedFilters, honest file-size stats, one derivation cost
  // amortized over the whole suite. Per-JVM (not per-disk) so a swapped
  // fixture (new driver testdata) can never serve stale rows.
  // inventory is deliberately NOT here: it is pure generated arithmetic
  // (part x range x range, no join to collapse), and codegen'd
  // generation measures FASTER than scanning the equivalent parquet
  // (Q72 1.4 s generated vs 2.5 s materialized at sf0.1) — while its
  // range()-derived stats already report fact-scale honestly.
  private val factNames = Seq("store_sales", "web_sales", "catalog_sales",
    "store_returns", "web_returns", "catalog_returns")
  private val materialized =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  private def materializeFacts(s: SparkSession, dir: String): Unit =
    synchronized {
      val dirs = materialized.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty)
      val matDir = dirs.getOrElseUpdate(dir, {
        val base = java.nio.file.Files
          .createTempDirectory("graft_tpcds_mat").toString
        // r18 note: rewriting the facts at the session's parallelism
        // (32 files) was tried and MEASURED SLOWER suite-wide (qx1
        // 0.24→0.58 s, qv7 1.7→3.3 s): at fixture scale per-task fixed
        // costs (~100 ms: parquet open, shuffle-file creation, 32x the
        // shuffle blocks) dwarf the 50-100 ms single-task scan they
        // parallelize away. The AQE-coalesced 1-2 file layout is the
        // right shape at this input size; at production input sizes the
        // same derivation writes task-count files of 128MB-1GB
        // (guide §6) with no code change.
        factNames.foreach { t =>
          s.table(t).write.mode("overwrite").parquet(s"$base/$t")
        }
        base
      })
      factNames.foreach { t =>
        s.read.parquet(s"$matDir/$t").createOrReplaceTempView(t)
      }
    }

  private def sql(s: SparkSession, dir: String, q: String) = {
    registerTpcds(s, dir)
    Registry.install(s)
    s.sql(Registry.rewritePrestoSql(q))
  }

  /** DuckDB replay of the derived star schema (same arithmetic, DuckDB
    * spellings: generate_series + unnest, datediff('day', ...)). */
  private val dsCte =
    """date_dim AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01', d_date) + 2450000
      |      AS BIGINT) AS d_date_sk,
      |    d_date, CAST(year(d_date) AS BIGINT) AS d_year,
      |    CAST(month(d_date) AS BIGINT) AS d_moy,
      |    CAST(day(d_date) AS BIGINT) AS d_dom,
      |    CAST(quarter(d_date) AS BIGINT) AS d_qoy,
      |    CAST(datediff('day', DATE '1995-01-01', d_date) // 7 AS BIGINT)
      |      AS d_week_seq,
      |    CAST((year(d_date) - 1995) * 12 + month(d_date) - 1 AS BIGINT)
      |      AS d_month_seq,
      |    dayname(d_date) AS d_day_name
      |  FROM (SELECT unnest(generate_series(DATE '1995-01-01',
      |    DATE '2000-12-31', INTERVAL 1 DAY))::DATE AS d_date)),
      |store_sales AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01',
      |      CAST(o_orderdate AS DATE)) + 2450000 AS BIGINT)
      |      AS ss_sold_date_sk,
      |    l_partkey AS ss_item_sk, o_custkey AS ss_customer_sk,
      |    CAST(l_suppkey % 10 + 1 AS BIGINT) AS ss_store_sk,
      |    CAST(l_partkey % 50 + 1 AS BIGINT) AS ss_promo_sk,
      |    o_custkey AS ss_cdemo_sk, o_custkey AS ss_hdemo_sk,
      |    CAST((o_orderkey * 181 + l_linenumber * 7919) % 86400
      |      AS BIGINT) AS ss_sold_time_sk,
      |    CASE WHEN (o_orderkey * 3 + l_linenumber * 5) % 13 = 0
      |      THEN NULL ELSE l_suppkey END AS ss_addr_sk,
      |    o_orderkey AS ss_ticket_number,
      |    l_quantity AS ss_quantity,
      |    l_extendedprice / l_quantity AS ss_list_price,
      |    l_extendedprice AS ss_ext_sales_price,
      |    l_extendedprice * (1 - l_discount) / l_quantity AS ss_sales_price,
      |    l_extendedprice * l_discount AS ss_coupon_amt,
      |    l_extendedprice * (1 - l_discount - l_tax) * 0.1 AS ss_net_profit
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |web_sales AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01',
      |      CAST(o_orderdate AS DATE)) + 2450000 AS BIGINT)
      |      AS ws_sold_date_sk,
      |    CAST(datediff('day', DATE '1995-01-01',
      |      CAST(l_shipdate AS DATE)) + 2450000 AS BIGINT)
      |      AS ws_ship_date_sk,
      |    l_partkey AS ws_item_sk,
      |    o_custkey AS ws_bill_customer_sk,
      |    CAST(l_suppkey % 5 + 1 AS BIGINT) AS ws_web_site_sk,
      |    o_orderkey AS ws_order_number,
      |    CAST(l_suppkey % 4 + 1 AS BIGINT) AS ws_warehouse_sk,
      |    CAST(l_partkey % 50 + 1 AS BIGINT) AS ws_promo_sk,
      |    CAST((o_orderkey * 181 + l_linenumber * 7919) % 86400
      |      AS BIGINT) AS ws_sold_time_sk,
      |    l_quantity AS ws_quantity,
      |    l_extendedprice * (1 - l_discount) / l_quantity
      |      AS ws_sales_price,
      |    l_extendedprice * l_discount AS ws_ext_discount_amt,
      |    l_extendedprice AS ws_ext_sales_price,
      |    l_extendedprice * (1 - l_discount - l_tax) * 0.1 AS ws_net_profit,
      |    CASE WHEN (o_orderkey * 5 + l_linenumber * 3) % 11 = 0
      |      THEN NULL ELSE o_custkey END AS ws_ship_customer_sk
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE (o_orderkey + l_linenumber) % 3 = 1),
      |web_returns AS (
      |  SELECT o_orderkey AS wr_order_number,
      |    l_partkey AS wr_item_sk,
      |    CAST(l_suppkey % 5 + 1 AS BIGINT) AS wr_web_site_sk,
      |    o_custkey AS wr_refunded_customer_sk,
      |    l_quantity AS wr_return_quantity,
      |    l_extendedprice * (1 - l_discount) AS wr_return_amt,
      |    CAST(datediff('day', DATE '1995-01-01',
      |      CAST(l_shipdate AS DATE)) + 2450000 AS BIGINT)
      |      AS wr_returned_date_sk
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE (o_orderkey + l_linenumber) % 3 = 1
      |    AND l_returnflag = 'R'),
      |store_returns AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01',
      |      CAST(l_shipdate AS DATE)) + 2450000 AS BIGINT)
      |      AS sr_returned_date_sk,
      |    o_custkey AS sr_customer_sk,
      |    l_partkey AS sr_item_sk,
      |    o_orderkey AS sr_ticket_number,
      |    CAST(l_suppkey % 10 + 1 AS BIGINT) AS sr_store_sk,
      |    l_quantity AS sr_return_quantity,
      |    l_extendedprice * (1 - l_discount) AS sr_return_amt
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'),
      |catalog_returns AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01',
      |      CAST(l_shipdate AS DATE)) + 2450000 AS BIGINT)
      |      AS cr_returned_date_sk,
      |    CAST(l_suppkey % 3 + 1 AS BIGINT) AS cr_call_center_sk,
      |    l_extendedprice * (1 - l_discount) AS cr_return_amount,
      |    l_partkey AS cr_item_sk,
      |    o_orderkey AS cr_order_number,
      |    o_custkey AS cr_returning_customer_sk,
      |    l_quantity AS cr_return_quantity
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE (o_orderkey + l_linenumber) % 3 = 2
      |    AND l_returnflag = 'R'),
      |item AS (
      |  SELECT p_partkey AS i_item_sk,
      |    concat('ITEM', lpad(CAST(p_partkey AS VARCHAR), 8, '0'))
      |      AS i_item_id,
      |    CAST(substring(p_brand, 7) AS BIGINT) AS i_brand_id,
      |    p_brand AS i_brand,
      |    CAST(length(p_type) AS BIGINT) AS i_category_id,
      |    p_type AS i_category,
      |    concat(p_type, '#', CAST(p_partkey % 3 + 1 AS VARCHAR))
      |      AS i_class,
      |    CAST(p_partkey % 1000 + 1 AS BIGINT) AS i_manufact_id,
      |    CAST(p_partkey % 100 + 1 AS BIGINT) AS i_manager_id,
      |    p_retailprice AS i_current_price,
      |    CASE CAST(p_partkey % 8 AS INT) WHEN 0 THEN 'red'
      |      WHEN 1 THEN 'blue' WHEN 2 THEN 'green' WHEN 3 THEN 'white'
      |      WHEN 4 THEN 'yellow' WHEN 5 THEN 'black' WHEN 6 THEN 'pink'
      |      ELSE 'orange' END AS i_color,
      |    CASE CAST(p_partkey % 5 AS INT) WHEN 0 THEN 'Oz'
      |      WHEN 1 THEN 'Lb' WHEN 2 THEN 'Ton' WHEN 3 THEN 'Gram'
      |      ELSE 'Box' END AS i_units,
      |    CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN 'small'
      |      WHEN 1 THEN 'medium' WHEN 2 THEN 'large'
      |      ELSE 'petite' END AS i_size,
      |    concat('Product', lpad(CAST(p_partkey AS VARCHAR), 8, '0'))
      |      AS i_product_name
      |  FROM part),
      |store AS (
      |  SELECT CAST(sk AS BIGINT) AS s_store_sk,
      |    concat('S', CAST(sk AS VARCHAR)) AS s_store_id,
      |    concat('Store', CAST(sk AS VARCHAR)) AS s_store_name,
      |    CASE CAST(sk % 5 AS INT) WHEN 0 THEN 'TN' WHEN 1 THEN 'CA'
      |      WHEN 2 THEN 'TX' WHEN 3 THEN 'NY' ELSE 'WA' END AS s_state,
      |    lpad(CAST(sk * 11111 % 100000 AS VARCHAR), 5, '0') AS s_zip
      |  FROM (SELECT unnest(generate_series(1, 10)) AS sk)),
      |customer_address AS (
      |  SELECT c_custkey AS ca_address_sk,
      |    lpad(CAST(c_custkey * 7919 % 100000 AS VARCHAR), 5, '0')
      |      AS ca_zip,
      |    CASE CAST(c_custkey % 7 AS INT) WHEN 0 THEN 'TN'
      |      WHEN 1 THEN 'CA' WHEN 2 THEN 'TX' WHEN 3 THEN 'NY'
      |      WHEN 4 THEN 'WA' WHEN 5 THEN 'OR' ELSE 'FL' END AS ca_state,
      |    concat('City', CAST(c_custkey % 30 AS VARCHAR)) AS ca_city
      |  FROM customer),
      |catalog_sales AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01',
      |      CAST(o_orderdate AS DATE)) + 2450000 AS BIGINT)
      |      AS cs_sold_date_sk,
      |    l_partkey AS cs_item_sk,
      |    o_custkey AS cs_bill_customer_sk,
      |    CAST(l_suppkey % 3 + 1 AS BIGINT) AS cs_call_center_sk,
      |    l_quantity AS cs_quantity,
      |    l_extendedprice AS cs_ext_sales_price,
      |    l_extendedprice * (1 - l_discount - l_tax) * 0.1 AS cs_net_profit,
      |    o_orderkey AS cs_order_number,
      |    CAST(datediff('day', DATE '1995-01-01',
      |      CAST(l_shipdate AS DATE)) + 2450000 AS BIGINT)
      |      AS cs_ship_date_sk,
      |    CAST(l_suppkey % 4 + 1 AS BIGINT) AS cs_warehouse_sk,
      |    CAST(l_partkey % 50 + 1 AS BIGINT) AS cs_promo_sk,
      |    o_custkey AS cs_bill_cdemo_sk,
      |    l_extendedprice / l_quantity AS cs_list_price,
      |    l_extendedprice * l_discount AS cs_coupon_amt,
      |    l_extendedprice * (1 - l_discount) / l_quantity
      |      AS cs_sales_price,
      |    l_extendedprice * l_discount AS cs_ext_discount_amt,
      |    CAST((o_orderkey * 181 + l_linenumber * 7919) % 86400
      |      AS BIGINT) AS cs_sold_time_sk,
      |    CASE WHEN (o_orderkey * 7 + l_linenumber) % 11 = 0 THEN NULL
      |      ELSE l_suppkey END AS cs_ship_addr_sk,
      |    CAST((o_orderkey + l_suppkey) % 5 + 1 AS BIGINT)
      |      AS cs_ship_mode_sk
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE (o_orderkey + l_linenumber) % 3 = 2),
      |customer_demographics AS (
      |  SELECT c_custkey AS cd_demo_sk,
      |    CASE WHEN c_custkey % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
      |    CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN 'S' WHEN 1 THEN 'M'
      |      ELSE 'D' END AS cd_marital_status,
      |    CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'College'
      |      WHEN 1 THEN 'Primary' WHEN 2 THEN 'Secondary'
      |      ELSE 'Advanced Degree' END AS cd_education_status,
      |    CAST(c_custkey % 10 * 500 + 500 AS BIGINT)
      |      AS cd_purchase_estimate,
      |    CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'Low Risk'
      |      WHEN 1 THEN 'Good' WHEN 2 THEN 'High Risk'
      |      ELSE 'Unknown' END AS cd_credit_rating,
      |    CAST(c_custkey % 7 AS BIGINT) AS cd_dep_count,
      |    CAST(c_custkey % 5 AS BIGINT) AS cd_dep_employed_count,
      |    CAST(c_custkey % 3 AS BIGINT) AS cd_dep_college_count
      |  FROM customer),
      |reason AS (
      |  SELECT CAST(sk AS BIGINT) AS r_reason_sk,
      |    concat('Reason', CAST(sk AS VARCHAR)) AS r_reason_desc
      |  FROM (SELECT unnest(generate_series(1, 5)) AS sk)),
      |ship_mode AS (
      |  SELECT CAST(sk AS BIGINT) AS sm_ship_mode_sk,
      |    CASE CAST(sk % 5 AS INT) WHEN 0 THEN 'EXPRESS'
      |      WHEN 1 THEN 'OVERNIGHT' WHEN 2 THEN 'REGULAR'
      |      WHEN 3 THEN 'TWO DAY' ELSE 'LIBRARY' END AS sm_type
      |  FROM (SELECT unnest(generate_series(1, 5)) AS sk)),
      |promotion AS (
      |  SELECT CAST(sk AS BIGINT) AS p_promo_sk,
      |    CASE WHEN sk % 3 = 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
      |    CASE WHEN sk % 4 = 0 THEN 'Y' ELSE 'N' END AS p_channel_event
      |  FROM (SELECT unnest(generate_series(1, 50)) AS sk)),
      |time_dim AS (
      |  SELECT CAST(t AS BIGINT) AS t_time_sk,
      |    CAST(t // 3600 AS BIGINT) AS t_hour,
      |    CAST(t % 3600 // 60 AS BIGINT) AS t_minute
      |  FROM (SELECT unnest(generate_series(0, 86399)) AS t)),
      |household_demographics AS (
      |  SELECT c_custkey AS hd_demo_sk,
      |    CAST(c_custkey % 10 AS BIGINT) AS hd_dep_count,
      |    CAST(c_custkey % 5 AS BIGINT) AS hd_vehicle_count,
      |    CAST(c_custkey % 20 + 1 AS BIGINT) AS hd_income_band_sk
      |  FROM customer),
      |income_band AS (
      |  SELECT CAST(sk AS BIGINT) AS ib_income_band_sk,
      |    CAST((sk - 1) * 5000 AS BIGINT) AS ib_lower_bound,
      |    CAST(sk * 5000 AS BIGINT) AS ib_upper_bound
      |  FROM (SELECT unnest(generate_series(1, 20)) AS sk)),
      |call_center AS (
      |  SELECT CAST(sk AS BIGINT) AS cc_call_center_sk,
      |    concat('CC', CAST(sk AS VARCHAR)) AS cc_name,
      |    CASE CAST(sk % 3 AS INT) WHEN 0 THEN 'small'
      |      WHEN 1 THEN 'medium' ELSE 'large' END AS cc_class
      |  FROM (SELECT unnest(generate_series(1, 3)) AS sk)),
      |warehouse AS (
      |  SELECT CAST(sk AS BIGINT) AS w_warehouse_sk,
      |    concat('Warehouse', CAST(sk AS VARCHAR)) AS w_warehouse_name,
      |    CASE CAST(sk % 4 AS INT) WHEN 0 THEN 'TN' WHEN 1 THEN 'CA'
      |      WHEN 2 THEN 'TX' ELSE 'NY' END AS w_state
      |  FROM (SELECT unnest(generate_series(1, 4)) AS sk)),
      |inventory AS (
      |  SELECT CAST(2450000 + 1096 + wk * 7 AS BIGINT) AS inv_date_sk,
      |    p_partkey AS inv_item_sk,
      |    CAST(w AS BIGINT) AS inv_warehouse_sk,
      |    CAST((p_partkey * 31 + w * 7 + wk * 13) % 1000 AS BIGINT)
      |      AS inv_quantity_on_hand
      |  FROM part
      |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS w) ws
      |  CROSS JOIN (SELECT unnest(generate_series(0, 51)) AS wk) wks)""".stripMargin

  override def defs: Map[String, Q] = Map(
    // TPC-DS Q3: the canonical date-dim star — brand revenue for one
    // manufacturer in November across all years.
    "qo0_tpcds_q3" -> ((s, dir) => sql(s, dir,
      """SELECT dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
        |  round(sum(ss_ext_sales_price), 2) sum_agg
        |FROM date_dim dt, store_sales, item
        |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        |  AND store_sales.ss_item_sk = item.i_item_sk
        |  AND item.i_manufact_id = 128
        |  AND dt.d_moy = 11
        |GROUP BY dt.d_year, item.i_brand_id, item.i_brand
        |ORDER BY dt.d_year, sum_agg DESC, brand_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q7: 4-dimension star (demographics + promotion + date +
    // item) with four avg aggregates. The + 5e-7 inside each round is an
    // exact-tie breaker: item-level groups are tiny and the money columns
    // are cents-structured, so avgs land EXACTLY on .xx5 boundaries where
    // Spark (HALF_UP on the shortest-decimal repr) and a binary-rounding
    // engine systematically disagree; the epsilon is far above summation
    // noise (~1e-11) and far below the avg value grid (>=5e-6), so both
    // engines shift identically and ties resolve upward on both sides.
    "qo1_tpcds_q7" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id,
        |  round(avg(ss_quantity) + 5e-7, 2) agg1,
        |  round(avg(ss_list_price) + 5e-7, 2) agg2,
        |  round(avg(ss_coupon_amt) + 5e-7, 2) agg3,
        |  round(avg(ss_sales_price) + 5e-7, 2) agg4
        |FROM store_sales, customer_demographics, date_dim, item, promotion
        |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |  AND ss_cdemo_sk = cd_demo_sk AND ss_promo_sk = p_promo_sk
        |  AND cd_gender = 'M' AND cd_marital_status = 'S'
        |  AND cd_education_status = 'College'
        |  AND (p_channel_email = 'N' OR p_channel_event = 'N')
        |  AND d_year = 1998
        |GROUP BY i_item_id
        |ORDER BY i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q27: the ROLLUP report — item x state with subtotal and
    // grand-total rows, grouping() disambiguating the null levels.
    "qo2_tpcds_q27" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, s_state,
        |  cast(grouping(s_state) as bigint) g_state,
        |  round(avg(ss_quantity) + 5e-7, 2) agg1,
        |  round(avg(ss_list_price) + 5e-7, 2) agg2,
        |  round(avg(ss_coupon_amt) + 5e-7, 2) agg3,
        |  round(avg(ss_sales_price) + 5e-7, 2) agg4
        |FROM store_sales, customer_demographics, date_dim, store, item
        |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |  AND ss_store_sk = s_store_sk AND ss_cdemo_sk = cd_demo_sk
        |  AND cd_gender = 'F' AND cd_marital_status = 'M'
        |  AND cd_education_status = 'Advanced Degree'
        |  AND d_year = 1999
        |  AND s_state IN ('TN', 'CA', 'TX')
        |GROUP BY ROLLUP(i_item_id, s_state)
        |ORDER BY i_item_id NULLS FIRST, s_state NULLS FIRST
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q42: category revenue for one manager-month.
    "qo3_tpcds_q42" -> ((s, dir) => sql(s, dir,
      """SELECT dt.d_year, item.i_category_id, item.i_category,
        |  round(sum(ss_ext_sales_price), 2) sum_agg
        |FROM date_dim dt, store_sales, item
        |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        |  AND store_sales.ss_item_sk = item.i_item_sk
        |  AND item.i_manager_id BETWEEN 1 AND 25
        |  AND dt.d_moy = 11 AND dt.d_year = 1998
        |GROUP BY dt.d_year, item.i_category_id, item.i_category
        |ORDER BY sum_agg DESC, dt.d_year, item.i_category_id,
        |  item.i_category
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q52: brand revenue for one manager-month (Q42's brand twin).
    "qo4_tpcds_q52" -> ((s, dir) => sql(s, dir,
      """SELECT dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
        |  round(sum(ss_ext_sales_price), 2) ext_price
        |FROM date_dim dt, store_sales, item
        |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
        |  AND store_sales.ss_item_sk = item.i_item_sk
        |  AND item.i_manager_id BETWEEN 1 AND 25
        |  AND dt.d_moy = 11 AND dt.d_year = 1999
        |GROUP BY dt.d_year, item.i_brand_id, item.i_brand
        |ORDER BY dt.d_year, ext_price DESC, brand_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q55: single-month brand revenue for one manager.
    "qo5_tpcds_q55" -> ((s, dir) => sql(s, dir,
      """SELECT i_brand_id brand_id, i_brand brand,
        |  round(sum(ss_ext_sales_price), 2) ext_price
        |FROM date_dim, store_sales, item
        |WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
        |  AND i_manager_id BETWEEN 26 AND 50
        |  AND d_moy = 11 AND d_year = 1999
        |GROUP BY i_brand_id, i_brand
        |ORDER BY ext_price DESC, brand_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q98: revenue share within item class — aggregate feeding a
    // PARTITION BY window over a 30-day date window.
    "qo6_tpcds_q98" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, i_category, i_class, i_current_price,
        |  round(sum(ss_ext_sales_price), 2) AS itemrevenue,
        |  round(sum(ss_ext_sales_price) * 100.0 /
        |    sum(sum(ss_ext_sales_price)) OVER (PARTITION BY i_class), 4)
        |    AS revenueratio
        |FROM store_sales, item, date_dim
        |WHERE ss_item_sk = i_item_sk
        |  AND i_category IN ('STANDARD', 'SMALL', 'MEDIUM')
        |  AND ss_sold_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1999-02-22'
        |    AND (DATE '1999-02-22' + INTERVAL 30 DAY)
        |GROUP BY i_item_id, i_class, i_category, i_current_price
        |ORDER BY i_category, i_class, i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q19: brand revenue where the buyer's zip prefix differs
    // from the store's — a 6-table star with a non-equi residual filter
    // on two dimension attributes (ca_zip vs s_zip).
    "qp0_tpcds_q19" -> ((s, dir) => sql(s, dir,
      """SELECT i_brand_id brand_id, i_brand brand, i_manufact_id,
        |  round(sum(ss_ext_sales_price), 2) ext_price
        |FROM date_dim, store_sales, item, customer, customer_address,
        |  store
        |WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
        |  AND i_manager_id BETWEEN 1 AND 30
        |  AND d_moy = 11 AND d_year = 1998
        |  AND ss_customer_sk = c_custkey
        |  AND c_custkey = ca_address_sk
        |  AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
        |  AND ss_store_sk = s_store_sk
        |GROUP BY i_brand_id, i_brand, i_manufact_id
        |ORDER BY ext_price DESC, brand_id, i_manufact_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q34 shape: per-ticket line counts inside a day-of-month
    // window, HAVING a count range, then the customer join on the
    // survivors (the derived fact's ticket = o_orderkey).
    "qo8_tpcds_q34" -> ((s, dir) => sql(s, dir,
      """SELECT c_name, ss_ticket_number, cast(cnt as bigint) AS cnt
        |FROM (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
        |      FROM store_sales, date_dim, store
        |      WHERE ss_sold_date_sk = d_date_sk
        |        AND ss_store_sk = s_store_sk
        |        AND d_dom BETWEEN 1 AND 3
        |        AND d_year IN (1998, 1999, 2000)
        |        AND s_state IN ('TN', 'CA', 'TX', 'NY', 'WA')
        |      GROUP BY ss_ticket_number, ss_customer_sk
        |      HAVING count(*) BETWEEN 4 AND 10) dn, customer
        |WHERE ss_customer_sk = c_custkey
        |ORDER BY c_name, ss_ticket_number""".stripMargin)),

    // TPC-DS Q59 shape: weekly per-store day-of-week sales, self-joined
    // at a 52-week offset for year-over-year comparison. Day sums are
    // exact (cents-valued doubles), so the rounds are no-ops and the
    // self-join compares bitwise.
    "qo9_tpcds_q59" -> ((s, dir) => sql(s, dir,
      """WITH wss AS (
        |  SELECT d_week_seq, ss_store_sk,
        |    round(sum(CASE WHEN d_day_name = 'Sunday'
        |      THEN ss_ext_sales_price ELSE 0 END), 2) AS sun_sales,
        |    round(sum(CASE WHEN d_day_name = 'Monday'
        |      THEN ss_ext_sales_price ELSE 0 END), 2) AS mon_sales,
        |    round(sum(CASE WHEN d_day_name = 'Friday'
        |      THEN ss_ext_sales_price ELSE 0 END), 2) AS fri_sales,
        |    round(sum(CASE WHEN d_day_name = 'Saturday'
        |      THEN ss_ext_sales_price ELSE 0 END), 2) AS sat_sales
        |  FROM store_sales, date_dim
        |  WHERE d_date_sk = ss_sold_date_sk
        |  GROUP BY d_week_seq, ss_store_sk)
        |SELECT y.ss_store_sk AS store_sk,
        |  cast(y.d_week_seq as bigint) AS week1,
        |  y.sun_sales AS sun1, y.mon_sales AS mon1,
        |  y.fri_sales AS fri1, y.sat_sales AS sat1,
        |  x.sun_sales AS sun2, x.mon_sales AS mon2,
        |  x.fri_sales AS fri2, x.sat_sales AS sat2
        |FROM wss y JOIN wss x ON y.ss_store_sk = x.ss_store_sk
        |  AND y.d_week_seq = x.d_week_seq - 52
        |WHERE y.d_week_seq BETWEEN 52 AND 78
        |  AND x.d_week_seq BETWEEN 104 AND 130
        |ORDER BY store_sk, week1""".stripMargin)),

    // TPC-DS Q1: customers whose store returns exceed 1.2x their
    // store's average — the returns fact (derived 'R' slice) aggregated
    // into a CTE that is scanned TWICE: once as the driving relation,
    // once inside a correlated per-store average subquery. Spark
    // decorrelates into a store-keyed aggregate re-join; cent sums
    // round before the ratio so both engines compare identical values.
    "qq8_tpcds_q1" -> ((s, dir) => sql(s, dir,
      """WITH customer_total_return AS (
        |  SELECT sr_customer_sk AS ctr_customer_sk,
        |    sr_store_sk AS ctr_store_sk,
        |    round(sum(sr_return_amt) + 5e-7, 2) AS ctr_total_return
        |  FROM store_returns, date_dim
        |  WHERE sr_returned_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY sr_customer_sk, sr_store_sk)
        |SELECT c_name, cast(ctr1.ctr_store_sk as bigint) AS store_sk,
        |  ctr1.ctr_total_return AS total_return
        |FROM customer_total_return ctr1, store, customer
        |WHERE ctr1.ctr_total_return > (
        |    SELECT avg(ctr_total_return) * 1.2
        |    FROM customer_total_return ctr2
        |    WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
        |  AND s_store_sk = ctr1.ctr_store_sk
        |  AND s_state = 'TN'
        |  AND ctr1.ctr_customer_sk = c_custkey
        |ORDER BY c_name, store_sk, total_return
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q74 shape: year-over-year spending ratio per customer,
    // web vs store — ONE year_total CTE instantiated FOUR times
    // (store/web x first/second year); survivors are customers whose
    // web ratio beat their store ratio. Ratios divide cent-rounded
    // sums, so both engines divide bitwise-identical operands.
    "qq9_tpcds_q74" -> ((s, dir) => sql(s, dir,
      """WITH year_total AS (
        |  SELECT ss_customer_sk AS c_sk, d_year,
        |    round(sum(ss_ext_sales_price), 2) AS total, 's' AS channel
        |  FROM store_sales, date_dim
        |  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |  GROUP BY ss_customer_sk, d_year
        |  UNION ALL
        |  SELECT ws_bill_customer_sk AS c_sk, d_year,
        |    round(sum(ws_ext_sales_price), 2) AS total, 'w' AS channel
        |  FROM web_sales, date_dim
        |  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |  GROUP BY ws_bill_customer_sk, d_year)
        |SELECT cast(t_s_fy.c_sk as bigint) AS customer
        |FROM year_total t_s_fy, year_total t_s_sy,
        |     year_total t_w_fy, year_total t_w_sy
        |WHERE t_s_fy.c_sk = t_s_sy.c_sk
        |  AND t_s_fy.c_sk = t_w_fy.c_sk
        |  AND t_s_fy.c_sk = t_w_sy.c_sk
        |  AND t_s_fy.channel = 's' AND t_s_fy.d_year = 1998
        |  AND t_s_sy.channel = 's' AND t_s_sy.d_year = 1999
        |  AND t_w_fy.channel = 'w' AND t_w_fy.d_year = 1998
        |  AND t_w_sy.channel = 'w' AND t_w_sy.d_year = 1999
        |  AND t_s_fy.total > 0 AND t_w_fy.total > 0
        |  AND t_w_sy.total / t_w_fy.total > t_s_sy.total / t_s_fy.total
        |ORDER BY customer
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q88 shape: the time-of-day band report — independent
    // single-row COUNT subqueries (one per half-hour band, each with
    // the household OR-of-ANDs filter) CROSS JOINed into one wide row.
    // Each band is a scan + broadcasts + global agg; the cross joins
    // are 1-row x 1-row. time_dim (86400 rows) broadcasts.
    "qr2_tpcds_q88" -> ((s, dir) => sql(s, dir,
      """SELECT * FROM
        | (SELECT cast(count(*) as bigint) h8_30_to_9
        |  FROM store_sales, household_demographics, time_dim, store
        |  WHERE ss_sold_time_sk = time_dim.t_time_sk
        |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
        |    AND ss_store_sk = s_store_sk
        |    AND time_dim.t_hour = 8 AND time_dim.t_minute >= 30
        |    AND ((household_demographics.hd_dep_count = 2
        |        AND household_demographics.hd_vehicle_count <= 4)
        |      OR (household_demographics.hd_dep_count = 0
        |        AND household_demographics.hd_vehicle_count <= 2)
        |      OR (household_demographics.hd_dep_count = 1
        |        AND household_demographics.hd_vehicle_count <= 3))
        |    AND store.s_store_name = 'Store1') s1,
        | (SELECT cast(count(*) as bigint) h9_to_9_30
        |  FROM store_sales, household_demographics, time_dim, store
        |  WHERE ss_sold_time_sk = time_dim.t_time_sk
        |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
        |    AND ss_store_sk = s_store_sk
        |    AND time_dim.t_hour = 9 AND time_dim.t_minute < 30
        |    AND ((household_demographics.hd_dep_count = 2
        |        AND household_demographics.hd_vehicle_count <= 4)
        |      OR (household_demographics.hd_dep_count = 0
        |        AND household_demographics.hd_vehicle_count <= 2)
        |      OR (household_demographics.hd_dep_count = 1
        |        AND household_demographics.hd_vehicle_count <= 3))
        |    AND store.s_store_name = 'Store1') s2,
        | (SELECT cast(count(*) as bigint) h9_30_to_10
        |  FROM store_sales, household_demographics, time_dim, store
        |  WHERE ss_sold_time_sk = time_dim.t_time_sk
        |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
        |    AND ss_store_sk = s_store_sk
        |    AND time_dim.t_hour = 9 AND time_dim.t_minute >= 30
        |    AND ((household_demographics.hd_dep_count = 2
        |        AND household_demographics.hd_vehicle_count <= 4)
        |      OR (household_demographics.hd_dep_count = 0
        |        AND household_demographics.hd_vehicle_count <= 2)
        |      OR (household_demographics.hd_dep_count = 1
        |        AND household_demographics.hd_vehicle_count <= 3))
        |    AND store.s_store_name = 'Store1') s3,
        | (SELECT cast(count(*) as bigint) h10_to_10_30
        |  FROM store_sales, household_demographics, time_dim, store
        |  WHERE ss_sold_time_sk = time_dim.t_time_sk
        |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
        |    AND ss_store_sk = s_store_sk
        |    AND time_dim.t_hour = 10 AND time_dim.t_minute < 30
        |    AND ((household_demographics.hd_dep_count = 2
        |        AND household_demographics.hd_vehicle_count <= 4)
        |      OR (household_demographics.hd_dep_count = 0
        |        AND household_demographics.hd_vehicle_count <= 2)
        |      OR (household_demographics.hd_dep_count = 1
        |        AND household_demographics.hd_vehicle_count <= 3))
        |    AND store.s_store_name = 'Store1') s4""".stripMargin)),

    // TPC-DS Q96: a single filtered count through three dimensions —
    // the simplest star probe, locked for the time_dim surface.
    "qr3_tpcds_q96" -> ((s, dir) => sql(s, dir,
      """SELECT cast(count(*) as bigint) AS cnt
        |FROM store_sales, household_demographics, time_dim, store
        |WHERE ss_sold_time_sk = time_dim.t_time_sk
        |  AND ss_hdemo_sk = household_demographics.hd_demo_sk
        |  AND ss_store_sk = s_store_sk
        |  AND time_dim.t_hour = 20 AND time_dim.t_minute >= 30
        |  AND household_demographics.hd_dep_count = 7
        |  AND store.s_store_name = 'Store2'""".stripMargin)),

    // TPC-DS Q6 shape: states whose customers bought items priced over
    // 1.2x their category average — a CORRELATED scalar avg subquery
    // against the item dimension inside a 5-table star. Spark
    // decorrelates the subquery into an aggregate join on i_category
    // (category count is tiny → broadcast); the star dimensions all
    // broadcast, so the plan is one fact scan + broadcasts + one agg.
    "qq1_tpcds_q6" -> ((s, dir) => sql(s, dir,
      """SELECT a.ca_state AS state, cast(count(*) as bigint) AS cnt
        |FROM customer_address a, customer c, store_sales s,
        |  date_dim d, item i
        |WHERE a.ca_address_sk = c.c_custkey
        |  AND s.ss_customer_sk = c.c_custkey
        |  AND s.ss_sold_date_sk = d.d_date_sk
        |  AND s.ss_item_sk = i.i_item_sk
        |  AND d.d_year = 1998
        |  AND i.i_current_price > 1.002 * (SELECT avg(j.i_current_price)
        |    FROM item j WHERE j.i_category = i.i_category)
        |GROUP BY a.ca_state
        |HAVING count(*) >= 10
        |ORDER BY cnt, state""".stripMargin)),

    // TPC-DS Q13 shape: one global average over an OR-of-ANDs of
    // demographic x price-band slices — the disjunctive-predicate star.
    // The whole disjunction evaluates inside the scan's filter after
    // the cd broadcast join; nothing shuffles but the final 1-row agg.
    "qq2_tpcds_q13" -> ((s, dir) => sql(s, dir,
      """SELECT round(avg(ss_quantity) + 5e-7, 2) AS avg_qty,
        |  round(avg(ss_ext_sales_price) + 5e-7, 2) AS avg_price,
        |  round(sum(ss_ext_sales_price), 2) AS total
        |FROM store_sales, store, customer_demographics, date_dim
        |WHERE s_store_sk = ss_store_sk
        |  AND ss_sold_date_sk = d_date_sk AND d_year = 1998
        |  AND ss_cdemo_sk = cd_demo_sk
        |  AND ((cd_marital_status = 'M'
        |      AND cd_education_status = 'Advanced Degree'
        |      AND ss_ext_sales_price BETWEEN 10000 AND 20000)
        |    OR (cd_marital_status = 'S'
        |      AND cd_education_status = 'College'
        |      AND ss_ext_sales_price BETWEEN 20000 AND 30000)
        |    OR (cd_marital_status = 'D'
        |      AND cd_education_status = 'Primary'
        |      AND ss_ext_sales_price BETWEEN 30000 AND 40000))""".stripMargin)),

    // TPC-DS Q15 shape: zip-prefix IN-list OR state IN-list OR a
    // per-row price threshold — the disjunction that CANNOT push into
    // any one dimension, evaluated post-join; catalog channel fact.
    "qq3_tpcds_q15" -> ((s, dir) => sql(s, dir,
      """SELECT ca_zip, round(sum(cs_ext_sales_price), 2) AS total
        |FROM catalog_sales, customer, customer_address, date_dim
        |WHERE cs_bill_customer_sk = c_custkey
        |  AND c_custkey = ca_address_sk
        |  AND (substr(ca_zip, 1, 2) IN ('85', '86', '88', '83')
        |    OR ca_state IN ('CA', 'WA')
        |    OR cs_ext_sales_price > 50000)
        |  AND cs_sold_date_sk = d_date_sk
        |  AND d_qoy = 1 AND d_year = 1998
        |GROUP BY ca_zip
        |ORDER BY ca_zip""".stripMargin)),

    // TPC-DS Q65 shape: store-item revenue against 10% of the store's
    // average item revenue — aggregate-of-aggregate with a re-join of
    // the same derived table (wss computed once, reused twice; Spark
    // plans the CTE as a reused exchange). Revenue sums round to cents
    // BEFORE the avg so both engines average identical values.
    "qq4_tpcds_q65" -> ((s, dir) => sql(s, dir,
      """WITH sb AS (
        |  SELECT ss_store_sk, ss_item_sk,
        |    round(sum(ss_sales_price) + 5e-7, 2) AS revenue
        |  FROM store_sales, date_dim
        |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY ss_store_sk, ss_item_sk),
        |sc AS (
        |  SELECT ss_store_sk, avg(revenue) AS ave
        |  FROM sb GROUP BY ss_store_sk)
        |SELECT s_store_name, i_item_id, sb.revenue
        |FROM store, item, sb, sc
        |WHERE sb.ss_store_sk = sc.ss_store_sk
        |  AND sb.revenue <= 0.1 * sc.ave
        |  AND s_store_sk = sb.ss_store_sk
        |  AND i_item_sk = sb.ss_item_sk
        |ORDER BY s_store_name, i_item_id""".stripMargin)),

    // Q5/Q77-style cross-channel report: per-channel per-outlet sales
    // and profit, UNION ALL across the store and web fact tables.
    "qo7_tpcds_channels" -> ((s, dir) => sql(s, dir,
      """WITH ss AS (
        |  SELECT 'store channel' AS channel, ss_store_sk AS id,
        |    round(sum(ss_ext_sales_price), 2) AS sales,
        |    round(sum(ss_net_profit), 2) AS profit
        |  FROM store_sales, date_dim
        |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY ss_store_sk),
        |ws AS (
        |  SELECT 'web channel' AS channel, ws_web_site_sk AS id,
        |    round(sum(ws_ext_sales_price), 2) AS sales,
        |    round(sum(ws_net_profit), 2) AS profit
        |  FROM web_sales, date_dim
        |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY ws_web_site_sk),
        |cs AS (
        |  SELECT 'catalog channel' AS channel, cs_call_center_sk AS id,
        |    round(sum(cs_ext_sales_price), 2) AS sales,
        |    round(sum(cs_net_profit), 2) AS profit
        |  FROM catalog_sales, date_dim
        |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY cs_call_center_sk)
        |SELECT channel, id, sales, profit
        |FROM (SELECT * FROM ss UNION ALL SELECT * FROM ws
        |      UNION ALL SELECT * FROM cs)
        |ORDER BY channel, id""".stripMargin)),

    // TPC-DS Q38: the three-channel INTERSECT cohort — customers active
    // on the SAME DAY in store, catalog, and web. Each branch is a
    // fact-scan + date/customer broadcast + DISTINCT; Spark plans
    // INTERSECT as left-semi joins over the distinct sets (shuffle on
    // the (name, date) key — the right 100 TB shape, no all-pairs).
    "qr4_tpcds_q38" -> ((s, dir) => sql(s, dir,
      """SELECT cast(count(*) as bigint) AS cnt FROM (
        |  SELECT DISTINCT c_name, d_date
        |  FROM store_sales, date_dim, customer
        |  WHERE ss_sold_date_sk = d_date_sk
        |    AND ss_customer_sk = c_custkey AND d_year = 1998
        |  INTERSECT
        |  SELECT DISTINCT c_name, d_date
        |  FROM catalog_sales, date_dim, customer
        |  WHERE cs_sold_date_sk = d_date_sk
        |    AND cs_bill_customer_sk = c_custkey AND d_year = 1998
        |  INTERSECT
        |  SELECT DISTINCT c_name, d_date
        |  FROM web_sales, date_dim, customer
        |  WHERE ws_sold_date_sk = d_date_sk
        |    AND ws_bill_customer_sk = c_custkey AND d_year = 1998
        |) hot_cust""".stripMargin)),

    // TPC-DS Q87: Q38's EXCEPT twin — store-channel day-customers who
    // bought in NEITHER other channel that day. Non-empty only because
    // the mod-3 channel slices leave a store-only residue (see the
    // web_sales derivation note). EXCEPT is left-anti per branch.
    "qr5_tpcds_q87" -> ((s, dir) => sql(s, dir,
      """SELECT cast(count(*) as bigint) AS cnt FROM (
        |  (SELECT DISTINCT c_name, d_date
        |   FROM store_sales, date_dim, customer
        |   WHERE ss_sold_date_sk = d_date_sk
        |     AND ss_customer_sk = c_custkey AND d_year = 1998)
        |  EXCEPT
        |  (SELECT DISTINCT c_name, d_date
        |   FROM catalog_sales, date_dim, customer
        |   WHERE cs_sold_date_sk = d_date_sk
        |     AND cs_bill_customer_sk = c_custkey AND d_year = 1998)
        |  EXCEPT
        |  (SELECT DISTINCT c_name, d_date
        |   FROM web_sales, date_dim, customer
        |   WHERE ws_sold_date_sk = d_date_sk
        |     AND ws_bill_customer_sk = c_custkey AND d_year = 1998)
        |) cool_cust""".stripMargin)),

    // TPC-DS Q51: cumulative web-vs-catalog revenue per item — two
    // ordered running-sum windows FULL OUTER JOINed on (item, day),
    // running-max over the coalesced stream, filtered where web's
    // cumulative leads. Running sums add cents-exact day sums in the
    // SAME (window) order on both engines, so the comparison and the
    // LIMIT cutoff (unique (item_sk, d_date) order) are deterministic.
    // Scale: both windows partition by item (parallel per item);
    // the full-outer joins on the same (item, day) key — one shuffle.
    "qr6_tpcds_q51" -> ((s, dir) => sql(s, dir,
      """WITH web_v1 AS (
        |  SELECT ws_item_sk item_sk, d_date,
        |    sum(sum(ws_ext_sales_price)) OVER (PARTITION BY ws_item_sk
        |      ORDER BY d_date
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
        |  FROM web_sales, date_dim
        |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1998
        |    AND ws_item_sk IS NOT NULL
        |  GROUP BY ws_item_sk, d_date),
        |catalog_v1 AS (
        |  SELECT cs_item_sk item_sk, d_date,
        |    sum(sum(cs_ext_sales_price)) OVER (PARTITION BY cs_item_sk
        |      ORDER BY d_date
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
        |  FROM catalog_sales, date_dim
        |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
        |    AND cs_item_sk IS NOT NULL
        |  GROUP BY cs_item_sk, d_date)
        |SELECT item_sk, d_date,
        |  round(web_cumulative, 2) AS web_cumulative,
        |  round(catalog_cumulative, 2) AS catalog_cumulative
        |FROM (
        |  SELECT item_sk, d_date,
        |    max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      web_cumulative,
        |    max(catalog_sales) OVER (PARTITION BY item_sk ORDER BY d_date
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      catalog_cumulative
        |  FROM (
        |    SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk
        |        ELSE catalog.item_sk END item_sk,
        |      CASE WHEN web.d_date IS NOT NULL THEN web.d_date
        |        ELSE catalog.d_date END d_date,
        |      web.cume_sales web_sales, catalog.cume_sales catalog_sales
        |    FROM web_v1 web FULL OUTER JOIN catalog_v1 catalog
        |      ON web.item_sk = catalog.item_sk
        |      AND web.d_date = catalog.d_date) x) y
        |WHERE web_cumulative > catalog_cumulative
        |ORDER BY item_sk, d_date
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q47: monthly brand-store sales vs the year's monthly
    // average, with the neighbor months via a rank self-join (the
    // spec's lag/lead idiom). The windowed avg rounds (+5e-7 exact-tie
    // breaker) BEFORE the 10%-deviation filter and the sort key, so
    // both engines filter and cut the LIMIT on bitwise-identical
    // doubles; the sort tiebreaker (category, brand, store, month) is
    // unique. Scale: one aggregate + two windows over the same
    // partitioning, then two self-equi-joins on (brand-store, rank) —
    // all shuffles on the same key family.
    "qr7_tpcds_q47" -> ((s, dir) => sql(s, dir,
      """WITH v1 AS (
        |  SELECT i_category, i_brand, s_store_name, d_year, d_moy,
        |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
        |    round(avg(sum(ss_sales_price)) OVER (PARTITION BY i_category,
        |      i_brand, s_store_name, d_year) + 5e-7, 2) avg_monthly_sales,
        |    rank() OVER (PARTITION BY i_category, i_brand, s_store_name
        |      ORDER BY d_year, d_moy) rn
        |  FROM item, store_sales, date_dim, store
        |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk
        |    AND (d_year = 1998 OR (d_year = 1997 AND d_moy = 12)
        |      OR (d_year = 1999 AND d_moy = 1))
        |  GROUP BY i_category, i_brand, s_store_name, d_year, d_moy)
        |SELECT v1.i_category, v1.i_brand, v1.s_store_name,
        |  cast(v1.d_year as bigint) AS d_year,
        |  cast(v1.d_moy as bigint) AS d_moy,
        |  v1.sum_sales, v1.avg_monthly_sales,
        |  v1_lag.sum_sales psum, v1_lead.sum_sales nsum
        |FROM v1, v1 v1_lag, v1 v1_lead
        |WHERE v1.i_category = v1_lag.i_category
        |  AND v1.i_category = v1_lead.i_category
        |  AND v1.i_brand = v1_lag.i_brand
        |  AND v1.i_brand = v1_lead.i_brand
        |  AND v1.s_store_name = v1_lag.s_store_name
        |  AND v1.s_store_name = v1_lead.s_store_name
        |  AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1
        |  AND v1.d_year = 1998
        |  AND v1.avg_monthly_sales > 0
        |  AND abs(v1.sum_sales - v1.avg_monthly_sales)
        |    / v1.avg_monthly_sales > 0.1
        |ORDER BY v1.sum_sales - v1.avg_monthly_sales, v1.i_category,
        |  v1.i_brand, v1.s_store_name, d_moy
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q67: the 8-level ROLLUP fed into a top-k-per-category
    // rank — every rollup depth competes in the same ranking, so
    // super-aggregate rows (category NULL) form their own partition.
    // sumsales rounds with the tie-breaker before ranking: identical
    // doubles rank identically on both engines, and rank ties keep
    // every tied row (no cutoff ambiguity). Scale: ROLLUP is one
    // Expand (9x rows) into one hash aggregate; rank partitions by
    // category (~150 partitions, each small).
    "qr8_tpcds_q67" -> ((s, dir) => sql(s, dir,
      """SELECT i_category, i_class, i_brand, i_item_id,
        |  cast(d_year as bigint) AS d_year, cast(d_qoy as bigint) AS d_qoy,
        |  cast(d_moy as bigint) AS d_moy,
        |  cast(s_store_sk as bigint) AS s_store_sk,
        |  sumsales, cast(rk as bigint) AS rk
        |FROM (
        |  SELECT i_category, i_class, i_brand, i_item_id, d_year, d_qoy,
        |    d_moy, s_store_sk, sumsales,
        |    rank() OVER (PARTITION BY i_category
        |      ORDER BY sumsales DESC) rk
        |  FROM (
        |    SELECT i_category, i_class, i_brand, i_item_id, d_year,
        |      d_qoy, d_moy, ss_store_sk AS s_store_sk,
        |      round(sum(coalesce(ss_sales_price * ss_quantity, 0))
        |        + 5e-7, 2) sumsales
        |    FROM store_sales, date_dim, item
        |    WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |      AND d_year = 1998
        |    GROUP BY ROLLUP(i_category, i_class, i_brand, i_item_id,
        |      d_year, d_qoy, d_moy, ss_store_sk)) dw1) dw2
        |WHERE rk <= 10
        |ORDER BY i_category NULLS FIRST, rk, i_class NULLS FIRST,
        |  i_brand NULLS FIRST, i_item_id NULLS FIRST, d_year NULLS FIRST,
        |  d_qoy NULLS FIRST, d_moy NULLS FIRST, s_store_sk NULLS FIRST
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q95: the multi-fact semi-join chain — orders shipped from
    // more than one warehouse (ws_wh self-join) AND having a web
    // return, counted/summed over a 60-day ship window. Both IN
    // subqueries plan as left-semi joins on the order number; the
    // ws_wh self-join shuffles once on the same key. The famous Q95
    // hazard (the self-join exploding on popular order numbers) is
    // bounded here and at scale by per-order line counts (~7 max).
    "qr9_tpcds_q95" -> ((s, dir) => sql(s, dir,
      """WITH ws_wh AS (
        |  SELECT ws1.ws_order_number
        |  FROM web_sales ws1, web_sales ws2
        |  WHERE ws1.ws_order_number = ws2.ws_order_number
        |    AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
        |SELECT cast(count(DISTINCT ws1.ws_order_number) as bigint)
        |    AS order_count,
        |  round(sum(ws_ext_sales_price), 2) AS total_sales,
        |  round(sum(ws_net_profit) + 5e-7, 2) AS total_net_profit
        |FROM web_sales ws1, date_dim, customer_address
        |WHERE ws1.ws_ship_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
        |  AND ws1.ws_bill_customer_sk = ca_address_sk
        |  AND ca_state = 'CA'
        |  AND ws1.ws_order_number IN (SELECT ws_order_number FROM ws_wh)
        |  AND ws1.ws_order_number IN (SELECT wr_order_number
        |    FROM web_returns, ws_wh
        |    WHERE wr_order_number = ws_wh.ws_order_number)""".stripMargin)),

    // TPC-DS Q23: the frequent-buyer cohort — three chained CTEs
    // (frequent items by day-count HAVING, the max customer basket as
    // a scalar, best customers above half that max), then February
    // catalog+web sales restricted to both cohorts via IN semi-joins.
    // Thresholds adapt to the fixture (day-counts are 1-3 at sf0.01;
    // spec's 4+ applies at real TPC-DS density). Scale: each CTE is
    // one aggregate; the scalar max broadcasts; the final UNION ALL
    // branches semi-join on item and customer keys.
    "qs0_tpcds_q23" -> ((s, dir) => sql(s, dir,
      """WITH frequent_ss_items AS (
        |  SELECT substr(i_item_id, 1, 30) itemdesc, i_item_sk item_sk,
        |    d_date solddate, count(*) cnt
        |  FROM store_sales, date_dim, item
        |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |    AND d_year IN (1998, 1999)
        |  GROUP BY substr(i_item_id, 1, 30), i_item_sk, d_date
        |  HAVING count(*) > 1),
        |max_store_sales AS (
        |  SELECT max(csales) tpcds_cmax FROM (
        |    SELECT c_custkey, sum(ss_quantity * ss_sales_price) csales
        |    FROM store_sales, customer, date_dim
        |    WHERE ss_customer_sk = c_custkey
        |      AND ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |    GROUP BY c_custkey) a),
        |best_ss_customer AS (
        |  SELECT c_custkey, sum(ss_quantity * ss_sales_price) ssales
        |  FROM store_sales, customer
        |  WHERE ss_customer_sk = c_custkey
        |  GROUP BY c_custkey
        |  HAVING sum(ss_quantity * ss_sales_price) >
        |    0.5 * (SELECT tpcds_cmax FROM max_store_sales))
        |SELECT round(sum(sales), 2) AS total FROM (
        |  SELECT cs_ext_sales_price sales
        |  FROM catalog_sales, date_dim
        |  WHERE d_year = 1998 AND d_moy = 2 AND cs_sold_date_sk = d_date_sk
        |    AND cs_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        |    AND cs_bill_customer_sk IN
        |      (SELECT c_custkey FROM best_ss_customer)
        |  UNION ALL
        |  SELECT ws_ext_sales_price sales
        |  FROM web_sales, date_dim
        |  WHERE d_year = 1998 AND d_moy = 2 AND ws_sold_date_sk = d_date_sk
        |    AND ws_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        |    AND ws_bill_customer_sk IN
        |      (SELECT c_custkey FROM best_ss_customer)) x""".stripMargin)),

    // TPC-DS Q62/Q99 shape: days-to-ship bucketed counts per web site —
    // conditional-sum pivot over the sold→ship day gap, joined on the
    // SHIP date. Counts are exact; one scan + broadcast + one agg.
    "qs1_tpcds_q62" -> ((s, dir) => sql(s, dir,
      """SELECT cast(ws_web_site_sk as bigint) AS web_site,
        |  cast(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk <= 30
        |    THEN 1 ELSE 0 END) as bigint) AS d30,
        |  cast(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 30
        |    AND ws_ship_date_sk - ws_sold_date_sk <= 60
        |    THEN 1 ELSE 0 END) as bigint) AS d60,
        |  cast(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 60
        |    AND ws_ship_date_sk - ws_sold_date_sk <= 90
        |    THEN 1 ELSE 0 END) as bigint) AS d90,
        |  cast(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 90
        |    AND ws_ship_date_sk - ws_sold_date_sk <= 120
        |    THEN 1 ELSE 0 END) as bigint) AS d120,
        |  cast(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 120
        |    THEN 1 ELSE 0 END) as bigint) AS dmore
        |FROM web_sales, date_dim
        |WHERE ws_ship_date_sk = d_date_sk AND d_year = 1998
        |GROUP BY ws_web_site_sk
        |ORDER BY web_site""".stripMargin)),

    // TPC-DS Q90 shape: the am/pm ratio — two independent single-row
    // counts over (time band x household filter) cross-joined 1x1,
    // divided. time_dim and household_demographics broadcast.
    "qs2_tpcds_q90" -> ((s, dir) => sql(s, dir,
      """SELECT round(cast(amc as double) / cast(pmc as double), 4)
        |    AS am_pm_ratio
        |FROM (SELECT count(*) amc
        |      FROM web_sales, household_demographics, time_dim
        |      WHERE ws_sold_time_sk = t_time_sk
        |        AND ws_bill_customer_sk = hd_demo_sk
        |        AND t_hour BETWEEN 8 AND 9
        |        AND hd_dep_count BETWEEN 2 AND 6) at1,
        |     (SELECT count(*) pmc
        |      FROM web_sales, household_demographics, time_dim
        |      WHERE ws_sold_time_sk = t_time_sk
        |        AND ws_bill_customer_sk = hd_demo_sk
        |        AND t_hour BETWEEN 19 AND 20
        |        AND hd_dep_count BETWEEN 2 AND 6) pt""".stripMargin)),

    // TPC-DS Q31 shape: state-level quarter-over-quarter growth, web
    // vs store — each channel's quarterly totals instantiated three
    // times, six-way equi-join on state, survivors where web outgrew
    // store in BOTH q1→q2 and q2→q3. Ratios divide cent-rounded
    // totals, so both engines compare bitwise-identical operands.
    "qs3_tpcds_q31" -> ((s, dir) => sql(s, dir,
      """WITH ss AS (
        |  SELECT ca_state state, d_qoy qoy,
        |    round(sum(ss_ext_sales_price), 2) AS total
        |  FROM store_sales, date_dim, customer_address
        |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1996
        |    AND ss_customer_sk = ca_address_sk
        |  GROUP BY ca_state, d_qoy),
        |ws AS (
        |  SELECT ca_state state, d_qoy qoy,
        |    round(sum(ws_ext_sales_price), 2) AS total
        |  FROM web_sales, date_dim, customer_address
        |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1996
        |    AND ws_bill_customer_sk = ca_address_sk
        |  GROUP BY ca_state, d_qoy)
        |SELECT ss1.state AS state,
        |  round(ws2.total / ws1.total, 4) AS web_q1_q2_increase,
        |  round(ss2.total / ss1.total, 4) AS store_q1_q2_increase,
        |  round(ws3.total / ws2.total, 4) AS web_q2_q3_increase,
        |  round(ss3.total / ss2.total, 4) AS store_q2_q3_increase
        |FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
        |WHERE ss1.qoy = 1 AND ss2.qoy = 2 AND ss3.qoy = 3
        |  AND ws1.qoy = 1 AND ws2.qoy = 2 AND ws3.qoy = 3
        |  AND ss1.state = ss2.state AND ss2.state = ss3.state
        |  AND ss1.state = ws1.state AND ws1.state = ws2.state
        |  AND ws2.state = ws3.state
        |  AND ws2.total / ws1.total > ss2.total / ss1.total
        |  AND ws3.total / ws2.total > ss3.total / ss2.total
        |ORDER BY state""".stripMargin)),

    // TPC-DS Q33/Q56/Q60 shape: per-manufacturer revenue summed across
    // all three channels for one month, manufacturers restricted by an
    // IN-subquery over the item dimension (category pre-filter). Each
    // channel branch is scan + broadcasts + agg; the final re-agg
    // merges the three partial maps.
    "qs4_tpcds_q33" -> ((s, dir) => sql(s, dir,
      """WITH sel AS (SELECT i_manufact_id FROM item
        |  WHERE i_category IN ('ECONOMY', 'PROMO')
        |  GROUP BY i_manufact_id),
        |x AS (
        |  SELECT i_manufact_id,
        |    round(sum(ss_ext_sales_price), 2) AS total_sales
        |  FROM store_sales, date_dim, item
        |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |    AND d_year = 1998 AND d_moy = 5
        |    AND i_manufact_id IN (SELECT i_manufact_id FROM sel)
        |  GROUP BY i_manufact_id
        |  UNION ALL
        |  SELECT i_manufact_id,
        |    round(sum(cs_ext_sales_price), 2) AS total_sales
        |  FROM catalog_sales, date_dim, item
        |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
        |    AND d_year = 1998 AND d_moy = 5
        |    AND i_manufact_id IN (SELECT i_manufact_id FROM sel)
        |  GROUP BY i_manufact_id
        |  UNION ALL
        |  SELECT i_manufact_id,
        |    round(sum(ws_ext_sales_price), 2) AS total_sales
        |  FROM web_sales, date_dim, item
        |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
        |    AND d_year = 1998 AND d_moy = 5
        |    AND i_manufact_id IN (SELECT i_manufact_id FROM sel)
        |  GROUP BY i_manufact_id)
        |SELECT cast(i_manufact_id as bigint) AS i_manufact_id,
        |  round(sum(total_sales), 2) AS total_sales
        |FROM x GROUP BY i_manufact_id
        |ORDER BY total_sales DESC, i_manufact_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q25/Q29 shape: the three-fact chain — bought in store
    // (April), returned (April-October, same customer+item+ticket),
    // re-bought on the catalog channel (same customer+item) — each hop
    // an equi-join through its own date_dim alias. Join multiplicity
    // (one sale x many catalog re-buys) is the spec's own semantics and
    // identical on both engines.
    "qs5_tpcds_q25" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, s_store_id, s_store_name,
        |  round(sum(ss_net_profit) + 5e-7, 2) AS store_profit,
        |  round(sum(sr_return_amt) + 5e-7, 2) AS return_loss,
        |  round(sum(cs_net_profit) + 5e-7, 2) AS catalog_profit
        |FROM store_sales, store_returns, catalog_sales,
        |  date_dim d1, date_dim d2, date_dim d3, store, item
        |WHERE d1.d_moy = 4 AND d1.d_year = 1998
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND i_item_sk = ss_item_sk
        |  AND s_store_sk = ss_store_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_ticket_number = sr_ticket_number
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND d2.d_moy BETWEEN 4 AND 10 AND d2.d_year = 1998
        |  AND sr_customer_sk = cs_bill_customer_sk
        |  AND sr_item_sk = cs_item_sk
        |  AND cs_sold_date_sk = d3.d_date_sk
        |  AND d3.d_moy BETWEEN 4 AND 10 AND d3.d_year = 1998
        |GROUP BY i_item_id, s_store_id, s_store_name
        |ORDER BY i_item_id, s_store_id, s_store_name""".stripMargin)),

    // TPC-DS Q85 shape: web sales joined to their returns (order +
    // item) with the returning customer's demographics banded by an
    // OR-of-ANDs over (marital, education, price band) — per-band
    // counts and averages.
    "qs6_tpcds_q85" -> ((s, dir) => sql(s, dir,
      """SELECT cd_marital_status,
        |  cast(count(*) as bigint) AS cnt,
        |  round(avg(ws_quantity) + 5e-7, 2) AS avg_quantity,
        |  round(avg(wr_return_amt) + 5e-7, 2) AS avg_refund
        |FROM web_sales, web_returns, customer_demographics
        |WHERE ws_order_number = wr_order_number
        |  AND ws_item_sk = wr_item_sk
        |  AND wr_refunded_customer_sk = cd_demo_sk
        |  AND ((cd_marital_status = 'M'
        |      AND cd_education_status = 'Advanced Degree'
        |      AND ws_sales_price BETWEEN 100 AND 150)
        |    OR (cd_marital_status = 'S'
        |      AND cd_education_status = 'College'
        |      AND ws_sales_price BETWEEN 50 AND 100)
        |    OR (cd_marital_status = 'D'
        |      AND cd_education_status = 'Primary'
        |      AND ws_sales_price BETWEEN 150 AND 200))
        |GROUP BY cd_marital_status
        |ORDER BY cd_marital_status""".stripMargin)),

    // TPC-DS Q79 shape: per-ticket coupon/profit totals for household
    // slices in the first days of each month, the customer joined on
    // the aggregated tickets. Two-level: ticket aggregate then the
    // broadcast-sized customer join.
    "qs7_tpcds_q79" -> ((s, dir) => sql(s, dir,
      """SELECT c_name, ss_ticket_number,
        |  round(amt + 5e-7, 2) AS amt,
        |  round(profit + 5e-7, 2) AS profit
        |FROM (SELECT ss_ticket_number, ss_customer_sk,
        |        sum(ss_coupon_amt) amt, sum(ss_net_profit) profit
        |      FROM store_sales, date_dim, store, household_demographics
        |      WHERE ss_sold_date_sk = d_date_sk
        |        AND ss_store_sk = s_store_sk
        |        AND ss_hdemo_sk = hd_demo_sk
        |        AND (hd_dep_count = 6 OR hd_vehicle_count > 2)
        |        AND d_dom BETWEEN 1 AND 2 AND d_year = 1998
        |      GROUP BY ss_ticket_number, ss_customer_sk) ms, customer
        |WHERE ss_customer_sk = c_custkey
        |ORDER BY c_name, ss_ticket_number
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q94 shape: Q95's quantified twin — multi-warehouse orders
    // via correlated EXISTS, returns excluded via NOT EXISTS (a left-
    // anti join on the order number; Q95 used IN/IN semi-joins).
    "qs8_tpcds_q94" -> ((s, dir) => sql(s, dir,
      """SELECT cast(count(DISTINCT ws1.ws_order_number) as bigint)
        |    AS order_count,
        |  round(sum(ws_ext_sales_price), 2) AS total_sales,
        |  round(sum(ws_net_profit) + 5e-7, 2) AS total_net_profit
        |FROM web_sales ws1, date_dim, customer_address
        |WHERE ws1.ws_ship_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
        |  AND ws1.ws_bill_customer_sk = ca_address_sk
        |  AND ca_state = 'TX'
        |  AND EXISTS (SELECT * FROM web_sales ws2
        |    WHERE ws1.ws_order_number = ws2.ws_order_number
        |      AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
        |  AND NOT EXISTS (SELECT * FROM web_returns wr1
        |    WHERE ws1.ws_order_number = wr1.wr_order_number)""".stripMargin)),

    // TPC-DS Q17 shape: the Q25 three-fact chain carrying QUANTITY
    // statistics — count/avg/stddev of sold, returned, and re-bought
    // quantities per item and store state. stddev_samp accumulates in
    // engine-specific order; the +5e-7 tie-breaker keeps the rounded
    // cents grid identical.
    "qs9_tpcds_q17" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, s_state,
        |  cast(count(ss_quantity) as bigint) AS store_qty_count,
        |  round(avg(ss_quantity) + 5e-7, 2) AS store_qty_avg,
        |  round(stddev_samp(ss_quantity) + 5e-7, 2) AS store_qty_stdev,
        |  cast(count(sr_return_quantity) as bigint) AS return_qty_count,
        |  round(avg(sr_return_quantity) + 5e-7, 2) AS return_qty_avg,
        |  cast(count(cs_quantity) as bigint) AS catalog_qty_count,
        |  round(avg(cs_quantity) + 5e-7, 2) AS catalog_qty_avg
        |FROM store_sales, store_returns, catalog_sales,
        |  date_dim d1, date_dim d2, date_dim d3, store, item
        |WHERE d1.d_qoy = 1 AND d1.d_year = 1998
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND i_item_sk = ss_item_sk
        |  AND s_store_sk = ss_store_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_ticket_number = sr_ticket_number
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND d2.d_qoy BETWEEN 1 AND 3 AND d2.d_year = 1998
        |  AND sr_customer_sk = cs_bill_customer_sk
        |  AND sr_item_sk = cs_item_sk
        |  AND cs_sold_date_sk = d3.d_date_sk
        |  AND d3.d_qoy BETWEEN 1 AND 3 AND d3.d_year = 1998
        |GROUP BY i_item_id, s_state
        |ORDER BY i_item_id, s_state""".stripMargin)),

    // TPC-DS Q5 shape: per-channel sales-vs-returns report — each
    // channel UNION ALLs its sales and returns facts into one keyed
    // stream, aggregates, then ROLLUP(channel, id) adds channel and
    // grand totals. Store + catalog channels (web returns carry no
    // independent return date in the derivation).
    "qt0_tpcds_q5" -> ((s, dir) => sql(s, dir,
      """WITH ssr AS (
        |  SELECT 'store channel' AS channel,
        |    concat('store', cast(store_sk as string)) AS id,
        |    round(sum(sales_price), 2) AS sales,
        |    round(sum(return_amt) + 5e-7, 2) AS returns_amt
        |  FROM (SELECT ss_store_sk AS store_sk,
        |          ss_sold_date_sk AS date_sk,
        |          ss_ext_sales_price AS sales_price, 0D AS return_amt
        |        FROM store_sales
        |        UNION ALL
        |        SELECT sr_store_sk, sr_returned_date_sk, 0D,
        |          sr_return_amt
        |        FROM store_returns) t, date_dim
        |  WHERE date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY store_sk),
        |csr AS (
        |  SELECT 'catalog channel' AS channel,
        |    concat('cc', cast(cc_sk as string)) AS id,
        |    round(sum(sales_price), 2) AS sales,
        |    round(sum(return_amt) + 5e-7, 2) AS returns_amt
        |  FROM (SELECT cs_call_center_sk AS cc_sk,
        |          cs_sold_date_sk AS date_sk,
        |          cs_ext_sales_price AS sales_price, 0D AS return_amt
        |        FROM catalog_sales
        |        UNION ALL
        |        SELECT cr_call_center_sk, cr_returned_date_sk, 0D,
        |          cr_return_amount
        |        FROM catalog_returns) t, date_dim
        |  WHERE date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY cc_sk)
        |SELECT channel, id,
        |  round(sum(sales), 2) AS sales,
        |  round(sum(returns_amt), 2) AS returns_amt
        |FROM (SELECT * FROM ssr UNION ALL SELECT * FROM csr) x
        |GROUP BY ROLLUP(channel, id)
        |ORDER BY channel NULLS FIRST, id NULLS FIRST""".stripMargin)),

    // TPC-DS Q35/Q10 shape: the customer profile — store activity via
    // EXISTS AND a DISJUNCTION of channel EXISTS (web OR catalog),
    // demographic rollup stats over the survivors. Spark plans the
    // disjunctive correlated EXISTS pair as ExistenceJoins feeding one
    // filter — no per-row subquery execution.
    "qt1_tpcds_q35" -> ((s, dir) => sql(s, dir,
      """SELECT ca_state, cd_gender, cd_marital_status,
        |  cast(count(*) as bigint) AS cnt,
        |  cast(min(hd_dep_count) as bigint) AS min_dep,
        |  cast(max(hd_dep_count) as bigint) AS max_dep,
        |  round(avg(hd_dep_count) + 5e-7, 2) AS avg_dep
        |FROM customer c, customer_address ca, customer_demographics,
        |  household_demographics
        |WHERE c.c_custkey = ca.ca_address_sk
        |  AND cd_demo_sk = c.c_custkey
        |  AND hd_demo_sk = c.c_custkey
        |  AND EXISTS (SELECT * FROM store_sales, date_dim
        |    WHERE c.c_custkey = ss_customer_sk
        |      AND ss_sold_date_sk = d_date_sk
        |      AND d_year = 1998 AND d_qoy < 4)
        |  AND (EXISTS (SELECT * FROM web_sales, date_dim
        |      WHERE c.c_custkey = ws_bill_customer_sk
        |        AND ws_sold_date_sk = d_date_sk
        |        AND d_year = 1998 AND d_qoy < 4)
        |    OR EXISTS (SELECT * FROM catalog_sales, date_dim
        |      WHERE c.c_custkey = cs_bill_customer_sk
        |        AND cs_sold_date_sk = d_date_sk
        |        AND d_year = 1998 AND d_qoy < 4))
        |GROUP BY ca_state, cd_gender, cd_marital_status
        |ORDER BY ca_state, cd_gender, cd_marital_status""".stripMargin)),

    // TPC-DS Q93 shape: actual net sales — the sales fact LEFT OUTER
    // JOINed to its returns on (item, ticket), per-line CASE falling
    // back to the full quantity when no return matched. In this
    // derivation a returned line's return quantity equals its sold
    // quantity, so matched lines contribute zero — the join and
    // fallback semantics are what the gate locks.
    "qt2_tpcds_q93" -> ((s, dir) => sql(s, dir,
      """SELECT cast(ss_item_sk as bigint) AS item_sk,
        |  round(sum(act_sales) + 5e-7, 2) AS sumsales
        |FROM (SELECT ss_item_sk, ss_ticket_number,
        |        CASE WHEN sr_return_quantity IS NOT NULL
        |          THEN (ss_quantity - sr_return_quantity) * ss_sales_price
        |          ELSE ss_quantity * ss_sales_price END AS act_sales
        |      FROM store_sales LEFT OUTER JOIN store_returns
        |        ON ss_item_sk = sr_item_sk
        |        AND ss_ticket_number = sr_ticket_number) t
        |GROUP BY ss_item_sk
        |ORDER BY sumsales DESC, item_sk
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q8 shape: store profit restricted by an INTERSECT-derived
    // zip cohort — the zip prefix list intersected with well-funded
    // customers' zips, fed through an IN subquery against the store
    // dimension.
    "qt3_tpcds_q8" -> ((s, dir) => sql(s, dir,
      """WITH zip_list AS (
        |  SELECT substr(ca_zip, 1, 5) zip FROM customer_address
        |  WHERE substr(ca_zip, 1, 2) IN ('12', '28', '49', '55', '70')
        |  INTERSECT
        |  SELECT substr(ca_zip, 1, 5) zip
        |  FROM customer_address, customer
        |  WHERE ca_address_sk = c_custkey AND c_acctbal > 5000)
        |SELECT s_store_name,
        |  round(sum(ss_net_profit) + 5e-7, 2) AS net_profit
        |FROM store_sales, date_dim, store
        |WHERE ss_sold_date_sk = d_date_sk AND d_qoy = 2 AND d_year = 1998
        |  AND ss_store_sk = s_store_sk
        |  AND substr(s_zip, 1, 2) IN
        |    (SELECT substr(zip, 1, 2) FROM zip_list)
        |GROUP BY s_store_name
        |ORDER BY s_store_name""".stripMargin)),

    // TPC-DS Q21 shape: inventory balance around a pivot date — per
    // warehouse-item sums before/after, kept where the after/before
    // ratio stays within [2/3, 3/2]. Integer sums divide to identical
    // doubles on both engines.
    "qt4_tpcds_q21" -> ((s, dir) => sql(s, dir,
      """SELECT cast(inv_warehouse_sk as bigint) AS warehouse_sk,
        |  i_item_id,
        |  cast(inv_before as bigint) AS inv_before,
        |  cast(inv_after as bigint) AS inv_after
        |FROM (SELECT inv_warehouse_sk, i_item_id,
        |        sum(CASE WHEN d_date < DATE '1998-06-01'
        |          THEN inv_quantity_on_hand ELSE 0 END) AS inv_before,
        |        sum(CASE WHEN d_date >= DATE '1998-06-01'
        |          THEN inv_quantity_on_hand ELSE 0 END) AS inv_after
        |      FROM inventory, item, date_dim
        |      WHERE inv_item_sk = i_item_sk
        |        AND inv_date_sk = d_date_sk
        |        AND d_date BETWEEN (DATE '1998-06-01' - INTERVAL 30 DAY)
        |          AND (DATE '1998-06-01' + INTERVAL 30 DAY)
        |      GROUP BY inv_warehouse_sk, i_item_id) x
        |WHERE inv_before > 0
        |  AND inv_after / inv_before >= 2.0 / 3.0
        |  AND inv_after / inv_before <= 3.0 / 2.0
        |ORDER BY warehouse_sk, i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q39 shape: inventory demand variability — coefficient of
    // variation per warehouse-item-month, consecutive months self-
    // joined where both exceed the threshold (fixture-adapted to 0.5;
    // the spec's 1.0 applies at real TPC-DS quantity skew).
    "qt5_tpcds_q39" -> ((s, dir) => sql(s, dir,
      """WITH inv AS (
        |  SELECT inv_warehouse_sk w, inv_item_sk i, d_moy,
        |    round(stddev_samp(inv_quantity_on_hand)
        |      / avg(inv_quantity_on_hand) + 5e-7, 4) AS cov
        |  FROM inventory, date_dim
        |  WHERE inv_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY inv_warehouse_sk, inv_item_sk, d_moy
        |  HAVING stddev_samp(inv_quantity_on_hand)
        |    / avg(inv_quantity_on_hand) > 0.5)
        |SELECT cast(inv1.w as bigint) AS wh, cast(inv1.i as bigint)
        |    AS item,
        |  cast(inv1.d_moy as bigint) AS moy1, inv1.cov AS cov1,
        |  cast(inv2.d_moy as bigint) AS moy2, inv2.cov AS cov2
        |FROM inv inv1, inv inv2
        |WHERE inv1.i = inv2.i AND inv1.w = inv2.w
        |  AND inv1.d_moy = 1 AND inv2.d_moy = 2
        |ORDER BY wh, item
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q72 shape: the catalog-sales x inventory week join — for
    // each sold line, the same item's inventory position in the SAME
    // week, counting low-stock lines. The classically expensive
    // TPC-DS join: fact x fact on (item, week), shuffled on the item
    // key; per-(item, week) inventory rows are bounded (warehouse
    // count), so fan-out is constant.
    "qt6_tpcds_q72" -> ((s, dir) => sql(s, dir,
      """SELECT cast(cs_item_sk as bigint) AS item_sk,
        |  cast(d1.d_week_seq as bigint) AS week_seq,
        |  cast(count(*) as bigint) AS low_stock_lines
        |FROM catalog_sales, inventory, date_dim d1, date_dim d2
        |WHERE cs_sold_date_sk = d1.d_date_sk
        |  AND inv_item_sk = cs_item_sk
        |  AND inv_date_sk = d2.d_date_sk
        |  AND d2.d_week_seq = d1.d_week_seq
        |  AND d1.d_year = 1998
        |  AND inv_quantity_on_hand < cs_quantity * 10
        |GROUP BY cs_item_sk, d1.d_week_seq
        |ORDER BY item_sk, week_seq
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q82/Q37 shape: items in a price band with mid-range
    // inventory during a 60-day window that actually sold in store —
    // DISTINCT over a 4-table star with the inventory fact as filter.
    "qt7_tpcds_q82" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, i_current_price
        |FROM (SELECT DISTINCT i_item_id, i_current_price
        |      FROM item, inventory, date_dim, store_sales
        |      WHERE i_current_price BETWEEN 920 AND 960
        |        AND inv_item_sk = i_item_sk
        |        AND d_date_sk = inv_date_sk
        |        AND d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
        |        AND inv_quantity_on_hand BETWEEN 100 AND 500
        |        AND ss_item_sk = i_item_sk) x
        |ORDER BY i_item_id, i_current_price
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q36/Q70/Q86 shape: ROLLUP margin report with RANK WITHIN
    // EACH GROUPING LEVEL — the window partitions on the grouping bits
    // themselves (grouping(cat)+grouping(class), the category only at
    // the detail level), ranking by a margin ratio rounded (+5e-7)
    // before ranking so both engines rank identical doubles.
    "qt8_tpcds_q36" -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(ss_net_profit) / sum(ss_ext_sales_price)
        |    + 5e-7, 6) AS gross_margin,
        |  i_category, i_class,
        |  cast(grouping(i_category) + grouping(i_class) as bigint)
        |    AS lochierarchy,
        |  cast(rank() OVER (
        |    PARTITION BY grouping(i_category) + grouping(i_class),
        |      CASE WHEN grouping(i_class) = 0 THEN i_category END
        |    ORDER BY round(sum(ss_net_profit) / sum(ss_ext_sales_price)
        |      + 5e-7, 6)) as bigint) AS rank_within_parent
        |FROM store_sales, date_dim, item, store
        |WHERE d_year = 1998 AND ss_sold_date_sk = d_date_sk
        |  AND ss_item_sk = i_item_sk AND ss_store_sk = s_store_sk
        |  AND s_state IN ('TN', 'CA', 'TX', 'NY')
        |GROUP BY ROLLUP(i_category, i_class)
        |ORDER BY lochierarchy DESC,
        |  CASE WHEN grouping(i_category) + grouping(i_class) = 0
        |    THEN i_category END NULLS FIRST,
        |  rank_within_parent, i_category NULLS FIRST,
        |  i_class NULLS FIRST""".stripMargin)),

    // TPC-DS Q92/Q32 shape: excess web discounts — rows whose discount
    // exceeds 1.3x the same item's windowed average, the correlated
    // scalar avg carrying its OWN date-window restriction. Spark
    // decorrelates to a per-item aggregate join.
    "qt9_tpcds_q92" -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(ws_ext_discount_amt) + 5e-7, 2)
        |    AS excess_discount
        |FROM web_sales ws1, item, date_dim
        |WHERE i_item_sk = ws1.ws_item_sk
        |  AND i_manufact_id BETWEEN 1 AND 300
        |  AND d_date BETWEEN DATE '1998-03-01' AND DATE '1998-05-30'
        |  AND d_date_sk = ws1.ws_sold_date_sk
        |  AND ws1.ws_ext_discount_amt > (
        |    SELECT 1.3 * avg(ws_ext_discount_amt)
        |    FROM web_sales ws2, date_dim
        |    WHERE ws2.ws_item_sk = i_item_sk
        |      AND d_date BETWEEN DATE '1998-03-01' AND DATE '1998-05-30'
        |      AND d_date_sk = ws2.ws_sold_date_sk)""".stripMargin)),

    // TPC-DS Q2: week-over-week sales ratios — web+catalog union rolled
    // up per week into a 7-day pivot, self-joined one year (52 weeks —
    // the derived week_seq is continuous, so +52 is the same calendar
    // week next year; 1995-01-01 is a Sunday, so weeks run Sun-Sat)
    // apart. Scale: the union is two fact scans into one hash agg keyed
    // by week; the self-join carries ~52 rows per side.
    "qu0_tpcds_q2" -> ((s, dir) => sql(s, dir,
      """WITH wscs AS (
        |  SELECT ws_sold_date_sk AS sold_date_sk,
        |    ws_ext_sales_price AS sales_price FROM web_sales
        |  UNION ALL
        |  SELECT cs_sold_date_sk AS sold_date_sk,
        |    cs_ext_sales_price AS sales_price FROM catalog_sales),
        |wswscs AS (
        |  SELECT d_week_seq,
        |    sum(CASE WHEN d_day_name = 'Sunday' THEN sales_price END)
        |      sun_sales,
        |    sum(CASE WHEN d_day_name = 'Monday' THEN sales_price END)
        |      mon_sales,
        |    sum(CASE WHEN d_day_name = 'Tuesday' THEN sales_price END)
        |      tue_sales,
        |    sum(CASE WHEN d_day_name = 'Wednesday' THEN sales_price END)
        |      wed_sales,
        |    sum(CASE WHEN d_day_name = 'Thursday' THEN sales_price END)
        |      thu_sales,
        |    sum(CASE WHEN d_day_name = 'Friday' THEN sales_price END)
        |      fri_sales,
        |    sum(CASE WHEN d_day_name = 'Saturday' THEN sales_price END)
        |      sat_sales
        |  FROM wscs, date_dim
        |  WHERE d_date_sk = sold_date_sk
        |  GROUP BY d_week_seq)
        |SELECT cast(y.d_week_seq as bigint) AS d_week_seq1,
        |  round(y.sun_sales / z.sun_sales + 5e-7, 2) AS sun_ratio,
        |  round(y.mon_sales / z.mon_sales + 5e-7, 2) AS mon_ratio,
        |  round(y.tue_sales / z.tue_sales + 5e-7, 2) AS tue_ratio,
        |  round(y.wed_sales / z.wed_sales + 5e-7, 2) AS wed_ratio,
        |  round(y.thu_sales / z.thu_sales + 5e-7, 2) AS thu_ratio,
        |  round(y.fri_sales / z.fri_sales + 5e-7, 2) AS fri_ratio,
        |  round(y.sat_sales / z.sat_sales + 5e-7, 2) AS sat_ratio
        |FROM wswscs y,
        |  (SELECT DISTINCT d_week_seq FROM date_dim
        |   WHERE d_year = 1998) wy,
        |  wswscs z
        |WHERE y.d_week_seq = wy.d_week_seq
        |  AND y.d_week_seq = z.d_week_seq - 52
        |ORDER BY d_week_seq1""".stripMargin)),

    // TPC-DS Q4: the three-channel year-over-year growth cohort (the
    // big sibling of Q74's two-channel form) — per-customer yearly
    // totals in each channel, customers whose catalog growth beats BOTH
    // store and web growth. Totals round (+5e-7: coupon/discount
    // measures are product-derived) before the ratio compare, so both
    // engines divide identical doubles.
    "qu1_tpcds_q4" -> ((s, dir) => sql(s, dir,
      """WITH year_total AS (
        |  SELECT ss_customer_sk AS c_sk, d_year,
        |    round(sum(ss_ext_sales_price - ss_coupon_amt) + 5e-7, 2)
        |      AS total, 's' AS channel
        |  FROM store_sales, date_dim
        |  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |  GROUP BY ss_customer_sk, d_year
        |  UNION ALL
        |  SELECT cs_bill_customer_sk AS c_sk, d_year,
        |    round(sum(cs_ext_sales_price) + 5e-7, 2) AS total,
        |    'c' AS channel
        |  FROM catalog_sales, date_dim
        |  WHERE cs_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |  GROUP BY cs_bill_customer_sk, d_year
        |  UNION ALL
        |  SELECT ws_bill_customer_sk AS c_sk, d_year,
        |    round(sum(ws_ext_sales_price - ws_ext_discount_amt) + 5e-7, 2)
        |      AS total, 'w' AS channel
        |  FROM web_sales, date_dim
        |  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |  GROUP BY ws_bill_customer_sk, d_year)
        |SELECT cast(t_s_fy.c_sk as bigint) AS customer
        |FROM year_total t_s_fy, year_total t_s_sy,
        |     year_total t_c_fy, year_total t_c_sy,
        |     year_total t_w_fy, year_total t_w_sy
        |WHERE t_s_fy.c_sk = t_s_sy.c_sk AND t_s_fy.c_sk = t_c_fy.c_sk
        |  AND t_s_fy.c_sk = t_c_sy.c_sk AND t_s_fy.c_sk = t_w_fy.c_sk
        |  AND t_s_fy.c_sk = t_w_sy.c_sk
        |  AND t_s_fy.channel = 's' AND t_s_fy.d_year = 1998
        |  AND t_s_sy.channel = 's' AND t_s_sy.d_year = 1999
        |  AND t_c_fy.channel = 'c' AND t_c_fy.d_year = 1998
        |  AND t_c_sy.channel = 'c' AND t_c_sy.d_year = 1999
        |  AND t_w_fy.channel = 'w' AND t_w_fy.d_year = 1998
        |  AND t_w_sy.channel = 'w' AND t_w_sy.d_year = 1999
        |  AND t_s_fy.total > 0 AND t_c_fy.total > 0 AND t_w_fy.total > 0
        |  AND t_c_sy.total / t_c_fy.total > t_s_sy.total / t_s_fy.total
        |  AND t_c_sy.total / t_c_fy.total > t_w_sy.total / t_w_fy.total
        |ORDER BY customer
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q43: the day-of-week store pivot — one year of store sales
    // spread across seven conditional sums per store. One fact scan,
    // broadcast dims, 10 output rows.
    "qu2_tpcds_q43" -> ((s, dir) => sql(s, dir,
      """SELECT s_store_name, s_store_id,
        |  round(sum(CASE WHEN d_day_name = 'Sunday'
        |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) sun_sales,
        |  round(sum(CASE WHEN d_day_name = 'Monday'
        |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) mon_sales,
        |  round(sum(CASE WHEN d_day_name = 'Tuesday'
        |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) tue_sales,
        |  round(sum(CASE WHEN d_day_name = 'Wednesday'
        |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) wed_sales,
        |  round(sum(CASE WHEN d_day_name = 'Thursday'
        |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) thu_sales,
        |  round(sum(CASE WHEN d_day_name = 'Friday'
        |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) fri_sales,
        |  round(sum(CASE WHEN d_day_name = 'Saturday'
        |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) sat_sales
        |FROM date_dim, store_sales, store
        |WHERE d_date_sk = ss_sold_date_sk AND s_store_sk = ss_store_sk
        |  AND d_year = 1998
        |GROUP BY s_store_name, s_store_id
        |ORDER BY s_store_name, s_store_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q53: quarterly manufacturer sales vs the manufacturer's
    // own quarterly average — the deviation > 10% filter over a
    // windowed avg-of-sums. d_qoy joins the output for a deterministic
    // ORDER BY under LIMIT (the spec's three-column order ties).
    "qu3_tpcds_q53" -> ((s, dir) => sql(s, dir,
      """SELECT * FROM (
        |  SELECT i_manufact_id, d_qoy,
        |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
        |    round(avg(sum(ss_sales_price)) OVER (
        |      PARTITION BY i_manufact_id) + 5e-7, 2) avg_quarterly_sales
        |  FROM item, store_sales, date_dim, store
        |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk AND d_year = 1998
        |    AND ((i_category IN ('ECONOMY', 'STANDARD')
        |        AND i_class LIKE '%#1')
        |      OR (i_category IN ('PROMO', 'SMALL')
        |        AND i_class LIKE '%#2'))
        |  GROUP BY i_manufact_id, d_qoy) tmp1
        |WHERE CASE WHEN avg_quarterly_sales > 0
        |  THEN abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
        |  ELSE NULL END > 0.1
        |ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id, d_qoy
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q57: the catalog twin of Q47's moving-average report —
    // monthly (item, call center) sales vs the yearly average, with
    // lag/lead month sums via a rank self-join across the year edges.
    "qu4_tpcds_q57" -> ((s, dir) => sql(s, dir,
      """WITH v1 AS (
        |  SELECT i_category, i_brand, cs_call_center_sk AS cc_sk,
        |    d_year, d_moy,
        |    round(sum(cs_ext_sales_price) + 5e-7, 2) sum_sales,
        |    round(avg(sum(cs_ext_sales_price)) OVER (PARTITION BY
        |      i_category, i_brand, cs_call_center_sk, d_year)
        |      + 5e-7, 2) avg_monthly_sales,
        |    rank() OVER (PARTITION BY i_category, i_brand,
        |      cs_call_center_sk ORDER BY d_year, d_moy) rn
        |  FROM item, catalog_sales, date_dim
        |  WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
        |    AND (d_year = 1998 OR (d_year = 1997 AND d_moy = 12)
        |      OR (d_year = 1999 AND d_moy = 1))
        |  GROUP BY i_category, i_brand, cs_call_center_sk, d_year,
        |    d_moy)
        |SELECT v1.i_category, v1.i_brand, cast(v1.cc_sk as bigint) cc_sk,
        |  cast(v1.d_year as bigint) AS d_year,
        |  cast(v1.d_moy as bigint) AS d_moy,
        |  v1.sum_sales, v1.avg_monthly_sales,
        |  v1_lag.sum_sales psum, v1_lead.sum_sales nsum
        |FROM v1, v1 v1_lag, v1 v1_lead
        |WHERE v1.i_category = v1_lag.i_category
        |  AND v1.i_category = v1_lead.i_category
        |  AND v1.i_brand = v1_lag.i_brand
        |  AND v1.i_brand = v1_lead.i_brand
        |  AND v1.cc_sk = v1_lag.cc_sk AND v1.cc_sk = v1_lead.cc_sk
        |  AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1
        |  AND v1.d_year = 1998
        |  AND v1.avg_monthly_sales > 0
        |  AND abs(v1.sum_sales - v1.avg_monthly_sales)
        |    / v1.avg_monthly_sales > 0.1
        |ORDER BY v1.sum_sales - v1.avg_monthly_sales, v1.i_category,
        |  v1.i_brand, cc_sk, d_moy
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q37: the catalog twin of Q82 — items in a retail-price
    // band with moderate on-hand inventory that actually sold through
    // the catalog channel. Inventory joins by item+date; the sales
    // join is a semi-shaped DISTINCT.
    "qu5_tpcds_q37" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, i_current_price
        |FROM (SELECT DISTINCT i_item_id, i_current_price
        |      FROM item, inventory, date_dim, catalog_sales
        |      WHERE i_current_price BETWEEN 920 AND 950
        |        AND inv_item_sk = i_item_sk
        |        AND d_date_sk = inv_date_sk
        |        AND d_date BETWEEN DATE '1998-03-01' AND DATE '1998-04-30'
        |        AND cs_item_sk = i_item_sk
        |        AND inv_quantity_on_hand BETWEEN 100 AND 500) x
        |ORDER BY i_item_id, i_current_price
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q22: the inventory ROLLUP — average quantity-on-hand
    // across the item hierarchy for a year of weekly snapshots. The
    // naive spelling expands the FACT 5x (ROLLUP = Expand in Spark:
    // 4.2M inventory rows -> 21M aggregate inputs, the whole query's
    // cost); instead pre-aggregate sum/count to the finest grouping
    // grain (item grain, ~|part| rows) and ROLLUP over THAT —
    // avg = sum(sum)/sum(count) exactly (bigint sums < 2^53, exact in
    // both engines), so results are identical while Expand touches a
    // dimension-sized input. At 100 TB this is the difference between
    // 5x-scanning the fact and 5x-scanning a per-item aggregate
    // (isolated: 4.2 s -> 1.0 s at sf0.1). ORDER BY pins NULLS FIRST
    // because Spark and DuckDB default opposite null orders.
    "qu6_tpcds_q22" -> ((s, dir) => sql(s, dir,
      """WITH qoh_base AS (
        |  SELECT i_item_id, i_brand, i_class, i_category,
        |    sum(inv_quantity_on_hand) AS qsum,
        |    count(inv_quantity_on_hand) AS qcnt
        |  FROM inventory, date_dim, item
        |  WHERE inv_date_sk = d_date_sk AND inv_item_sk = i_item_sk
        |    AND d_year = 1998
        |  GROUP BY i_item_id, i_brand, i_class, i_category)
        |SELECT i_item_id, i_brand, i_class, i_category,
        |  round(sum(qsum) / sum(qcnt) + 5e-7, 4) AS qoh
        |FROM qoh_base
        |GROUP BY ROLLUP(i_item_id, i_brand, i_class, i_category)
        |ORDER BY qoh, i_item_id NULLS FIRST, i_brand NULLS FIRST,
        |  i_class NULLS FIRST, i_category NULLS FIRST
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q28: the quantity-band bucket report — five independent
    // single-row aggregates over disjoint ss_quantity bands (each with
    // the spec's OR-of-ranges price filter) cross-joined 1-row x 1-row.
    // count(DISTINCT ss_list_price) works on division-derived doubles
    // because row-level arithmetic is bitwise-identical across engines.
    "qu7_tpcds_q28" -> ((s, dir) => sql(s, dir,
      """SELECT * FROM
        | (SELECT round(avg(ss_list_price) + 5e-7, 2) b1_lp,
        |    cast(count(ss_list_price) as bigint) b1_cnt,
        |    cast(count(DISTINCT ss_list_price) as bigint) b1_cntd
        |  FROM store_sales
        |  WHERE ss_quantity BETWEEN 1 AND 10
        |    AND (ss_list_price BETWEEN 100 AND 200
        |      OR ss_coupon_amt BETWEEN 0 AND 100
        |      OR ss_sales_price BETWEEN 50 AND 150)) b1,
        | (SELECT round(avg(ss_list_price) + 5e-7, 2) b2_lp,
        |    cast(count(ss_list_price) as bigint) b2_cnt,
        |    cast(count(DISTINCT ss_list_price) as bigint) b2_cntd
        |  FROM store_sales
        |  WHERE ss_quantity BETWEEN 11 AND 20
        |    AND (ss_list_price BETWEEN 80 AND 180
        |      OR ss_coupon_amt BETWEEN 10 AND 110
        |      OR ss_sales_price BETWEEN 40 AND 140)) b2,
        | (SELECT round(avg(ss_list_price) + 5e-7, 2) b3_lp,
        |    cast(count(ss_list_price) as bigint) b3_cnt,
        |    cast(count(DISTINCT ss_list_price) as bigint) b3_cntd
        |  FROM store_sales
        |  WHERE ss_quantity BETWEEN 21 AND 30
        |    AND (ss_list_price BETWEEN 60 AND 160
        |      OR ss_coupon_amt BETWEEN 20 AND 120
        |      OR ss_sales_price BETWEEN 30 AND 130)) b3,
        | (SELECT round(avg(ss_list_price) + 5e-7, 2) b4_lp,
        |    cast(count(ss_list_price) as bigint) b4_cnt,
        |    cast(count(DISTINCT ss_list_price) as bigint) b4_cntd
        |  FROM store_sales
        |  WHERE ss_quantity BETWEEN 31 AND 40
        |    AND (ss_list_price BETWEEN 40 AND 140
        |      OR ss_coupon_amt BETWEEN 30 AND 130
        |      OR ss_sales_price BETWEEN 20 AND 120)) b4,
        | (SELECT round(avg(ss_list_price) + 5e-7, 2) b5_lp,
        |    cast(count(ss_list_price) as bigint) b5_cnt,
        |    cast(count(DISTINCT ss_list_price) as bigint) b5_cntd
        |  FROM store_sales
        |  WHERE ss_quantity BETWEEN 41 AND 50
        |    AND (ss_list_price BETWEEN 20 AND 120
        |      OR ss_coupon_amt BETWEEN 40 AND 140
        |      OR ss_sales_price BETWEEN 10 AND 110)) b5""".stripMargin)),

    // TPC-DS Q29: the quantity flow through the sale -> return ->
    // catalog-repurchase chain (Q25's quantity twin) — the same
    // three-fact join keyed on customer+item+ticket, summing whole-
    // number quantities (exact doubles, cast to bigint identically).
    "qu8_tpcds_q29" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, i_brand, s_store_id, s_store_name,
        |  cast(sum(ss_quantity) as bigint) AS store_sales_quantity,
        |  cast(sum(sr_return_quantity) as bigint)
        |    AS store_returns_quantity,
        |  cast(sum(cs_quantity) as bigint) AS catalog_sales_quantity
        |FROM store_sales, store_returns, catalog_sales,
        |  date_dim d1, date_dim d2, date_dim d3, store, item
        |WHERE d1.d_moy = 4 AND d1.d_year = 1998
        |  AND d1.d_date_sk = ss_sold_date_sk
        |  AND i_item_sk = ss_item_sk
        |  AND s_store_sk = ss_store_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_ticket_number = sr_ticket_number
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND d2.d_moy BETWEEN 4 AND 7 AND d2.d_year = 1998
        |  AND sr_customer_sk = cs_bill_customer_sk
        |  AND sr_item_sk = cs_item_sk
        |  AND cs_sold_date_sk = d3.d_date_sk
        |  AND d3.d_year IN (1998, 1999, 2000)
        |GROUP BY i_item_id, i_brand, s_store_id, s_store_name
        |ORDER BY i_item_id, i_brand, s_store_id, s_store_name
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q45: web sales by customer zip — the OR of a zip list and
    // an item-sk subquery means neither filter can push below the
    // join, the shape the optimizer must keep as a post-join filter.
    "qu9_tpcds_q45" -> ((s, dir) => sql(s, dir,
      """SELECT ca_zip,
        |  round(sum(ws_sales_price) + 5e-7, 2) AS total_sales
        |FROM web_sales, customer_address, item, date_dim
        |WHERE ws_bill_customer_sk = ca_address_sk
        |  AND ws_item_sk = i_item_sk
        |  AND ws_sold_date_sk = d_date_sk
        |  AND d_qoy = 2 AND d_year = 1998
        |  AND (substring(ca_zip, 1, 5) IN ('07919', '15838', '23757',
        |      '31676', '39595', '47514', '55433', '63352', '71271')
        |    OR i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29))
        |GROUP BY ca_zip
        |ORDER BY ca_zip
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q61: the promotional-sales ratio — two single-row sums
    // over the same star (one promo-restricted), cross-joined, with the
    // percentage computed from the ROUNDED sums so both engines divide
    // identical doubles.
    "qv0_tpcds_q61" -> ((s, dir) => sql(s, dir,
      """SELECT promotions, total,
        |  round(promotions / total * 100 + 5e-7, 4) AS promo_pct
        |FROM
        | (SELECT round(sum(ss_ext_sales_price) + 5e-7, 2) promotions
        |  FROM store_sales, store, promotion, date_dim,
        |    customer_address, item
        |  WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
        |    AND ss_promo_sk = p_promo_sk
        |    AND ss_customer_sk = ca_address_sk
        |    AND ss_item_sk = i_item_sk
        |    AND ca_state = 'CA' AND i_category = 'ECONOMY'
        |    AND (p_channel_email = 'Y' OR p_channel_event = 'Y')
        |    AND s_state = 'CA' AND d_year = 1998
        |    AND d_moy = 11) promotional_sales,
        | (SELECT round(sum(ss_ext_sales_price) + 5e-7, 2) total
        |  FROM store_sales, store, date_dim, customer_address, item
        |  WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
        |    AND ss_customer_sk = ca_address_sk
        |    AND ss_item_sk = i_item_sk
        |    AND ca_state = 'CA' AND i_category = 'ECONOMY'
        |    AND s_state = 'CA' AND d_year = 1998
        |    AND d_moy = 11) all_sales""".stripMargin)),

    // TPC-DS Q70: the store-hierarchy ROLLUP restricted to the
    // top-ranked states by profit — a windowed-rank subquery feeding
    // the outer rollup's IN filter, rank-within-parent over the
    // rounded sums as in Q36/Q67.
    "qv1_tpcds_q70" -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(ss_net_profit) + 5e-7, 2) AS total_sum,
        |  s_state, s_store_name,
        |  cast(grouping(s_state) + grouping(s_store_name) as bigint)
        |    AS lochierarchy,
        |  cast(rank() OVER (
        |    PARTITION BY grouping(s_state) + grouping(s_store_name),
        |      CASE WHEN grouping(s_store_name) = 0 THEN s_state END
        |    ORDER BY round(sum(ss_net_profit) + 5e-7, 2) DESC) as bigint)
        |    AS rank_within_parent
        |FROM store_sales, date_dim d1, store
        |WHERE d1.d_year = 1998 AND d1.d_date_sk = ss_sold_date_sk
        |  AND s_store_sk = ss_store_sk
        |  AND s_state IN (SELECT s_state
        |    FROM (SELECT s_state,
        |        rank() OVER (ORDER BY round(sum(ss_net_profit)
        |          + 5e-7, 2) DESC) AS ranking
        |      FROM store_sales, store, date_dim
        |      WHERE d_year = 1998 AND d_date_sk = ss_sold_date_sk
        |        AND s_store_sk = ss_store_sk
        |      GROUP BY s_state) tmp1
        |    WHERE ranking <= 3)
        |GROUP BY ROLLUP(s_state, s_store_name)
        |ORDER BY lochierarchy DESC,
        |  CASE WHEN grouping(s_state) + grouping(s_store_name) = 0
        |    THEN s_state END NULLS FIRST,
        |  rank_within_parent, s_state NULLS FIRST,
        |  s_store_name NULLS FIRST""".stripMargin)),

    // TPC-DS Q86: the web-channel item-hierarchy ROLLUP with
    // rank-within-parent — Q36's shape on web_sales net profit.
    "qv2_tpcds_q86" -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(ws_net_profit) + 5e-7, 2) AS total_sum,
        |  i_category, i_class,
        |  cast(grouping(i_category) + grouping(i_class) as bigint)
        |    AS lochierarchy,
        |  cast(rank() OVER (
        |    PARTITION BY grouping(i_category) + grouping(i_class),
        |      CASE WHEN grouping(i_class) = 0 THEN i_category END
        |    ORDER BY round(sum(ws_net_profit) + 5e-7, 2) DESC) as bigint)
        |    AS rank_within_parent
        |FROM web_sales, date_dim d1, item
        |WHERE d1.d_year = 1998 AND d1.d_date_sk = ws_sold_date_sk
        |  AND i_item_sk = ws_item_sk
        |GROUP BY ROLLUP(i_category, i_class)
        |ORDER BY lochierarchy DESC,
        |  CASE WHEN grouping(i_category) + grouping(i_class) = 0
        |    THEN i_category END NULLS FIRST,
        |  rank_within_parent, i_category NULLS FIRST,
        |  i_class NULLS FIRST
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q89: monthly (brand, store) sales vs the pair's own
    // yearly average — Q53's finer-grained sibling, deviation > 10%
    // ordered by the signed gap.
    "qv3_tpcds_q89" -> ((s, dir) => sql(s, dir,
      """SELECT * FROM (
        |  SELECT i_category, i_class, i_brand, s_store_name, s_store_id,
        |    d_moy,
        |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
        |    round(avg(sum(ss_sales_price)) OVER (PARTITION BY
        |      i_category, i_brand, s_store_name, s_store_id)
        |      + 5e-7, 2) avg_monthly_sales
        |  FROM item, store_sales, date_dim, store
        |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk AND d_year = 1998
        |    AND ((i_category IN ('ECONOMY', 'LARGE', 'MEDIUM')
        |        AND i_class LIKE '%#1')
        |      OR (i_category IN ('PROMO', 'SMALL', 'STANDARD')
        |        AND i_class LIKE '%#3'))
        |  GROUP BY i_category, i_class, i_brand, s_store_name,
        |    s_store_id, d_moy) tmp1
        |WHERE CASE WHEN avg_monthly_sales <> 0
        |  THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
        |  ELSE NULL END > 0.1
        |ORDER BY sum_sales - avg_monthly_sales, i_category, i_class,
        |  i_brand, s_store_name, s_store_id, d_moy
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q97: the store/catalog buyer-item overlap — distinct
    // (customer, item) pairs per channel FULL OUTER JOINed, counted
    // into exclusive/shared buckets. Scale: two fact-sized distinct
    // aggregations then one shuffle join on the pair key.
    "qv4_tpcds_q97" -> ((s, dir) => sql(s, dir,
      """WITH ssci AS (
        |  SELECT ss_customer_sk customer_sk, ss_item_sk item_sk
        |  FROM store_sales, date_dim
        |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY ss_customer_sk, ss_item_sk),
        |csci AS (
        |  SELECT cs_bill_customer_sk customer_sk, cs_item_sk item_sk
        |  FROM catalog_sales, date_dim
        |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
        |  GROUP BY cs_bill_customer_sk, cs_item_sk)
        |SELECT cast(sum(CASE WHEN ssci.customer_sk IS NOT NULL
        |    AND csci.customer_sk IS NULL THEN 1 ELSE 0 END) as bigint)
        |    AS store_only,
        |  cast(sum(CASE WHEN ssci.customer_sk IS NULL
        |    AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) as bigint)
        |    AS catalog_only,
        |  cast(sum(CASE WHEN ssci.customer_sk IS NOT NULL
        |    AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
        |    as bigint) AS store_and_catalog
        |FROM ssci FULL OUTER JOIN csci
        |  ON (ssci.customer_sk = csci.customer_sk
        |    AND ssci.item_sk = csci.item_sk)""".stripMargin)),

    // TPC-DS Q69: the store-only cohort (Q35's disjunctive EXISTS
    // flipped to NOT EXISTS on both other channels) — demographic
    // profile of customers who bought in-store but not online.
    "qv5_tpcds_q69" -> ((s, dir) => sql(s, dir,
      """SELECT ca_state, cd_gender, cd_marital_status,
        |  cd_education_status, cast(count(*) as bigint) AS cnt
        |FROM customer c, customer_address ca, customer_demographics
        |WHERE c.c_custkey = ca.ca_address_sk
        |  AND ca_state IN ('CA', 'TX', 'NY')
        |  AND cd_demo_sk = c.c_custkey
        |  AND EXISTS (SELECT * FROM store_sales, date_dim
        |    WHERE c.c_custkey = ss_customer_sk
        |      AND ss_sold_date_sk = d_date_sk
        |      AND d_year = 1998 AND d_moy BETWEEN 2 AND 5)
        |  AND NOT EXISTS (SELECT * FROM web_sales, date_dim
        |    WHERE c.c_custkey = ws_bill_customer_sk
        |      AND ws_sold_date_sk = d_date_sk
        |      AND d_year = 1998 AND d_moy BETWEEN 2 AND 5)
        |  AND NOT EXISTS (SELECT * FROM catalog_sales, date_dim
        |    WHERE c.c_custkey = cs_bill_customer_sk
        |      AND cs_sold_date_sk = d_date_sk
        |      AND d_year = 1998 AND d_moy BETWEEN 2 AND 5)
        |GROUP BY ca_state, cd_gender, cd_marital_status,
        |  cd_education_status
        |ORDER BY ca_state, cd_gender, cd_marital_status,
        |  cd_education_status
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q73: Q34's small-basket twin — tickets with 2-5 lines
    // from high-dependent households, per-vehicle ratio filter. The
    // bigint/bigint division is double division in both engines.
    "qv6_tpcds_q73" -> ((s, dir) => sql(s, dir,
      """SELECT c_name, ss_ticket_number, cast(cnt as bigint) AS cnt
        |FROM (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
        |      FROM store_sales, date_dim, store,
        |        household_demographics
        |      WHERE ss_sold_date_sk = d_date_sk
        |        AND ss_store_sk = s_store_sk
        |        AND ss_hdemo_sk = hd_demo_sk
        |        AND d_dom BETWEEN 1 AND 2
        |        AND d_year IN (1998, 1999, 2000)
        |        AND hd_dep_count / CASE WHEN hd_vehicle_count > 0
        |          THEN hd_vehicle_count ELSE NULL END > 1
        |        AND s_state IN ('TN', 'CA')
        |      GROUP BY ss_ticket_number, ss_customer_sk
        |      HAVING count(*) BETWEEN 2 AND 5) dj, customer
        |WHERE ss_customer_sk = c_custkey
        |ORDER BY cnt DESC, c_name, ss_ticket_number""".stripMargin)),

    // TPC-DS Q14: the cross-channel INTERSECT flagship — (brand,
    // category) pairs sold in ALL THREE channels over three years
    // define the item universe; each channel's November sales of those
    // items report against a 10x global per-row average via a scalar
    // HAVING subquery, rolled up by channel. Both HAVING sides round
    // before the compare so the cutoff set is engine-stable.
    "qv7_tpcds_q14" -> ((s, dir) => sql(s, dir,
      """WITH cross_items AS (
        |  SELECT i_item_sk AS item_sk
        |  FROM item,
        |   (SELECT iss.i_brand_id brand_id, iss.i_category_id category_id
        |    FROM store_sales, item iss, date_dim d1
        |    WHERE ss_item_sk = iss.i_item_sk
        |      AND ss_sold_date_sk = d1.d_date_sk
        |      AND d1.d_year BETWEEN 1996 AND 1998
        |    INTERSECT
        |    SELECT ics.i_brand_id, ics.i_category_id
        |    FROM catalog_sales, item ics, date_dim d2
        |    WHERE cs_item_sk = ics.i_item_sk
        |      AND cs_sold_date_sk = d2.d_date_sk
        |      AND d2.d_year BETWEEN 1996 AND 1998
        |    INTERSECT
        |    SELECT iws.i_brand_id, iws.i_category_id
        |    FROM web_sales, item iws, date_dim d3
        |    WHERE ws_item_sk = iws.i_item_sk
        |      AND ws_sold_date_sk = d3.d_date_sk
        |      AND d3.d_year BETWEEN 1996 AND 1998) x
        |  WHERE i_brand_id = brand_id AND i_category_id = category_id),
        |avg_sales AS (
        |  SELECT round(avg(ext_price) + 5e-7, 2) average_sales
        |  FROM (SELECT ss_ext_sales_price ext_price
        |        FROM store_sales, date_dim
        |        WHERE ss_sold_date_sk = d_date_sk
        |          AND d_year BETWEEN 1996 AND 1998
        |        UNION ALL
        |        SELECT cs_ext_sales_price
        |        FROM catalog_sales, date_dim
        |        WHERE cs_sold_date_sk = d_date_sk
        |          AND d_year BETWEEN 1996 AND 1998
        |        UNION ALL
        |        SELECT ws_ext_sales_price
        |        FROM web_sales, date_dim
        |        WHERE ws_sold_date_sk = d_date_sk
        |          AND d_year BETWEEN 1996 AND 1998) all_sales)
        |SELECT channel, i_brand_id, i_category_id,
        |  round(sum(sales) + 5e-7, 2) AS sum_sales,
        |  cast(sum(num) as bigint) AS sum_num
        |FROM (
        |  SELECT 'store' channel, i_brand_id, i_category_id,
        |    sum(ss_ext_sales_price) sales, count(*) num
        |  FROM store_sales, item, date_dim
        |  WHERE ss_item_sk IN (SELECT item_sk FROM cross_items)
        |    AND ss_item_sk = i_item_sk
        |    AND ss_sold_date_sk = d_date_sk
        |    AND d_year = 1998 AND d_moy = 11
        |  GROUP BY i_brand_id, i_category_id
        |  HAVING round(sum(ss_ext_sales_price) + 5e-7, 2)
        |    > (SELECT average_sales * 10 FROM avg_sales)
        |  UNION ALL
        |  SELECT 'catalog' channel, i_brand_id, i_category_id,
        |    sum(cs_ext_sales_price) sales, count(*) num
        |  FROM catalog_sales, item, date_dim
        |  WHERE cs_item_sk IN (SELECT item_sk FROM cross_items)
        |    AND cs_item_sk = i_item_sk
        |    AND cs_sold_date_sk = d_date_sk
        |    AND d_year = 1998 AND d_moy = 11
        |  GROUP BY i_brand_id, i_category_id
        |  HAVING round(sum(cs_ext_sales_price) + 5e-7, 2)
        |    > (SELECT average_sales * 10 FROM avg_sales)
        |  UNION ALL
        |  SELECT 'web' channel, i_brand_id, i_category_id,
        |    sum(ws_ext_sales_price) sales, count(*) num
        |  FROM web_sales, item, date_dim
        |  WHERE ws_item_sk IN (SELECT item_sk FROM cross_items)
        |    AND ws_item_sk = i_item_sk
        |    AND ws_sold_date_sk = d_date_sk
        |    AND d_year = 1998 AND d_moy = 11
        |  GROUP BY i_brand_id, i_category_id
        |  HAVING round(sum(ws_ext_sales_price) + 5e-7, 2)
        |    > (SELECT average_sales * 10 FROM avg_sales)) y
        |GROUP BY ROLLUP(channel, i_brand_id, i_category_id)
        |ORDER BY channel NULLS FIRST, i_brand_id NULLS FIRST,
        |  i_category_id NULLS FIRST
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q49: worst return ratios per channel — each channel's
    // sales LEFT JOIN returns on (order/ticket, item), quantity and
    // currency ratios double-ranked, top-10 of either rank. The
    // quantity ratio divides exact whole-number sums; the currency
    // ratio rounds (+5e-7, 6dp) BEFORE ranking so rank cutoffs are
    // engine-stable.
    "qv8_tpcds_q49" -> ((s, dir) => sql(s, dir,
      """SELECT channel, item, return_ratio,
        |  cast(return_rank as bigint) AS return_rank,
        |  cast(currency_rank as bigint) AS currency_rank
        |FROM (
        | SELECT 'web' AS channel, in_web.item, in_web.return_ratio,
        |   rank() OVER (ORDER BY in_web.return_ratio, in_web.item)
        |     return_rank,
        |   rank() OVER (ORDER BY in_web.currency_ratio, in_web.item)
        |     currency_rank
        | FROM (SELECT ws.ws_item_sk AS item,
        |     round(sum(coalesce(wr.wr_return_quantity, 0))
        |       / sum(coalesce(ws.ws_quantity, 0)) + 5e-7, 6)
        |       AS return_ratio,
        |     round(sum(coalesce(wr.wr_return_amt, 0))
        |       / sum(coalesce(ws.ws_ext_sales_price, 0)) + 5e-7, 6)
        |       AS currency_ratio
        |   FROM web_sales ws LEFT JOIN web_returns wr
        |     ON (ws.ws_order_number = wr.wr_order_number
        |       AND ws.ws_item_sk = wr.wr_item_sk), date_dim
        |   WHERE wr.wr_return_amt > 10000
        |     AND ws.ws_sold_date_sk = d_date_sk
        |     AND d_year = 1998 AND d_moy BETWEEN 1 AND 6
        |   GROUP BY ws.ws_item_sk) in_web
        | UNION ALL
        | SELECT 'catalog' AS channel, in_cat.item, in_cat.return_ratio,
        |   rank() OVER (ORDER BY in_cat.return_ratio, in_cat.item)
        |     return_rank,
        |   rank() OVER (ORDER BY in_cat.currency_ratio, in_cat.item)
        |     currency_rank
        | FROM (SELECT cs.cs_item_sk AS item,
        |     round(sum(coalesce(cr.cr_return_quantity, 0))
        |       / sum(coalesce(cs.cs_quantity, 0)) + 5e-7, 6)
        |       AS return_ratio,
        |     round(sum(coalesce(cr.cr_return_amount, 0))
        |       / sum(coalesce(cs.cs_ext_sales_price, 0)) + 5e-7, 6)
        |       AS currency_ratio
        |   FROM catalog_sales cs LEFT JOIN catalog_returns cr
        |     ON (cs.cs_order_number = cr.cr_order_number
        |       AND cs.cs_item_sk = cr.cr_item_sk), date_dim
        |   WHERE cr.cr_return_amount > 10000
        |     AND cs.cs_sold_date_sk = d_date_sk
        |     AND d_year = 1998 AND d_moy BETWEEN 1 AND 6
        |   GROUP BY cs.cs_item_sk) in_cat
        | UNION ALL
        | SELECT 'store' AS channel, in_str.item, in_str.return_ratio,
        |   rank() OVER (ORDER BY in_str.return_ratio, in_str.item)
        |     return_rank,
        |   rank() OVER (ORDER BY in_str.currency_ratio, in_str.item)
        |     currency_rank
        | FROM (SELECT ss.ss_item_sk AS item,
        |     round(sum(coalesce(sr.sr_return_quantity, 0))
        |       / sum(coalesce(ss.ss_quantity, 0)) + 5e-7, 6)
        |       AS return_ratio,
        |     round(sum(coalesce(sr.sr_return_amt, 0))
        |       / sum(coalesce(ss.ss_ext_sales_price, 0)) + 5e-7, 6)
        |       AS currency_ratio
        |   FROM store_sales ss LEFT JOIN store_returns sr
        |     ON (ss.ss_ticket_number = sr.sr_ticket_number
        |       AND ss.ss_item_sk = sr.sr_item_sk), date_dim
        |   WHERE sr.sr_return_amt > 10000
        |     AND ss.ss_sold_date_sk = d_date_sk
        |     AND d_year = 1998 AND d_moy BETWEEN 1 AND 6
        |   GROUP BY ss.ss_item_sk) in_str) t
        |WHERE return_rank <= 10 OR currency_rank <= 10
        |ORDER BY channel, return_rank, currency_rank, item
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q30: web-returns customers 20% above their state's
    // average — Q1's shape on the web channel with the customer-
    // address star.
    "qv9_tpcds_q30" -> ((s, dir) => sql(s, dir,
      """WITH customer_total_return AS (
        |  SELECT wr_refunded_customer_sk AS ctr_customer_sk,
        |    ca_state AS ctr_state,
        |    round(sum(wr_return_amt) + 5e-7, 2) AS ctr_total_return
        |  FROM web_returns, date_dim, customer_address
        |  WHERE wr_returned_date_sk = d_date_sk AND d_year = 1998
        |    AND wr_refunded_customer_sk = ca_address_sk
        |  GROUP BY wr_refunded_customer_sk, ca_state)
        |SELECT c_name, ctr1.ctr_total_return AS total_return
        |FROM customer_total_return ctr1, customer_address, customer c
        |WHERE ctr1.ctr_total_return > (
        |    SELECT avg(ctr_total_return) * 1.2
        |    FROM customer_total_return ctr2
        |    WHERE ctr1.ctr_state = ctr2.ctr_state)
        |  AND ca_address_sk = c.c_custkey
        |  AND ca_state = 'CA'
        |  AND ctr1.ctr_customer_sk = c.c_custkey
        |ORDER BY c_name, total_return
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q91: call-center returns loss for a demographic slice of
    // returning customers in one month.
    "qw0_tpcds_q91" -> ((s, dir) => sql(s, dir,
      """SELECT cast(cc_call_center_sk as bigint) AS call_center,
        |  cc_name, cc_class,
        |  round(sum(cr_return_amount) + 5e-7, 2) AS returns_loss
        |FROM call_center, catalog_returns, date_dim,
        |  customer_demographics, household_demographics
        |WHERE cr_call_center_sk = cc_call_center_sk
        |  AND cr_returned_date_sk = d_date_sk
        |  AND cr_returning_customer_sk = cd_demo_sk
        |  AND cd_demo_sk = hd_demo_sk
        |  AND d_year = 1998 AND d_moy = 11
        |  AND ((cd_marital_status = 'M'
        |      AND cd_education_status = 'College')
        |    OR (cd_marital_status = 'D'
        |      AND cd_education_status = 'Primary'))
        |  AND hd_vehicle_count > 0
        |GROUP BY cc_call_center_sk, cc_name, cc_class
        |ORDER BY returns_loss DESC, call_center""".stripMargin)),

    // TPC-DS Q75: year-over-year net-of-returns sales count by brand —
    // each channel's sales LEFT JOINed to its returns, UNIONed
    // (deduped on bitwise-identical rows), re-aggregated per year,
    // then the >10% shrink cohort via exact integer-sum division.
    "qw1_tpcds_q75" -> ((s, dir) => sql(s, dir,
      """WITH all_sales AS (
        |  SELECT d_year, i_brand_id, i_category_id,
        |    sum(sales_cnt) AS sales_cnt,
        |    round(sum(sales_amt) + 5e-7, 2) AS sales_amt
        |  FROM (
        |    SELECT d_year, i_brand_id, i_category_id,
        |      cs_quantity - coalesce(cr_return_quantity, 0)
        |        AS sales_cnt,
        |      cs_ext_sales_price - coalesce(cr_return_amount, 0.0)
        |        AS sales_amt
        |    FROM catalog_sales
        |      JOIN item ON i_item_sk = cs_item_sk
        |      JOIN date_dim ON d_date_sk = cs_sold_date_sk
        |      LEFT JOIN catalog_returns
        |        ON cr_order_number = cs_order_number
        |          AND cs_item_sk = cr_item_sk
        |    WHERE i_category = 'ECONOMY'
        |    UNION
        |    SELECT d_year, i_brand_id, i_category_id,
        |      ss_quantity - coalesce(sr_return_quantity, 0),
        |      ss_ext_sales_price - coalesce(sr_return_amt, 0.0)
        |    FROM store_sales
        |      JOIN item ON i_item_sk = ss_item_sk
        |      JOIN date_dim ON d_date_sk = ss_sold_date_sk
        |      LEFT JOIN store_returns
        |        ON sr_ticket_number = ss_ticket_number
        |          AND ss_item_sk = sr_item_sk
        |    WHERE i_category = 'ECONOMY'
        |    UNION
        |    SELECT d_year, i_brand_id, i_category_id,
        |      ws_quantity - coalesce(wr_return_quantity, 0),
        |      ws_ext_sales_price - coalesce(wr_return_amt, 0.0)
        |    FROM web_sales
        |      JOIN item ON i_item_sk = ws_item_sk
        |      JOIN date_dim ON d_date_sk = ws_sold_date_sk
        |      LEFT JOIN web_returns
        |        ON wr_order_number = ws_order_number
        |          AND ws_item_sk = wr_item_sk
        |    WHERE i_category = 'ECONOMY') sales_detail
        |  GROUP BY d_year, i_brand_id, i_category_id)
        |SELECT cast(prev_yr.d_year as bigint) AS prev_year,
        |  cast(curr_yr.d_year as bigint) AS cur_year,
        |  cast(curr_yr.i_brand_id as bigint) AS i_brand_id,
        |  cast(curr_yr.i_category_id as bigint) AS i_category_id,
        |  cast(prev_yr.sales_cnt as bigint) AS prev_yr_cnt,
        |  cast(curr_yr.sales_cnt as bigint) AS curr_yr_cnt,
        |  cast(curr_yr.sales_cnt - prev_yr.sales_cnt as bigint)
        |    AS sales_cnt_diff
        |FROM all_sales curr_yr, all_sales prev_yr
        |WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
        |  AND curr_yr.i_category_id = prev_yr.i_category_id
        |  AND curr_yr.d_year = 1999 AND prev_yr.d_year = 1998
        |  AND prev_yr.sales_cnt > 0
        |  AND cast(curr_yr.sales_cnt as double)
        |    / cast(prev_yr.sales_cnt as double) < 0.9
        |ORDER BY sales_cnt_diff, i_brand_id, i_category_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q78: the store-loyalty ratio — per (year, item, customer)
    // un-returned sales in each channel (LEFT JOIN returns, keep only
    // null matches), store quantity against web+catalog quantity.
    // All ratios divide exact whole-number sums.
    "qw2_tpcds_q78" -> ((s, dir) => sql(s, dir,
      """WITH ws AS (
        |  SELECT d_year AS ws_sold_year, ws_item_sk,
        |    ws_bill_customer_sk ws_customer_sk,
        |    sum(ws_quantity) ws_qty
        |  FROM web_sales
        |  LEFT JOIN web_returns ON wr_order_number = ws_order_number
        |    AND ws_item_sk = wr_item_sk
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE wr_order_number IS NULL
        |  GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
        |cs AS (
        |  SELECT d_year AS cs_sold_year, cs_item_sk,
        |    cs_bill_customer_sk cs_customer_sk,
        |    sum(cs_quantity) cs_qty
        |  FROM catalog_sales
        |  LEFT JOIN catalog_returns ON cr_order_number = cs_order_number
        |    AND cs_item_sk = cr_item_sk
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  WHERE cr_order_number IS NULL
        |  GROUP BY d_year, cs_item_sk, cs_bill_customer_sk),
        |ss AS (
        |  SELECT d_year AS ss_sold_year, ss_item_sk,
        |    ss_customer_sk,
        |    sum(ss_quantity) ss_qty
        |  FROM store_sales
        |  LEFT JOIN store_returns ON sr_ticket_number = ss_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE sr_ticket_number IS NULL
        |  GROUP BY d_year, ss_item_sk, ss_customer_sk)
        |SELECT cast(ss_item_sk as bigint) AS ss_item_sk,
        |  cast(ss_customer_sk as bigint) AS ss_customer_sk,
        |  round(ss_qty / (coalesce(ws_qty, 0) + coalesce(cs_qty, 0))
        |    + 5e-7, 2) ratio,
        |  cast(ss_qty as bigint) store_qty,
        |  cast(coalesce(ws_qty, 0) + coalesce(cs_qty, 0) as bigint)
        |    other_chan_qty
        |FROM ss LEFT JOIN ws ON (ws_sold_year = ss_sold_year
        |    AND ws_item_sk = ss_item_sk
        |    AND ws_customer_sk = ss_customer_sk)
        |  LEFT JOIN cs ON (cs_sold_year = ss_sold_year
        |    AND cs_item_sk = ss_item_sk
        |    AND cs_customer_sk = ss_customer_sk)
        |WHERE (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0)
        |  AND ss_sold_year = 1998
        |ORDER BY ratio, ss_qty DESC, ss_item_sk, ss_customer_sk
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q16: the catalog shipping report — orders shipped from
    // more than one warehouse (correlated EXISTS on a second fact
    // alias) with no returns (NOT EXISTS), distinct-order count plus
    // money sums over a 60-day ship window.
    "qw3_tpcds_q16" -> ((s, dir) => sql(s, dir,
      """SELECT cast(count(DISTINCT cs_order_number) as bigint)
        |    AS order_count,
        |  round(sum(cs_ext_sales_price) + 5e-7, 2) AS total_sales,
        |  round(sum(cs_net_profit) + 5e-7, 2) AS total_net_profit
        |FROM catalog_sales cs1, date_dim, customer_address, call_center
        |WHERE d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
        |  AND cs1.cs_ship_date_sk = d_date_sk
        |  AND cs1.cs_bill_customer_sk = ca_address_sk
        |  AND ca_state = 'CA'
        |  AND cs1.cs_call_center_sk = cc_call_center_sk
        |  AND cc_class IN ('small', 'medium')
        |  AND EXISTS (SELECT * FROM catalog_sales cs2
        |    WHERE cs1.cs_order_number = cs2.cs_order_number
        |      AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
        |  AND NOT EXISTS (SELECT * FROM catalog_returns cr1
        |    WHERE cs1.cs_order_number = cr1.cr_order_number)""".stripMargin)),

    // TPC-DS Q66: the warehouse shipping pivot — web and catalog
    // ship-date facts UNION ALLed into a per-warehouse quarterly
    // matrix, re-aggregated over the union.
    "qw4_tpcds_q66" -> ((s, dir) => sql(s, dir,
      """SELECT w_warehouse_name, w_state,
        |  cast(d_year as bigint) AS ship_year,
        |  round(sum(q1_sales) + 5e-7, 2) AS q1_sales,
        |  round(sum(q2_sales) + 5e-7, 2) AS q2_sales,
        |  round(sum(q3_sales) + 5e-7, 2) AS q3_sales,
        |  round(sum(q4_sales) + 5e-7, 2) AS q4_sales
        |FROM (
        |  SELECT w_warehouse_name, w_state, d_year,
        |    sum(CASE WHEN d_qoy = 1 THEN ws_ext_sales_price
        |      ELSE 0 END) AS q1_sales,
        |    sum(CASE WHEN d_qoy = 2 THEN ws_ext_sales_price
        |      ELSE 0 END) AS q2_sales,
        |    sum(CASE WHEN d_qoy = 3 THEN ws_ext_sales_price
        |      ELSE 0 END) AS q3_sales,
        |    sum(CASE WHEN d_qoy = 4 THEN ws_ext_sales_price
        |      ELSE 0 END) AS q4_sales
        |  FROM web_sales, warehouse, date_dim
        |  WHERE ws_ship_date_sk = d_date_sk
        |    AND ws_warehouse_sk = w_warehouse_sk AND d_year = 1998
        |  GROUP BY w_warehouse_name, w_state, d_year
        |  UNION ALL
        |  SELECT w_warehouse_name, w_state, d_year,
        |    sum(CASE WHEN d_qoy = 1 THEN cs_ext_sales_price
        |      ELSE 0 END) AS q1_sales,
        |    sum(CASE WHEN d_qoy = 2 THEN cs_ext_sales_price
        |      ELSE 0 END) AS q2_sales,
        |    sum(CASE WHEN d_qoy = 3 THEN cs_ext_sales_price
        |      ELSE 0 END) AS q3_sales,
        |    sum(CASE WHEN d_qoy = 4 THEN cs_ext_sales_price
        |      ELSE 0 END) AS q4_sales
        |  FROM catalog_sales, warehouse, date_dim
        |  WHERE cs_ship_date_sk = d_date_sk
        |    AND cs_warehouse_sk = w_warehouse_sk AND d_year = 1998
        |  GROUP BY w_warehouse_name, w_state, d_year) x
        |GROUP BY w_warehouse_name, w_state, d_year
        |ORDER BY w_warehouse_name""".stripMargin)),

    // TPC-DS Q46: weekend baskets bought in a different city than the
    // customer lives in — the per-ticket address (ss_addr_sk) joins
    // customer_address TWICE, once for the basket, once for the
    // customer's current address, keeping city mismatches.
    "qw5_tpcds_q46" -> ((s, dir) => sql(s, dir,
      """SELECT c_name, ca_city, bought_city, ss_ticket_number,
        |  amt, profit
        |FROM (SELECT ss_ticket_number, ss_customer_sk,
        |        ca_city AS bought_city,
        |        round(sum(ss_coupon_amt) + 5e-7, 2) AS amt,
        |        round(sum(ss_net_profit) + 5e-7, 2) AS profit
        |      FROM store_sales, date_dim, store,
        |        household_demographics, customer_address
        |      WHERE ss_sold_date_sk = d_date_sk
        |        AND ss_store_sk = s_store_sk
        |        AND ss_hdemo_sk = hd_demo_sk
        |        AND ss_addr_sk = ca_address_sk
        |        AND (hd_dep_count = 5 OR hd_vehicle_count = 3)
        |        AND d_day_name IN ('Saturday', 'Sunday')
        |        AND d_year IN (1998, 1999, 2000)
        |        AND s_state IN ('TN', 'CA')
        |      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk,
        |        ca_city) dn,
        |  customer, customer_address current_addr
        |WHERE ss_customer_sk = c_custkey
        |  AND current_addr.ca_address_sk = c_custkey
        |  AND current_addr.ca_city <> bought_city
        |ORDER BY c_name, ss_ticket_number, ca_city, bought_city,
        |  amt, profit
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q68: Q46's sibling — start-of-month baskets, sales and
    // coupon measures, same dual-address city mismatch.
    "qw6_tpcds_q68" -> ((s, dir) => sql(s, dir,
      """SELECT c_name, ca_city, bought_city, ss_ticket_number,
        |  extended_price, extended_coupon
        |FROM (SELECT ss_ticket_number, ss_customer_sk,
        |        ca_city AS bought_city,
        |        round(sum(ss_ext_sales_price) + 5e-7, 2)
        |          AS extended_price,
        |        round(sum(ss_coupon_amt) + 5e-7, 2) AS extended_coupon
        |      FROM store_sales, date_dim, store,
        |        household_demographics, customer_address
        |      WHERE ss_sold_date_sk = d_date_sk
        |        AND ss_store_sk = s_store_sk
        |        AND ss_hdemo_sk = hd_demo_sk
        |        AND ss_addr_sk = ca_address_sk
        |        AND (hd_dep_count = 6 OR hd_vehicle_count = 2)
        |        AND d_dom BETWEEN 1 AND 2
        |        AND d_year IN (1998, 1999, 2000)
        |        AND s_state IN ('TX', 'NY')
        |      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk,
        |        ca_city) dn,
        |  customer, customer_address current_addr
        |WHERE ss_customer_sk = c_custkey
        |  AND current_addr.ca_address_sk = c_custkey
        |  AND current_addr.ca_city <> bought_city
        |ORDER BY c_name, ss_ticket_number, ca_city, bought_city,
        |  extended_price, extended_coupon
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q64: the cross-year mega-join skeleton — items whose
    // catalog sales cleared 2x their refunds (cs_ui HAVING), their
    // store sales+returns star with customer and BOTH addresses, built
    // per year and self-joined across 1998/1999 where repeat counts
    // did not grow. The widest join tree in the pack: two facts, a
    // derived exclusion aggregate, and six dimensions per year slice.
    "qw7_tpcds_q64" -> ((s, dir) => sql(s, dir,
      """WITH cs_ui AS (
        |  SELECT cs_item_sk,
        |    sum(cs_ext_sales_price) AS sale,
        |    sum(cr_return_amount) AS refund
        |  FROM catalog_sales, catalog_returns
        |  WHERE cs_item_sk = cr_item_sk
        |    AND cs_order_number = cr_order_number
        |  GROUP BY cs_item_sk
        |  HAVING round(sum(cs_ext_sales_price) + 5e-7, 2)
        |    > round(1.05 * sum(cr_return_amount) + 5e-7, 2)),
        |cross_sales AS (
        |  SELECT i_item_id AS item_id, ss_item_sk AS item_sk,
        |    s_store_name AS store_name, d1.d_year AS syear,
        |    count(*) AS cnt,
        |    round(sum(ss_ext_sales_price) + 5e-7, 2) AS s1,
        |    round(sum(ss_coupon_amt) + 5e-7, 2) AS s2,
        |    round(sum(ss_net_profit) + 5e-7, 2) AS s3
        |  FROM store_sales, store_returns, cs_ui, date_dim d1,
        |    store, item, customer, customer_address ad1,
        |    customer_address ad2
        |  WHERE ss_item_sk = sr_item_sk
        |    AND ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = cs_ui.cs_item_sk
        |    AND ss_sold_date_sk = d1.d_date_sk
        |    AND ss_store_sk = s_store_sk
        |    AND ss_customer_sk = c_custkey
        |    AND ss_addr_sk = ad1.ca_address_sk
        |    AND c_custkey = ad2.ca_address_sk
        |    AND i_item_sk = ss_item_sk
        |    AND i_current_price BETWEEN 900 AND 980
        |  GROUP BY i_item_id, ss_item_sk, s_store_name, d1.d_year)
        |SELECT cs1.item_id, cs1.store_name,
        |  cast(cs1.syear as bigint) AS syear1,
        |  cast(cs1.cnt as bigint) AS cnt1,
        |  cs1.s1 AS s1_1, cs1.s2 AS s2_1, cs1.s3 AS s3_1,
        |  cast(cs2.syear as bigint) AS syear2,
        |  cast(cs2.cnt as bigint) AS cnt2,
        |  cs2.s1 AS s1_2, cs2.s2 AS s2_2, cs2.s3 AS s3_2
        |FROM cross_sales cs1, cross_sales cs2
        |WHERE cs1.item_sk = cs2.item_sk
        |  AND cs1.syear = 1998 AND cs2.syear = 1999
        |  AND cs2.cnt <= cs1.cnt
        |  AND cs1.store_name = cs2.store_name
        |ORDER BY cs1.item_id, cs1.store_name, cnt2, s1_1, s1_2
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q11: Q4's two-channel sibling — store vs web year-over-
    // year growth per customer, keeping customers whose web ratio beat
    // their store ratio, reported with the customer name.
    "qw8_tpcds_q11" -> ((s, dir) => sql(s, dir,
      """WITH year_total AS (
        |  SELECT ss_customer_sk AS c_sk, d_year,
        |    round(sum(ss_ext_sales_price - ss_coupon_amt) + 5e-7, 2)
        |      AS total, 's' AS channel
        |  FROM store_sales, date_dim
        |  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |  GROUP BY ss_customer_sk, d_year
        |  UNION ALL
        |  SELECT ws_bill_customer_sk AS c_sk, d_year,
        |    round(sum(ws_ext_sales_price - ws_ext_discount_amt) + 5e-7, 2)
        |      AS total, 'w' AS channel
        |  FROM web_sales, date_dim
        |  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
        |  GROUP BY ws_bill_customer_sk, d_year)
        |SELECT c_name AS customer_name,
        |  cast(t_s_fy.c_sk as bigint) AS customer
        |FROM year_total t_s_fy, year_total t_s_sy,
        |     year_total t_w_fy, year_total t_w_sy, customer
        |WHERE t_s_fy.c_sk = t_s_sy.c_sk AND t_s_fy.c_sk = t_w_fy.c_sk
        |  AND t_s_fy.c_sk = t_w_sy.c_sk AND t_s_fy.c_sk = c_custkey
        |  AND t_s_fy.channel = 's' AND t_s_fy.d_year = 1998
        |  AND t_s_sy.channel = 's' AND t_s_sy.d_year = 1999
        |  AND t_w_fy.channel = 'w' AND t_w_fy.d_year = 1998
        |  AND t_w_sy.channel = 'w' AND t_w_sy.d_year = 1999
        |  AND t_s_fy.total > 0 AND t_w_fy.total > 0
        |  AND t_w_sy.total / t_w_fy.total > t_s_sy.total / t_s_fy.total
        |ORDER BY customer
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q12: Q98's web twin — item revenue share within class
    // over a 30-day window.
    "qw9_tpcds_q12" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, i_category, i_class, i_current_price,
        |  round(sum(ws_ext_sales_price), 2) AS itemrevenue,
        |  round(sum(ws_ext_sales_price) * 100.0 /
        |    sum(sum(ws_ext_sales_price)) OVER (PARTITION BY i_class), 4)
        |    AS revenueratio
        |FROM web_sales, item, date_dim
        |WHERE ws_item_sk = i_item_sk
        |  AND i_category IN ('STANDARD', 'SMALL', 'MEDIUM')
        |  AND ws_sold_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1999-02-22'
        |    AND (DATE '1999-02-22' + INTERVAL 30 DAY)
        |GROUP BY i_item_id, i_class, i_category, i_current_price
        |ORDER BY i_category, i_class, i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q20: Q98's catalog twin.
    "qx0_tpcds_q20" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, i_category, i_class, i_current_price,
        |  round(sum(cs_ext_sales_price), 2) AS itemrevenue,
        |  round(sum(cs_ext_sales_price) * 100.0 /
        |    sum(sum(cs_ext_sales_price)) OVER (PARTITION BY i_class), 4)
        |    AS revenueratio
        |FROM catalog_sales, item, date_dim
        |WHERE cs_item_sk = i_item_sk
        |  AND i_category IN ('STANDARD', 'SMALL', 'MEDIUM')
        |  AND cs_sold_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1999-02-22'
        |    AND (DATE '1999-02-22' + INTERVAL 30 DAY)
        |GROUP BY i_item_id, i_class, i_category, i_current_price
        |ORDER BY i_category, i_class, i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q26: Q7's catalog twin — average quantity/list/coupon/
    // sales price per item for a demographic cohort under promotion.
    "qx1_tpcds_q26" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id,
        |  round(avg(cs_quantity) + 5e-7, 2) agg1,
        |  round(avg(cs_list_price) + 5e-7, 2) agg2,
        |  round(avg(cs_coupon_amt) + 5e-7, 2) agg3,
        |  round(avg(cs_sales_price) + 5e-7, 2) agg4
        |FROM catalog_sales, customer_demographics, date_dim, item,
        |  promotion
        |WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
        |  AND cs_bill_cdemo_sk = cd_demo_sk AND cs_promo_sk = p_promo_sk
        |  AND cd_gender = 'F' AND cd_marital_status = 'M'
        |  AND cd_education_status = 'Primary'
        |  AND (p_channel_email = 'N' OR p_channel_event = 'N')
        |  AND d_year = 1998
        |GROUP BY i_item_id
        |ORDER BY i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q32: Q92's catalog twin — discounts more than 1.3x the
    // item's windowed average (correlated scalar subquery).
    "qx2_tpcds_q32" -> ((s, dir) => sql(s, dir,
      """SELECT round(sum(cs_ext_discount_amt) + 5e-7, 2)
        |    AS excess_discount
        |FROM catalog_sales cs1, item, date_dim
        |WHERE i_item_sk = cs1.cs_item_sk
        |  AND i_manufact_id BETWEEN 300 AND 600
        |  AND d_date BETWEEN DATE '1999-02-22' AND DATE '1999-05-23'
        |  AND d_date_sk = cs1.cs_sold_date_sk
        |  AND cs1.cs_ext_discount_amt > (
        |    SELECT 1.3 * avg(cs_ext_discount_amt)
        |    FROM catalog_sales cs2, date_dim
        |    WHERE cs2.cs_item_sk = i_item_sk
        |      AND d_date BETWEEN DATE '1999-02-22' AND DATE '1999-05-23'
        |      AND d_date_sk = cs2.cs_sold_date_sk)""".stripMargin)),

    // TPC-DS Q63: Q53's manager twin — monthly sales vs the manager's
    // yearly monthly average, keeping >10% deviations.
    "qx3_tpcds_q63" -> ((s, dir) => sql(s, dir,
      """SELECT * FROM (
        |  SELECT i_manager_id, d_moy,
        |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
        |    round(avg(sum(ss_sales_price)) OVER (
        |      PARTITION BY i_manager_id) + 5e-7, 2) avg_monthly_sales
        |  FROM item, store_sales, date_dim, store
        |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND ss_store_sk = s_store_sk AND d_year = 1999
        |    AND ((i_category IN ('LARGE', 'STANDARD')
        |        AND i_class LIKE '%#1')
        |      OR (i_category IN ('ECONOMY', 'MEDIUM')
        |        AND i_class LIKE '%#3'))
        |  GROUP BY i_manager_id, d_moy) tmp1
        |WHERE CASE WHEN avg_monthly_sales > 0
        |  THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
        |  ELSE NULL END > 0.1
        |ORDER BY i_manager_id, avg_monthly_sales, sum_sales, d_moy
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q56: Q33's color twin — per-item revenue for color-
    // selected items summed across the three channels.
    "qx4_tpcds_q56" -> ((s, dir) => sql(s, dir,
      """WITH sel AS (SELECT i_item_id FROM item
        |  WHERE i_color IN ('red', 'blue', 'green')
        |  GROUP BY i_item_id),
        |x AS (
        |  SELECT i_item_id,
        |    round(sum(ss_ext_sales_price), 2) AS total_sales
        |  FROM store_sales, date_dim, item
        |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |    AND d_year = 1999 AND d_moy = 2
        |    AND i_item_id IN (SELECT i_item_id FROM sel)
        |  GROUP BY i_item_id
        |  UNION ALL
        |  SELECT i_item_id,
        |    round(sum(cs_ext_sales_price), 2) AS total_sales
        |  FROM catalog_sales, date_dim, item
        |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
        |    AND d_year = 1999 AND d_moy = 2
        |    AND i_item_id IN (SELECT i_item_id FROM sel)
        |  GROUP BY i_item_id
        |  UNION ALL
        |  SELECT i_item_id,
        |    round(sum(ws_ext_sales_price), 2) AS total_sales
        |  FROM web_sales, date_dim, item
        |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
        |    AND d_year = 1999 AND d_moy = 2
        |    AND i_item_id IN (SELECT i_item_id FROM sel)
        |  GROUP BY i_item_id)
        |SELECT i_item_id, round(sum(total_sales), 2) AS total_sales
        |FROM x GROUP BY i_item_id
        |ORDER BY total_sales DESC, i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q60: Q33/Q56's category twin.
    "qx5_tpcds_q60" -> ((s, dir) => sql(s, dir,
      """WITH sel AS (SELECT i_item_id FROM item
        |  WHERE i_category = 'MEDIUM'
        |  GROUP BY i_item_id),
        |x AS (
        |  SELECT i_item_id,
        |    round(sum(ss_ext_sales_price), 2) AS total_sales
        |  FROM store_sales, date_dim, item
        |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |    AND d_year = 1998 AND d_moy = 9
        |    AND i_item_id IN (SELECT i_item_id FROM sel)
        |  GROUP BY i_item_id
        |  UNION ALL
        |  SELECT i_item_id,
        |    round(sum(cs_ext_sales_price), 2) AS total_sales
        |  FROM catalog_sales, date_dim, item
        |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
        |    AND d_year = 1998 AND d_moy = 9
        |    AND i_item_id IN (SELECT i_item_id FROM sel)
        |  GROUP BY i_item_id
        |  UNION ALL
        |  SELECT i_item_id,
        |    round(sum(ws_ext_sales_price), 2) AS total_sales
        |  FROM web_sales, date_dim, item
        |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
        |    AND d_year = 1998 AND d_moy = 9
        |    AND i_item_id IN (SELECT i_item_id FROM sel)
        |  GROUP BY i_item_id)
        |SELECT i_item_id, round(sum(total_sales), 2) AS total_sales
        |FROM x GROUP BY i_item_id
        |ORDER BY total_sales DESC, i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q71: brand revenue by minute-of-day across the three
    // channels for breakfast/dinner hours — the time_dim star.
    "qx6_tpcds_q71" -> ((s, dir) => sql(s, dir,
      """SELECT i_brand_id AS brand_id, i_brand AS brand,
        |  t_hour, t_minute,
        |  round(sum(ext_price), 2) AS ext_price
        |FROM item,
        |  (SELECT ws_ext_sales_price AS ext_price,
        |     ws_item_sk AS sold_item_sk, ws_sold_time_sk AS time_sk
        |   FROM web_sales, date_dim
        |   WHERE d_date_sk = ws_sold_date_sk
        |     AND d_moy = 11 AND d_year = 1998
        |   UNION ALL
        |   SELECT cs_ext_sales_price, cs_item_sk, cs_sold_time_sk
        |   FROM catalog_sales, date_dim
        |   WHERE d_date_sk = cs_sold_date_sk
        |     AND d_moy = 11 AND d_year = 1998
        |   UNION ALL
        |   SELECT ss_ext_sales_price, ss_item_sk, ss_sold_time_sk
        |   FROM store_sales, date_dim
        |   WHERE d_date_sk = ss_sold_date_sk
        |     AND d_moy = 11 AND d_year = 1998) tmp, time_dim
        |WHERE sold_item_sk = i_item_sk AND i_manager_id BETWEEN 1 AND 50
        |  AND time_sk = t_time_sk AND (t_hour = 8 OR t_hour = 19)
        |GROUP BY i_brand, i_brand_id, t_hour, t_minute
        |ORDER BY ext_price DESC, brand_id, t_hour, t_minute
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q41: distinct product names whose manufacturer also makes
    // an item matching one of two attribute conjunction blocks — a
    // correlated COUNT(*) subquery over the item dimension alone.
    "qx7_tpcds_q41" -> ((s, dir) => sql(s, dir,
      """SELECT DISTINCT i_product_name
        |FROM item i1
        |WHERE i_manufact_id BETWEEN 2 AND 42
        |  AND (SELECT count(*) FROM item
        |    WHERE (i_manufact_id = i1.i_manufact_id
        |      AND ((i_category = 'STANDARD'
        |          AND (i_color = 'red' OR i_color = 'blue')
        |          AND (i_units = 'Oz' OR i_units = 'Lb')
        |          AND (i_size = 'small' OR i_size = 'medium'))
        |        OR (i_category = 'ECONOMY'
        |          AND (i_color = 'green' OR i_color = 'white')
        |          AND (i_units = 'Ton' OR i_units = 'Gram')
        |          AND (i_size = 'large' OR i_size = 'petite'))))
        |      OR (i_manufact_id = i1.i_manufact_id
        |      AND ((i_category = 'PROMO'
        |          AND (i_color = 'yellow' OR i_color = 'black')
        |          AND (i_units = 'Box' OR i_units = 'Oz')
        |          AND (i_size = 'small' OR i_size = 'large'))
        |        OR (i_category = 'SMALL'
        |          AND (i_color = 'pink' OR i_color = 'orange')
        |          AND (i_units = 'Lb' OR i_units = 'Gram')
        |          AND (i_size = 'medium' OR i_size = 'petite'))))) > 0
        |ORDER BY i_product_name
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q48: Q13's quantity twin — total quantity under paired
    // demographic/price bands and address-state/profit bands.
    "qx8_tpcds_q48" -> ((s, dir) => sql(s, dir,
      """SELECT cast(sum(ss_quantity) as bigint) AS total_qty
        |FROM store_sales, store, customer_demographics,
        |  customer_address, date_dim
        |WHERE s_store_sk = ss_store_sk
        |  AND ss_sold_date_sk = d_date_sk AND d_year = 1998
        |  AND ss_cdemo_sk = cd_demo_sk
        |  AND ((cd_marital_status = 'M'
        |      AND cd_education_status = 'Advanced Degree'
        |      AND ss_sales_price BETWEEN 900 AND 950)
        |    OR (cd_marital_status = 'S'
        |      AND cd_education_status = 'College'
        |      AND ss_sales_price BETWEEN 850 AND 900)
        |    OR (cd_marital_status = 'D'
        |      AND cd_education_status = 'Primary'
        |      AND ss_sales_price BETWEEN 950 AND 1000))
        |  AND ss_addr_sk = ca_address_sk
        |  AND ((ca_state IN ('TX', 'NY', 'CA')
        |      AND ss_net_profit BETWEEN 0 AND 2000)
        |    OR (ca_state IN ('WA', 'OR')
        |      AND ss_net_profit BETWEEN 150 AND 3000)
        |    OR (ca_state IN ('TN', 'FL')
        |      AND ss_net_profit BETWEEN 50 AND 25000))""".stripMargin)),

    // TPC-DS Q76: per-channel counts of fact rows with a missing
    // (NULL) dimension key — the three-channel UNION null audit.
    "qx9_tpcds_q76" -> ((s, dir) => sql(s, dir,
      """SELECT channel, col_name, d_year, d_qoy, i_category,
        |  count(*) AS sales_cnt,
        |  round(sum(ext_sales_price), 2) AS sales_amt
        |FROM (
        |  SELECT 'store' AS channel, 'ss_addr_sk' AS col_name,
        |    d_year, d_qoy, i_category,
        |    ss_ext_sales_price AS ext_sales_price
        |  FROM store_sales, item, date_dim
        |  WHERE ss_addr_sk IS NULL
        |    AND ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        |  UNION ALL
        |  SELECT 'web' AS channel, 'ws_ship_customer_sk' AS col_name,
        |    d_year, d_qoy, i_category,
        |    ws_ext_sales_price AS ext_sales_price
        |  FROM web_sales, item, date_dim
        |  WHERE ws_ship_customer_sk IS NULL
        |    AND ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
        |  UNION ALL
        |  SELECT 'catalog' AS channel, 'cs_ship_addr_sk' AS col_name,
        |    d_year, d_qoy, i_category,
        |    cs_ext_sales_price AS ext_sales_price
        |  FROM catalog_sales, item, date_dim
        |  WHERE cs_ship_addr_sk IS NULL
        |    AND cs_sold_date_sk = d_date_sk
        |    AND cs_item_sk = i_item_sk) foo
        |GROUP BY channel, col_name, d_year, d_qoy, i_category
        |ORDER BY channel, col_name, d_year, d_qoy, i_category
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q9: the reason-anchored single-row CASE report — five
    // quantity buckets, each picking avg sales price or avg profit by
    // a scalar-count threshold (15 uncorrelated scalar subqueries).
    "qy0_tpcds_q9" -> ((s, dir) => sql(s, dir,
      """SELECT CASE WHEN (SELECT count(*) FROM store_sales
        |    WHERE ss_quantity BETWEEN 1 AND 10) > 10000
        |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10)
        |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10)
        |  END AS bucket1,
        |  CASE WHEN (SELECT count(*) FROM store_sales
        |    WHERE ss_quantity BETWEEN 11 AND 20) > 8000
        |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20)
        |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20)
        |  END AS bucket2,
        |  CASE WHEN (SELECT count(*) FROM store_sales
        |    WHERE ss_quantity BETWEEN 21 AND 30) > 6000
        |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30)
        |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30)
        |  END AS bucket3,
        |  CASE WHEN (SELECT count(*) FROM store_sales
        |    WHERE ss_quantity BETWEEN 31 AND 40) > 4000
        |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40)
        |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40)
        |  END AS bucket4,
        |  CASE WHEN (SELECT count(*) FROM store_sales
        |    WHERE ss_quantity BETWEEN 41 AND 50) > 2000
        |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50)
        |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
        |    FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50)
        |  END AS bucket5
        |FROM reason WHERE r_reason_sk = 1""".stripMargin)),

    // TPC-DS Q10: demographic profile of customers in two states who
    // bought in store AND (web OR catalog) in one season — the
    // disjunctive-EXISTS cohort with six count facets.
    "qy1_tpcds_q10" -> ((s, dir) => sql(s, dir,
      """SELECT cd_gender, cd_marital_status, cd_education_status,
        |  cast(count(*) as bigint) AS cnt1, cd_purchase_estimate,
        |  cast(count(*) as bigint) AS cnt2, cd_credit_rating,
        |  cast(count(*) as bigint) AS cnt3, cd_dep_count,
        |  cast(count(*) as bigint) AS cnt4, cd_dep_employed_count,
        |  cast(count(*) as bigint) AS cnt5, cd_dep_college_count,
        |  cast(count(*) as bigint) AS cnt6
        |FROM customer c, customer_address ca, customer_demographics
        |WHERE c.c_custkey = ca.ca_address_sk
        |  AND ca_state IN ('TX', 'NY')
        |  AND cd_demo_sk = c.c_custkey
        |  AND EXISTS (SELECT * FROM store_sales, date_dim
        |    WHERE c.c_custkey = ss_customer_sk
        |      AND ss_sold_date_sk = d_date_sk
        |      AND d_year = 1998 AND d_moy BETWEEN 1 AND 4)
        |  AND (EXISTS (SELECT * FROM web_sales, date_dim
        |    WHERE c.c_custkey = ws_bill_customer_sk
        |      AND ws_sold_date_sk = d_date_sk
        |      AND d_year = 1998 AND d_moy BETWEEN 1 AND 4)
        |  OR EXISTS (SELECT * FROM catalog_sales, date_dim
        |    WHERE c.c_custkey = cs_bill_customer_sk
        |      AND cs_sold_date_sk = d_date_sk
        |      AND d_year = 1998 AND d_moy BETWEEN 1 AND 4))
        |GROUP BY cd_gender, cd_marital_status, cd_education_status,
        |  cd_purchase_estimate, cd_credit_rating, cd_dep_count,
        |  cd_dep_employed_count, cd_dep_college_count
        |ORDER BY cd_gender, cd_marital_status, cd_education_status,
        |  cd_purchase_estimate, cd_credit_rating, cd_dep_count,
        |  cd_dep_employed_count, cd_dep_college_count
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q40: warehouse/item net sales before vs after a pivot
    // date, returns subtracted via LEFT JOIN to catalog_returns.
    "qy2_tpcds_q40" -> ((s, dir) => sql(s, dir,
      """SELECT w_state, i_item_id,
        |  round(sum(CASE WHEN d_date < DATE '1998-06-01'
        |    THEN cs_sales_price - coalesce(cr_return_amount, 0)
        |    ELSE 0 END) + 5e-7, 2) AS sales_before,
        |  round(sum(CASE WHEN d_date >= DATE '1998-06-01'
        |    THEN cs_sales_price - coalesce(cr_return_amount, 0)
        |    ELSE 0 END) + 5e-7, 2) AS sales_after
        |FROM catalog_sales LEFT OUTER JOIN catalog_returns
        |    ON (cs_order_number = cr_order_number
        |      AND cs_item_sk = cr_item_sk),
        |  warehouse, item, date_dim
        |WHERE i_current_price BETWEEN 920 AND 950
        |  AND i_item_sk = cs_item_sk
        |  AND cs_warehouse_sk = w_warehouse_sk
        |  AND cs_sold_date_sk = d_date_sk
        |  AND d_date BETWEEN DATE '1998-05-02' AND DATE '1998-07-01'
        |GROUP BY w_state, i_item_id
        |ORDER BY w_state, i_item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q50: store return latency buckets — sold-to-returned day
    // gaps bucketed per store for returns landing in one month.
    "qy3_tpcds_q50" -> ((s, dir) => sql(s, dir,
      """SELECT s_store_name, s_store_id,
        |  cast(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk <= 30
        |    THEN 1 ELSE 0 END) as bigint) AS d30,
        |  cast(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 30
        |    AND sr_returned_date_sk - ss_sold_date_sk <= 60
        |    THEN 1 ELSE 0 END) as bigint) AS d60,
        |  cast(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 60
        |    AND sr_returned_date_sk - ss_sold_date_sk <= 90
        |    THEN 1 ELSE 0 END) as bigint) AS d90,
        |  cast(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 90
        |    AND sr_returned_date_sk - ss_sold_date_sk <= 120
        |    THEN 1 ELSE 0 END) as bigint) AS d120,
        |  cast(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 120
        |    THEN 1 ELSE 0 END) as bigint) AS dmore
        |FROM store_sales, store_returns, store, date_dim d1, date_dim d2
        |WHERE d2.d_year = 1998 AND d2.d_moy = 8
        |  AND ss_ticket_number = sr_ticket_number
        |  AND ss_item_sk = sr_item_sk
        |  AND ss_customer_sk = sr_customer_sk
        |  AND ss_store_sk = sr_store_sk
        |  AND ss_sold_date_sk = d1.d_date_sk
        |  AND sr_returned_date_sk = d2.d_date_sk
        |  AND ss_store_sk = s_store_sk
        |GROUP BY s_store_name, s_store_id
        |ORDER BY s_store_name, s_store_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q81: Q30's catalog twin — returning customers whose state
    // return total beats 1.2x their state's average.
    "qy4_tpcds_q81" -> ((s, dir) => sql(s, dir,
      """WITH customer_total_return AS (
        |  SELECT cr_returning_customer_sk AS ctr_customer_sk,
        |    ca_state AS ctr_state,
        |    round(sum(cr_return_amount) + 5e-7, 2) AS ctr_total_return
        |  FROM catalog_returns, date_dim, customer_address
        |  WHERE cr_returned_date_sk = d_date_sk AND d_year = 1998
        |    AND cr_returning_customer_sk = ca_address_sk
        |  GROUP BY cr_returning_customer_sk, ca_state)
        |SELECT c_name, ctr1.ctr_total_return AS total_return
        |FROM customer_total_return ctr1, customer_address, customer c
        |WHERE ctr1.ctr_total_return > (
        |    SELECT avg(ctr_total_return) * 1.2
        |    FROM customer_total_return ctr2
        |    WHERE ctr1.ctr_state = ctr2.ctr_state)
        |  AND ca_address_sk = c.c_custkey
        |  AND ca_state = 'TX'
        |  AND ctr1.ctr_customer_sk = c.c_custkey
        |ORDER BY c_name, total_return
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q99: catalog ship latency buckets by warehouse, ship
    // mode, and call center.
    "qy5_tpcds_q99" -> ((s, dir) => sql(s, dir,
      """SELECT w_warehouse_name, sm_type, cc_name,
        |  cast(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk <= 30
        |    THEN 1 ELSE 0 END) as bigint) AS d30,
        |  cast(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 30
        |    AND cs_ship_date_sk - cs_sold_date_sk <= 60
        |    THEN 1 ELSE 0 END) as bigint) AS d60,
        |  cast(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 60
        |    AND cs_ship_date_sk - cs_sold_date_sk <= 90
        |    THEN 1 ELSE 0 END) as bigint) AS d90,
        |  cast(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 90
        |    AND cs_ship_date_sk - cs_sold_date_sk <= 120
        |    THEN 1 ELSE 0 END) as bigint) AS d120,
        |  cast(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 120
        |    THEN 1 ELSE 0 END) as bigint) AS dmore
        |FROM catalog_sales, warehouse, ship_mode, call_center, date_dim
        |WHERE cs_ship_date_sk = d_date_sk AND d_year = 1998
        |  AND cs_warehouse_sk = w_warehouse_sk
        |  AND cs_ship_mode_sk = sm_ship_mode_sk
        |  AND cs_call_center_sk = cc_call_center_sk
        |GROUP BY w_warehouse_name, sm_type, cc_name
        |ORDER BY w_warehouse_name, sm_type, cc_name
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q18: catalog averages for a demographic cohort over a
    // geography ROLLUP. Birth month/year derive from custkey (the
    // fixture customer has no birth columns).
    "qy6_tpcds_q18" -> ((s, dir) => sql(s, dir,
      """SELECT i_item_id, ca_state, ca_city,
        |  round(avg(cs_quantity) + 5e-7, 2) AS agg1,
        |  round(avg(cs_list_price) + 5e-7, 2) AS agg2,
        |  round(avg(cs_coupon_amt) + 5e-7, 2) AS agg3,
        |  round(avg(cs_sales_price) + 5e-7, 2) AS agg4,
        |  round(avg(1920 + c_custkey % 70) + 5e-7, 2) AS agg5,
        |  round(avg(cd_dep_count) + 5e-7, 2) AS agg6
        |FROM catalog_sales, customer_demographics, customer c,
        |  customer_address, date_dim, item
        |WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
        |  AND cs_item_sk = i_item_sk
        |  AND cs_bill_cdemo_sk = cd_demo_sk
        |  AND cs_bill_customer_sk = c.c_custkey
        |  AND cd_gender = 'M' AND cd_education_status = 'College'
        |  AND c.c_custkey % 12 + 1 IN (1, 2, 6, 8, 9, 12)
        |  AND c.c_custkey = ca_address_sk
        |GROUP BY ROLLUP(i_item_id, ca_state, ca_city)
        |ORDER BY i_item_id NULLS FIRST, ca_state NULLS FIRST,
        |  ca_city NULLS FIRST
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q24: returned-basket netpaid per customer x store x color
    // with a 5%-of-average HAVING threshold over a reused CTE. The
    // spec's zip-equality customer/store match becomes a state match
    // (derived zips are 5-digit moduli that almost never collide).
    "qy7_tpcds_q24" -> ((s, dir) => sql(s, dir,
      """WITH ssales AS (
        |  SELECT c_name, s_store_name, i_color,
        |    sum(ss_ext_sales_price) AS netpaid
        |  FROM store_sales, store_returns, store, item, customer,
        |    customer_address
        |  WHERE ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |    AND ss_customer_sk = c_custkey
        |    AND ss_store_sk = s_store_sk
        |    AND ss_item_sk = i_item_sk
        |    AND c_custkey = ca_address_sk
        |    AND s_state = ca_state
        |  GROUP BY c_name, s_store_name, i_color)
        |SELECT c_name, s_store_name, round(sum(netpaid), 2) AS paid
        |FROM ssales
        |WHERE i_color = 'red'
        |GROUP BY c_name, s_store_name
        |HAVING sum(netpaid) > (SELECT 0.05 * avg(netpaid) FROM ssales)
        |ORDER BY c_name, s_store_name
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q44: best/worst items by average store-4 net profit —
    // twin rank() windows (asc/desc) over one HAVING-thresholded
    // aggregate, zipped on rank and resolved to product names. Ranks
    // order by the rounded average with an item tiebreaker (doubles
    // rank-tie rule).
    "qy8_tpcds_q44" -> ((s, dir) => sql(s, dir,
      """WITH v AS (
        |  SELECT ss_item_sk AS item_sk,
        |    round(avg(ss_net_profit) + 5e-7, 2) AS rank_col
        |  FROM store_sales
        |  WHERE ss_store_sk = 4
        |  GROUP BY ss_item_sk
        |  HAVING avg(ss_net_profit) > 0.9 * (
        |    SELECT avg(ss_net_profit)
        |    FROM store_sales
        |    WHERE ss_store_sk = 4 AND ss_addr_sk IS NULL)),
        |asceding AS (
        |  SELECT item_sk,
        |    rank() OVER (ORDER BY rank_col ASC, item_sk ASC) AS rnk
        |  FROM v),
        |descending AS (
        |  SELECT item_sk,
        |    rank() OVER (ORDER BY rank_col DESC, item_sk DESC) AS rnk
        |  FROM v)
        |SELECT a.rnk AS rnk, i1.i_product_name AS best_performing,
        |  i2.i_product_name AS worst_performing
        |FROM asceding a, descending d, item i1, item i2
        |WHERE a.rnk = d.rnk AND a.rnk < 11
        |  AND i1.i_item_sk = a.item_sk AND i2.i_item_sk = d.item_sk
        |ORDER BY a.rnk""".stripMargin)),

    // TPC-DS Q54: "my customers" — cross-channel (catalog OR web)
    // buyers of a category in one month, then their store revenue over
    // the following quarter bucketed into $50 segments. The
    // month-offset bounds are scalar subqueries over date_dim; the
    // spec's county store match is a state match here.
    "qy9_tpcds_q54" -> ((s, dir) => sql(s, dir,
      """WITH my_customers AS (
        |  SELECT DISTINCT c_custkey
        |  FROM (SELECT cs_sold_date_sk AS sold_date_sk,
        |          cs_bill_customer_sk AS customer_sk,
        |          cs_item_sk AS item_sk
        |        FROM catalog_sales
        |        UNION ALL
        |        SELECT ws_sold_date_sk, ws_bill_customer_sk, ws_item_sk
        |        FROM web_sales) sales, item, date_dim, customer
        |  WHERE sold_date_sk = d_date_sk AND item_sk = i_item_sk
        |    AND i_category = 'PROMO' AND i_class = 'PROMO#1'
        |    AND d_moy = 3 AND d_year = 1998
        |    AND customer_sk = c_custkey),
        |my_revenue AS (
        |  SELECT c_custkey AS customer_sk,
        |    sum(ss_ext_sales_price) AS revenue
        |  FROM my_customers, store_sales, customer_address, store,
        |    date_dim
        |  WHERE c_custkey = ss_customer_sk
        |    AND ca_address_sk = c_custkey
        |    AND ca_state = s_state
        |    AND ss_sold_date_sk = d_date_sk
        |    AND d_month_seq BETWEEN (SELECT DISTINCT d_month_seq + 1
        |        FROM date_dim WHERE d_year = 1998 AND d_moy = 3)
        |      AND (SELECT DISTINCT d_month_seq + 3
        |        FROM date_dim WHERE d_year = 1998 AND d_moy = 3)
        |  GROUP BY c_custkey),
        |segments AS (
        |  SELECT cast(floor(round(revenue + 5e-7, 2) / 50) as bigint)
        |    AS segment
        |  FROM my_revenue)
        |SELECT segment, cast(count(*) as bigint) AS num_customers,
        |  segment * 50 AS segment_base
        |FROM segments
        |GROUP BY segment
        |ORDER BY segment, num_customers
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q58: items whose store-only, catalog, and web revenue
    // for a period sit within 10% of each other (6-way BETWEEN band).
    // store_sales is a superset of both channel slices here, so the
    // store-only channel is the per-item residue ss - cs - ws; the
    // period is the spec's nested date subquery chain widened to the
    // 1997 months (a single week is empty at gate scale).
    "qz0_tpcds_q58" -> ((s, dir) => sql(s, dir,
      """WITH ss_items AS (
        |  SELECT i_item_id AS item_id,
        |    sum(ss_ext_sales_price) AS ss_rev
        |  FROM store_sales, item, date_dim
        |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        |    AND d_date IN (SELECT d_date FROM date_dim
        |      WHERE d_month_seq IN (SELECT DISTINCT d_month_seq
        |        FROM date_dim WHERE d_year = 1997))
        |  GROUP BY i_item_id),
        |cs_items AS (
        |  SELECT i_item_id AS item_id,
        |    sum(cs_ext_sales_price) AS cs_rev
        |  FROM catalog_sales, item, date_dim
        |  WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
        |    AND d_date IN (SELECT d_date FROM date_dim
        |      WHERE d_month_seq IN (SELECT DISTINCT d_month_seq
        |        FROM date_dim WHERE d_year = 1997))
        |  GROUP BY i_item_id),
        |ws_items AS (
        |  SELECT i_item_id AS item_id,
        |    sum(ws_ext_sales_price) AS ws_rev
        |  FROM web_sales, item, date_dim
        |  WHERE ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
        |    AND d_date IN (SELECT d_date FROM date_dim
        |      WHERE d_month_seq IN (SELECT DISTINCT d_month_seq
        |        FROM date_dim WHERE d_year = 1997))
        |  GROUP BY i_item_id)
        |SELECT ssi.item_id,
        |  round(ss_rev - cs_rev - ws_rev + 5e-7, 2) AS so_item_rev,
        |  round(cs_rev, 2) AS cs_item_rev,
        |  round(ws_rev, 2) AS ws_item_rev,
        |  round(ss_rev / 3 + 5e-7, 2) AS average
        |FROM ss_items ssi, cs_items csi, ws_items wsi
        |WHERE ssi.item_id = csi.item_id AND ssi.item_id = wsi.item_id
        |  AND ss_rev - cs_rev - ws_rev BETWEEN 0.9 * cs_rev
        |    AND 1.1 * cs_rev
        |  AND ss_rev - cs_rev - ws_rev BETWEEN 0.9 * ws_rev
        |    AND 1.1 * ws_rev
        |  AND cs_rev BETWEEN 0.9 * (ss_rev - cs_rev - ws_rev)
        |    AND 1.1 * (ss_rev - cs_rev - ws_rev)
        |  AND cs_rev BETWEEN 0.9 * ws_rev AND 1.1 * ws_rev
        |  AND ws_rev BETWEEN 0.9 * (ss_rev - cs_rev - ws_rev)
        |    AND 1.1 * (ss_rev - cs_rev - ws_rev)
        |  AND ws_rev BETWEEN 0.9 * cs_rev AND 1.1 * cs_rev
        |ORDER BY ssi.item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q77: per-channel profit-and-loss ROLLUP — each channel's
    // sales/profit CTE (left-)joined to its returns CTE on the channel
    // entity, then a rollup over channel and entity id. Return losses
    // model the same 10% margin as net profit.
    "qz1_tpcds_q77" -> ((s, dir) => sql(s, dir,
      """WITH ss AS (
        |  SELECT ss_store_sk AS store_sk,
        |    sum(ss_ext_sales_price) AS sales,
        |    sum(ss_net_profit) AS profit
        |  FROM store_sales, date_dim
        |  WHERE ss_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |  GROUP BY ss_store_sk),
        |sr AS (
        |  SELECT sr_store_sk AS store_sk,
        |    sum(sr_return_amt) AS returns_amt,
        |    sum(sr_return_amt) * 0.1 AS profit_loss
        |  FROM store_returns, date_dim
        |  WHERE sr_returned_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |  GROUP BY sr_store_sk),
        |cs AS (
        |  SELECT cs_call_center_sk AS cc_sk,
        |    sum(cs_ext_sales_price) AS sales,
        |    sum(cs_net_profit) AS profit
        |  FROM catalog_sales, date_dim
        |  WHERE cs_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |  GROUP BY cs_call_center_sk),
        |cr AS (
        |  SELECT cr_call_center_sk AS cc_sk,
        |    sum(cr_return_amount) AS returns_amt,
        |    sum(cr_return_amount) * 0.1 AS profit_loss
        |  FROM catalog_returns, date_dim
        |  WHERE cr_returned_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |  GROUP BY cr_call_center_sk),
        |ws AS (
        |  SELECT ws_web_site_sk AS site_sk,
        |    sum(ws_ext_sales_price) AS sales,
        |    sum(ws_net_profit) AS profit
        |  FROM web_sales, date_dim
        |  WHERE ws_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |  GROUP BY ws_web_site_sk),
        |wr AS (
        |  SELECT wr_web_site_sk AS site_sk,
        |    sum(wr_return_amt) AS returns_amt,
        |    sum(wr_return_amt) * 0.1 AS profit_loss
        |  FROM web_returns, date_dim
        |  WHERE wr_returned_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |  GROUP BY wr_web_site_sk)
        |SELECT channel, id,
        |  round(sum(sales), 2) AS sales,
        |  round(sum(returns_amt) + 5e-7, 2) AS returns_amt,
        |  round(sum(profit) + 5e-7, 2) AS profit
        |FROM (
        |  SELECT 'store channel' AS channel, ss.store_sk AS id, sales,
        |    coalesce(returns_amt, 0) AS returns_amt,
        |    profit - coalesce(profit_loss, 0) AS profit
        |  FROM ss LEFT JOIN sr ON ss.store_sk = sr.store_sk
        |  UNION ALL
        |  SELECT 'catalog channel', cs.cc_sk, sales, returns_amt,
        |    profit - profit_loss
        |  FROM cs JOIN cr ON cs.cc_sk = cr.cc_sk
        |  UNION ALL
        |  SELECT 'web channel', ws.site_sk, sales,
        |    coalesce(returns_amt, 0),
        |    profit - coalesce(profit_loss, 0)
        |  FROM ws LEFT JOIN wr ON ws.site_sk = wr.site_sk) x
        |GROUP BY ROLLUP(channel, id)
        |ORDER BY channel NULLS FIRST, id NULLS FIRST""".stripMargin)),

    // TPC-DS Q80: promoted high-price items' sales/returns/profit per
    // channel entity with returns left-joined at the line level
    // (ticket/order + item), rolled up over channel and id.
    "qz2_tpcds_q80" -> ((s, dir) => sql(s, dir,
      """WITH ssr AS (
        |  SELECT concat('store', cast(s_store_sk as string)) AS id,
        |    sum(ss_ext_sales_price) AS sales,
        |    sum(coalesce(sr_return_amt, 0)) AS returns_amt,
        |    sum(ss_net_profit - coalesce(sr_return_amt, 0) * 0.1)
        |      AS profit
        |  FROM store_sales LEFT OUTER JOIN store_returns
        |      ON ss_ticket_number = sr_ticket_number
        |      AND ss_item_sk = sr_item_sk,
        |    date_dim, store, item, promotion
        |  WHERE ss_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |    AND ss_store_sk = s_store_sk
        |    AND ss_item_sk = i_item_sk AND i_current_price > 950
        |    AND ss_promo_sk = p_promo_sk AND p_channel_event = 'N'
        |  GROUP BY s_store_sk),
        |csr AS (
        |  SELECT concat('call_center', cast(cc_call_center_sk as string))
        |    AS id,
        |    sum(cs_ext_sales_price) AS sales,
        |    sum(coalesce(cr_return_amount, 0)) AS returns_amt,
        |    sum(cs_net_profit - coalesce(cr_return_amount, 0) * 0.1)
        |      AS profit
        |  FROM catalog_sales LEFT OUTER JOIN catalog_returns
        |      ON cs_order_number = cr_order_number
        |      AND cs_item_sk = cr_item_sk,
        |    date_dim, call_center, item, promotion
        |  WHERE cs_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |    AND cs_call_center_sk = cc_call_center_sk
        |    AND cs_item_sk = i_item_sk AND i_current_price > 950
        |    AND cs_promo_sk = p_promo_sk AND p_channel_event = 'N'
        |  GROUP BY cc_call_center_sk),
        |wsr AS (
        |  SELECT concat('web_site', cast(ws_web_site_sk as string))
        |    AS id,
        |    sum(ws_ext_sales_price) AS sales,
        |    sum(coalesce(wr_return_amt, 0)) AS returns_amt,
        |    sum(ws_net_profit - coalesce(wr_return_amt, 0) * 0.1)
        |      AS profit
        |  FROM web_sales LEFT OUTER JOIN web_returns
        |      ON ws_order_number = wr_order_number
        |      AND ws_item_sk = wr_item_sk,
        |    date_dim, item, promotion
        |  WHERE ws_sold_date_sk = d_date_sk
        |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
        |    AND ws_item_sk = i_item_sk AND i_current_price > 950
        |    AND ws_promo_sk = p_promo_sk AND p_channel_event = 'N'
        |  GROUP BY ws_web_site_sk)
        |SELECT channel, id,
        |  round(sum(sales), 2) AS sales,
        |  round(sum(returns_amt) + 5e-7, 2) AS returns_amt,
        |  round(sum(profit) + 5e-7, 2) AS profit
        |FROM (SELECT 'store channel' AS channel, id, sales,
        |        returns_amt, profit
        |      FROM ssr
        |      UNION ALL
        |      SELECT 'catalog channel', id, sales, returns_amt, profit
        |      FROM csr
        |      UNION ALL
        |      SELECT 'web channel', id, sales, returns_amt, profit
        |      FROM wsr) x
        |GROUP BY ROLLUP(channel, id)
        |ORDER BY channel NULLS FIRST, id NULLS FIRST
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q83: per-item return quantities across the three return
    // channels for three sampled weeks (nested date -> week_seq ->
    // dates subquery chain), with each channel's share of the 3-way
    // average.
    "qz3_tpcds_q83" -> ((s, dir) => sql(s, dir,
      """WITH sr_items AS (
        |  SELECT i_item_id AS item_id,
        |    sum(sr_return_quantity) AS sr_item_qty
        |  FROM store_returns, item, date_dim
        |  WHERE sr_item_sk = i_item_sk
        |    AND d_date IN (SELECT d_date FROM date_dim
        |      WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
        |        WHERE d_date IN (DATE '1997-03-02', DATE '1997-06-15',
        |          DATE '1997-09-10')))
        |    AND sr_returned_date_sk = d_date_sk
        |  GROUP BY i_item_id),
        |cr_items AS (
        |  SELECT i_item_id AS item_id,
        |    sum(cr_return_quantity) AS cr_item_qty
        |  FROM catalog_returns, item, date_dim
        |  WHERE cr_item_sk = i_item_sk
        |    AND d_date IN (SELECT d_date FROM date_dim
        |      WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
        |        WHERE d_date IN (DATE '1997-03-02', DATE '1997-06-15',
        |          DATE '1997-09-10')))
        |    AND cr_returned_date_sk = d_date_sk
        |  GROUP BY i_item_id),
        |wr_items AS (
        |  SELECT i_item_id AS item_id,
        |    sum(wr_return_quantity) AS wr_item_qty
        |  FROM web_returns, item, date_dim
        |  WHERE wr_item_sk = i_item_sk
        |    AND d_date IN (SELECT d_date FROM date_dim
        |      WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
        |        WHERE d_date IN (DATE '1997-03-02', DATE '1997-06-15',
        |          DATE '1997-09-10')))
        |    AND wr_returned_date_sk = d_date_sk
        |  GROUP BY i_item_id)
        |SELECT sri.item_id,
        |  cast(sr_item_qty as bigint) AS sr_item_qty,
        |  round(sr_item_qty /
        |    ((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0) * 100
        |    + 5e-7, 2) AS sr_dev,
        |  cast(cr_item_qty as bigint) AS cr_item_qty,
        |  round(cr_item_qty /
        |    ((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0) * 100
        |    + 5e-7, 2) AS cr_dev,
        |  cast(wr_item_qty as bigint) AS wr_item_qty,
        |  round(wr_item_qty /
        |    ((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0) * 100
        |    + 5e-7, 2) AS wr_dev,
        |  round((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0
        |    + 5e-7, 2) AS average
        |FROM sr_items sri, cr_items cri, wr_items wri
        |WHERE sri.item_id = cri.item_id AND sri.item_id = wri.item_id
        |ORDER BY sri.item_id
        |LIMIT 100""".stripMargin)),

    // TPC-DS Q84: customers in one city within an income-band window,
    // joined through household demographics to the income_band dim and
    // fanned out by their store returns.
    "qz4_tpcds_q84" -> ((s, dir) => sql(s, dir,
      """SELECT c.c_custkey AS customer_sk, c.c_name AS customername
        |FROM customer c, customer_address, customer_demographics,
        |  household_demographics, income_band, store_returns
        |WHERE ca_city = 'City5'
        |  AND c.c_custkey = ca_address_sk
        |  AND ib_lower_bound >= 15000 AND ib_upper_bound <= 65000
        |  AND ib_income_band_sk = hd_income_band_sk
        |  AND hd_demo_sk = c.c_custkey
        |  AND cd_demo_sk = c.c_custkey
        |  AND sr_customer_sk = cd_demo_sk
        |ORDER BY customer_sk
        |LIMIT 100""".stripMargin))
  )

  override def oracles: Map[String, String] = Map(
    "qo0_tpcds_q3" ->
      s"""WITH $dsCte
         |SELECT dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
         |  round(sum(ss_ext_sales_price), 2) sum_agg
         |FROM date_dim dt, store_sales, item
         |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
         |  AND store_sales.ss_item_sk = item.i_item_sk
         |  AND item.i_manufact_id = 128
         |  AND dt.d_moy = 11
         |GROUP BY dt.d_year, item.i_brand_id, item.i_brand
         |ORDER BY dt.d_year, sum_agg DESC, brand_id
         |LIMIT 100""".stripMargin,

    "qo1_tpcds_q7" ->
      s"""WITH $dsCte
         |SELECT i_item_id,
         |  round(avg(ss_quantity) + 5e-7, 2) agg1,
         |  round(avg(ss_list_price) + 5e-7, 2) agg2,
         |  round(avg(ss_coupon_amt) + 5e-7, 2) agg3,
         |  round(avg(ss_sales_price) + 5e-7, 2) agg4
         |FROM store_sales, customer_demographics, date_dim, item, promotion
         |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |  AND ss_cdemo_sk = cd_demo_sk AND ss_promo_sk = p_promo_sk
         |  AND cd_gender = 'M' AND cd_marital_status = 'S'
         |  AND cd_education_status = 'College'
         |  AND (p_channel_email = 'N' OR p_channel_event = 'N')
         |  AND d_year = 1998
         |GROUP BY i_item_id
         |ORDER BY i_item_id
         |LIMIT 100""".stripMargin,

    "qo2_tpcds_q27" ->
      s"""WITH $dsCte
         |SELECT i_item_id, s_state,
         |  CAST(grouping(s_state) AS BIGINT) g_state,
         |  round(avg(ss_quantity) + 5e-7, 2) agg1,
         |  round(avg(ss_list_price) + 5e-7, 2) agg2,
         |  round(avg(ss_coupon_amt) + 5e-7, 2) agg3,
         |  round(avg(ss_sales_price) + 5e-7, 2) agg4
         |FROM store_sales, customer_demographics, date_dim, store, item
         |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |  AND ss_store_sk = s_store_sk AND ss_cdemo_sk = cd_demo_sk
         |  AND cd_gender = 'F' AND cd_marital_status = 'M'
         |  AND cd_education_status = 'Advanced Degree'
         |  AND d_year = 1999
         |  AND s_state IN ('TN', 'CA', 'TX')
         |GROUP BY ROLLUP(i_item_id, s_state)
         |ORDER BY i_item_id NULLS FIRST, s_state NULLS FIRST
         |LIMIT 100""".stripMargin,

    "qo3_tpcds_q42" ->
      s"""WITH $dsCte
         |SELECT dt.d_year, item.i_category_id, item.i_category,
         |  round(sum(ss_ext_sales_price), 2) sum_agg
         |FROM date_dim dt, store_sales, item
         |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
         |  AND store_sales.ss_item_sk = item.i_item_sk
         |  AND item.i_manager_id BETWEEN 1 AND 25
         |  AND dt.d_moy = 11 AND dt.d_year = 1998
         |GROUP BY dt.d_year, item.i_category_id, item.i_category
         |ORDER BY sum_agg DESC, dt.d_year, item.i_category_id,
         |  item.i_category
         |LIMIT 100""".stripMargin,

    "qo4_tpcds_q52" ->
      s"""WITH $dsCte
         |SELECT dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
         |  round(sum(ss_ext_sales_price), 2) ext_price
         |FROM date_dim dt, store_sales, item
         |WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
         |  AND store_sales.ss_item_sk = item.i_item_sk
         |  AND item.i_manager_id BETWEEN 1 AND 25
         |  AND dt.d_moy = 11 AND dt.d_year = 1999
         |GROUP BY dt.d_year, item.i_brand_id, item.i_brand
         |ORDER BY dt.d_year, ext_price DESC, brand_id
         |LIMIT 100""".stripMargin,

    "qo5_tpcds_q55" ->
      s"""WITH $dsCte
         |SELECT i_brand_id brand_id, i_brand brand,
         |  round(sum(ss_ext_sales_price), 2) ext_price
         |FROM date_dim, store_sales, item
         |WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
         |  AND i_manager_id BETWEEN 26 AND 50
         |  AND d_moy = 11 AND d_year = 1999
         |GROUP BY i_brand_id, i_brand
         |ORDER BY ext_price DESC, brand_id
         |LIMIT 100""".stripMargin,

    "qo6_tpcds_q98" ->
      s"""WITH $dsCte
         |SELECT i_item_id, i_category, i_class, i_current_price,
         |  round(sum(ss_ext_sales_price), 2) AS itemrevenue,
         |  round(sum(ss_ext_sales_price) * 100.0 /
         |    sum(sum(ss_ext_sales_price)) OVER (PARTITION BY i_class), 4)
         |    AS revenueratio
         |FROM store_sales, item, date_dim
         |WHERE ss_item_sk = i_item_sk
         |  AND i_category IN ('STANDARD', 'SMALL', 'MEDIUM')
         |  AND ss_sold_date_sk = d_date_sk
         |  AND d_date BETWEEN DATE '1999-02-22'
         |    AND (DATE '1999-02-22' + INTERVAL 30 DAY)
         |GROUP BY i_item_id, i_class, i_category, i_current_price
         |ORDER BY i_category, i_class, i_item_id
         |LIMIT 100""".stripMargin,

    "qp0_tpcds_q19" ->
      s"""WITH $dsCte
         |SELECT i_brand_id brand_id, i_brand brand, i_manufact_id,
         |  round(sum(ss_ext_sales_price), 2) ext_price
         |FROM date_dim, store_sales, item, customer, customer_address,
         |  store
         |WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
         |  AND i_manager_id BETWEEN 1 AND 30
         |  AND d_moy = 11 AND d_year = 1998
         |  AND ss_customer_sk = c_custkey
         |  AND c_custkey = ca_address_sk
         |  AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
         |  AND ss_store_sk = s_store_sk
         |GROUP BY i_brand_id, i_brand, i_manufact_id
         |ORDER BY ext_price DESC, brand_id, i_manufact_id
         |LIMIT 100""".stripMargin,

    "qo8_tpcds_q34" ->
      s"""WITH $dsCte
         |SELECT c_name, ss_ticket_number, cast(cnt as bigint) AS cnt
         |FROM (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
         |      FROM store_sales, date_dim, store
         |      WHERE ss_sold_date_sk = d_date_sk
         |        AND ss_store_sk = s_store_sk
         |        AND d_dom BETWEEN 1 AND 3
         |        AND d_year IN (1998, 1999, 2000)
         |        AND s_state IN ('TN', 'CA', 'TX', 'NY', 'WA')
         |      GROUP BY ss_ticket_number, ss_customer_sk
         |      HAVING count(*) BETWEEN 4 AND 10) dn, customer
         |WHERE ss_customer_sk = c_custkey
         |ORDER BY c_name, ss_ticket_number""".stripMargin,

    "qo9_tpcds_q59" ->
      s"""WITH $dsCte,
         |wss AS (
         |  SELECT d_week_seq, ss_store_sk,
         |    round(sum(CASE WHEN d_day_name = 'Sunday'
         |      THEN ss_ext_sales_price ELSE 0 END), 2) AS sun_sales,
         |    round(sum(CASE WHEN d_day_name = 'Monday'
         |      THEN ss_ext_sales_price ELSE 0 END), 2) AS mon_sales,
         |    round(sum(CASE WHEN d_day_name = 'Friday'
         |      THEN ss_ext_sales_price ELSE 0 END), 2) AS fri_sales,
         |    round(sum(CASE WHEN d_day_name = 'Saturday'
         |      THEN ss_ext_sales_price ELSE 0 END), 2) AS sat_sales
         |  FROM store_sales, date_dim
         |  WHERE d_date_sk = ss_sold_date_sk
         |  GROUP BY d_week_seq, ss_store_sk)
         |SELECT y.ss_store_sk AS store_sk,
         |  cast(y.d_week_seq as bigint) AS week1,
         |  y.sun_sales AS sun1, y.mon_sales AS mon1,
         |  y.fri_sales AS fri1, y.sat_sales AS sat1,
         |  x.sun_sales AS sun2, x.mon_sales AS mon2,
         |  x.fri_sales AS fri2, x.sat_sales AS sat2
         |FROM wss y JOIN wss x ON y.ss_store_sk = x.ss_store_sk
         |  AND y.d_week_seq = x.d_week_seq - 52
         |WHERE y.d_week_seq BETWEEN 52 AND 78
         |  AND x.d_week_seq BETWEEN 104 AND 130
         |ORDER BY store_sk, week1""".stripMargin,

    "qr2_tpcds_q88" ->
      s"""WITH $dsCte
         |SELECT * FROM
         | (SELECT CAST(count(*) AS BIGINT) h8_30_to_9
         |  FROM store_sales, household_demographics, time_dim, store
         |  WHERE ss_sold_time_sk = time_dim.t_time_sk
         |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
         |    AND ss_store_sk = s_store_sk
         |    AND time_dim.t_hour = 8 AND time_dim.t_minute >= 30
         |    AND ((household_demographics.hd_dep_count = 2
         |        AND household_demographics.hd_vehicle_count <= 4)
         |      OR (household_demographics.hd_dep_count = 0
         |        AND household_demographics.hd_vehicle_count <= 2)
         |      OR (household_demographics.hd_dep_count = 1
         |        AND household_demographics.hd_vehicle_count <= 3))
         |    AND store.s_store_name = 'Store1') s1,
         | (SELECT CAST(count(*) AS BIGINT) h9_to_9_30
         |  FROM store_sales, household_demographics, time_dim, store
         |  WHERE ss_sold_time_sk = time_dim.t_time_sk
         |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
         |    AND ss_store_sk = s_store_sk
         |    AND time_dim.t_hour = 9 AND time_dim.t_minute < 30
         |    AND ((household_demographics.hd_dep_count = 2
         |        AND household_demographics.hd_vehicle_count <= 4)
         |      OR (household_demographics.hd_dep_count = 0
         |        AND household_demographics.hd_vehicle_count <= 2)
         |      OR (household_demographics.hd_dep_count = 1
         |        AND household_demographics.hd_vehicle_count <= 3))
         |    AND store.s_store_name = 'Store1') s2,
         | (SELECT CAST(count(*) AS BIGINT) h9_30_to_10
         |  FROM store_sales, household_demographics, time_dim, store
         |  WHERE ss_sold_time_sk = time_dim.t_time_sk
         |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
         |    AND ss_store_sk = s_store_sk
         |    AND time_dim.t_hour = 9 AND time_dim.t_minute >= 30
         |    AND ((household_demographics.hd_dep_count = 2
         |        AND household_demographics.hd_vehicle_count <= 4)
         |      OR (household_demographics.hd_dep_count = 0
         |        AND household_demographics.hd_vehicle_count <= 2)
         |      OR (household_demographics.hd_dep_count = 1
         |        AND household_demographics.hd_vehicle_count <= 3))
         |    AND store.s_store_name = 'Store1') s3,
         | (SELECT CAST(count(*) AS BIGINT) h10_to_10_30
         |  FROM store_sales, household_demographics, time_dim, store
         |  WHERE ss_sold_time_sk = time_dim.t_time_sk
         |    AND ss_hdemo_sk = household_demographics.hd_demo_sk
         |    AND ss_store_sk = s_store_sk
         |    AND time_dim.t_hour = 10 AND time_dim.t_minute < 30
         |    AND ((household_demographics.hd_dep_count = 2
         |        AND household_demographics.hd_vehicle_count <= 4)
         |      OR (household_demographics.hd_dep_count = 0
         |        AND household_demographics.hd_vehicle_count <= 2)
         |      OR (household_demographics.hd_dep_count = 1
         |        AND household_demographics.hd_vehicle_count <= 3))
         |    AND store.s_store_name = 'Store1') s4""".stripMargin,

    "qr3_tpcds_q96" ->
      s"""WITH $dsCte
         |SELECT CAST(count(*) AS BIGINT) AS cnt
         |FROM store_sales, household_demographics, time_dim, store
         |WHERE ss_sold_time_sk = time_dim.t_time_sk
         |  AND ss_hdemo_sk = household_demographics.hd_demo_sk
         |  AND ss_store_sk = s_store_sk
         |  AND time_dim.t_hour = 20 AND time_dim.t_minute >= 30
         |  AND household_demographics.hd_dep_count = 7
         |  AND store.s_store_name = 'Store2'""".stripMargin,

    "qq8_tpcds_q1" ->
      s"""WITH $dsCte,
         |customer_total_return AS (
         |  SELECT sr_customer_sk AS ctr_customer_sk,
         |    sr_store_sk AS ctr_store_sk,
         |    round(sum(sr_return_amt) + 5e-7, 2) AS ctr_total_return
         |  FROM store_returns, date_dim
         |  WHERE sr_returned_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY sr_customer_sk, sr_store_sk)
         |SELECT c_name, CAST(ctr1.ctr_store_sk AS BIGINT) AS store_sk,
         |  ctr1.ctr_total_return AS total_return
         |FROM customer_total_return ctr1, store, customer
         |WHERE ctr1.ctr_total_return > (
         |    SELECT avg(ctr_total_return) * 1.2
         |    FROM customer_total_return ctr2
         |    WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
         |  AND s_store_sk = ctr1.ctr_store_sk
         |  AND s_state = 'TN'
         |  AND ctr1.ctr_customer_sk = c_custkey
         |ORDER BY c_name, store_sk, total_return
         |LIMIT 100""".stripMargin,

    "qq9_tpcds_q74" ->
      s"""WITH $dsCte,
         |year_total AS (
         |  SELECT ss_customer_sk AS c_sk, d_year,
         |    round(sum(ss_ext_sales_price), 2) AS total, 's' AS channel
         |  FROM store_sales, date_dim
         |  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |  GROUP BY ss_customer_sk, d_year
         |  UNION ALL
         |  SELECT ws_bill_customer_sk AS c_sk, d_year,
         |    round(sum(ws_ext_sales_price), 2) AS total, 'w' AS channel
         |  FROM web_sales, date_dim
         |  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |  GROUP BY ws_bill_customer_sk, d_year)
         |SELECT CAST(t_s_fy.c_sk AS BIGINT) AS customer
         |FROM year_total t_s_fy, year_total t_s_sy,
         |     year_total t_w_fy, year_total t_w_sy
         |WHERE t_s_fy.c_sk = t_s_sy.c_sk
         |  AND t_s_fy.c_sk = t_w_fy.c_sk
         |  AND t_s_fy.c_sk = t_w_sy.c_sk
         |  AND t_s_fy.channel = 's' AND t_s_fy.d_year = 1998
         |  AND t_s_sy.channel = 's' AND t_s_sy.d_year = 1999
         |  AND t_w_fy.channel = 'w' AND t_w_fy.d_year = 1998
         |  AND t_w_sy.channel = 'w' AND t_w_sy.d_year = 1999
         |  AND t_s_fy.total > 0 AND t_w_fy.total > 0
         |  AND t_w_sy.total / t_w_fy.total > t_s_sy.total / t_s_fy.total
         |ORDER BY customer
         |LIMIT 100""".stripMargin,

    "qq1_tpcds_q6" ->
      s"""WITH $dsCte
         |SELECT a.ca_state AS state, CAST(count(*) AS BIGINT) AS cnt
         |FROM customer_address a, customer c, store_sales s,
         |  date_dim d, item i
         |WHERE a.ca_address_sk = c.c_custkey
         |  AND s.ss_customer_sk = c.c_custkey
         |  AND s.ss_sold_date_sk = d.d_date_sk
         |  AND s.ss_item_sk = i.i_item_sk
         |  AND d.d_year = 1998
         |  AND i.i_current_price > 1.002 * (SELECT avg(j.i_current_price)
         |    FROM item j WHERE j.i_category = i.i_category)
         |GROUP BY a.ca_state
         |HAVING count(*) >= 10
         |ORDER BY cnt, state""".stripMargin,

    "qq2_tpcds_q13" ->
      s"""WITH $dsCte
         |SELECT round(avg(ss_quantity) + 5e-7, 2) AS avg_qty,
         |  round(avg(ss_ext_sales_price) + 5e-7, 2) AS avg_price,
         |  round(sum(ss_ext_sales_price), 2) AS total
         |FROM store_sales, store, customer_demographics, date_dim
         |WHERE s_store_sk = ss_store_sk
         |  AND ss_sold_date_sk = d_date_sk AND d_year = 1998
         |  AND ss_cdemo_sk = cd_demo_sk
         |  AND ((cd_marital_status = 'M'
         |      AND cd_education_status = 'Advanced Degree'
         |      AND ss_ext_sales_price BETWEEN 10000 AND 20000)
         |    OR (cd_marital_status = 'S'
         |      AND cd_education_status = 'College'
         |      AND ss_ext_sales_price BETWEEN 20000 AND 30000)
         |    OR (cd_marital_status = 'D'
         |      AND cd_education_status = 'Primary'
         |      AND ss_ext_sales_price BETWEEN 30000 AND 40000))""".stripMargin,

    "qq3_tpcds_q15" ->
      s"""WITH $dsCte
         |SELECT ca_zip, round(sum(cs_ext_sales_price), 2) AS total
         |FROM catalog_sales, customer, customer_address, date_dim
         |WHERE cs_bill_customer_sk = c_custkey
         |  AND c_custkey = ca_address_sk
         |  AND (substr(ca_zip, 1, 2) IN ('85', '86', '88', '83')
         |    OR ca_state IN ('CA', 'WA')
         |    OR cs_ext_sales_price > 50000)
         |  AND cs_sold_date_sk = d_date_sk
         |  AND d_qoy = 1 AND d_year = 1998
         |GROUP BY ca_zip
         |ORDER BY ca_zip""".stripMargin,

    "qq4_tpcds_q65" ->
      s"""WITH $dsCte,
         |sb AS (
         |  SELECT ss_store_sk, ss_item_sk,
         |    round(sum(ss_sales_price) + 5e-7, 2) AS revenue
         |  FROM store_sales, date_dim
         |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY ss_store_sk, ss_item_sk),
         |sc AS (
         |  SELECT ss_store_sk, avg(revenue) AS ave
         |  FROM sb GROUP BY ss_store_sk)
         |SELECT s_store_name, i_item_id, sb.revenue
         |FROM store, item, sb, sc
         |WHERE sb.ss_store_sk = sc.ss_store_sk
         |  AND sb.revenue <= 0.1 * sc.ave
         |  AND s_store_sk = sb.ss_store_sk
         |  AND i_item_sk = sb.ss_item_sk
         |ORDER BY s_store_name, i_item_id""".stripMargin,

    "qo7_tpcds_channels" ->
      s"""WITH $dsCte,
         |ss AS (
         |  SELECT 'store channel' AS channel, ss_store_sk AS id,
         |    round(sum(ss_ext_sales_price), 2) AS sales,
         |    round(sum(ss_net_profit), 2) AS profit
         |  FROM store_sales, date_dim
         |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY ss_store_sk),
         |ws AS (
         |  SELECT 'web channel' AS channel, ws_web_site_sk AS id,
         |    round(sum(ws_ext_sales_price), 2) AS sales,
         |    round(sum(ws_net_profit), 2) AS profit
         |  FROM web_sales, date_dim
         |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY ws_web_site_sk),
         |cs AS (
         |  SELECT 'catalog channel' AS channel, cs_call_center_sk AS id,
         |    round(sum(cs_ext_sales_price), 2) AS sales,
         |    round(sum(cs_net_profit), 2) AS profit
         |  FROM catalog_sales, date_dim
         |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY cs_call_center_sk)
         |SELECT channel, id, sales, profit
         |FROM (SELECT * FROM ss UNION ALL SELECT * FROM ws
         |      UNION ALL SELECT * FROM cs)
         |ORDER BY channel, id""".stripMargin,

    "qr4_tpcds_q38" ->
      s"""WITH $dsCte
         |SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT DISTINCT c_name, d_date
         |  FROM store_sales, date_dim, customer
         |  WHERE ss_sold_date_sk = d_date_sk
         |    AND ss_customer_sk = c_custkey AND d_year = 1998
         |  INTERSECT
         |  SELECT DISTINCT c_name, d_date
         |  FROM catalog_sales, date_dim, customer
         |  WHERE cs_sold_date_sk = d_date_sk
         |    AND cs_bill_customer_sk = c_custkey AND d_year = 1998
         |  INTERSECT
         |  SELECT DISTINCT c_name, d_date
         |  FROM web_sales, date_dim, customer
         |  WHERE ws_sold_date_sk = d_date_sk
         |    AND ws_bill_customer_sk = c_custkey AND d_year = 1998
         |) hot_cust""".stripMargin,

    "qr5_tpcds_q87" ->
      s"""WITH $dsCte
         |SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
         |  (SELECT DISTINCT c_name, d_date
         |   FROM store_sales, date_dim, customer
         |   WHERE ss_sold_date_sk = d_date_sk
         |     AND ss_customer_sk = c_custkey AND d_year = 1998)
         |  EXCEPT
         |  (SELECT DISTINCT c_name, d_date
         |   FROM catalog_sales, date_dim, customer
         |   WHERE cs_sold_date_sk = d_date_sk
         |     AND cs_bill_customer_sk = c_custkey AND d_year = 1998)
         |  EXCEPT
         |  (SELECT DISTINCT c_name, d_date
         |   FROM web_sales, date_dim, customer
         |   WHERE ws_sold_date_sk = d_date_sk
         |     AND ws_bill_customer_sk = c_custkey AND d_year = 1998)
         |) cool_cust""".stripMargin,

    "qr6_tpcds_q51" ->
      s"""WITH $dsCte,
         |web_v1 AS (
         |  SELECT ws_item_sk item_sk, d_date,
         |    sum(sum(ws_ext_sales_price)) OVER (PARTITION BY ws_item_sk
         |      ORDER BY d_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
         |  FROM web_sales, date_dim
         |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1998
         |    AND ws_item_sk IS NOT NULL
         |  GROUP BY ws_item_sk, d_date),
         |catalog_v1 AS (
         |  SELECT cs_item_sk item_sk, d_date,
         |    sum(sum(cs_ext_sales_price)) OVER (PARTITION BY cs_item_sk
         |      ORDER BY d_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
         |  FROM catalog_sales, date_dim
         |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
         |    AND cs_item_sk IS NOT NULL
         |  GROUP BY cs_item_sk, d_date)
         |SELECT item_sk, d_date,
         |  round(web_cumulative, 2) AS web_cumulative,
         |  round(catalog_cumulative, 2) AS catalog_cumulative
         |FROM (
         |  SELECT item_sk, d_date,
         |    max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      web_cumulative,
         |    max(catalog_sales) OVER (PARTITION BY item_sk ORDER BY d_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      catalog_cumulative
         |  FROM (
         |    SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk
         |        ELSE catalog.item_sk END item_sk,
         |      CASE WHEN web.d_date IS NOT NULL THEN web.d_date
         |        ELSE catalog.d_date END d_date,
         |      web.cume_sales web_sales, catalog.cume_sales catalog_sales
         |    FROM web_v1 web FULL OUTER JOIN catalog_v1 catalog
         |      ON web.item_sk = catalog.item_sk
         |      AND web.d_date = catalog.d_date) x) y
         |WHERE web_cumulative > catalog_cumulative
         |ORDER BY item_sk, d_date
         |LIMIT 100""".stripMargin,

    "qr7_tpcds_q47" ->
      s"""WITH $dsCte,
         |v1 AS (
         |  SELECT i_category, i_brand, s_store_name, d_year, d_moy,
         |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
         |    round(avg(sum(ss_sales_price)) OVER (PARTITION BY i_category,
         |      i_brand, s_store_name, d_year) + 5e-7, 2) avg_monthly_sales,
         |    rank() OVER (PARTITION BY i_category, i_brand, s_store_name
         |      ORDER BY d_year, d_moy) rn
         |  FROM item, store_sales, date_dim, store
         |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
         |    AND ss_store_sk = s_store_sk
         |    AND (d_year = 1998 OR (d_year = 1997 AND d_moy = 12)
         |      OR (d_year = 1999 AND d_moy = 1))
         |  GROUP BY i_category, i_brand, s_store_name, d_year, d_moy)
         |SELECT v1.i_category, v1.i_brand, v1.s_store_name,
         |  CAST(v1.d_year AS BIGINT) AS d_year,
         |  CAST(v1.d_moy AS BIGINT) AS d_moy,
         |  v1.sum_sales, v1.avg_monthly_sales,
         |  v1_lag.sum_sales psum, v1_lead.sum_sales nsum
         |FROM v1, v1 v1_lag, v1 v1_lead
         |WHERE v1.i_category = v1_lag.i_category
         |  AND v1.i_category = v1_lead.i_category
         |  AND v1.i_brand = v1_lag.i_brand
         |  AND v1.i_brand = v1_lead.i_brand
         |  AND v1.s_store_name = v1_lag.s_store_name
         |  AND v1.s_store_name = v1_lead.s_store_name
         |  AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1
         |  AND v1.d_year = 1998
         |  AND v1.avg_monthly_sales > 0
         |  AND abs(v1.sum_sales - v1.avg_monthly_sales)
         |    / v1.avg_monthly_sales > 0.1
         |ORDER BY v1.sum_sales - v1.avg_monthly_sales, v1.i_category,
         |  v1.i_brand, v1.s_store_name, d_moy
         |LIMIT 100""".stripMargin,

    "qr8_tpcds_q67" ->
      s"""WITH $dsCte
         |SELECT i_category, i_class, i_brand, i_item_id,
         |  CAST(d_year AS BIGINT) AS d_year, CAST(d_qoy AS BIGINT) AS d_qoy,
         |  CAST(d_moy AS BIGINT) AS d_moy,
         |  CAST(s_store_sk AS BIGINT) AS s_store_sk,
         |  sumsales, CAST(rk AS BIGINT) AS rk
         |FROM (
         |  SELECT i_category, i_class, i_brand, i_item_id, d_year, d_qoy,
         |    d_moy, s_store_sk, sumsales,
         |    rank() OVER (PARTITION BY i_category
         |      ORDER BY sumsales DESC) rk
         |  FROM (
         |    SELECT i_category, i_class, i_brand, i_item_id, d_year,
         |      d_qoy, d_moy, ss_store_sk AS s_store_sk,
         |      round(sum(coalesce(ss_sales_price * ss_quantity, 0))
         |        + 5e-7, 2) sumsales
         |    FROM store_sales, date_dim, item
         |    WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |      AND d_year = 1998
         |    GROUP BY ROLLUP(i_category, i_class, i_brand, i_item_id,
         |      d_year, d_qoy, d_moy, ss_store_sk)) dw1) dw2
         |WHERE rk <= 10
         |ORDER BY i_category NULLS FIRST, rk, i_class NULLS FIRST,
         |  i_brand NULLS FIRST, i_item_id NULLS FIRST, d_year NULLS FIRST,
         |  d_qoy NULLS FIRST, d_moy NULLS FIRST, s_store_sk NULLS FIRST
         |LIMIT 100""".stripMargin,

    "qr9_tpcds_q95" ->
      s"""WITH $dsCte,
         |ws_wh AS (
         |  SELECT ws1.ws_order_number
         |  FROM web_sales ws1, web_sales ws2
         |  WHERE ws1.ws_order_number = ws2.ws_order_number
         |    AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
         |SELECT CAST(count(DISTINCT ws1.ws_order_number) AS BIGINT)
         |    AS order_count,
         |  round(sum(ws_ext_sales_price), 2) AS total_sales,
         |  round(sum(ws_net_profit) + 5e-7, 2) AS total_net_profit
         |FROM web_sales ws1, date_dim, customer_address
         |WHERE ws1.ws_ship_date_sk = d_date_sk
         |  AND d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
         |  AND ws1.ws_bill_customer_sk = ca_address_sk
         |  AND ca_state = 'CA'
         |  AND ws1.ws_order_number IN (SELECT ws_order_number FROM ws_wh)
         |  AND ws1.ws_order_number IN (SELECT wr_order_number
         |    FROM web_returns, ws_wh
         |    WHERE wr_order_number = ws_wh.ws_order_number)""".stripMargin,

    "qs0_tpcds_q23" ->
      s"""WITH $dsCte,
         |frequent_ss_items AS (
         |  SELECT substr(i_item_id, 1, 30) itemdesc, i_item_sk item_sk,
         |    d_date solddate, count(*) cnt
         |  FROM store_sales, date_dim, item
         |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |    AND d_year IN (1998, 1999)
         |  GROUP BY substr(i_item_id, 1, 30), i_item_sk, d_date
         |  HAVING count(*) > 1),
         |max_store_sales AS (
         |  SELECT max(csales) tpcds_cmax FROM (
         |    SELECT c_custkey, sum(ss_quantity * ss_sales_price) csales
         |    FROM store_sales, customer, date_dim
         |    WHERE ss_customer_sk = c_custkey
         |      AND ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |    GROUP BY c_custkey) a),
         |best_ss_customer AS (
         |  SELECT c_custkey, sum(ss_quantity * ss_sales_price) ssales
         |  FROM store_sales, customer
         |  WHERE ss_customer_sk = c_custkey
         |  GROUP BY c_custkey
         |  HAVING sum(ss_quantity * ss_sales_price) >
         |    0.5 * (SELECT tpcds_cmax FROM max_store_sales))
         |SELECT round(sum(sales), 2) AS total FROM (
         |  SELECT cs_ext_sales_price sales
         |  FROM catalog_sales, date_dim
         |  WHERE d_year = 1998 AND d_moy = 2 AND cs_sold_date_sk = d_date_sk
         |    AND cs_item_sk IN (SELECT item_sk FROM frequent_ss_items)
         |    AND cs_bill_customer_sk IN
         |      (SELECT c_custkey FROM best_ss_customer)
         |  UNION ALL
         |  SELECT ws_ext_sales_price sales
         |  FROM web_sales, date_dim
         |  WHERE d_year = 1998 AND d_moy = 2 AND ws_sold_date_sk = d_date_sk
         |    AND ws_item_sk IN (SELECT item_sk FROM frequent_ss_items)
         |    AND ws_bill_customer_sk IN
         |      (SELECT c_custkey FROM best_ss_customer)) x""".stripMargin,

    "qs1_tpcds_q62" ->
      s"""WITH $dsCte
         |SELECT CAST(ws_web_site_sk AS BIGINT) AS web_site,
         |  CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk <= 30
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d30,
         |  CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 30
         |    AND ws_ship_date_sk - ws_sold_date_sk <= 60
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d60,
         |  CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 60
         |    AND ws_ship_date_sk - ws_sold_date_sk <= 90
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d90,
         |  CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 90
         |    AND ws_ship_date_sk - ws_sold_date_sk <= 120
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d120,
         |  CAST(sum(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 120
         |    THEN 1 ELSE 0 END) AS BIGINT) AS dmore
         |FROM web_sales, date_dim
         |WHERE ws_ship_date_sk = d_date_sk AND d_year = 1998
         |GROUP BY ws_web_site_sk
         |ORDER BY web_site""".stripMargin,

    "qs2_tpcds_q90" ->
      s"""WITH $dsCte
         |SELECT round(CAST(amc AS DOUBLE) / CAST(pmc AS DOUBLE), 4)
         |    AS am_pm_ratio
         |FROM (SELECT count(*) amc
         |      FROM web_sales, household_demographics, time_dim
         |      WHERE ws_sold_time_sk = t_time_sk
         |        AND ws_bill_customer_sk = hd_demo_sk
         |        AND t_hour BETWEEN 8 AND 9
         |        AND hd_dep_count BETWEEN 2 AND 6) at1,
         |     (SELECT count(*) pmc
         |      FROM web_sales, household_demographics, time_dim
         |      WHERE ws_sold_time_sk = t_time_sk
         |        AND ws_bill_customer_sk = hd_demo_sk
         |        AND t_hour BETWEEN 19 AND 20
         |        AND hd_dep_count BETWEEN 2 AND 6) pt""".stripMargin,

    "qs3_tpcds_q31" ->
      s"""WITH $dsCte,
         |ss AS (
         |  SELECT ca_state state, d_qoy qoy,
         |    round(sum(ss_ext_sales_price), 2) AS total
         |  FROM store_sales, date_dim, customer_address
         |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1996
         |    AND ss_customer_sk = ca_address_sk
         |  GROUP BY ca_state, d_qoy),
         |ws AS (
         |  SELECT ca_state state, d_qoy qoy,
         |    round(sum(ws_ext_sales_price), 2) AS total
         |  FROM web_sales, date_dim, customer_address
         |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1996
         |    AND ws_bill_customer_sk = ca_address_sk
         |  GROUP BY ca_state, d_qoy)
         |SELECT ss1.state AS state,
         |  round(ws2.total / ws1.total, 4) AS web_q1_q2_increase,
         |  round(ss2.total / ss1.total, 4) AS store_q1_q2_increase,
         |  round(ws3.total / ws2.total, 4) AS web_q2_q3_increase,
         |  round(ss3.total / ss2.total, 4) AS store_q2_q3_increase
         |FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
         |WHERE ss1.qoy = 1 AND ss2.qoy = 2 AND ss3.qoy = 3
         |  AND ws1.qoy = 1 AND ws2.qoy = 2 AND ws3.qoy = 3
         |  AND ss1.state = ss2.state AND ss2.state = ss3.state
         |  AND ss1.state = ws1.state AND ws1.state = ws2.state
         |  AND ws2.state = ws3.state
         |  AND ws2.total / ws1.total > ss2.total / ss1.total
         |  AND ws3.total / ws2.total > ss3.total / ss2.total
         |ORDER BY state""".stripMargin,

    "qs4_tpcds_q33" ->
      s"""WITH $dsCte,
         |sel AS (SELECT i_manufact_id FROM item
         |  WHERE i_category IN ('ECONOMY', 'PROMO')
         |  GROUP BY i_manufact_id),
         |x AS (
         |  SELECT i_manufact_id,
         |    round(sum(ss_ext_sales_price), 2) AS total_sales
         |  FROM store_sales, date_dim, item
         |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |    AND d_year = 1998 AND d_moy = 5
         |    AND i_manufact_id IN (SELECT i_manufact_id FROM sel)
         |  GROUP BY i_manufact_id
         |  UNION ALL
         |  SELECT i_manufact_id,
         |    round(sum(cs_ext_sales_price), 2) AS total_sales
         |  FROM catalog_sales, date_dim, item
         |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
         |    AND d_year = 1998 AND d_moy = 5
         |    AND i_manufact_id IN (SELECT i_manufact_id FROM sel)
         |  GROUP BY i_manufact_id
         |  UNION ALL
         |  SELECT i_manufact_id,
         |    round(sum(ws_ext_sales_price), 2) AS total_sales
         |  FROM web_sales, date_dim, item
         |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
         |    AND d_year = 1998 AND d_moy = 5
         |    AND i_manufact_id IN (SELECT i_manufact_id FROM sel)
         |  GROUP BY i_manufact_id)
         |SELECT CAST(i_manufact_id AS BIGINT) AS i_manufact_id,
         |  round(sum(total_sales), 2) AS total_sales
         |FROM x GROUP BY i_manufact_id
         |ORDER BY total_sales DESC, i_manufact_id
         |LIMIT 100""".stripMargin,

    "qs5_tpcds_q25" ->
      s"""WITH $dsCte
         |SELECT i_item_id, s_store_id, s_store_name,
         |  round(sum(ss_net_profit) + 5e-7, 2) AS store_profit,
         |  round(sum(sr_return_amt) + 5e-7, 2) AS return_loss,
         |  round(sum(cs_net_profit) + 5e-7, 2) AS catalog_profit
         |FROM store_sales, store_returns, catalog_sales,
         |  date_dim d1, date_dim d2, date_dim d3, store, item
         |WHERE d1.d_moy = 4 AND d1.d_year = 1998
         |  AND d1.d_date_sk = ss_sold_date_sk
         |  AND i_item_sk = ss_item_sk
         |  AND s_store_sk = ss_store_sk
         |  AND ss_customer_sk = sr_customer_sk
         |  AND ss_item_sk = sr_item_sk
         |  AND ss_ticket_number = sr_ticket_number
         |  AND sr_returned_date_sk = d2.d_date_sk
         |  AND d2.d_moy BETWEEN 4 AND 10 AND d2.d_year = 1998
         |  AND sr_customer_sk = cs_bill_customer_sk
         |  AND sr_item_sk = cs_item_sk
         |  AND cs_sold_date_sk = d3.d_date_sk
         |  AND d3.d_moy BETWEEN 4 AND 10 AND d3.d_year = 1998
         |GROUP BY i_item_id, s_store_id, s_store_name
         |ORDER BY i_item_id, s_store_id, s_store_name""".stripMargin,

    "qs6_tpcds_q85" ->
      s"""WITH $dsCte
         |SELECT cd_marital_status,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  round(avg(ws_quantity) + 5e-7, 2) AS avg_quantity,
         |  round(avg(wr_return_amt) + 5e-7, 2) AS avg_refund
         |FROM web_sales, web_returns, customer_demographics
         |WHERE ws_order_number = wr_order_number
         |  AND ws_item_sk = wr_item_sk
         |  AND wr_refunded_customer_sk = cd_demo_sk
         |  AND ((cd_marital_status = 'M'
         |      AND cd_education_status = 'Advanced Degree'
         |      AND ws_sales_price BETWEEN 100 AND 150)
         |    OR (cd_marital_status = 'S'
         |      AND cd_education_status = 'College'
         |      AND ws_sales_price BETWEEN 50 AND 100)
         |    OR (cd_marital_status = 'D'
         |      AND cd_education_status = 'Primary'
         |      AND ws_sales_price BETWEEN 150 AND 200))
         |GROUP BY cd_marital_status
         |ORDER BY cd_marital_status""".stripMargin,

    "qs7_tpcds_q79" ->
      s"""WITH $dsCte
         |SELECT c_name, ss_ticket_number,
         |  round(amt + 5e-7, 2) AS amt,
         |  round(profit + 5e-7, 2) AS profit
         |FROM (SELECT ss_ticket_number, ss_customer_sk,
         |        sum(ss_coupon_amt) amt, sum(ss_net_profit) profit
         |      FROM store_sales, date_dim, store, household_demographics
         |      WHERE ss_sold_date_sk = d_date_sk
         |        AND ss_store_sk = s_store_sk
         |        AND ss_hdemo_sk = hd_demo_sk
         |        AND (hd_dep_count = 6 OR hd_vehicle_count > 2)
         |        AND d_dom BETWEEN 1 AND 2 AND d_year = 1998
         |      GROUP BY ss_ticket_number, ss_customer_sk) ms, customer
         |WHERE ss_customer_sk = c_custkey
         |ORDER BY c_name, ss_ticket_number
         |LIMIT 100""".stripMargin,

    "qs8_tpcds_q94" ->
      s"""WITH $dsCte
         |SELECT CAST(count(DISTINCT ws1.ws_order_number) AS BIGINT)
         |    AS order_count,
         |  round(sum(ws_ext_sales_price), 2) AS total_sales,
         |  round(sum(ws_net_profit) + 5e-7, 2) AS total_net_profit
         |FROM web_sales ws1, date_dim, customer_address
         |WHERE ws1.ws_ship_date_sk = d_date_sk
         |  AND d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
         |  AND ws1.ws_bill_customer_sk = ca_address_sk
         |  AND ca_state = 'TX'
         |  AND EXISTS (SELECT * FROM web_sales ws2
         |    WHERE ws1.ws_order_number = ws2.ws_order_number
         |      AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
         |  AND NOT EXISTS (SELECT * FROM web_returns wr1
         |    WHERE ws1.ws_order_number = wr1.wr_order_number)""".stripMargin,

    "qs9_tpcds_q17" ->
      s"""WITH $dsCte
         |SELECT i_item_id, s_state,
         |  CAST(count(ss_quantity) AS BIGINT) AS store_qty_count,
         |  round(avg(ss_quantity) + 5e-7, 2) AS store_qty_avg,
         |  round(stddev_samp(ss_quantity) + 5e-7, 2) AS store_qty_stdev,
         |  CAST(count(sr_return_quantity) AS BIGINT) AS return_qty_count,
         |  round(avg(sr_return_quantity) + 5e-7, 2) AS return_qty_avg,
         |  CAST(count(cs_quantity) AS BIGINT) AS catalog_qty_count,
         |  round(avg(cs_quantity) + 5e-7, 2) AS catalog_qty_avg
         |FROM store_sales, store_returns, catalog_sales,
         |  date_dim d1, date_dim d2, date_dim d3, store, item
         |WHERE d1.d_qoy = 1 AND d1.d_year = 1998
         |  AND d1.d_date_sk = ss_sold_date_sk
         |  AND i_item_sk = ss_item_sk
         |  AND s_store_sk = ss_store_sk
         |  AND ss_customer_sk = sr_customer_sk
         |  AND ss_item_sk = sr_item_sk
         |  AND ss_ticket_number = sr_ticket_number
         |  AND sr_returned_date_sk = d2.d_date_sk
         |  AND d2.d_qoy BETWEEN 1 AND 3 AND d2.d_year = 1998
         |  AND sr_customer_sk = cs_bill_customer_sk
         |  AND sr_item_sk = cs_item_sk
         |  AND cs_sold_date_sk = d3.d_date_sk
         |  AND d3.d_qoy BETWEEN 1 AND 3 AND d3.d_year = 1998
         |GROUP BY i_item_id, s_state
         |ORDER BY i_item_id, s_state""".stripMargin,

    "qt0_tpcds_q5" ->
      s"""WITH $dsCte,
         |ssr AS (
         |  SELECT 'store channel' AS channel,
         |    concat('store', CAST(store_sk AS VARCHAR)) AS id,
         |    round(sum(sales_price), 2) AS sales,
         |    round(sum(return_amt) + 5e-7, 2) AS returns_amt
         |  FROM (SELECT ss_store_sk AS store_sk,
         |          ss_sold_date_sk AS date_sk,
         |          ss_ext_sales_price AS sales_price,
         |          CAST(0 AS DOUBLE) AS return_amt
         |        FROM store_sales
         |        UNION ALL
         |        SELECT sr_store_sk, sr_returned_date_sk,
         |          CAST(0 AS DOUBLE), sr_return_amt
         |        FROM store_returns) t, date_dim
         |  WHERE date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY store_sk),
         |csr AS (
         |  SELECT 'catalog channel' AS channel,
         |    concat('cc', CAST(cc_sk AS VARCHAR)) AS id,
         |    round(sum(sales_price), 2) AS sales,
         |    round(sum(return_amt) + 5e-7, 2) AS returns_amt
         |  FROM (SELECT cs_call_center_sk AS cc_sk,
         |          cs_sold_date_sk AS date_sk,
         |          cs_ext_sales_price AS sales_price,
         |          CAST(0 AS DOUBLE) AS return_amt
         |        FROM catalog_sales
         |        UNION ALL
         |        SELECT cr_call_center_sk, cr_returned_date_sk,
         |          CAST(0 AS DOUBLE), cr_return_amount
         |        FROM catalog_returns) t, date_dim
         |  WHERE date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY cc_sk)
         |SELECT channel, id,
         |  round(sum(sales), 2) AS sales,
         |  round(sum(returns_amt), 2) AS returns_amt
         |FROM (SELECT * FROM ssr UNION ALL SELECT * FROM csr) x
         |GROUP BY ROLLUP(channel, id)
         |ORDER BY channel NULLS FIRST, id NULLS FIRST""".stripMargin,

    "qt1_tpcds_q35" ->
      s"""WITH $dsCte
         |SELECT ca_state, cd_gender, cd_marital_status,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(min(hd_dep_count) AS BIGINT) AS min_dep,
         |  CAST(max(hd_dep_count) AS BIGINT) AS max_dep,
         |  round(avg(hd_dep_count) + 5e-7, 2) AS avg_dep
         |FROM customer c, customer_address ca, customer_demographics,
         |  household_demographics
         |WHERE c.c_custkey = ca.ca_address_sk
         |  AND cd_demo_sk = c.c_custkey
         |  AND hd_demo_sk = c.c_custkey
         |  AND EXISTS (SELECT * FROM store_sales, date_dim
         |    WHERE c.c_custkey = ss_customer_sk
         |      AND ss_sold_date_sk = d_date_sk
         |      AND d_year = 1998 AND d_qoy < 4)
         |  AND (EXISTS (SELECT * FROM web_sales, date_dim
         |      WHERE c.c_custkey = ws_bill_customer_sk
         |        AND ws_sold_date_sk = d_date_sk
         |        AND d_year = 1998 AND d_qoy < 4)
         |    OR EXISTS (SELECT * FROM catalog_sales, date_dim
         |      WHERE c.c_custkey = cs_bill_customer_sk
         |        AND cs_sold_date_sk = d_date_sk
         |        AND d_year = 1998 AND d_qoy < 4))
         |GROUP BY ca_state, cd_gender, cd_marital_status
         |ORDER BY ca_state, cd_gender, cd_marital_status""".stripMargin,

    "qt2_tpcds_q93" ->
      s"""WITH $dsCte
         |SELECT CAST(ss_item_sk AS BIGINT) AS item_sk,
         |  round(sum(act_sales) + 5e-7, 2) AS sumsales
         |FROM (SELECT ss_item_sk, ss_ticket_number,
         |        CASE WHEN sr_return_quantity IS NOT NULL
         |          THEN (ss_quantity - sr_return_quantity) * ss_sales_price
         |          ELSE ss_quantity * ss_sales_price END AS act_sales
         |      FROM store_sales LEFT OUTER JOIN store_returns
         |        ON ss_item_sk = sr_item_sk
         |        AND ss_ticket_number = sr_ticket_number) t
         |GROUP BY ss_item_sk
         |ORDER BY sumsales DESC, item_sk
         |LIMIT 100""".stripMargin,

    "qt3_tpcds_q8" ->
      s"""WITH $dsCte,
         |zip_list AS (
         |  SELECT substr(ca_zip, 1, 5) zip FROM customer_address
         |  WHERE substr(ca_zip, 1, 2) IN ('12', '28', '49', '55', '70')
         |  INTERSECT
         |  SELECT substr(ca_zip, 1, 5) zip
         |  FROM customer_address, customer
         |  WHERE ca_address_sk = c_custkey AND c_acctbal > 5000)
         |SELECT s_store_name,
         |  round(sum(ss_net_profit) + 5e-7, 2) AS net_profit
         |FROM store_sales, date_dim, store
         |WHERE ss_sold_date_sk = d_date_sk AND d_qoy = 2 AND d_year = 1998
         |  AND ss_store_sk = s_store_sk
         |  AND substr(s_zip, 1, 2) IN
         |    (SELECT substr(zip, 1, 2) FROM zip_list)
         |GROUP BY s_store_name
         |ORDER BY s_store_name""".stripMargin,

    "qt4_tpcds_q21" ->
      s"""WITH $dsCte
         |SELECT CAST(inv_warehouse_sk AS BIGINT) AS warehouse_sk,
         |  i_item_id,
         |  CAST(inv_before AS BIGINT) AS inv_before,
         |  CAST(inv_after AS BIGINT) AS inv_after
         |FROM (SELECT inv_warehouse_sk, i_item_id,
         |        sum(CASE WHEN d_date < DATE '1998-06-01'
         |          THEN inv_quantity_on_hand ELSE 0 END) AS inv_before,
         |        sum(CASE WHEN d_date >= DATE '1998-06-01'
         |          THEN inv_quantity_on_hand ELSE 0 END) AS inv_after
         |      FROM inventory, item, date_dim
         |      WHERE inv_item_sk = i_item_sk
         |        AND inv_date_sk = d_date_sk
         |        AND d_date BETWEEN (DATE '1998-06-01' - INTERVAL 30 DAY)
         |          AND (DATE '1998-06-01' + INTERVAL 30 DAY)
         |      GROUP BY inv_warehouse_sk, i_item_id) x
         |WHERE inv_before > 0
         |  AND inv_after / inv_before >= 2.0 / 3.0
         |  AND inv_after / inv_before <= 3.0 / 2.0
         |ORDER BY warehouse_sk, i_item_id
         |LIMIT 100""".stripMargin,

    "qt5_tpcds_q39" ->
      s"""WITH $dsCte,
         |inv AS (
         |  SELECT inv_warehouse_sk w, inv_item_sk i, d_moy,
         |    round(stddev_samp(inv_quantity_on_hand)
         |      / avg(inv_quantity_on_hand) + 5e-7, 4) AS cov
         |  FROM inventory, date_dim
         |  WHERE inv_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY inv_warehouse_sk, inv_item_sk, d_moy
         |  HAVING stddev_samp(inv_quantity_on_hand)
         |    / avg(inv_quantity_on_hand) > 0.5)
         |SELECT CAST(inv1.w AS BIGINT) AS wh, CAST(inv1.i AS BIGINT)
         |    AS item,
         |  CAST(inv1.d_moy AS BIGINT) AS moy1, inv1.cov AS cov1,
         |  CAST(inv2.d_moy AS BIGINT) AS moy2, inv2.cov AS cov2
         |FROM inv inv1, inv inv2
         |WHERE inv1.i = inv2.i AND inv1.w = inv2.w
         |  AND inv1.d_moy = 1 AND inv2.d_moy = 2
         |ORDER BY wh, item
         |LIMIT 100""".stripMargin,

    "qt6_tpcds_q72" ->
      s"""WITH $dsCte
         |SELECT CAST(cs_item_sk AS BIGINT) AS item_sk,
         |  CAST(d1.d_week_seq AS BIGINT) AS week_seq,
         |  CAST(count(*) AS BIGINT) AS low_stock_lines
         |FROM catalog_sales, inventory, date_dim d1, date_dim d2
         |WHERE cs_sold_date_sk = d1.d_date_sk
         |  AND inv_item_sk = cs_item_sk
         |  AND inv_date_sk = d2.d_date_sk
         |  AND d2.d_week_seq = d1.d_week_seq
         |  AND d1.d_year = 1998
         |  AND inv_quantity_on_hand < cs_quantity * 10
         |GROUP BY cs_item_sk, d1.d_week_seq
         |ORDER BY item_sk, week_seq
         |LIMIT 100""".stripMargin,

    "qt7_tpcds_q82" ->
      s"""WITH $dsCte
         |SELECT i_item_id, i_current_price
         |FROM (SELECT DISTINCT i_item_id, i_current_price
         |      FROM item, inventory, date_dim, store_sales
         |      WHERE i_current_price BETWEEN 920 AND 960
         |        AND inv_item_sk = i_item_sk
         |        AND d_date_sk = inv_date_sk
         |        AND d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
         |        AND inv_quantity_on_hand BETWEEN 100 AND 500
         |        AND ss_item_sk = i_item_sk) x
         |ORDER BY i_item_id, i_current_price
         |LIMIT 100""".stripMargin,

    "qt8_tpcds_q36" ->
      s"""WITH $dsCte
         |SELECT round(sum(ss_net_profit) / sum(ss_ext_sales_price)
         |    + 5e-7, 6) AS gross_margin,
         |  i_category, i_class,
         |  CAST(grouping(i_category) + grouping(i_class) AS BIGINT)
         |    AS lochierarchy,
         |  CAST(rank() OVER (
         |    PARTITION BY grouping(i_category) + grouping(i_class),
         |      CASE WHEN grouping(i_class) = 0 THEN i_category END
         |    ORDER BY round(sum(ss_net_profit) / sum(ss_ext_sales_price)
         |      + 5e-7, 6)) AS BIGINT) AS rank_within_parent
         |FROM store_sales, date_dim, item, store
         |WHERE d_year = 1998 AND ss_sold_date_sk = d_date_sk
         |  AND ss_item_sk = i_item_sk AND ss_store_sk = s_store_sk
         |  AND s_state IN ('TN', 'CA', 'TX', 'NY')
         |GROUP BY ROLLUP(i_category, i_class)
         |ORDER BY lochierarchy DESC,
         |  CASE WHEN grouping(i_category) + grouping(i_class) = 0
         |    THEN i_category END NULLS FIRST,
         |  rank_within_parent, i_category NULLS FIRST,
         |  i_class NULLS FIRST""".stripMargin,

    "qt9_tpcds_q92" ->
      s"""WITH $dsCte
         |SELECT round(sum(ws_ext_discount_amt) + 5e-7, 2)
         |    AS excess_discount
         |FROM web_sales ws1, item, date_dim
         |WHERE i_item_sk = ws1.ws_item_sk
         |  AND i_manufact_id BETWEEN 1 AND 300
         |  AND d_date BETWEEN DATE '1998-03-01' AND DATE '1998-05-30'
         |  AND d_date_sk = ws1.ws_sold_date_sk
         |  AND ws1.ws_ext_discount_amt > (
         |    SELECT 1.3 * avg(ws_ext_discount_amt)
         |    FROM web_sales ws2, date_dim
         |    WHERE ws2.ws_item_sk = i_item_sk
         |      AND d_date BETWEEN DATE '1998-03-01' AND DATE '1998-05-30'
         |      AND d_date_sk = ws2.ws_sold_date_sk)""".stripMargin,

    "qu0_tpcds_q2" ->
      s"""WITH $dsCte,
         |wscs AS (
         |  SELECT ws_sold_date_sk AS sold_date_sk,
         |    ws_ext_sales_price AS sales_price FROM web_sales
         |  UNION ALL
         |  SELECT cs_sold_date_sk AS sold_date_sk,
         |    cs_ext_sales_price AS sales_price FROM catalog_sales),
         |wswscs AS (
         |  SELECT d_week_seq,
         |    sum(CASE WHEN d_day_name = 'Sunday' THEN sales_price END)
         |      sun_sales,
         |    sum(CASE WHEN d_day_name = 'Monday' THEN sales_price END)
         |      mon_sales,
         |    sum(CASE WHEN d_day_name = 'Tuesday' THEN sales_price END)
         |      tue_sales,
         |    sum(CASE WHEN d_day_name = 'Wednesday' THEN sales_price END)
         |      wed_sales,
         |    sum(CASE WHEN d_day_name = 'Thursday' THEN sales_price END)
         |      thu_sales,
         |    sum(CASE WHEN d_day_name = 'Friday' THEN sales_price END)
         |      fri_sales,
         |    sum(CASE WHEN d_day_name = 'Saturday' THEN sales_price END)
         |      sat_sales
         |  FROM wscs, date_dim
         |  WHERE d_date_sk = sold_date_sk
         |  GROUP BY d_week_seq)
         |SELECT CAST(y.d_week_seq AS BIGINT) AS d_week_seq1,
         |  round(y.sun_sales / z.sun_sales + 5e-7, 2) AS sun_ratio,
         |  round(y.mon_sales / z.mon_sales + 5e-7, 2) AS mon_ratio,
         |  round(y.tue_sales / z.tue_sales + 5e-7, 2) AS tue_ratio,
         |  round(y.wed_sales / z.wed_sales + 5e-7, 2) AS wed_ratio,
         |  round(y.thu_sales / z.thu_sales + 5e-7, 2) AS thu_ratio,
         |  round(y.fri_sales / z.fri_sales + 5e-7, 2) AS fri_ratio,
         |  round(y.sat_sales / z.sat_sales + 5e-7, 2) AS sat_ratio
         |FROM wswscs y,
         |  (SELECT DISTINCT d_week_seq FROM date_dim
         |   WHERE d_year = 1998) wy,
         |  wswscs z
         |WHERE y.d_week_seq = wy.d_week_seq
         |  AND y.d_week_seq = z.d_week_seq - 52
         |ORDER BY d_week_seq1""".stripMargin,

    "qu1_tpcds_q4" ->
      s"""WITH $dsCte,
         |year_total AS (
         |  SELECT ss_customer_sk AS c_sk, d_year,
         |    round(sum(ss_ext_sales_price - ss_coupon_amt) + 5e-7, 2)
         |      AS total, 's' AS channel
         |  FROM store_sales, date_dim
         |  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |  GROUP BY ss_customer_sk, d_year
         |  UNION ALL
         |  SELECT cs_bill_customer_sk AS c_sk, d_year,
         |    round(sum(cs_ext_sales_price) + 5e-7, 2) AS total,
         |    'c' AS channel
         |  FROM catalog_sales, date_dim
         |  WHERE cs_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |  GROUP BY cs_bill_customer_sk, d_year
         |  UNION ALL
         |  SELECT ws_bill_customer_sk AS c_sk, d_year,
         |    round(sum(ws_ext_sales_price - ws_ext_discount_amt) + 5e-7, 2)
         |      AS total, 'w' AS channel
         |  FROM web_sales, date_dim
         |  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |  GROUP BY ws_bill_customer_sk, d_year)
         |SELECT CAST(t_s_fy.c_sk AS BIGINT) AS customer
         |FROM year_total t_s_fy, year_total t_s_sy,
         |     year_total t_c_fy, year_total t_c_sy,
         |     year_total t_w_fy, year_total t_w_sy
         |WHERE t_s_fy.c_sk = t_s_sy.c_sk AND t_s_fy.c_sk = t_c_fy.c_sk
         |  AND t_s_fy.c_sk = t_c_sy.c_sk AND t_s_fy.c_sk = t_w_fy.c_sk
         |  AND t_s_fy.c_sk = t_w_sy.c_sk
         |  AND t_s_fy.channel = 's' AND t_s_fy.d_year = 1998
         |  AND t_s_sy.channel = 's' AND t_s_sy.d_year = 1999
         |  AND t_c_fy.channel = 'c' AND t_c_fy.d_year = 1998
         |  AND t_c_sy.channel = 'c' AND t_c_sy.d_year = 1999
         |  AND t_w_fy.channel = 'w' AND t_w_fy.d_year = 1998
         |  AND t_w_sy.channel = 'w' AND t_w_sy.d_year = 1999
         |  AND t_s_fy.total > 0 AND t_c_fy.total > 0 AND t_w_fy.total > 0
         |  AND t_c_sy.total / t_c_fy.total > t_s_sy.total / t_s_fy.total
         |  AND t_c_sy.total / t_c_fy.total > t_w_sy.total / t_w_fy.total
         |ORDER BY customer
         |LIMIT 100""".stripMargin,

    "qu2_tpcds_q43" ->
      s"""WITH $dsCte
         |SELECT s_store_name, s_store_id,
         |  round(sum(CASE WHEN d_day_name = 'Sunday'
         |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) sun_sales,
         |  round(sum(CASE WHEN d_day_name = 'Monday'
         |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) mon_sales,
         |  round(sum(CASE WHEN d_day_name = 'Tuesday'
         |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) tue_sales,
         |  round(sum(CASE WHEN d_day_name = 'Wednesday'
         |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) wed_sales,
         |  round(sum(CASE WHEN d_day_name = 'Thursday'
         |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) thu_sales,
         |  round(sum(CASE WHEN d_day_name = 'Friday'
         |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) fri_sales,
         |  round(sum(CASE WHEN d_day_name = 'Saturday'
         |    THEN ss_sales_price ELSE NULL END) + 5e-7, 2) sat_sales
         |FROM date_dim, store_sales, store
         |WHERE d_date_sk = ss_sold_date_sk AND s_store_sk = ss_store_sk
         |  AND d_year = 1998
         |GROUP BY s_store_name, s_store_id
         |ORDER BY s_store_name, s_store_id
         |LIMIT 100""".stripMargin,

    "qu3_tpcds_q53" ->
      s"""WITH $dsCte
         |SELECT * FROM (
         |  SELECT i_manufact_id, d_qoy,
         |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
         |    round(avg(sum(ss_sales_price)) OVER (
         |      PARTITION BY i_manufact_id) + 5e-7, 2) avg_quarterly_sales
         |  FROM item, store_sales, date_dim, store
         |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
         |    AND ss_store_sk = s_store_sk AND d_year = 1998
         |    AND ((i_category IN ('ECONOMY', 'STANDARD')
         |        AND i_class LIKE '%#1')
         |      OR (i_category IN ('PROMO', 'SMALL')
         |        AND i_class LIKE '%#2'))
         |  GROUP BY i_manufact_id, d_qoy) tmp1
         |WHERE CASE WHEN avg_quarterly_sales > 0
         |  THEN abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
         |  ELSE NULL END > 0.1
         |ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id, d_qoy
         |LIMIT 100""".stripMargin,

    "qu4_tpcds_q57" ->
      s"""WITH $dsCte,
         |v1 AS (
         |  SELECT i_category, i_brand, cs_call_center_sk AS cc_sk,
         |    d_year, d_moy,
         |    round(sum(cs_ext_sales_price) + 5e-7, 2) sum_sales,
         |    round(avg(sum(cs_ext_sales_price)) OVER (PARTITION BY
         |      i_category, i_brand, cs_call_center_sk, d_year)
         |      + 5e-7, 2) avg_monthly_sales,
         |    rank() OVER (PARTITION BY i_category, i_brand,
         |      cs_call_center_sk ORDER BY d_year, d_moy) rn
         |  FROM item, catalog_sales, date_dim
         |  WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
         |    AND (d_year = 1998 OR (d_year = 1997 AND d_moy = 12)
         |      OR (d_year = 1999 AND d_moy = 1))
         |  GROUP BY i_category, i_brand, cs_call_center_sk, d_year,
         |    d_moy)
         |SELECT v1.i_category, v1.i_brand, CAST(v1.cc_sk AS BIGINT) cc_sk,
         |  CAST(v1.d_year AS BIGINT) AS d_year,
         |  CAST(v1.d_moy AS BIGINT) AS d_moy,
         |  v1.sum_sales, v1.avg_monthly_sales,
         |  v1_lag.sum_sales psum, v1_lead.sum_sales nsum
         |FROM v1, v1 v1_lag, v1 v1_lead
         |WHERE v1.i_category = v1_lag.i_category
         |  AND v1.i_category = v1_lead.i_category
         |  AND v1.i_brand = v1_lag.i_brand
         |  AND v1.i_brand = v1_lead.i_brand
         |  AND v1.cc_sk = v1_lag.cc_sk AND v1.cc_sk = v1_lead.cc_sk
         |  AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1
         |  AND v1.d_year = 1998
         |  AND v1.avg_monthly_sales > 0
         |  AND abs(v1.sum_sales - v1.avg_monthly_sales)
         |    / v1.avg_monthly_sales > 0.1
         |ORDER BY v1.sum_sales - v1.avg_monthly_sales, v1.i_category,
         |  v1.i_brand, cc_sk, d_moy
         |LIMIT 100""".stripMargin,

    "qu5_tpcds_q37" ->
      s"""WITH $dsCte
         |SELECT i_item_id, i_current_price
         |FROM (SELECT DISTINCT i_item_id, i_current_price
         |      FROM item, inventory, date_dim, catalog_sales
         |      WHERE i_current_price BETWEEN 920 AND 950
         |        AND inv_item_sk = i_item_sk
         |        AND d_date_sk = inv_date_sk
         |        AND d_date BETWEEN DATE '1998-03-01' AND DATE '1998-04-30'
         |        AND cs_item_sk = i_item_sk
         |        AND inv_quantity_on_hand BETWEEN 100 AND 500) x
         |ORDER BY i_item_id, i_current_price
         |LIMIT 100""".stripMargin,

    "qu6_tpcds_q22" ->
      s"""WITH $dsCte
         |SELECT i_item_id, i_brand, i_class, i_category,
         |  round(avg(inv_quantity_on_hand) + 5e-7, 4) AS qoh
         |FROM inventory, date_dim, item
         |WHERE inv_date_sk = d_date_sk AND inv_item_sk = i_item_sk
         |  AND d_year = 1998
         |GROUP BY ROLLUP(i_item_id, i_brand, i_class, i_category)
         |ORDER BY qoh, i_item_id NULLS FIRST, i_brand NULLS FIRST,
         |  i_class NULLS FIRST, i_category NULLS FIRST
         |LIMIT 100""".stripMargin,

    "qu7_tpcds_q28" ->
      s"""WITH $dsCte
         |SELECT * FROM
         | (SELECT round(avg(ss_list_price) + 5e-7, 2) b1_lp,
         |    CAST(count(ss_list_price) AS BIGINT) b1_cnt,
         |    CAST(count(DISTINCT ss_list_price) AS BIGINT) b1_cntd
         |  FROM store_sales
         |  WHERE ss_quantity BETWEEN 1 AND 10
         |    AND (ss_list_price BETWEEN 100 AND 200
         |      OR ss_coupon_amt BETWEEN 0 AND 100
         |      OR ss_sales_price BETWEEN 50 AND 150)) b1,
         | (SELECT round(avg(ss_list_price) + 5e-7, 2) b2_lp,
         |    CAST(count(ss_list_price) AS BIGINT) b2_cnt,
         |    CAST(count(DISTINCT ss_list_price) AS BIGINT) b2_cntd
         |  FROM store_sales
         |  WHERE ss_quantity BETWEEN 11 AND 20
         |    AND (ss_list_price BETWEEN 80 AND 180
         |      OR ss_coupon_amt BETWEEN 10 AND 110
         |      OR ss_sales_price BETWEEN 40 AND 140)) b2,
         | (SELECT round(avg(ss_list_price) + 5e-7, 2) b3_lp,
         |    CAST(count(ss_list_price) AS BIGINT) b3_cnt,
         |    CAST(count(DISTINCT ss_list_price) AS BIGINT) b3_cntd
         |  FROM store_sales
         |  WHERE ss_quantity BETWEEN 21 AND 30
         |    AND (ss_list_price BETWEEN 60 AND 160
         |      OR ss_coupon_amt BETWEEN 20 AND 120
         |      OR ss_sales_price BETWEEN 30 AND 130)) b3,
         | (SELECT round(avg(ss_list_price) + 5e-7, 2) b4_lp,
         |    CAST(count(ss_list_price) AS BIGINT) b4_cnt,
         |    CAST(count(DISTINCT ss_list_price) AS BIGINT) b4_cntd
         |  FROM store_sales
         |  WHERE ss_quantity BETWEEN 31 AND 40
         |    AND (ss_list_price BETWEEN 40 AND 140
         |      OR ss_coupon_amt BETWEEN 30 AND 130
         |      OR ss_sales_price BETWEEN 20 AND 120)) b4,
         | (SELECT round(avg(ss_list_price) + 5e-7, 2) b5_lp,
         |    CAST(count(ss_list_price) AS BIGINT) b5_cnt,
         |    CAST(count(DISTINCT ss_list_price) AS BIGINT) b5_cntd
         |  FROM store_sales
         |  WHERE ss_quantity BETWEEN 41 AND 50
         |    AND (ss_list_price BETWEEN 20 AND 120
         |      OR ss_coupon_amt BETWEEN 40 AND 140
         |      OR ss_sales_price BETWEEN 10 AND 110)) b5""".stripMargin,

    "qu8_tpcds_q29" ->
      s"""WITH $dsCte
         |SELECT i_item_id, i_brand, s_store_id, s_store_name,
         |  CAST(sum(ss_quantity) AS BIGINT) AS store_sales_quantity,
         |  CAST(sum(sr_return_quantity) AS BIGINT)
         |    AS store_returns_quantity,
         |  CAST(sum(cs_quantity) AS BIGINT) AS catalog_sales_quantity
         |FROM store_sales, store_returns, catalog_sales,
         |  date_dim d1, date_dim d2, date_dim d3, store, item
         |WHERE d1.d_moy = 4 AND d1.d_year = 1998
         |  AND d1.d_date_sk = ss_sold_date_sk
         |  AND i_item_sk = ss_item_sk
         |  AND s_store_sk = ss_store_sk
         |  AND ss_customer_sk = sr_customer_sk
         |  AND ss_item_sk = sr_item_sk
         |  AND ss_ticket_number = sr_ticket_number
         |  AND sr_returned_date_sk = d2.d_date_sk
         |  AND d2.d_moy BETWEEN 4 AND 7 AND d2.d_year = 1998
         |  AND sr_customer_sk = cs_bill_customer_sk
         |  AND sr_item_sk = cs_item_sk
         |  AND cs_sold_date_sk = d3.d_date_sk
         |  AND d3.d_year IN (1998, 1999, 2000)
         |GROUP BY i_item_id, i_brand, s_store_id, s_store_name
         |ORDER BY i_item_id, i_brand, s_store_id, s_store_name
         |LIMIT 100""".stripMargin,

    "qu9_tpcds_q45" ->
      s"""WITH $dsCte
         |SELECT ca_zip,
         |  round(sum(ws_sales_price) + 5e-7, 2) AS total_sales
         |FROM web_sales, customer_address, item, date_dim
         |WHERE ws_bill_customer_sk = ca_address_sk
         |  AND ws_item_sk = i_item_sk
         |  AND ws_sold_date_sk = d_date_sk
         |  AND d_qoy = 2 AND d_year = 1998
         |  AND (substring(ca_zip, 1, 5) IN ('07919', '15838', '23757',
         |      '31676', '39595', '47514', '55433', '63352', '71271')
         |    OR i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29))
         |GROUP BY ca_zip
         |ORDER BY ca_zip
         |LIMIT 100""".stripMargin,

    "qv0_tpcds_q61" ->
      s"""WITH $dsCte
         |SELECT promotions, total,
         |  round(promotions / total * 100 + 5e-7, 4) AS promo_pct
         |FROM
         | (SELECT round(sum(ss_ext_sales_price) + 5e-7, 2) promotions
         |  FROM store_sales, store, promotion, date_dim,
         |    customer_address, item
         |  WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
         |    AND ss_promo_sk = p_promo_sk
         |    AND ss_customer_sk = ca_address_sk
         |    AND ss_item_sk = i_item_sk
         |    AND ca_state = 'CA' AND i_category = 'ECONOMY'
         |    AND (p_channel_email = 'Y' OR p_channel_event = 'Y')
         |    AND s_state = 'CA' AND d_year = 1998
         |    AND d_moy = 11) promotional_sales,
         | (SELECT round(sum(ss_ext_sales_price) + 5e-7, 2) total
         |  FROM store_sales, store, date_dim, customer_address, item
         |  WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
         |    AND ss_customer_sk = ca_address_sk
         |    AND ss_item_sk = i_item_sk
         |    AND ca_state = 'CA' AND i_category = 'ECONOMY'
         |    AND s_state = 'CA' AND d_year = 1998
         |    AND d_moy = 11) all_sales""".stripMargin,

    "qv1_tpcds_q70" ->
      s"""WITH $dsCte
         |SELECT round(sum(ss_net_profit) + 5e-7, 2) AS total_sum,
         |  s_state, s_store_name,
         |  CAST(grouping(s_state) + grouping(s_store_name) AS BIGINT)
         |    AS lochierarchy,
         |  CAST(rank() OVER (
         |    PARTITION BY grouping(s_state) + grouping(s_store_name),
         |      CASE WHEN grouping(s_store_name) = 0 THEN s_state END
         |    ORDER BY round(sum(ss_net_profit) + 5e-7, 2) DESC) AS BIGINT)
         |    AS rank_within_parent
         |FROM store_sales, date_dim d1, store
         |WHERE d1.d_year = 1998 AND d1.d_date_sk = ss_sold_date_sk
         |  AND s_store_sk = ss_store_sk
         |  AND s_state IN (SELECT s_state
         |    FROM (SELECT s_state,
         |        rank() OVER (ORDER BY round(sum(ss_net_profit)
         |          + 5e-7, 2) DESC) AS ranking
         |      FROM store_sales, store, date_dim
         |      WHERE d_year = 1998 AND d_date_sk = ss_sold_date_sk
         |        AND s_store_sk = ss_store_sk
         |      GROUP BY s_state) tmp1
         |    WHERE ranking <= 3)
         |GROUP BY ROLLUP(s_state, s_store_name)
         |ORDER BY lochierarchy DESC,
         |  CASE WHEN grouping(s_state) + grouping(s_store_name) = 0
         |    THEN s_state END NULLS FIRST,
         |  rank_within_parent, s_state NULLS FIRST,
         |  s_store_name NULLS FIRST""".stripMargin,

    "qv2_tpcds_q86" ->
      s"""WITH $dsCte
         |SELECT round(sum(ws_net_profit) + 5e-7, 2) AS total_sum,
         |  i_category, i_class,
         |  CAST(grouping(i_category) + grouping(i_class) AS BIGINT)
         |    AS lochierarchy,
         |  CAST(rank() OVER (
         |    PARTITION BY grouping(i_category) + grouping(i_class),
         |      CASE WHEN grouping(i_class) = 0 THEN i_category END
         |    ORDER BY round(sum(ws_net_profit) + 5e-7, 2) DESC) AS BIGINT)
         |    AS rank_within_parent
         |FROM web_sales, date_dim d1, item
         |WHERE d1.d_year = 1998 AND d1.d_date_sk = ws_sold_date_sk
         |  AND i_item_sk = ws_item_sk
         |GROUP BY ROLLUP(i_category, i_class)
         |ORDER BY lochierarchy DESC,
         |  CASE WHEN grouping(i_category) + grouping(i_class) = 0
         |    THEN i_category END NULLS FIRST,
         |  rank_within_parent, i_category NULLS FIRST,
         |  i_class NULLS FIRST
         |LIMIT 100""".stripMargin,

    "qv3_tpcds_q89" ->
      s"""WITH $dsCte
         |SELECT * FROM (
         |  SELECT i_category, i_class, i_brand, s_store_name, s_store_id,
         |    d_moy,
         |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
         |    round(avg(sum(ss_sales_price)) OVER (PARTITION BY
         |      i_category, i_brand, s_store_name, s_store_id)
         |      + 5e-7, 2) avg_monthly_sales
         |  FROM item, store_sales, date_dim, store
         |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
         |    AND ss_store_sk = s_store_sk AND d_year = 1998
         |    AND ((i_category IN ('ECONOMY', 'LARGE', 'MEDIUM')
         |        AND i_class LIKE '%#1')
         |      OR (i_category IN ('PROMO', 'SMALL', 'STANDARD')
         |        AND i_class LIKE '%#3'))
         |  GROUP BY i_category, i_class, i_brand, s_store_name,
         |    s_store_id, d_moy) tmp1
         |WHERE CASE WHEN avg_monthly_sales <> 0
         |  THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
         |  ELSE NULL END > 0.1
         |ORDER BY sum_sales - avg_monthly_sales, i_category, i_class,
         |  i_brand, s_store_name, s_store_id, d_moy
         |LIMIT 100""".stripMargin,

    "qv4_tpcds_q97" ->
      s"""WITH $dsCte,
         |ssci AS (
         |  SELECT ss_customer_sk customer_sk, ss_item_sk item_sk
         |  FROM store_sales, date_dim
         |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY ss_customer_sk, ss_item_sk),
         |csci AS (
         |  SELECT cs_bill_customer_sk customer_sk, cs_item_sk item_sk
         |  FROM catalog_sales, date_dim
         |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
         |  GROUP BY cs_bill_customer_sk, cs_item_sk)
         |SELECT CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL
         |    AND csci.customer_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS store_only,
         |  CAST(sum(CASE WHEN ssci.customer_sk IS NULL
         |    AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS catalog_only,
         |  CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL
         |    AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS store_and_catalog
         |FROM ssci FULL OUTER JOIN csci
         |  ON (ssci.customer_sk = csci.customer_sk
         |    AND ssci.item_sk = csci.item_sk)""".stripMargin,

    "qv5_tpcds_q69" ->
      s"""WITH $dsCte
         |SELECT ca_state, cd_gender, cd_marital_status,
         |  cd_education_status, CAST(count(*) AS BIGINT) AS cnt
         |FROM customer c, customer_address ca, customer_demographics
         |WHERE c.c_custkey = ca.ca_address_sk
         |  AND ca_state IN ('CA', 'TX', 'NY')
         |  AND cd_demo_sk = c.c_custkey
         |  AND EXISTS (SELECT * FROM store_sales, date_dim
         |    WHERE c.c_custkey = ss_customer_sk
         |      AND ss_sold_date_sk = d_date_sk
         |      AND d_year = 1998 AND d_moy BETWEEN 2 AND 5)
         |  AND NOT EXISTS (SELECT * FROM web_sales, date_dim
         |    WHERE c.c_custkey = ws_bill_customer_sk
         |      AND ws_sold_date_sk = d_date_sk
         |      AND d_year = 1998 AND d_moy BETWEEN 2 AND 5)
         |  AND NOT EXISTS (SELECT * FROM catalog_sales, date_dim
         |    WHERE c.c_custkey = cs_bill_customer_sk
         |      AND cs_sold_date_sk = d_date_sk
         |      AND d_year = 1998 AND d_moy BETWEEN 2 AND 5)
         |GROUP BY ca_state, cd_gender, cd_marital_status,
         |  cd_education_status
         |ORDER BY ca_state, cd_gender, cd_marital_status,
         |  cd_education_status
         |LIMIT 100""".stripMargin,

    "qv6_tpcds_q73" ->
      s"""WITH $dsCte
         |SELECT c_name, ss_ticket_number, CAST(cnt AS BIGINT) AS cnt
         |FROM (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
         |      FROM store_sales, date_dim, store,
         |        household_demographics
         |      WHERE ss_sold_date_sk = d_date_sk
         |        AND ss_store_sk = s_store_sk
         |        AND ss_hdemo_sk = hd_demo_sk
         |        AND d_dom BETWEEN 1 AND 2
         |        AND d_year IN (1998, 1999, 2000)
         |        AND hd_dep_count / CASE WHEN hd_vehicle_count > 0
         |          THEN hd_vehicle_count ELSE NULL END > 1
         |        AND s_state IN ('TN', 'CA')
         |      GROUP BY ss_ticket_number, ss_customer_sk
         |      HAVING count(*) BETWEEN 2 AND 5) dj, customer
         |WHERE ss_customer_sk = c_custkey
         |ORDER BY cnt DESC, c_name, ss_ticket_number""".stripMargin,

    "qv7_tpcds_q14" ->
      s"""WITH $dsCte,
         |cross_items AS (
         |  SELECT i_item_sk AS item_sk
         |  FROM item,
         |   (SELECT iss.i_brand_id brand_id, iss.i_category_id category_id
         |    FROM store_sales, item iss, date_dim d1
         |    WHERE ss_item_sk = iss.i_item_sk
         |      AND ss_sold_date_sk = d1.d_date_sk
         |      AND d1.d_year BETWEEN 1996 AND 1998
         |    INTERSECT
         |    SELECT ics.i_brand_id, ics.i_category_id
         |    FROM catalog_sales, item ics, date_dim d2
         |    WHERE cs_item_sk = ics.i_item_sk
         |      AND cs_sold_date_sk = d2.d_date_sk
         |      AND d2.d_year BETWEEN 1996 AND 1998
         |    INTERSECT
         |    SELECT iws.i_brand_id, iws.i_category_id
         |    FROM web_sales, item iws, date_dim d3
         |    WHERE ws_item_sk = iws.i_item_sk
         |      AND ws_sold_date_sk = d3.d_date_sk
         |      AND d3.d_year BETWEEN 1996 AND 1998) x
         |  WHERE i_brand_id = brand_id AND i_category_id = category_id),
         |avg_sales AS (
         |  SELECT round(avg(ext_price) + 5e-7, 2) average_sales
         |  FROM (SELECT ss_ext_sales_price ext_price
         |        FROM store_sales, date_dim
         |        WHERE ss_sold_date_sk = d_date_sk
         |          AND d_year BETWEEN 1996 AND 1998
         |        UNION ALL
         |        SELECT cs_ext_sales_price
         |        FROM catalog_sales, date_dim
         |        WHERE cs_sold_date_sk = d_date_sk
         |          AND d_year BETWEEN 1996 AND 1998
         |        UNION ALL
         |        SELECT ws_ext_sales_price
         |        FROM web_sales, date_dim
         |        WHERE ws_sold_date_sk = d_date_sk
         |          AND d_year BETWEEN 1996 AND 1998) all_sales)
         |SELECT channel, i_brand_id, i_category_id,
         |  round(sum(sales) + 5e-7, 2) AS sum_sales,
         |  CAST(sum(num) AS BIGINT) AS sum_num
         |FROM (
         |  SELECT 'store' channel, i_brand_id, i_category_id,
         |    sum(ss_ext_sales_price) sales, count(*) num
         |  FROM store_sales, item, date_dim
         |  WHERE ss_item_sk IN (SELECT item_sk FROM cross_items)
         |    AND ss_item_sk = i_item_sk
         |    AND ss_sold_date_sk = d_date_sk
         |    AND d_year = 1998 AND d_moy = 11
         |  GROUP BY i_brand_id, i_category_id
         |  HAVING round(sum(ss_ext_sales_price) + 5e-7, 2)
         |    > (SELECT average_sales * 10 FROM avg_sales)
         |  UNION ALL
         |  SELECT 'catalog' channel, i_brand_id, i_category_id,
         |    sum(cs_ext_sales_price) sales, count(*) num
         |  FROM catalog_sales, item, date_dim
         |  WHERE cs_item_sk IN (SELECT item_sk FROM cross_items)
         |    AND cs_item_sk = i_item_sk
         |    AND cs_sold_date_sk = d_date_sk
         |    AND d_year = 1998 AND d_moy = 11
         |  GROUP BY i_brand_id, i_category_id
         |  HAVING round(sum(cs_ext_sales_price) + 5e-7, 2)
         |    > (SELECT average_sales * 10 FROM avg_sales)
         |  UNION ALL
         |  SELECT 'web' channel, i_brand_id, i_category_id,
         |    sum(ws_ext_sales_price) sales, count(*) num
         |  FROM web_sales, item, date_dim
         |  WHERE ws_item_sk IN (SELECT item_sk FROM cross_items)
         |    AND ws_item_sk = i_item_sk
         |    AND ws_sold_date_sk = d_date_sk
         |    AND d_year = 1998 AND d_moy = 11
         |  GROUP BY i_brand_id, i_category_id
         |  HAVING round(sum(ws_ext_sales_price) + 5e-7, 2)
         |    > (SELECT average_sales * 10 FROM avg_sales)) y
         |GROUP BY ROLLUP(channel, i_brand_id, i_category_id)
         |ORDER BY channel NULLS FIRST, i_brand_id NULLS FIRST,
         |  i_category_id NULLS FIRST
         |LIMIT 100""".stripMargin,

    "qv8_tpcds_q49" ->
      s"""WITH $dsCte
         |SELECT channel, item, return_ratio,
         |  CAST(return_rank AS BIGINT) AS return_rank,
         |  CAST(currency_rank AS BIGINT) AS currency_rank
         |FROM (
         | SELECT 'web' AS channel, in_web.item, in_web.return_ratio,
         |   rank() OVER (ORDER BY in_web.return_ratio, in_web.item)
         |     return_rank,
         |   rank() OVER (ORDER BY in_web.currency_ratio, in_web.item)
         |     currency_rank
         | FROM (SELECT ws.ws_item_sk AS item,
         |     round(sum(coalesce(wr.wr_return_quantity, 0))
         |       / sum(coalesce(ws.ws_quantity, 0)) + 5e-7, 6)
         |       AS return_ratio,
         |     round(sum(coalesce(wr.wr_return_amt, 0))
         |       / sum(coalesce(ws.ws_ext_sales_price, 0)) + 5e-7, 6)
         |       AS currency_ratio
         |   FROM web_sales ws LEFT JOIN web_returns wr
         |     ON (ws.ws_order_number = wr.wr_order_number
         |       AND ws.ws_item_sk = wr.wr_item_sk), date_dim
         |   WHERE wr.wr_return_amt > 10000
         |     AND ws.ws_sold_date_sk = d_date_sk
         |     AND d_year = 1998 AND d_moy BETWEEN 1 AND 6
         |   GROUP BY ws.ws_item_sk) in_web
         | UNION ALL
         | SELECT 'catalog' AS channel, in_cat.item, in_cat.return_ratio,
         |   rank() OVER (ORDER BY in_cat.return_ratio, in_cat.item)
         |     return_rank,
         |   rank() OVER (ORDER BY in_cat.currency_ratio, in_cat.item)
         |     currency_rank
         | FROM (SELECT cs.cs_item_sk AS item,
         |     round(sum(coalesce(cr.cr_return_quantity, 0))
         |       / sum(coalesce(cs.cs_quantity, 0)) + 5e-7, 6)
         |       AS return_ratio,
         |     round(sum(coalesce(cr.cr_return_amount, 0))
         |       / sum(coalesce(cs.cs_ext_sales_price, 0)) + 5e-7, 6)
         |       AS currency_ratio
         |   FROM catalog_sales cs LEFT JOIN catalog_returns cr
         |     ON (cs.cs_order_number = cr.cr_order_number
         |       AND cs.cs_item_sk = cr.cr_item_sk), date_dim
         |   WHERE cr.cr_return_amount > 10000
         |     AND cs.cs_sold_date_sk = d_date_sk
         |     AND d_year = 1998 AND d_moy BETWEEN 1 AND 6
         |   GROUP BY cs.cs_item_sk) in_cat
         | UNION ALL
         | SELECT 'store' AS channel, in_str.item, in_str.return_ratio,
         |   rank() OVER (ORDER BY in_str.return_ratio, in_str.item)
         |     return_rank,
         |   rank() OVER (ORDER BY in_str.currency_ratio, in_str.item)
         |     currency_rank
         | FROM (SELECT ss.ss_item_sk AS item,
         |     round(sum(coalesce(sr.sr_return_quantity, 0))
         |       / sum(coalesce(ss.ss_quantity, 0)) + 5e-7, 6)
         |       AS return_ratio,
         |     round(sum(coalesce(sr.sr_return_amt, 0))
         |       / sum(coalesce(ss.ss_ext_sales_price, 0)) + 5e-7, 6)
         |       AS currency_ratio
         |   FROM store_sales ss LEFT JOIN store_returns sr
         |     ON (ss.ss_ticket_number = sr.sr_ticket_number
         |       AND ss.ss_item_sk = sr.sr_item_sk), date_dim
         |   WHERE sr.sr_return_amt > 10000
         |     AND ss.ss_sold_date_sk = d_date_sk
         |     AND d_year = 1998 AND d_moy BETWEEN 1 AND 6
         |   GROUP BY ss.ss_item_sk) in_str) t
         |WHERE return_rank <= 10 OR currency_rank <= 10
         |ORDER BY channel, return_rank, currency_rank, item
         |LIMIT 100""".stripMargin,

    "qv9_tpcds_q30" ->
      s"""WITH $dsCte,
         |customer_total_return AS (
         |  SELECT wr_refunded_customer_sk AS ctr_customer_sk,
         |    ca_state AS ctr_state,
         |    round(sum(wr_return_amt) + 5e-7, 2) AS ctr_total_return
         |  FROM web_returns, date_dim, customer_address
         |  WHERE wr_returned_date_sk = d_date_sk AND d_year = 1998
         |    AND wr_refunded_customer_sk = ca_address_sk
         |  GROUP BY wr_refunded_customer_sk, ca_state)
         |SELECT c_name, ctr1.ctr_total_return AS total_return
         |FROM customer_total_return ctr1, customer_address, customer c
         |WHERE ctr1.ctr_total_return > (
         |    SELECT avg(ctr_total_return) * 1.2
         |    FROM customer_total_return ctr2
         |    WHERE ctr1.ctr_state = ctr2.ctr_state)
         |  AND ca_address_sk = c.c_custkey
         |  AND ca_state = 'CA'
         |  AND ctr1.ctr_customer_sk = c.c_custkey
         |ORDER BY c_name, total_return
         |LIMIT 100""".stripMargin,

    "qw0_tpcds_q91" ->
      s"""WITH $dsCte
         |SELECT CAST(cc_call_center_sk AS BIGINT) AS call_center,
         |  cc_name, cc_class,
         |  round(sum(cr_return_amount) + 5e-7, 2) AS returns_loss
         |FROM call_center, catalog_returns, date_dim,
         |  customer_demographics, household_demographics
         |WHERE cr_call_center_sk = cc_call_center_sk
         |  AND cr_returned_date_sk = d_date_sk
         |  AND cr_returning_customer_sk = cd_demo_sk
         |  AND cd_demo_sk = hd_demo_sk
         |  AND d_year = 1998 AND d_moy = 11
         |  AND ((cd_marital_status = 'M'
         |      AND cd_education_status = 'College')
         |    OR (cd_marital_status = 'D'
         |      AND cd_education_status = 'Primary'))
         |  AND hd_vehicle_count > 0
         |GROUP BY cc_call_center_sk, cc_name, cc_class
         |ORDER BY returns_loss DESC, call_center""".stripMargin,

    "qw1_tpcds_q75" ->
      s"""WITH $dsCte,
         |all_sales AS (
         |  SELECT d_year, i_brand_id, i_category_id,
         |    sum(sales_cnt) AS sales_cnt,
         |    round(sum(sales_amt) + 5e-7, 2) AS sales_amt
         |  FROM (
         |    SELECT d_year, i_brand_id, i_category_id,
         |      cs_quantity - coalesce(cr_return_quantity, 0)
         |        AS sales_cnt,
         |      cs_ext_sales_price - coalesce(cr_return_amount, 0.0)
         |        AS sales_amt
         |    FROM catalog_sales
         |      JOIN item ON i_item_sk = cs_item_sk
         |      JOIN date_dim ON d_date_sk = cs_sold_date_sk
         |      LEFT JOIN catalog_returns
         |        ON cr_order_number = cs_order_number
         |          AND cs_item_sk = cr_item_sk
         |    WHERE i_category = 'ECONOMY'
         |    UNION
         |    SELECT d_year, i_brand_id, i_category_id,
         |      ss_quantity - coalesce(sr_return_quantity, 0),
         |      ss_ext_sales_price - coalesce(sr_return_amt, 0.0)
         |    FROM store_sales
         |      JOIN item ON i_item_sk = ss_item_sk
         |      JOIN date_dim ON d_date_sk = ss_sold_date_sk
         |      LEFT JOIN store_returns
         |        ON sr_ticket_number = ss_ticket_number
         |          AND ss_item_sk = sr_item_sk
         |    WHERE i_category = 'ECONOMY'
         |    UNION
         |    SELECT d_year, i_brand_id, i_category_id,
         |      ws_quantity - coalesce(wr_return_quantity, 0),
         |      ws_ext_sales_price - coalesce(wr_return_amt, 0.0)
         |    FROM web_sales
         |      JOIN item ON i_item_sk = ws_item_sk
         |      JOIN date_dim ON d_date_sk = ws_sold_date_sk
         |      LEFT JOIN web_returns
         |        ON wr_order_number = ws_order_number
         |          AND ws_item_sk = wr_item_sk
         |    WHERE i_category = 'ECONOMY') sales_detail
         |  GROUP BY d_year, i_brand_id, i_category_id)
         |SELECT CAST(prev_yr.d_year AS BIGINT) AS prev_year,
         |  CAST(curr_yr.d_year AS BIGINT) AS cur_year,
         |  CAST(curr_yr.i_brand_id AS BIGINT) AS i_brand_id,
         |  CAST(curr_yr.i_category_id AS BIGINT) AS i_category_id,
         |  CAST(prev_yr.sales_cnt AS BIGINT) AS prev_yr_cnt,
         |  CAST(curr_yr.sales_cnt AS BIGINT) AS curr_yr_cnt,
         |  CAST(curr_yr.sales_cnt - prev_yr.sales_cnt AS BIGINT)
         |    AS sales_cnt_diff
         |FROM all_sales curr_yr, all_sales prev_yr
         |WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
         |  AND curr_yr.i_category_id = prev_yr.i_category_id
         |  AND curr_yr.d_year = 1999 AND prev_yr.d_year = 1998
         |  AND prev_yr.sales_cnt > 0
         |  AND CAST(curr_yr.sales_cnt AS DOUBLE)
         |    / CAST(prev_yr.sales_cnt AS DOUBLE) < 0.9
         |ORDER BY sales_cnt_diff, i_brand_id, i_category_id
         |LIMIT 100""".stripMargin,

    "qw2_tpcds_q78" ->
      s"""WITH $dsCte,
         |ws AS (
         |  SELECT d_year AS ws_sold_year, ws_item_sk,
         |    ws_bill_customer_sk ws_customer_sk,
         |    sum(ws_quantity) ws_qty
         |  FROM web_sales
         |  LEFT JOIN web_returns ON wr_order_number = ws_order_number
         |    AND ws_item_sk = wr_item_sk
         |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
         |  WHERE wr_order_number IS NULL
         |  GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
         |cs AS (
         |  SELECT d_year AS cs_sold_year, cs_item_sk,
         |    cs_bill_customer_sk cs_customer_sk,
         |    sum(cs_quantity) cs_qty
         |  FROM catalog_sales
         |  LEFT JOIN catalog_returns ON cr_order_number = cs_order_number
         |    AND cs_item_sk = cr_item_sk
         |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
         |  WHERE cr_order_number IS NULL
         |  GROUP BY d_year, cs_item_sk, cs_bill_customer_sk),
         |ss AS (
         |  SELECT d_year AS ss_sold_year, ss_item_sk,
         |    ss_customer_sk,
         |    sum(ss_quantity) ss_qty
         |  FROM store_sales
         |  LEFT JOIN store_returns ON sr_ticket_number = ss_ticket_number
         |    AND ss_item_sk = sr_item_sk
         |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
         |  WHERE sr_ticket_number IS NULL
         |  GROUP BY d_year, ss_item_sk, ss_customer_sk)
         |SELECT CAST(ss_item_sk AS BIGINT) AS ss_item_sk,
         |  CAST(ss_customer_sk AS BIGINT) AS ss_customer_sk,
         |  round(ss_qty / (coalesce(ws_qty, 0) + coalesce(cs_qty, 0))
         |    + 5e-7, 2) ratio,
         |  CAST(ss_qty AS BIGINT) store_qty,
         |  CAST(coalesce(ws_qty, 0) + coalesce(cs_qty, 0) AS BIGINT)
         |    other_chan_qty
         |FROM ss LEFT JOIN ws ON (ws_sold_year = ss_sold_year
         |    AND ws_item_sk = ss_item_sk
         |    AND ws_customer_sk = ss_customer_sk)
         |  LEFT JOIN cs ON (cs_sold_year = ss_sold_year
         |    AND cs_item_sk = ss_item_sk
         |    AND cs_customer_sk = ss_customer_sk)
         |WHERE (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0)
         |  AND ss_sold_year = 1998
         |ORDER BY ratio, ss_qty DESC, ss_item_sk, ss_customer_sk
         |LIMIT 100""".stripMargin,

    "qw3_tpcds_q16" ->
      s"""WITH $dsCte
         |SELECT CAST(count(DISTINCT cs_order_number) AS BIGINT)
         |    AS order_count,
         |  round(sum(cs_ext_sales_price) + 5e-7, 2) AS total_sales,
         |  round(sum(cs_net_profit) + 5e-7, 2) AS total_net_profit
         |FROM catalog_sales cs1, date_dim, customer_address, call_center
         |WHERE d_date BETWEEN DATE '1998-02-01' AND DATE '1998-04-02'
         |  AND cs1.cs_ship_date_sk = d_date_sk
         |  AND cs1.cs_bill_customer_sk = ca_address_sk
         |  AND ca_state = 'CA'
         |  AND cs1.cs_call_center_sk = cc_call_center_sk
         |  AND cc_class IN ('small', 'medium')
         |  AND EXISTS (SELECT * FROM catalog_sales cs2
         |    WHERE cs1.cs_order_number = cs2.cs_order_number
         |      AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
         |  AND NOT EXISTS (SELECT * FROM catalog_returns cr1
         |    WHERE cs1.cs_order_number = cr1.cr_order_number)""".stripMargin,

    "qw4_tpcds_q66" ->
      s"""WITH $dsCte
         |SELECT w_warehouse_name, w_state,
         |  CAST(d_year AS BIGINT) AS ship_year,
         |  round(sum(q1_sales) + 5e-7, 2) AS q1_sales,
         |  round(sum(q2_sales) + 5e-7, 2) AS q2_sales,
         |  round(sum(q3_sales) + 5e-7, 2) AS q3_sales,
         |  round(sum(q4_sales) + 5e-7, 2) AS q4_sales
         |FROM (
         |  SELECT w_warehouse_name, w_state, d_year,
         |    sum(CASE WHEN d_qoy = 1 THEN ws_ext_sales_price
         |      ELSE 0 END) AS q1_sales,
         |    sum(CASE WHEN d_qoy = 2 THEN ws_ext_sales_price
         |      ELSE 0 END) AS q2_sales,
         |    sum(CASE WHEN d_qoy = 3 THEN ws_ext_sales_price
         |      ELSE 0 END) AS q3_sales,
         |    sum(CASE WHEN d_qoy = 4 THEN ws_ext_sales_price
         |      ELSE 0 END) AS q4_sales
         |  FROM web_sales, warehouse, date_dim
         |  WHERE ws_ship_date_sk = d_date_sk
         |    AND ws_warehouse_sk = w_warehouse_sk AND d_year = 1998
         |  GROUP BY w_warehouse_name, w_state, d_year
         |  UNION ALL
         |  SELECT w_warehouse_name, w_state, d_year,
         |    sum(CASE WHEN d_qoy = 1 THEN cs_ext_sales_price
         |      ELSE 0 END) AS q1_sales,
         |    sum(CASE WHEN d_qoy = 2 THEN cs_ext_sales_price
         |      ELSE 0 END) AS q2_sales,
         |    sum(CASE WHEN d_qoy = 3 THEN cs_ext_sales_price
         |      ELSE 0 END) AS q3_sales,
         |    sum(CASE WHEN d_qoy = 4 THEN cs_ext_sales_price
         |      ELSE 0 END) AS q4_sales
         |  FROM catalog_sales, warehouse, date_dim
         |  WHERE cs_ship_date_sk = d_date_sk
         |    AND cs_warehouse_sk = w_warehouse_sk AND d_year = 1998
         |  GROUP BY w_warehouse_name, w_state, d_year) x
         |GROUP BY w_warehouse_name, w_state, d_year
         |ORDER BY w_warehouse_name""".stripMargin,

    "qw5_tpcds_q46" ->
      s"""WITH $dsCte
         |SELECT c_name, ca_city, bought_city, ss_ticket_number,
         |  amt, profit
         |FROM (SELECT ss_ticket_number, ss_customer_sk,
         |        ca_city AS bought_city,
         |        round(sum(ss_coupon_amt) + 5e-7, 2) AS amt,
         |        round(sum(ss_net_profit) + 5e-7, 2) AS profit
         |      FROM store_sales, date_dim, store,
         |        household_demographics, customer_address
         |      WHERE ss_sold_date_sk = d_date_sk
         |        AND ss_store_sk = s_store_sk
         |        AND ss_hdemo_sk = hd_demo_sk
         |        AND ss_addr_sk = ca_address_sk
         |        AND (hd_dep_count = 5 OR hd_vehicle_count = 3)
         |        AND d_day_name IN ('Saturday', 'Sunday')
         |        AND d_year IN (1998, 1999, 2000)
         |        AND s_state IN ('TN', 'CA')
         |      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk,
         |        ca_city) dn,
         |  customer, customer_address current_addr
         |WHERE ss_customer_sk = c_custkey
         |  AND current_addr.ca_address_sk = c_custkey
         |  AND current_addr.ca_city <> bought_city
         |ORDER BY c_name, ss_ticket_number, ca_city, bought_city,
         |  amt, profit
         |LIMIT 100""".stripMargin,

    "qw6_tpcds_q68" ->
      s"""WITH $dsCte
         |SELECT c_name, ca_city, bought_city, ss_ticket_number,
         |  extended_price, extended_coupon
         |FROM (SELECT ss_ticket_number, ss_customer_sk,
         |        ca_city AS bought_city,
         |        round(sum(ss_ext_sales_price) + 5e-7, 2)
         |          AS extended_price,
         |        round(sum(ss_coupon_amt) + 5e-7, 2) AS extended_coupon
         |      FROM store_sales, date_dim, store,
         |        household_demographics, customer_address
         |      WHERE ss_sold_date_sk = d_date_sk
         |        AND ss_store_sk = s_store_sk
         |        AND ss_hdemo_sk = hd_demo_sk
         |        AND ss_addr_sk = ca_address_sk
         |        AND (hd_dep_count = 6 OR hd_vehicle_count = 2)
         |        AND d_dom BETWEEN 1 AND 2
         |        AND d_year IN (1998, 1999, 2000)
         |        AND s_state IN ('TX', 'NY')
         |      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk,
         |        ca_city) dn,
         |  customer, customer_address current_addr
         |WHERE ss_customer_sk = c_custkey
         |  AND current_addr.ca_address_sk = c_custkey
         |  AND current_addr.ca_city <> bought_city
         |ORDER BY c_name, ss_ticket_number, ca_city, bought_city,
         |  extended_price, extended_coupon
         |LIMIT 100""".stripMargin,

    "qw7_tpcds_q64" ->
      s"""WITH $dsCte,
         |cs_ui AS (
         |  SELECT cs_item_sk,
         |    sum(cs_ext_sales_price) AS sale,
         |    sum(cr_return_amount) AS refund
         |  FROM catalog_sales, catalog_returns
         |  WHERE cs_item_sk = cr_item_sk
         |    AND cs_order_number = cr_order_number
         |  GROUP BY cs_item_sk
         |  HAVING round(sum(cs_ext_sales_price) + 5e-7, 2)
         |    > round(1.05 * sum(cr_return_amount) + 5e-7, 2)),
         |cross_sales AS (
         |  SELECT i_item_id AS item_id, ss_item_sk AS item_sk,
         |    s_store_name AS store_name, d1.d_year AS syear,
         |    count(*) AS cnt,
         |    round(sum(ss_ext_sales_price) + 5e-7, 2) AS s1,
         |    round(sum(ss_coupon_amt) + 5e-7, 2) AS s2,
         |    round(sum(ss_net_profit) + 5e-7, 2) AS s3
         |  FROM store_sales, store_returns, cs_ui, date_dim d1,
         |    store, item, customer, customer_address ad1,
         |    customer_address ad2
         |  WHERE ss_item_sk = sr_item_sk
         |    AND ss_ticket_number = sr_ticket_number
         |    AND ss_item_sk = cs_ui.cs_item_sk
         |    AND ss_sold_date_sk = d1.d_date_sk
         |    AND ss_store_sk = s_store_sk
         |    AND ss_customer_sk = c_custkey
         |    AND ss_addr_sk = ad1.ca_address_sk
         |    AND c_custkey = ad2.ca_address_sk
         |    AND i_item_sk = ss_item_sk
         |    AND i_current_price BETWEEN 900 AND 980
         |  GROUP BY i_item_id, ss_item_sk, s_store_name, d1.d_year)
         |SELECT cs1.item_id, cs1.store_name,
         |  CAST(cs1.syear AS BIGINT) AS syear1,
         |  CAST(cs1.cnt AS BIGINT) AS cnt1,
         |  cs1.s1 AS s1_1, cs1.s2 AS s2_1, cs1.s3 AS s3_1,
         |  CAST(cs2.syear AS BIGINT) AS syear2,
         |  CAST(cs2.cnt AS BIGINT) AS cnt2,
         |  cs2.s1 AS s1_2, cs2.s2 AS s2_2, cs2.s3 AS s3_2
         |FROM cross_sales cs1, cross_sales cs2
         |WHERE cs1.item_sk = cs2.item_sk
         |  AND cs1.syear = 1998 AND cs2.syear = 1999
         |  AND cs2.cnt <= cs1.cnt
         |  AND cs1.store_name = cs2.store_name
         |ORDER BY cs1.item_id, cs1.store_name, cnt2, s1_1, s1_2
         |LIMIT 100""".stripMargin,

    "qw8_tpcds_q11" ->
      s"""WITH $dsCte,
         |year_total AS (
         |  SELECT ss_customer_sk AS c_sk, d_year,
         |    round(sum(ss_ext_sales_price - ss_coupon_amt) + 5e-7, 2)
         |      AS total, 's' AS channel
         |  FROM store_sales, date_dim
         |  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |  GROUP BY ss_customer_sk, d_year
         |  UNION ALL
         |  SELECT ws_bill_customer_sk AS c_sk, d_year,
         |    round(sum(ws_ext_sales_price - ws_ext_discount_amt) + 5e-7, 2)
         |      AS total, 'w' AS channel
         |  FROM web_sales, date_dim
         |  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
         |  GROUP BY ws_bill_customer_sk, d_year)
         |SELECT c_name AS customer_name,
         |  CAST(t_s_fy.c_sk AS BIGINT) AS customer
         |FROM year_total t_s_fy, year_total t_s_sy,
         |     year_total t_w_fy, year_total t_w_sy, customer
         |WHERE t_s_fy.c_sk = t_s_sy.c_sk AND t_s_fy.c_sk = t_w_fy.c_sk
         |  AND t_s_fy.c_sk = t_w_sy.c_sk AND t_s_fy.c_sk = c_custkey
         |  AND t_s_fy.channel = 's' AND t_s_fy.d_year = 1998
         |  AND t_s_sy.channel = 's' AND t_s_sy.d_year = 1999
         |  AND t_w_fy.channel = 'w' AND t_w_fy.d_year = 1998
         |  AND t_w_sy.channel = 'w' AND t_w_sy.d_year = 1999
         |  AND t_s_fy.total > 0 AND t_w_fy.total > 0
         |  AND t_w_sy.total / t_w_fy.total > t_s_sy.total / t_s_fy.total
         |ORDER BY customer
         |LIMIT 100""".stripMargin,

    "qw9_tpcds_q12" ->
      s"""WITH $dsCte
         |SELECT i_item_id, i_category, i_class, i_current_price,
         |  round(sum(ws_ext_sales_price), 2) AS itemrevenue,
         |  round(sum(ws_ext_sales_price) * 100.0 /
         |    sum(sum(ws_ext_sales_price)) OVER (PARTITION BY i_class), 4)
         |    AS revenueratio
         |FROM web_sales, item, date_dim
         |WHERE ws_item_sk = i_item_sk
         |  AND i_category IN ('STANDARD', 'SMALL', 'MEDIUM')
         |  AND ws_sold_date_sk = d_date_sk
         |  AND d_date BETWEEN DATE '1999-02-22'
         |    AND (DATE '1999-02-22' + INTERVAL 30 DAY)
         |GROUP BY i_item_id, i_class, i_category, i_current_price
         |ORDER BY i_category, i_class, i_item_id
         |LIMIT 100""".stripMargin,

    "qx0_tpcds_q20" ->
      s"""WITH $dsCte
         |SELECT i_item_id, i_category, i_class, i_current_price,
         |  round(sum(cs_ext_sales_price), 2) AS itemrevenue,
         |  round(sum(cs_ext_sales_price) * 100.0 /
         |    sum(sum(cs_ext_sales_price)) OVER (PARTITION BY i_class), 4)
         |    AS revenueratio
         |FROM catalog_sales, item, date_dim
         |WHERE cs_item_sk = i_item_sk
         |  AND i_category IN ('STANDARD', 'SMALL', 'MEDIUM')
         |  AND cs_sold_date_sk = d_date_sk
         |  AND d_date BETWEEN DATE '1999-02-22'
         |    AND (DATE '1999-02-22' + INTERVAL 30 DAY)
         |GROUP BY i_item_id, i_class, i_category, i_current_price
         |ORDER BY i_category, i_class, i_item_id
         |LIMIT 100""".stripMargin,

    "qx1_tpcds_q26" ->
      s"""WITH $dsCte
         |SELECT i_item_id,
         |  round(avg(cs_quantity) + 5e-7, 2) agg1,
         |  round(avg(cs_list_price) + 5e-7, 2) agg2,
         |  round(avg(cs_coupon_amt) + 5e-7, 2) agg3,
         |  round(avg(cs_sales_price) + 5e-7, 2) agg4
         |FROM catalog_sales, customer_demographics, date_dim, item,
         |  promotion
         |WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
         |  AND cs_bill_cdemo_sk = cd_demo_sk AND cs_promo_sk = p_promo_sk
         |  AND cd_gender = 'F' AND cd_marital_status = 'M'
         |  AND cd_education_status = 'Primary'
         |  AND (p_channel_email = 'N' OR p_channel_event = 'N')
         |  AND d_year = 1998
         |GROUP BY i_item_id
         |ORDER BY i_item_id
         |LIMIT 100""".stripMargin,

    "qx2_tpcds_q32" ->
      s"""WITH $dsCte
         |SELECT round(sum(cs_ext_discount_amt) + 5e-7, 2)
         |    AS excess_discount
         |FROM catalog_sales cs1, item, date_dim
         |WHERE i_item_sk = cs1.cs_item_sk
         |  AND i_manufact_id BETWEEN 300 AND 600
         |  AND d_date BETWEEN DATE '1999-02-22' AND DATE '1999-05-23'
         |  AND d_date_sk = cs1.cs_sold_date_sk
         |  AND cs1.cs_ext_discount_amt > (
         |    SELECT 1.3 * avg(cs_ext_discount_amt)
         |    FROM catalog_sales cs2, date_dim
         |    WHERE cs2.cs_item_sk = i_item_sk
         |      AND d_date BETWEEN DATE '1999-02-22' AND DATE '1999-05-23'
         |      AND d_date_sk = cs2.cs_sold_date_sk)""".stripMargin,

    "qx3_tpcds_q63" ->
      s"""WITH $dsCte
         |SELECT * FROM (
         |  SELECT i_manager_id, d_moy,
         |    round(sum(ss_sales_price) + 5e-7, 2) sum_sales,
         |    round(avg(sum(ss_sales_price)) OVER (
         |      PARTITION BY i_manager_id) + 5e-7, 2) avg_monthly_sales
         |  FROM item, store_sales, date_dim, store
         |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
         |    AND ss_store_sk = s_store_sk AND d_year = 1999
         |    AND ((i_category IN ('LARGE', 'STANDARD')
         |        AND i_class LIKE '%#1')
         |      OR (i_category IN ('ECONOMY', 'MEDIUM')
         |        AND i_class LIKE '%#3'))
         |  GROUP BY i_manager_id, d_moy) tmp1
         |WHERE CASE WHEN avg_monthly_sales > 0
         |  THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
         |  ELSE NULL END > 0.1
         |ORDER BY i_manager_id, avg_monthly_sales, sum_sales, d_moy
         |LIMIT 100""".stripMargin,

    "qx4_tpcds_q56" ->
      s"""WITH $dsCte,
         |sel AS (SELECT i_item_id FROM item
         |  WHERE i_color IN ('red', 'blue', 'green')
         |  GROUP BY i_item_id),
         |x AS (
         |  SELECT i_item_id,
         |    round(sum(ss_ext_sales_price), 2) AS total_sales
         |  FROM store_sales, date_dim, item
         |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |    AND d_year = 1999 AND d_moy = 2
         |    AND i_item_id IN (SELECT i_item_id FROM sel)
         |  GROUP BY i_item_id
         |  UNION ALL
         |  SELECT i_item_id,
         |    round(sum(cs_ext_sales_price), 2) AS total_sales
         |  FROM catalog_sales, date_dim, item
         |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
         |    AND d_year = 1999 AND d_moy = 2
         |    AND i_item_id IN (SELECT i_item_id FROM sel)
         |  GROUP BY i_item_id
         |  UNION ALL
         |  SELECT i_item_id,
         |    round(sum(ws_ext_sales_price), 2) AS total_sales
         |  FROM web_sales, date_dim, item
         |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
         |    AND d_year = 1999 AND d_moy = 2
         |    AND i_item_id IN (SELECT i_item_id FROM sel)
         |  GROUP BY i_item_id)
         |SELECT i_item_id, round(sum(total_sales), 2) AS total_sales
         |FROM x GROUP BY i_item_id
         |ORDER BY total_sales DESC, i_item_id
         |LIMIT 100""".stripMargin,

    "qx5_tpcds_q60" ->
      s"""WITH $dsCte,
         |sel AS (SELECT i_item_id FROM item
         |  WHERE i_category = 'MEDIUM'
         |  GROUP BY i_item_id),
         |x AS (
         |  SELECT i_item_id,
         |    round(sum(ss_ext_sales_price), 2) AS total_sales
         |  FROM store_sales, date_dim, item
         |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |    AND d_year = 1998 AND d_moy = 9
         |    AND i_item_id IN (SELECT i_item_id FROM sel)
         |  GROUP BY i_item_id
         |  UNION ALL
         |  SELECT i_item_id,
         |    round(sum(cs_ext_sales_price), 2) AS total_sales
         |  FROM catalog_sales, date_dim, item
         |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
         |    AND d_year = 1998 AND d_moy = 9
         |    AND i_item_id IN (SELECT i_item_id FROM sel)
         |  GROUP BY i_item_id
         |  UNION ALL
         |  SELECT i_item_id,
         |    round(sum(ws_ext_sales_price), 2) AS total_sales
         |  FROM web_sales, date_dim, item
         |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
         |    AND d_year = 1998 AND d_moy = 9
         |    AND i_item_id IN (SELECT i_item_id FROM sel)
         |  GROUP BY i_item_id)
         |SELECT i_item_id, round(sum(total_sales), 2) AS total_sales
         |FROM x GROUP BY i_item_id
         |ORDER BY total_sales DESC, i_item_id
         |LIMIT 100""".stripMargin,

    "qx6_tpcds_q71" ->
      s"""WITH $dsCte
         |SELECT i_brand_id AS brand_id, i_brand AS brand,
         |  t_hour, t_minute,
         |  round(sum(ext_price), 2) AS ext_price
         |FROM item,
         |  (SELECT ws_ext_sales_price AS ext_price,
         |     ws_item_sk AS sold_item_sk, ws_sold_time_sk AS time_sk
         |   FROM web_sales, date_dim
         |   WHERE d_date_sk = ws_sold_date_sk
         |     AND d_moy = 11 AND d_year = 1998
         |   UNION ALL
         |   SELECT cs_ext_sales_price, cs_item_sk, cs_sold_time_sk
         |   FROM catalog_sales, date_dim
         |   WHERE d_date_sk = cs_sold_date_sk
         |     AND d_moy = 11 AND d_year = 1998
         |   UNION ALL
         |   SELECT ss_ext_sales_price, ss_item_sk, ss_sold_time_sk
         |   FROM store_sales, date_dim
         |   WHERE d_date_sk = ss_sold_date_sk
         |     AND d_moy = 11 AND d_year = 1998) tmp, time_dim
         |WHERE sold_item_sk = i_item_sk AND i_manager_id BETWEEN 1 AND 50
         |  AND time_sk = t_time_sk AND (t_hour = 8 OR t_hour = 19)
         |GROUP BY i_brand, i_brand_id, t_hour, t_minute
         |ORDER BY ext_price DESC, brand_id, t_hour, t_minute
         |LIMIT 100""".stripMargin,

    "qx7_tpcds_q41" ->
      s"""WITH $dsCte
         |SELECT DISTINCT i_product_name
         |FROM item i1
         |WHERE i_manufact_id BETWEEN 2 AND 42
         |  AND (SELECT count(*) FROM item
         |    WHERE (i_manufact_id = i1.i_manufact_id
         |      AND ((i_category = 'STANDARD'
         |          AND (i_color = 'red' OR i_color = 'blue')
         |          AND (i_units = 'Oz' OR i_units = 'Lb')
         |          AND (i_size = 'small' OR i_size = 'medium'))
         |        OR (i_category = 'ECONOMY'
         |          AND (i_color = 'green' OR i_color = 'white')
         |          AND (i_units = 'Ton' OR i_units = 'Gram')
         |          AND (i_size = 'large' OR i_size = 'petite'))))
         |      OR (i_manufact_id = i1.i_manufact_id
         |      AND ((i_category = 'PROMO'
         |          AND (i_color = 'yellow' OR i_color = 'black')
         |          AND (i_units = 'Box' OR i_units = 'Oz')
         |          AND (i_size = 'small' OR i_size = 'large'))
         |        OR (i_category = 'SMALL'
         |          AND (i_color = 'pink' OR i_color = 'orange')
         |          AND (i_units = 'Lb' OR i_units = 'Gram')
         |          AND (i_size = 'medium' OR i_size = 'petite'))))) > 0
         |ORDER BY i_product_name
         |LIMIT 100""".stripMargin,

    "qx8_tpcds_q48" ->
      s"""WITH $dsCte
         |SELECT CAST(sum(ss_quantity) AS BIGINT) AS total_qty
         |FROM store_sales, store, customer_demographics,
         |  customer_address, date_dim
         |WHERE s_store_sk = ss_store_sk
         |  AND ss_sold_date_sk = d_date_sk AND d_year = 1998
         |  AND ss_cdemo_sk = cd_demo_sk
         |  AND ((cd_marital_status = 'M'
         |      AND cd_education_status = 'Advanced Degree'
         |      AND ss_sales_price BETWEEN 900 AND 950)
         |    OR (cd_marital_status = 'S'
         |      AND cd_education_status = 'College'
         |      AND ss_sales_price BETWEEN 850 AND 900)
         |    OR (cd_marital_status = 'D'
         |      AND cd_education_status = 'Primary'
         |      AND ss_sales_price BETWEEN 950 AND 1000))
         |  AND ss_addr_sk = ca_address_sk
         |  AND ((ca_state IN ('TX', 'NY', 'CA')
         |      AND ss_net_profit BETWEEN 0 AND 2000)
         |    OR (ca_state IN ('WA', 'OR')
         |      AND ss_net_profit BETWEEN 150 AND 3000)
         |    OR (ca_state IN ('TN', 'FL')
         |      AND ss_net_profit BETWEEN 50 AND 25000))""".stripMargin,

    "qx9_tpcds_q76" ->
      s"""WITH $dsCte
         |SELECT channel, col_name, d_year, d_qoy, i_category,
         |  count(*) AS sales_cnt,
         |  round(sum(ext_sales_price), 2) AS sales_amt
         |FROM (
         |  SELECT 'store' AS channel, 'ss_addr_sk' AS col_name,
         |    d_year, d_qoy, i_category,
         |    ss_ext_sales_price AS ext_sales_price
         |  FROM store_sales, item, date_dim
         |  WHERE ss_addr_sk IS NULL
         |    AND ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
         |  UNION ALL
         |  SELECT 'web' AS channel, 'ws_ship_customer_sk' AS col_name,
         |    d_year, d_qoy, i_category,
         |    ws_ext_sales_price AS ext_sales_price
         |  FROM web_sales, item, date_dim
         |  WHERE ws_ship_customer_sk IS NULL
         |    AND ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
         |  UNION ALL
         |  SELECT 'catalog' AS channel, 'cs_ship_addr_sk' AS col_name,
         |    d_year, d_qoy, i_category,
         |    cs_ext_sales_price AS ext_sales_price
         |  FROM catalog_sales, item, date_dim
         |  WHERE cs_ship_addr_sk IS NULL
         |    AND cs_sold_date_sk = d_date_sk
         |    AND cs_item_sk = i_item_sk) foo
         |GROUP BY channel, col_name, d_year, d_qoy, i_category
         |ORDER BY channel, col_name, d_year, d_qoy, i_category
         |LIMIT 100""".stripMargin,

    "qy0_tpcds_q9" ->
      s"""WITH $dsCte
         |SELECT CASE WHEN (SELECT count(*) FROM store_sales
         |    WHERE ss_quantity BETWEEN 1 AND 10) > 10000
         |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10)
         |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 1 AND 10)
         |  END AS bucket1,
         |  CASE WHEN (SELECT count(*) FROM store_sales
         |    WHERE ss_quantity BETWEEN 11 AND 20) > 8000
         |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20)
         |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 11 AND 20)
         |  END AS bucket2,
         |  CASE WHEN (SELECT count(*) FROM store_sales
         |    WHERE ss_quantity BETWEEN 21 AND 30) > 6000
         |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30)
         |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 21 AND 30)
         |  END AS bucket3,
         |  CASE WHEN (SELECT count(*) FROM store_sales
         |    WHERE ss_quantity BETWEEN 31 AND 40) > 4000
         |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40)
         |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 31 AND 40)
         |  END AS bucket4,
         |  CASE WHEN (SELECT count(*) FROM store_sales
         |    WHERE ss_quantity BETWEEN 41 AND 50) > 2000
         |  THEN (SELECT round(avg(ss_ext_sales_price) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50)
         |  ELSE (SELECT round(avg(ss_net_profit) + 5e-7, 2)
         |    FROM store_sales WHERE ss_quantity BETWEEN 41 AND 50)
         |  END AS bucket5
         |FROM reason WHERE r_reason_sk = 1""".stripMargin,

    "qy1_tpcds_q10" ->
      s"""WITH $dsCte
         |SELECT cd_gender, cd_marital_status, cd_education_status,
         |  CAST(count(*) AS BIGINT) AS cnt1, cd_purchase_estimate,
         |  CAST(count(*) AS BIGINT) AS cnt2, cd_credit_rating,
         |  CAST(count(*) AS BIGINT) AS cnt3, cd_dep_count,
         |  CAST(count(*) AS BIGINT) AS cnt4, cd_dep_employed_count,
         |  CAST(count(*) AS BIGINT) AS cnt5, cd_dep_college_count,
         |  CAST(count(*) AS BIGINT) AS cnt6
         |FROM customer c, customer_address ca, customer_demographics
         |WHERE c.c_custkey = ca.ca_address_sk
         |  AND ca_state IN ('TX', 'NY')
         |  AND cd_demo_sk = c.c_custkey
         |  AND EXISTS (SELECT * FROM store_sales, date_dim
         |    WHERE c.c_custkey = ss_customer_sk
         |      AND ss_sold_date_sk = d_date_sk
         |      AND d_year = 1998 AND d_moy BETWEEN 1 AND 4)
         |  AND (EXISTS (SELECT * FROM web_sales, date_dim
         |    WHERE c.c_custkey = ws_bill_customer_sk
         |      AND ws_sold_date_sk = d_date_sk
         |      AND d_year = 1998 AND d_moy BETWEEN 1 AND 4)
         |  OR EXISTS (SELECT * FROM catalog_sales, date_dim
         |    WHERE c.c_custkey = cs_bill_customer_sk
         |      AND cs_sold_date_sk = d_date_sk
         |      AND d_year = 1998 AND d_moy BETWEEN 1 AND 4))
         |GROUP BY cd_gender, cd_marital_status, cd_education_status,
         |  cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         |  cd_dep_employed_count, cd_dep_college_count
         |ORDER BY cd_gender, cd_marital_status, cd_education_status,
         |  cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         |  cd_dep_employed_count, cd_dep_college_count
         |LIMIT 100""".stripMargin,

    "qy2_tpcds_q40" ->
      s"""WITH $dsCte
         |SELECT w_state, i_item_id,
         |  round(sum(CASE WHEN d_date < DATE '1998-06-01'
         |    THEN cs_sales_price - coalesce(cr_return_amount, 0)
         |    ELSE 0 END) + 5e-7, 2) AS sales_before,
         |  round(sum(CASE WHEN d_date >= DATE '1998-06-01'
         |    THEN cs_sales_price - coalesce(cr_return_amount, 0)
         |    ELSE 0 END) + 5e-7, 2) AS sales_after
         |FROM catalog_sales LEFT OUTER JOIN catalog_returns
         |    ON (cs_order_number = cr_order_number
         |      AND cs_item_sk = cr_item_sk),
         |  warehouse, item, date_dim
         |WHERE i_current_price BETWEEN 920 AND 950
         |  AND i_item_sk = cs_item_sk
         |  AND cs_warehouse_sk = w_warehouse_sk
         |  AND cs_sold_date_sk = d_date_sk
         |  AND d_date BETWEEN DATE '1998-05-02' AND DATE '1998-07-01'
         |GROUP BY w_state, i_item_id
         |ORDER BY w_state, i_item_id
         |LIMIT 100""".stripMargin,

    "qy3_tpcds_q50" ->
      s"""WITH $dsCte
         |SELECT s_store_name, s_store_id,
         |  CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk <= 30
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d30,
         |  CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 30
         |    AND sr_returned_date_sk - ss_sold_date_sk <= 60
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d60,
         |  CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 60
         |    AND sr_returned_date_sk - ss_sold_date_sk <= 90
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d90,
         |  CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 90
         |    AND sr_returned_date_sk - ss_sold_date_sk <= 120
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d120,
         |  CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 120
         |    THEN 1 ELSE 0 END) AS BIGINT) AS dmore
         |FROM store_sales, store_returns, store, date_dim d1, date_dim d2
         |WHERE d2.d_year = 1998 AND d2.d_moy = 8
         |  AND ss_ticket_number = sr_ticket_number
         |  AND ss_item_sk = sr_item_sk
         |  AND ss_customer_sk = sr_customer_sk
         |  AND ss_store_sk = sr_store_sk
         |  AND ss_sold_date_sk = d1.d_date_sk
         |  AND sr_returned_date_sk = d2.d_date_sk
         |  AND ss_store_sk = s_store_sk
         |GROUP BY s_store_name, s_store_id
         |ORDER BY s_store_name, s_store_id
         |LIMIT 100""".stripMargin,

    "qy4_tpcds_q81" ->
      s"""WITH $dsCte,
         |customer_total_return AS (
         |  SELECT cr_returning_customer_sk AS ctr_customer_sk,
         |    ca_state AS ctr_state,
         |    round(sum(cr_return_amount) + 5e-7, 2) AS ctr_total_return
         |  FROM catalog_returns, date_dim, customer_address
         |  WHERE cr_returned_date_sk = d_date_sk AND d_year = 1998
         |    AND cr_returning_customer_sk = ca_address_sk
         |  GROUP BY cr_returning_customer_sk, ca_state)
         |SELECT c_name, ctr1.ctr_total_return AS total_return
         |FROM customer_total_return ctr1, customer_address, customer c
         |WHERE ctr1.ctr_total_return > (
         |    SELECT avg(ctr_total_return) * 1.2
         |    FROM customer_total_return ctr2
         |    WHERE ctr1.ctr_state = ctr2.ctr_state)
         |  AND ca_address_sk = c.c_custkey
         |  AND ca_state = 'TX'
         |  AND ctr1.ctr_customer_sk = c.c_custkey
         |ORDER BY c_name, total_return
         |LIMIT 100""".stripMargin,

    "qy5_tpcds_q99" ->
      s"""WITH $dsCte
         |SELECT w_warehouse_name, sm_type, cc_name,
         |  CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk <= 30
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d30,
         |  CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 30
         |    AND cs_ship_date_sk - cs_sold_date_sk <= 60
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d60,
         |  CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 60
         |    AND cs_ship_date_sk - cs_sold_date_sk <= 90
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d90,
         |  CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 90
         |    AND cs_ship_date_sk - cs_sold_date_sk <= 120
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d120,
         |  CAST(sum(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 120
         |    THEN 1 ELSE 0 END) AS BIGINT) AS dmore
         |FROM catalog_sales, warehouse, ship_mode, call_center, date_dim
         |WHERE cs_ship_date_sk = d_date_sk AND d_year = 1998
         |  AND cs_warehouse_sk = w_warehouse_sk
         |  AND cs_ship_mode_sk = sm_ship_mode_sk
         |  AND cs_call_center_sk = cc_call_center_sk
         |GROUP BY w_warehouse_name, sm_type, cc_name
         |ORDER BY w_warehouse_name, sm_type, cc_name
         |LIMIT 100""".stripMargin,

    "qy6_tpcds_q18" ->
      s"""WITH $dsCte
         |SELECT i_item_id, ca_state, ca_city,
         |  round(avg(cs_quantity) + 5e-7, 2) AS agg1,
         |  round(avg(cs_list_price) + 5e-7, 2) AS agg2,
         |  round(avg(cs_coupon_amt) + 5e-7, 2) AS agg3,
         |  round(avg(cs_sales_price) + 5e-7, 2) AS agg4,
         |  round(avg(1920 + c_custkey % 70) + 5e-7, 2) AS agg5,
         |  round(avg(cd_dep_count) + 5e-7, 2) AS agg6
         |FROM catalog_sales, customer_demographics, customer c,
         |  customer_address, date_dim, item
         |WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
         |  AND cs_item_sk = i_item_sk
         |  AND cs_bill_cdemo_sk = cd_demo_sk
         |  AND cs_bill_customer_sk = c.c_custkey
         |  AND cd_gender = 'M' AND cd_education_status = 'College'
         |  AND c.c_custkey % 12 + 1 IN (1, 2, 6, 8, 9, 12)
         |  AND c.c_custkey = ca_address_sk
         |GROUP BY ROLLUP(i_item_id, ca_state, ca_city)
         |ORDER BY i_item_id NULLS FIRST, ca_state NULLS FIRST,
         |  ca_city NULLS FIRST
         |LIMIT 100""".stripMargin,

    "qy7_tpcds_q24" ->
      s"""WITH $dsCte,
         |ssales AS (
         |  SELECT c_name, s_store_name, i_color,
         |    sum(ss_ext_sales_price) AS netpaid
         |  FROM store_sales, store_returns, store, item, customer,
         |    customer_address
         |  WHERE ss_ticket_number = sr_ticket_number
         |    AND ss_item_sk = sr_item_sk
         |    AND ss_customer_sk = c_custkey
         |    AND ss_store_sk = s_store_sk
         |    AND ss_item_sk = i_item_sk
         |    AND c_custkey = ca_address_sk
         |    AND s_state = ca_state
         |  GROUP BY c_name, s_store_name, i_color)
         |SELECT c_name, s_store_name, round(sum(netpaid), 2) AS paid
         |FROM ssales
         |WHERE i_color = 'red'
         |GROUP BY c_name, s_store_name
         |HAVING sum(netpaid) > (SELECT 0.05 * avg(netpaid) FROM ssales)
         |ORDER BY c_name, s_store_name
         |LIMIT 100""".stripMargin,

    "qy8_tpcds_q44" ->
      s"""WITH $dsCte,
         |v AS (
         |  SELECT ss_item_sk AS item_sk,
         |    round(avg(ss_net_profit) + 5e-7, 2) AS rank_col
         |  FROM store_sales
         |  WHERE ss_store_sk = 4
         |  GROUP BY ss_item_sk
         |  HAVING avg(ss_net_profit) > 0.9 * (
         |    SELECT avg(ss_net_profit)
         |    FROM store_sales
         |    WHERE ss_store_sk = 4 AND ss_addr_sk IS NULL)),
         |asceding AS (
         |  SELECT item_sk,
         |    rank() OVER (ORDER BY rank_col ASC, item_sk ASC) AS rnk
         |  FROM v),
         |descending AS (
         |  SELECT item_sk,
         |    rank() OVER (ORDER BY rank_col DESC, item_sk DESC) AS rnk
         |  FROM v)
         |SELECT a.rnk AS rnk, i1.i_product_name AS best_performing,
         |  i2.i_product_name AS worst_performing
         |FROM asceding a, descending d, item i1, item i2
         |WHERE a.rnk = d.rnk AND a.rnk < 11
         |  AND i1.i_item_sk = a.item_sk AND i2.i_item_sk = d.item_sk
         |ORDER BY a.rnk""".stripMargin,

    "qy9_tpcds_q54" ->
      s"""WITH $dsCte,
         |my_customers AS (
         |  SELECT DISTINCT c_custkey
         |  FROM (SELECT cs_sold_date_sk AS sold_date_sk,
         |          cs_bill_customer_sk AS customer_sk,
         |          cs_item_sk AS item_sk
         |        FROM catalog_sales
         |        UNION ALL
         |        SELECT ws_sold_date_sk, ws_bill_customer_sk, ws_item_sk
         |        FROM web_sales) sales, item, date_dim, customer
         |  WHERE sold_date_sk = d_date_sk AND item_sk = i_item_sk
         |    AND i_category = 'PROMO' AND i_class = 'PROMO#1'
         |    AND d_moy = 3 AND d_year = 1998
         |    AND customer_sk = c_custkey),
         |my_revenue AS (
         |  SELECT c_custkey AS customer_sk,
         |    sum(ss_ext_sales_price) AS revenue
         |  FROM my_customers, store_sales, customer_address, store,
         |    date_dim
         |  WHERE c_custkey = ss_customer_sk
         |    AND ca_address_sk = c_custkey
         |    AND ca_state = s_state
         |    AND ss_sold_date_sk = d_date_sk
         |    AND d_month_seq BETWEEN (SELECT DISTINCT d_month_seq + 1
         |        FROM date_dim WHERE d_year = 1998 AND d_moy = 3)
         |      AND (SELECT DISTINCT d_month_seq + 3
         |        FROM date_dim WHERE d_year = 1998 AND d_moy = 3)
         |  GROUP BY c_custkey),
         |segments AS (
         |  SELECT CAST(floor(round(revenue + 5e-7, 2) / 50) AS BIGINT)
         |    AS segment
         |  FROM my_revenue)
         |SELECT segment, CAST(count(*) AS BIGINT) AS num_customers,
         |  segment * 50 AS segment_base
         |FROM segments
         |GROUP BY segment
         |ORDER BY segment, num_customers
         |LIMIT 100""".stripMargin,

    "qz0_tpcds_q58" ->
      s"""WITH $dsCte,
         |ss_items AS (
         |  SELECT i_item_id AS item_id,
         |    sum(ss_ext_sales_price) AS ss_rev
         |  FROM store_sales, item, date_dim
         |  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
         |    AND d_date IN (SELECT d_date FROM date_dim
         |      WHERE d_month_seq IN (SELECT DISTINCT d_month_seq
         |        FROM date_dim WHERE d_year = 1997))
         |  GROUP BY i_item_id),
         |cs_items AS (
         |  SELECT i_item_id AS item_id,
         |    sum(cs_ext_sales_price) AS cs_rev
         |  FROM catalog_sales, item, date_dim
         |  WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
         |    AND d_date IN (SELECT d_date FROM date_dim
         |      WHERE d_month_seq IN (SELECT DISTINCT d_month_seq
         |        FROM date_dim WHERE d_year = 1997))
         |  GROUP BY i_item_id),
         |ws_items AS (
         |  SELECT i_item_id AS item_id,
         |    sum(ws_ext_sales_price) AS ws_rev
         |  FROM web_sales, item, date_dim
         |  WHERE ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
         |    AND d_date IN (SELECT d_date FROM date_dim
         |      WHERE d_month_seq IN (SELECT DISTINCT d_month_seq
         |        FROM date_dim WHERE d_year = 1997))
         |  GROUP BY i_item_id)
         |SELECT ssi.item_id,
         |  round(ss_rev - cs_rev - ws_rev + 5e-7, 2) AS so_item_rev,
         |  round(cs_rev, 2) AS cs_item_rev,
         |  round(ws_rev, 2) AS ws_item_rev,
         |  round(ss_rev / 3 + 5e-7, 2) AS average
         |FROM ss_items ssi, cs_items csi, ws_items wsi
         |WHERE ssi.item_id = csi.item_id AND ssi.item_id = wsi.item_id
         |  AND ss_rev - cs_rev - ws_rev BETWEEN 0.9 * cs_rev
         |    AND 1.1 * cs_rev
         |  AND ss_rev - cs_rev - ws_rev BETWEEN 0.9 * ws_rev
         |    AND 1.1 * ws_rev
         |  AND cs_rev BETWEEN 0.9 * (ss_rev - cs_rev - ws_rev)
         |    AND 1.1 * (ss_rev - cs_rev - ws_rev)
         |  AND cs_rev BETWEEN 0.9 * ws_rev AND 1.1 * ws_rev
         |  AND ws_rev BETWEEN 0.9 * (ss_rev - cs_rev - ws_rev)
         |    AND 1.1 * (ss_rev - cs_rev - ws_rev)
         |  AND ws_rev BETWEEN 0.9 * cs_rev AND 1.1 * cs_rev
         |ORDER BY ssi.item_id
         |LIMIT 100""".stripMargin,

    "qz1_tpcds_q77" ->
      s"""WITH $dsCte,
         |ss AS (
         |  SELECT ss_store_sk AS store_sk,
         |    sum(ss_ext_sales_price) AS sales,
         |    sum(ss_net_profit) AS profit
         |  FROM store_sales, date_dim
         |  WHERE ss_sold_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |  GROUP BY ss_store_sk),
         |sr AS (
         |  SELECT sr_store_sk AS store_sk,
         |    sum(sr_return_amt) AS returns_amt,
         |    sum(sr_return_amt) * 0.1 AS profit_loss
         |  FROM store_returns, date_dim
         |  WHERE sr_returned_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |  GROUP BY sr_store_sk),
         |cs AS (
         |  SELECT cs_call_center_sk AS cc_sk,
         |    sum(cs_ext_sales_price) AS sales,
         |    sum(cs_net_profit) AS profit
         |  FROM catalog_sales, date_dim
         |  WHERE cs_sold_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |  GROUP BY cs_call_center_sk),
         |cr AS (
         |  SELECT cr_call_center_sk AS cc_sk,
         |    sum(cr_return_amount) AS returns_amt,
         |    sum(cr_return_amount) * 0.1 AS profit_loss
         |  FROM catalog_returns, date_dim
         |  WHERE cr_returned_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |  GROUP BY cr_call_center_sk),
         |ws AS (
         |  SELECT ws_web_site_sk AS site_sk,
         |    sum(ws_ext_sales_price) AS sales,
         |    sum(ws_net_profit) AS profit
         |  FROM web_sales, date_dim
         |  WHERE ws_sold_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |  GROUP BY ws_web_site_sk),
         |wr AS (
         |  SELECT wr_web_site_sk AS site_sk,
         |    sum(wr_return_amt) AS returns_amt,
         |    sum(wr_return_amt) * 0.1 AS profit_loss
         |  FROM web_returns, date_dim
         |  WHERE wr_returned_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |  GROUP BY wr_web_site_sk)
         |SELECT channel, id,
         |  round(sum(sales), 2) AS sales,
         |  round(sum(returns_amt) + 5e-7, 2) AS returns_amt,
         |  round(sum(profit) + 5e-7, 2) AS profit
         |FROM (
         |  SELECT 'store channel' AS channel, ss.store_sk AS id, sales,
         |    coalesce(returns_amt, 0) AS returns_amt,
         |    profit - coalesce(profit_loss, 0) AS profit
         |  FROM ss LEFT JOIN sr ON ss.store_sk = sr.store_sk
         |  UNION ALL
         |  SELECT 'catalog channel', cs.cc_sk, sales, returns_amt,
         |    profit - profit_loss
         |  FROM cs JOIN cr ON cs.cc_sk = cr.cc_sk
         |  UNION ALL
         |  SELECT 'web channel', ws.site_sk, sales,
         |    coalesce(returns_amt, 0),
         |    profit - coalesce(profit_loss, 0)
         |  FROM ws LEFT JOIN wr ON ws.site_sk = wr.site_sk) x
         |GROUP BY ROLLUP(channel, id)
         |ORDER BY channel NULLS FIRST, id NULLS FIRST""".stripMargin,

    "qz2_tpcds_q80" ->
      s"""WITH $dsCte,
         |ssr AS (
         |  SELECT concat('store', CAST(s_store_sk AS VARCHAR)) AS id,
         |    sum(ss_ext_sales_price) AS sales,
         |    sum(coalesce(sr_return_amt, 0)) AS returns_amt,
         |    sum(ss_net_profit - coalesce(sr_return_amt, 0) * 0.1)
         |      AS profit
         |  FROM store_sales LEFT OUTER JOIN store_returns
         |      ON ss_ticket_number = sr_ticket_number
         |      AND ss_item_sk = sr_item_sk,
         |    date_dim, store, item, promotion
         |  WHERE ss_sold_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |    AND ss_store_sk = s_store_sk
         |    AND ss_item_sk = i_item_sk AND i_current_price > 950
         |    AND ss_promo_sk = p_promo_sk AND p_channel_event = 'N'
         |  GROUP BY s_store_sk),
         |csr AS (
         |  SELECT concat('call_center',
         |      CAST(cc_call_center_sk AS VARCHAR)) AS id,
         |    sum(cs_ext_sales_price) AS sales,
         |    sum(coalesce(cr_return_amount, 0)) AS returns_amt,
         |    sum(cs_net_profit - coalesce(cr_return_amount, 0) * 0.1)
         |      AS profit
         |  FROM catalog_sales LEFT OUTER JOIN catalog_returns
         |      ON cs_order_number = cr_order_number
         |      AND cs_item_sk = cr_item_sk,
         |    date_dim, call_center, item, promotion
         |  WHERE cs_sold_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |    AND cs_call_center_sk = cc_call_center_sk
         |    AND cs_item_sk = i_item_sk AND i_current_price > 950
         |    AND cs_promo_sk = p_promo_sk AND p_channel_event = 'N'
         |  GROUP BY cc_call_center_sk),
         |wsr AS (
         |  SELECT concat('web_site', CAST(ws_web_site_sk AS VARCHAR))
         |    AS id,
         |    sum(ws_ext_sales_price) AS sales,
         |    sum(coalesce(wr_return_amt, 0)) AS returns_amt,
         |    sum(ws_net_profit - coalesce(wr_return_amt, 0) * 0.1)
         |      AS profit
         |  FROM web_sales LEFT OUTER JOIN web_returns
         |      ON ws_order_number = wr_order_number
         |      AND ws_item_sk = wr_item_sk,
         |    date_dim, item, promotion
         |  WHERE ws_sold_date_sk = d_date_sk
         |    AND d_date BETWEEN DATE '1997-08-04' AND DATE '1997-09-03'
         |    AND ws_item_sk = i_item_sk AND i_current_price > 950
         |    AND ws_promo_sk = p_promo_sk AND p_channel_event = 'N'
         |  GROUP BY ws_web_site_sk)
         |SELECT channel, id,
         |  round(sum(sales), 2) AS sales,
         |  round(sum(returns_amt) + 5e-7, 2) AS returns_amt,
         |  round(sum(profit) + 5e-7, 2) AS profit
         |FROM (SELECT 'store channel' AS channel, id, sales,
         |        returns_amt, profit
         |      FROM ssr
         |      UNION ALL
         |      SELECT 'catalog channel', id, sales, returns_amt, profit
         |      FROM csr
         |      UNION ALL
         |      SELECT 'web channel', id, sales, returns_amt, profit
         |      FROM wsr) x
         |GROUP BY ROLLUP(channel, id)
         |ORDER BY channel NULLS FIRST, id NULLS FIRST
         |LIMIT 100""".stripMargin,

    "qz3_tpcds_q83" ->
      s"""WITH $dsCte,
         |sr_items AS (
         |  SELECT i_item_id AS item_id,
         |    sum(sr_return_quantity) AS sr_item_qty
         |  FROM store_returns, item, date_dim
         |  WHERE sr_item_sk = i_item_sk
         |    AND d_date IN (SELECT d_date FROM date_dim
         |      WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
         |        WHERE d_date IN (DATE '1997-03-02', DATE '1997-06-15',
         |          DATE '1997-09-10')))
         |    AND sr_returned_date_sk = d_date_sk
         |  GROUP BY i_item_id),
         |cr_items AS (
         |  SELECT i_item_id AS item_id,
         |    sum(cr_return_quantity) AS cr_item_qty
         |  FROM catalog_returns, item, date_dim
         |  WHERE cr_item_sk = i_item_sk
         |    AND d_date IN (SELECT d_date FROM date_dim
         |      WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
         |        WHERE d_date IN (DATE '1997-03-02', DATE '1997-06-15',
         |          DATE '1997-09-10')))
         |    AND cr_returned_date_sk = d_date_sk
         |  GROUP BY i_item_id),
         |wr_items AS (
         |  SELECT i_item_id AS item_id,
         |    sum(wr_return_quantity) AS wr_item_qty
         |  FROM web_returns, item, date_dim
         |  WHERE wr_item_sk = i_item_sk
         |    AND d_date IN (SELECT d_date FROM date_dim
         |      WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
         |        WHERE d_date IN (DATE '1997-03-02', DATE '1997-06-15',
         |          DATE '1997-09-10')))
         |    AND wr_returned_date_sk = d_date_sk
         |  GROUP BY i_item_id)
         |SELECT sri.item_id,
         |  CAST(sr_item_qty AS BIGINT) AS sr_item_qty,
         |  round(sr_item_qty /
         |    ((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0) * 100
         |    + 5e-7, 2) AS sr_dev,
         |  CAST(cr_item_qty AS BIGINT) AS cr_item_qty,
         |  round(cr_item_qty /
         |    ((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0) * 100
         |    + 5e-7, 2) AS cr_dev,
         |  CAST(wr_item_qty AS BIGINT) AS wr_item_qty,
         |  round(wr_item_qty /
         |    ((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0) * 100
         |    + 5e-7, 2) AS wr_dev,
         |  round((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0
         |    + 5e-7, 2) AS average
         |FROM sr_items sri, cr_items cri, wr_items wri
         |WHERE sri.item_id = cri.item_id AND sri.item_id = wri.item_id
         |ORDER BY sri.item_id
         |LIMIT 100""".stripMargin,

    "qz4_tpcds_q84" ->
      s"""WITH $dsCte
         |SELECT c.c_custkey AS customer_sk, c.c_name AS customername
         |FROM customer c, customer_address, customer_demographics,
         |  household_demographics, income_band, store_returns
         |WHERE ca_city = 'City5'
         |  AND c.c_custkey = ca_address_sk
         |  AND ib_lower_bound >= 15000 AND ib_upper_bound <= 65000
         |  AND ib_income_band_sk = hd_income_band_sk
         |  AND hd_demo_sk = c.c_custkey
         |  AND cd_demo_sk = c.c_custkey
         |  AND sr_customer_sk = cd_demo_sk
         |ORDER BY customer_sk
         |LIMIT 100""".stripMargin
  )
}
