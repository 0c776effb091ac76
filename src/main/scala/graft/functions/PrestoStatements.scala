package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DateType, NumericType, StringType, TimestampType}

import PrestoRewrite.rewritePrestoSql

/** The statement-level router: PREPARE / EXECUTE / DEALLOCATE, DESCRIBE
  * (incl. INPUT/OUTPUT), EXPLAIN (VALIDATE/LOGICAL/DISTRIBUTED/IO/
  * ANALYZE), SHOW CREATE/CATALOGS/SESSION/STATS, SET/RESET SESSION,
  * USE, transaction no-ops, ANALYZE, DROP FUNCTION — everything that is
  * not a query expression. Split out of Registry.scala in r7; the
  * public entry point stays `Registry.prestoStatement`. */
private[functions] object PrestoStatements {

  // Presto PREPARE / EXECUTE ... USING (SqlBase.g4 prepare/execute;
  // presto-main QueryPreparer): session-scoped statement store keyed by
  // the session itself (weak keys, the Tables.register stance — no
  // leak, identity semantics). EXECUTE substitutes `?` placeholders
  // positionally with the USING argument texts (string-literal-masked
  // scan, top-level comma split), then runs through the full
  // rewritePrestoSql pipeline — plan-once-bind-later collapses to
  // bind-then-plan, which Spark's codegen cache makes equivalent in
  // practice at session scope.
  private val preparedStmts =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  private val prepareRe = """(?is)^\s*PREPARE\s+([A-Za-z_]\w*)\s+FROM\s+(.+)$""".r
  private val executeRe = """(?is)^\s*EXECUTE\s+([A-Za-z_]\w*)(?:\s+USING\s+(.+))?\s*$""".r
  private val deallocRe = """(?is)^\s*DEALLOCATE\s+PREPARE\s+([A-Za-z_]\w*)\s*$""".r

  /** Split an argument list on top-level commas (strings masked via the
    * shared [[PrestoRewrite.stringMask]] convention, parens and brackets
    * depth-tracked). */
  private def splitTopLevel(s: String): Seq[String] = {
    val mask = PrestoRewrite.stringMask(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!mask(i)) c match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    if (start < s.length) out += s.substring(start)
    out.map(_.trim).toSeq
  }

  /** One string-literal value pattern shared by every property arm. */
  private[functions] val propStrRe = """(?s)^'((?:[^']|'')*)'$""".r

  /** Split a WITH (...) body into lowercase (name, rawValue) pairs.
    * Property names take the bare or double-quoted spelling — the
    * reference's grammar treats `"p1" = ...` as the same identifier as
    * `p1` (TestAnalyzer.java:1156 flags it a duplicate). Duplicate
    * names are the reference's loud arm
    * (StatementAnalyzer.java:759 "Duplicate property: %s"). */
  private def propertyAssignments(text: String,
      what: String): Seq[(String, String)] = {
    val out = splitTopLevel(text).filter(_.nonEmpty).map { e =>
      val m = """(?is)^(?:"([A-Za-z_]\w*)"|([A-Za-z_]\w*))\s*=\s*(.+)$""".r
        .findFirstMatchIn(e).getOrElse(sys.error(
          s"Invalid $what property assignment: $e"))
      Option(m.group(1)).getOrElse(m.group(2)).toLowerCase ->
        m.group(3).trim
    }
    out.map(_._1).diff(out.map(_._1).distinct).headOption.foreach(d =>
      sys.error(s"Duplicate property: $d"))
    out
  }

  /** Replace every unmasked `?` placeholder with f(its 0-based index) —
    * shared by EXECUTE ... USING and DESCRIBE OUTPUT. */
  private def substPlaceholders(body: String)(f: Int => String): String = {
    val mask = PrestoRewrite.stringMask(body)
    val out = new StringBuilder
    var next = 0
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (!mask(i) && c == '?') { out.append(f(next)); next += 1 }
      else out += c
      i += 1
    }
    out.toString
  }

  // Statement-metadata surface (presto-main/.../sql/rewrite/
  // StatementRewrite.java registers DescribeInputRewrite,
  // DescribeOutputRewrite, ExplainRewrite, ShowQueriesRewrite): the
  // reference rewrites these statements into plain queries over
  // metadata; this engine does the same, producing DataFrames straight
  // from catalog/session state — no data scan in any of them.

  /** Session-property store over the COMPLETE reference inventory
    * ([[SessionProperties.defs]] — all 92 SystemSessionProperties.java
    * registrations plus the hive connector property the write path
    * consumes). The names with a real engine knob behind them wire
    * through to Spark confs in the SET arm —
    * `hash_partition_count` → `spark.sql.shuffle.partitions` (both are
    * the shuffle fan-out knob), `join_distribution_type=PARTITIONED`
    * → broadcast threshold -1 (forces shuffle joins, exactly Presto's
    * semantics), `join_max_broadcast_table_size` → the broadcast
    * threshold's VALUE, `join_reordering_strategy=AUTOMATIC` → the
    * CBO join-reorder rule, `query_max_execution_time` → the router's
    * cancellation watchdog; the rest accept-and-record (most are
    * knobs for machinery Spark subsumes — spill_enabled is always-on
    * operator spilling, task_concurrency is executor cores). SET on
    * an unknown name fails loudly like the reference's "Session
    * property %s does not exist". */
  private type PropDef = SessionProperties.PropDef
  private def sessionPropDefs: Seq[PropDef] = SessionProperties.defs

  // enum-typed varchar properties and their constants (the reference's
  // decoders — `X.valueOf(value.toUpperCase())`, so the rejection text
  // is the JVM's own "No enum constant")
  private val enumProps: Map[String, (String, Set[String])] = Map(
    "join_distribution_type" -> (("JoinDistributionType",
      Set("BROADCAST", "PARTITIONED", "AUTOMATIC"))),
    "join_reordering_strategy" -> (("JoinReorderingStrategy",
      Set("NONE", "ELIMINATE_CROSS_JOINS", "AUTOMATIC"))),
    "exchange_materialization_strategy" ->
      (("ExchangeMaterializationStrategy", Set("NONE", "ALL"))),
    "partial_merge_pushdown_strategy" ->
      (("PartialMergePushdownStrategy",
        Set("NONE", "PUSH_THROUGH_LOW_MEMORY_OPERATORS"))),
    "aggregation_partitioning_merging_strategy" ->
      (("AggregationPartitioningMergingStrategy",
        Set("LEGACY", "TOP_DOWN", "BOTTOM_UP"))),
    "partitioning_precision_strategy" ->
      (("PartitioningPrecisionStrategy",
        Set("AUTOMATIC", "PREFER_EXACT_PARTITIONING"))),
    "insert_existing_partitions_behavior" ->
      (("InsertExistingPartitionsBehavior",
        Set("ERROR", "APPEND", "OVERWRITE"))))

  // Duration-/DataSize-valued varchar properties (decoders
  // Duration.valueOf / DataSize.valueOf — loud on bad grammar) and the
  // validateValueIsPowerOfTwo targets
  private val durationProps = Set("query_max_run_time",
    "query_max_execution_time", "query_max_cpu_time",
    "split_concurrency_adjustment_interval",
    "iterative_optimizer_timeout", "index_loader_timeout")
  private val dataSizeProps = Set("join_max_broadcast_table_size",
    "writer_min_size", "query_max_memory", "query_max_memory_per_node",
    "query_max_total_memory", "query_max_total_memory_per_node",
    "aggregation_operator_unspill_memory_limit",
    "filter_and_project_min_output_page_size",
    // the hive catalog's dataSizeSessionProperty registrations
    "max_initial_split_size", "max_split_size", "orc_max_buffer_size",
    "orc_max_merge_distance", "orc_max_read_block_size",
    "orc_optimized_writer_max_dictionary_memory",
    "orc_optimized_writer_max_stripe_size",
    "orc_optimized_writer_min_stripe_size", "orc_stream_buffer_size",
    "orc_string_statistics_limit", "orc_tiny_stripe_threshold",
    "pagefile_writer_max_stripe_size", "parquet_max_read_block_size",
    "parquet_writer_block_size", "parquet_writer_page_size")
  private val powerOfTwoProps = Set("task_writer_count",
    "task_partitioned_writer_count", "task_concurrency")

  /** join_distribution_type and join_max_broadcast_table_size both
    * land on ONE Spark conf (the broadcast threshold: the former's
    * PARTITIONED disables broadcast outright, the latter caps the
    * eligible size), so the effective value is recomputed from the
    * COMBINED session state on every SET/RESET of either — independent
    * per-name save slots would let interleavings defeat PARTITIONED or
    * restore a stale cap. Presto's own precedence: PARTITIONED means
    * no broadcasts regardless of the cap. The pre-wire conf is saved
    * once and restored when BOTH are reset. */
  private def syncBroadcastConf(spark: SparkSession): Unit = {
    val props = sessionMap(sessionProps, spark)
    val saved = sessionMap(sessionPropSaved, spark)
    val key = "graft_broadcast_threshold_orig"
    val jdt = props.get("join_distribution_type").map(_.toUpperCase)
    val cap = props.get("join_max_broadcast_table_size")
    if (jdt.isEmpty && cap.isEmpty)
      saved.remove(key).foreach(v =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    else {
      if (!saved.contains(key))
        saved(key) = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val effective =
        if (jdt.contains("PARTITIONED")) "-1"
        else cap.map(v => graft.plans.ResourceGroups
          .parseDataSizeBytes(v).toLong.toString).getOrElse(saved(key))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", effective)
    }
  }

  /** Decode-time validation, at SET like the reference's property
    * decoders. One documented deviation: booleans reject anything but
    * true/false (the reference's Boolean::valueOf silently maps junk
    * to false — a footgun, not a feature). */
  private def validateSessionValue(d: PropDef, value: String): Unit = {
    d.typ match {
      case "integer" | "bigint" =>
        val n =
          try value.toLong
          catch { case _: NumberFormatException =>
            sys.error(s"${d.name} is invalid: $value") }
        if (powerOfTwoProps(d.name))
          require(n > 0 && (n & (n - 1)) == 0,
            s"${d.name} must be a power of 2: $n")
      case "double" =>
        try value.toDouble
        catch { case _: NumberFormatException =>
          sys.error(s"${d.name} is invalid: $value") }
      case "boolean" =>
        require(value.equalsIgnoreCase("true") ||
          value.equalsIgnoreCase("false"),
          s"${d.name} is invalid: $value")
      case _ => ()
    }
    enumProps.get(d.name).foreach { case (enumName, values) =>
      require(values.contains(value.toUpperCase),
        s"No enum constant $enumName.$value")
    }
    if (durationProps(d.name))
      graft.plans.ResourceGroups.parseDurationSecs(value)
    if (dataSizeProps(d.name))
      graft.plans.ResourceGroups.parseDataSizeBytes(value)
  }

  private val sessionProps =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()
  // Conf values captured before the first SET so RESET restores the
  // session's own prior state, not a global constant.
  private val sessionPropSaved =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()
  // Original CREATE VIEW / CREATE FUNCTION texts for SHOW CREATE
  // (ShowQueriesRewrite visitShowCreate*): the reference reconstructs
  // from metadata; session-scoped objects here replay the text.
  private val createdViewTexts =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()
  private val createdFnTexts =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  private def sessionMap(
      store: java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]],
      spark: SparkSession): scala.collection.mutable.Map[String, String] =
    synchronized {
      store.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
    }

  /** Property names this session has explicitly SET (and not yet
    * RESET), lowercase. Session property managers consult this: the
    * reference applies manager defaults at query-session creation with
    * LOWER precedence than explicit session properties
    * (`presto-session-property-managers/.../
    * FileSessionPropertyManager.java` — defaults merge UNDER the
    * session's own properties), so a manager must not touch a property
    * the user has SET. */
  def explicitSessionProps(spark: SparkSession): Set[String] =
    sessionMap(sessionProps, spark).keySet.toSet

  /** The session's query_priority as an admission priority — the
    * reference's `getQueryPriority(Session)` bridge for
    * `ResourceGroups.withGroup`/`awaitAdmission` callers (a
    * query_priority-policy group orders its queue by this value). */
  def queryPriority(spark: SparkSession): Int =
    sessionPropValue(spark, "query_priority").toInt

  /** The session's effective value for a registered property: the
    * explicit SET value when one is in effect, the registry default
    * otherwise. Loud on unknown names, like SET SESSION. */
  def sessionPropValue(spark: SparkSession, name: String): String = {
    val d = sessionPropDefs.find(_.name == name).getOrElse(
      sys.error(s"Session property $name does not exist"))
    sessionMap(sessionProps, spark).getOrElse(name, d.default)
  }

  /** Presto type-signature rendering of a Spark DataType
    * (presto-common TypeSignature display names: varchar, bigint,
    * varbinary, row(...), map(k, v)). */
  def prestoTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "varchar"
      case LongType => "bigint"
      case IntegerType => "integer"
      case ShortType => "smallint"
      case ByteType => "tinyint"
      case DoubleType => "double"
      case FloatType => "real"
      case BooleanType => "boolean"
      case BinaryType => "varbinary"
      case DateType => "date"
      case _: TimestampNTZType | _: TimestampType => "timestamp"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case ArrayType(e, _) => s"array(${prestoTypeName(e)})"
      case MapType(k, v, _) =>
        s"map(${prestoTypeName(k)}, ${prestoTypeName(v)})"
      case s: StructType =>
        s.fields.map(f => s"${f.name} ${prestoTypeName(f.dataType)}")
          .mkString("row(", ", ", ")")
      case other => other.simpleString
    }
  }

  /** Fixed-width byte size per FixedWidthType.getFixedSize; 0 for
    * variable-width, matching DescribeOutputRewrite's null→0 stance. */
  private def prestoTypeSize(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | DoubleType | _: TimestampNTZType | _: TimestampType => 8
      case IntegerType | FloatType | DateType => 4
      case ShortType => 2
      case ByteType | BooleanType => 1
      case d: DecimalType if d.precision <= 18 => 8
      case _: DecimalType => 16
      case _ => 0
    }
  }

  private val descInputRe =
    """(?is)^\s*DESCRIBE\s+INPUT\s+([A-Za-z_]\w*)\s*$""".r
  private val descOutputRe =
    """(?is)^\s*DESCRIBE\s+OUTPUT\s+([A-Za-z_]\w*)\s*$""".r
  private val describeRe =
    """(?is)^\s*DESC(?:RIBE)?\s+([A-Za-z_][\w.]*)\s*$""".r
  private val explainRe =
    """(?is)^\s*EXPLAIN\b(\s+ANALYZE\b)?(\s+VERBOSE\b)?\s*(?:\(([^)]*)\))?\s*(.+)$""".r
  private val showCreateTableRe =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_][\w.]*)\s*$""".r
  private val showCreateViewRe =
    """(?is)^\s*SHOW\s+CREATE\s+VIEW\s+([A-Za-z_][\w.]*)\s*$""".r
  private val showCreateFnRe =
    """(?is)^\s*SHOW\s+CREATE\s+FUNCTION\s+([A-Za-z_][\w.]*)\s*$""".r
  private val showCatalogsRe =
    """(?is)^\s*SHOW\s+CATALOGS(?:\s+LIKE\s+'([^']*)')?\s*$""".r
  private val setSessionRe =
    """(?is)^\s*SET\s+SESSION\s+([A-Za-z_][\w.]*)\s*=\s*(.+?)\s*$""".r
  private val resetSessionRe =
    """(?is)^\s*RESET\s+SESSION\s+([A-Za-z_][\w.]*)\s*$""".r
  private val showSessionRe = """(?is)^\s*SHOW\s+SESSION\s*$""".r
  private val txRe =
    """(?is)^\s*(START\s+TRANSACTION(?:\s+\w+(?:\s+\w+)*)?|COMMIT(?:\s+WORK)?|ROLLBACK(?:\s+WORK)?)\s*$""".r
  private val alterFnRe =
    ("""(?is)^\s*ALTER\s+FUNCTION\s+([A-Za-z_][\w.]*)\s*(?:\([^)]*\))?""" +
      """\s+(CALLED\s+ON\s+NULL\s+INPUT|RETURNS\s+NULL\s+ON\s+NULL\s+INPUT)\s*$""").r
  private val dropFnRe =
    """(?is)^\s*DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*$""".r
  private val analyzeTableRe =
    """(?is)^\s*ANALYZE\s+([A-Za-z_][\w.]*)(?:\s+WITH\s*\((.*)\))?\s*$""".r
  // INSERT INTO a sorted-layout table: the reference's
  // SortingFileWriter sorts EVERY write to a sorted table, not only the
  // create. ASC bucketed sorted_by tables ride Spark's own bucketSpec
  // ordering on insert; the two layouts Spark's metadata cannot carry —
  // unbucketed preferred_ordering_columns and DESC bucketed sorted_by —
  // persist as table parameters (the reference stores them in table
  // parameters too, HiveMetadata.java:1076), and the router wraps their
  // INSERT sources with the same per-writer placement the CTAS path
  // uses: subquery column aliases bind the source POSITIONALLY to the
  // target names (so duplicate source names never go ambiguous), the
  // sort leads with the table's partition columns (the writer's own
  // required ordering — otherwise its dynamic-partition sort would
  // re-sort and destroy the key order), bucketed targets repartition
  // one-task-per-bucket and lead with the bucket-id expression, and
  // the EliminateSorts guard holds for the write.
  private val insertIntoRe =
    """(?is)^\s*INSERT\s+INTO\s+("?[A-Za-z_][\w.]*"?)\s*(\([^()]*\))?\s*(.+)$""".r
  private val identListRe =
    """^\(\s*"?[A-Za-z_]\w*"?(\s*,\s*"?[A-Za-z_]\w*"?)*\s*\)$""".r

  private def maybeSortedInsert(spark: SparkSession,
      sql: String): Option[org.apache.spark.sql.DataFrame] = {
    val m = insertIntoRe.findFirstMatchIn(sql).getOrElse(return None)
    val parts = m.group(1).replace("\"", "").split('.').takeRight(2)
    val (dbOpt, tbl) =
      if (parts.length == 2) (Some(parts(0)), parts(1))
      else (None, parts(0))
    val fullName = (dbOpt.toSeq :+ tbl).map(p => s"`$p`").mkString(".")
    val meta = scala.util.Try(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl, dbOpt)))
      .getOrElse(return None)
    val pref = meta.properties.get("graft.preferred_ordering_columns")
    val descSort = meta.properties.get("graft.sorted_by")
    if (pref.isEmpty && descSort.isEmpty) return None
    // a parenthesized group is a column list only when it is one —
    // otherwise it is part of the query body (e.g. a bare subquery)
    val (colsOpt, body0) = Option(m.group(2)) match {
      case Some(g) if identListRe.findFirstIn(g.trim).isDefined =>
        (Some(g.trim.stripPrefix("(").stripSuffix(")").split(',')
          .map(_.trim.replace("\"", "")).toSeq), m.group(3))
      case Some(g) => (None, g + " " + m.group(3))
      case None => (None, m.group(3))
    }
    // Fall-through to the default (unsorted) pipeline is INTENTIONAL in
    // exactly two cases, where Spark's own INSERT surfaces the better
    // error or handles the write fine without a data sort: (a) the
    // source body does not analyze as a standalone SELECT, (b) the
    // source arity mismatches the target. Anything else that fails
    // during preparation is a real bug in the sorted-write path and
    // must THROW — a silent fall-through would degrade the sorted-
    // layout write contract (graft.sorted_by still advertises a sorted
    // layout) with no signal.
    val prepared: Option[String] = {
      val body = rewritePrestoSql(PrestoSystem.rewriteSystemTables(spark,
        PrestoSecurity.rewriteInfoSchema(spark, body0)))
      val targetCols = colsOpt.getOrElse(meta.schema.fieldNames.toSeq)
      val srcArity =
        try spark.sql(s"SELECT * FROM ( $body ) graft_ins_probe")
          .schema.length
        catch { case _: org.apache.spark.sql.AnalysisException =>
          -1 // not SELECT-probe-able: the default pipeline's error wins
        }
      if (srcArity != targetCols.length) None else {
      val targetSet = targetCols.map(_.toLowerCase).toSet
      def keysOf(spec: String): Seq[String] =
        spec.split(',').map(_.trim).toSeq.flatMap { c =>
          val (nm, dir) =
            if (c.toUpperCase.endsWith(" DESC"))
              (c.dropRight(5).trim, "DESC") else (c.trim, "ASC")
          // a sort column the insert does not supply reads its default
          // (NULL) — constant per write, order irrelevant, skip it
          if (targetSet(nm.toLowerCase)) Some(s"`$nm` $dir") else None
        }
      // the writer's required ordering leads: partition columns, then
      // (for bucketed targets) the bucket-id expression
      val partLead = meta.partitionColumnNames
        .filter(c => targetSet(c.toLowerCase)).map(c => s"`$c` ASC")
      val bucketSpec = meta.bucketSpec.filter(_ => descSort.isDefined)
      // one usability predicate shared by the bucket-id sort lead AND
      // the repartition hint: a bucket column absent from the insert's
      // column list fills NULL in the default pipeline, and either
      // construct referencing it would fail analysis unresolved
      val bucketUsable = bucketSpec.filter(b =>
        b.bucketColumnNames.forall(c => targetSet(c.toLowerCase)))
      val bucketLead = bucketUsable.toSeq.map { b =>
        "pmod(hash(" +
          b.bucketColumnNames.map(c => s"`$c`").mkString(", ") +
          s"), ${b.numBuckets}) ASC"
      }
      val dataKeys = keysOf(descSort.orElse(pref).get)
      val sortKeys = partLead ++ bucketLead ++ dataKeys
      if (dataKeys.isEmpty) None
      else {
        val repartHint = bucketUsable.map(b =>
          s"/*+ REPARTITION(${b.numBuckets}, " +
            b.bucketColumnNames.map(c => s"`$c`").mkString(", ") +
            ") */ ").getOrElse("")
        val colListTxt = colsOpt
          .map(_.map(c => s"`$c`").mkString("(", ", ", ") ")).getOrElse("")
        // subquery COLUMN aliases rename positionally — never
        // ambiguous; the repartition hint nests INSIDE the sorted
        // select (a same-SELECT hint would shuffle above the sort and
        // destroy the order — the CTAS arm's lesson)
        val aliasList = targetCols.map(c => s"`$c`").mkString(", ")
        Some(s"INSERT INTO $fullName $colListTxt" +
          s"SELECT * FROM (SELECT $repartHint* FROM ( $body ) " +
          s"graft_ins_src($aliasList)) graft_ins_sorted" +
          s" SORT BY ${sortKeys.mkString(", ")}")
      }
      }
    }
    prepared.map { stmt =>
      val key = "spark.sql.optimizer.excludedRules"
      val prior = spark.conf.getOption(key)
      val rule = "org.apache.spark.sql.catalyst.optimizer.EliminateSorts"
      spark.conf.set(key,
        prior.filter(_.nonEmpty).map(_ + "," + rule).getOrElse(rule))
      try spark.sql(stmt)
      finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      statusDf(spark, "INSERT")
    }
  }

  // CREATE SCHEMA ... WITH (properties) — the hive connector's one
  // schema property is `location` (HiveSchemaProperties.java:29-34);
  // unknown names fail with the property manager's message. Spark's
  // CREATE DATABASE ... LOCATION is the exact analog: managed tables
  // in the schema land under that base URI.
  private val createSchemaWithRe =
    ("""(?is)^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([A-Za-z_][\w.]*)\s+WITH\s*\((.*)\)\s*$""").r

  private val useRe =
    """(?is)^\s*USE\s+([A-Za-z_][\w.]*)\s*$""".r
  private val renameSchemaRe =
    """(?is)^\s*ALTER\s+SCHEMA\s+([A-Za-z_]\w*)\s+RENAME\s+TO\s+([A-Za-z_]\w*)\s*$""".r
  private val showStatsRe =
    """(?is)^\s*SHOW\s+STATS\s+FOR\s+(.+?)\s*$""".r
  private val createViewDetectRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?VIEW\s+([A-Za-z_][\w.]*)""".r

  /** One-row status result, the shape PREPARE/DEALLOCATE already use. */
  private def statusDf(spark: SparkSession, v: String): org.apache.spark.sql.DataFrame =
    spark.sql(s"SELECT '${v.replace("'", "''")}' AS result")

  // ── CREATE TABLE ... WITH (properties) ────────────────────────────
  // The Hive connector's table-layout DDL surface
  // (`presto-hive/.../HiveTableProperties.java:42-51` — format,
  // partitioned_by, bucketed_by, bucket_count, sorted_by,
  // external_location, orc_bloom_filter_columns/_fpp,
  // preferred_ordering_columns, avro_schema_url), translated onto
  // Spark's own CREATE TABLE grammar: format → USING (ORC is the
  // reference's default, `HiveClientConfig.java:86`), external_location
  // → LOCATION, partitioned_by → PARTITIONED BY (with
  // `HiveMetadata.java:2668`'s partition-keys-last rule),
  // bucketed_by/bucket_count/sorted_by → CLUSTERED BY ... SORTED BY ...
  // INTO n BUCKETS, orc bloom properties → the ORC writer's own
  // options, preferred_ordering_columns → a per-writer SORT BY (the
  // unbucketed SortingFileWriter arm). Property validation replays
  // `getBucketProperty:173-195` / `getPreferredOrderingColumns:219-231`
  // text-for-text; an unknown property fails with the property
  // manager's message (`AbstractPropertyManager.java:92`).
  //
  // Bucketed CTAS additionally carries the reference's ONE-WRITER-PER-
  // BUCKET write contract (HiveWriterFactory — each bucket of each
  // partition is exactly one file): the source query repartitions by
  // the bucket columns into bucket_count tasks. Spark's bucket-id
  // function and HashPartitioning share murmur3(seed 42), so every
  // task holds exactly one bucket and writes exactly one file — which
  // is what makes the sorted-bucket layout serve SORT-FREE merge joins
  // downstream (FileSourceScanExec exposes the per-bucket ordering
  // only over single-file buckets).
  private val createTableHeadRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?("?[A-Za-z_][\w.]*"?)\s*""".r

  private case class SortCol(name: String, desc: Boolean) {
    def ddl: String = s"$name ${if (desc) "DESC" else "ASC"}"
  }

  /** Index of the ')' matching the '(' at `open` (string-masked). */
  private def balancedClose(s: String, open: Int,
      mask: Array[Boolean]): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (!mask(i)) {
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) return i }
      }
      i += 1
    }
    sys.error("CREATE TABLE: unbalanced parentheses")
  }

  private[functions] def maybeCreateTableWith(spark: SparkSession,
      sql: String): Option[org.apache.spark.sql.DataFrame] = {
    val head = createTableHeadRe.findPrefixMatchOf(sql).getOrElse(return None)
    val ifNotExists = head.group(1) != null
    // a 3-part name's catalog qualifier collapses (one Spark catalog),
    // the USE-statement convention
    val name = head.group(2).replace("\"", "").split('.').takeRight(2)
      .mkString(".")
    val mask = PrestoRewrite.stringMask(sql)
    var cur = head.end
    def skipWs(): Unit =
      while (cur < sql.length && sql.charAt(cur).isWhitespace) cur += 1
    skipWs()
    // optional column definitions (plain form) / column aliases (CTAS)
    var colList: Option[String] = None
    if (cur < sql.length && sql.charAt(cur) == '(') {
      val close = balancedClose(sql, cur, mask)
      colList = Some(sql.substring(cur + 1, close))
      cur = close + 1; skipWs()
    }
    // optional COMMENT 'text' — carried onto the Spark DDL verbatim
    var comment: Option[String] = None
    """(?is)^COMMENT\s+('(?:[^']|'')*')""".r
      .findPrefixMatchOf(sql.substring(cur)).foreach { m =>
        comment = Some(m.group(1)); cur += m.end; skipWs()
      }
    // the WITH (...) property list is what routes here; absent → the
    // default pipeline keeps handling plain CREATE TABLE [AS]
    val wm = """(?is)^WITH\s*\(""".r.findPrefixMatchOf(sql.substring(cur))
      .getOrElse(return None)
    val parenAt = cur + wm.end - 1
    val closeAt = balancedClose(sql, parenAt, mask)
    val propsText = sql.substring(parenAt + 1, closeAt)
    cur = closeAt + 1; skipWs()
    // optional AS query [WITH [NO] DATA]
    var query: Option[String] = None
    var noData = false
    if (cur < sql.length) {
      if ("""(?is)^AS\b""".r.findPrefixMatchOf(sql.substring(cur)).isEmpty)
        sys.error("CREATE TABLE: unexpected trailing text: " +
          sql.substring(cur).take(40))
      var body = sql.substring(cur + 2).trim
      val bodyMask = PrestoRewrite.stringMask(body)
      """(?is)\bWITH\s+(NO\s+)?DATA\s*$""".r.findFirstMatchIn(body)
        .filter(m => !bodyMask(m.start)).foreach { m =>
          noData = m.group(1) != null
          body = body.substring(0, m.start).trim
        }
      query = Some(body)
    }
    if (colList.isEmpty && query.isEmpty)
      sys.error("CREATE TABLE requires a column list or an AS query")

    // property parse: name = 'string' | integer | double | ARRAY['a',..]
    val strRe = propStrRe
    def parseEntry(kv: (String, String)): (String, Any) = {
      val (key, v) = kv
      val value: Any = v match {
        case strRe(inner) => inner.replace("''", "'")
        case arr if arr.toUpperCase.startsWith("ARRAY") =>
          val items = """(?is)^ARRAY\s*\[(.*)\]$""".r.findFirstMatchIn(arr)
            .getOrElse(sys.error(
              s"Invalid value for table property '$key': Cannot convert '$v'"))
            .group(1)
          splitTopLevel(items).filter(_.nonEmpty).map {
            case strRe(inner) => inner.replace("''", "'")
            case other => sys.error(
              s"Invalid value for table property '$key': Cannot convert '$other' to varchar")
          }
        case iv if iv.matches("-?\\d+") => iv.toLong
        case nv if nv.matches("-?\\d+\\.\\d+") => nv.toDouble
        case other => sys.error(
          s"Invalid value for table property '$key': Cannot convert '$other'")
      }
      key -> value
    }
    val entries = propertyAssignments(propsText, "table").map(parseEntry)
    val known = Set("format", "partitioned_by", "bucketed_by",
      "bucket_count", "sorted_by", "external_location",
      "orc_bloom_filter_columns", "orc_bloom_filter_fpp",
      "avro_schema_url", "preferred_ordering_columns")
    entries.map(_._1).find(!known.contains(_)).foreach(k => sys.error(
      s"Catalog 'hive' does not support table property '$k'"))

    // LIKE table elements (SqlBase.g4:143-145; CreateTableTask.java:
    // 143-175): a LIKE expands the source's columns at its position;
    // at most ONE may say INCLUDING PROPERTIES, whose inherited
    // properties sit UNDER explicit WITH keys and OVER defaults
    // (combineProperties:205-215). external_location never inherits —
    // it is per-table physical placement (two tables on one directory
    // would collide on write; the reference hits the same wall as a
    // create-time failure).
    val likeRe = ("""(?is)^LIKE\s+("?[A-Za-z_][\w.]*"?)""" +
      """(?:\s+(INCLUDING|EXCLUDING)\s+PROPERTIES)?$""").r
    val colElems = colList.map(splitTopLevel(_).filter(_.nonEmpty))
      .getOrElse(Seq.empty).map(_.trim)
    val likeMatches = colElems.flatMap(el =>
      likeRe.findFirstMatchIn(el).map(el -> _)).toMap
    def likeSrc(m: scala.util.matching.Regex.Match): String = {
      val raw = m.group(1).replace("\"", "")
      val base = raw.split('.').last
      if (!spark.catalog.tableExists(base))
        sys.error(s"LIKE table '$raw' does not exist")
      base
    }
    val includers = colElems.flatMap(likeMatches.get).filter(m =>
      Option(m.group(2)).exists(_.equalsIgnoreCase("INCLUDING")))
    if (includers.length > 1)
      sys.error("Only one LIKE clause can specify INCLUDING PROPERTIES")
    val inherited: Seq[(String, Any)] = includers.headOption.map { m =>
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(likeSrc(m)))
      meta.provider.map(_.toLowerCase).collect {
        case "parquet" => "PARQUET"
        case "orc" => "ORC"
        case "json" => "JSON"
        case "csv" => "TEXTFILE"
      }.map("format" -> (_: Any)).toSeq ++
        (if (meta.partitionColumnNames.nonEmpty)
          Seq("partitioned_by" -> meta.partitionColumnNames)
        else Seq.empty) ++
        meta.bucketSpec.toSeq.flatMap(b =>
          Seq("bucketed_by" -> b.bucketColumnNames,
            "bucket_count" -> b.numBuckets.toLong) ++
            (if (b.sortColumnNames.nonEmpty)
              Seq("sorted_by" -> b.sortColumnNames)
            else Seq.empty)) ++
        meta.storage.properties.get("orc.bloom.filter.columns").toSeq
          .map(cs => "orc_bloom_filter_columns" -> cs.split(',').toSeq) ++
        meta.storage.properties.get("orc.bloom.filter.fpp").toSeq
          .map(f => "orc_bloom_filter_fpp" -> f.toDouble)
    }.getOrElse(Seq.empty)
    // explicit keys win over inherited; defaults only fill the rest
    val props = (inherited ++ entries).toMap
    def strArr(k: String): Seq[String] = props.get(k) match {
      case None => Seq.empty
      case Some(s: Seq[_]) => s.map(String.valueOf)
      case Some(other) => sys.error(
        s"Invalid value for table property '$k': Cannot convert '$other' to array(varchar)")
    }
    // SortingColumn.sortingColumnFromString:101-113 — a trailing
    // bare ASC/DESC word, default ascending
    def sortingCols(k: String): Seq[SortCol] = strArr(k).map { s0 =>
      val up = s0.toUpperCase(java.util.Locale.ENGLISH)
      if (up.endsWith(" ASC"))
        SortCol(s0.substring(0, s0.length - 4).trim.toLowerCase, desc = false)
      else if (up.endsWith(" DESC"))
        SortCol(s0.substring(0, s0.length - 5).trim.toLowerCase, desc = true)
      else SortCol(s0.trim.toLowerCase, desc = false)
    }

    // format: HiveStorageFormat.valueOf with the reference's member
    // list; the legacy/serde members are a documented descope
    // (SURVEY §2.3, the RCFile rationale)
    val hiveFormats = Set("ORC", "DWRF", "PARQUET", "AVRO", "RCBINARY",
      "RCTEXT", "SEQUENCEFILE", "JSON", "TEXTFILE", "PAGEFILE")
    val format = props.get("format").map(String.valueOf)
      .map(_.toUpperCase(java.util.Locale.ENGLISH)).getOrElse("ORC")
    if (!hiveFormats(format)) sys.error(
      s"Invalid value for table property 'format': Cannot convert '$format' to HiveStorageFormat")
    val sparkFmt = format match {
      case "PARQUET" => "parquet"
      case "ORC" => "orc"
      case "JSON" => "json"
      case "TEXTFILE" => "csv" // LazySimpleSerDe line format, \u0001 sep
      case other => sys.error(s"graft: Hive storage format $other is a " +
        "documented descope (legacy serde formats — SURVEY §2.3); use " +
        "PARQUET, ORC, JSON or TEXTFILE")
    }
    props.get("avro_schema_url").foreach(_ => sys.error(
      s"Cannot specify avro_schema_url table property for storage format: $format"))

    val partitionedBy = strArr("partitioned_by").map(_.toLowerCase)
    val bucketedBy = strArr("bucketed_by").map(_.toLowerCase)
    val sortedBy = sortingCols("sorted_by")
    val bucketCount = props.get("bucket_count") match {
      case None => 0
      case Some(l: Long) =>
        // the decode rejects out-of-int-range before any bucket checks
        if (l > Int.MaxValue || l < Int.MinValue) sys.error(
          s"Invalid value for table property 'bucket_count': Cannot convert '$l' to integer")
        l.toInt
      case Some(other) => sys.error(
        s"Invalid value for table property 'bucket_count': Cannot convert '$other' to integer")
    }
    // getBucketProperty:173-195, validation arms in the reference's order
    val bucketProp: Option[(Seq[String], Int, Seq[SortCol])] =
      if (bucketedBy.isEmpty && bucketCount == 0) {
        if (sortedBy.nonEmpty) sys.error(
          "sorted_by may be specified only when bucketed_by is specified")
        None
      } else if (bucketCount < 0)
        sys.error("bucket_count must be greater than zero")
      else if (bucketCount > 1000000)
        sys.error("bucket_count should be no more than 1000000")
      else if (bucketedBy.isEmpty || bucketCount == 0)
        sys.error("bucketed_by and bucket_count must be specified together")
      else Some((bucketedBy, bucketCount, sortedBy))
    // getPreferredOrderingColumns:219-231
    val preferredOrdering = sortingCols("preferred_ordering_columns")
    if (preferredOrdering.nonEmpty && bucketProp.isDefined) sys.error(
      "preferred_ordering_columns must not be specified when bucketed_by is specified")

    // the partition-keys-last rule (HiveMetadata.java:2668) needs the
    // target schema: the analyzed query output for CTAS, the column
    // definitions for the plain form
    def checkPartitionsLast(colNames: Seq[String]): Unit =
      if (partitionedBy.nonEmpty &&
        colNames.takeRight(partitionedBy.length)
          .map(_.toLowerCase) != partitionedBy)
        sys.error("Partition keys must be the last columns in the table " +
          "and in the same order as the table properties: " +
          partitionedBy.mkString("[", ", ", "]"))

    val orcBloomCols = strArr("orc_bloom_filter_columns").map(_.toLowerCase)
    val opts = scala.collection.mutable.ArrayBuffer.empty[String]
    if (format == "TEXTFILE") opts += s"'sep' = '${1.toChar}'"
    if (sparkFmt == "orc" && orcBloomCols.nonEmpty) {
      opts += s"'orc.bloom.filter.columns' = '${orcBloomCols.mkString(",")}'"
      props.get("orc_bloom_filter_fpp").foreach {
        case d: Double => opts += s"'orc.bloom.filter.fpp' = '$d'"
        case other => sys.error(
          s"Invalid value for table property 'orc_bloom_filter_fpp': Cannot convert '$other' to double")
      }
    }

    val ddl = new StringBuilder("CREATE TABLE ")
    if (ifNotExists) ddl ++= "IF NOT EXISTS "
    ddl ++= name
    // a query-side SORT BY under a bucketed write needs EliminateSorts
    // held off: the writer layers its own ordering node on top and the
    // rule then removes the inner (descending) sort as "redundant"
    var guardSorts = false
    // Spark's bucket-sort metadata is ASC-only, so a DESC sorted_by
    // persists as a table parameter instead (the reference stores its
    // sorting columns in table parameters too, HiveMetadata.java:1076);
    // maybeSortedInsert reads both parameters so later INSERTs keep
    // the layout contract
    val descSortedLayout = bucketProp.exists(_._3.exists(_.desc))
    def renderSortCols(cols: Seq[SortCol]): String = cols.map(c =>
      if (c.desc) c.name + " DESC" else c.name).mkString(",")
      .replace("'", "''")
    def layoutParamsClause: String = {
      val kvs =
        (if (preferredOrdering.nonEmpty)
          Seq("'graft.preferred_ordering_columns' = " +
            s"'${renderSortCols(preferredOrdering)}'")
        else Seq.empty) ++
          (if (descSortedLayout)
            Seq(s"'graft.sorted_by' = '${renderSortCols(bucketProp.get._3)}'")
          else Seq.empty)
      if (kvs.isEmpty) "" else s" TBLPROPERTIES (${kvs.mkString(", ")})"
    }

    query match {
      case Some(q) =>
        // CTAS: rewrite the inner Presto query through the same
        // pipeline the fallback applies, then layer the write contract
        val inner = rewritePrestoSql(PrestoSystem.rewriteSystemTables(
          spark, PrestoSecurity.rewriteInfoSchema(spark, q)))
        // optional column ALIASES (names only) rename positionally
        val projection = colList match {
          case None => "*"
          case Some(aliases) =>
            val names = splitTopLevel(aliases).map(_.trim)
            if (names.exists(n => !n.matches("\"?[A-Za-z_]\\w*\"?")))
              sys.error("CREATE TABLE AS column list takes aliases only " +
                "(no types); got: " + aliases.trim.take(60))
            val srcCols = spark.sql(inner).schema.fieldNames
            if (srcCols.length != names.length) sys.error(
              s"CREATE TABLE AS: ${names.length} aliases for ${srcCols.length} query columns")
            srcCols.zip(names.map(_.replace("\"", "")))
              .map { case (c, a) => s"`$c` AS $a" }.mkString(", ")
        }
        val outNames = colList match {
          case None => spark.sql(inner).schema.fieldNames.toSeq
          case Some(aliases) =>
            splitTopLevel(aliases).map(_.trim.replace("\"", ""))
        }
        checkPartitionsLast(outNames)
        val repartHint = bucketProp.map { case (cols, n, _) =>
          s"/*+ REPARTITION($n, ${cols.mkString(", ")}) */ "
        }.getOrElse("")
        // Spark's bucket-sort METADATA is ASC-only (AstBuilder's
        // visitBucketSpec rejects DESC); a descending sorted_by rides
        // an explicit per-writer SORT BY instead — the files come out
        // in the reference's order, the catalog just can't advertise
        // it (so DESC layouts don't serve the sort-free merge join,
        // which wants ASC anyway)
        val descSorted = descSortedLayout
        val sortSuffix =
          if (bucketProp.isEmpty && preferredOrdering.nonEmpty)
            " SORT BY " + preferredOrdering.map(_.ddl).mkString(", ")
          else if (descSorted) {
            // lead with Spark's own bucket-id expression
            // (pmod(murmur3, n) — canonically equal to the writer's
            // requiredOrdering head) so the file committer sees its
            // ordering already satisfied and does not re-sort above
            // the descending keys
            val (cols, n, sort) = bucketProp.get
            s" SORT BY pmod(hash(${cols.mkString(", ")}), $n), " +
              sort.map(_.ddl).mkString(", ")
          } else ""
        val limitSuffix = if (noData) " LIMIT 0" else ""
        ddl ++= s" USING $sparkFmt"
        if (opts.nonEmpty) ddl ++= s" OPTIONS (${opts.mkString(", ")})"
        if (partitionedBy.nonEmpty)
          ddl ++= s" PARTITIONED BY (${partitionedBy.mkString(", ")})"
        bucketProp.foreach { case (cols, n, sort) =>
          ddl ++= s" CLUSTERED BY (${cols.mkString(", ")})"
          if (sort.nonEmpty && !descSorted)
            ddl ++= s" SORTED BY (${sort.map(_.ddl).mkString(", ")})"
          ddl ++= s" INTO $n BUCKETS"
        }
        props.get("external_location").foreach(loc =>
          ddl ++= s" LOCATION '${String.valueOf(loc).replace("'", "''")}'")
        ddl ++= layoutParamsClause
        comment.foreach(c => ddl ++= s" COMMENT $c")
        // the per-writer sort must sit ABOVE the repartition (a SORT BY
        // in the same SELECT would sort before the hint's shuffle and
        // lose the order), so the sorted form nests one level deeper
        val src0 = s"SELECT $repartHint$projection FROM ( $inner )" +
          " graft_ctas_src"
        guardSorts = sortSuffix.nonEmpty
        ddl ++= " AS " + (if (sortSuffix.nonEmpty)
          s"SELECT * FROM ( $src0 ) graft_ctas_sorted$sortSuffix$limitSuffix"
        else src0 + limitSuffix)

      case None =>
        // plain form: column definitions with Presto type spellings;
        // a LIKE element expands the source's columns at its position
        // (CreateTableTask.java:166-175 — duplicates against explicit
        // or other expanded columns are the reference's loud arm)
        val expanded: Seq[(String, String)] = colElems.flatMap { cd =>
          likeMatches.get(cd) match {
            case Some(m) =>
              spark.table(likeSrc(m)).schema.fields.toSeq.map(f =>
                f.name.toLowerCase -> s"`${f.name}` ${f.dataType.sql}")
            case None =>
              val m = """(?s)^("[^"]+"|[A-Za-z_]\w*)\s+(.+)$""".r
                .findFirstMatchIn(cd).getOrElse(sys.error(
                  s"CREATE TABLE: cannot parse column definition '$cd'"))
              val cname = m.group(1).replace("\"", "`").replace("``", "`")
              var typ = m.group(2).trim
              var suffix = ""
              // grammar order (SqlBase.g4:140): type (NOT NULL)?
              // (COMMENT string)? — both carry onto the Spark coldef
              """(?is)^(.*?)\s+(COMMENT\s+'(?:[^']|'')*')\s*$""".r
                .findFirstMatchIn(typ).foreach { cm =>
                  typ = cm.group(1).trim
                  suffix = " " + cm.group(2) + suffix }
              """(?is)^(.*?)\s+NOT\s+NULL\s*$""".r.findFirstMatchIn(typ)
                .foreach { nn =>
                  typ = nn.group(1).trim; suffix = " NOT NULL" + suffix }
              Seq((m.group(1).replace("\"", "").toLowerCase,
                s"$cname ${PrestoRewrite.transformPrestoType(typ)}$suffix"))
          }
        }
        expanded.map(_._1).diff(expanded.map(_._1).distinct).headOption
          .foreach(d => sys.error(
            s"Column name '$d' specified more than once"))
        val colsSpark = expanded.map(_._2)
        val colNames = expanded.map(_._1)
        checkPartitionsLast(colNames)
        ddl ++= s" (${colsSpark.mkString(", ")}) USING $sparkFmt"
        if (opts.nonEmpty) ddl ++= s" OPTIONS (${opts.mkString(", ")})"
        if (partitionedBy.nonEmpty)
          ddl ++= s" PARTITIONED BY (${partitionedBy.mkString(", ")})"
        bucketProp.foreach { case (cols, n, sort) =>
          ddl ++= s" CLUSTERED BY (${cols.mkString(", ")})"
          // ASC-only in Spark's bucket metadata; a DESC spec is
          // accepted (SortingColumn grammar) but not advertised
          val asc = sort.filter(!_.desc)
          if (asc.nonEmpty && asc.length == sort.length)
            ddl ++= s" SORTED BY (${asc.map(_.ddl).mkString(", ")})"
          ddl ++= s" INTO $n BUCKETS"
        }
        props.get("external_location").foreach(loc =>
          ddl ++= s" LOCATION '${String.valueOf(loc).replace("'", "''")}'")
        ddl ++= layoutParamsClause
        comment.foreach(c => ddl ++= s" COMMENT $c")
    }

    if (guardSorts) {
      val key = "spark.sql.optimizer.excludedRules"
      val prior = spark.conf.getOption(key)
      val rule = "org.apache.spark.sql.catalyst.optimizer.EliminateSorts"
      spark.conf.set(key,
        prior.filter(_.nonEmpty).map(_ + "," + rule).getOrElse(rule))
      try spark.sql(ddl.toString())
      finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } else spark.sql(ddl.toString())
    Some(statusDf(spark, "CREATE TABLE"))
  }

  /** Session-created view text, if recorded (for
    * information_schema.views.view_definition). */
  private[functions] def viewText(spark: SparkSession,
      name: String): Option[String] =
    synchronized {
      Option(createdViewTexts.get(spark)).flatMap(_.get(name.toLowerCase))
    }

  /** Count `?` placeholders with string literals masked. */
  private def countPlaceholders(body: String): Int = {
    val mask = PrestoRewrite.stringMask(body)
    (0 until body.length).count(i => !mask(i) && body.charAt(i) == '?')
  }

  private def storedStatement(spark: SparkSession, name: String): String =
    synchronized {
      Option(preparedStmts.get(spark)).flatMap(_.get(name.toLowerCase))
    }.getOrElse(sys.error(s"prepared statement not found: $name"))

  /** True for statement bodies that are queries (lazy in spark.sql);
    * commands (DDL/DML) execute eagerly there, so EXPLAIN routes them
    * through Spark's native EXPLAIN instead. */
  private def isQueryShaped(body: String): Boolean = {
    val head = body.trim.takeWhile(c => !c.isWhitespace && c != '(').toUpperCase
    head == "SELECT" || head == "WITH" || head == "VALUES" ||
      head == "TABLE" || body.trim.startsWith("(")
  }

  private def explainStatement(spark: SparkSession, analyze: Boolean,
      opts: String, body: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val typeRe = """(?i)TYPE\s+(LOGICAL|DISTRIBUTED|VALIDATE|IO)""".r
    val planType = typeRe.findFirstMatchIn(opts)
      .map(_.group(1).toUpperCase).getOrElse("DISTRIBUTED")
    val inner = rewritePrestoSql(body)
    if (analyze) {
      // EXPLAIN ANALYZE executes, then renders the plan with runtime
      // metrics (the reference annotates PlanPrinter output with
      // operator stats). Executing THIS queryExecution's RDD (not a
      // derived write/count plan) is what populates its SQLMetrics;
      // nothing materializes driver-side. AQE wraps the tree in an
      // AdaptiveSparkPlanExec with no visible children and query stages
      // are leaves over their subtree; Spark's AdaptiveSparkPlanHelper
      // walks through both.
      val qe = spark.sql(inner).queryExecution
      qe.toRdd.foreachPartition(_ => ())
      val exec = qe.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val metrics = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}.collect(exec) {
        case n if n.metrics.nonEmpty =>
          n.nodeName + ": " + n.metrics.map { case (k, m) =>
            s"$k=${m.value}"
          }.toSeq.sorted.mkString(", ")
      }
      val text = exec.toString + "\n== Runtime Metrics ==\n" +
        metrics.mkString("\n")
      Seq(text).toDF("Query Plan")
    } else if (planType == "VALIDATE") {
      // ExplainRewrite: VALIDATE analyzes only and returns Valid=true
      // (analysis failures propagate as errors, same as the reference).
      if (isQueryShaped(body)) spark.sql(inner).queryExecution.assertAnalyzed()
      else {
        val txt = spark.sql(s"EXPLAIN $inner").collect().map(_.getString(0))
          .mkString("\n")
        require(!txt.contains("Exception"), s"EXPLAIN VALIDATE failed:\n$txt")
      }
      Seq(true).toDF("Valid")
    } else if (planType == "IO") {
      // IOPlanPrinter emits JSON listing input tables; derive it from
      // the analyzed plan's catalog-resolvable aliases (SQL-local
      // aliases don't resolve in the catalog and drop out).
      require(isQueryShaped(body), s"EXPLAIN (TYPE IO) supports queries, got: $body")
      val analyzed = spark.sql(inner).queryExecution.analyzed
      val names = analyzed.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          s.identifier.name
      }.distinct.filter(n => spark.catalog.tableExists(n)).sorted
      val json = names.map(n => "\"" + n + "\"")
        .mkString("{\"inputTables\":[", ",", "]}")
      Seq(json).toDF("Query Plan")
    } else {
      // FORMAT TEXT (default) | JSON | GRAPHVIZ (SqlBase.g4:478
      // #explainFormat; the reference's PlanPrinter / JsonRenderer /
      // GraphvizPrinter). JSON renders the plan tree as nested
      // {name, children}; GRAPHVIZ emits the digraph the reference's
      // printer produces (node per operator, edge child -> parent).
      val format = """(?i)FORMAT\s+(TEXT|JSON|GRAPHVIZ)""".r
        .findFirstMatchIn(opts).map(_.group(1).toUpperCase)
        .getOrElse("TEXT")
      val text =
        if (isQueryShaped(body)) {
          val qe = spark.sql(inner).queryExecution
          if (format == "TEXT") {
            if (planType == "LOGICAL") qe.optimizedPlan.toString
            else qe.executedPlan.toString
          } else {
            def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
            if (planType == "LOGICAL") {
              val plan = qe.optimizedPlan
              if (format == "JSON") {
                def js(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String =
                  s"""{"name":"${esc(p.nodeName)}","children":[""" +
                    p.children.map(js).mkString(",") + "]}"
                js(plan)
              } else {
                val nodes = scala.collection.mutable.ArrayBuffer.empty[String]
                val edges = scala.collection.mutable.ArrayBuffer.empty[String]
                var n = 0
                def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
                  val id = n; n += 1
                  nodes += s"""  node_$id [label="${esc(p.nodeName)}"];"""
                  p.children.foreach(c => edges += s"  node_${walk(c)} -> node_$id;")
                  id
                }
                walk(plan)
                ("digraph logical_plan {\n" +
                  nodes.mkString("\n") + "\n" +
                  edges.mkString("\n") + "\n}")
              }
            } else {
              // AQE wraps the tree with a childless AdaptiveSparkPlanExec
              // — unwrap so the rendering shows the actual operators
              val plan = qe.executedPlan match {
                case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                  a.executedPlan
                case p => p
              }
              if (format == "JSON") {
                def js(p: org.apache.spark.sql.execution.SparkPlan): String =
                  s"""{"name":"${esc(p.nodeName)}","children":[""" +
                    p.children.map(js).mkString(",") + "]}"
                js(plan)
              } else {
                val nodes = scala.collection.mutable.ArrayBuffer.empty[String]
                val edges = scala.collection.mutable.ArrayBuffer.empty[String]
                var n = 0
                def walk(p: org.apache.spark.sql.execution.SparkPlan): Int = {
                  val id = n; n += 1
                  nodes += s"""  node_$id [label="${esc(p.nodeName)}"];"""
                  p.children.foreach(c => edges += s"  node_${walk(c)} -> node_$id;")
                  id
                }
                walk(plan)
                ("digraph distributed_plan {\n" +
                  nodes.mkString("\n") + "\n" +
                  edges.mkString("\n") + "\n}")
              }
            }
          }
        } else spark.sql(s"EXPLAIN $inner").collect()
          .map(_.getString(0)).mkString("\n")
      Seq(text).toDF("Query Plan")
    }
  }

  /** SHOW STATS FOR table | (query) (SqlBase.g4:107 showStats /
    * showStatsForQuery; presto-main ShowStatsRewrite): one row per
    * column — column_name, data_size (string columns), distinct_values_
    * count, nulls_fraction, low/high — plus the row_count summary row,
    * the reference's exact shape. Stats compute EXACTLY over the
    * relation (the gate needs determinism); NDVs run as one separate
    * pass per column — packing countDistincts on different columns into
    * one aggregate plans an Expand (row x N) through ObjectHashAggregate,
    * measured 4x slower (the qj0/q85 lesson, SURVEY §2.4). A production
    * deployment answers from catalog statistics (ANALYZE, qq6) or
    * approx_count_distinct — this is interactive metadata, not a data
    * path. */
  private def showStatsStatement(spark: SparkSession,
      target0: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val target = target0.trim
    val df =
      if (target.startsWith("(")) {
        require(target.endsWith(")"),
          s"SHOW STATS FOR: unbalanced query parentheses: $target")
        spark.sql(rewritePrestoSql(target.substring(1, target.length - 1)))
      } else spark.table(target.split('.').last)
    // r17 OPT (guide §2.6 "overlap independent jobs"): the row count
    // and each column's exact-NDV aggregate are independent single-pass
    // jobs that this statement used to run sequentially (1 + one per
    // column). Submitting them from a small thread pool lets each job's
    // tasks back-fill executors freed by the previous job's tail — the
    // per-pass PLAN is untouched (each separate distinct stays in
    // whole-stage codegen with map-side partial aggregation; packing
    // them into one aggregate plans the 4x-slower Expand, the qj0/q85
    // lesson kept from SURVEY §2.4).
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (n, colRows) = try {
      val nF = Future(df.count())
      // launch every per-column pass before awaiting any: 3 jobs in
      // flight is enough to fill the tail without fighting for cores
      val aggFs = df.schema.fields.toSeq.map { f =>
        val c = F.col(s"`${f.name}`")
        val statable = f.dataType match {
          case _: NumericType | StringType | DateType | TimestampType |
              org.apache.spark.sql.types.TimestampNTZType |
              org.apache.spark.sql.types.BooleanType => true
          case _ => false // arrays/maps/structs: stats render NULL
        }
        if (!statable) (f, None: Option[Future[org.apache.spark.sql.Row]])
        else {
          val isStr = f.dataType == StringType
          (f, Some(Future(df.agg(
            F.count(c).as("nn"), F.countDistinct(c).as("ndv"),
            F.min(c).cast("string").as("lo"),
            F.max(c).cast("string").as("hi"),
            (if (isStr) F.sum(F.length(c)) else F.lit(null).cast("bigint"))
              .as("sz")).head())))
        }
      }
      val nVal = Await.result(nF, Duration.Inf)
      val rows = aggFs.map {
        case (f, None) =>
          (f.name, None: Option[Long], None: Option[Long],
            None: Option[Double], None: Option[Long],
            None: Option[String], None: Option[String])
        case (f, Some(rf)) =>
          val r = Await.result(rf, Duration.Inf)
          val isStr = f.dataType == StringType
          (f.name,
            if (isStr && !r.isNullAt(4)) Some(r.getLong(4)) else None,
            Some(r.getLong(1)),
            Some(if (nVal == 0) 0.0
              else 1.0 - r.getLong(0).toDouble / nVal),
            None: Option[Long],
            Option(r.getString(2)), Option(r.getString(3)))
      }
      (nVal, rows)
    } finally pool.shutdown()
    val summary = (null: String, None: Option[Long], None: Option[Long],
      None: Option[Double], Some(n), None: Option[String],
      None: Option[String])
    (colRows :+ summary).toDF("column_name", "data_size",
      "distinct_values_count", "nulls_fraction", "row_count",
      "low_value", "high_value")
  }

  /** Entry point for statement-level Presto SQL: handles PREPARE /
    * EXECUTE / DEALLOCATE, DESCRIBE (incl. INPUT/OUTPUT), EXPLAIN,
    * SHOW CREATE/CATALOGS/SESSION, SET/RESET SESSION, transaction
    * no-ops, USE, SHOW STATS, and DROP FUNCTION; everything else falls
    * through to `spark.sql(rewritePrestoSql(...))`. */
  def prestoStatement(spark: SparkSession,
      sqlText: String): org.apache.spark.sql.DataFrame =
    // resource-group admission first when a manager is installed
    // (selection → queue/park → run), the reference's dispatch order
    StatementAdmission.admitted(spark, sqlText) {
      prestoStatementInner(spark, sqlText)
    }

  private def prestoStatementInner(spark: SparkSession,
      sqlText: String): org.apache.spark.sql.DataFrame = {
    // every routed statement lands in system.runtime.queries
    // (QuerySystemTable.java); nested re-entries (ALTER FUNCTION's
    // re-registration) log as their own entries, like a client retry
    val rec = PrestoSystem.record(spark, sqlText)
    try {
      val out = routeStatement(spark, sqlText)
      // atomic with any concurrent kill: a kill that landed wins here
      // (FAILED + the kill text) even if the jobs outran cancellation
      PrestoSystem.finishSuccess(spark, rec)
      out
    } catch {
      case e: Throwable =>
        PrestoSystem.finish(spark, rec, failed = true, failure = Some(e))
        // a kill (kill_query / execution-time limit) rethrows as the
        // reference's error text, not Spark's cancellation message
        throw PrestoSystem.failureFor(rec, e)
    } finally PrestoSystem.clearGroup(spark)
  }

  private def routeStatement(spark: SparkSession,
      sqlText: String): org.apache.spark.sql.DataFrame =
    sqlText match {
      case prepareRe(name, body) =>
        synchronized {
          preparedStmts.computeIfAbsent(spark,
            _ => scala.collection.mutable.Map.empty)
            .update(name.toLowerCase, body.trim)
        }
        spark.sql(s"SELECT 'PREPARE' AS result, '${name.toLowerCase}' AS statement")
      case deallocRe(name) =>
        synchronized {
          Option(preparedStmts.get(spark)).foreach(_.remove(name.toLowerCase))
        }
        spark.sql("SELECT 'DEALLOCATE' AS result")
      case executeRe(name, argsOrNull) =>
        val body = synchronized {
          Option(preparedStmts.get(spark)).flatMap(_.get(name.toLowerCase))
        }.getOrElse(sys.error(s"prepared statement not found: $name"))
        val args = Option(argsOrNull).map(splitTopLevel).getOrElse(Seq.empty)
        // positional ?-substitution, string literals masked
        val bound = substPlaceholders(body) { idx =>
          require(idx < args.length,
            s"EXECUTE $name: statement has more ? parameters than " +
              s"USING arguments (${args.length})")
          "(" + args(idx) + ")"
        }
        val n = countPlaceholders(body)
        require(n == args.length,
          s"EXECUTE $name: ${args.length} USING arguments for $n " +
            "? parameters")
        spark.sql(rewritePrestoSql(PrestoSystem.rewriteSystemTables(
          spark, PrestoSecurity.rewriteInfoSchema(spark, bound))))

      case descInputRe(name) =>
        // DescribeInputRewrite.java:123 — (Position, Type) per `?`,
        // 0-based, ordered by Position, with the TYPE the parameter is
        // coerced to in its analysis context (r8): each `?` becomes an
        // untyped ParamMarker probe, the statement is ANALYZED (never
        // executed), and the implicit Cast the analyzer wraps around a
        // probe names the parameter's type. A parameter with no
        // coercing context (`SELECT ?`) stays "unknown" — the
        // reference's own rendering when no coercion applies.
        import spark.implicits._
        val body = storedStatement(spark, name)
        val n = countPlaceholders(body)
        if (n == 0)
          spark.sql("SELECT cast(null as int) AS Position, cast(null as string) AS Type LIMIT 0")
        else {
          val types = scala.collection.mutable.Map.empty[Int, String]
          try {
            val marked = substPlaceholders(body)(i => s"(describe_input_param($i))")
            val analyzed = spark.sql(rewritePrestoSql(
              PrestoSystem.rewriteSystemTables(spark,
                PrestoSecurity.rewriteInfoSchema(spark, marked))))
              .queryExecution.analyzed
            (analyzed +: analyzed.subqueriesAll).foreach(_.foreach { node =>
              node.expressions.foreach(_.foreach {
                case c: org.apache.spark.sql.catalyst.expressions.Cast =>
                  c.child match {
                    case ParamMarker(i) =>
                      types.getOrElseUpdate(i, prestoTypeName(c.dataType))
                    case _ =>
                  }
                case _ =>
              })
            })
          } catch { case scala.util.control.NonFatal(_) => () }
          (0 until n).map(i => (i, types.getOrElse(i, "unknown")))
            .toDF("Position", "Type")
        }

      case descOutputRe(name) =>
        // DescribeOutputRewrite.java:115 — one row per output column
        // of the prepared statement, schema from analysis only (no
        // execution): placeholders bind NULL for analysis, Catalog/
        // Schema/Table render empty and Aliased true (the rendering
        // the reference uses for computed/aliased columns).
        import spark.implicits._
        val body = storedStatement(spark, name)
        val masked = substPlaceholders(body)(_ => "(null)")
        val schema = spark.sql(rewritePrestoSql(masked)).schema
        schema.fields.toSeq.map { f =>
          (f.name, "", "", "", prestoTypeName(f.dataType),
            prestoTypeSize(f.dataType), true)
        }.toDF("Column Name", "Catalog", "Schema", "Table", "Type",
          "Type Size", "Aliased")

      case explainRe(analyze, _, optsOrNull, body) =>
        // A leading parenthesized QUERY (`EXPLAIN (SELECT 1)`) is not
        // an option list — only TYPE/FORMAT keywords are.
        val optsLikely = Option(optsOrNull)
          .filter(o => """(?i)^\s*(TYPE|FORMAT)\b""".r.findFirstIn(o).isDefined)
        val fullBody =
          if (optsOrNull != null && optsLikely.isEmpty) s"($optsOrNull) $body"
          else body
        explainStatement(spark, analyze != null,
          optsLikely.getOrElse(""), fullBody)

      case showCreateTableRe(name) =>
        // ShowQueriesRewrite visitShowCreateTable: reconstructed DDL
        // from catalog metadata — columns + types, and (for catalog
        // tables) the WITH property block in SqlFormatter's layout,
        // reconstructed from the SAME metadata the CREATE TABLE ...
        // WITH surface wrote: provider → format, external location,
        // partition columns, bucket spec (ASC sort columns render
        // bare, per SortingColumn.sortingColumnToString), orc bloom
        // options. Temp views render columns only (no catalog entry).
        val base = name.split('.').last
        val cols = spark.table(base).schema.fields
          .map(f => s"""   "${f.name}" ${prestoTypeName(f.dataType)}""")
          .mkString(",\n")
        val props: Seq[String] = scala.util.Try {
          val m = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(base))
          def arr(xs: Seq[String]) =
            xs.map(x => s"'${x.replace("'", "''")}'")
              .mkString("ARRAY[", ",", "]")
          val fmt = m.provider.map(_.toLowerCase) match {
            case Some("parquet") => Seq("format = 'PARQUET'")
            case Some("orc") => Seq("format = 'ORC'")
            case Some("json") => Seq("format = 'JSON'")
            case Some("csv") => Seq("format = 'TEXTFILE'")
            case _ => Seq.empty
          }
          val loc =
            if (m.tableType ==
              org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
              m.storage.locationUri.map(u =>
                s"external_location = '${u.toString.replace("'", "''")}'")
                .toSeq
            else Seq.empty
          val parts =
            if (m.partitionColumnNames.nonEmpty)
              Seq(s"partitioned_by = ${arr(m.partitionColumnNames)}")
            else Seq.empty
          val bucket = m.bucketSpec.toSeq.flatMap { b =>
            // DESC sort specs live in the graft.sorted_by parameter
            // (Spark's bucket metadata is ASC-only)
            val sortedBy =
              if (b.sortColumnNames.nonEmpty)
                Seq(s"sorted_by = ${arr(b.sortColumnNames)}")
              else m.properties.get("graft.sorted_by").toSeq
                .map(cs => s"sorted_by = ${arr(cs.split(',').toSeq)}")
            Seq(s"bucketed_by = ${arr(b.bucketColumnNames)}",
              s"bucket_count = ${b.numBuckets}") ++ sortedBy
          }
          val bloom =
            m.storage.properties.get("orc.bloom.filter.columns").toSeq
              .map(cs => s"orc_bloom_filter_columns = ${arr(
                cs.split(',').toSeq)}") ++
              m.storage.properties.get("orc.bloom.filter.fpp").toSeq
                .map(f => s"orc_bloom_filter_fpp = $f")
          val pref =
            m.properties.get("graft.preferred_ordering_columns").toSeq
              .map(cs =>
                s"preferred_ordering_columns = ${arr(cs.split(',').toSeq)}")
          fmt ++ loc ++ parts ++ bucket ++ bloom ++ pref
        }.getOrElse(Seq.empty)
        val withBlock =
          if (props.isEmpty) ""
          else props.map("   " + _).mkString("\nWITH (\n", ",\n", "\n)")
        statusDf(spark, s"CREATE TABLE $base (\n$cols\n)$withBlock")
          .withColumnRenamed("result", "Create Table")

      case showCreateViewRe(name) =>
        val base = name.split('.').last.toLowerCase
        val text = sessionMap(createdViewTexts, spark).getOrElse(base,
          sys.error(s"SHOW CREATE VIEW: view not created this session: $base"))
        statusDf(spark, text).withColumnRenamed("result", "Create View")

      case showCreateFnRe(name) =>
        val base = name.split('.').last.toLowerCase
        val text = sessionMap(createdFnTexts, spark).getOrElse(base,
          sys.error(s"SHOW CREATE FUNCTION: function not created this session: $base"))
        statusDf(spark, text).withColumnRenamed("result", "Create Function")

      case showCatalogsRe(patOrNull) =>
        val df = spark.sql("SHOW CATALOGS")
          .withColumnRenamed("catalog", "Catalog")
        Option(patOrNull) match {
          case Some(p) =>
            df.filter(org.apache.spark.sql.functions.col("Catalog").like(p))
          case None => df
        }

      case describeRe(name)
          if !name.equalsIgnoreCase("INPUT") && !name.equalsIgnoreCase("OUTPUT") =>
        // DESCRIBE/DESC = SHOW COLUMNS (SqlBase.g4 aliases all three to
        // #showColumns): Column/Type/Extra/Comment from catalog
        // metadata, no scan.
        import spark.implicits._
        spark.table(name.split('.').last).schema.fields.toSeq
          .map(f => (f.name, prestoTypeName(f.dataType), "", ""))
          .toDF("Column", "Type", "Extra", "Comment")

      case setSessionRe(name0, rawValue) =>
        val name = name0.split('.').last.toLowerCase
        val d = sessionPropDefs.find(_.name == name).getOrElse(
          sys.error(s"Session property $name does not exist"))
        val value = rawValue.trim.stripPrefix("'").stripSuffix("'")
        validateSessionValue(d, value)
        val saved = sessionMap(sessionPropSaved, spark)
        name match {
          case "hash_partition_count" =>
            if (!saved.contains(name))
              saved(name) = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", value.toInt.toString)
          case "join_distribution_type" | "join_max_broadcast_table_size" =>
            () // both feed ONE Spark conf (the broadcast threshold) —
               // recomputed from the combined session state below
          case "join_reordering_strategy" =>
            // AUTOMATIC is the cost-based reorder (Spark's CBO
            // joinReorder rule); NONE/ELIMINATE_CROSS_JOINS leave it
            // off (Catalyst's default planning already refuses to
            // plan a cross product unless written as one)
            if (!saved.contains(name))
              saved(name) = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
            spark.conf.set("spark.sql.cbo.joinReorder.enabled",
              (value.toUpperCase == "AUTOMATIC").toString)
          case _ => () // recorded; consumed via sessionPropValue
            // (insert_existing_partitions_behavior by the write path,
            // query_max_execution_time by the router's watchdog) or a
            // Spark-subsumed no-op (spill_enabled: operator spilling
            // is always on in Spark)
        }
        sessionMap(sessionProps, spark)(name) = value
        if (name == "join_distribution_type" ||
          name == "join_max_broadcast_table_size")
          syncBroadcastConf(spark)
        statusDf(spark, "SET SESSION")

      case resetSessionRe(name0) =>
        val name = name0.split('.').last.toLowerCase
        val saved = sessionMap(sessionPropSaved, spark)
        name match {
          case "hash_partition_count" =>
            saved.remove(name).foreach(v =>
              spark.conf.set("spark.sql.shuffle.partitions", v))
          case "join_reordering_strategy" =>
            saved.remove(name).foreach(v =>
              spark.conf.set("spark.sql.cbo.joinReorder.enabled", v))
          case _ => ()
        }
        sessionMap(sessionProps, spark).remove(name)
        if (name == "join_distribution_type" ||
          name == "join_max_broadcast_table_size")
          syncBroadcastConf(spark)
        statusDf(spark, "RESET SESSION")

      case showSessionRe() =>
        // ShowQueriesRewrite visitShowSession: Name/Value/Default/Type/
        // Description over the property registry; Value reflects SET.
        // System properties sort by name (the TreeMap in
        // getAllSessionProperties:131), hidden ones are skipped
        // (:670-672), catalog sections follow with qualified names.
        import spark.implicits._
        val set = sessionMap(sessionProps, spark)
        sessionPropDefs.filterNot(_.hidden)
          .sortBy(d => (d.catalog.isDefined, d.catalog.getOrElse(""),
            d.name))
          .map { d =>
            val shown = d.catalog.map(c => s"$c.${d.name}")
              .getOrElse(d.name)
            (shown, set.getOrElse(d.name, d.default), d.default, d.typ,
              d.desc)
          }.toDF("Name", "Value", "Default", "Type", "Description")

      case txRe(stmt) =>
        // START TRANSACTION / COMMIT / ROLLBACK accepted as autocommit
        // no-ops: every statement commits on success, the stance of the
        // reference's non-transactional connectors (hive). Ledger
        // divergence — SURVEY §2.3.
        statusDf(spark,
          if (stmt.trim.toUpperCase.startsWith("START")) "START TRANSACTION"
          else stmt.trim.split("\\s+")(0).toUpperCase)

      case createSchemaWithRe(ine, name0, propsText) =>
        val name = name0.split('.').last
        var location: Option[String] = None
        propertyAssignments(propsText, "schema").foreach {
          case ("location", v) => v match {
            case propStrRe(x) => location = Some(x.replace("''", "'"))
            case other => sys.error(
              s"Invalid value for schema property 'location': Cannot convert '$other' to varchar")
          }
          case (other, _) => sys.error(
            s"Catalog 'hive' does not support schema property '$other'")
        }
        spark.sql(s"CREATE DATABASE ${
          if (ine != null) "IF NOT EXISTS " else ""}$name" +
          location.map(l => s" LOCATION '${l.replace("'", "''")}'")
            .getOrElse(""))
        statusDf(spark, "CREATE SCHEMA")

      case analyzeTableRe(name, propsOrNull) =>
        // ANALYZE (SqlBase.g4 #analyze; presto-main AnalyzeTask →
        // connector stats collection): Spark's catalog-stats ANALYZE —
        // row count + per-column ndv/min/max/nulls into the catalog,
        // feeding the CBO the way Presto's stats feed its optimizer.
        // The hive connector's one analyze property is `partitions`
        // (HiveAnalyzeProperties.java:44-53: array(array(varchar)),
        // whole-entry nulls loud, null VALUES map to hive's default
        // partition token, entries dedup as a set) — scoping stats
        // collection to the listed partitions
        // (HiveMetadata.java:394-403: a partition list on an
        // unpartitioned table is loud; HivePartitionManager:295-299:
        // every listed partition must exist). Spark analog:
        // ANALYZE TABLE ... PARTITION (spec) per listed entry —
        // PARTITION-LEVEL stats (row count/size), never a whole-table
        // scan; column-level ndv/min/max stay the whole-table ANALYZE's
        // job (Spark collects column stats only table-wide — documented
        // divergence from the reference's per-partition column stats).
        val base = name.split('.').last
        val partitionLists: Option[Seq[Seq[String]]] =
          Option(propsOrNull).flatMap { txt =>
            val assigns = propertyAssignments(txt, "analyze")
            assigns.find(_._1 != "partitions").foreach { case (k, _) =>
              sys.error(
                s"Catalog 'hive' does not support analyze property '$k'")
            }
            // WITH () or no partitions key = a whole-table analyze,
            // exactly the pre-r14 accepted-and-dropped reading
            val parsed = assigns.map(_._2)
            if (parsed.isEmpty) None else Some {
            val strRe = propStrRe
            def outerErr(v: String) = sys.error(
              "Invalid value for analyze property 'partitions': " +
                s"Cannot convert '$v' to array(array(varchar))")
            parsed.flatMap { v =>
              val outer = """(?is)^ARRAY\s*\[(.*)\]$""".r
                .findFirstMatchIn(v).getOrElse(outerErr(v)).group(1)
              splitTopLevel(outer).filter(_.nonEmpty).map { inner0 =>
                val inner = inner0.trim
                if (inner.equalsIgnoreCase("NULL")) sys.error(
                  "Invalid null value in analyze partitions property")
                val items = """(?is)^ARRAY\s*\[(.*)\]$""".r
                  .findFirstMatchIn(inner).getOrElse(outerErr(inner))
                  .group(1)
                splitTopLevel(items).filter(_.nonEmpty).map { it0 =>
                  it0.trim match {
                    case n if n.equalsIgnoreCase("NULL") =>
                      "__HIVE_DEFAULT_PARTITION__"
                    case strRe(x) => x.replace("''", "'")
                    case other => sys.error(
                      s"Invalid value for analyze property 'partitions': Cannot convert '$other' to varchar")
                  }
                }
              }.distinct // decodePartitionLists collects to a SET
            }
            }
          }
        partitionLists match {
          case None =>
            spark.sql(
              s"ANALYZE TABLE $base COMPUTE STATISTICS FOR ALL COLUMNS")
          case Some(lists) =>
            val partCols = spark.catalog.listColumns(base).collect()
              .filter(_.isPartition).map(_.name).toSeq
            if (partCols.isEmpty) sys.error(
              "Only partitioned table can be analyzed with a partition list")
            lists.foreach { vals =>
              if (vals.length != partCols.length) sys.error(
                s"Partition value count ${vals.length} does not match " +
                  s"partition column count ${partCols.length}")
              val spec = partCols.zip(vals).map { case (c, v) =>
                s"$c = '${v.replace("'", "''")}'" }.mkString(", ")
              // a listed partition that does not exist fails through
              // Spark's own NoSuchPartitionException — the reference's
              // "partition must exist" arm
              spark.sql(
                s"ANALYZE TABLE $base PARTITION ($spec) COMPUTE STATISTICS")
            }
        }
        statusDf(spark, "ANALYZE")

      case dropFnRe(ifExists, name) =>
        val base = name.split('.').last.toLowerCase
        spark.sql(s"DROP TEMPORARY FUNCTION ${if (ifExists != null) "IF EXISTS " else ""}$base")
        sessionMap(createdFnTexts, spark).remove(base)
        statusDf(spark, "DROP FUNCTION")

      case useRe(name) =>
        // USE schema / USE catalog.schema (SqlBase.g4:35-36): a
        // qualified catalog.schema collapses to the schema (one Spark
        // catalog); an unknown schema fails loudly through Spark's own
        // USE. Subsequent unqualified table names resolve in the new
        // schema (session temp views still win, as in Spark).
        spark.sql(s"USE ${name.split('.').last}")
        statusDf(spark, "USE")

      case renameSchemaRe(from0, to0) =>
        // ALTER SCHEMA x RENAME TO y (SqlBase.g4 #renameSchema) —
        // Spark's catalog has no database rename, so the statement is
        // expressed as create-target + move-every-table + drop-source.
        // Cross-database ALTER TABLE RENAME is also unsupported, so the
        // move is CTAS + DROP, with each table's provider copied from its
        // catalog metadata (a JSON table stays JSON, not coerced to
        // parquet). At warehouse scale prefer an object-store-level move;
        // this spelling is correct for the metadata-and-fixture-sized
        // schemas the statement governs. Persistent views fail loudly
        // (their definitions would need re-pointing — honest-loud beats
        // silently broken views). Failure containment (not full
        // atomicity): sources are dropped only AFTER every copy lands,
        // and a mid-copy failure drops the half-built target schema
        // before rethrowing — but a failure inside the post-copy drop
        // loop can still leave a table visible in both schemas, and the
        // CTAS copy does not carry partitioning/bucketing/options.
        val from = from0.toLowerCase; val to = to0.toLowerCase
        require(spark.catalog.databaseExists(from),
          s"Schema '$from' does not exist")
        require(!spark.catalog.databaseExists(to),
          s"Schema '$to' already exists")
        val tables = spark.sql(s"SHOW TABLES IN $from")
          .collect().filter(!_.getBoolean(2)).map(_.getString(1))
        tables.foreach { t =>
          require(spark.catalog.getTable(from, t).tableType != "VIEW",
            s"ALTER SCHEMA RENAME: '$from.$t' is a view — " +
              "recreate views against the new schema name")
        }
        def providerOf(t: String): String = try {
          // Catalog metadata, not DESCRIBE output: a user column literally
          // named "Provider" would collide with the DESCRIBE section row.
          spark.sessionState.catalog
            .getTableMetadata(org.apache.spark.sql.catalyst
              .TableIdentifier(t, Some(from)))
            .provider.filter(_.nonEmpty).getOrElse("parquet")
        } catch { case _: Exception => "parquet" }
        spark.sql(s"CREATE DATABASE $to")
        try
          tables.foreach { t =>
            spark.sql(
              s"CREATE TABLE $to.$t USING ${providerOf(t)} AS SELECT * FROM $from.$t")
          }
        catch {
          case e: Throwable =>
            spark.sql(s"DROP DATABASE IF EXISTS $to CASCADE")
            throw e
        }
        tables.foreach(t => spark.sql(s"DROP TABLE $from.$t"))
        spark.sql(s"DROP DATABASE $from")
        statusDf(spark, "RENAME SCHEMA")

      case alterFnRe(name, characteristic) =>
        // ALTER FUNCTION ... CALLED/RETURNS NULL ON NULL INPUT
        // (SqlBase.g4:70-72 alterFunction; the reference's only
        // alterable routine characteristic): re-registration — the
        // stored CREATE text has the old characteristic stripped, the
        // new one inserted before RETURN, and runs back through the
        // CREATE FUNCTION pipeline (which wraps/unwraps the null
        // guard). Unknown functions fail loudly.
        val base = name.split('.').last.toLowerCase
        val text = sessionMap(createdFnTexts, spark).getOrElse(base,
          sys.error(s"ALTER FUNCTION: function not created this session: $base"))
        // masked strips: the characteristic keywords could appear inside
        // a string literal in the function body
        val stripped = PrestoRewrite.maskedReplaceAll(
          PrestoRewrite.maskedReplaceAll(text,
            """(?is)\bRETURNS\s+NULL\s+ON\s+NULL\s+INPUT\b""".r)(_ => " "),
          """(?is)\bCALLED\s+ON\s+NULL\s+INPUT\b""".r)(_ => " ")
        val retMask = PrestoRewrite.stringMask(stripped)
        val retM = """(?is)\bRETURN\b""".r.findAllMatchIn(stripped)
          .find(m => !retMask(m.start))
          .getOrElse(sys.error("ALTER FUNCTION: stored text has no RETURN"))
        val altered = stripped.substring(0, retM.start) +
          characteristic.trim.replaceAll("\\s+", " ") + " " +
          stripped.substring(retM.start)
        val replaced =
          if ("""(?is)\bOR\s+REPLACE\b""".r.findFirstIn(altered).isDefined)
            altered
          else altered.replaceFirst("(?i)^\\s*CREATE\\b", "CREATE OR REPLACE")
        prestoStatement(spark, replaced)
        statusDf(spark, "ALTER FUNCTION")

      case showStatsRe(target) =>
        showStatsStatement(spark, target)

      case other =>
        // CALL procedures (SqlBase.g4:70 #call — kill_query + the
        // not-registered rejection), then the role/privilege family
        // (CREATE/DROP ROLE, GRANT, REVOKE, SET ROLE, SHOW
        // ROLES/GRANTS — SqlBase.g4:71-94).
        PrestoSystem.maybeCall(spark, other)
          .orElse(PrestoSecurity.maybeStatement(spark, other))
          .orElse(maybeCreateTableWith(spark, other))
          .orElse(maybeSortedInsert(spark, other))
          .getOrElse {
            // Record original texts for SHOW CREATE VIEW / FUNCTION
            // before the rewrite pipeline consumes them.
            createViewDetectRe.findFirstMatchIn(other).foreach { m =>
              sessionMap(createdViewTexts, spark)
                .update(m.group(1).split('.').last.toLowerCase, other.trim)
            }
            PrestoRewrite.createFnRe.findFirstMatchIn(other).foreach { m =>
              sessionMap(createdFnTexts, spark)
                .update(m.group(2).split('.').last.toLowerCase, other.trim)
            }
            spark.sql(rewritePrestoSql(PrestoSystem.rewriteSystemTables(
              spark, PrestoSecurity.rewriteInfoSchema(spark, other))))
          }
    }
}

/** DESCRIBE INPUT parameter probe: an untyped (NullType) leaf standing
  * in for `?` during analysis-only type inference; the implicit Cast
  * the analyzer wraps around it names the parameter's coerced type
  * (DescribeInputRewrite.java's coercion read, expressed through
  * Catalyst's own type coercion). Never executed. */
case class ParamMarker(idx: Int)
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "describe_input_param"
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.NullType
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    null
}
