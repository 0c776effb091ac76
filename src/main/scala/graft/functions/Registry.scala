package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateMap, DateFormatClass, ElementAt, Expression, ExpressionInfo, FormatString, Literal, RuntimeReplaceable, TimestampAdd, TimestampDiff, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType, StringType, TimestampType}

/** SQL-visible registry of PrestoDB function names, so reference SQL runs
  * against `spark.sql(...)` unmodified (SURVEY §7.1 `Registry.scala`).
  *
  * Every function is an expression TEMPLATE: a SQL fragment parsed once and
  * re-instantiated per call site with the argument expressions substituted
  * for `__a`/`__b`/`__c` placeholders. The result is a tree of Spark
  * built-in expressions — fully codegen'd, no UDFs, indistinguishable from
  * hand-written `functions._` calls after analysis. Functions whose Presto
  * name and semantics already exist in Spark (length, reverse, power,
  * split_part, width_bucket, …) are intentionally absent.
  *
  * Name sources: `presto-main/.../scalar/StringFunctions.java`,
  * `MathFunctions.java`, `DateTimeFunctions.java`, `UrlFunctions.java`,
  * `VarbinaryFunctions.java`; aggregate names from
  * `presto-main/.../aggregation/`.
  */
object Registry {

  // parse_duration's '<num><unit>' grammar (DateTimeFunctions.java
  // parseDuration; Duration.java VALID_UNITS) — SQL-literal regex, so
  // doubled backslashes survive Spark's string-escape processing.
  private val durationRe =
    "'^\\\\s*([0-9]+(?:\\\\.[0-9]+)?)\\\\s*(ns|us|ms|s|m|h|d)\\\\s*$'"
  private val durationSecs =
    s"cast(regexp_extract(__a, $durationRe, 1) as double) * " +
      s"CASE regexp_extract(__a, $durationRe, 2) " +
      "WHEN 'ns' THEN 0.000000001 WHEN 'us' THEN 0.000001 " +
      "WHEN 'ms' THEN 0.001 WHEN 's' THEN 1.0 WHEN 'm' THEN 60.0 " +
      "WHEN 'h' THEN 3600.0 WHEN 'd' THEN 86400.0 END"

  // One '<n> <unit>[s]' segment of human_readable_seconds; NULL when the
  // count is zero so concat_ws drops it.
  private def hrSegment(count: String, unit: String): String =
    s"CASE WHEN $count > 0 THEN concat($count, " +
      s"CASE WHEN $count = 1 THEN ' $unit' ELSE ' ${unit}s' END) END"

  // Wilson score interval bound (MathFunctions.java wilsonIntervalLower/
  // Upper): identical arithmetic tree on the oracle side gives bitwise-
  // equal doubles, so qe9 compares unrounded.
  // __c (the z-score) is forced to double: a bare 1.96 literal parses as
  // DECIMAL in both engines but decimal division scale rules differ, so
  // the arithmetic must happen in IEEE doubles on both sides.
  private def wilson(sign: String): String =
    "CASE WHEN __b <= 0 OR __a < 0 OR __a > __b OR __c < 0 THEN " +
      "raise_error('wilson_interval: requires 0 <= successes <= trials, " +
      "z >= 0') ELSE " +
      "(cast(__a as double) / __b " +
      "+ cast(__c as double) * cast(__c as double) / (2 * __b) " +
      s"$sign cast(__c as double) * sqrt(cast(__a as double) / __b * " +
      "(1 - cast(__a as double) / __b) / __b " +
      "+ cast(__c as double) * cast(__c as double) / " +
      "(4 * cast(__b as double) * __b))) " +
      "/ (1 + cast(__c as double) * cast(__c as double) / __b) END"

  // Zoned-timestamp template helpers: trailing zone recognizer (Z,
  // ±HH:MM, or a space-separated IANA name like Asia/Kolkata — the same
  // alternative timestampTzLiteralRe accepts; ADVICE r6: named zones
  // previously fell through to a silent NULL), the zone-of-literal
  // extractor (Z → UTC), and the signed whole-minute offset of a
  // struct<utc,tz> value at its own instant (exact: zone offsets are
  // whole minutes, so div 60 is exact and % keeps the dividend's sign —
  // (-3,-30) for a -03:30 zone).
  private val zonedTailRe =
    "(Z|[+-][0-9]{2}:[0-9]{2}|[ ][A-Za-z][A-Za-z_0-9/+-]*)$"
  private def zonedZoneOf(a: String): String =
    s"coalesce(nullif(regexp_extract($a, '([+-][0-9]{2}:[0-9]{2})$$', 1)," +
      s" ''), nullif(regexp_extract($a, '[ ]([A-Za-z][A-Za-z_0-9/+-]*)$$'," +
      " 1), ''), 'UTC')"
  private def zonedOffMin(a: String): String =
    s"((cast(cast(from_utc_timestamp($a.utc, $a.tz) as timestamp) as long)" +
      s" - cast(cast($a.utc as timestamp) as long)) div 60)"

  // Shoelace signed-sum fold over an implicit-closed ring of
  // struct<x,y> vertices — shared by st_area and st_centroid. All terms
  // are products/sums of the inputs, so on a dyadic-coordinate fixture
  // the fold is exact in double and the oracle replays it bitwise.
  private def cross(i: String): String =
    s"element_at(__a, $i).x * element_at(__a, $i % size(__a) + 1).y - " +
      s"element_at(__a, $i % size(__a) + 1).x * element_at(__a, $i).y"
  private val shoelace =
    s"aggregate(sequence(1, size(__a)), 0D, (s, i) -> s + ${cross("i")})"
  // explicit closure = the structural model's polygon tag (see the
  // structural-geometry template block)
  private val ringClosed =
    "(size(__a) >= 4 AND element_at(__a, 1).x = element_at(__a, size(__a)).x " +
      "AND element_at(__a, 1).y = element_at(__a, size(__a)).y)"
  // Σ (c_i + c_{i+1}) * cross_i for coordinate c — the polygon-centroid
  // numerator (the /6 is folded into the 3 * shoelace denominator since
  // shoelace here is twice the signed area).
  private def centroidSum(c: String): String =
    s"aggregate(sequence(1, size(__a)), 0D, (s, i) -> s + " +
      s"(element_at(__a, i).$c + element_at(__a, i % size(__a) + 1).$c) * " +
      s"(${cross("i")}))"

  /** Presto name → (arity, SQL template over __a/__b/__c). */
  private val templates: Seq[(String, Int, String)] = Seq(
    // --- string (StringFunctions.java) ---
    ("strpos", 2, "instr(__a, __b)"),
    ("codepoint", 1, "ascii(__a)"),
    ("chr", 1, "char(__a)"),
    ("levenshtein_distance", 2, "levenshtein(__a, __b)"),
    ("starts_with", 2, "startswith(__a, __b)"),
    ("ends_with", 2, "endswith(__a, __b)"),
    ("regexp_like", 2, "__a rlike __b"),
    ("split_to_map", 3, "str_to_map(__a, __b, __c)"),
    // multimap_from_entries (MultimapFromEntriesFunction.java): entries
    // are row(key, value) structs; duplicate keys collect values in
    // entry order. Same distinct-keys transform as split_to_multimap.
    ("multimap_from_entries", 1,
      "map_from_entries(transform(" +
        "array_distinct(transform(__a, e -> e.key)), " +
        "k -> struct(k AS key, transform(" +
        "filter(__a, e -> e.key = k), e -> e.value) AS value)))"),
    // --- JSON extras (JsonFunctions.java) ---
    // json_size: element count of the array/object at path, 0 for
    // scalars, NULL when the path misses.
    ("json_size", 2,
      "cast(CASE WHEN get_json_object(__a, __b) IS NULL THEN NULL " +
        "WHEN startswith(ltrim(get_json_object(__a, __b)), '[') " +
        "THEN json_array_length(get_json_object(__a, __b)) " +
        "WHEN startswith(ltrim(get_json_object(__a, __b)), '{') " +
        "THEN size(json_object_keys(get_json_object(__a, __b))) " +
        "ELSE 0 END as bigint)"),
    // json_array_get moved to the native JsonArrayGet expression (r8c)
    // — the reference's streaming token walk (JsonFunctions.java:375):
    // raw number spellings preserved, JSON null element -> SQL NULL.
    // See the builder in install().
    // json_array_contains moved to the native JsonArrayContains walk
    // (r8c — the reference's four per-type overloads, incl. the
    // int-vs-float token distinction). See the builder in install().
    // --- Teradata compat plugin (presto-teradata-functions/
    // .../TeradataStringFunctions.java): index = strpos; char2hexint =
    // uppercase hex of the UTF-16BE encoding ---
    ("index", 2, "instr(__a, __b)"),
    ("char2hexint", 1, "upper(hex(encode(__a, 'UTF-16BE')))"),
    // split_to_multimap (SplitToMultimapFunction.java): entries keep
    // duplicate keys as an array of values in entry order; each entry
    // splits at its FIRST key-value delimiter. Distinct-keys transform is
    // O(k^2) per row in the worst case — fine for config-string shapes.
    ("split_to_multimap", 3,
      "map_from_entries(transform(" +
        "array_distinct(transform(split(__a, __b), " +
        "kv -> split_part(kv, __c, 1))), " +
        "k -> struct(k AS key, transform(" +
        "filter(split(__a, __b), kv -> split_part(kv, __c, 1) = k), " +
        "kv -> substring(kv, instr(kv, __c) + length(__c))) AS value)))"),
    // parse_presto_data_size (DataSizeFunctions.java): binary (1024-base)
    // unit factors, case-sensitive unit symbols, error on malformed input.
    // Values kept <= TB stay exact in double; reference returns
    // decimal(38,0), bigint covers the practical range.
    ("parse_presto_data_size", 1,
      "CASE WHEN __a rlike '^\\\\s*([0-9]+(?:\\\\.[0-9]+)?)\\\\s*([kMGTPEZY]?B)\\\\s*$' THEN " +
        "cast(round(cast(regexp_extract(__a, " +
        "'^\\\\s*([0-9]+(?:\\\\.[0-9]+)?)\\\\s*([kMGTPEZY]?B)\\\\s*$', 1) as double) * " +
        "CASE regexp_extract(__a, " +
        "'^\\\\s*([0-9]+(?:\\\\.[0-9]+)?)\\\\s*([kMGTPEZY]?B)\\\\s*$', 2) " +
        "WHEN 'B' THEN 1.0 WHEN 'kB' THEN 1024.0 WHEN 'MB' THEN 1048576.0 " +
        "WHEN 'GB' THEN 1073741824.0 WHEN 'TB' THEN 1099511627776.0 " +
        "WHEN 'PB' THEN 1125899906842624.0 " +
        "WHEN 'EB' THEN 1152921504606846976.0 " +
        "ELSE raise_error(concat('Invalid data size: ', __a)) END) as bigint) " +
        "ELSE raise_error(concat('Invalid data size: ', __a)) END"),
    // --- math (MathFunctions.java) ---
    ("from_base", 2, "cast(conv(__a, __b, 10) as bigint)"),
    ("to_base", 2, "lower(conv(cast(__a as string), 10, __b))"),
    ("infinity", 0, "cast('Infinity' as double)"),
    ("nan", 0, "cast('NaN' as double)"),
    // Spark's isnan(NULL) is FALSE; the reference's primitive-double
    // @ScalarFunction is RETURN_NULL_ON_NULL — wrap to preserve it.
    ("is_nan", 1,
      "CASE WHEN __a IS NULL THEN NULL ELSE isnan(cast(__a as double)) END"),
    ("is_finite", 1,
      "not isnan(cast(__a as double)) and abs(cast(__a as double)) <> cast('Infinity' as double)"),
    ("is_infinite", 1, "abs(cast(__a as double)) = cast('Infinity' as double)"),
    ("truncate", 1, "sign(__a) * floor(abs(__a))"),
    // cosine_similarity / dot_product / l2_distance are registered below
    // as native codegen expressions (VectorExpressions), not templates.
    // --- bitwise (BitwiseFunctions.java) ---
    ("bitwise_and", 2, "cast(__a as bigint) & cast(__b as bigint)"),
    ("bitwise_or", 2, "cast(__a as bigint) | cast(__b as bigint)"),
    ("bitwise_xor", 2, "cast(__a as bigint) ^ cast(__b as bigint)"),
    ("bitwise_not", 1, "~cast(__a as bigint)"),
    ("bitwise_left_shift", 2, "shiftleft(cast(__a as bigint), cast(__b as int))"),
    ("bitwise_right_shift", 2, "shiftright(cast(__a as bigint), cast(__b as int))"),
    // --- date/time (DateTimeFunctions.java); ISO day numbering ---
    ("day_of_week", 1, "((dayofweek(__a) + 5) % 7) + 1"),
    ("dow", 1, "((dayofweek(__a) + 5) % 7) + 1"),
    ("day_of_year", 1, "dayofyear(__a)"),
    ("doy", 1, "dayofyear(__a)"),
    ("week_of_year", 1, "weekofyear(__a)"),
    ("year_of_week", 1, "extract(YEAROFWEEK FROM __a)"),
    ("yow", 1, "extract(YEAROFWEEK FROM __a)"),
    ("to_unixtime", 1, "cast(unix_micros(cast(__a as timestamp)) as double) / 1e6"),
    ("last_day_of_month", 1, "last_day(__a)"),
    ("from_iso8601_date", 1, "to_date(__a)"),
    ("from_iso8601_timestamp", 1, "to_timestamp(__a)"),
    ("regexp_split", 2, "split(__a, __b)"),
    // Timezone surface (DateTimeFunctions.java at_timezone/with_timezone,
    // timezone_hour/timezone_minute). Spark timestamps carry no zone, so
    // the 1-arg Presto forms (which read the value's embedded zone) become
    // 2-arg (ts, zone) spellings over the UTC session: at_timezone shifts
    // an instant to the zone's wall clock, with_timezone interprets a wall
    // clock IN the zone as an instant; the offset extractors truncate
    // toward zero so -3:30 zones report (-3, -30) like the reference.
    ("at_timezone", 2, "convert_timezone('UTC', __b, __a)"),
    ("with_timezone", 2, "convert_timezone(__b, 'UTC', __a)"),
    ("timezone_hour", 2,
      "(cast(cast(convert_timezone('UTC', __b, __a) as timestamp) as long) " +
        "- cast(cast(__a as timestamp) as long)) div 3600"),
    ("timezone_minute", 2,
      "((cast(cast(convert_timezone('UTC', __b, __a) as timestamp) as long) " +
        "- cast(cast(__a as timestamp) as long)) % 3600) div 60"),
    // Per-VALUE zoned timestamps (TimestampWithTimeZoneType.java;
    // DateTimeEncoding.java packs millis+zoneKey into one long). The
    // Spark-first shape is struct<utc: timestamp_ntz, tz: string> — the
    // instant plus its zone, carried column-wise — and every operation
    // is a pure SQL template over Spark's zone machinery (codegen'd, no
    // UDF): ordering/equality on the instant via zoned_instant, wall-
    // clock extraction via zoned_local, offsets truncated toward zero
    // like the reference. The session stays UTC; only these columns
    // carry zones.
    ("zoned_timestamp", 1,
      // wall clock that still fails to parse after the zone tail is
      // stripped raises with a controlled message (loud-failure stance,
      // ADVICE r6) instead of a silent NULL-utc struct; try_to_timestamp
      // keeps the probe from throwing Spark's ANSI error first
      s"named_struct('utc', CASE WHEN __a IS NULL THEN " +
        s"try_to_timestamp(NULL) WHEN try_to_timestamp(" +
        s"regexp_replace(__a, '$zonedTailRe', '')) IS NULL THEN " +
        "raise_error(concat('zoned_timestamp: cannot parse ', __a)) " +
        s"ELSE to_utc_timestamp(try_to_timestamp(" +
        s"regexp_replace(__a, '$zonedTailRe', '')), ${zonedZoneOf("__a")})" +
        s" END, 'tz', ${zonedZoneOf("__a")})"),
    ("zoned_at_timezone", 2, "named_struct('utc', __a.utc, 'tz', __b)"),
    ("zoned_with_timezone", 2,
      "named_struct('utc', to_utc_timestamp(__a, __b), 'tz', __b)"),
    ("zoned_local", 1, "from_utc_timestamp(__a.utc, __a.tz)"),
    ("zoned_instant", 1, "__a.utc"),
    ("zoned_timezone_hour", 1,
      s"(${zonedOffMin("__a")} - (${zonedOffMin("__a")} % 60)) div 60"),
    ("zoned_timezone_minute", 1, s"${zonedOffMin("__a")} % 60"),
    ("zoned_to_iso8601", 1,
      "concat(date_format(from_utc_timestamp(__a.utc, __a.tz), " +
        "\"yyyy-MM-dd'T'HH:mm:ss\"), " +
        s"CASE WHEN ${zonedOffMin("__a")} >= 0 THEN '+' ELSE '-' END, " +
        s"lpad(cast(abs(${zonedOffMin("__a")}) div 60 as string), 2, '0')," +
        s" ':', " +
        s"lpad(cast(abs(${zonedOffMin("__a")}) % 60 as string), 2, '0'))"),
    // parse_duration('2.25h') → day-time interval; invalid strings raise,
    // as Presto's INVALID_FUNCTION_ARGUMENT (no silent nulls).
    ("parse_duration", 1,
      s"CASE WHEN __a rlike $durationRe THEN " +
        s"make_dt_interval(0, 0, 0, $durationSecs) " +
        "ELSE raise_error(concat('duration is not a valid data duration " +
        "string: ', __a)) END"),
    // to_milliseconds(interval): whole seconds via the bigint cast (Spark
    // truncates to the SECOND end field) plus the sub-second remainder of
    // EXTRACT(SECOND), which keeps the fraction.
    ("to_milliseconds", 1,
      "cast(cast(__a as bigint) * 1000 + " +
        "round((extract(second from __a) % 1) * 1000) as bigint)"),
    ("human_readable_seconds", 1,
      "CASE WHEN __a < 0 THEN raise_error('human_readable_seconds: " +
        "negative duration') " +
        "WHEN cast(round(__a) as bigint) = 0 THEN '0 seconds' " +
        "ELSE concat_ws(', ', " +
        hrSegment("(cast(round(__a) as bigint) div 604800)", "week") + ", " +
        hrSegment("(cast(round(__a) as bigint) % 604800 div 86400)", "day") +
        ", " +
        hrSegment("(cast(round(__a) as bigint) % 86400 div 3600)", "hour") +
        ", " +
        hrSegment("(cast(round(__a) as bigint) % 3600 div 60)", "minute") +
        ", " +
        hrSegment("cast(round(__a) as bigint) % 60", "second") + ") END"),
    ("wilson_interval_lower", 3, wilson("-")),
    ("wilson_interval_upper", 3, wilson("+")),
    // NOT registered: Presto's from_unixtime (returns timestamp) and
    // contains (array membership) share names with Spark builtins of
    // DIFFERENT semantics (string from_unixtime, string contains) — and in
    // Spark 4 the Column API resolves builtin names through the session
    // registry too, so shadowing them would silently break every other
    // query in the session. Use timestamp_seconds / array_contains.
    // --- array (ArrayFunctions + lambdas) ---
    // zip (ZipFunction.java): pairs by position, null-padded to the longer
    // side, row fields named field0/field1 as in the reference.
    ("zip", 2,
      "zip_with(__a, __b, (x, y) -> struct(x AS field0, y AS field1))"),
    // When n exceeds the array length the reference clamps n to the
    // length and returns a single n-gram of the whole array
    // (ArrayNgramsFunction.java: ngrams(['a'], 2) = [['a']]).
    ("ngrams", 2,
      "case when size(__a) >= __b then " +
        "transform(sequence(1, size(__a) - __b + 1), i -> slice(__a, i, __b)) " +
        "else array(__a) end"),
    ("array_sum", 1, "aggregate(__a, 0D, (s, x) -> s + cast(x as double))"),
    ("array_average", 1,
      "aggregate(__a, 0D, (s, x) -> s + cast(x as double)) / size(__a)"),
    // --- JSON / URL (JsonFunctions.java, UrlFunctions.java) ---
    ("json_extract_scalar", 2, "get_json_object(__a, __b)"),
    ("url_extract_protocol", 1, "parse_url(__a, 'PROTOCOL')"),
    ("url_extract_host", 1, "parse_url(__a, 'HOST')"),
    ("url_extract_path", 1, "parse_url(__a, 'PATH')"),
    ("url_extract_query", 1, "parse_url(__a, 'QUERY')"),
    ("url_extract_parameter", 2, "parse_url(__a, 'QUERY', __b)"),
    // --- binary (VarbinaryFunctions.java; Presto returns varbinary) ---
    ("to_hex", 1, "upper(hex(__a))"),
    ("from_hex", 1, "unhex(__a)"),
    ("to_utf8", 1, "encode(__a, 'UTF-8')"),
    ("from_utf8", 1, "decode(__a, 'UTF-8')"),
    ("sha256", 1, "unhex(sha2(__a, 256))"),
    // --- aggregates (aggregation/*.java) ---
    ("arbitrary", 1, "any_value(__a)"),
    // approx_distinct moved to a native builder over the real HLL (r8c)
    // — see the approx_set block in install().
    // set_agg / set_union (SetAggregationFunction.java /
    // SetUnionFunction.java). Presto leaves element order unspecified;
    // sorted output is a valid instance and makes results deterministic
    // under any partitioning. set_union's collect_list-then-flatten keeps
    // it a single aggregate expression; distinct-state partial
    // aggregation still bounds what shuffles when inputs repeat.
    ("set_agg", 1, "sort_array(collect_set(__a))"),
    ("set_union", 1,
      "sort_array(array_distinct(flatten(collect_list(__a))))"),
    ("geometric_mean", 1, "exp(avg(ln(__a)))"),
    // entropy(c) over per-row counts (EntropyAggregation.java): Shannon
    // entropy in bits, algebraic over (sum c, sum c*log2 c) so it rides
    // partial aggregation; zero counts contribute nothing, as there.
    ("entropy", 1,
      "log2(sum(cast(__a as double))) - " +
        "sum(CASE WHEN __a > 0 THEN cast(__a as double) * log2(__a) " +
        "ELSE 0.0D END) / sum(cast(__a as double))"),
    // checksum(x) (ChecksumAggregationFunction.java): order-independent
    // digest via XOR of per-row hashes. Same contract (any permutation of
    // the same multiset collides; nulls skipped), different bytes: the
    // reference XORs its block hashes into varbinary, here it's the
    // md5-derived 60-bit int so the DuckDB oracle can replay it exactly.
    // (registered as a NATIVE builder after the template loop — r17 OPT:
    // the composed md5/conv chain paid a synchronized per-row
    // MessageDigest lookup; Md5Prefix60 is the bit-identical native form)
    // --- IP functions (IpPrefixFunctions.java; IPv4 over varchar —
    // Presto's IPADDRESS/IPPREFIX types carry the same dotted-quad
    // text form). Pure integer bit math, fully codegen'd; the repeated
    // dotted-quad parse collapses under codegen subexpression
    // elimination. ---
    ("ip_prefix", 2, {
      val m = IpTemplates.masked("__a", "__b")
      s"concat(${IpTemplates.ntoa(m)}, '/', cast(__b as string))"
    }),
    ("is_subnet_of", 2, {
      val bits = "cast(element_at(split(__a, '/'), 2) as bigint)"
      val paddr = "element_at(split(__a, '/'), 1)"
      s"${IpTemplates.masked(paddr, bits)} = ${IpTemplates.masked("__b", bits)}"
    }),
    // --- geospatial core (presto-geospatial GeoFunctions.java; point
    // subset). A point is a struct<x:double,y:double> — the Spark-native
    // re-expression of Presto's GEOMETRY type for the point workflows
    // (the full Esri geometry model stays descoped, SURVEY §2). Every
    // template compiles to builtin arithmetic: codegen'd, pushdown-safe,
    // no UDF. ---
    // localtime (DateTimeFunctions.java): time-of-day in the epoch-date
    // TIMESTAMP_NTZ representation (the TIME mapping in
    // rewritePrestoSql). Spelling divergence: Presto's grammar makes it
    // a niladic special form (`localtime`); here it is `localtime()` —
    // Spark's parser resolves the bare word as a column.
    ("localtime", 0,
      "cast(concat('1970-01-01 ', date_format(localtimestamp(), " +
        "'HH:mm:ss.SSS')) as timestamp_ntz)"),
    ("st_point", 2,
      "named_struct('x', cast(__a as double), 'y', cast(__b as double))"),
    ("st_x", 1, "__a.x"),
    ("st_y", 1, "__a.y"),
    ("st_astext", 1,
      "concat('POINT (', cast(__a.x as string), ' ', cast(__a.y as string), ')')"),
    ("st_geometryfromtext", 1,
      "named_struct(" +
        "'x', cast(regexp_extract(__a, 'POINT \\\\(([-0-9.]+) ([-0-9.]+)\\\\)', 1) as double), " +
        "'y', cast(regexp_extract(__a, 'POINT \\\\(([-0-9.]+) ([-0-9.]+)\\\\)', 2) as double))"),
    ("st_distance", 2,
      "sqrt((__a.x - __b.x) * (__a.x - __b.x) + (__a.y - __b.y) * (__a.y - __b.y))"),
    ("st_equals", 2, "__a.x = __b.x and __a.y = __b.y"),
    // great_circle_distance(lat1, lon1, lat2, lon2) in km — the Vincenty
    // arctan form of SphericalGeographyUtils.greatCircleDistance:82 with
    // its EARTH_RADIUS_KM = 6371.01.
    ("great_circle_distance", 4,
      "atan2(sqrt(" +
        "pow(cos(radians(__c)) * sin(radians(__b) - radians(__d)), 2) + " +
        "pow(cos(radians(__a)) * sin(radians(__c)) - " +
        "sin(radians(__a)) * cos(radians(__c)) * cos(radians(__b) - radians(__d)), 2)), " +
        "sin(radians(__a)) * sin(radians(__c)) + " +
        "cos(radians(__a)) * cos(radians(__c)) * cos(radians(__b) - radians(__d))" +
        ") * 6371.01"),
    // Polygon/linestring measures over array<point> rings (GeoFunctions
    // ST_Area / ST_Centroid / ST_Length). The ring is implicit-closed
    // (first vertex not repeated), matching the shoelace wraparound
    // i % n + 1. HOF folds are CodegenFallback, but run once per row over
    // small vertex arrays — geometry scalar work, not a hot aggregate.
    ("st_area", 1, s"abs($shoelace) / 2"),
    ("st_centroid", 1,
      "named_struct(" +
        s"'x', ${centroidSum("x")} / (3 * $shoelace), " +
        s"'y', ${centroidSum("y")} / (3 * $shoelace))"),
    ("st_length", 1,
      "aggregate(sequence(2, size(__a)), 0D, (s, i) -> s + sqrt(" +
        "(element_at(__a, i).x - element_at(__a, i - 1).x) * " +
        "(element_at(__a, i).x - element_at(__a, i - 1).x) + " +
        "(element_at(__a, i).y - element_at(__a, i - 1).y) * " +
        "(element_at(__a, i).y - element_at(__a, i - 1).y)))"),
    // Linestring/ring accessors (GeoFunctions ST_NumPoints/ST_PointN/
    // ST_StartPoint/ST_EndPoint/ST_IsClosed/ST_IsEmpty and the envelope
    // family) over the pack's array<struct<x,y>> representation.
    // ST_PointN is 1-based and NULL out of range, like the reference.
    ("st_numpoints", 1, "cast(size(__a) as bigint)"),
    ("st_pointn", 2,
      "CASE WHEN cast(__b as int) BETWEEN 1 AND size(__a) " +
        "THEN element_at(__a, cast(__b as int)) ELSE NULL END"),
    ("st_startpoint", 1,
      "CASE WHEN size(__a) >= 1 THEN element_at(__a, 1) ELSE NULL END"),
    ("st_endpoint", 1,
      "CASE WHEN size(__a) >= 1 THEN element_at(__a, size(__a)) ELSE NULL END"),
    ("st_isclosed", 1,
      "size(__a) >= 2 AND element_at(__a, 1).x = element_at(__a, size(__a)).x " +
        "AND element_at(__a, 1).y = element_at(__a, size(__a)).y"),
    ("st_isempty", 1, "size(__a) = 0"),
    ("st_xmin", 1, "array_min(transform(__a, p -> p.x))"),
    ("st_xmax", 1, "array_max(transform(__a, p -> p.x))"),
    ("st_ymin", 1, "array_min(transform(__a, p -> p.y))"),
    ("st_ymax", 1, "array_max(transform(__a, p -> p.y))"),
    // ST_Envelope: the bounding box as this pack's implicit-closed ring
    // (4 corners CCW) — composable with st_area/st_centroid/st_contains.
    // ST_EnvelopeAsPts: the reference's 2-point (min, max) multipoint.
    ("st_envelope", 1,
      "array(" +
        "named_struct('x', array_min(transform(__a, p -> p.x)), 'y', array_min(transform(__a, p -> p.y))), " +
        "named_struct('x', array_max(transform(__a, p -> p.x)), 'y', array_min(transform(__a, p -> p.y))), " +
        "named_struct('x', array_max(transform(__a, p -> p.x)), 'y', array_max(transform(__a, p -> p.y))), " +
        "named_struct('x', array_min(transform(__a, p -> p.x)), 'y', array_max(transform(__a, p -> p.y))))"),
    ("st_envelopeaspts", 1,
      "array(" +
        "named_struct('x', array_min(transform(__a, p -> p.x)), 'y', array_min(transform(__a, p -> p.y))), " +
        "named_struct('x', array_max(transform(__a, p -> p.x)), 'y', array_max(transform(__a, p -> p.y))))"),
    // expand_envelope(geom, d): the bounding ring grown by d on every
    // side (GeoFunctions expandEnvelope). st_coorddim is always 2 for
    // this pack's planar geometries; st_numinteriorring is 0 — holes
    // are unrepresentable here, so the answer is exact for every
    // geometry the engine can hold (both match the reference on those).
    ("expand_envelope", 2,
      "array(" +
        "named_struct('x', array_min(transform(__a, p -> p.x)) - __b, 'y', array_min(transform(__a, p -> p.y)) - __b), " +
        "named_struct('x', array_max(transform(__a, p -> p.x)) + __b, 'y', array_min(transform(__a, p -> p.y)) - __b), " +
        "named_struct('x', array_max(transform(__a, p -> p.x)) + __b, 'y', array_max(transform(__a, p -> p.y)) + __b), " +
        "named_struct('x', array_min(transform(__a, p -> p.x)) - __b, 'y', array_max(transform(__a, p -> p.y)) + __b))"),
    ("st_coorddim", 1, "cast(2 as tinyint)"),
    ("st_numinteriorring", 1, "cast(0 as bigint)"),
    // Structural geometry surface over the array<point> model
    // (GeoFunctions.java ST_Dimension/ST_GeometryType/ST_Boundary/
    // ST_Points/ST_ExteriorRing/ST_InteriorRing*/ST_NumGeometries/
    // ST_GeometryN/ST_Geometries/ST_MultiPoint/ST_Polygon and the
    // to_geometry/to_spherical_geography casts). Polygon-vs-linestring
    // is EXPLICIT closure (first vertex = last) — the only type tag the
    // structural model carries (st_polygon emits explicit-closed rings;
    // the shoelace templates accept both, the wraparound term of an
    // explicit-closed ring being zero). Holes are unrepresentable, so
    // the interior-ring answers are exact for every representable
    // geometry.
    ("st_dimension", 1, s"cast(CASE WHEN $ringClosed THEN 2 ELSE 1 END as bigint)"),
    ("st_geometrytype", 1,
      s"CASE WHEN $ringClosed THEN 'ST_Polygon' ELSE 'ST_LineString' END"),
    // boundary of a ring is empty; of a linestring, its two endpoints
    ("st_boundary", 1,
      s"CASE WHEN $ringClosed THEN slice(__a, 1, 0) " +
        "ELSE array(element_at(__a, 1), element_at(__a, size(__a))) END"),
    ("st_points", 1, "__a"),
    ("st_exteriorring", 1, "__a"),
    ("st_interiorrings", 1, "slice(array(__a), 1, 0)"),
    ("st_interiorringn", 2, "CASE WHEN false THEN __a ELSE NULL END"),
    ("st_numgeometries", 1, "cast(size(__a) as bigint)"),
    ("st_geometryn", 2,
      "CASE WHEN cast(__b as int) BETWEEN 1 AND size(__a) " +
        "THEN element_at(__a, cast(__b as int)) ELSE NULL END"),
    ("st_geometries", 1, "__a"),
    ("st_multipoint", 1, "__a"),
    // WKT polygon parse (single exterior ring, explicit-closed kept as
    // the polygon tag per above)
    ("st_polygon", 1,
      "transform(split(regexp_extract(__a, " +
        "'POLYGON \\\\(\\\\(([^)]+)\\\\)\\\\)', 1), ', '), s -> " +
        "named_struct('x', cast(element_at(split(s, ' '), 1) as double), " +
        "'y', cast(element_at(split(s, ' '), 2) as double)))"),
    ("to_geometry", 1, "__a"),
    // planar coordinates pass through; out-of-range lat/lon rejected
    // like the reference's toSphericalGeography validation
    ("to_spherical_geography", 1,
      "CASE WHEN forall(__a, p -> abs(p.x) <= 180D AND abs(p.y) <= 90D) " +
        "THEN __a ELSE raise_error(concat('to_spherical_geography: ', " +
        "'longitude must be in [-180,180], latitude in [-90,90]')) END"),
    // point buffer as a 32-gon ring (the reference's Esri buffer is a
    // denser curve approximation; vertex layout diverges, area/contains
    // semantics agree to the n-gon tolerance — documented divergence)
    ("st_buffer", 2,
      "transform(sequence(0, 31), i -> named_struct(" +
        "'x', __a.x + cast(__b as double) * cos(pi() * i / 16D), " +
        "'y', __a.y + cast(__b as double) * sin(pi() * i / 16D)))"),
    // geometry_to_bing_tiles(ring, zoom) (BingTileFunctions.java:252):
    // the tile cover of the geometry's ENVELOPE (the reference prunes
    // tiles not touching the geometry itself — envelope cover is the
    // documented superset; exact for rectangles). Web-Mercator y axis
    // inverts latitude: ymax → smallest tile y.
    ("geometry_to_bing_tiles", 2, {
      val xmin = "array_min(transform(__a, p -> p.x))"
      val xmax = "array_max(transform(__a, p -> p.x))"
      val ymin = "array_min(transform(__a, p -> p.y))"
      val ymax = "array_max(transform(__a, p -> p.y))"
      s"flatten(transform(sequence(${bingTileX(xmin, "__b")}, " +
        s"${bingTileX(xmax, "__b")}), xx -> " +
        s"transform(sequence(${bingTileY(ymax, "__b")}, " +
        s"${bingTileY(ymin, "__b")}), yy -> " +
        "named_struct('x', cast(xx as int), 'y', cast(yy as int), " +
        "'zoom', cast(__b as int)))))"
    }),
    // ST_LineFromText / ST_LineString: WKT 'LINESTRING (x y, x y, …)'
    // parse, and the array<point> constructor (identity here).
    ("st_linefromtext", 1,
      "transform(split(regexp_extract(__a, 'LINESTRING\\\\s*\\\\((.+)\\\\)', 1), ','), " +
        "s -> named_struct(" +
        "'x', cast(element_at(split(trim(s), ' '), 1) as double), " +
        "'y', cast(element_at(split(trim(s), ' '), 2) as double)))"),
    ("st_linestring", 1, "__a"),
    // ST_Contains(ring, point) for ARBITRARY simple polygons — even-odd
    // ray casting over the implicit-closed ring (replaces the pack's
    // earlier convex-only edge-sign operator; non-convex rings now work).
    // When the parity test's edge straddles the scanline, y_i != y_j, so
    // the crossing-x division is never by zero. Boundary points are
    // parity-undefined, as in every even-odd implementation — the
    // reference's OGC contains() also excludes the boundary.
    ("st_contains", 2,
      "aggregate(sequence(1, size(__a)), false, (acc, i) -> " +
        "CASE WHEN ((element_at(__a, i).y > __b.y) != " +
        "(element_at(__a, i % size(__a) + 1).y > __b.y)) AND " +
        "(__b.x < (element_at(__a, i % size(__a) + 1).x - element_at(__a, i).x) * " +
        "(__b.y - element_at(__a, i).y) / " +
        "(element_at(__a, i % size(__a) + 1).y - element_at(__a, i).y) + " +
        "element_at(__a, i).x) THEN NOT acc ELSE acc END)"),
    ("st_within", 2,
      "aggregate(sequence(1, size(__b)), false, (acc, i) -> " +
        "CASE WHEN ((element_at(__b, i).y > __a.y) != " +
        "(element_at(__b, i % size(__b) + 1).y > __a.y)) AND " +
        "(__a.x < (element_at(__b, i % size(__b) + 1).x - element_at(__b, i).x) * " +
        "(__a.y - element_at(__b, i).y) / " +
        "(element_at(__b, i % size(__b) + 1).y - element_at(__b, i).y) + " +
        "element_at(__b, i).x) THEN NOT acc ELSE acc END)"),

    // --- round-5 coverage-audit batch (names surfaced by diffing the
    // reference's @ScalarFunction annotations against this registry) ---
    // strrpos (StringFunctions.java): LAST occurrence, 1-based, 0 if absent
    ("strrpos", 2,
      "CASE WHEN instr(reverse(__a), reverse(__b)) = 0 THEN 0L " +
        "ELSE cast(length(__a) - instr(reverse(__a), reverse(__b)) " +
        "- length(__b) + 2 as bigint) END"),
    // URL-safe base64 (VarbinaryFunctions.java to/fromBase64Url)
    ("to_base64url", 1, "translate(base64(__a), '+/', '-_')"),
    ("from_base64url", 1, "unbase64(translate(__a, '-_', '+/'))"),
    // big-endian two's-complement byte images (VarbinaryFunctions.java)
    ("to_big_endian_64", 1, "unhex(lpad(hex(cast(__a as bigint)), 16, '0'))"),
    ("from_big_endian_64", 1,
      beSigned("__a", "9223372036854775807", "18446744073709551616", "bigint")),
    ("to_big_endian_32", 1,
      "unhex(lpad(hex(cast(__a as bigint) & 4294967295), 8, '0'))"),
    ("from_big_endian_32", 1,
      beSigned("__a", "2147483647", "4294967296", "int")),
    // CombineHashFunction.java:28 — the hash-chaining primitive
    ("combine_hash", 2, "31 * cast(__a as bigint) + cast(__b as bigint)"),
    // MathFunctions.random: 0-arg uniform double, 1-arg integer [0, n)
    ("random", 0, "rand()"),
    ("random", 1, "cast(floor(rand() * __a) as bigint)"),
    // FailureFunction.java — fail(message) / fail(code, message)
    ("fail", 1, "raise_error(__a)"),
    ("fail", 2, "raise_error(__b)"),
    // Joda-pattern datetime render/parse (DateTimeFunctions
    // format_datetime/parse_datetime): the common directive set
    // (y M d H m s S E) coincides with java.time; exotic Joda
    // directives (x, w-with-locale) are out of scope and documented.
    ("format_datetime", 2, "date_format(__a, __b)"),
    ("parse_datetime", 2, "to_timestamp(__a, __b)"),
    ("url_extract_fragment", 1, "parse_url(__a, 'REF')"),
    ("url_extract_port", 1,
      "cast(nullif(regexp_extract(__a, " +
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*:([0-9]+)', 1), '') as bigint)"),
    // JsonFunctions.isJsonScalar: true only for valid number/string/
    // boolean/null JSON text
    ("is_json_scalar", 1,
      "CASE WHEN substr(ltrim(__a), 1, 1) IN ('[', '{') THEN false " +
        "ELSE get_json_object(__a, '$') IS NOT NULL END"),
    // Presto base64 spellings (VarbinaryFunctions.java)
    ("to_base64", 1, "base64(__a)"),
    ("from_base64", 1, "unbase64(__a)"),
    ("sha512", 1, "unhex(sha2(__a, 512))"),
    ("week", 1, "weekofyear(__a)"),
    ("millisecond", 1,
      "cast((unix_micros(cast(__a as timestamp)) % 1000000) div 1000 " +
        "as bigint)"),
    // to_iso8601 (DateTimeFunctions.java): timestamp render; DATE inputs
    // get the timestamp form (type-dispatch by name alone can't see the
    // argument type — divergence documented)
    ("to_iso8601", 1,
      "date_format(__a, 'yyyy-MM-dd''T''HH:mm:ss.SSS')"),
    // json_extract ~ get_json_object (JsonPath subset; object rendering
    // is Spark's); json_parse/json_format are identity over the string
    // representation (Spark has no JSON type — divergence documented)
    ("json_extract", 2, "get_json_object(__a, __b)"),
    ("json_parse", 1, "__a"),
    ("json_format", 1, "cast(__a as string)"),
    // IPv4 subnet bounds over 'a.b.c.d/n' prefix strings
    // (IpPrefixFunctions.java ip_subnet_min/max/range)
    ("ip_subnet_min", 1, IpTemplates.subnetMin),
    ("ip_subnet_max", 1, IpTemplates.subnetMax),
    ("ip_subnet_range", 1,
      s"array(${IpTemplates.subnetMin}, ${IpTemplates.subnetMax})"),
    // 3-arg masked shifts (BitwiseFunctions.java:82-122); bits=64 is the
    // plain 64-bit op
    ("bitwise_shift_left", 3,
      "CASE WHEN cast(__c as int) = 64 " +
        "THEN shiftleft(cast(__a as bigint), cast(__b as int)) " +
        "ELSE shiftleft(cast(__a as bigint), cast(__b as int)) & " +
        "(shiftleft(cast(1 as bigint), cast(__c as int)) - 1) END"),
    ("bitwise_logical_shift_right", 3,
      "CASE WHEN cast(__c as int) = 64 " +
        "THEN shiftrightunsigned(cast(__a as bigint), cast(__b as int)) " +
        "ELSE shiftrightunsigned(cast(__a as bigint) & " +
        "(shiftleft(cast(1 as bigint), cast(__c as int)) - 1), " +
        "cast(__b as int)) END"),
    ("bitwise_arithmetic_shift_right", 2,
      "shiftright(cast(__a as bigint), cast(__b as int))"),
    // bit_and/bit_or aggregate spellings (BitwiseAndAggregation.java,
    // BitwiseOrAggregation.java)
    ("bitwise_and_agg", 1, "bit_and(cast(__a as bigint))"),
    ("bitwise_or_agg", 1, "bit_or(cast(__a as bigint))"),
    // Bing tile functions (presto-geospatial BingTileFunctions.java:115-376,
    // BingTile.java:86-124; Web-Mercator math per the Microsoft quadkey
    // spec). A tile is struct<x:int, y:int, zoom:int> — the same struct
    // convention as the st_* point pack; Presto's opaque BingTile type and
    // its bigint cast are a storage detail we don't reproduce.
    ("bing_tile", 3,
      "named_struct('x', cast(__a as int), 'y', cast(__b as int), " +
        "'zoom', cast(__c as int))"),
    // quadkey → tile (BingTile.fromQuadKey): char i (1-indexed, most
    // significant first) contributes bit (zoom - i) of x (digit & 1) and
    // y ((digit >> 1) & 1).
    ("bing_tile", 1,
      "named_struct(" +
        "'x', cast(case when length(__a) = 0 then 0 else aggregate(" +
        "sequence(1, length(__a)), 0, (s, i) -> s + shiftleft(" +
        "(ascii(substr(__a, i, 1)) - 48) & 1, length(__a) - i)) end as int), " +
        "'y', cast(case when length(__a) = 0 then 0 else aggregate(" +
        "sequence(1, length(__a)), 0, (s, i) -> s + shiftleft(" +
        "shiftright(ascii(substr(__a, i, 1)) - 48, 1) & 1, length(__a) - i)) " +
        "end as int), " +
        "'zoom', length(__a))"),
    ("bing_tile_quadkey", 1,
      "case when __a.zoom = 0 then '' else array_join(transform(" +
        "sequence(__a.zoom, 1, -1), i -> cast(" +
        "(shiftright(__a.x, i - 1) & 1) + 2 * (shiftright(__a.y, i - 1) & 1) " +
        "as string)), '') end"),
    ("bing_tile_coordinates", 1, "named_struct('x', __a.x, 'y', __a.y)"),
    ("bing_tile_zoom_level", 1, "__a.zoom"),
    // bing_tile_at(lat, lon, zoom): pixel-axis projection then truncating
    // division by the 256-pixel tile size, with the reference's clip to
    // [0, mapSize-1] (BingTileFunctions.java:637-658).
    ("bing_tile_at", 3,
      s"named_struct('x', cast(${bingTileX("__b", "__c")} as int), " +
        s"'y', cast(${bingTileY("__a", "__c")} as int), " +
        "'zoom', cast(__c as int))"),
    // 3x3 neighborhood clipped to the tile grid (BingTileFunctions.java:198).
    ("bing_tiles_around", 3,
      "filter(transform(sequence(0, 8), k -> named_struct(" +
        s"'x', cast(${bingTileX("__b", "__c")} + (k % 3) - 1 as int), " +
        s"'y', cast(${bingTileY("__a", "__c")} + (k div 3) - 1 as int), " +
        "'zoom', cast(__c as int))), t -> " +
        "t.x >= 0 and t.x <= shiftleft(1, cast(__c as int)) - 1 and " +
        "t.y >= 0 and t.y <= shiftleft(1, cast(__c as int)) - 1)"),
    // Tile envelope as a closed CCW ring of our struct points (the geo
    // pack's polygon convention, composable with st_area/st_length);
    // corner latitudes via the inverse Mercator (BingTileFunctions.java:601).
    ("bing_tile_polygon", 1,
      "array(" +
        s"named_struct('x', ${bingTileLon("__a.x")}, 'y', ${bingTileLat("__a.y + 1")}), " +
        s"named_struct('x', ${bingTileLon("__a.x + 1")}, 'y', ${bingTileLat("__a.y + 1")}), " +
        s"named_struct('x', ${bingTileLon("__a.x + 1")}, 'y', ${bingTileLat("__a.y")}), " +
        s"named_struct('x', ${bingTileLon("__a.x")}, 'y', ${bingTileLat("__a.y")}), " +
        s"named_struct('x', ${bingTileLon("__a.x")}, 'y', ${bingTileLat("__a.y + 1")}))")
  )

  // Signed reinterpretation of a big-endian unsigned byte image: conv()
  // yields the unsigned value as a decimal string; subtract the modulus
  // when past the signed max (from_big_endian_32/64).
  private def beSigned(arg: String, max: String, modulus: String,
      outType: String): String = {
    val unsigned = s"cast(conv(hex($arg), 16, 10) as decimal(20,0))"
    s"cast(CASE WHEN $unsigned > $max THEN $unsigned - $modulus " +
      s"ELSE $unsigned END as $outType)"
  }

  // Web-Mercator building blocks for the bing_tile templates. `zoom` is an
  // int-typed SQL fragment; axis values are clipped to [0, mapSize-1] then
  // truncated and divided by the 256-pixel tile size, exactly the
  // reference's axisToCoordinates (BingTileFunctions.java:655).
  private def bingMapSize(zoom: String): String =
    s"shiftleft(cast(256 as bigint), cast($zoom as int))"
  private def bingAxisToTile(axis: String, zoom: String): String =
    s"(cast(least(greatest(($axis) * ${bingMapSize(zoom)}, 0D), " +
      s"cast(${bingMapSize(zoom)} - 1 as double)) as bigint) div 256)"
  private def bingTileX(lon: String, zoom: String): String =
    bingAxisToTile(s"(($lon) + 180D) / 360D", zoom)
  private def bingTileY(lat: String, zoom: String): String =
    bingAxisToTile(
      s"0.5D - ln((1D + sin(($lat) * pi() / 180D)) / " +
        s"(1D - sin(($lat) * pi() / 180D))) / (4D * pi())",
      zoom)
  // Inverse: tile corner → lon/lat (BingTileFunctions.java:601-610).
  private def bingTileLon(x: String): String =
    s"360D * (cast($x as double) / " +
      "shiftleft(cast(1 as bigint), __a.zoom) - 0.5D)"
  private def bingTileLat(y: String): String =
    s"90D - 360D * atan(exp(-(0.5D - cast($y as double) / " +
      "shiftleft(cast(1 as bigint), __a.zoom)) * 2D * pi())) / pi()"

  private val argNames = Seq("__a", "__b", "__c", "__d")

  // Weak keys: sessions are compared by identity (no equals override) and
  // must not be pinned for the JVM lifetime once stopped.
  private val installed =
    new java.util.WeakHashMap[SparkSession, Boolean]()

  /** Installs every Presto-named function into the session's
    * FunctionRegistry (temp functions — they win name resolution but touch
    * no global state). Idempotent per session. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!installed.containsKey(spark)) {
      // Instant semantics for zoned-value comparisons (the runtime-
      // injectable optimizer hook — see ZonedInstantComparison's doc).
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.ZonedInstantComparison))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            graft.plans.ZonedInstantComparison
      // Grand-total row for grouping analytics over empty input (the
      // driver-session hook; engine-built sessions get the analysis-time
      // injection via GraftExtensions — see EmptyGroupingSetsGrandTotal).
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.EmptyGroupingSetsGrandTotal))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            graft.plans.EmptyGroupingSetsGrandTotal
      // ConvertToLocalRelation eagerly evaluates VALUES-backed
      // projections in the operator batch — BEFORE user rules — which
      // would bake pair semantics into literal-table zoned comparisons.
      // Excluding it defers local-relation evaluation to runtime (same
      // results, negligible cost at any scale: it only ever touches
      // literal-sized plans).
      locally {
        val key = "spark.sql.optimizer.excludedRules"
        // On DRIVER-provided sessions (no GraftExtensions, so the
        // grand-total rule runs only in the last optimizer batch),
        // PropagateEmptyRelation would erase a provably-empty grouping
        // aggregate before the rule can sentinel it — exclude it there
        // (r10). Engine sessions keep the rule: their plans are
        // sentineled at analysis time.
        //
        // TRADEOFF (session-wide, be aware when embedding): excluding
        // PropagateEmptyRelation costs EVERY query on that session the
        // empty-relation pruning optimization (provably-empty subtrees
        // keep their physical operators instead of collapsing) in
        // exchange for correct ROLLUP/CUBE grand-total rows over empty
        // input. Plans stay correct either way; only the empty-input
        // shortcut is lost, and only on sessions built without
        // GraftExtensions. An embedding application that never runs
        // grouping analytics over possibly-empty input can opt back in
        // with spark.graft.emptyGroupingSets.protect=false (set BEFORE
        // Registry.install).
        val driverSession = !spark.sessionState.analyzer
          .postHocResolutionRules
          .contains(graft.plans.EmptyGroupingSetsGrandTotal)
        val protectEmptyGroupingSets = spark.conf
          .getOption("spark.graft.emptyGroupingSets.protect")
          .forall(_.toBoolean)
        val rules = Seq(
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
        ) ++ (if (driverSession && protectEmptyGroupingSets) Seq(
          "org.apache.spark.sql.catalyst.optimizer.PropagateEmptyRelation"
        ) else Nil)
        val cur = spark.conf.getOption(key).getOrElse("")
        val missing = rules.filterNot(cur.contains)
        if (missing.nonEmpty)
          spark.conf.set(key,
            (Seq(cur).filter(_.nonEmpty) ++ missing).mkString(","))
      }
      val registry = spark.sessionState.functionRegistry
      // Same-name templates with different arities are overloads (Presto
      // overloads e.g. bing_tile(x, y, zoom) / bing_tile(quadkey)); the
      // one registered builder dispatches on argument count.
      templates.groupBy(_._1).foreach { case (name, overloads) =>
        val byArity = overloads.map { case (_, arity, sql) =>
          arity -> spark.sessionState.sqlParser.parseExpression(sql)
        }.toMap
        val builder: Seq[Expression] => Expression = { args =>
          val template = byArity.getOrElse(args.length, sys.error(
            s"$name expects ${byArity.keys.toSeq.sorted.mkString(" or ")} " +
              s"args, got ${args.length}"))
          template.transformUp {
            case UnresolvedAttribute(Seq(n)) if argNames.contains(n) =>
              args(argNames.indexOf(n))
            // `__a.x` parses as ONE multi-part attribute: substitute the
            // head and turn the remaining parts into field extraction
            // (struct-typed args, e.g. the geo point templates).
            case UnresolvedAttribute(n +: rest)
                if rest.nonEmpty && argNames.contains(n) =>
              rest.foldLeft(args(argNames.indexOf(n))) { (e, field) =>
                org.apache.spark.sql.catalyst.analysis
                  .UnresolvedExtractValue(e, Literal(field))
              }
            // Inside a lambda body the parser wraps every name as a
            // lambda variable, so placeholders there arrive as
            // UnresolvedNamedLambdaVariable, not UnresolvedAttribute.
            case UnresolvedNamedLambdaVariable(Seq(n)) if argNames.contains(n) =>
              args(argNames.indexOf(n))
            // ... and `__a.x` inside a lambda arrives as a MULTI-part
            // lambda variable (the bing_tile templates hit this).
            case UnresolvedNamedLambdaVariable(n +: rest)
                if rest.nonEmpty && argNames.contains(n) =>
              rest.foldLeft(args(argNames.indexOf(n))) { (e, field) =>
                org.apache.spark.sql.catalyst.analysis
                  .UnresolvedExtractValue(e, Literal(field))
              }
          }
        }
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(getClass.getCanonicalName, name), builder)
      }
      // checksum (ChecksumAggregationFunction.java): order-independent
      // digest via XOR of per-row hashes. Same contract as the reference
      // (any permutation of the same multiset collides; nulls skipped),
      // different bytes: the md5-derived 60-bit long so the DuckDB oracle
      // replays it exactly. Registered as a native builder (r17 OPT): the
      // former `bit_xor(conv(substring(md5(...),1,15),16,10))` template
      // paid a synchronized per-row MessageDigest lookup plus a hex
      // round-trip; Md5Prefix60 is the bit-identical native form.
      registry.registerFunction(FunctionIdentifier("checksum"),
        new ExpressionInfo(getClass.getCanonicalName, "checksum"),
        { args =>
          require(args.length == 1, s"checksum expects 1 arg, got ${args.length}")
          org.apache.spark.sql.catalyst.expressions.aggregate.BitXorAgg(
            Md5Prefix60(org.apache.spark.sql.catalyst.expressions.Cast(
              args.head, StringType)))
        })
      // date_parse / date_format translate the (literal) MySQL pattern at
      // plan time, then delegate to Spark's java.time expressions.
      // date_format shadows a Spark builtin of the same name, so its
      // delegate must be the Catalyst expression class directly — a
      // name-based template would resolve back into this registry and loop.
      def mysqlPatternFn(name: String)
                        (delegate: (Expression, String) => Expression): Unit = {
        val builder: Seq[Expression] => Expression = { args =>
          val pattern = args(1) match {
            // Translate only MySQL-style patterns ('%' directives). A
            // plain java.time pattern passes through untouched: in Spark 4
            // the Column API resolves `date_format` through this registry
            // too, and re-translating an already-Java pattern would quote
            // its letters into garbage.
            case Literal(v, StringType) if v.toString.contains("%") =>
              PrestoScalars.mysqlToJavaPattern(v.toString)
            case Literal(v, StringType) => v.toString
            case other => sys.error(
              s"$name requires a literal pattern, got $other")
          }
          delegate(args.head, pattern)
        }
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(getClass.getCanonicalName, name), builder)
      }
      mysqlPatternFn("date_parse") { (arg, pattern) =>
        // The translated pattern can contain single quotes (java.time
        // quoting of literal letters, e.g. %YT%m -> yyyy'T'MM) — escape
        // them for the SQL string literal or parseExpression throws.
        val quoted = pattern.replace("'", "''")
        spark.sessionState.sqlParser
          .parseExpression(s"to_timestamp(__a, '$quoted')")
          .transformUp { case UnresolvedAttribute(Seq("__a")) => arg }
      }
      mysqlPatternFn("date_format") { (arg, pattern) =>
        DateFormatClass(arg, Literal(pattern))
      }
      // approx_percentile: Spark builtin of the same name takes an
      // optional accuracy — mirror both arities, defaulting to Presto's
      // effective precision, so shadowing stays semantics-compatible.
      // Presto ALSO spells its weighted variant with three args —
      // approx_percentile(x, w, percentage) — which is indistinguishable
      // from Spark's (col, percentage, accuracy) by name alone; a
      // fractional literal in 3rd position can only be the weighted form
      // (accuracy is an integer there), so route it to Spark's exact
      // percentile(col, p, frequency) with frequency = weight — the
      // weighted-multiset percentile, and exact results trivially
      // satisfy the approximate contract (r6; was a loud reject since
      // ADVICE r3). At 100 TB swap in a weighted mergeable sketch; the
      // exact aggregate holds per-group sorted state.
      locally {
        val name = "approx_percentile"
        // a fractional literal can only be a percentage/accuracy — a
        // weight in that position would truncate to 0 and skip every row
        def fractionalLit(e: Expression): Boolean = e match {
          case Literal(_, DoubleType | FloatType | _: DecimalType) => true
          case _ => false
        }
        val builder: Seq[Expression] => Expression = { args =>
          // Disambiguation (ADVICE r6): Presto's UNWEIGHTED 3-arg form
          // approx_percentile(x, percentage, accuracy) has a fractional
          // percentage in 2nd position (ApproximateDoublePercentile-
          // Aggregations.java:48-55 — accuracy is DOUBLE too, so the 3rd
          // arg alone can't discriminate); the WEIGHTED form
          // approx_percentile(x, w, percentage) has a weight column /
          // integral expression there. Route on args(1).
          val weighted = args.length == 3 && fractionalLit(args(2)) &&
            !fractionalLit(args(1)) &&
            !args(1).dataType.isInstanceOf[ArrayType] // array of percentages
          if (weighted) {
            args(1) match {
              case Literal(w: Number, _) if w.longValue() == 0 =>
                throw new IllegalArgumentException(
                  "approx_percentile: literal weight 0 would skip every " +
                    "row — a percentage belongs in 2nd position only in " +
                    "the unweighted (x, percentage, accuracy) form")
              case _ =>
            }
            // flat-array exact aggregate (WeightedPercentile.scala):
            // same semantics as Spark's percentile(x, p, frequency)
            // but append/arraycopy state instead of a boxed per-value
            // hash map — 5.9 s → sub-second on the qp4 shape.
            WeightedPercentileAgg(args(0), Cast(args(1), LongType),
              args(2)).toAggregateExpression()
          } else {
            val full = if (args.length == 2) args :+ Literal(10000) else args
            // Presto accuracy is a max-rank-error fraction in (0, 1);
            // percentile_approx wants a positive int ~ 1/relative-error
            val acc = full(2) match {
              case l @ Literal(_, DoubleType | FloatType | _: DecimalType) =>
                val d = Cast(l, DoubleType).eval().asInstanceOf[Double]
                require(d > 0 && d < 1,
                  s"approx_percentile: accuracy must be in (0, 1), got $d")
                Literal(math.max(1L, math.round(1.0 / d)).toInt)
              case other => other
            }
            val mapped = Seq(full(0), full(1), acc)
            spark.sessionState.sqlParser
              .parseExpression("percentile_approx(__a, __b, __c)")
              .transformUp {
                case UnresolvedAttribute(Seq(n)) if argNames.contains(n) =>
                  mapped(argNames.indexOf(n))
              }
          }
        }
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(getClass.getCanonicalName, name), builder)
      }
      // Native codegen'd vector math (see VectorExpressions) — the one
      // place composition genuinely can't match a fused primitive loop.
      def vectorFn(name: String)(mk: (Expression, Expression) => Expression): Unit = {
        val builder: Seq[Expression] => Expression = { args =>
          val Seq(a, b) = args.map(e => Cast(e, ArrayType(DoubleType)))
          mk(a, b)
        }
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(getClass.getCanonicalName, name), builder)
      }
      // Presto bracket subscripts (rewriteSubscripts emits this name):
      // loud OOB / missing-key semantics per ArraySubscriptOperator /
      // MapSubscriptOperator — see PrestoSubscript.
      registry.registerFunction(FunctionIdentifier("presto_subscript"),
        new ExpressionInfo(getClass.getCanonicalName, "presto_subscript"),
        (args: Seq[Expression]) => PrestoSubscript(args(0), args(1)))
      // Presto MAP(ARRAY[k], ARRAY[v]) / MAP() constructor forms
      // alongside Spark's varargs map(k1, v1, ...) — type-dispatched
      // (see PrestoMapConstructor).
      registry.registerFunction(FunctionIdentifier("map"),
        new ExpressionInfo(getClass.getCanonicalName, "map"),
        (args: Seq[Expression]) => PrestoMapConstructor(args))
      // typeof renders Presto type signatures (TypeOfFunction.java;
      // analysis-time literal — see PrestoTypeOf)
      registry.registerFunction(FunctionIdentifier("typeof"),
        new ExpressionInfo(getClass.getCanonicalName, "typeof"),
        (args: Seq[Expression]) => PrestoTypeOf(args.head))
      // Bare element_at keeps Spark semantics (the documented ledger-7
      // residual) UNLESS spark.graft.elementAt.strict=true routes it
      // through the reference's semantics (PrestoElementAt: index 0
      // loud, past-either-end NULL, map miss NULL). The conf reads at
      // ANALYSIS time, so it can be flipped per query on one session.
      registry.registerFunction(FunctionIdentifier("element_at"),
        new ExpressionInfo(getClass.getCanonicalName, "element_at"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            s"element_at expects 2 arguments, got ${args.length}")
          val strict = spark.conf
            .getOption("spark.graft.elementAt.strict")
            .exists(_.toBoolean)
          if (strict) PrestoElementAt(args(0), args(1))
          else ElementAt(args(0), args(1))
        })
      // map_concat with Presto's LAST-MAP-WINS duplicate-key policy
      // (MapConcatFunction.java — "value from the last map") instead of
      // Spark's dedup-policy exception: fold left, dropping keys the
      // later map overrides, then a provably-disjoint entries concat
      // (spelled via map_from_entries so the builtin name cannot
      // re-enter this builder). Closes ledger item 2.
      registry.registerFunction(FunctionIdentifier("map_concat"),
        new ExpressionInfo(getClass.getCanonicalName, "map_concat"),
        (args: Seq[Expression]) => {
          require(args.nonEmpty, "map_concat expects at least 1 map")
          args.reduceLeft { (a, b) =>
            spark.sessionState.sqlParser.parseExpression(
              "map_from_entries(concat(map_entries(map_filter(__a, " +
                "(k, v) -> NOT array_contains(map_keys(__b), k))), " +
                "map_entries(__b)))")
              .transformUp {
                case UnresolvedAttribute(Seq("__a")) => a
                case UnresolvedAttribute(Seq("__b")) => b
                // inside a lambda body the parser wraps identifiers as
                // lambda-variable candidates — the outer-scope map
                // reference still substitutes
                case org.apache.spark.sql.catalyst.expressions
                    .UnresolvedNamedLambdaVariable(Seq("__b")) => b
              }
          }
        })
      vectorFn("cosine_similarity")(CosineSimilarity(_, _))
      vectorFn("dot_product")(DotProduct(_, _))
      vectorFn("l2_distance")(L2Distance(_, _))
      // Presto color/render/bar pack (ColorFunctions.java) — native
      // expressions; arity-dispatching builders mirror the reference
      // overload sets.
      def colorPack(name: String)(mk: Seq[Expression] => Expression): Unit =
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(getClass.getCanonicalName, name), mk)
      colorPack("color") {
        case Seq(a) => ColorFromString(a)
        case Seq(f, lo, hi) =>
          ColorInterpolate(Cast(f, DoubleType), Cast(lo, LongType),
            Cast(hi, LongType))
        // color(value, low, high, lowColor, highColor): rescale then
        // interpolate (ColorFunctions.java:126-134)
        case Seq(v, low, high, lc, hc) =>
          import org.apache.spark.sql.catalyst.expressions.{Divide, Subtract}
          ColorInterpolate(
            Divide(Subtract(Cast(v, DoubleType), Cast(low, DoubleType)),
              Subtract(Cast(high, DoubleType), Cast(low, DoubleType))),
            Cast(lc, LongType), Cast(hc, LongType))
        case args => sys.error(s"color expects 1, 3 or 5 args, got ${args.length}")
      }
      colorPack("rgb") {
        case Seq(r, g, b) =>
          RgbColor(Cast(r, LongType), Cast(g, LongType), Cast(b, LongType))
        case args => sys.error(s"rgb expects 3 args, got ${args.length}")
      }
      colorPack("render") {
        case Seq(b) => RenderBoolean(b)
        case Seq(v, c) => RenderColor(Cast(v, StringType), Cast(c, LongType))
        case args => sys.error(s"render expects 1 or 2 args, got ${args.length}")
      }
      colorPack("bar") {
        // 2-arg default gradient red -> green (ColorFunctions.java:196)
        case Seq(p, w) => AnsiBar(Seq(Cast(p, DoubleType), Cast(w, LongType),
          Literal(0xFF0000L), Literal(0x00FF00L)))
        case Seq(p, w, lo, hi) => AnsiBar(Seq(Cast(p, DoubleType),
          Cast(w, LongType), Cast(lo, LongType), Cast(hi, LongType)))
        case args => sys.error(s"bar expects 2 or 4 args, got ${args.length}")
      }
      // split: Presto's delimiter is a LITERAL string, Spark's a regex —
      // silently different results for '.', '|', '+' delimiters, so this
      // shadow \Q..\E-quotes the delimiter. Must resolve DIRECTLY to the
      // Catalyst StringSplit class: a name-based template would resolve
      // 'split' back through this registry and loop. Spark's Column-API
      // split() builds the expression without registry lookup, so
      // DataFrame-side callers keep regex semantics.
      colorPack("split") { args =>
        import org.apache.spark.sql.catalyst.expressions.{Concat, StringSplit}
        require(args.length == 2 || args.length == 3,
          s"split expects 2 or 3 args, got ${args.length}")
        val quoted = Concat(Seq(Literal("\\Q"), args(1), Literal("\\E")))
        val limit = if (args.length == 3) Cast(args(2), IntegerType)
          else Literal(-1)
        StringSplit(args(0), quoted, limit)
      }
      // Statistical distribution scalars — bit-identical to the reference
      // via the same commons-math3 calls (StatDistributions.scala).
      def tern(name: String)
          (mk: (Expression, Expression, Expression) => Expression): Unit =
        colorPack(name) {
          case Seq(a, b, c) => mk(Cast(a, DoubleType), Cast(b, DoubleType),
            Cast(c, DoubleType))
          case args => sys.error(s"$name expects 3 args, got ${args.length}")
        }
      tern("normal_cdf")(NormalCdf)
      tern("inverse_normal_cdf")(InverseNormalCdf)
      tern("beta_cdf")(BetaCdf)
      tern("inverse_beta_cdf")(InverseBetaCdf)
      // IEEE-754 bit images (BinaryBits.scala)
      colorPack("to_ieee754_64") {
        case Seq(a) => ToIeee754_64(Cast(a, DoubleType))
        case args => sys.error(s"to_ieee754_64 expects 1 arg, got ${args.length}")
      }
      colorPack("from_ieee754_64") {
        case Seq(a) => FromIeee754_64(a)
        case args => sys.error(s"from_ieee754_64 expects 1 arg, got ${args.length}")
      }
      colorPack("to_ieee754_32") {
        case Seq(a) => ToIeee754_32(Cast(a, org.apache.spark.sql.types.FloatType))
        case args => sys.error(s"to_ieee754_32 expects 1 arg, got ${args.length}")
      }
      colorPack("from_ieee754_32") {
        case Seq(a) => FromIeee754_32(a)
        case args => sys.error(s"from_ieee754_32 expects 1 arg, got ${args.length}")
      }
      // Vector digest lookups (TDigestFunctions.java values_at_quantiles /
      // QuantileDigestFunctions.java valuesAtQuantiles + the inverse)
      colorPack("values_at_quantiles") {
        case Seq(sk, qs) => DigestValuesAt(sk,
          Cast(qs, ArrayType(DoubleType)))
        case args => sys.error(
          s"values_at_quantiles expects 2 args, got ${args.length}")
      }
      colorPack("quantiles_at_values") {
        case Seq(sk, xs) => DigestQuantilesAt(sk,
          Cast(xs, ArrayType(DoubleType)))
        case args => sys.error(
          s"quantiles_at_values expects 2 args, got ${args.length}")
      }
      // Scalar digest lookups by their Presto SQL names — the vector
      // forms' element-0 (one deserialize, same code path, both digest
      // families via the header discriminator).
      def digestScalar(name: String)
          (mk: (Expression, Expression) => Expression): Unit =
        colorPack(name) {
          case Seq(sk, x) =>
            import org.apache.spark.sql.catalyst.expressions.{CreateArray, GetArrayItem}
            GetArrayItem(mk(sk, CreateArray(Seq(Cast(x, DoubleType)))),
              Literal(0))
          case args => sys.error(s"$name expects 2 args, got ${args.length}")
        }
      digestScalar("value_at_quantile")(DigestValuesAt)
      digestScalar("quantile_at_value")(DigestQuantilesAt)
      // Lambda matchers (ArrayAllMatchFunction.java / AnyMatch / NoneMatch)
      // must resolve DIRECTLY to the Catalyst HOF classes (a template
      // would orphan the LambdaFunction argument, like `reduce`).
      locally {
        import org.apache.spark.sql.catalyst.expressions.{ArrayExists, ArrayForAll, Not}
        colorPack("all_match") {
          case Seq(a, f) => ArrayForAll(a, f)
          case args => sys.error(s"all_match expects 2 args, got ${args.length}")
        }
        colorPack("any_match") {
          case Seq(a, f) => ArrayExists(a, f)
          case args => sys.error(s"any_match expects 2 args, got ${args.length}")
        }
        // none_match = all_match with the predicate negated INSIDE the
        // lambda: wrapping the HOF itself in Not() leaves the lambda's
        // parent a non-HOF and analysis rejects it.
        colorPack("none_match") {
          case Seq(a, f: org.apache.spark.sql.catalyst.expressions.LambdaFunction) =>
            ArrayForAll(a, f.copy(function = Not(f.function)))
          case args => sys.error(s"none_match expects (array, lambda), got $args")
        }
      }
      // approx_set / merge / merge_hll — r8: a REAL dense/sparse
      // HyperLogLog (HllAgg, p=12 = the reference's 4096-register
      // approx_set, ±1.625% SE) replaces the r6 KMV stand-in, so the
      // estimator's error profile matches the reference above
      // saturation, not just the API. Presto overloads `merge` across
      // sketch types and name-only resolution can't see which binary
      // arrives, so `merge` sniffs the serialization magic per input
      // (SketchMergeAgg) and handles both HLL and SetDigest bytes;
      // digest merges keep merge_tdigest / the Column API.
      colorPack("approx_set") {
        case Seq(v) => HllAgg(v, HyperLogLog.DefaultP).toAggregateExpression()
        case args => sys.error(s"approx_set expects 1 arg, got ${args.length}")
      }
      // approx_distinct — the reference's estimator, not Spark's HLL++:
      // DefaultApproximateCountDistinctAggregation.java
      // (DEFAULT_STANDARD_ERROR = 0.023 → 2048 registers = p 11) over
      // the same real HLL as approx_set; the 2-arg form maps
      // maxStandardError → register count exactly like
      // HyperLogLogUtils.standardErrorToBuckets (log2-ceiling of
      // 1.0816/se², bounds [0.0040625, 0.26] with the reference's
      // error text). Empty/all-null groups estimate 0, like the
      // reference's null-state output.
      colorPack("approx_distinct") {
        case Seq(v) =>
          SetDigestCardinality(HllAgg(v, 11).toAggregateExpression())
        case Seq(v, seExpr) if seExpr.foldable =>
          // fractional literals parse as DECIMAL — accept any foldable
          // numeric for the maxStandardError position
          val se = seExpr.eval() match {
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case n: java.lang.Number => n.doubleValue()
            case other => sys.error(
              s"approx_distinct: max_standard_error must be numeric, got $other")
          }
          val lo = 0.0040625
          val hi = 0.26
          if (se < lo || se > hi) sys.error(
            s"Max standard error must be in [$lo, $hi]: $se")
          val buckets = math.ceil(1.0816 / (se * se)).toInt
          val p = 32 - Integer.numberOfLeadingZeros(buckets - 1)
          SetDigestCardinality(HllAgg(v, p).toAggregateExpression())
        case args => sys.error(
          s"approx_distinct expects (x[, max_standard_error]), got ${args.length} args")
      }
      colorPack("merge") {
        case Seq(v) => SketchMergeAgg(v).toAggregateExpression()
        case args => sys.error(s"merge expects 1 arg, got ${args.length}")
      }
      colorPack("merge_hll") {
        case Seq(v) => HllMergeAgg(v).toAggregateExpression()
        case args => sys.error(s"merge_hll expects 1 arg, got ${args.length}")
      }
      // json_array_get — the reference's streaming element walk (see
      // PrestoScalars.JsonArrayGet), replacing the get_json_object
      // template whose renderings diverged on raw numbers / JSON null
      colorPack("json_array_get") {
        case Seq(j, i) => JsonArrayGet(j, Cast(i, LongType))
        case args =>
          sys.error(s"json_array_get expects 2 args, got ${args.length}")
      }
      // json_array_contains — the reference's per-type overloads in one
      // token walk (see PrestoScalars.JsonArrayContains); the probe's
      // resolved type picks the arm, like Presto's overload resolution
      // media_dimensions(binary) — container-header image dimensions
      // (PNG/BMP/GIF) without a codec; see operators/Multimodal
      colorPack("media_dimensions") {
        case Seq(v) => graft.operators.MediaDimensions(v)
        case args =>
          sys.error(s"media_dimensions expects 1 arg, got ${args.length}")
      }
      // anti-folding wrapper for zoned literals (r10; see
      // plans/ZonedComparison.scala ZonedShield)
      colorPack("presto_zoned_shield") {
        case Seq(v) => graft.plans.ZonedShield(v)
        case args =>
          sys.error(s"presto_zoned_shield expects 1 arg, got ${args.length}")
      }
      colorPack("media_audio_info") {
        case Seq(v) => graft.operators.MediaAudioInfo(v)
        case args =>
          sys.error(s"media_audio_info expects 1 arg, got ${args.length}")
      }
      // compressed text-column storage (pipeline pack): deterministic
      // GZIP round-trip; gunzip is NULL on corrupt bytes
      colorPack("gzip") {
        case Seq(v) => GzipCompress(v)
        case args => sys.error(s"gzip expects 1 arg, got ${args.length}")
      }
      colorPack("gunzip") {
        case Seq(v) => GzipDecompress(v)
        case args => sys.error(s"gunzip expects 1 arg, got ${args.length}")
      }
      // RAG-ingest chunking: word windows with overlap (literal sizes —
      // they shape the output like a digest's accuracy parameter)
      colorPack("chunk_text") {
        case Seq(t, Literal(c: Int, IntegerType), Literal(o: Int, IntegerType)) =>
          ChunkText(t, c, o)
        case args => sys.error(
          "chunk_text expects (text, chunk_literal, overlap_literal)")
      }
      colorPack("zstd") {
        case Seq(v) => ZstdCompress(v)
        case args => sys.error(s"zstd expects 1 arg, got ${args.length}")
      }
      colorPack("unzstd") {
        case Seq(v) => ZstdDecompress(v)
        case args => sys.error(s"unzstd expects 1 arg, got ${args.length}")
      }
      // mongo ObjectId constructors (presto-mongodb
      // ObjectIdFunctions.java): varbinary representation rides Spark's
      // unsigned bytewise comparison = ObjectId.compareTo
      colorPack("objectid") {
        case Seq() => ObjectIdGen()
        case Seq(v) => ObjectIdFromString(v)
        case args =>
          sys.error(s"objectid expects 0 or 1 args, got ${args.length}")
      }
      colorPack("json_array_contains") {
        // Spark parses 1.5 as DECIMAL where Presto's literal is DOUBLE —
        // coerce so the double overload arm binds like the reference
        case Seq(j, v) if v.dataType.isInstanceOf[DecimalType] =>
          JsonArrayContains(j, Cast(v, DoubleType))
        case Seq(j, v) => JsonArrayContains(j, v)
        case args =>
          sys.error(s"json_array_contains expects 2 args, got ${args.length}")
      }
      // digest builders by their Presto SQL names (QuantileDigest
      // Functions.java qdigest_agg(x[, w[, accuracy]]);
      // TDigestFunctions.java tdigest_agg(x[, w[, compression]]),
      // merge_tdigest) — accuracy/compression must be literals (they
      // size the aggregation state)
      def litDouble(e: Expression): Option[Double] = e match {
        case Literal(d: Double, DoubleType) => Some(d)
        case Literal(d: java.math.BigDecimal, _: DecimalType) =>
          Some(d.doubleValue())
        case Literal(d: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
          Some(d.toDouble)
        case Literal(i: Int, IntegerType) => Some(i.toDouble)
        case _ => None
      }
      colorPack("qdigest_agg") {
        case Seq(v) => DDSketchAgg(v, 0.01).toAggregateExpression()
        // 2-arg disambiguation on a fractional literal (the
        // approx_percentile precedent): weights are bigint in the
        // reference, so a literal in (0,1) can only be the accuracy
        case Seq(v, a) if litDouble(a).exists(d => d > 0 && d < 1) =>
          DDSketchAgg(v, litDouble(a).get).toAggregateExpression()
        case Seq(v, w) => DDSketchAgg(v, 0.01, Some(w)).toAggregateExpression()
        case Seq(v, w, a) if litDouble(a).isDefined =>
          DDSketchAgg(v, litDouble(a).get, Some(w)).toAggregateExpression()
        case args => sys.error(
          s"qdigest_agg expects (x[, w[, literal accuracy]]), got ${args.length} args")
      }
      colorPack("tdigest_agg") {
        case Seq(v) =>
          TDigestAgg(v, None, 100.0).toAggregateExpression()
        case Seq(v, w) =>
          TDigestAgg(v, Some(w), 100.0).toAggregateExpression()
        case Seq(v, w, c) if litDouble(c).isDefined =>
          TDigestAgg(v, Some(w), litDouble(c).get).toAggregateExpression()
        case args => sys.error(
          s"tdigest_agg expects (x[, w[, literal compression]]), got ${args.length} args")
      }
      colorPack("merge_tdigest") {
        case Seq(v) => TDigestMergeAgg(v).toAggregateExpression()
        case args => sys.error(s"merge_tdigest expects 1 arg, got ${args.length}")
      }
      // DESCRIBE INPUT's analysis-only parameter probe (never executed;
      // PrestoStatements.ParamMarker) — the implicit Cast the analyzer
      // wraps around it names the `?` parameter's coerced type
      colorPack("describe_input_param") {
        case Seq(Literal(i: Int, IntegerType)) => ParamMarker(i)
        case args => sys.error(s"describe_input_param expects a literal index, got $args")
      }
      // empty_approx_set() — the empty-sketch constant (ApproximateSet
      // Aggregation's identity element), a plain binary literal here
      colorPack("empty_approx_set") {
        case Seq() =>
          Literal(HyperLogLog.empty(),
            org.apache.spark.sql.types.BinaryType)
        case args => sys.error(
          s"empty_approx_set expects 0 args, got ${args.length}")
      }
      colorPack("scale_qdigest") {
        case Seq(sk, f) => DDSketchScale(sk, Cast(f, DoubleType))
        case args => sys.error(s"scale_qdigest expects 2 args, got ${args.length}")
      }
      // numeric_histogram(buckets, x) — bucket count must be a literal
      // (it sizes the aggregation state, like approx_most_frequent)
      colorPack("numeric_histogram") {
        case Seq(Literal(b: Int, IntegerType), v) =>
          NumericHistogramAgg(b, v).toAggregateExpression()
        case Seq(Literal(b: Long, LongType), v) =>
          NumericHistogramAgg(b.toInt, v).toAggregateExpression()
        case args => sys.error("numeric_histogram expects " +
          s"(literal buckets, value), got ${args.length} args")
      }
      // reduce: Presto's name for Spark's 4-arg aggregate HOF — must
      // resolve DIRECTLY to the Catalyst HigherOrderFunction class: a
      // template would return a nested UnresolvedFunction, and the
      // analyzer rejects LambdaFunction arguments whose parent isn't a
      // resolved higher-order function.
      registry.registerFunction(FunctionIdentifier("reduce"),
        new ExpressionInfo(getClass.getCanonicalName, "reduce"),
        (args: Seq[Expression]) => {
          require(args.length == 4,
            s"reduce expects 4 args (array, init, merge, finish), got ${args.length}")
          org.apache.spark.sql.catalyst.expressions.ArrayAggregate(
            args(0), args(1), args(2), args(3))
        })
      // hamming_distance: native codegen expression (TextExpressions).
      registry.registerFunction(FunctionIdentifier("hamming_distance"),
        new ExpressionInfo(getClass.getCanonicalName, "hamming_distance"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            s"hamming_distance expects 2 args, got ${args.length}")
          HammingDistance(args(0), args(1))
        })
      // format(fmt, args...) is variadic — delegate to FormatString.
      registry.registerFunction(FunctionIdentifier("format"),
        new ExpressionInfo(getClass.getCanonicalName, "format"),
        (args: Seq[Expression]) => FormatString(args: _*))
      // Presto date_add('unit', n, ts) / date_diff('unit', a, b): Spark's
      // grammar special-cases these names as timestampadd/timestampdiff
      // aliases and validates the unit BEFORE function resolution, so a
      // registry override never sees the call. `rewritePrestoSql` renames
      // the literal-unit spelling to presto_date_add/_diff pre-parse;
      // these builders then supply Presto semantics. Builders run only
      // once argument expressions are resolved (the analyzer resolves
      // functions bottom-up), so the input's type is available: Presto
      // preserves DATE-ness under date_add, and rejects sub-day units on
      // DATE inputs (`DateTimeFunctions.java` @SqlType sql_date paths).
      def unitOf(e: Expression, fn: String): String = e match {
        case Literal(u, StringType) => u.toString.toLowerCase
        case other => sys.error(s"$fn: unit must be a string literal, got $other")
      }
      locally {
        val builder: Seq[Expression] => Expression = { args =>
          require(args.length == 3, s"date_add expects 3 args, got ${args.length}")
          PrestoDateAdd(unitOf(args(0), "date_add"), args(1), args(2))
        }
        registry.registerFunction(FunctionIdentifier("presto_date_add"),
          new ExpressionInfo(getClass.getCanonicalName, "presto_date_add"),
          builder)
      }
      locally {
        val builder: Seq[Expression] => Expression = { args =>
          require(args.length == 3, s"date_diff expects 3 args, got ${args.length}")
          PrestoDateDiff(unitOf(args(0), "date_diff"), args(1), args(2))
        }
        registry.registerFunction(FunctionIdentifier("presto_date_diff"),
          new ExpressionInfo(getClass.getCanonicalName, "presto_date_diff"),
          builder)
      }
      // word_stem (WordStemFunction.java:82; English/Porter only) and
      // normalize (StringFunctions.java) — native expressions, see
      // graft.functions.Stemmer.
      locally {
        val builder: Seq[Expression] => Expression = {
          case Seq(w) => WordStem(w)
          case Seq(w, Literal(lang, StringType)) if lang.toString == "en" =>
            WordStem(w)
          case Seq(_, l) =>
            sys.error(s"word_stem: only language 'en' is supported, got $l")
          case args =>
            sys.error(s"word_stem expects 1-2 args, got ${args.length}")
        }
        registry.registerFunction(FunctionIdentifier("word_stem"),
          new ExpressionInfo(getClass.getCanonicalName, "word_stem"), builder)
      }
      locally {
        val builder: Seq[Expression] => Expression = {
          case Seq(s0) => NormalizeString(s0, "NFC")
          case Seq(s0, Literal(f, StringType)) =>
            NormalizeString(s0, f.toString.toUpperCase)
          case args => sys.error(
            s"normalize expects 1-2 args (literal form), got ${args.length}")
        }
        registry.registerFunction(FunctionIdentifier("normalize"),
          new ExpressionInfo(getClass.getCanonicalName, "normalize"), builder)
      }
      // approx_most_frequent(buckets, value, capacity)
      // (ApproxMostFrequent.java) — space-saving sketch aggregate; buckets
      // and capacity must be literals (they size the state, as there).
      locally {
        def lit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case other =>
            sys.error(s"approx_most_frequent: $what must be an integer " +
              s"literal, got $other")
        }
        val builder: Seq[Expression] => Expression = {
          case Seq(b, v, cap) =>
            ApproxMostFrequentAgg(v, lit(b, "buckets"), lit(cap, "capacity"))
              .toAggregateExpression()
          case args =>
            sys.error(s"approx_most_frequent expects 3 args, got ${args.length}")
        }
        registry.registerFunction(FunctionIdentifier("approx_most_frequent"),
          new ExpressionInfo(getClass.getCanonicalName, "approx_most_frequent"),
          builder)
      }
      // differential_entropy (DifferentialEntropyAggregation.java) — the
      // deterministic fixed_histogram_mle strategy; bucket count, method,
      // min and max must be literals (they size/shape the state). The
      // 2/3-arg reservoir forms and the jacknife are rejected loudly (see
      // DifferentialEntropyAgg doc), not silently approximated.
      locally {
        def numLit(e: Expression, what: String): Double = e match {
          case Literal(v: Int, IntegerType) => v.toDouble
          case Literal(v: Long, LongType) => v.toDouble
          case Literal(v: Double, DoubleType) => v
          case Literal(v: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
            v.toDouble
          case other => sys.error(
            s"differential_entropy: $what must be a numeric literal, got $other")
        }
        def strLit(e: Expression): String = e match {
          case Literal(s, StringType) if s != null => s.toString
          case other =>
            sys.error(s"differential_entropy: method must be a string literal, got $other")
        }
        val builder: Seq[Expression] => Expression = {
          case Seq(b, sample, weight, method, mn, mx) =>
            strLit(method) match {
              case "fixed_histogram_mle" =>
                DifferentialEntropyAgg(numLit(b, "bucket count").toInt,
                  numLit(mn, "min"), numLit(mx, "max"), sample, weight)
                  .toAggregateExpression()
              case "fixed_histogram_jacknife" =>
                DifferentialEntropyJacknifeAgg(numLit(b, "bucket count").toInt,
                  numLit(mn, "min"), numLit(mx, "max"), sample, weight)
                  .toAggregateExpression()
              case m => sys.error("differential_entropy: only the " +
                "deterministic fixed_histogram strategies (mle, jacknife) " +
                s"are supported, got '$m' — the reservoir strategies are " +
                "sampling-based (nondeterministic by construction)")
            }
          case args => sys.error("differential_entropy expects (buckets, " +
            "sample, weight, 'fixed_histogram_mle', min, max); the " +
            s"${args.length}-arg reservoir forms are nondeterministic by " +
            "construction and intentionally unsupported")
        }
        registry.registerFunction(FunctionIdentifier("differential_entropy"),
          new ExpressionInfo(getClass.getCanonicalName, "differential_entropy"),
          builder)
      }
      // classification_* array aggregates (PrecisionRecallAggregation.java
      // + five subclasses): (buckets, outcome, pred[, weight]) →
      // array<double>, one entry per threshold bucket while true weight
      // remains. Bucket count literal, weight defaults to 1.0.
      ClassificationMetricAgg.Metrics.foreach { metric =>
        val name = s"classification_$metric"
        def mk(b: Expression, o: Expression, p: Expression,
            w: Expression): Expression = {
          val n = b match {
            case Literal(v: Int, IntegerType) => v
            case Literal(v: Long, LongType) => v.toInt
            case other => sys.error(
              s"$name: bucket count must be an integer literal, got $other")
          }
          ClassificationMetricAgg(metric, n, o, p, w).toAggregateExpression()
        }
        val builder: Seq[Expression] => Expression = {
          case Seq(b, o, p) => mk(b, o, p, Literal(1.0, DoubleType))
          case Seq(b, o, p, w) => mk(b, o, p, w)
          case args => sys.error(
            s"$name expects (buckets, outcome, pred[, weight]), got ${args.length} args")
        }
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(getClass.getCanonicalName, name), builder)
      }
      // presto-ml surface (MLFunctions.java, MLFeaturesFunctions.java,
      // Learn*Aggregation.java): features() builds the map<bigint,double>
      // encoding; learn_* train closed-form models (OLS /
      // nearest-centroid — model family documented in LinearModel); the
      // learn_libsvm_* spellings accept and ignore the libsvm params
      // string (no libsvm in a from-scratch distributed engine — the
      // closed-form model is the honest scale-correct substitute).
      locally {
        colorPack("features") { args =>
          require(args.nonEmpty && args.length <= 10,
            s"features expects 1-10 args, got ${args.length}")
          CreateMap(args.zipWithIndex.flatMap { case (a, i) =>
            Seq(Literal(i.toLong, LongType), Cast(a, DoubleType))
          })
        }
        def twoArgAgg(name: String)(mk: (Expression, Expression) => Expression)
            : Unit = {
          val builder: Seq[Expression] => Expression = {
            case Seq(a, b) => mk(a, b)
            case Seq(a, b, _) => mk(a, b) // libsvm params string, ignored
            case args => sys.error(s"$name expects 2 args, got ${args.length}")
          }
          registry.registerFunction(FunctionIdentifier(name),
            new ExpressionInfo(getClass.getCanonicalName, name), builder)
        }
        twoArgAgg("learn_regressor")((l, f) =>
          LearnRegressorAgg(Cast(l, DoubleType), f).toAggregateExpression())
        twoArgAgg("learn_libsvm_regressor")((l, f) =>
          LearnRegressorAgg(Cast(l, DoubleType), f).toAggregateExpression())
        twoArgAgg("learn_classifier")((l, f) =>
          LearnClassifierAgg(l, f).toAggregateExpression())
        twoArgAgg("learn_libsvm_classifier")((l, f) =>
          LearnClassifierAgg(l, f).toAggregateExpression())
        // Presto ROW(a, b, ...) constructor (RowType.java): Spark spells
        // it struct(); positional cast to ROW(x T, y U) then works the
        // same on both engines.
        colorPack("row") { args =>
          require(args.nonEmpty, "row expects at least 1 arg")
          org.apache.spark.sql.catalyst.expressions.CreateStruct(args)
        }
        colorPack("regress") {
          case Seq(f, m) => RegressPredict(f, m)
          case args => sys.error(s"regress expects 2 args, got ${args.length}")
        }
        colorPack("classify") {
          case Seq(f, m) => ClassifyPredict(f, m)
          case args => sys.error(s"classify expects 2 args, got ${args.length}")
        }
        colorPack("evaluate_classifier_predictions") {
          case Seq(t, p) => EvaluatePredictionsAgg(t, p).toAggregateExpression()
          case args => sys.error(
            s"evaluate_classifier_predictions expects 2 args, got ${args.length}")
        }
      }
      // FNV hashes + HMACs (FnvHash.java / HmacFunctions.java) and
      // combinations (ArrayCombinationsFunction.java) — native
      // expressions; combinations' size must be a literal (it shapes the
      // result like approx_most_frequent's capacity).
      locally {
        HashCombinatorics.FnvVariants.keys.foreach { name =>
          val builder: Seq[Expression] => Expression = {
            case Seq(v) => FnvHashExpr(v, name)
            case args => sys.error(s"$name expects 1 arg, got ${args.length}")
          }
          registry.registerFunction(FunctionIdentifier(name),
            new ExpressionInfo(getClass.getCanonicalName, name), builder)
        }
        HashCombinatorics.HmacAlgos.keys.foreach { name =>
          val builder: Seq[Expression] => Expression = {
            case Seq(d, k) => HmacExpr(d, k, name)
            case args => sys.error(s"$name expects 2 args, got ${args.length}")
          }
          registry.registerFunction(FunctionIdentifier(name),
            new ExpressionInfo(getClass.getCanonicalName, name), builder)
        }
        // spooky_hash_v2_32/64 (VarbinaryFunctions.java:306,316) — native
        // SpookyHash V2, big-endian varbinary image like the reference.
        Seq("spooky_hash_v2_32" -> true, "spooky_hash_v2_64" -> false)
          .foreach { case (name, is32) =>
            val builder: Seq[Expression] => Expression = {
              case Seq(v) => SpookyHashExpr(v, is32)
              case args => sys.error(s"$name expects 1 arg, got ${args.length}")
            }
            registry.registerFunction(FunctionIdentifier(name),
              new ExpressionInfo(getClass.getCanonicalName, name), builder)
          }
        // st_intersects / st_disjoint over array<struct<x,y>> linestrings
        // (GeoFunctions.java; native segment-pair orientation tests —
        // see SegmentsIntersect).
        Seq("st_intersects" -> false, "st_disjoint" -> true)
          .foreach { case (name, negate) =>
            val builder: Seq[Expression] => Expression = {
              case Seq(a, b) =>
                val e = SegmentsIntersect(a, b)
                if (negate) org.apache.spark.sql.catalyst.expressions.Not(e)
                else e
              case args => sys.error(s"$name expects 2 args, got ${args.length}")
            }
            registry.registerFunction(FunctionIdentifier(name),
              new ExpressionInfo(getClass.getCanonicalName, name), builder)
          }
        // line_locate_point / line_interpolate_point (GeoFunctions.java
        // :437,:462) and simplify_geometry (:758) — length-indexed line
        // ops + Douglas-Peucker, native expressions.
        locally {
          val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
            "line_locate_point" -> {
              case Seq(l, p) => LineLocatePoint(l, p)
              case args =>
                sys.error(s"line_locate_point expects 2 args, got ${args.length}")
            },
            "line_interpolate_point" -> {
              case Seq(l, f) => LineInterpolatePoint(l, Cast(f, DoubleType))
              case args => sys.error(
                s"line_interpolate_point expects 2 args, got ${args.length}")
            },
            "simplify_geometry" -> {
              case Seq(l, t) => SimplifyGeometry(l, Cast(t, DoubleType))
              case args => sys.error(
                s"simplify_geometry expects 2 args, got ${args.length}")
            })
          builders.foreach { case (name, b) =>
            registry.registerFunction(FunctionIdentifier(name),
              new ExpressionInfo(getClass.getCanonicalName, name), b)
          }
        }
        // Convex-hull / clipping / segment-relate / simplicity / WKB
        // algebra (GeomAlgebra.scala; GeoFunctions.java ST_ConvexHull,
        // ST_Intersection, ST_Crosses/Touches/Overlaps, ST_IsSimple/
        // IsRing/IsValid, geometry_invalid_reason, ST_AsBinary/
        // ST_GeomFromBinary + ConvexHullAggregation.java).
        locally {
          def one(name: String)(mk: Expression => Expression): Unit =
            registry.registerFunction(FunctionIdentifier(name),
              new ExpressionInfo(getClass.getCanonicalName, name), {
                case Seq(a) => mk(a)
                case args => sys.error(s"$name expects 1 arg, got ${args.length}")
              })
          def two(name: String)(mk: (Expression, Expression) => Expression): Unit =
            registry.registerFunction(FunctionIdentifier(name),
              new ExpressionInfo(getClass.getCanonicalName, name), {
                case Seq(a, b) => mk(a, b)
                case args => sys.error(s"$name expects 2 args, got ${args.length}")
              })
          one("st_convexhull")(ConvexHull)
          one("convex_hull_agg")(a =>
            ConvexHullAgg(a).toAggregateExpression())
          two("st_intersection")(ConvexClip)
          Seq("crosses", "touches", "overlaps").foreach(m =>
            two(s"st_$m")(SegmentRelation(_, _, m)))
          // polygon boolean algebra (Greiner–Hormann; GeomBoolean.scala)
          // → multipolygon array<ring>; degenerate configs fail loudly
          two("st_union")(PolyBool(_, _, "union"))
          two("st_difference")(PolyBool(_, _, "difference"))
          two("st_symdifference")(PolyBool(_, _, "symdifference"))
          // multipolygon intersection (st_intersection keeps the convex
          // Sutherland-Hodgman single-ring contract used by qm4)
          two("st_polygon_intersection")(PolyBool(_, _, "intersection"))
          // difference whose result carries interior rings → the holed
          // structural type (GeoFunctions.java:921 configuration)
          two("st_polygon_difference")(PolyHoledDifference(_, _))
          // union/symdifference whose results carry interior rings —
          // the donut union (cap bridging a U's arms) and the
          // clip-inside-subject symdifference (GeoFunctions.java:581,
          // 1007 configurations); r8c closes the last hole-needing
          // boolean configurations
          two("st_polygon_union")(PolyHoledUnion(_, _))
          two("st_polygon_symdifference")(PolyHoledSymDifference(_, _))
          one("geometry_union")(GeometryUnionAll)
          one("geometry_union_agg")(a =>
            GeometryUnionAgg(a).toAggregateExpression())
          registry.registerFunction(FunctionIdentifier("st_relate"),
            new ExpressionInfo(getClass.getCanonicalName, "st_relate"), {
              case Seq(a, b, p) => StRelate(a, b, p)
              case args =>
                sys.error(s"st_relate expects 3 args, got ${args.length}")
            })
          one("st_issimple")(LineSimplicity(_, "simple"))
          one("st_isring")(LineSimplicity(_, "ring"))
          one("st_isvalid")(LineSimplicity(_, "valid"))
          one("geometry_invalid_reason")(LineSimplicity(_, "reason"))
          one("st_asbinary")(WkbWrite)
          one("st_geomfrombinary")(WkbRead)
          // polygon-with-holes structural layer ([exterior, holes...]
          // as array<ring>; GeoFunctions.java:581,921 handle interior
          // rings via Esri — here area/centroid/contains generalize)
          one("st_polygon_from_binary")(WkbPolygonRead)
          one("st_polygon_as_binary")(WkbPolygonWrite)
          one("st_polygon_area")(HoledPolygon(_, "area"))
          one("st_polygon_centroid")(HoledPolygon(_, "centroid"))
          two("st_polygon_contains")(HoledContains)
        }
        val builder: Seq[Expression] => Expression = {
          case Seq(a, Literal(k: Int, IntegerType)) => ArrayCombinations(a, k)
          case Seq(a, Literal(k: Long, LongType)) =>
            ArrayCombinations(a, k.toInt)
          case Seq(_, other) => sys.error(
            s"combinations: size must be an integer literal, got $other")
          case args =>
            sys.error(s"combinations expects 2 args, got ${args.length}")
        }
        registry.registerFunction(FunctionIdentifier("combinations"),
          new ExpressionInfo(getClass.getCanonicalName, "combinations"),
          builder)
      }
      // SetDigest family (SetDigestFunctions.java / SetDigest.java):
      // make_set_digest / merge_set_digest aggregates plus jaccard_index /
      // intersection_cardinality scalars, and the binary leg of Presto's
      // cardinality() overload (array/map inputs keep Spark's builtin via
      // CardinalityDispatch — semantics-compatible shadowing).
      locally {
        def agg1(name: String)(mk: Expression => Expression): Unit = {
          val builder: Seq[Expression] => Expression = {
            case Seq(v) => mk(v)
            case args => sys.error(s"$name expects 1 arg, got ${args.length}")
          }
          registry.registerFunction(FunctionIdentifier(name),
            new ExpressionInfo(getClass.getCanonicalName, name), builder)
        }
        agg1("make_set_digest")(v =>
          SetDigestAgg(v, SetDigest.DefaultK).toAggregateExpression())
        agg1("merge_set_digest")(v =>
          SetDigestMergeAgg(v).toAggregateExpression())
        agg1("cardinality")(CardinalityDispatch)
        def bin2(name: String)(mk: (Expression, Expression) => Expression): Unit = {
          val builder: Seq[Expression] => Expression = {
            case Seq(a, b) => mk(a, b)
            case args => sys.error(s"$name expects 2 args, got ${args.length}")
          }
          registry.registerFunction(FunctionIdentifier(name),
            new ExpressionInfo(getClass.getCanonicalName, name), builder)
        }
        bin2("jaccard_index")(JaccardIndexExpr)
        bin2("intersection_cardinality")(IntersectionCardinality)
      }
      // Presto TRY(expr) special form (scalar/TryFunction.java): NULL on
      // runtime error instead of failing the query. Syntactically a
      // function call, so the registry absorbs it directly — Spark's
      // TryEval supplies the catch (the same codegen try/catch the
      // try_* family compiles to), so verbatim Presto TRY text runs.
      locally {
        val builder: Seq[Expression] => Expression = {
          case Seq(e) => org.apache.spark.sql.catalyst.expressions.TryEval(e)
          case args => sys.error(s"try expects 1 arg, got ${args.length}")
        }
        registry.registerFunction(FunctionIdentifier("try"),
          new ExpressionInfo(getClass.getCanonicalName, "try"), builder)
      }
      // KHyperLogLog (type/khyperloglog/KHyperLogLogFunctions.java):
      // khyperloglog_agg(x, uii), merge_khll (the reference's
      // type-overloaded `merge`), uniqueness_distribution,
      // reidentification_potential; cardinality / jaccard_index /
      // intersection_cardinality above accept both digest kinds.
      locally {
        val agg2: Seq[Expression] => Expression = {
          case Seq(x, u) =>
            KHllAgg(x, u, KHll.DefaultMaxSize).toAggregateExpression()
          case args =>
            sys.error(s"khyperloglog_agg expects 2 args, got ${args.length}")
        }
        registry.registerFunction(FunctionIdentifier("khyperloglog_agg"),
          new ExpressionInfo(getClass.getCanonicalName, "khyperloglog_agg"),
          agg2)
        val mergeB: Seq[Expression] => Expression = {
          case Seq(v) => KHllMergeAgg(v).toAggregateExpression()
          case args =>
            sys.error(s"merge_khll expects 1 arg, got ${args.length}")
        }
        registry.registerFunction(FunctionIdentifier("merge_khll"),
          new ExpressionInfo(getClass.getCanonicalName, "merge_khll"), mergeB)
        val uniq: Seq[Expression] => Expression = {
          case Seq(d) => UniquenessDistribution(d, Cast(Literal(256), LongType))
          case Seq(d, s0) => UniquenessDistribution(d, Cast(s0, LongType))
          case args => sys.error(
            s"uniqueness_distribution expects 1-2 args, got ${args.length}")
        }
        registry.registerFunction(
          FunctionIdentifier("uniqueness_distribution"),
          new ExpressionInfo(getClass.getCanonicalName,
            "uniqueness_distribution"), uniq)
        val reid: Seq[Expression] => Expression = {
          case Seq(d, t) => ReidentificationPotential(d, Cast(t, LongType))
          case args => sys.error(
            s"reidentification_potential expects 2 args, got ${args.length}")
        }
        registry.registerFunction(
          FunctionIdentifier("reidentification_potential"),
          new ExpressionInfo(getClass.getCanonicalName,
            "reidentification_potential"), reid)
      }
      installed.put(spark, true)
    }
  }

  // ——— Entry points whose implementation lives in sibling files
  // (PrestoRewrite.scala: the five pre-parse scanners;
  // PrestoStatements.scala: the statement router). Kept as delegates so
  // the public surface stays `Registry.install / rewritePrestoSql /
  // prestoStatement`. ———

  /** Pre-parse rewrite absorbing the Presto spellings the grammar blocks
    * from registry-level absorption (reserved names, type grammar). Apply
    * to raw Presto SQL before `spark.sql(...)` (RegistrySql.sql does). */
  def rewritePrestoSql(q: String): String = PrestoRewrite.rewritePrestoSql(q)

  /** Entry point for statement-level Presto SQL — see
    * [[PrestoStatements.prestoStatement]]. */
  def prestoStatement(spark: SparkSession,
      sqlText: String): org.apache.spark.sql.DataFrame =
    PrestoStatements.prestoStatement(spark, sqlText)

  /** Lowercase names the session has explicitly SET SESSION (and not
    * RESET) — see [[PrestoStatements.explicitSessionProps]]. */
  def explicitSessionProps(spark: SparkSession): Set[String] =
    PrestoStatements.explicitSessionProps(spark)

  /** The session's effective value for a registered session property —
    * see [[PrestoStatements.sessionPropValue]]. */
  def sessionPropValue(spark: SparkSession, name: String): String =
    PrestoStatements.sessionPropValue(spark, name)

  /** The session's query_priority as an admission priority — see
    * [[PrestoStatements.queryPriority]]. */
  def queryPriority(spark: SparkSession): Int =
    PrestoStatements.queryPriority(spark)

  /** Route every subsequent prestoStatement on this session through
    * resource-group selection + admission — see [[StatementAdmission]]
    * (the reference's dispatch chain). */
  def installResourceGroups(spark: SparkSession,
      mgr: graft.plans.ResourceGroups.Manager): Unit =
    StatementAdmission.install(spark, mgr)

  /** DB-backed variant of [[installResourceGroups]]. */
  def installResourceGroups(spark: SparkSession,
      mgr: graft.plans.DbResourceGroupManager): Unit =
    StatementAdmission.install(spark, mgr)

  /** Statements stop admitting through resource groups. */
  def uninstallResourceGroups(spark: SparkSession): Unit =
    StatementAdmission.uninstall(spark)

  /** The statement-lifecycle bracket the router wraps every routed
    * statement in (the reference's QueryTracker registration) — public
    * for embedders owning their own statement lifecycle: [[recordStatement]]
    * logs a RUNNING record in system.runtime.queries and job-groups the
    * thread under the new query id; [[finishStatement]] settles it;
    * [[statementFailure]] maps a cancellation raised under a killed
    * record to the reference's kill text; [[clearStatementGroup]]
    * restores the thread's prior job group (pair it with every record). */
  def recordStatement(spark: SparkSession, sqlText: String): AnyRef =
    PrestoSystem.record(spark, sqlText)

  def finishStatement(spark: SparkSession, rec: AnyRef, failed: Boolean,
      failure: Option[Throwable] = None): Unit =
    PrestoSystem.finish(spark, rec, failed, failure)

  def statementFailure(rec: AnyRef, e: Throwable): Throwable =
    PrestoSystem.failureFor(rec, e)

  def clearStatementGroup(spark: SparkSession): Unit =
    PrestoSystem.clearGroup(spark)

  /** Register an EventListener-SPI plugin (queryCreated/queryCompleted
    * per routed statement, splitCompleted per Spark task) — see
    * [[graft.plans.QueryEvents]]. */
  def addQueryEventListener(spark: SparkSession,
      l: graft.plans.QueryEvents.EventListener): Unit =
    graft.plans.QueryEvents.addListener(spark, l,
      // split events scoped to queries this session's router recorded
      (s, qid) => PrestoSystem.ownsQuery(s, qid))

  def removeQueryEventListener(spark: SparkSession,
      l: graft.plans.QueryEvents.EventListener): Unit =
    graft.plans.QueryEvents.removeListener(spark, l)

  /** Forget session role/grant state so lifecycle gates replay
    * idempotently — see [[PrestoSecurity.resetSecurityState]]. */
  def resetSecurityState(spark: SparkSession): Unit =
    PrestoSecurity.resetSecurityState(spark)

}

/** SQL-fragment builders for the IPv4 templates: dotted-quad → bigint,
  * prefix masking, bigint → dotted-quad. Kept as plain strings so the
  * registry's template machinery (parse once, substitute args) applies
  * unchanged. */
private[functions] object IpTemplates {
  /** a.b.c.d → 32-bit integer (as bigint). The '.' delimiter is literal:
    * these templates resolve through the registry's Presto-semantics
    * `split` shadow (which \\Q-quotes), not Spark's regex split. */
  def aton(e: String): String =
    s"(cast(element_at(split($e, '.'), 1) as bigint) * 16777216 + " +
      s"cast(element_at(split($e, '.'), 2) as bigint) * 65536 + " +
      s"cast(element_at(split($e, '.'), 3) as bigint) * 256 + " +
      s"cast(element_at(split($e, '.'), 4) as bigint))"

  /** Network address of `ip` under a `bits`-wide prefix. */
  def masked(ip: String, bits: String): String =
    s"shiftleft(shiftright(${aton(ip)}, cast(32 - $bits as int)), " +
      s"cast(32 - $bits as int))"

  /** 32-bit integer expression `m` → dotted-quad string. */
  def ntoa(m: String): String =
    s"concat(cast(shiftright($m, 24) & 255 as string), '.', " +
      s"cast(shiftright($m, 16) & 255 as string), '.', " +
      s"cast(shiftright($m, 8) & 255 as string), '.', " +
      s"cast($m & 255 as string))"

  // 'a.b.c.d/n' prefix string → network / broadcast dotted-quads
  // (ip_subnet_min / ip_subnet_max)
  private val prefixAddr = "element_at(split(__a, '/'), 1)"
  private val prefixBits = "cast(element_at(split(__a, '/'), 2) as int)"
  def subnetMin: String = ntoa(masked(prefixAddr, prefixBits))
  def subnetMax: String = ntoa(
    s"(${masked(prefixAddr, prefixBits)} | " +
      s"(shiftleft(cast(1 as bigint), 32 - $prefixBits) - 1))")
}

/** Presto `date_add('unit', n, x)` (`DateTimeFunctions.java`): delegates
  * to Spark's TimestampAdd but preserves DATE-ness — Presto returns DATE
  * for DATE inputs and rejects sub-day units on them. RuntimeReplaceable:
  * the replacement is built after analysis, when the input's type is
  * known; all casts and the timezone are explicit because the optimizer's
  * ReplaceExpressions substitution happens after type coercion and
  * timezone resolution have already run. */
case class PrestoDateAdd(unit: String, quantity: Expression, ts: Expression)
    extends Expression with RuntimeReplaceable {

  private val dateUnits = Set("day", "week", "month", "quarter", "year")

  override def children: Seq[Expression] = Seq(quantity, ts)
  override def prettyName: String = "date_add"

  override lazy val replacement: Expression = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    val add = TimestampAdd(unit, Cast(quantity, LongType),
      Cast(ts, TimestampType, tz), tz)
    if (ts.dataType == DateType) {
      require(dateUnits.contains(unit),
        s"date_add: unit '$unit' is invalid for a DATE input")
      Cast(add, DateType, tz)
    } else add
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(quantity = newChildren(0), ts = newChildren(1))
}

/** Presto `date_diff('unit', t1, t2)` = t2 - t1 in whole units, matching
  * Spark's TimestampDiff(unit, start, end) argument order. */
case class PrestoDateDiff(unit: String, start: Expression, end: Expression)
    extends Expression with RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(start, end)
  override def prettyName: String = "date_diff"

  override lazy val replacement: Expression = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    TimestampDiff(unit, Cast(start, TimestampType, tz),
      Cast(end, TimestampType, tz), tz)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(start = newChildren(0), end = newChildren(1))
}
