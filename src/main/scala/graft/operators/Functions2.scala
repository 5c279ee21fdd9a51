package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Second scalar-function sweep (SURVEY.md §2.7 "library breadth"):
  * array functions over real token arrays, null-handling conditionals,
  * extended string surface, and interval/date arithmetic — every
  * output column chosen to be cross-engine deterministic (exact ints,
  * strings, booleans, timestamps; no rounded doubles).
  */
object Functions2 {

  // Array function surface on split() token arrays — scalar outputs
  // only (array-typed output cells complicate value hashing).
  private def qArrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        array_contains(col("toks"), "spark").as("has_spark"),
        expr("array_position(toks, 'data')").cast("long").as("first_data_pos"),
        array_join(slice(col("toks"), 1, 5), "-").as("head5"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"),
        array_max(col("toks")).as("max_tok"),
        array_min(col("toks")).as("min_tok"),
        size(flatten(array(col("toks"), col("toks")))).cast("long").as("doubled_len"),
        expr("size(array_remove(toks, 'the'))").cast("long").as("len_no_the"))
      .orderBy("doc_id")

  // Null-handling conditionals (F5 family breadth).
  private def qNullFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("prop_k", get_json_object(col("props"), "$.k").cast("long"))
      .select(
        col("event_id"),
        coalesce(col("prop_k"), lit(-1L)).as("k_or_default"),
        expr("nullif(event_type, 'error')").as("type_nullif"),
        expr("ifnull(nullif(event_type, 'error'), 'was_error')").as("type_recovered"),
        col("prop_k").isNull.as("k_missing"),
        when(col("value") > 50.0, col("value")).as("big_value_or_null"))
      .orderBy("event_id")

  // Extended string surface.
  private def qStringFuncs2(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      translate(col("p_brand"), "#", "_").as("brand_t"),
      repeat(col("p_brand"), 2).as("brand_x2"),
      reverse(col("p_name")).as("name_rev"),
      instr(col("p_name"), "a").cast("long").as("first_a"),
      expr("left(p_name, 3)").as("name_l3"),
      expr("right(p_name, 3)").as("name_r3"),
      regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_word1"),
      trim(lit("  x  ")).as("trimmed"),
      expr("split_part(p_type, ' ', 1)").as("type_part1"))
      .orderBy("p_partkey")

  // Interval / date arithmetic (F9 breadth).
  private def qDateFuncs2(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      (col("o_orderdate") + expr("INTERVAL 3 DAY")).as("plus_3d"),
      (col("o_orderdate") - expr("INTERVAL 1 MONTH")).as("minus_1mo"),
      (col("o_orderdate") + expr("INTERVAL 90 MINUTE")).as("plus_90min"),
      quarter(col("o_orderdate")).cast("long").as("o_quarter"),
      weekofyear(col("o_orderdate")).cast("long").as("o_week"),
      last_day(col("o_orderdate")).cast("timestamp").as("month_end"))
      .orderBy("o_orderkey")

  // Exact interpolated percentiles (both engines sort exactly and
  // interpolate identically on these 2-decimal doubles).
  private def qPercentile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.25)").as("p25_qty"),
        expr("percentile(l_quantity, 0.75)").as("p75_qty"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
      .orderBy("l_returnflag")

  /** EXACT corpus-grain order statistics with NO global sort — the
    * 100 TB answer to "the exact p99, not a sketch": q_percentile's
    * exact `percentile()` holds per-group sort state (fine at bounded
    * group cardinality, corpus-fatal ungrouped), and
    * q_approx_percentile trades exactness for mergeability. This
    * query gets the exact k-th order statistic of the FULL lineitem
    * price column via value-grain counting: one hash aggregate to
    * (value, count) — map-side partials, the biggest shuffle carries
    * distinct values only — then ScaleRank.withPrefixSum (two-level:
    * deterministic value buckets, bucket-partitioned running sums,
    * bucket-grain offsets as a map literal) gives each value its
    * exact preceding-row count, and the quantile row is the one whose
    * [pref, pref+cnt) interval contains k. k itself is exact integer
    * arithmetic — k = ⌈p·n⌉ as (num·n + den − 1) DIV den over the
    * rational p — so no boundary ever hinges on a float; both engines
    * run the IDENTICAL selection (the oracle does not call a
    * percentile builtin). */
  private def qExactQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // n from the parquet metadata count (no column scan); the
    // value-grain frame is pinned once — the prefix sum's model passes
    // plus the final plan would otherwise re-run the corpus aggregate
    // three times (the multi-consumer rule)
    val n = Tables.lineitem(s, d).count()
    val vals = Tables.lineitem(s, d)
      .groupBy(col("l_extendedprice").as("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val pref = ScaleRank.withPrefixSum(vals, col("v"), Seq(col("v")),
      col("cnt"), "pref")
    val qs = Seq((1L, 4L, "p25"), (1L, 2L, "p50"), (3L, 4L, "p75"),
      (99L, 100L, "p99")).toDF("num", "den", "p")
    pref.withColumn("n", lit(n)).crossJoin(broadcast(qs))
      .withColumn("k", expr("(num * n + den - 1) DIV den"))
      .filter(col("pref") < col("k") && col("k") <= col("pref") + col("cnt"))
      .select(col("p"), col("k"), col("n"), col("v").cast("double").as("value"))
      .orderBy("p")
  }

  /** GROUPED exact order statistics — the per-key companion of
    * q_exact_quantiles: per return flag, the exact p50/p90/p99 of the
    * price column by value-grain counting inside each group. Here the
    * prefix sum needs NO two-level machinery: the running count
    * partitions by the group key, so every window in the plan is
    * key-partitioned and the shape is trivially parallel at any
    * group cardinality (the two-level ScaleRank form is only for the
    * UNGROUPED corpus-total order). k = ⌈p·n_g⌉ in exact integer
    * arithmetic per group, identical selection in the oracle. */
  private def qGroupQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vals = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val byFlag = Window.partitionBy(col("flag")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = vals
      .withColumn("pref", coalesce(sum(col("cnt")).over(byFlag), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("flag"))))
    val qs = Seq((1L, 2L, "p50"), (9L, 10L, "p90"), (99L, 100L, "p99"))
      .toDF("num", "den", "p")
    pref.crossJoin(broadcast(qs))
      .withColumn("k", expr("(num * n + den - 1) DIV den"))
      .filter(col("pref") < col("k") && col("k") <= col("pref") + col("cnt"))
      .select(col("flag"), col("p"), col("k"), col("n"),
        col("v").cast("double").as("value"))
      .orderBy("flag", "p")
  }

  /** Winsorized robust means — clip each group's values to its exact
    * [p05, p95] band, report the clip counts and the raw vs winsorized
    * DECIMAL-pinned means (the outlier-robust statistic a metrics
    * pipeline publishes when a fat tail would swamp a plain mean).
    * Two passes: an exact-percentile aggregate (3 groups → broadcast)
    * then the clipped re-aggregate. The exact `percentile` holds sort
    * state per group — fine at bounded group cardinality like here; at
    * 100 TB with wide groups the sketch path (q_approx_percentile) is
    * the production form and THIS query is its oracled audit twin.
    * Determinism: raw prices are 2-decimal (DECIMAL(18,2) sums exact);
    * clipped values inherit an interpolated bound, so each term is
    * pinned to DECIMAL(18,6) before summing — partition-order-proof on
    * both engines, same technique as q_doc_entropy.
    */
  private def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
    val bounds = li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, 0.05)").as("p05"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
    li.join(broadcast(bounds), Seq("l_returnflag"))
      .withColumn("clipped",
        least(greatest(col("l_extendedprice"), col("p05")), col("p95")))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        min(col("p05")).as("p05"),
        min(col("p95")).as("p95"),
        sum(when(col("l_extendedprice") < col("p05"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("l_extendedprice") > col("p95"), 1L).otherwise(0L)).as("n_high"),
        expr("""CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)""").as("mean_raw"),
        expr("""CAST(SUM(CAST(clipped AS DECIMAL(18,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)""").as("mean_winsorized"))
      .orderBy("l_returnflag")
  }

  /** Equi-width histogram (10 buckets over the global [min, max]) —
    * the distribution-profile op a data-quality dashboard draws. The
    * 1-row min/max aggregate broadcasts back over the fact table;
    * bucket id, bounds and fraction are per-row IEEE arithmetic on
    * both engines (one subtraction, one division, one floor), so the
    * whole profile is hash-gated. The top value lands in the last
    * bucket via the least() cap, mirrored in the oracle. A CONSTANT
    * column (hi = lo ⇒ width 0) degenerates every row to bucket 0
    * explicitly — without the guard the 0/0 division feeds NaN into
    * the ANSI long cast and the query dies with an opaque cast error
    * instead of profiling the (legitimate) one-value distribution. */
  /** Histogram core over any single-column (x) frame — public to
    * graft so the degenerate-width guard is testable on a constant
    * frame without a fixture change. */
  private[graft] def histogramOf(vals: DataFrame): DataFrame = {
    val mm = vals.agg(min(col("x")).as("lo_all"), max(col("x")).as("hi_all"))
    vals.crossJoin(broadcast(mm))
      .withColumn("width", (col("hi_all") - col("lo_all")) / lit(10.0))
      .withColumn("bucket",
        when(col("width") === 0.0, lit(0L)).otherwise(
          least(floor((col("x") - col("lo_all")) / col("width")), lit(9L)).cast("long")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("lo_all") + col("bucket").cast("double") * col("width")).as("lo"),
        min(col("lo_all") + (col("bucket") + 1).cast("double") * col("width")).as("hi"))
      .withColumn("frac", expr(
        "CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)"))
      .orderBy("bucket")
  }

  private def qHistogram(s: SparkSession, d: String): DataFrame =
    histogramOf(Tables.lineitem(s, d).select(col("l_extendedprice").as("x")))

  /** Exact value deciles — the quantile table a feature-engineering
    * pass materializes — WITHOUT the global ntile(10) sort: the
    * two-level ScaleRank technique (value-bucketed parallel local
    * ranks + collected bucket-count offsets) reproduces ntile's exact
    * uneven-bucket assignment over the tie-broken order
    * (l_extendedprice, l_orderkey, l_linenumber) with no
    * single-partition WindowExec anywhere in the plan (PlanAuditSpec
    * pins this). The per-decile bounds/counts/DECIMAL-pinned sums are
    * then plain aggregates; the sketch path is q_approx_percentile. */
  private def qDeciles(s: SparkSession, d: String): DataFrame =
    ScaleRank.withGlobalRank(
      Tables.lineitem(s, d),
      col("l_extendedprice"),
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      "__rank", "__n")
      .withColumn("decile", ScaleRank.ntileExpr(10, "__rank", "__n").cast("long"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .orderBy("decile")

  /** Z-score anomaly counts per group — the data-quality gate that
    * flags a partition whose value distribution drifted. Mean and
    * stddev come from EXACT decimal sufficient statistics (Σx, Σx² —
    * the q_corr_manual technique: order-independent under any
    * parallelism), and the COMPARED/REUSED mean and std are pinned
    * through DECIMAL(18,6) before the per-row z pass, so every z is
    * computed from bit-identical inputs on both engines — the outlier
    * count can't flip on a last-ulp boundary. Two passes over the
    * fact table with a broadcast 3-row stats join between them. */
  private def qAnomaly(s: SparkSession, d: String): DataFrame = {
    val x = "CAST(l_extendedprice AS DECIMAL(18,2))"
    val stats = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        expr(s"CAST(SUM($x) AS DOUBLE)").as("s1"),
        expr(s"CAST(SUM($x * $x) AS DOUBLE)").as("s2"))
      .withColumn("mean", expr(
        "CAST(CAST(s1 / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE)"))
      .withColumn("std", expr(
        """CAST(CAST(sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)"""))
      .select("l_returnflag", "n", "mean", "std")
    Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
      .join(broadcast(stats), Seq("l_returnflag"))
      .withColumn("z", (col("l_extendedprice") - col("mean")) / col("std"))
      .groupBy(col("l_returnflag"))
      .agg(
        min(col("n")).as("n"),
        min(col("mean")).as("mean"),
        min(col("std")).as("std"),
        sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
        max(abs(col("z"))).as("max_abs_z"))
      .orderBy("l_returnflag")
  }

  // Regex surface: extraction-all counts, occurrence counts, boolean
  // match — simple character-class/literal patterns where Java regex
  // (Spark) and RE2 (DuckDB) agree.
  private def qRegexFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[aeiou]+', 0)")).cast("long")
          .as("n_vowel_runs"),
        expr("regexp_count(text, ' the ')").cast("long").as("n_the"),
        col("text").rlike("spark").as("has_spark"),
        regexp_extract(col("text"), "([a-z]+) ([a-z]+)", 2).as("second_word"),
        expr("regexp_replace(text, '[aeiou]', '', 1)").isNotNull.as("replace_ok"))
      .orderBy("doc_id")

  // Schema-evolution union: two slices with DIFFERENT projections
  // combined by column NAME with null fill — the shape every long-
  // lived ingestion hits when a field is added mid-stream. Oracled
  // via DuckDB's UNION ALL BY NAME.
  private def qUnionEvolve(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val v1 = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("value"), lit("v1").as("src"))
    val v2 = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("value") * 2.0).as("value_scaled"), lit("v2").as("src"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy("event_id")
  }

  // ANSI error-safety surface: Spark 4 runs ANSI ON, so overflow /
  // bad casts / integral zero-division THROW — the try_* family is
  // how a pipeline degrades those to nulls row-locally instead of
  // failing a 100 TB job on one poisoned record. Oracled against
  // directly-stated expected values (DuckDB TRY_CAST + CASE).
  private def qTryFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        expr("try_cast(event_type AS BIGINT)").as("bad_cast"),
        expr("try_cast(CAST(event_id AS STRING) AS BIGINT)").as("roundtrip_cast"),
        // every try_* failure costs a JVM-internal exception PER ROW
        // (ANSI evaluation throws, try catches) — measured 8.6 s at
        // sf0.1 with 100% failure rates. Fail on 1% of rows instead:
        // realistic data is mostly well-formed, and the degradation
        // path is exercised either way
        expr("""try_add(9223372036854775807L,
                        CASE WHEN event_id % 100 = 0 THEN 1L ELSE -event_id END)""")
          .as("overflow_add"),
        expr("""try_divide(event_id,
                           CASE WHEN event_id % 100 = 0 THEN 0L ELSE 2L END)""")
          .as("div_zero"),
        expr("try_multiply(event_id, 2L)").as("safe_mult"),
        expr("""try_to_timestamp(CASE WHEN event_id % 100 = 0
                                      THEN event_type
                                      ELSE CAST(ts AS STRING) END)""").as("maybe_ts"))
      .orderBy("event_id")

  // MAP-typed column surface: construction, lookup, key listing,
  // predicate filtering, value transformation — all reduced to scalar
  // outputs. The DuckDB oracle states the expected VALUES directly
  // (each is derivable from `value`), the same
  // semantics-not-implementation oracling q_join_salted uses.
  private def qMapFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("m", map(
        lit("base"), col("value"),
        lit("double"), col("value") * 2.0,
        lit("half"), col("value") / 2.0))
      .select(
        col("event_id"),
        element_at(col("m"), "base").as("base"),
        element_at(col("m"), "double").as("dbl"),
        size(col("m")).cast("long").as("n_entries"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
        size(expr("map_filter(m, (k, v) -> v > 50)")).cast("long").as("n_over_50"),
        element_at(expr("transform_values(m, (k, v) -> v / 2)"), "double").as("halved"))
      .orderBy("event_id")

  // Approximate percentile sketch — the bounded-memory quantile path
  // for 100 TB (exact percentile must materialize the sorted column;
  // the sketch is a fixed-size mergeable summary). ORACLED via the
  // error-bound-flag formulation: the sketch value is engine-specific,
  // so the query emits the exact quantiles (quantile_cont twins, same
  // machinery as q_percentile) plus `within_bound` — the in-plan
  // check that every sketch quantile landed within ±1.5 units of the
  // exact one (l_quantity is integer-valued: the sketch returns a
  // real element while the exact form interpolates, so at most one
  // neighboring value off). The oracle asserts TRUE: a sketch
  // drifting out of bound is a hash failure, not a silent change.
  private def qApproxPercentile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.25d, 0.5d, 0.75d))").as("ex"),
        expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 1000)")
          .as("ap"))
      .select(col("l_returnflag"),
        element_at(col("ex"), 1).as("p25_qty"),
        element_at(col("ex"), 2).as("median_qty"),
        element_at(col("ex"), 3).as("p75_qty"),
        (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1)) <= lit(1.5) &&
          abs(element_at(col("ap"), 2) - element_at(col("ex"), 2)) <= lit(1.5) &&
          abs(element_at(col("ap"), 3) - element_at(col("ex"), 3)) <= lit(1.5))
          .as("within_bound"))
      .orderBy("l_returnflag")

  // Aggregate breadth: argmin/argmax, boolean aggregates, FILTER
  // clause, distinct sums, order-pinned string aggregation.
  private def qAggBreadth(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        expr("min_by(c_name, c_acctbal)").as("poorest_name"),
        expr("max_by(c_name, c_acctbal)").as("richest_name"),
        expr("bool_or(c_acctbal < 0)").as("any_negative"),
        expr("bool_and(c_acctbal > -1000)").as("all_above_floor"),
        expr("CAST(SUM(DISTINCT c_nationkey) AS BIGINT)").as("sum_distinct_nations"),
        count(lit(1)).as("n"),
        expr("COUNT(*) FILTER (WHERE c_acctbal > 5000)").as("n_rich"),
        array_join(array_sort(collect_set(col("c_nationkey"))), ",").as("nations_csv"))
      .orderBy("c_mktsegment")

  // Generator / UDTF analog: posexplode over token arrays.
  private def qPosexplode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("token"))
      .orderBy("doc_id", "pos")

  /** The JSON payload for the nested-parse queries: array + map +
    * nested struct, built deterministically from event columns with
    * plain string concat — the SAME construction runs on both engines,
    * so the parse stage (not the fixture) is what the oracle compares.
    * SURVEY §1.2 capability parity: `from_json` of arbitrary payloads,
    * beyond the reference's flat `$.k` extraction.
    */
  private val nestedPayload = concat(
    lit("""{"tags":[""""), col("event_type"),
    lit("""","seg"""), pmod(col("user_id"), lit(10L)).cast("string"),
    lit(""""],"attrs":{"uid":"""), col("user_id").cast("string"),
    lit(""","eid":"""), col("event_id").cast("string"),
    lit("""},"meta":{"kind":""""), col("event_type"),
    lit("""","n":"""), pmod(col("user_id"), lit(100L)).cast("string"),
    lit("}}"))

  // single line: this fragment is interpolated into stripMargin SQL,
  // where a leading `|` of a wrapped `||` would be eaten as a margin
  private val nestedPayloadSql =
    """'{"tags":["' || event_type || '","seg' || CAST(user_id % 10 AS VARCHAR) || '"],"attrs":{"uid":' || CAST(user_id AS VARCHAR) || ',"eid":' || CAST(event_id AS VARCHAR) || '},"meta":{"kind":"' || event_type || '","n":' || CAST(user_id % 100 AS VARCHAR) || '}}'"""

  private val nestedSchema =
    "tags ARRAY<STRING>, attrs MAP<STRING, BIGINT>, meta STRUCT<kind: STRING, n: BIGINT>"

  // Nested from_json breadth: parse an array field, a map field, and a
  // nested struct out of one JSON payload; scalar outputs keep the
  // result hashable.
  private def qJsonNested(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("payload", nestedPayload)
      .withColumn("p", expr(s"from_json(payload, '$nestedSchema')"))
      .select(
        col("event_id"),
        col("payload"),
        element_at(col("p.tags"), 1).as("tag0"),
        element_at(col("p.tags"), 2).as("tag1"),
        size(col("p.tags")).cast("long").as("n_tags"),
        element_at(col("p.attrs"), "uid").as("attr_uid"),
        element_at(col("p.attrs"), "eid").as("attr_eid"),
        col("p.meta.kind").as("meta_kind"),
        col("p.meta.n").as("meta_n"))
      .orderBy("event_id")

  // VARIANT path (Spark 4 semi-structured type): parse_json once into
  // the binary variant encoding, then typed variant_get extraction —
  // the shredded/lakehouse-native way to hold heterogeneous JSON at
  // 100 TB (no per-query re-parse, no rigid schema). Extraction
  // results are ordinary typed columns, so the same DuckDB JSON
  // oracle applies.
  private def qVariant(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("payload", nestedPayload)
      .withColumn("v", expr("parse_json(payload)"))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.tags[0]', 'string')").as("tag0"),
        expr("variant_get(v, '$.tags[1]', 'string')").as("tag1"),
        expr("variant_get(v, '$.attrs.uid', 'bigint')").as("attr_uid"),
        expr("variant_get(v, '$.attrs.eid', 'bigint')").as("attr_eid"),
        expr("variant_get(v, '$.meta.kind', 'string')").as("meta_kind"),
        expr("variant_get(v, '$.meta.n', 'bigint')").as("meta_n"),
        expr("variant_get(v, '$.missing', 'string') IS NULL").as("missing_is_null"))
      .orderBy("event_id")

  // Generator over a parsed JSON array: from_json → posexplode, one
  // row per (event, tag) — the array-to-rows shape a UDTF would cover.
  private def qJsonExplode(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_id") < 5000)
      .withColumn("payload", nestedPayload)
      .withColumn("p", expr(s"from_json(payload, '$nestedSchema')"))
      .select(col("event_id"), posexplode(col("p.tags")))
      .select(col("event_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("tag"))
      .orderBy("event_id", "pos")

  /** Bits interleaved per dimension of the Z-value (p_size ≤ 50 and
    * p_partkey % 64 both fit in 6 bits). */
  private val ZBits = 6

  /** Morton/Z-order key over (`a`, `b`): bit i of `a` lands at bit 2i,
    * bit i of `b` at bit 2i+1. Pure integer shift/mask arithmetic —
    * the SAME generated text parses in Spark SQL and DuckDB, so the
    * interleave itself is under the hash gate. */
  private def zValueSql(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  // Z-order (Morton) clustering key — the multi-dimensional data-
  // layout primitive: sorting a 100 TB table by z(a, b) makes row-
  // group min/max stats selective on BOTH a and b at once, so scans
  // filtered on either dimension skip most of the file (a plain sort
  // by `a` leaves `b` scattered across every row group). The query
  // materializes the key plus each row's z-rank so the oracle pins
  // the full interleave + ordering; the layout payoff itself is
  // asserted separately in StorageSpec (write z-sorted, prove row-
  // group skipping on both dimensions from scan metrics).
  private def qZorder(s: SparkSession, d: String): DataFrame = {
    val z = zValueSql("p_size", "(p_partkey % 64)")
    Tables.part(s, d)
      .withColumn("pmod", (col("p_partkey") % 64).cast("long"))
      .withColumn("z", expr(z))
      .select("p_partkey", "p_size", "pmod", "z")
      .orderBy("z", "p_partkey")
  }

  // Data-skipping effectiveness report — the analytic companion to
  // q_zorder (and to StorageSpec's physical row-group proof): carve
  // the table into 32 equal shards under two layouts (arrival order
  // vs z-order), collect per-shard min/max zone maps for BOTH
  // dimensions, and count, for one probe predicate per dimension, how
  // many shards a zone-map-aware scanner skips outright and how many
  // rows the surviving shards force it to read. This is the number a
  // 100 TB layout decision is actually made on: the z-ordered layout
  // should skip on BOTH dimensions, the arrival layout on at most
  // one. Everything is integer-exact: shard = NTILE(32) over
  // deterministic total orders, computed via the two-level ScaleRank
  // primitive + ntileExpr (bit-identical to `ntile(32) OVER (ORDER
  // BY …)` on the same tie-broken order) — the part table scales with
  // the corpus, so a global single-partition ntile sort here would be
  // the exact scale-killer class ScaleRank exists for. BIGINT zone
  // bounds, skippable ⇔ max < lo OR min > hi. Scale shape: two
  // bucket-partitioned parallel rank passes over part, one 32-key agg
  // per layout, a 4-row output.
  private def qSkippingStats(s: SparkSession, d: String): DataFrame = {
    val z = zValueSql("p_size", "(p_partkey % 64)")
    // pin the interleaved base: it feeds TWO ScaleRank calls, each of
    // whose model passes (min/max agg + bucket counts) plus output
    // plan replays the upstream lineage — without the pin the part
    // scan + 16-term Morton interleave recompute ~6× (the q_bm25
    // multi-consumer discipline)
    val base = Tables.part(s, d)
      .withColumn("pmod", (col("p_partkey") % 64).cast("long"))
      .withColumn("z", expr(z))
      .localCheckpoint()
    val arrival = ScaleRank.withGlobalRank(base,
        col("p_partkey"), Seq(col("p_partkey")), "__rk", "__n")
      .withColumn("layout", lit("arrival"))
      .withColumn("shard", ScaleRank.ntileExpr(32, "__rk", "__n").cast("long"))
      .drop("__rk", "__n")
    val zord = ScaleRank.withGlobalRank(base,
        col("z"), Seq(col("z"), col("p_partkey")), "__rk", "__n")
      .withColumn("layout", lit("zorder"))
      .withColumn("shard", ScaleRank.ntileExpr(32, "__rk", "__n").cast("long"))
      .drop("__rk", "__n")
    // pin the 64-row zone-map table: both predicate reports consume
    // it, and its lineage is the two layout sorts
    val zones = arrival.unionAll(zord)
      .groupBy(col("layout"), col("shard"))
      .agg(min(col("p_size")).as("min_size"), max(col("p_size")).as("max_size"),
        min(col("pmod")).as("min_mod"), max(col("pmod")).as("max_mod"),
        count(lit(1)).as("rows"),
        sum(when(col("p_size").between(10, 12), 1L).otherwise(0L)).as("m_size"),
        sum(when(col("pmod").between(5L, 8L), 1L).otherwise(0L)).as("m_mod"))
      .localCheckpoint()
    val bySize = zones.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_shards"),
        sum(when(col("max_size") < 10 || col("min_size") > 12, 1L).otherwise(0L))
          .as("n_skipped"),
        sum(when(col("max_size") < 10 || col("min_size") > 12, 0L)
          .otherwise(col("rows"))).as("rows_scanned"),
        sum(col("m_size")).as("rows_matching"))
      .withColumn("predicate", lit("p_size BETWEEN 10 AND 12"))
    val byMod = zones.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_shards"),
        sum(when(col("max_mod") < 5L || col("min_mod") > 8L, 1L).otherwise(0L))
          .as("n_skipped"),
        sum(when(col("max_mod") < 5L || col("min_mod") > 8L, 0L)
          .otherwise(col("rows"))).as("rows_scanned"),
        sum(col("m_mod")).as("rows_matching"))
      .withColumn("predicate", lit("pmod BETWEEN 5 AND 8"))
    bySize.unionAll(byMod)
      .select("layout", "predicate", "n_shards", "n_skipped",
        "rows_scanned", "rows_matching")
      .orderBy("layout", "predicate")
  }

  /** Bitmap presence rollup — the bitmap-index idiom (the portable
    * core of a roaring-bitmap pipeline): per (user, month), the
    * day-of-month presence set and the event-type set each collapse
    * into ONE BIGINT via `bit_or(1 << pos)` partial aggregates, and
    * cardinalities read back with `bit_count` — set semantics at
    * 8 bytes per group however many events contributed. At 100 TB
    * this is the difference between shuffling a distinct-day list per
    * user and shuffling a single long; masks are also mergeable
    * ACROSS groups with plain bit_or (the rollup stays associative).
    * All outputs exact BIGINTs. */
  private def qBitmapPresence(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        expr("CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT)").as("month_idx"),
        expr("CAST(day(ts) AS INT)").as("dom"),
        expr("""CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                WHEN 'view' THEN 4 ELSE 5 END""").as("type_bit"))
      .groupBy(col("user_id"), col("month_idx"))
      .agg(
        expr("bit_or(shiftleft(CAST(1 AS BIGINT), dom - 1))").as("day_mask"),
        expr("bit_or(shiftleft(CAST(1 AS BIGINT), type_bit))").as("type_mask"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("month_idx"), col("day_mask"), col("type_mask"),
        col("n_events"),
        expr("CAST(bit_count(day_mask) AS BIGINT)").as("days_active"),
        expr("CAST(bit_count(type_mask) AS BIGINT)").as("n_types"))
      .orderBy("user_id", "month_idx")

  // Storage-format roundtrip audit (q_roundtrip_orc/csv/json): each
  // query writes the same lineitem projection to its format, reads it
  // back (CSV/JSON with the explicit source schema — schema-on-read,
  // no inference nondeterminism) and aggregates; the ORACLE computes
  // the expected aggregate straight from parquet, so the hash gate
  // proves each writer→reader path is value-lossless (doubles survive
  // shortest-repr text, timestamps survive the NTZ formatter, ORC is
  // binary). The interchange-format insurance a multi-engine lake runs
  // before trusting a new export path. Scale shape per query: one
  // narrow write+scan+agg pipeline, no shuffles beyond the 1-row agg.
  /** One fixed roundtrip dir per dataset (mode=overwrite reuses it), so
    * repeated bench/verify invocations can't accumulate temp dirs; a
    * single shutdown hook removes whatever was created. The writes
    * still fire on every invocation — the IO is part of the query's
    * honest price — only the directory is reused. */
  private val fmtDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private val fmtHook = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def fmtDirFor(d: String): String =
    fmtDirs.getOrElseUpdate(d, {
      if (fmtHook.compareAndSet(false, true))
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          fmtDirs.values.foreach { p =>
            val root = new java.io.File(p)
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
            }
            rm(root)
          }))
      // key by dataset hash AND process id: two concurrent JVMs on the
      // same dataset (bench + verify) must not share a dir — overwrite
      // mode would let one clobber files the other is mid-read on
      val safe = java.lang.Integer.toHexString(d.hashCode)
      val pid = java.lang.ProcessHandle.current().pid()
      val p = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), s"graft_fmt_${safe}_$pid")
      java.nio.file.Files.createDirectories(p)
      p.toString
    })

  /** One format's write→read→aggregate roundtrip — r15 split the old
    * q_format_roundtrip (all three formats in one query, the suite's
    * single most IO-bound line at 2% of the total) into three
    * per-format lines: same lossless-path proof per format, but a
    * slow filesystem day prices as three attributable small numbers
    * instead of one opaque big one, and the bench's budget-gated
    * sweeps can re-sample them independently. */
  private def roundtripFor(s: SparkSession, d: String, fmt: String): DataFrame = {
    val src = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_partkey"), col("l_quantity"),
      col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
    val dir = fmtDirFor(d)
    val read = fmt match {
      case "orc" =>
        src.write.mode("overwrite").orc(s"$dir/orc")
        s.read.orc(s"$dir/orc")
      case "csv" =>
        src.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
        s.read.option("header", "true").schema(src.schema).csv(s"$dir/csv")
      case "json" =>
        src.write.mode("overwrite").json(s"$dir/json")
        s.read.schema(src.schema).json(s"$dir/json")
    }
    read.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("sum_price"),
        expr("MAX(unix_micros(CAST(l_shipdate AS TIMESTAMP)))").as("max_ship_us"))
      .withColumn("format", lit(fmt))
      .select("format", "n_rows", "n_parts", "sum_qty", "sum_price", "max_ship_us")
  }

  /** The r14 combined form, kept alongside the per-format splits: the
    * driver contract forbids removing a declared query, so the union
    * line stays (same result rows and hash as every prior round) while
    * the three splits give the bench per-format attribution. */
  private def qFormatRoundtrip(s: SparkSession, d: String): DataFrame =
    Seq("csv", "json", "orc").map(roundtripFor(s, d, _))
      .reduce(_ unionAll _)
      .orderBy("format")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bitmap_presence" -> (qBitmapPresence _),
    "q_format_roundtrip" -> (qFormatRoundtrip _),
    "q_roundtrip_orc" -> ((s: SparkSession, d: String) => roundtripFor(s, d, "orc")),
    "q_roundtrip_csv" -> ((s: SparkSession, d: String) => roundtripFor(s, d, "csv")),
    "q_roundtrip_json" -> ((s: SparkSession, d: String) => roundtripFor(s, d, "json")),
    "q_json_nested" -> (qJsonNested _),
    "q_zorder" -> (qZorder _),
    "q_skipping_stats" -> (qSkippingStats _),
    "q_json_explode" -> (qJsonExplode _),
    "q_variant" -> (qVariant _),
    "q_map_funcs" -> (qMapFuncs _),
    "q_try_funcs" -> (qTryFuncs _),
    "q_regex_funcs" -> (qRegexFuncs _),
    "q_union_evolve" -> (qUnionEvolve _),
    "q_agg_breadth" -> (qAggBreadth _),
    "q_posexplode" -> (qPosexplode _),
    "q_array_funcs" -> (qArrayFuncs _),
    "q_null_funcs" -> (qNullFuncs _),
    "q_string_funcs2" -> (qStringFuncs2 _),
    "q_date_funcs2" -> (qDateFuncs2 _),
    "q_percentile" -> (qPercentile _),
    "q_exact_quantiles" -> (qExactQuantiles _),
    "q_group_quantiles" -> (qGroupQuantiles _),
    "q_winsorize" -> (qWinsorize _),
    "q_histogram" -> (qHistogram _),
    "q_deciles" -> (qDeciles _),
    "q_anomaly" -> (qAnomaly _),
    "q_approx_percentile" -> (qApproxPercentile _)
  )

  private def roundtripOracle(fmt: String): String =
    s"""SELECT '$fmt' AS format,
       |       CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |       CAST(MAX(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
       |FROM lineitem""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_bitmap_presence" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS month_idx,
        |         day(ts) AS dom,
        |         CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |              WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
        |              WHEN 'view' THEN 4 ELSE 5 END AS type_bit
        |  FROM events
        |)
        |SELECT user_id, month_idx,
        |       CAST(bit_or(CAST(1 AS BIGINT) << (dom - 1)) AS BIGINT) AS day_mask,
        |       CAST(bit_or(CAST(1 AS BIGINT) << type_bit) AS BIGINT) AS type_mask,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << (dom - 1))) AS BIGINT) AS days_active,
        |       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << type_bit)) AS BIGINT) AS n_types
        |FROM e GROUP BY user_id, month_idx
        |ORDER BY user_id, month_idx""".stripMargin,
    "q_skipping_stats" ->
      s"""WITH base AS (
         |  SELECT p_partkey, p_size, CAST(p_partkey % 64 AS BIGINT) AS pmod,
         |         ${zValueSql("p_size", "(p_partkey % 64)")} AS z
         |  FROM part
         |), sharded AS (
         |  SELECT 'arrival' AS layout,
         |         CAST(ntile(32) OVER (ORDER BY p_partkey) AS BIGINT) AS shard,
         |         p_size, pmod FROM base
         |  UNION ALL
         |  SELECT 'zorder',
         |         CAST(ntile(32) OVER (ORDER BY z, p_partkey) AS BIGINT),
         |         p_size, pmod FROM base
         |), zones AS (
         |  SELECT layout, shard,
         |         MIN(p_size) AS min_size, MAX(p_size) AS max_size,
         |         MIN(pmod) AS min_mod, MAX(pmod) AS max_mod,
         |         CAST(COUNT(*) AS BIGINT) AS rows_,
         |         CAST(SUM(CASE WHEN p_size BETWEEN 10 AND 12 THEN 1 ELSE 0 END) AS BIGINT) AS m_size,
         |         CAST(SUM(CASE WHEN pmod BETWEEN 5 AND 8 THEN 1 ELSE 0 END) AS BIGINT) AS m_mod
         |  FROM sharded GROUP BY layout, shard
         |)
         |SELECT layout, 'p_size BETWEEN 10 AND 12' AS predicate,
         |       CAST(COUNT(*) AS BIGINT) AS n_shards,
         |       CAST(SUM(CASE WHEN max_size < 10 OR min_size > 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
         |       CAST(SUM(CASE WHEN max_size < 10 OR min_size > 12 THEN 0 ELSE rows_ END) AS BIGINT) AS rows_scanned,
         |       CAST(SUM(m_size) AS BIGINT) AS rows_matching
         |FROM zones GROUP BY layout
         |UNION ALL
         |SELECT layout, 'pmod BETWEEN 5 AND 8',
         |       CAST(COUNT(*) AS BIGINT),
         |       CAST(SUM(CASE WHEN max_mod < 5 OR min_mod > 8 THEN 1 ELSE 0 END) AS BIGINT),
         |       CAST(SUM(CASE WHEN max_mod < 5 OR min_mod > 8 THEN 0 ELSE rows_ END) AS BIGINT),
         |       CAST(SUM(m_mod) AS BIGINT)
         |FROM zones GROUP BY layout
         |ORDER BY layout, predicate""".stripMargin,
    // ONE parquet-derived aggregate that each format's roundtrip row
    // must equal exactly: the hash match proves every roundtrip is
    // lossless (ADVICE r15: the two near-duplicate comments merged)
    "q_format_roundtrip" ->
      """WITH agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |         CAST(MAX(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
        |  FROM lineitem
        |)
        |SELECT f.format AS format, a.n_rows, a.n_parts, a.sum_qty, a.sum_price,
        |       a.max_ship_us
        |FROM (VALUES ('csv'), ('json'), ('orc')) f(format) CROSS JOIN agg a
        |ORDER BY f.format""".stripMargin,
    "q_roundtrip_orc" -> roundtripOracle("orc"),
    "q_roundtrip_csv" -> roundtripOracle("csv"),
    "q_roundtrip_json" -> roundtripOracle("json"),
    "q_zorder" ->
      s"""SELECT p_partkey, p_size,
         |       CAST(p_partkey % 64 AS BIGINT) AS pmod,
         |       ${zValueSql("p_size", "(p_partkey % 64)")} AS z
         |FROM part
         |ORDER BY z, p_partkey""".stripMargin,
    "q_json_nested" ->
      s"""WITH j AS (
         |  SELECT event_id,
         |         $nestedPayloadSql AS payload
         |  FROM events
         |)
         |SELECT event_id, payload,
         |       json_extract_string(payload, '$$.tags[0]') AS tag0,
         |       json_extract_string(payload, '$$.tags[1]') AS tag1,
         |       CAST(json_array_length(payload, '$$.tags') AS BIGINT) AS n_tags,
         |       CAST(json_extract_string(payload, '$$.attrs.uid') AS BIGINT) AS attr_uid,
         |       CAST(json_extract_string(payload, '$$.attrs.eid') AS BIGINT) AS attr_eid,
         |       json_extract_string(payload, '$$.meta.kind') AS meta_kind,
         |       CAST(json_extract_string(payload, '$$.meta.n') AS BIGINT) AS meta_n
         |FROM j
         |ORDER BY event_id""".stripMargin,
    "q_regex_funcs" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_vowel_runs,
        |       CAST(len(regexp_extract_all(text, ' the ')) AS BIGINT) AS n_the,
        |       regexp_matches(text, 'spark') AS has_spark,
        |       COALESCE(regexp_extract(text, '([a-z]+) ([a-z]+)', 2), '') AS second_word,
        |       regexp_replace(text, '[aeiou]', '') IS NOT NULL AS replace_ok
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_union_evolve" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, value, 'v1' AS src
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT event_id, user_id, event_type, value * 2 AS value_scaled, 'v2' AS src
        |  FROM events WHERE event_id % 2 = 1)
        |ORDER BY event_id""".stripMargin,
    "q_try_funcs" ->
      """SELECT event_id,
        |       TRY_CAST(event_type AS BIGINT) AS bad_cast,
        |       TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS roundtrip_cast,
        |       CASE WHEN event_id % 100 = 0 THEN CAST(NULL AS BIGINT)
        |            ELSE 9223372036854775807 - event_id END AS overflow_add,
        |       CASE WHEN event_id % 100 = 0 THEN CAST(NULL AS DOUBLE)
        |            ELSE CAST(event_id AS DOUBLE) / 2.0 END AS div_zero,
        |       event_id * 2 AS safe_mult,
        |       TRY_CAST(CASE WHEN event_id % 100 = 0
        |                     THEN event_type
        |                     ELSE CAST(ts AS VARCHAR) END AS TIMESTAMP) AS maybe_ts
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_map_funcs" ->
      """SELECT event_id,
        |       value AS base,
        |       value * 2 AS dbl,
        |       CAST(3 AS BIGINT) AS n_entries,
        |       'base,double,half' AS keys_csv,
        |       CAST((CASE WHEN value > 50 THEN 1 ELSE 0 END)
        |          + (CASE WHEN value * 2 > 50 THEN 1 ELSE 0 END)
        |          + (CASE WHEN value / 2 > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_50,
        |       (value * 2) / 2 AS halved
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_variant" ->
      s"""WITH j AS (
         |  SELECT event_id,
         |         $nestedPayloadSql AS payload
         |  FROM events
         |)
         |SELECT event_id,
         |       json_extract_string(payload, '$$.tags[0]') AS tag0,
         |       json_extract_string(payload, '$$.tags[1]') AS tag1,
         |       CAST(json_extract_string(payload, '$$.attrs.uid') AS BIGINT) AS attr_uid,
         |       CAST(json_extract_string(payload, '$$.attrs.eid') AS BIGINT) AS attr_eid,
         |       json_extract_string(payload, '$$.meta.kind') AS meta_kind,
         |       CAST(json_extract_string(payload, '$$.meta.n') AS BIGINT) AS meta_n,
         |       json_extract_string(payload, '$$.missing') IS NULL AS missing_is_null
         |FROM j
         |ORDER BY event_id""".stripMargin,
    "q_json_explode" ->
      s"""WITH j AS (
         |  SELECT event_id,
         |         $nestedPayloadSql AS payload
         |  FROM events
         |  WHERE event_id < 5000
         |)
         |SELECT event_id, CAST(1 AS BIGINT) AS pos,
         |       json_extract_string(payload, '$$.tags[0]') AS tag
         |FROM j
         |UNION ALL
         |SELECT event_id, CAST(2 AS BIGINT) AS pos,
         |       json_extract_string(payload, '$$.tags[1]') AS tag
         |FROM j
         |ORDER BY event_id, pos""".stripMargin,
    "q_agg_breadth" ->
      """SELECT c_mktsegment,
        |       arg_min(c_name, c_acctbal) AS poorest_name,
        |       arg_max(c_name, c_acctbal) AS richest_name,
        |       bool_or(c_acctbal < 0) AS any_negative,
        |       bool_and(c_acctbal > -1000) AS all_above_floor,
        |       CAST(SUM(DISTINCT c_nationkey) AS BIGINT) AS sum_distinct_nations,
        |       COUNT(*) AS n,
        |       COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
        |       array_to_string(list_sort(list_distinct(list(c_nationkey))), ',') AS nations_csv
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_posexplode" ->
      """SELECT doc_id, CAST(z[2] AS BIGINT) AS pos, CAST(z[1] AS VARCHAR) AS token
        |FROM (
        |  SELECT doc_id,
        |         unnest(list_zip(string_split(text, ' '),
        |                         range(1, len(string_split(text, ' ')) + 1))) AS z
        |  FROM documents
        |  WHERE doc_id < 50)
        |ORDER BY doc_id, pos""".stripMargin,
    "q_array_funcs" ->
      """SELECT doc_id,
        |       list_contains(string_split(text, ' '), 'spark') AS has_spark,
        |       CAST(COALESCE(list_position(string_split(text, ' '), 'data'), 0) AS BIGINT) AS first_data_pos,
        |       array_to_string(string_split(text, ' ')[1:5], '-') AS head5,
        |       string_split(text, ' ')[1] AS first_tok,
        |       string_split(text, ' ')[-1] AS last_tok,
        |       list_max(string_split(text, ' ')) AS max_tok,
        |       list_min(string_split(text, ' ')) AS min_tok,
        |       CAST(2 * len(string_split(text, ' ')) AS BIGINT) AS doubled_len,
        |       CAST(len(list_filter(string_split(text, ' '), x -> x != 'the')) AS BIGINT) AS len_no_the
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_null_funcs" ->
      """SELECT event_id,
        |       COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1) AS k_or_default,
        |       nullif(event_type, 'error') AS type_nullif,
        |       ifnull(nullif(event_type, 'error'), 'was_error') AS type_recovered,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL AS k_missing,
        |       CASE WHEN value > 50.0 THEN value END AS big_value_or_null
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_string_funcs2" ->
      """SELECT p_partkey,
        |       translate(p_brand, '#', '_') AS brand_t,
        |       repeat(p_brand, 2) AS brand_x2,
        |       reverse(p_name) AS name_rev,
        |       CAST(instr(p_name, 'a') AS BIGINT) AS first_a,
        |       left(p_name, 3) AS name_l3,
        |       right(p_name, 3) AS name_r3,
        |       COALESCE(regexp_extract(p_type, '^([A-Z]+)', 1), '') AS type_word1,
        |       trim('  x  ') AS trimmed,
        |       split_part(p_type, ' ', 1) AS type_part1
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q_date_funcs2" ->
      """SELECT o_orderkey,
        |       o_orderdate + INTERVAL 3 DAY AS plus_3d,
        |       o_orderdate - INTERVAL 1 MONTH AS minus_1mo,
        |       o_orderdate + INTERVAL 90 MINUTE AS plus_90min,
        |       CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS o_quarter,
        |       CAST(EXTRACT(week FROM o_orderdate) AS BIGINT) AS o_week,
        |       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q_approx_percentile" ->
      // error-bound-flag formulation (see qApproxPercentile doc): the
      // exact quantile_cont twins plus the asserted-in-bound flag
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS p25_qty,
        |       quantile_cont(l_quantity, 0.5) AS median_qty,
        |       quantile_cont(l_quantity, 0.75) AS p75_qty,
        |       TRUE AS within_bound
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS median_qty,
        |       quantile_cont(l_quantity, 0.25) AS p25_qty,
        |       quantile_cont(l_quantity, 0.75) AS p75_qty,
        |       MIN(l_shipdate) AS first_ship,
        |       MAX(l_shipdate) AS last_ship
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_exact_quantiles" ->
      """WITH vals AS (
        |  SELECT l_extendedprice AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1
        |), pref AS (
        |  SELECT v, cnt,
        |         CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS pref
        |  FROM vals
        |), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vals),
        |qs(num, den, p) AS (VALUES (1, 4, 'p25'), (1, 2, 'p50'),
        |                           (3, 4, 'p75'), (99, 100, 'p99'))
        |SELECT p, CAST((num * n + den - 1) // den AS BIGINT) AS k, n,
        |       CAST(v AS DOUBLE) AS value
        |FROM pref CROSS JOIN tot CROSS JOIN qs
        |WHERE pref < (num * n + den - 1) // den
        |  AND (num * n + den - 1) // den <= pref + cnt
        |ORDER BY p""".stripMargin,
    "q_group_quantiles" ->
      """WITH vals AS (
        |  SELECT l_returnflag AS flag, l_extendedprice AS v,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2
        |), pref AS (
        |  SELECT flag, v, cnt,
        |         CAST(COALESCE(SUM(cnt) OVER (PARTITION BY flag ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS pref,
        |         CAST(SUM(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
        |  FROM vals
        |), qs(num, den, p) AS (VALUES (1, 2, 'p50'), (9, 10, 'p90'),
        |                             (99, 100, 'p99'))
        |SELECT flag, p, CAST((num * n + den - 1) // den AS BIGINT) AS k, n,
        |       CAST(v AS DOUBLE) AS value
        |FROM pref CROSS JOIN qs
        |WHERE pref < (num * n + den - 1) // den
        |  AND (num * n + den - 1) // den <= pref + cnt
        |ORDER BY flag, p""".stripMargin,
    "q_anomaly" ->
      """WITH stats AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_returnflag
        |), pinned AS (
        |  SELECT l_returnflag, n,
        |         CAST(CAST(s1 / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean,
        |         CAST(CAST(sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE))
        |           / CAST(n - 1 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS std
        |  FROM stats
        |)
        |SELECT l.l_returnflag, MIN(p.n) AS n, MIN(p.mean) AS mean, MIN(p.std) AS std,
        |       CAST(SUM(CASE WHEN abs((l.l_extendedprice - p.mean) / p.std) > 3.0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       MAX(abs((l.l_extendedprice - p.mean) / p.std)) AS max_abs_z
        |FROM lineitem l JOIN pinned p USING (l_returnflag)
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin,
    "q_histogram" ->
      """WITH mm AS (
        |  SELECT MIN(l_extendedprice) AS lo_all, MAX(l_extendedprice) AS hi_all
        |  FROM lineitem
        |), b AS (
        |  SELECT CASE WHEN (hi_all - lo_all) / 10.0 = 0.0 THEN 0
        |              ELSE least(floor((l_extendedprice - lo_all) / ((hi_all - lo_all) / 10.0)), 9)
        |         END AS bucket,
        |         lo_all, hi_all, (hi_all - lo_all) / 10.0 AS width
        |  FROM lineitem CROSS JOIN mm
        |), g AS (
        |  SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
        |         MIN(lo_all + CAST(bucket AS DOUBLE) * width) AS lo,
        |         MIN(lo_all + CAST(bucket + 1 AS DOUBLE) * width) AS hi
        |  FROM b GROUP BY bucket
        |)
        |SELECT bucket, n, lo, hi,
        |       CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS frac
        |FROM g
        |ORDER BY bucket""".stripMargin,
    "q_deciles" ->
      """WITH d AS (
        |  SELECT l_extendedprice,
        |         CAST(ntile(10) OVER (
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS decile
        |  FROM lineitem
        |)
        |SELECT decile, COUNT(*) AS n,
        |       MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM d
        |GROUP BY decile
        |ORDER BY decile""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |         quantile_cont(l_extendedprice, 0.05) AS p05,
        |         quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY l_returnflag
        |), c AS (
        |  SELECT l.l_returnflag, l.l_extendedprice, b.p05, b.p95,
        |         least(greatest(l.l_extendedprice, b.p05), b.p95) AS clipped
        |  FROM lineitem l JOIN b USING (l_returnflag)
        |)
        |SELECT l_returnflag, COUNT(*) AS n,
        |       MIN(p05) AS p05, MIN(p95) AS p95,
        |       CAST(SUM(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |       CAST(SUM(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS mean_raw,
        |       CAST(SUM(CAST(clipped AS DECIMAL(18,6))) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS mean_winsorized
        |FROM c
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
