package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Window functions and serving-view queries (SURVEY.md §7.1 M2).
  *
  * Re-expresses the reference's serving layer as engine queries:
  *  - Cassandra's storage-defined "latest events first per partition
  *    key" ordering (`cassandra-setup.cql:22-23`, W2) becomes
  *    `Window.partitionBy(key).orderBy(ts.desc)` + `row_number`;
  *  - the Redis keyed hash view (`stream-processor.py:95-111`, K2/P7)
  *    becomes a stringify projection with a deterministic
  *    `event:{id}` key;
  *  - the at-least-once replay the reference tolerates (T7) is pinned
  *    by a dedup-under-replay query.
  *
  * Every window ORDER BY includes a unique tiebreaker column — at 100
  * TB a window over a hot key must still be deterministic under
  * whatever task ordering the cluster produces.
  */
object Windows {

  // W2: top-3 orders per customer — ranking window, then filter.
  private def qWindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  // Running (prefix) aggregate — exact decimal prefix sums, so the
  // result is deterministic regardless of partition scheduling.
  private def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .withColumn("running_qty",
        sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
      .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity", "running_qty")
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
  }

  // lag/lead analytics: inter-event gap per user in exact microseconds.
  private def qWindowLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .select("user_id", "ts", "event_id", "event_type", "prev_ts", "next_type", "gap_us")
      .orderBy("user_id", "ts", "event_id")
  }

  // Serving read path: latest event per user (the "hot state" lookup
  // the reference serves from Redis/Cassandra clustering order).
  private def qLatestPerKey(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  /** CDC apply with DELETE tombstones — the missing half of the
    * latest-per-key serving read: treat the event stream as a change
    * log keyed by user (Debezium-envelope shape — op + ordered
    * offsets), where 'error' events are tombstones ('D') and
    * everything else upserts ('U'), and materialize the post-apply
    * table: each key's LAST change wins, and a key whose last change
    * is a delete is ABSENT. This is how a snapshot is rebuilt from a
    * CDC topic at any scale; shape: one key-partitioned window (no
    * global sort), embarrassingly parallel across keys. */
  private def qCdcApply(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("op",
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), expr("unix_micros(ts)").as("last_us"))
      .orderBy("user_id")
  }

  // K2/K3/P7: the keyed serving projection — deterministic key (the
  // engine's fix for the reference's random-UUID minting, SURVEY §2.8
  // U1) plus stringified fields, exactly the Redis hash shape.
  private def qServingKv(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      concat(lit("event:"), col("event_id").cast("string")).as("redis_key"),
      col("event_id"),
      col("user_id").cast("string").as("user_id_str"),
      col("event_type"),
      col("value").cast("string").as("value_str"),
      col("ts").cast("string").as("ts_str"))
      .orderBy("event_id")

  // T8 capability the reference lacks: tumbling event-time window
  // aggregation — the streaming windowed query run as a batch.
  private def qWindowTumbling(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventPipeline.windowedCounts(Tables.events(s, d))
      .orderBy("win_start", "event_type")

  /** `events` with each row's 30-min-gap session: `is_new` flags a
    * user's first event and every event more than 30 min after the
    * previous one in (ts, event_id) order, and `session_id` is the
    * running count of those flags — the batch analog of
    * session_window/flatMapGroupsWithState (M3). Shared by
    * q_sessionize, q_concurrency and q_session_paths; their oracles
    * share [[sessionedSql]]. */
  private def withSessionIds(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull
          || (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > lit(1800000000L), 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  // Sessionization (gap > 30 min) via lag + cumulative flag.
  private def qSessionize(s: SparkSession, d: String): DataFrame =
    withSessionIds(Tables.events(s, d))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
      .orderBy("user_id", "session_id")

  /** Sweep-line peak concurrency — "how many sessions were open at
    * once", the capacity-planning twin of sessionization (the
    * reference sizes its serving layer off exactly this kind of
    * concurrent-engagement figure; its Cassandra wide rows cluster by
    * event_time for the same reason, `cassandra-setup.cql:22-23`).
    *
    * Each 30-min-gap session (same construction as q_sessionize)
    * becomes two deltas — (+1 at start_us, −1 at last_event+30 min) —
    * emitted via ONE explode, not a union of two scans of the session
    * frame. Concurrency is the prefix sum of deltas in the total order
    * (us, delta, user_id, session_id): delta = −1 sorts before +1, so
    * back-to-back intervals never double-count, and the unique
    * (user_id, session_id) tail makes the order — and therefore every
    * intermediate running value — identical cross-engine.
    *
    * Scale shape: a global running sum would be a single-partition
    * window. Instead the prefix sum is TWO-LEVEL: a per-day windowed
    * running sum (day-partitioned — parallel across the cluster) plus
    * a carry-in of prior days' net deltas computed on the day-grain
    * frame (≤ a few thousand rows at any corpus scale — model-sized,
    * so its single-partition window is free). peak = max(open at day
    * start, day max of carried running) — exact BIGINTs end to end. */
  private def qConcurrency(s: SparkSession, d: String): DataFrame = {
    val sessions = withSessionIds(Tables.events(s, d))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(unix_micros(col("ts"))).as("start_us"),
        (max(unix_micros(col("ts"))) + lit(1800000000L)).as("end_us"))
    val deltas = sessions
      .select(col("user_id"), col("session_id"),
        explode(array(
          struct(col("start_us").as("us"), lit(1L).as("delta")),
          struct(col("end_us").as("us"), lit(-1L).as("delta")))).as("e"))
      .select(col("user_id"), col("session_id"), col("e.us").as("us"),
        col("e.delta").as("delta"))
      .withColumn("day_idx", expr("us DIV 86400000000"))
    val byDay = Window.partitionBy(col("day_idx"))
      .orderBy(col("us"), col("delta"), col("user_id"), col("session_id"))
    val perDay = deltas
      .withColumn("running", sum(col("delta")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("day_idx"))
      .agg(
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opens"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_closes"),
        max(col("running")).as("max_running"),
        sum(col("delta")).as("day_total"))
    val byDayOrder = Window.orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("open_at_end", sum(col("day_total")).over(byDayOrder))
      .withColumn("open_at_start", col("open_at_end") - col("day_total"))
      .select(col("day_idx"),
        expr("CAST(DATE_ADD(DATE '1970-01-01', CAST(day_idx AS INT)) AS TIMESTAMP)").as("day"),
        col("n_opens"), col("n_closes"), col("open_at_start"), col("open_at_end"),
        greatest(col("open_at_start"), col("open_at_start") + col("max_running"))
          .as("peak_concurrency"))
      .orderBy("day_idx")
  }

  /** 7-day rolling DISTINCT active users per day — the WAU-by-day /
    * stickiness readout (DAU/WAU) every engagement pipeline
    * materializes. A windowed COUNT(DISTINCT) isn't a frame Spark (or
    * any engine) can run without holding per-window user sets, so the
    * distributed shape is COVER-EXPLODE: each distinct (user, day)
    * activity pair covers the 7 window-ends it can influence
    * (d .. d+6), a second distinct collapses multi-day users within a
    * window, and a day-grain count finishes — ≤7× the distinct-pair
    * volume, all hash aggregates, no window state anywhere. DAU joins
    * in at day grain; stickiness is one IEEE division of exact
    * BIGINTs. Bounds clamp phantom trailing days so the readout stays
    * on observed days. */
  private def qRollingDistinct(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
      .distinct()
    val bounds = ud.agg(min(col("day_idx")).as("lo"), max(col("day_idx")).as("hi"))
    val dau = ud.groupBy(col("day_idx")).agg(count(lit(1)).as("dau"))
    ud.select(col("user_id"), explode(expr("sequence(day_idx, day_idx + 6L)")).as("d"))
      .distinct()
      .crossJoin(broadcast(bounds))
      .filter(col("d") >= col("lo") && col("d") <= col("hi"))
      .groupBy(col("d").as("day_idx"))
      .agg(count(lit(1)).as("users_7d"))
      .join(dau, Seq("day_idx"), "left_outer")
      .withColumn("dau", coalesce(col("dau"), lit(0L)))
      .select(col("day_idx"),
        expr("CAST(DATE_ADD(DATE '1970-01-01', CAST(day_idx AS INT)) AS TIMESTAMP)").as("day"),
        col("dau"), col("users_7d"),
        (col("dau").cast("double") / col("users_7d").cast("double")).as("stickiness"))
      .orderBy("day_idx")
  }

  /** Top user-journey trigrams — sequence n-grams over per-user event
    * streams, the "what do users actually do" path-mining readout
    * (the event-domain sibling of the text n-gram family). Two lead()
    * hops inside the per-user (ts, event_id) window build each
    * 3-step path; the counts are one hash aggregate; the top-20 is a
    * deterministic (n DESC, path) TakeOrdered. All per-user windows —
    * parallel at any scale; path cardinality is |types|³ ≤ model-
    * sized. */
  private def qCommonPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Audience overlap between event types — pairwise Jaccard of the
    * DISTINCT user sets behind each type, the cross-sell / cohort-
    * overlap readout. The user-keyed self-join fans out at most
    * |types-per-user|² ≤ 25 rows per user (never all-pairs of users),
    * type sizes are a broadcast model frame, and each Jaccard is ONE
    * IEEE division of exact BIGINTs. */
  private def qUserOverlap(s: SparkSession, d: String): DataFrame = {
    val ut = Tables.events(s, d)
      .select(col("event_type").as("t"), col("user_id")).distinct()
    val sizes = ut.groupBy(col("t")).agg(count(lit(1)).as("sz"))
    ut.select(col("t").as("ta"), col("user_id"))
      .join(ut.select(col("t").as("tb"), col("user_id")), Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("t").as("ta"), col("sz").as("sa"))), Seq("ta"))
      .join(broadcast(sizes.select(col("t").as("tb"), col("sz").as("sb"))), Seq("tb"))
      .withColumn("jaccard", col("inter").cast("double")
        / (col("sa") + col("sb") - col("inter")).cast("double"))
      .select("ta", "tb", "sa", "sb", "inter", "jaccard")
      .orderBy("ta", "tb")
  }

  /** Navigation/distribution window breadth — first_value /
    * last_value / nth_value over an EXPLICIT unbounded-both-ways
    * frame (the default running frame would make last/nth
    * row-dependent), plus percent_rank and cume_dist (frame-free
    * rank distributions; their small-integer ratios are single IEEE
    * divisions, identical cross-engine). Deterministic total order
    * (o_orderdate, o_orderkey) inside each customer partition; the
    * parity filter keeps the readout a bounded slice while leaving
    * multi-row and single-row partitions (nth_value NULL case) both
    * represented. */
  private def qWindowNav(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_custkey") % 50 === 0)
      .withColumn("first_key", first(col("o_orderkey")).over(full))
      .withColumn("last_key", last(col("o_orderkey")).over(full))
      .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(full))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .select("o_custkey", "o_orderkey", "o_totalprice",
        "first_key", "last_key", "second_key", "pr", "cd")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Gaps-and-islands: longest consecutive-day activity streak per
    * user — the retention idiom beside q_retention's cohort view (the
    * reference's engagement schema exists to answer exactly this
    * "how sticky is a user" class of question over
    * `engagement_events.event_ts`, `setup.sql:12-21`).
    *
    * Classic anchor construction: distinct active days per user, then
    * day_idx − row_number is constant exactly on a run of consecutive
    * days, so a hash aggregate on (user, anchor) yields the islands —
    * no self-join, no iteration. The best island is elected by
    * (len DESC, start ASC) row_number, a deterministic total order.
    *
    * Scale shape: the distinct collapses map-side; every window is
    * user-partitioned (no global sort); islands ≤ active-days rows.
    * All outputs are exact BIGINTs/timestamps — hash-gated. */
  private def qStreaks(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
      .distinct()
    val byU = Window.partitionBy(col("user_id")).orderBy(col("day_idx"))
    val islands = daily
      .withColumn("rn", row_number().over(byU))
      .withColumn("anchor", col("day_idx") - col("rn"))
      .groupBy(col("user_id"), col("anchor"))
      .agg(
        min(col("day_idx")).as("start_idx"),
        max(col("day_idx")).as("end_idx"),
        count(lit(1)).as("len"))
    val byLen = Window.partitionBy(col("user_id"))
      .orderBy(col("len").desc, col("start_idx"))
    islands
      .withColumn("r", row_number().over(byLen))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(when(col("r") === 1, col("len"))).as("max_streak"),
        max(when(col("r") === 1, col("start_idx"))).as("best_start_idx"))
      .select(col("user_id"), col("active_days"), col("n_streaks"),
        col("max_streak"),
        expr("CAST(DATE_ADD(DATE '1970-01-01', CAST(best_start_idx AS INT)) AS TIMESTAMP)")
          .as("max_streak_start"))
      .orderBy("user_id")
  }

  /** Clickstream path mining — the funnel-discovery op on top of
    * sessionization: each session's ordered event-type sequence
    * becomes a path string ('click>play>finish'), then the corpus-wide
    * top-50 paths by session count. Determinism: the per-session
    * ordering goes through array_sort on (ts, event_id, type) structs
    * (event_id is unique, so the order — and the path — is total
    * regardless of collection order; the oracle's list(... ORDER BY
    * ts, event_id) is the same sequence by construction). Scale shape:
    * sessions reuse the per-user window partitioning; the path
    * aggregate is a hash agg over session rows; the top-50 cut is
    * orderBy+limit (TakeOrdered — no global sort), and only then does
    * a 50-row window stamp ranks. */
  private def qSessionPaths(s: SparkSession, d: String): DataFrame = {
    val sessions = withSessionIds(Tables.events(s, d))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("""array_join(transform(
                  array_sort(collect_list(struct(ts, event_id, event_type))),
                  x -> x.event_type), '>')""").as("path"))
    sessions.groupBy(col("path"))
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("n_events")).as("n_events"))
      .orderBy(col("n_sessions").desc, col("path")).limit(50)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))).cast("long"))
      .select("rank", "path", "n_sessions", "n_users", "n_events")
      .orderBy("rank")
  }

  /** MATCH_RECOGNIZE-style sequence-pattern detection over session
    * event streams — the row-pattern surface SQL:2016 added and Spark
    * lacks, re-expressed as regex over a per-session SYMBOL WORD:
    * each event type maps to its (distinct) initial letter, the
    * session's events concatenate in (ts, event_id) order, and the
    * pattern library runs as ordinary regexp functions over that
    * word: adjacency ('vc' view→click), eventual conversion
    * ('v[^ps]*p' — a view reaching a purchase with no intervening
    * signup/purchase), error doubling ('ee'), and the longest
    * purchase run (max 'p+' match length). Non-overlapping leftmost
    * matching with these patterns is engine-identical (no
    * backtracking-dependent constructs). The sequence unit is the
    * user-WEEK (epoch-day DIV 7 — an arithmetic week index, immune to
    * calendar week-start conventions): at this corpus's ~2.5 events/
    * user/day the 30-min session words are near-singletons, while the
    * week word (~17 symbols) is where journey patterns live — and the
    * bounded window is exactly how the operator stays sane at 100 TB
    * (word length is capped by events-per-user-week, never corpus
    * size). Scale shape: one (user, week) hash agg to build words,
    * then embarrassingly-parallel per-row regex; the whole query
    * shuffles once. */
  private def qSeqPattern(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .withColumn("week",
        expr("unix_micros(ts) DIV 86400000000 DIV 7"))
      .withColumn("sym", substring(col("event_type"), 1, 1))
      .groupBy(col("user_id"), col("week"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("""array_join(transform(
                  array_sort(collect_list(struct(ts, event_id, sym))),
                  x -> x.sym), '')""").as("word"))
      .withColumn("n_vc", expr("size(regexp_extract_all(word, 'vc', 0))").cast("long"))
      .withColumn("n_conv", expr("size(regexp_extract_all(word, 'v[^ps]*p', 0))").cast("long"))
      .withColumn("n_err2", expr("size(regexp_extract_all(word, 'ee', 0))").cast("long"))
      .withColumn("max_p_run", expr(
        """coalesce(array_max(transform(
             regexp_extract_all(word, 'p+', 0), x -> length(x))), 0)""").cast("long"))
      .select("user_id", "week", "n_events", "word",
        "n_vc", "n_conv", "n_err2", "max_p_run")
      .orderBy("user_id", "week")
  }

  // Built-in session_window variant of qSessionize: Spark merges
  // events whose [ts, ts+30min) intervals overlap — identical session
  // boundaries to the lag+cumsum formulation, with session end defined
  // as last-event + gap. The oracle derives exactly that from the same
  // CTE chain, pinning the two formulations equivalent.
  private def qSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  // Typed-Aggregator variant of top-3-per-customer: the custom UDAF
  // keeps a bounded k-row buffer per group through partial aggregation
  // (map-side combine ships ≤ k rows per group into the shuffle; the
  // window formulation sorts every row of every partition). The oracle
  // is the row_number formulation — the two must agree exactly.
  private def qTopkTyped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Long, Long, Double)](
        3, t => (t._2, t._3)).toColumn.name("topk"))
      .flatMap { case (cust, topk) =>
        topk.zipWithIndex.map { case ((okey, price), i) =>
          (cust, (i + 1).toLong, okey, price)
        }
      }
      .toDF("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  // Conversion funnel — the batch shape of the stream-stream
  // event-time range join (EventPipeline.clickPurchaseFunnel): clicks
  // joined to purchases by the same user within the following hour.
  private def qFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    graft.streaming.EventPipeline.clickPurchaseFunnel(ev)
      .select("click_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value")
      .orderBy("click_user", "click_id", "purchase_id")
  }

  /** Time-to-convert — the latency half of the funnel readout: for
    * every converting click (same pairing as q_funnel: same user,
    * first purchase in [click_ts, click_ts + 1 h], ties by purchase
    * id), the exact µs delta, rolled up by click hour-of-day. The
    * median is Spark's exact interpolated `percentile` over BIGINT µs
    * (≤ 3.6×10⁹ — exact in double; DuckDB percentile_cont is the same
    * interpolation — the derived-K precedent), mean is one IEEE
    * division of exact BIGINTs. Shape: the event-time range join +
    * one click-keyed first-purchase window + a 24-row rollup — all
    * key-partitioned. */
  private def qFunnelTime(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.streaming.EventPipeline
      .clickPurchaseFunnel(Tables.events(s, d))
      .select(col("click_id"), col("click_ts"), col("purchase_ts"), col("purchase_id"))
    val w = Window.partitionBy(col("click_id"))
      .orderBy(col("purchase_ts"), col("purchase_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("delta_us",
        unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
      .groupBy(hour(col("click_ts")).cast("long").as("click_hour"))
      .agg(count(lit(1)).as("n_conversions"),
        min(col("delta_us")).as("min_us"),
        max(col("delta_us")).as("max_us"),
        expr("percentile(delta_us, 0.5d)").as("median_us"),
        (sum(col("delta_us")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_us"))
      .orderBy("click_hour")
  }

  /** Funnel latency rollup — the BATCH run of the shared streaming
    * transform (EventPipeline.funnelLatencyRollup — watermarks no-op
    * in batch): per click-hour event-time window, count / min / max /
    * exact-BIGINT sum of the µs click→purchase deltas over ALL
    * converting pairs, plus mean as one IEEE division. The oracled
    * batch anchor for the streaming parity + restart test. Shape:
    * the event-time range join + one hour-window hash agg — all
    * key-partitioned. */
  private def qFunnelLatency(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventPipeline
      .funnelLatencyRollup(Tables.events(s, d))
      .withColumn("mean_us",
        col("sum_us").cast("double") / col("n_pairs").cast("double"))
      .select("win_start", "win_end", "n_pairs", "min_us", "max_us",
        "sum_us", "mean_us")
      .orderBy("win_start")

  /** Sliding event-time window (2 h wide, 1 h slide): every event
    * lands in exactly two overlapping windows. Spark's `window()`
    * generator expands slots inline (no self-join); the oracle mirrors
    * the expansion as a two-branch UNION ALL of hour-truncations.
    */
  private def qWindowSliding(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventPipeline.slidingCounts(Tables.events(s, d))
      .orderBy("win_start", "event_type")

  // Outer conversion funnel — the batch shape of the stream-stream
  // LEFT OUTER event-time join: every click appears, converted or not
  // (null purchase side counts the non-converters).
  private def qFunnelOuter(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    graft.streaming.EventPipeline.clickPurchaseFunnelOuter(ev)
      .select(col("click_user"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"),
        col("purchase_id").isNull.as("unconverted"))
      .orderBy(col("click_id"), coalesce(col("purchase_id"), lit(-1L)))
  }

  /** As-of (backward temporal) join — an operator Spark has no
    * built-in for: each purchase is attributed to the same user's most
    * recent click at-or-before its event time. Implemented with the
    * scale-correct union+window idiom instead of a range join: tag
    * clicks and purchases, union, ONE shuffle on user_id, and a
    * running `last(_, ignoreNulls)` carries the latest click forward —
    * O(n log n) per key with bounded state, no candidate-pair blowup,
    * no range-explode. Tie-breaking (several clicks at one (user, ts)
    * → the max click_id wins, matching the oracle's pre-collapsed
    * clicks CTE) happens INSIDE the window ordering — no extra
    * groupBy shuffle of the click stream; the whole operator is one
    * hash exchange on user_id plus the harness ORDER BY.
    * Oracled against DuckDB's native ASOF LEFT JOIN.
    */
  private def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        struct(col("event_id").as("click_id"), col("ts").as("click_ts")).as("c"),
        lit(null).cast("long").as("purchase_id"),
        lit(null).cast("double").as("purchase_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        lit(null).cast("struct<click_id: bigint, click_ts: timestamp>").as("c"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    // clicks sort before purchases at equal ts (kind 0 < 1) — ASOF's
    // inclusive `purchase.ts >= click.ts` — and among equal-ts clicks
    // the ascending click_id order makes last() pick the max id
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("c.click_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_c", last(col("c"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("purchase_value"),
        col("last_c.click_id").as("click_id"),
        col("last_c.click_ts").as("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("last_c.click_ts"))).as("gap_us"))
      .orderBy("purchase_id")
  }

  // Distribution-window breadth: ntile / percent_rank / cume_dist /
  // dense_rank plus first/nth/last value over an explicit frame — all
  // rank-derived or frame-picked (exact values or one IEEE division),
  // so fully oracle-comparable.
  private def qWindowFuncs2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val framed = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        first(col("o_orderkey")).over(framed).as("biggest_order"),
        last(col("o_orderkey")).over(framed).as("smallest_order"),
        nth_value(col("o_orderkey"), 2).over(framed).as("second_order"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // Value-based RANGE window frame: per-user rolling count over the
  // PRECEDING HOUR of event time (not the preceding N rows) — frame
  // membership is defined by the ORDER BY value, so tied timestamps
  // all join the frame and the result is order-independent even
  // without a unique tiebreaker.
  private def qWindowRange(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("events_wr")
    s.sql(
      """SELECT user_id, ts, event_id,
        |       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
        |                            AND CURRENT ROW) AS n_last_hour
        |FROM events_wr
        |ORDER BY user_id, ts, event_id""".stripMargin)
  }

  // SCD-2 interval construction: turn an event stream into validity
  // intervals per key (valid_from = event ts, valid_to = next event's
  // ts, open interval = current row) — the standard
  // change-log → slowly-changing-dimension shape, one lead() window.
  private def qScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("valid_from", col("ts"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select("user_id", "event_id", "event_type", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from", "event_id")
  }

  // Cohort retention matrix: users grouped by first-activity day,
  // counted per day-offset — two hash aggregates and one join of
  // per-user firsts (broadcastable: one row per user) onto per-day
  // activity.
  private def qRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firsts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.distinct()
      .join(broadcast(firsts), Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      // DATE parquet cells read back as midnight timestamps on one
      // side of the compare — pin the type explicitly on both sides
      .groupBy(col("cohort_day").cast("timestamp").as("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  // K4 producer envelope: the (key, value) frame the Kafka sink would
  // publish — key = partition key as text, value = JSON document via
  // to_json(struct(...)). Non-null scalar fields only, so the JSON
  // text is byte-deterministic and the DuckDB oracle can state it as
  // a concat. (The wire write itself needs a broker; the envelope is
  // the testable surface, mirroring parseKafkaWire on the consume
  // side.)
  private def qKafkaEnvelope(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        col("user_id").cast("string").as("key"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type")))
          .as("value"))
      .orderBy("event_id")

  // T7: at-least-once replay collapses to exactly-once under dedup.
  private def qDedupReplay(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.union(ev).distinct().orderBy("event_id")
  }

  /** DAU / WAU / stickiness — the engagement rollup every real-time
    * analytics deployment serves: daily actives, 7-day rolling actives
    * (distinct users, so not a sum of DAUs), and the DAU/WAU
    * stickiness ratio. Spark windows can't COUNT(DISTINCT) over a
    * RANGE frame, so WAU goes through a day-spine range join — the
    * spine is |days| rows (broadcast), and the join fans each
    * (day, user) row to ≤7 spine days before one distinct-count
    * shuffle; at 100 TB the fan-out is bounded by the frame width,
    * never the corpus. stickiness is one exact-int IEEE division. */
  private def qActiveUsers(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = daily.select(col("day")).distinct()
    val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = broadcast(days.withColumnRenamed("day", "d"))
      .join(daily, col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(
        col("day").cast("timestamp").as("day"),
        col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy("day")
  }

  /** Day-over-day top movers — the ops-dashboard anomaly surface: per
    * day, event types ranked by absolute volume change vs the previous
    * day (lag over the per-type daily series). delta is exact BIGINT;
    * pct_change is one exact-int IEEE division. Scale shape: the daily
    * rollup partial-aggregates before one shuffle; the lag/rank
    * windows run over |types|×|days| rows — model-sized, never
    * corpus-sized. */
  private def qTopMovers(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val byDay = Window.partitionBy(col("day"))
      .orderBy(abs(col("n") - col("prev_n")).desc, col("event_type"))
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(byType))
      .filter(col("prev_n").isNotNull)
      .select(
        col("day").cast("timestamp").as("day"),
        col("event_type"), col("n"), col("prev_n"),
        (col("n") - col("prev_n")).as("delta"),
        ((col("n") - col("prev_n")).cast("double") / col("prev_n")).as("pct_change"),
        row_number().over(byDay).cast("long").as("move_rank"))
      .orderBy("day", "move_rank")
  }

  /** Last-touch revenue attribution — the marketing-analytics read of
    * the event stream: each purchase is credited to the user's most
    * recent non-purchase event (the "touch") if it happened within the
    * 1-hour attribution window, and revenue rolls up per channel.
    * last(ignoreNulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING
    * carries the touch forward without a self-join — one shuffle on
    * user_id (the same per-user clustering every session query uses),
    * then a tiny per-channel aggregate. Revenue sums go through the
    * DECIMAL(18,2) pin (values are 2-decimal currency — exact, no
    * float-tie hazard). */
  private def qAttribution(s: SparkSession, d: String): DataFrame = {
    val carry = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("touch_type",
        when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("touch_us",
        when(col("event_type") =!= "purchase", unix_micros(col("ts"))))
      .withColumn("last_touch", last(col("touch_type"), ignoreNulls = true).over(carry))
      .withColumn("last_touch_us", last(col("touch_us"), ignoreNulls = true).over(carry))
      .filter(col("event_type") === "purchase" && col("last_touch").isNotNull
        && unix_micros(col("ts")) - col("last_touch_us") <= lit(3600000000L))
      .groupBy(col("last_touch").as("channel"))
      .agg(
        count(lit(1)).as("n_purchases"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("revenue"))
      .orderBy("channel")
  }

  /** Event-type transition matrix — the first-order Markov view of
    * per-user clickstreams (what follows what, and how often). Lag
    * over the per-user (ts, event_id) order yields (prev, next)
    * pairs; row-normalized counts give the transition probabilities a
    * next-event predictor or anomaly scorer consumes. Determinism:
    * p_next = n / row_total is one IEEE division of two exact BIGINTs
    * (both < 2^53), bit-identical cross-engine. Scale shape: the lag
    * window shuffles once on user_id (same partitioning every
    * sessionization query reuses); the transition table is at most
    * |types|² rows, so the row-total join is a broadcast. */
  private def qMarkov(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("row_total"))
    pairs
      .join(broadcast(totals), Seq("prev_type"))
      .select(
        col("prev_type"), col("next_type"), col("n"), col("row_total"),
        (col("n").cast("double") / col("row_total")).as("p_next"))
      .orderBy("prev_type", "next_type")
  }

  /** Inter-arrival burstiness per event type — the Goh–Barabási
    * B = (σ−μ)/(σ+μ) index over whole-second gaps between consecutive
    * events of a type (B→−1 periodic, ≈0 Poisson, →+1 bursty): the
    * capacity-planning diagnostic for a streaming ingest (does this
    * topic need peak-provisioned partitions or is it memoryless?).
    * Determinism: gaps are exact BIGINT seconds (floor of an exact
    * µs-difference/1e6 double division, operands < 2^53); Σd and Σd²
    * are exact BIGINT sums; mean/σ/B are then a fixed chain of scalar
    * IEEE ops (one sqrt) both engines evaluate identically. Scale
    * shape: one shuffle on event_type for the lag window, then a
    * partial-aggregating groupBy on the same key — no second
    * exchange. Σd² ≤ n·max_gap² stays BIGINT-safe to ~10¹⁴ gaps at
    * the observed ~10⁴ s max gap. */
  private def qInterarrival(s: SparkSession, d: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byType))
      .filter(col("prev_ts").isNotNull)
      .withColumn("d",
        floor((unix_micros(col("ts")) - unix_micros(col("prev_ts"))).cast("double")
          / lit(1000000.0)).cast("long"))
    val stats = gaps.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_gaps"),
      sum(col("d")).as("sum_d"),
      sum(col("d") * col("d")).as("sum_d2"),
      max(col("d")).as("max_gap_s"))
    val meanS = col("sum_d").cast("double") / col("n_gaps")
    val stdS = sqrt(
      (col("n_gaps").cast("double") * col("sum_d2")
        - col("sum_d").cast("double") * col("sum_d"))
        / (col("n_gaps").cast("double") * col("n_gaps")))
    stats
      .select(
        col("event_type"), col("n_gaps"), col("sum_d"), col("sum_d2"),
        col("max_gap_s"),
        meanS.as("mean_s"), stdS.as("std_s"),
        ((stdS - meanS) / (stdS + meanS)).as("burstiness"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_rank" -> (qWindowRank _),
    "q_window_running" -> (qWindowRunning _),
    "q_window_lag" -> (qWindowLag _),
    "q_latest_per_key" -> (qLatestPerKey _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_serving_kv" -> (qServingKv _),
    "q_window_tumbling" -> (qWindowTumbling _),
    "q_sessionize" -> (qSessionize _),
    "q_session_paths" -> (qSessionPaths _),
    "q_seq_pattern" -> (qSeqPattern _),
    "q_session_window" -> (qSessionWindow _),
    "q_concurrency" -> (qConcurrency _),
    "q_rolling_distinct" -> (qRollingDistinct _),
    "q_common_paths" -> (qCommonPaths _),
    "q_user_overlap" -> (qUserOverlap _),
    "q_streaks" -> (qStreaks _),
    "q_window_nav" -> (qWindowNav _),
    "q_topk_typed" -> (qTopkTyped _),
    "q_funnel" -> (qFunnel _),
    "q_funnel_time" -> (qFunnelTime _),
    "q_funnel_latency" -> (qFunnelLatency _),
    "q_funnel_outer" -> (qFunnelOuter _),
    "q_asof_join" -> (qAsofJoin _),
    "q_window_sliding" -> (qWindowSliding _),
    "q_scd2" -> (qScd2 _),
    "q_window_range" -> (qWindowRange _),
    "q_window_funcs2" -> (qWindowFuncs2 _),
    "q_retention" -> (qRetention _),
    "q_kafka_envelope" -> (qKafkaEnvelope _),
    "q_dedup_replay" -> (qDedupReplay _),
    "q_markov" -> (qMarkov _),
    "q_interarrival" -> (qInterarrival _),
    "q_attribution" -> (qAttribution _),
    "q_active_users" -> (qActiveUsers _),
    "q_top_movers" -> (qTopMovers _)
  )

  /** The 30-min-gap sessions of `events` as two CTEs: `flagged` adds
    * is_new, `sessioned` adds session_id — the SQL twin of
    * [[withSessionIds]], shared by the four session oracles. */
  private val sessionedSql: String =
    """flagged AS (
      |  SELECT *,
      |         CASE WHEN LAG(ts, 1) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) > 1800000000
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessioned AS (
      |  SELECT *,
      |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events
        |), cover AS (
        |  SELECT DISTINCT user_id, day_idx + g.i AS d
        |  FROM ud CROSS JOIN (SELECT UNNEST(range(0, 7)) AS i) g
        |), b AS (
        |  SELECT MIN(day_idx) AS lo, MAX(day_idx) AS hi FROM ud
        |), w AS (
        |  SELECT d AS day_idx, CAST(COUNT(*) AS BIGINT) AS users_7d
        |  FROM cover, b WHERE d BETWEEN lo AND hi GROUP BY 1
        |), dau AS (
        |  SELECT day_idx, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
        |)
        |SELECT w.day_idx,
        |       DATE '1970-01-01' + CAST(w.day_idx AS INTEGER) AS day,
        |       COALESCE(dau.dau, 0) AS dau, w.users_7d,
        |       CAST(COALESCE(dau.dau, 0) AS DOUBLE) / CAST(w.users_7d AS DOUBLE) AS stickiness
        |FROM w LEFT JOIN dau ON dau.day_idx = w.day_idx
        |ORDER BY w.day_idx""".stripMargin,
    "q_funnel_time" ->
      """WITH clicks AS (
        |  SELECT user_id AS u, ts AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id AS u, ts AS pts, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT cid, cts, pts, pid FROM clicks JOIN purch USING (u)
        |  WHERE pts >= cts AND pts <= cts + INTERVAL 1 HOUR
        |), firstp AS (
        |  SELECT cid, cts, pts FROM (
        |    SELECT cid, cts, pts,
        |           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY pts, pid) AS rn
        |    FROM pairs) WHERE rn = 1
        |), d AS (
        |  SELECT CAST(hour(cts) AS BIGINT) AS click_hour,
        |         epoch_us(pts) - epoch_us(cts) AS delta_us
        |  FROM firstp
        |)
        |SELECT click_hour, CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |       CAST(MIN(delta_us) AS BIGINT) AS min_us,
        |       CAST(MAX(delta_us) AS BIGINT) AS max_us,
        |       percentile_cont(0.5) WITHIN GROUP (ORDER BY delta_us) AS median_us,
        |       CAST(SUM(delta_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_us
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_funnel_latency" ->
      """WITH clicks AS (
        |  SELECT user_id AS u, ts AS cts FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id AS u, ts AS pts FROM events WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT date_trunc('hour', cts) AS win_start,
        |         epoch_us(pts) - epoch_us(cts) AS delta_us
        |  FROM clicks JOIN purch USING (u)
        |  WHERE pts >= cts AND pts <= cts + INTERVAL 1 HOUR
        |)
        |SELECT CAST(win_start AS TIMESTAMP) AS win_start,
        |       CAST(win_start + INTERVAL 1 HOUR AS TIMESTAMP) AS win_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(MIN(delta_us) AS BIGINT) AS min_us,
        |       CAST(MAX(delta_us) AS BIGINT) AS max_us,
        |       CAST(SUM(delta_us) AS BIGINT) AS sum_us,
        |       CAST(SUM(delta_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_us
        |FROM pairs GROUP BY win_start ORDER BY win_start""".stripMargin,
    "q_common_paths" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS e1,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events
        |)
        |SELECT concat_ws('>', e1, e2, e3) AS path,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "q_user_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT event_type AS t, user_id FROM events
        |), sizes AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS sz FROM ut GROUP BY 1
        |), pairs AS (
        |  SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.t < b.t
        |  GROUP BY 1, 2
        |)
        |SELECT p.ta, p.tb, sa.sz AS sa, sb.sz AS sb, p.inter,
        |       CAST(p.inter AS DOUBLE) / CAST(sa.sz + sb.sz - p.inter AS DOUBLE) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.t = p.ta
        |JOIN sizes sb ON sb.t = p.tb
        |ORDER BY p.ta, p.tb""".stripMargin,
    "q_kafka_envelope" ->
      """SELECT event_id,
        |       CAST(user_id AS VARCHAR) AS key,
        |       '{"event_id":' || CAST(event_id AS VARCHAR)
        |         || ',"user_id":' || CAST(user_id AS VARCHAR)
        |         || ',"event_type":"' || event_type || '"}' AS value
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_funnel_outer" ->
      """WITH clicks AS (
        |  SELECT user_id AS click_user, ts AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'
        |), purchases AS (
        |  SELECT user_id AS purchase_user, ts AS purchase_ts,
        |         event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.click_user, c.click_id, c.click_ts,
        |       p.purchase_id, p.purchase_ts, p.purchase_value,
        |       p.purchase_id IS NULL AS unconverted
        |FROM clicks c LEFT JOIN purchases p
        |  ON c.click_user = p.purchase_user
        | AND p.purchase_ts >= c.click_ts
        | AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        |ORDER BY c.click_id, COALESCE(p.purchase_id, -1)""".stripMargin,
    "q_window_funcs2" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drank,
        |       percent_rank() OVER w AS prank,
        |       cume_dist() OVER w AS cdist,
        |       first_value(o_orderkey) OVER wf AS biggest_order,
        |       last_value(o_orderkey) OVER wf AS smallest_order,
        |       nth_value(o_orderkey, 2) OVER wf AS second_order
        |FROM orders
        |WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_range" ->
      """SELECT user_id, ts, event_id,
        |       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
        |                            AND CURRENT ROW) AS n_last_hour
        |FROM events
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_scd2" ->
      """SELECT user_id, event_id, event_type,
        |       ts AS valid_from,
        |       LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |       LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), firsts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
        |)
        |SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
        |       CAST(date_diff('day', f.cohort_day, e.day) AS BIGINT) AS day_offset,
        |       COUNT(DISTINCT e.user_id) AS n_users
        |FROM ev e JOIN firsts f USING (user_id)
        |GROUP BY f.cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "q_window_sliding" ->
      """WITH slots AS (
        |  SELECT date_trunc('hour', ts) AS win_start, event_type, value FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start, event_type, value FROM events
        |)
        |SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM slots
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,
    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |), purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts, value
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
        |       p.value AS purchase_value,
        |       c.click_id, c.ts AS click_ts,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.purchase_id""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |         PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "q_window_lag" ->
      """SELECT user_id, ts, event_id, event_type,
        |       LAG(ts, 1) OVER w AS prev_ts,
        |       LEAD(event_type, 1) OVER w AS next_type,
        |       epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_latest_per_key" ->
      """SELECT user_id, ts, event_id, event_type, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q_cdc_apply" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
        |       epoch_us(ts) AS last_us
        |FROM (
        |  SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND op = 'U'
        |ORDER BY user_id""".stripMargin,
    "q_serving_kv" ->
      """SELECT 'event:' || CAST(event_id AS VARCHAR) AS redis_key,
        |       event_id,
        |       CAST(user_id AS VARCHAR) AS user_id_str,
        |       event_type,
        |       CAST(value AS VARCHAR) AS value_str,
        |       CAST(ts AS VARCHAR) AS ts_str
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_window_tumbling" ->
      """SELECT date_trunc('hour', ts) AS win_start,
        |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY win_start, event_type""".stripMargin,
    "q_seq_pattern" ->
      """WITH sym AS (
        |  SELECT user_id, ts, event_id,
        |         epoch_us(ts) // 86400000000 // 7 AS week,
        |         substr(event_type, 1, 1) AS sym
        |  FROM events
        |), words AS (
        |  SELECT user_id, week, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         string_agg(sym, '' ORDER BY ts, event_id) AS word
        |  FROM sym
        |  GROUP BY user_id, week
        |)
        |SELECT user_id, week, n_events, word,
        |       CAST(len(regexp_extract_all(word, 'vc')) AS BIGINT) AS n_vc,
        |       CAST(len(regexp_extract_all(word, 'v[^ps]*p')) AS BIGINT) AS n_conv,
        |       CAST(len(regexp_extract_all(word, 'ee')) AS BIGINT) AS n_err2,
        |       CAST(COALESCE(list_max(list_transform(
        |              regexp_extract_all(word, 'p+'), x -> len(x))), 0) AS BIGINT)
        |         AS max_p_run
        |FROM words
        |ORDER BY user_id, week""".stripMargin,
    "q_session_paths" ->
      s"""WITH $sessionedSql, paths AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events,
        |         array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
        |  FROM sessioned
        |  GROUP BY user_id, session_id
        |), agg AS (
        |  SELECT path, COUNT(*) AS n_sessions,
        |         COUNT(DISTINCT user_id) AS n_users,
        |         CAST(SUM(n_events) AS BIGINT) AS n_events
        |  FROM paths GROUP BY path
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank,
        |       path, n_sessions, n_users, n_events
        |FROM agg
        |ORDER BY rank
        |LIMIT 50""".stripMargin,
    "q_window_nav" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       FIRST_VALUE(o_orderkey) OVER wf AS first_key,
        |       LAST_VALUE(o_orderkey) OVER wf AS last_key,
        |       NTH_VALUE(o_orderkey, 2) OVER wf AS second_key,
        |       PERCENT_RANK() OVER w AS pr,
        |       CUME_DIST() OVER w AS cd
        |FROM orders WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_streaks" ->
      """WITH daily AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx
        |  FROM events
        |), anchored AS (
        |  SELECT user_id, day_idx,
        |         day_idx - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_idx)
        |           AS anchor
        |  FROM daily
        |), islands AS (
        |  SELECT user_id, anchor,
        |         CAST(MIN(day_idx) AS BIGINT) AS start_idx,
        |         CAST(MAX(day_idx) AS BIGINT) AS end_idx,
        |         CAST(COUNT(*) AS BIGINT) AS len
        |  FROM anchored GROUP BY user_id, anchor
        |), ranked AS (
        |  SELECT user_id, start_idx, len,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY len DESC, start_idx) AS r
        |  FROM islands
        |)
        |SELECT user_id,
        |       CAST(SUM(len) AS BIGINT) AS active_days,
        |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |       CAST(MAX(CASE WHEN r = 1 THEN len END) AS BIGINT) AS max_streak,
        |       CAST(DATE '1970-01-01' +
        |            CAST(MAX(CASE WHEN r = 1 THEN start_idx END) AS INTEGER) AS TIMESTAMP)
        |         AS max_streak_start
        |FROM ranked
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_concurrency" ->
      s"""WITH $sessionedSql, sess AS (
        |  SELECT user_id, session_id,
        |         CAST(MIN(epoch_us(ts)) AS BIGINT) AS start_us,
        |         CAST(MAX(epoch_us(ts)) + 1800000000 AS BIGINT) AS end_us
        |  FROM sessioned GROUP BY user_id, session_id
        |), deltas AS (
        |  SELECT user_id, session_id, start_us AS us, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, session_id, end_us AS us, CAST(-1 AS BIGINT) AS delta FROM sess
        |), run AS (
        |  SELECT us // 86400000000 AS day_idx, us, delta, user_id, session_id,
        |         CAST(SUM(delta) OVER (PARTITION BY us // 86400000000
        |           ORDER BY us, delta, user_id, session_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
        |  FROM deltas
        |), per_day AS (
        |  SELECT day_idx,
        |         CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opens,
        |         CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_closes,
        |         CAST(MAX(running) AS BIGINT) AS max_running,
        |         CAST(SUM(delta) AS BIGINT) AS day_total
        |  FROM run GROUP BY day_idx
        |), carried AS (
        |  SELECT day_idx, n_opens, n_closes, max_running, day_total,
        |         CAST(SUM(day_total) OVER (ORDER BY day_idx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_at_end
        |  FROM per_day
        |)
        |SELECT day_idx, DATE '1970-01-01' + CAST(day_idx AS INTEGER) AS day,
        |       n_opens, n_closes,
        |       open_at_end - day_total AS open_at_start, open_at_end,
        |       greatest(open_at_end - day_total,
        |                open_at_end - day_total + max_running) AS peak_concurrency
        |FROM carried
        |ORDER BY day_idx""".stripMargin,
    "q_sessionize" ->
      s"""WITH $sessionedSql
        |SELECT user_id, session_id,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end,
        |       COUNT(*) AS n_events,
        |       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
        |FROM sessioned
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_funnel" ->
      """SELECT c.user_id AS click_user, c.event_id AS click_id, c.ts AS click_ts,
        |       p.event_id AS purchase_id, p.ts AS purchase_ts, p.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_user, click_id, purchase_id""".stripMargin,
    "q_topk_typed" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_session_window" ->
      s"""WITH $sessionedSql
        |SELECT user_id,
        |       MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessioned
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q_dedup_replay" ->
      """SELECT DISTINCT event_id, ts, user_id, event_type, value, props
        |FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_markov" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |pairs AS (
        |  SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total FROM pairs GROUP BY 1)
        |SELECT p.prev_type, p.next_type, p.n, t.row_total,
        |       CAST(p.n AS DOUBLE) / t.row_total AS p_next
        |FROM pairs p JOIN tot t ON p.prev_type = t.prev_type
        |ORDER BY p.prev_type, p.next_type""".stripMargin,
    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type, CAST(d_s AS BIGINT) AS d FROM (
        |    SELECT event_type,
        |           FLOOR((epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))) / 1000000.0) AS d_s
        |    FROM events)
        |  WHERE d_s IS NOT NULL),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |         CAST(SUM(d) AS BIGINT) AS sum_d,
        |         CAST(SUM(d * d) AS BIGINT) AS sum_d2,
        |         CAST(MAX(d) AS BIGINT) AS max_gap_s
        |  FROM g GROUP BY 1)
        |SELECT event_type, n_gaps, sum_d, sum_d2, max_gap_s,
        |       CAST(sum_d AS DOUBLE) / n_gaps AS mean_s,
        |       sqrt((CAST(n_gaps AS DOUBLE) * sum_d2 - CAST(sum_d AS DOUBLE) * sum_d)
        |            / (CAST(n_gaps AS DOUBLE) * n_gaps)) AS std_s,
        |       (sqrt((CAST(n_gaps AS DOUBLE) * sum_d2 - CAST(sum_d AS DOUBLE) * sum_d)
        |             / (CAST(n_gaps AS DOUBLE) * n_gaps))
        |        - CAST(sum_d AS DOUBLE) / n_gaps)
        |       / (sqrt((CAST(n_gaps AS DOUBLE) * sum_d2 - CAST(sum_d AS DOUBLE) * sum_d)
        |               / (CAST(n_gaps AS DOUBLE) * n_gaps))
        |          + CAST(sum_d AS DOUBLE) / n_gaps) AS burstiness
        |FROM s
        |ORDER BY event_type""".stripMargin,
    "q_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
        |         CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END AS touch_us
        |  FROM events),
        |carried AS (
        |  SELECT user_id, ts, event_type, value,
        |         LAST_VALUE(touch_type IGNORE NULLS) OVER w AS last_touch,
        |         LAST_VALUE(touch_us IGNORE NULLS) OVER w AS last_touch_us
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT last_touch AS channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM carried
        |WHERE event_type = 'purchase' AND last_touch IS NOT NULL
        |  AND epoch_us(ts) - last_touch_us <= 3600000000
        |GROUP BY last_touch
        |ORDER BY channel""".stripMargin,
    "q_active_users" ->
      """WITH daily AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM daily),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM daily GROUP BY 1),
        |wau AS (
        |  SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau
        |  FROM days d JOIN daily a ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |  GROUP BY 1)
        |SELECT CAST(d.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
        |       CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
        |FROM days d JOIN dau ON dau.day = d.day JOIN wau ON wau.day = d.day
        |ORDER BY day""".stripMargin,
    "q_top_movers" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |ch AS (
        |  SELECT event_type, day, n,
        |         LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM d)
        |SELECT CAST(day AS TIMESTAMP) AS day, event_type, n, prev_n,
        |       n - prev_n AS delta,
        |       CAST(n - prev_n AS DOUBLE) / prev_n AS pct_change,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY day
        |                               ORDER BY abs(n - prev_n) DESC, event_type) AS BIGINT) AS move_rank
        |FROM ch WHERE prev_n IS NOT NULL
        |ORDER BY day, move_rank""".stripMargin
  )
}
