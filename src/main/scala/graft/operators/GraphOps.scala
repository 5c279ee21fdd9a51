package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Whole-graph analytics beyond the dedup keeper-graph family
  * (TextOps carries degrees / PageRank / CC over near-dup edges; this
  * module covers the classic "structure of a co-occurrence graph"
  * analyses a corpus or catalog team runs on the SAME engine).
  *
  * The graph here is part co-occurrence: an undirected edge (u, v)
  * whenever parts u and v appear in the same order. It is built from
  * `lineitem` alone — an intra-order pair join whose fan-out is
  * bounded by the max lines-per-order (7 in TPC-H-shaped data), i.e.
  * O(k²) per order with small constant k, NOT O(n²) in the table.
  *
  * Scale design (the part that must survive 100 TB):
  *  - Edge build shuffles once on l_orderkey; per-order pair fan-out
  *    is bounded by order width, and `distinct` collapses repeats
  *    map-side before the exchange.
  *  - Triangle counting uses the DEGREE-ORDERED edge iterator over
  *    adjacency ARRAYS: each undirected edge is oriented from its
  *    lower-(degree, id) endpoint to the higher one, so every
  *    out-neighborhood has size O(√m) (Chiba–Nishizeki); each node's
  *    out-neighbors are collected into one array and each oriented
  *    edge (u → v) intersects N⁺(u) ∩ N⁺(v) in a codegen'd
  *    `array_intersect`. Every shuffle is O(|E|) rows — the
  *    Σ outdeg² wedge work happens in-core per row, never as a
  *    materialized exchange (see [[triangleRows]]).
  *  - Each triangle is generated exactly once, at its lowest edge in
  *    the (degree, id) order, with the highest corner as the closing
  *    common neighbor. Three node-keyed shuffles total (degrees,
  *    adjacency build, the two probe joins share the adjacency
  *    exchange).
  */
object GraphOps {

  /** Fused co-occurrence front half: ONE node-keyed exchange builds the
    * DIRECTED half-edge frame `dir` = every adjacent ordered pair
    * (a, b), a ≠ b, deduped — and edges, degrees and the doubled
    * adjacency view all read it with no further shuffle:
    *
    *  - lineitem is exchanged once on l_orderkey and checkpointed, so
    *    both aliased pair-join sides read that one partitioning (the
    *    renamed projections canonicalize differently, so ReuseExchange
    *    could not share two per-side exchanges);
    *  - the intra-order pair join emits BOTH directions (filter a ≠ b
    *    instead of a < b — the join product already contains them);
    *  - `repartition(a)` + dropDuplicates(a, b): HashPartitioning(a)
    *    satisfies the dedup's ClusteredDistribution(a, b), so the
    *    dedup runs IN-STAGE on the one exchange;
    *  - deg = groupBy(a).count — ClusteredDistribution(a) is satisfied
    *    by the checkpoint's preserved partitioning: a single-stage,
    *    exchange-free aggregate;
    *  - e (u < v) is a filter over `dir`, and consumers that double the
    *    edge list (closeness adjacency, PPR sym, brand mixing) read
    *    `dir` itself.
    *
    * The preserved HashPartitioning(a) also cancels downstream
    * exchanges: orientedAdj's first degree join and the adjacency
    * groupBy see both sides already partitioned by the join key, and
    * the per-round BFS/PPR edge joins do not re-exchange the adjacency
    * side every round.
    *
    * INVARIANT (relied on by qPpr's blend): every node in `deg` has
    * degree ≥ 1 — a node exists here only by appearing in a pair row,
    * and the symmetric `dir` frame then gives it ≥ 1 incoming edge. If
    * graph construction ever admits degree-0 nodes, qPpr's blend must
    * regain a deg-scaffold left_outer or it will silently drop rows. */
  private[graft] def coEdgesDegFused(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .repartition(col("l_orderkey")).localCheckpoint()
    val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("a"))
    val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("b"))
    val dir = a.join(b, Seq("k")).filter(col("a") =!= col("b"))
      .select("a", "b")
      .repartition(col("a"))
      .dropDuplicates("a", "b")
      .localCheckpoint()
    val deg = dir.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val e = dir.filter(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("v"))
    (e, deg, dir)
  }

  /** Memoized (edges, degrees, directed) over `d`'s co-occurrence
    * graph — one fused build per (session, dataset). */
  private def coEdgesDegDirM(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    Policy.memo[(DataFrame, DataFrame, DataFrame)](s, d, "co") {
      coEdgesDegFused(s, d)
    }

  /** Memoized (edges, degrees) over `d`'s co-occurrence graph. */
  private def coEdgesDegM(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (e, deg, _) = coEdgesDegDirM(s, d); (e, deg)
  }

  /** Memoized DIRECTED half-edge view (both orientations of every
    * co-occurrence edge) — the frame consumers that double the edge
    * list actually want; reading it directly skips the union of two
    * edge-checkpoint scans AND keeps the node partitioning. */
  private def coEdgesDirM(s: SparkSession, d: String): DataFrame =
    coEdgesDegDirM(s, d)._3

  /** Memoized triangle rows — the ~36 M-row wedge-join product both
    * triangle queries consume. */
  private def triangleRowsM(s: SparkSession, d: String): DataFrame =
    Policy.memo[DataFrame](s, d, "tri") {
      val (e, deg) = coEdgesDegM(s, d)
      triangleRows(e, deg).localCheckpoint()
    }

  /** Per-node degree over an undirected (u < v) edge list. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** One row per triangle (n1, n2, n3), corners ascending in the
    * (degree, id) order — n1 the minimum pivot — via the DEGREE-ORDERED
    * EDGE ITERATOR over adjacency arrays: orient every edge low → high
    * in (degree, id), build each node's out-neighbor array (size
    * O(√m) by the orientation — Chiba–Nishizeki), and for each
    * oriented edge (u → v) intersect N⁺(u) ∩ N⁺(v); every common
    * out-neighbor w closes exactly one triangle, found exactly once
    * (at the triangle's lowest edge, with w its highest corner — for
    * the other two sides w is NOT an out-neighbor of both endpoints).
    *
    * Why arrays instead of the classic wedge self-join: the wedge join
    * MATERIALIZES AND SHUFFLES Σ outdeg²/2 rows (~36 M at sf0.1, and
    * growing superlinearly with SF) just to anti-filter most of them
    * against the closing edge. The intersection form exchanges only
    * O(|E|) rows — two node-keyed joins whose array payload totals |E|
    * ids per side — and does the same Σ outdeg² work INSIDE a
    * codegen'd `array_intersect` (hash-set build + probe per row, no
    * shuffle, no 36 M-row hash-join build). Worst-case row width is
    * the max out-degree — O(√m) ids ≈ 14 MB at m = 3×10¹² — where the
    * wedge join would instead emit outdeg² ≈ 10¹² rows for that one
    * hub. The census's two-pointer merge ([[triangleCount]]) is not
    * used for the row stream: emitting the corners that way measured
    * no faster than `array_intersect` (BENCH_NOTES.md). */
  def triangleRows(edges: DataFrame, deg: DataFrame): DataFrame = {
    val (oriented, adj) = orientedAdj(edges, deg)
    joinedNbrs(oriented, adj)
      .select(col("src").as("n1"), col("dst").as("n2"),
        explode(array_intersect(col("nu"), col("nv"))).as("n3"))
  }

  /** Exact triangle COUNT (1-row frame `n_triangles`) — Σ over
    * oriented edges of |N⁺(u) ∩ N⁺(v)|, summed WITHOUT materializing
    * a row per triangle: a census consumer needs only the total, and
    * at 16× sf0.1 the row stream is ~10⁸ × 3 longs of checkpoint
    * traffic that a `sum(size(...))` never pays. */
  def triangleCount(edges: DataFrame, deg: DataFrame): DataFrame = {
    graft.functions.NativeFunctions.register(edges.sparkSession)
    val (oriented, adj) = orientedAdj(edges, deg)
    // native two-pointer merge over the SORTED adjacency arrays
    // (orientedAdj sorts them): zero allocation, sequential access —
    // array_intersect's per-row OpenHashSet was the census hot-loop
    // bottleneck at 16× sf0.1 (one alloc + random probes per edge
    // over a ~10⁹-element stream)
    joinedNbrs(oriented, adj)
      .agg(coalesce(
        sum(call_function("graft_sorted_intersect_count", col("nu"), col("nv"))),
        lit(0L)).as("n_triangles"))
  }

  /** Degree-ordered orientation + out-adjacency arrays — the shared
    * front half of [[triangleRows]] and [[triangleCount]]. */
  private def orientedAdj(edges: DataFrame, deg: DataFrame): (DataFrame, DataFrame) = {
    val degU = deg.select(col("node").as("u"), col("deg").as("du"))
    val degV = deg.select(col("node").as("v"), col("deg").as("dv"))
    val withDeg = edges.join(degU, Seq("u")).join(degV, Seq("v"))
    // orient each edge from the lower (degree, id) endpoint to the
    // higher — every out-neighborhood is then O(√m)
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint() // three consumers: the agg + both join probes
    // sorted ascending: the census counts intersections with the
    // native two-pointer merge, whose precondition is sorted distinct
    // arrays; the O(k log k) per-node sort is noise next to one saved
    // hash-set build per edge
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    (oriented, adj)
  }

  /** Each oriented edge with BOTH endpoint out-neighbor arrays. Inner
    * joins: an edge whose head has no out-neighbors closes no
    * triangle, so dropping it is the correct semi-prune.
    *
    * Both joins carry a SHUFFLE_HASH hint with the adjacency as the
    * build side: the stream side of join #2 is the fat join #1 output
    * (each row hauls an O(√m) neighbor array — Σ outdeg² bytes in
    * total), and a sort-merge join would EXTERNALLY SORT that stream;
    * measured at 16× sf0.1 that sort was a 14×-per-4×-data cliff
    * (124 s vs a linear 35) while the hash join — which only shuffles
    * the fat rows and probes the compact |V|-row adjacency build —
    * restores the linear exponent. */
  private def joinedNbrs(oriented: DataFrame, adj: DataFrame): DataFrame =
    oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")).hint("shuffle_hash"),
        Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")).hint("shuffle_hash"),
        Seq("dst"))


  /** Global triangle census over an undirected edge list (u < v, no
    * duplicates): node/edge/wedge counts, exact triangle count, and
    * the global clustering coefficient 3·T/W. */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    census(deg, triangleCount(edges, deg))
  }

  /** Node/edge/wedge counts over the degree table `deg`, crossed with
    * the 1-row `n_triangles` frame `tri`, plus global_cc = 3·T/W. */
  private def census(deg: DataFrame, tri: DataFrame): DataFrame =
    deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("CAST(SUM(deg) / 2 AS BIGINT)").as("n_edges"),
      expr("CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT)").as("n_wedges"))
      .crossJoin(tri)
      .withColumn("global_cc",
        lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double"))
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles", "global_cc")

  private def qTriangles(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coEdgesDegM(s, d)
    // pipeline-shaped runs that already materialized the triangle rows
    // (link scores ran first) count them for free; a cold run counts
    // via the row-free sum — never paying the O(T) checkpoint just to
    // produce one number
    val tri = Policy.memoized[DataFrame](s, d, "tri") match {
      case Some(rows) => rows.agg(count(lit(1)).as("n_triangles"))
      case None => triangleCount(e, deg)
    }
    census(deg, tri)
  }

  // Per-node triangle participation + local clustering coefficient —
  // the "how clique-ish is each hub's neighborhood" profile. ONE
  // explode pass turns the triangle rows into their three corners (3T
  // rows, linear in the census output), one hash aggregate per node,
  // then a top-k that compiles to TakeOrderedAndProject — no global
  // sort at any scale. The triangle rows stream straight into the
  // corner aggregate with no O(T) checkpoint: the only consumer is a
  // hash aggregate, so there is no join whose planner needs the
  // materialized size (contrast linkScoresM).
  private def qLocalCc(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coEdgesDegM(s, d)
    val corners = triangleRows(e, deg)
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("node"))
      .withColumn("local_cc",
        lit(2.0) * col("n_tri").cast("double")
          / (col("deg") * (col("deg") - lit(1L))).cast("double"))
      .select("node", "deg", "n_tri", "local_cc")
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
  }

  /** Multi-source BFS centrality — closeness, harmonic centrality and
    * eccentricity from 8 hash-elected seed nodes, run as MS-BFS (Then
    * et al., VLDB 2015, "The More the Merrier: Efficient Multi-Source
    * BFS"): the per-round state is ONE row per NODE carrying a
    * BfsSeeds-wide bitmask, not one row per (seed, node) pair, so the
    * frontier×degree expansion — the dominant round's join product —
    * shrinks by up to the seed count (the dense mid-BFS rounds are
    * where all seeds' frontiers overlap). Per round: one node-keyed
    * join frontier ⋈ adjacency, one bit_or hash aggregate, one
    * left_outer against the node-sized visited-mask table (new bits =
    * m & ~vmask), one node-sized checkpoint. A node's bit is set in
    * exactly the round BFS first reaches it from that seed, so the
    * distances are exact. The loop stops when a frontier comes back
    * empty and FAILS LOUD at [[BfsMaxRounds]] (a half-explored graph
    * must never ship as a centrality figure). Seeds are md5-elected so
    * the probe set is deterministic and unbiased by id assignment.
    *
    * Scale shape: rounds ≤ graph diameter, each O(frontier ×
    * avg-degree) rows, never all-pairs; the visited-mask table is
    * node-sized, partitioned by node and only ever joined, never
    * sorted. The adjacency is the memoized directed frame, whose node
    * partitioning spares the per-round join an adjacency-side
    * exchange. Exact-landmark closeness over k seeds is the standard
    * scale substitute for all-pairs shortest paths (O(k·|E|) vs
    * O(|V|·|E|)).
    *
    * Determinism: distances are exact BIGINTs; closeness is one IEEE
    * division; harmonic sums DECIMAL(18,9)-pinned 1/d terms (1/d is a
    * single IEEE op on exact integers — bit-identical cross-engine). */
  private val BfsMaxRounds = 32
  private val BfsSeeds = 8
  private def qCloseness(s: SparkSession, d: String): DataFrame = {
    val (_, deg) = coEdgesDegM(s, d)
    val adj = coEdgesDirM(s, d).select(col("a"), col("b"))
    val seedOrder = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col("node").cast("string")), col("node"))
    val seeds = deg.select(col("node"))
      .orderBy(md5(col("node").cast("string")), col("node")).limit(BfsSeeds)
    // (node, bit) for the BfsSeeds elected seeds — the 8-row window
    // is model-sized; bit order = the same md5 election order
    val seedBits = seeds
      .withColumn("bit", (row_number().over(seedOrder) - 1))
      .localCheckpoint()
    var vmasks = seedBits
      .select(col("node"), expr("shiftleft(CAST(1 AS BIGINT), bit)").as("vmask"))
      .localCheckpoint()
    var frontier = vmasks.select(col("node"), col("vmask").as("fmask"))
    var levels = Vector(
      vmasks.select(col("node"), col("vmask").as("nm"), lit(0L).as("dist")))
    var n = frontier.count()
    var round = 0
    while (n > 0 && round < BfsMaxRounds) {
      round += 1
      val gathered = frontier.join(adj, col("node") === col("a"))
        .groupBy(col("b").as("node")).agg(expr("bit_or(fmask)").as("m"))
      val newbits = gathered
        .join(vmasks, Seq("node"), "left_outer")
        .withColumn("nm", expr("m & ~coalesce(vmask, CAST(0 AS BIGINT))"))
        .filter(col("nm") =!= 0L)
        .select(col("node"), col("nm"))
        .localCheckpoint()
      n = newbits.count()
      if (n > 0) {
        levels :+= newbits.withColumn("dist", lit(round.toLong))
        vmasks = vmasks.join(newbits, Seq("node"), "full_outer")
          .select(col("node"),
            expr("coalesce(vmask, CAST(0 AS BIGINT)) | coalesce(nm, CAST(0 AS BIGINT))")
              .as("vmask"))
          .localCheckpoint()
      }
      frontier = newbits.select(col("node"), col("nm").as("fmask"))
    }
    if (n > 0) {
      // loop exited on the round cap with a live frontier;
      // eccentricity == cap is a COMPLETE result. Probe one more
      // expansion and fail only if it finds an unreached (seed, node).
      val probe = frontier.join(adj, col("node") === col("a"))
        .groupBy(col("b").as("node")).agg(expr("bit_or(fmask)").as("m"))
        .join(vmasks, Seq("node"), "left_outer")
        .filter(expr("(m & ~coalesce(vmask, CAST(0 AS BIGINT))) != 0"))
      if (!probe.isEmpty)
        throw new IllegalStateException(
          s"BFS did not exhaust the graph in $BfsMaxRounds rounds — " +
            "eccentricity exceeds the cap; raise BfsMaxRounds deliberately " +
            "rather than shipping truncated centralities")
    }
    val visited = levels.reduce(_ unionAll _)
      .select(col("node"), col("dist"),
        explode(expr(s"""filter(sequence(0, ${BfsSeeds - 1}),
          b -> (shiftright(nm, b) & 1) = 1)""")).as("bit"))
      .join(broadcast(seedBits.select(col("node").as("seed"), col("bit"))),
        Seq("bit"))
      .select(col("seed"), col("node"), col("dist"))
    visited.groupBy(col("seed"))
      .agg(
        count(lit(1)).as("n_reached"),
        max(col("dist")).as("eccentricity"),
        sum(col("dist")).as("sum_dist"),
        expr("""CAST(SUM(CASE WHEN dist > 0
                THEN CAST(CAST(1.0 AS DOUBLE) / CAST(dist AS DOUBLE) AS DECIMAL(18,9))
                ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE)""").as("harmonic"))
      .withColumn("closeness",
        (col("n_reached") - lit(1L)).cast("double") / col("sum_dist").cast("double"))
      .select("seed", "n_reached", "eccentricity", "sum_dist", "closeness", "harmonic")
      .orderBy("seed")
  }

  // Market-basket association over orders: pair support, per-item
  // support, and lift = P(u,v) / (P(u)·P(v)) — the classic
  // "co-purchase strength" mining query. Same bounded intra-order
  // pair join as the edge build, but counting DISTINCT co-orders per
  // pair instead of collapsing to one edge; supports are one hash
  // aggregate each, joined back pair→item twice (node-keyed shuffles).
  // The lift arithmetic is a single double mul/div chain over exact
  // integers, parenthesized identically in both engines.
  private val MinPairSupport = 3

  private def qBasketLift(s: SparkSession, d: String): DataFrame = {
    // lineitem is exchanged ONCE on l_orderkey, deduped IN-STAGE on
    // that exchange (HashPartitioning(l_orderkey) satisfies the
    // (l_orderkey, l_partkey) clustering) and checkpointed: both
    // pair-join sides and the n_orders distinct read the preserved
    // partitioning with no exchange, and the scan runs once. Only
    // itemSup (partkey-keyed) and the (u, v) pair aggregate exchange.
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .repartition(col("l_orderkey"))
      .dropDuplicates("l_orderkey", "l_partkey")
      .localCheckpoint()
    val nOrders = li.select("l_orderkey").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val itemSup = li.groupBy(col("l_partkey").as("item"))
      .agg(count(lit(1)).as("sup"))
    val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("u"))
    val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
    val pairSup = a.join(b, Seq("k")).filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("pair_sup"))
      .filter(col("pair_sup") >= MinPairSupport)
    pairSup
      .join(itemSup.select(col("item").as("u"), col("sup").as("sup_u")), Seq("u"))
      .join(itemSup.select(col("item").as("v"), col("sup").as("sup_v")), Seq("v"))
      .crossJoin(nOrders)
      .withColumn("lift",
        (col("pair_sup").cast("double") * col("n_orders").cast("double"))
          / (col("sup_u").cast("double") * col("sup_v").cast("double")))
      .select("u", "v", "pair_sup", "sup_u", "sup_v", "n_orders", "lift")
      .orderBy(col("lift").desc, col("u"), col("v"))
      .limit(20)
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment") over the bipartite customer→part
    * purchase graph — the classic mutual-reinforcement ranking: a
    * customer is a good hub if it buys authoritative parts; a part is
    * authoritative if good hubs buy it. Two unrolled iterations with
    * L1 normalization (sum, not the sqrt L2 — keeps every total an
    * exact decimal): per-edge score terms are pinned to
    * DECIMAL(18,12) before the neighbor sum (partition-order-
    * independent — the q_pagerank technique), every normalizer is an
    * in-frame broadcast total (never a driver literal), and each
    * normalization is ONE IEEE division of two decimal-exact casts —
    * so the DuckDB oracle unrolls the same two iterations and matches
    * bit for bit. Per iteration: one edge equi-join + one hash agg,
    * both shuffling on the node key — O(|E|) rows, no all-pairs
    * anywhere, linear to 100 TB. Decimal-cast magnitudes stay ≤ ~10³
    * (scores are L1-normalized ≤ 1 before every pinned sum), so the
    * ≤2⁵³-unscaled exact-double-cast precondition holds at any SF.
    *
    * The edge checkpoint is keyed by p: the (c, p) dedup runs IN-STAGE
    * on the one p-keyed exchange (HashPartitioning(p) satisfies the
    * (c, p) clustering), and the in-degree aggregate and iteration 2's
    * authority aggregate (groupBy p after the broadcast hub join,
    * which keeps e's partitioning) read it with no exchange.
    *
    * Every L1 normalization is `scores ⋈ broadcast(scores.agg(sum))`;
    * left lazy, both sides of that pattern re-run the upstream edge
    * join and the duplication compounds across the four
    * half-iterations (~8 edge-join executions instead of 3). Each
    * node-sized denominator frame (h1d/a2d/h2d) is therefore
    * checkpointed, so every edge join runs exactly once per iteration
    * at any scale. */
  private def qHits(s: SparkSession, d: String): DataFrame = {
    val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
        Seq("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .repartition(col("p")).dropDuplicates("c", "p")
      .localCheckpoint()
    val mRow = e.agg(count(lit(1)).as("m"))
    val inDeg = e.groupBy("p").agg(count(lit(1)).as("in_deg")).localCheckpoint()
    val outDeg = e.groupBy("c").agg(count(lit(1)).as("out_deg"))
    // iteration 1: hub0 ≡ 1 ⇒ authority = in-degree, L1-normalized
    val a1 = inDeg.crossJoin(broadcast(mRow))
      .withColumn("a1", col("in_deg").cast("double") / col("m").cast("double"))
      .select("p", "a1")
    val h1d = e.join(a1, Seq("p"))
      .withColumn("t", expr("CAST(a1 AS DECIMAL(18,12))"))
      .groupBy("c").agg(sum(col("t")).as("h1d"))
      .localCheckpoint()
    val h1 = h1d.crossJoin(broadcast(h1d.agg(sum(col("h1d")).as("h1t"))))
      .withColumn("h1", col("h1d").cast("double") / col("h1t").cast("double"))
      .select("c", "h1")
    // iteration 2
    val a2d = e.join(h1, Seq("c"))
      .withColumn("t", expr("CAST(h1 AS DECIMAL(18,12))"))
      .groupBy("p").agg(sum(col("t")).as("a2d"))
      .localCheckpoint()
    val a2 = a2d.crossJoin(broadcast(a2d.agg(sum(col("a2d")).as("a2t"))))
      .withColumn("a2", col("a2d").cast("double") / col("a2t").cast("double"))
      .select("p", "a2")
      .localCheckpoint()
    val h2d = e.join(a2, Seq("p"))
      .withColumn("t", expr("CAST(a2 AS DECIMAL(18,12))"))
      .groupBy("c").agg(sum(col("t")).as("h2d"))
      .localCheckpoint()
    val h2 = h2d.crossJoin(broadcast(h2d.agg(sum(col("h2d")).as("h2t"))))
      .withColumn("h2", col("h2d").cast("double") / col("h2t").cast("double"))
      .select("c", "h2")
    a2.join(inDeg, Seq("p"))
      .select(lit("authority").as("role"), col("p").as("id"),
        col("in_deg").as("degree"), col("a2").as("score"))
      .unionAll(h2.join(outDeg, Seq("c"))
        .select(lit("hub").as("role"), col("c").as("id"),
          col("out_deg").as("degree"), col("h2").as("score")))
      .orderBy(col("role"), col("id"))
  }

  // ---- categorical (brand) assortativity ----------------------------
  //
  // Newman's CATEGORICAL assortativity over the co-purchase graph with
  // part brand as the node class — "do brands co-occur with
  // themselves" (q_assortativity is the DEGREE variant; this is the
  // attribute-mixing-matrix variant: r = (Σᵢeᵢᵢ − Σᵢaᵢbᵢ)/(1 − Σᵢaᵢbᵢ),
  // Newman 2003 eq. 2). Everything is counted on the DOUBLED directed
  // edge view so marginals are symmetric, then r is cleared of
  // denominators: r = (m₂·Σdiag − Σ rowsumᵢ²)/(m₂² − Σ rowsumᵢ²) over
  // exact BIGINTs (m₂ ≤ 2|E|; products ≤ ~10¹³ at 16× sf0.1 — far
  // under the ANSI fault line), ONE IEEE division at the end. Shape:
  // two node-keyed brand joins + a 25-row class aggregate.
  private def qBrandMixing(s: SparkSession, d: String): DataFrame = {
    val brands = Tables.part(s, d)
      .select(col("p_partkey").as("node"), col("p_brand").as("brand"))
    // the doubled directed view is the memoized frame itself
    val dir = coEdgesDirM(s, d).select(col("a"), col("b"))
    val lab = dir
      .join(brands.select(col("node").as("a"), col("brand").as("ba")), Seq("a"))
      .join(brands.select(col("node").as("b"), col("brand").as("bb")), Seq("b"))
    val byBrand = lab.groupBy(col("ba").as("brand")).agg(
      count(lit(1)).as("row_edges"),
      sum(when(col("ba") === col("bb"), 1L).otherwise(0L)).as("intra_edges"))
    val tot = byBrand.agg(sum(col("row_edges")).as("m2"),
      sum(col("intra_edges")).as("diag"),
      sum(col("row_edges") * col("row_edges")).as("sq"))
    byBrand.crossJoin(broadcast(tot))
      .withColumn("intra_share",
        col("intra_edges").cast("double") / col("row_edges").cast("double"))
      .withColumn("assortativity_r",
        (col("m2") * col("diag") - col("sq")).cast("double")
          / (col("m2") * col("m2") - col("sq")).cast("double"))
      .select("brand", "row_edges", "intra_edges", "intra_share", "assortativity_r")
      .orderBy("brand")
  }

  // ---- personalized PageRank ----------------------------------------
  //
  // PPR from a deterministic seed set (the 4 highest-degree parts,
  // ties by id) over the co-occurrence graph — the "what's relevant
  // around THESE nodes" recommendation/expansion primitive, vs
  // q_pagerank's global centrality. Two unrolled synchronous power
  // iterations of r' = 0.15·e_seed + 0.85·Σ_{u→v} r(u)/d(u): per
  // iteration one edge equi-join + one node-keyed agg (O(|E|), the
  // HITS/PageRank shape), per-edge contributions pinned to
  // DECIMAL(18,12) before the sum (r ≤ 1, so the ≤2⁵³-unscaled
  // precondition holds at any SF) — the DuckDB oracle unrolls the
  // same two rounds and matches bit for bit. The seed election is a
  // model-sized TakeOrdered broadcast back into the plan, never a
  // driver literal.
  private def qPpr(s: SparkSession, d: String): DataFrame = {
    val deg = coEdgesDegM(s, d)._2
    // hoist the loop-INVARIANT degree join out of the iterations: each
    // directed edge carries its source degree once (one O(|E|) join +
    // checkpoint total), so every power iteration is exactly ONE edge
    // equi-join with the rank table + one node agg. The doubled edge
    // view is the memoized directed frame, already partitioned by src,
    // so this join and the per-round rank join reuse that partitioning
    // instead of re-exchanging the fat side.
    val sym = coEdgesDirM(s, d)
      .select(col("a").as("src"), col("b").as("dst"))
      .join(deg.select(col("node").as("src"), col("deg")), Seq("src"))
      .localCheckpoint()
    val seeds = deg.orderBy(col("deg").desc, col("node")).limit(4)
      .select(col("node"), lit(1L).as("seed")).localCheckpoint()
    // blend directly on contrib, with no deg scaffold join: contrib's
    // key set IS deg's node set — every deg node has degree ≥ 1 (see
    // coEdgesDegFused), the symmetrized edge list therefore gives it
    // ≥ 1 incoming edge, and rank covers every node each round, so the
    // per-node sum exists (non-null) for exactly the deg nodes
    def blend(contrib: DataFrame): DataFrame =
      contrib.join(broadcast(seeds), Seq("node"), "left_outer")
        .withColumn("r",
          when(col("seed") === 1L, lit(0.15) * lit(0.25)).otherwise(lit(0.0))
            + lit(0.85) * coalesce(col("sc").cast("double"), lit(0.0)))
        .select("node", "r")
    var rank = deg.select(col("node"))
      .join(broadcast(seeds), Seq("node"), "left_outer")
      .withColumn("r", when(col("seed") === 1L, lit(0.25)).otherwise(lit(0.0)))
      .select("node", "r").localCheckpoint()
    for (_ <- 1 to 2) {
      val contrib = sym
        .join(rank.select(col("node").as("src"), col("r")), Seq("src"))
        .withColumn("c", expr("CAST(r / CAST(deg AS DOUBLE) AS DECIMAL(18,12))"))
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("sc"))
      rank = blend(contrib).localCheckpoint()
    }
    // Output pin at scale 14, NOT 12: the ideal r terminates at
    // exactly 14 decimals (4-decimal teleport + 0.85 × a 12-decimal
    // contribution sum), so a scale-12 pin rounds AT a decimal tie —
    // where Spark (exact-binary HALF_UP) and DuckDB (shortest-repr
    // half-even) disagree. At scale 14 the pin grid CONTAINS the
    // ideal value (the double sits within ~4e-18 of it, half-tick is
    // 5e-15), so both engines snap to the same tick with no tie.
    rank.join(deg, Seq("node"))
      .join(broadcast(seeds), Seq("node"), "left_outer")
      .select(col("node"), col("deg").as("degree"),
        col("seed").isNotNull.as("is_seed"),
        expr("CAST(CAST(r AS DECIMAL(18,14)) AS DOUBLE)").as("ppr"))
      .orderBy("node")
  }

  // ---- k-core decomposition ----------------------------------------
  //
  // The K-core is the maximal subgraph where every node keeps degree
  // ≥ K — the standard "dense cohesive backbone" extraction (and, on a
  // dedup keeper graph, the "pathological template cluster" detector).
  // Computed by DELTA-PEELING (the distributed form of
  // Batagelj–Zaveršnik, incrementalized): maintain the per-node degree
  // table, and each round touch ONLY the newly sub-K node set — the
  // frontier. Per round: the frontier is a filter on the node-sized
  // degree table; its incident edge losses come from two
  // broadcast-semi scans of the edge list (the frontier is a shrinking
  // few-percent of nodes — never a corpus-sized join side); surviving
  // degrees are decremented by a node-keyed join against the
  // frontier-sized loss counts. The edge list itself is NEVER
  // re-shuffled or re-materialized per round (the r9 plan semi-joined
  // and localCheckpointed all surviving edges every round — O(rounds ×
  // |E|) shuffle+write; that was the measured 5.09 scaling exponent).
  // Here rounds cost O(rounds × |E|) SCAN (broadcast joins, no
  // exchange) + O(Σ frontier) everything else, and the only
  // per-round materialization is the node-sized degree table. The
  // round count is bounded by the peel depth of the degree
  // distribution, not by n (measured: 6 rounds at BOTH sf0.01 and
  // sf0.1 for K=80; the cap below fails loudly rather than emitting a
  // half-peeled subgraph).
  //
  // K is DERIVED from the degree distribution — K = ⌊0.65·median⌋ —
  // not hard-coded: a fixed K is meaningless across corpus sizes (this
  // graph's median degree is 89 at sf0.001 and 119 at sf0.1), and the
  // derived form keeps the query non-degenerate at every harness SF.
  // The 0.65 fraction sits safely below this graph's core-collapse
  // threshold (≈0.74·median, where the core empties and the cascade
  // near criticality runs ~40 rounds — the classic abrupt collapse of
  // quasi-random co-occurrence graphs): measured peel depths are 2/3/6
  // rounds at sf0.001/0.01/0.1 with ~97% of nodes surviving. Both
  // engines compute the median as an exact interpolated percentile
  // over BIGINT degrees (exact in double), multiply by the same 0.65
  // literal, and floor — bit-identical, so the derived K itself is
  // under the hash gate (it is emitted as an output column).
  //
  // ORACLED: peeling only ever REMOVES edges and is idempotent at the
  // fixpoint, so a DuckDB chain of CoreOracleRounds=12 unrolled rounds
  // (4× the measured sf0.01 depth; extra rounds are no-ops) reproduces
  // the Spark fixpoint exactly — same move as the unrolled-Lloyd
  // oracles.
  private val CoreFrac = "0.65" // shared literal — parsed to the same double by both engines
  private val CoreMaxRounds = 40
  private[graft] val CoreOracleRounds = 12

  /** Past this many cumulative removed nodes the broadcast hint on the
    * removed-set joins is dropped and Spark's own join planning (AQE)
    * takes over — the delta loop stays correct, it just stops
    * promising the removed set fits one executor. ~8 B/node ⇒ ~160 MB
    * at the cap; peel removes ~3% of nodes on this graph family, so
    * the cap corresponds to a ~700 M-node graph. */
  private val CoreBroadcastCap = 20000000L


  /** Nodes of the `k`-core of an undirected (u < v, distinct) edge
    * list, with their within-core degree. Loops to the true fixpoint
    * (the peel frontier is empty — peeling is monotone decreasing, so
    * an empty frontier IS convergence) and throws past `CoreMaxRounds`
    * instead of returning a half-peeled subgraph. */
  def kcore(edges0: DataFrame, k: Int): DataFrame =
    kcoreWithDepth(edges0, degrees(edges0), k)._1

  /** Delta-peel from a precomputed degree table (the q_kcore path
    * reuses the memoized coEdgesDegM degrees, so the full-graph degree
    * aggregation happens once per corpus). Returns the core and one
    * (frontier size, seconds) entry per round, counting the final
    * empty-frontier confirmation round — the peel depth is the entry
    * count. OperatorsSpec asserts depth ≤ CoreOracleRounds, the
    * invariant that keeps the unrolled DuckDB oracle an exact replay. */
  private[graft] def kcoreWithDepth(edges0: DataFrame, deg0: DataFrame,
      k: Int): (DataFrame, Seq[(Long, Double)]) = {
    val edges = edges0.localCheckpoint()
    var deg = deg0.localCheckpoint()
    // cumulative removed set — kept as a DataFrame (never collected:
    // at scale it is data-sized, ~3% of nodes) and broadcast-hinted
    // while it plausibly fits an executor. It is a LAZY union of the
    // per-round frontier checkpoints: each frontier is already
    // materialized, so checkpointing their union would only add a
    // node-sized write + job barrier per round (the union depth is
    // bounded by the peel depth, ≤ CoreMaxRounds).
    var removedAll = deg.select("node").limit(0)
    var nRemovedAll = 0L
    var converged = false
    val rounds = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    def hint(df: DataFrame): DataFrame =
      if (nRemovedAll < CoreBroadcastCap) broadcast(df) else df
    while (!converged && rounds.size < CoreMaxRounds) {
      val t0 = System.nanoTime()
      val frontier = deg.filter(col("deg") < k).select("node").localCheckpoint()
      val nF = frontier.count()
      if (nF == 0) converged = true
      else {
        // current edge list = edges0 minus everything already removed
        // (two broadcast ANTI scans — no exchange, no materialization)
        val cur = edges
          .join(hint(removedAll.withColumnRenamed("node", "u")), Seq("u"), "left_anti")
          .join(hint(removedAll.withColumnRenamed("node", "v")), Seq("v"), "left_anti")
        // each current edge into the frontier costs its SURVIVING
        // endpoint one degree (unionAll keeps multiplicity; edges with
        // both endpoints in the frontier die in the anti-join below)
        val losses = cur
          .join(broadcast(frontier.withColumnRenamed("node", "u")), Seq("u"), "left_semi")
          .select(col("v").as("node"))
          .unionAll(cur
            .join(broadcast(frontier.withColumnRenamed("node", "v")), Seq("v"), "left_semi")
            .select(col("u").as("node")))
          .join(broadcast(frontier), Seq("node"), "left_anti")
          .groupBy("node").agg(count(lit(1)).as("lost"))
        deg = deg
          .join(broadcast(frontier), Seq("node"), "left_anti")
          .join(losses, Seq("node"), "left_outer")
          .select(col("node"),
            (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
          .localCheckpoint()
        removedAll = removedAll.unionAll(frontier)
        nRemovedAll += nF
      }
      rounds += ((nF, (System.nanoTime() - t0) / 1e9))
    }
    if (!converged)
      throw new IllegalStateException(
        s"k-core peeling did not converge in $CoreMaxRounds rounds — " +
          "K is near the core-collapse threshold for this graph; raise the " +
          "cap deliberately rather than shipping a half-peeled subgraph")
    val core = deg
      .select(col("node"), col("deg").as("core_deg"), lit(k.toLong).as("k"))
      .orderBy("node")
    (core, rounds.toSeq)
  }

  /** The derived K = ⌊CoreFrac·median degree⌋ — the exact interpolated
    * median of BIGINT degrees is a one-double model fetch (like the
    * Lloyd centroid collects), never a data collect. */
  private def coreK(deg: DataFrame): Int =
    math.floor(CoreFrac.toDouble *
      deg.agg(expr("percentile(deg, 0.5d)").as("med")).head.getDouble(0)).toInt

  /** The q_kcore peel for graft.KcoreDecompose, with the co-occurrence
    * graph built COLD (memo bypassed): (edge count, derived K, one
    * (frontier size, seconds) entry per round) — the evidence that
    * attributes the path's measured scaling exponent to per-round cost
    * vs peel-depth growth. */
  private[graft] def kcorePeelProfile(s: SparkSession, d: String)
      : (Long, Int, Seq[(Long, Double)]) = {
    val (edges, deg, _) = coEdgesDegFused(s, d)
    val k = coreK(deg)
    (edges.count(), k, kcoreWithDepth(edges, deg, k)._2)
  }

  /** The derived-K q_kcore path with its measured peel depth — the
    * oracle-validity probe for OperatorsSpec. */
  private[graft] def kcoreDepthAt(s: SparkSession, d: String): Int = {
    val (edges, deg) = coEdgesDegM(s, d)
    kcoreWithDepth(edges, deg, coreK(deg))._2.size
  }

  private def qKcore(s: SparkSession, d: String): DataFrame = {
    // memoized checkpoint: the edge list feeds the median probe AND
    // every peel round — recomputing the intra-order pair join per
    // round would multiply the dominant shuffle by the peel depth
    val (edges, deg) = coEdgesDegM(s, d)
    kcoreWithDepth(edges, deg, coreK(deg))._1
  }

  /** Minimum shared-order support for a strong-tie LPA edge — the
    * support-1 noise floor (112k of 116k pairs at sf0.01) carries no
    * community signal and would densify the graph into one giant
    * label; >= 2 keeps the 3.4k edges that actually recur. */
  private val LpaSupport = 2L

  /** Fixed synchronous label-propagation rounds. Unlike k-core the
    * oracle needs no depth probe: both engines run EXACTLY this many
    * synchronous rounds, so the unrolled SQL is a replay by
    * construction, converged or not. */
  private[graft] val LpaRounds = 4

  /** Community detection by synchronous label propagation over the
    * strong-tie graph — (u < v) pairs appearing together in at least
    * LpaSupport distinct orders. LpaRounds rounds of "adopt the most
    * frequent neighbor label, ties to the smallest", which is
    * deterministic (synchronous updates + total tie order) unlike
    * classic asynchronous LPA, so it can be hash-gated. Memoized as
    * (strong edges, final labels), shared by q_communities and
    * q_modularity; Bench/ScaleProbe clear it so published times stay
    * cold. 349 communities (max 81 members) over 1 880 nodes at
    * sf0.01.
    *
    * Front half — two exchanges and one checkpoint before the first
    * round: lineitem is exchanged once on l_orderkey with the
    * (l_orderkey, l_partkey) dedup IN-STAGE (HashPartitioning(k)
    * satisfies its clustering). After that dedup each pair appears
    * exactly once per containing order, so a plain count(1) is its
    * distinct-order support — the dedup runs before the quadratic pair
    * explosion, not after. The pair join emits both directions, and
    * the support count + LpaSupport filter run in-stage on one
    * node-keyed exchange whose partitioning the `und` checkpoint
    * keeps, so the label-init distinct is exchange-free too. The
    * undirected (u < v) edge list is a filter over `und`.
    *
    * Each round is one edge-keyed join + one (node, label) hash agg +
    * one node-keyed winner aggregate, lineage cut per round. The
    * winner is `max(struct(c, -lbl))` — struct ordering compares c
    * first, then −lbl, so the max is (highest count, lowest label) —
    * a hash aggregate with map-side partial aggregation, not a
    * per-node sort. Labels are node ids ≥ 0, so −lbl cannot
    * overflow. */
  private[graft] def lpaLabels(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Policy.memo[(DataFrame, DataFrame)](s, d, "lpa") {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        .repartition(col("l_orderkey"))
        .dropDuplicates("l_orderkey", "l_partkey")
        .localCheckpoint()
      val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("a"))
      val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("b"))
      val und = a.join(b, Seq("k")).filter(col("a") =!= col("b"))
        .select("a", "b")
        .repartition(col("a"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
        .filter(col("support") >= LpaSupport).select("a", "b")
        .localCheckpoint()
      var lbl = und.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node")).localCheckpoint()
      for (_ <- 1 to LpaRounds) {
        lbl = und.join(lbl.withColumnRenamed("node", "b"), Seq("b"))
          .groupBy(col("a").as("node"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("node"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl"))
          .localCheckpoint()
      }
      val edges = und.filter(col("a") < col("b"))
        .select(col("a").as("u"), col("b").as("v"))
      (edges, lbl)
    }

  private def qCommunities(s: SparkSession, d: String): DataFrame = {
    val (_, lbl) = lpaLabels(s, d)
    val sz = lbl.groupBy("lbl").agg(count(lit(1)).as("comm_size"))
    lbl.join(sz, Seq("lbl"))
      .select(col("node"), col("lbl").as("community"), col("comm_size"))
      .orderBy("node")
  }

  /** Newman modularity of the LPA partition over the strong-tie
    * graph — the "did community detection find real structure"
    * readout (Q > 0 ⇔ more intra-community edges than the degree-
    * preserving null model expects). INTEGER-EXACT: Q = Σ_c (e_c/m −
    * (d_c/2m)²) is computed as num = Σ_c (4·m·e_c − d_c²) over exact
    * BIGINTs, with ONE final division num/(4m²). Scale shape: rides
    * the memoized LPA labels; one edge-keyed label join, two
    * model-sized community aggregates, a 1-row broadcast. */
  private def qModularity(s: SparkSession, d: String): DataFrame = {
    val (edges, lbl) = lpaLabels(s, d)
    val deg = degrees(edges)
    val eLbl = edges
      .join(lbl.select(col("node").as("u"), col("lbl").as("lu")), Seq("u"))
      .join(lbl.select(col("node").as("v"), col("lbl").as("lv")), Seq("v"))
    val ec = eLbl.filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("e_c"))
    val dc = deg.join(lbl, Seq("node"))
      .groupBy("lbl").agg(sum(col("deg")).as("d_c"))
    val mF = edges.agg(count(lit(1)).as("m"))
    dc.join(ec, Seq("lbl"), "left_outer")
      .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
      .crossJoin(broadcast(mF))
      .agg(count(lit(1)).as("n_communities"),
        max(col("m")).as("m"),
        sum(lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c")).as("num"))
      .withColumn("modularity",
        col("num").cast("double")
          / (lit(4.0) * col("m").cast("double") * col("m").cast("double")))
      .select("n_communities", "m", "num", "modularity")
  }

  /** Degree assortativity of the co-occurrence graph (Newman's r):
    * the Pearson correlation of endpoint degrees over all directed
    * edge incidences — "do hubs link to hubs". With both orientations
    * of each undirected edge the two marginals coincide, so r =
    * (M·ΣXY − ΣX²ᵐᵃʳᵍ)/(M·Σx² − ΣX²ᵐᵃʳᵍ) reduces to exact BIGINT
    * sums over the edge list (ΣXY = 2·Σdu·dv, ΣX = Σ(du+dv), Σx² =
    * Σ(du²+dv²), M = 2·|E|) and ONE final division. Scale shape:
    * rides the memoized (edges, degrees); two node-keyed joins, one
    * 1-row aggregate. */
  private def qAssortativity(s: SparkSession, d: String): DataFrame = {
    val (e, deg) = coEdgesDegM(s, d)
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    e.join(du, Seq("u")).join(dv, Seq("v"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("du") * col("dv")).as("sdd"),
        sum(col("du") + col("dv")).as("sx"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"))
      .withColumn("m", lit(2L) * col("n_edges"))
      .withColumn("r",
        (col("m") * (lit(2L) * col("sdd")) - col("sx") * col("sx")).cast("double")
          / (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select("n_edges", "m", "sdd", "sx", "sxx", "r")
  }

  // ---- one-pass link-score family ----------------------------------
  //
  // Common-neighbor link scores over the co-occurrence graph. For each
  // triangle-closing edge (u, v): |N(u)∩N(v)| is exactly the number of
  // triangles the edge closes (read straight off the memoized triangle
  // rows — each triangle names, for each of its three sides, the
  // OPPOSITE corner, which is precisely "common neighbor w of (u, v)"),
  // giving
  //  - Jaccard: common / (deg(u)+deg(v)−2−common) — exact BIGINTs, one
  //    division; restricted to triangle edges the denominator is ≥ 1;
  //  - Adamic–Adar: Σ_w 1/ln(deg(w)) (Adamic & Adar 2003) — a rare
  //    shared neighbor certifies a lot, a hub certifies almost
  //    nothing; each term pinned to DECIMAL(18,9) (deg(w) ≥ 2 ⇒
  //    ln ≥ ln 2 > 0), summed exactly.
  //
  // BOTH scores ride ONE scored-edge frame (memoized below): the
  // triangle stream is scanned once (a single 3-way explode, not three
  // union branches re-reading the checkpoint), the AA term is computed
  // per NODE on the model-sized degree frame and joined in (the
  // ln/division runs |V| times, not 3T times), and one (u, v) hash agg
  // + two node-keyed degree joins produce common, both degrees, and
  // both scores together. The consumers are projections + top-k
  // (TakeOrderedAndProject). At 100 TB the whole family costs one pass
  // over the 3T-row triangle stream — not one per score.
  //
  // The triangle rows come materialized (triangleRowsM): the
  // checkpoint gives the sides-join planner honest runtime sizes,
  // where a triangle subtree streamed into the agg plans blind — that
  // fused form measured slower (OPTIMIZATION_r15.md).
  private def linkScoresM(s: SparkSession, d: String): DataFrame =
    Policy.memo[DataFrame](s, d, "links") {
      val (_, deg) = coEdgesDegM(s, d)
      val tri = triangleRowsM(s, d)
      val degT = deg.withColumn("term",
        expr("CAST(1.0 / ln(CAST(deg AS DOUBLE)) AS DECIMAL(18,9))"))
      val sides = tri.select(explode(array(
          struct(least(col("n1"), col("n2")).as("u"),
            greatest(col("n1"), col("n2")).as("v"), col("n3").as("w")),
          struct(least(col("n1"), col("n3")).as("u"),
            greatest(col("n1"), col("n3")).as("v"), col("n2").as("w")),
          struct(least(col("n2"), col("n3")).as("u"),
            greatest(col("n2"), col("n3")).as("v"), col("n1").as("w"))
        )).as("s"))
        .select(col("s.u").as("u"), col("s.v").as("v"), col("s.w").as("w"))
      sides
        .join(degT.select(col("node").as("w"), col("term")), Seq("w"))
        .groupBy("u", "v")
        .agg(count(lit(1)).as("common"),
          expr("CAST(SUM(term) AS DOUBLE)").as("aa_score"))
        .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))
        .withColumn("jaccard", expr(
          "CAST(common AS DOUBLE) / CAST(deg_u + deg_v - 2 - common AS DOUBLE)"))
        .select("u", "v", "common", "deg_u", "deg_v", "jaccard", "aa_score")
        .localCheckpoint()
    }

  private def qLinkJaccard(s: SparkSession, d: String): DataFrame =
    linkScoresM(s, d)
      .select("u", "v", "common", "deg_u", "deg_v", "jaccard")
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(20)

  private def qAdamicAdar(s: SparkSession, d: String): DataFrame =
    linkScoresM(s, d)
      .select("u", "v", "common", "aa_score")
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(20)

  // The combined scored-edge surface itself — what a link-prediction
  // consumer would actually materialize (both scores, both degrees,
  // the common count) — exposed as its own query so the one-pass
  // family has a first-class, oracled entry point.
  private def qLinkScores(s: SparkSession, d: String): DataFrame =
    linkScoresM(s, d)
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(50)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_triangles" -> (qTriangles _),
    "q_closeness" -> (qCloseness _),
    "q_adamic_adar" -> (qAdamicAdar _),
    "q_local_cc" -> (qLocalCc _),
    "q_basket_lift" -> (qBasketLift _),
    "q_hits" -> (qHits _),
    "q_kcore" -> (qKcore _),
    "q_ppr" -> (qPpr _),
    "q_brand_mixing" -> (qBrandMixing _),
    "q_communities" -> (qCommunities _),
    "q_link_jaccard" -> (qLinkJaccard _),
    "q_link_scores" -> (qLinkScores _),
    "q_modularity" -> (qModularity _),
    "q_assortativity" -> (qAssortativity _)
  )

  private val pairsSql =
    """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""".stripMargin

  /** Per-node degree over the `pairs` CTE ([[pairsSql]]). */
  private val degSql =
    """deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
      |  ) GROUP BY node
      |)""".stripMargin

  /** Every triangle of the `pairs` CTE once, as (n1 < n2 < n3). */
  private val triSql =
    """tri AS (
      |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
      |  FROM pairs e1
      |  JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
      |  JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
      |)""".stripMargin

  /** The unrolled peel chain: e0 = the co-occurrence edges, kk = the
    * derived threshold ⌊CoreFrac·median-degree⌋, then `rounds`
    * iterations of (degrees of e_i) → (e_{i+1} = edges whose BOTH
    * endpoints keep degree ≥ k). Extra rounds past convergence are
    * identity, so any unroll ≥ the measured peel depth replays the
    * Spark fixpoint exactly.
    *
    * Every chain CTE is AS MATERIALIZED: DuckDB inlines plain CTEs
    * PER REFERENCE, and each round references its predecessor 4×
    * (degrees reads e_i twice, the prune joins d_i twice), so an
    * un-materialized 12-round chain expands to ~4¹² scans of the base
    * table — materialization makes it 12 linear passes, the same
    * shape as the Spark loop's localCheckpoint. */
  private def kcoreSql(rounds: Int): String = {
    val k = "(SELECT k FROM kk)"
    val chain = (0 until rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT u AS node FROM e$i UNION ALL SELECT v AS node FROM e$i
         |  ) GROUP BY node
         |), e${i + 1} AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$i e
         |  JOIN d$i du ON du.node = e.u AND du.deg >= $k
         |  JOIN d$i dv ON dv.node = e.v AND dv.deg >= $k
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |$pairsSql
       |),
       |kk AS MATERIALIZED (
       |  SELECT CAST(floor($CoreFrac * percentile_cont(0.5) WITHIN GROUP (ORDER BY deg))
       |              AS BIGINT) AS k
       |  FROM (
       |    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |      SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
       |    ) GROUP BY node)
       |),
       |$chain,
       |dfin AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS node FROM e$rounds UNION ALL SELECT v AS node FROM e$rounds
       |  ) GROUP BY node
       |)
       |SELECT node, deg AS core_deg, $k AS k FROM dfin WHERE deg >= $k
       |ORDER BY node""".stripMargin
  }

  /** Unrolled synchronous-LPA chain — `rounds` repetitions of
    * (neighbor-label counts) → (top-1 by count desc, label asc). Same
    * MATERIALIZED discipline as kcoreSql: each round reads its
    * predecessor once in a join, but DuckDB's per-reference inlining
    * would still stack the chain multiplicatively without it. */
  /** The WITH-prefix shared by the LPA oracles: strong edges e0, the
    * doubled adjacency, l0 and the unrolled label rounds l1..l`rounds`. */
  private def lpaChainSql(rounds: Int): String = {
    val chain = (0 until rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.a AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM und e JOIN l$i l ON l.node = e.b GROUP BY e.a, l.lbl
         |), l${i + 1} AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS support
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2)
       |  WHERE support >= $LpaSupport
       |), und AS MATERIALIZED (
       |  SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v AS a, u AS b FROM e0
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS node, a AS lbl FROM und
       |),
       |$chain""".stripMargin
  }

  private def lpaSql(rounds: Int): String =
    s"""${lpaChainSql(rounds)},
       |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS comm_size FROM l$rounds GROUP BY lbl)
       |SELECT l.node, l.lbl AS community, sz.comm_size
       |FROM l$rounds l JOIN sz ON sz.lbl = l.lbl
       |ORDER BY node""".stripMargin

  private def modularitySql(rounds: Int): String =
    s"""${lpaChainSql(rounds)},
       |deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
       |  ) GROUP BY node
       |), mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
       |ec AS (
       |  SELECT lu.lbl AS lbl, CAST(COUNT(*) AS BIGINT) AS e_c
       |  FROM e0 JOIN l$rounds lu ON lu.node = e0.u
       |          JOIN l$rounds lv ON lv.node = e0.v
       |  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl
       |), dc AS (
       |  SELECT l.lbl, CAST(SUM(deg) AS BIGINT) AS d_c
       |  FROM deg JOIN l$rounds l ON l.node = deg.node GROUP BY l.lbl
       |), comb AS (
       |  SELECT dc.lbl, COALESCE(ec.e_c, 0) AS e_c, dc.d_c
       |  FROM dc LEFT JOIN ec ON ec.lbl = dc.lbl
       |), res AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |         CAST(MAX(m) AS BIGINT) AS m,
       |         CAST(SUM(4 * m * e_c - d_c * d_c) AS BIGINT) AS num
       |  FROM comb, mm
       |)
       |SELECT n_communities, m, num,
       |       CAST(num AS DOUBLE)
       |         / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS modularity
       |FROM res""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_kcore" -> kcoreSql(CoreOracleRounds),
    "q_brand_mixing" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), dir AS (
         |  SELECT u AS a, v AS b FROM pairs
         |  UNION ALL SELECT v AS a, u AS b FROM pairs
         |), lab AS (
         |  SELECT pa.p_brand AS ba, pb.p_brand AS bb
         |  FROM dir JOIN part pa ON pa.p_partkey = dir.a
         |  JOIN part pb ON pb.p_partkey = dir.b
         |), by_brand AS (
         |  SELECT ba AS brand, CAST(COUNT(*) AS BIGINT) AS row_edges,
         |         CAST(SUM(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges
         |  FROM lab GROUP BY 1
         |), tot AS (
         |  SELECT CAST(SUM(row_edges) AS BIGINT) AS m2,
         |         CAST(SUM(intra_edges) AS BIGINT) AS diag,
         |         CAST(SUM(row_edges * row_edges) AS BIGINT) AS sq
         |  FROM by_brand
         |)
         |SELECT brand, row_edges, intra_edges,
         |       CAST(intra_edges AS DOUBLE) / CAST(row_edges AS DOUBLE) AS intra_share,
         |       CAST(m2 * diag - sq AS DOUBLE)
         |         / CAST(m2 * m2 - sq AS DOUBLE) AS assortativity_r
         |FROM by_brand CROSS JOIN tot
         |ORDER BY brand""".stripMargin,
    "q_ppr" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), $degSql, sym AS (
         |  SELECT u AS src, v AS dst FROM pairs
         |  UNION ALL SELECT v AS src, u AS dst FROM pairs
         |), seeds AS (SELECT node FROM deg ORDER BY deg DESC, node LIMIT 4),
         |r0 AS (
         |  SELECT d.node, CASE WHEN s.node IS NOT NULL THEN CAST(0.25 AS DOUBLE)
         |                      ELSE CAST(0.0 AS DOUBLE) END AS r
         |  FROM deg d LEFT JOIN seeds s ON s.node = d.node
         |), c1 AS (
         |  SELECT sym.dst AS node,
         |         SUM(CAST(r0.r / CAST(deg.deg AS DOUBLE) AS DECIMAL(18,12))) AS sc
         |  FROM sym JOIN r0 ON r0.node = sym.src JOIN deg ON deg.node = sym.src
         |  GROUP BY 1
         |), r1 AS (
         |  SELECT d.node,
         |         CASE WHEN s.node IS NOT NULL THEN 0.15 * 0.25 ELSE 0.0 END
         |           + 0.85 * COALESCE(CAST(c1.sc AS DOUBLE), 0.0) AS r
         |  FROM deg d LEFT JOIN seeds s ON s.node = d.node
         |  LEFT JOIN c1 ON c1.node = d.node
         |), c2 AS (
         |  SELECT sym.dst AS node,
         |         SUM(CAST(r1.r / CAST(deg.deg AS DOUBLE) AS DECIMAL(18,12))) AS sc
         |  FROM sym JOIN r1 ON r1.node = sym.src JOIN deg ON deg.node = sym.src
         |  GROUP BY 1
         |), r2 AS (
         |  SELECT d.node,
         |         CASE WHEN s.node IS NOT NULL THEN 0.15 * 0.25 ELSE 0.0 END
         |           + 0.85 * COALESCE(CAST(c2.sc AS DOUBLE), 0.0) AS r
         |  FROM deg d LEFT JOIN seeds s ON s.node = d.node
         |  LEFT JOIN c2 ON c2.node = d.node
         |)
         |SELECT r2.node, deg.deg AS degree, s.node IS NOT NULL AS is_seed,
         |       CAST(CAST(r2.r AS DECIMAL(18,14)) AS DOUBLE) AS ppr
         |FROM r2 JOIN deg ON deg.node = r2.node
         |LEFT JOIN seeds s ON s.node = r2.node
         |ORDER BY r2.node""".stripMargin,
    "q_communities" -> lpaSql(LpaRounds),
    "q_modularity" -> modularitySql(LpaRounds),
    "q_assortativity" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), $degSql, j AS (
         |  SELECT du.deg AS du, dv.deg AS dv
         |  FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
         |), agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         |         CAST(SUM(du * dv) AS BIGINT) AS sdd,
         |         CAST(SUM(du + dv) AS BIGINT) AS sx,
         |         CAST(SUM(du * du + dv * dv) AS BIGINT) AS sxx
         |  FROM j
         |), withm AS (SELECT *, 2 * n_edges AS m FROM agg)
         |SELECT n_edges, m, sdd, sx, sxx,
         |       CAST(m * (2 * sdd) - sx * sx AS DOUBLE)
         |         / CAST(m * sxx - sx * sx AS DOUBLE) AS r
         |FROM withm""".stripMargin,
    "q_adamic_adar" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), $degSql, $triSql, sides AS (
         |  SELECT least(n1, n2) AS u, greatest(n1, n2) AS v, n3 AS w FROM tri
         |  UNION ALL SELECT least(n1, n3), greatest(n1, n3), n2 FROM tri
         |  UNION ALL SELECT least(n2, n3), greatest(n2, n3), n1 FROM tri
         |), terms AS (
         |  SELECT s.u, s.v,
         |         CAST(1.0 / ln(CAST(dw.deg AS DOUBLE)) AS DECIMAL(18,9)) AS term
         |  FROM sides s JOIN deg dw ON dw.node = s.w
         |)
         |SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common,
         |       CAST(SUM(term) AS DOUBLE) AS aa_score
         |FROM terms GROUP BY u, v
         |ORDER BY aa_score DESC, u, v
         |LIMIT 20""".stripMargin,
    "q_link_scores" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), $degSql, $triSql, sides AS (
         |  SELECT least(n1, n2) AS u, greatest(n1, n2) AS v, n3 AS w FROM tri
         |  UNION ALL SELECT least(n1, n3), greatest(n1, n3), n2 FROM tri
         |  UNION ALL SELECT least(n2, n3), greatest(n2, n3), n1 FROM tri
         |), terms AS (
         |  SELECT s.u, s.v,
         |         CAST(1.0 / ln(CAST(dw.deg AS DOUBLE)) AS DECIMAL(18,9)) AS term
         |  FROM sides s JOIN deg dw ON dw.node = s.w
         |), agg AS (
         |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common,
         |         CAST(SUM(term) AS DOUBLE) AS aa_score
         |  FROM terms GROUP BY u, v
         |)
         |SELECT a.u, a.v, a.common, du.deg AS deg_u, dv.deg AS deg_v,
         |       CAST(a.common AS DOUBLE)
         |         / CAST(du.deg + dv.deg - 2 - a.common AS DOUBLE) AS jaccard,
         |       a.aa_score
         |FROM agg a
         |JOIN deg du ON du.node = a.u
         |JOIN deg dv ON dv.node = a.v
         |ORDER BY aa_score DESC, u, v
         |LIMIT 50""".stripMargin,
    "q_link_jaccard" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), $degSql, $triSql, tedges AS (
         |  SELECT n1 AS u, n2 AS v FROM tri
         |  UNION ALL SELECT n1 AS u, n3 AS v FROM tri
         |  UNION ALL SELECT n2 AS u, n3 AS v FROM tri
         |), common AS (
         |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common FROM tedges GROUP BY u, v
         |)
         |SELECT c.u, c.v, c.common, du.deg AS deg_u, dv.deg AS deg_v,
         |       CAST(c.common AS DOUBLE)
         |         / CAST(du.deg + dv.deg - 2 - c.common AS DOUBLE) AS jaccard
         |FROM common c
         |JOIN deg du ON du.node = c.u
         |JOIN deg dv ON dv.node = c.v
         |ORDER BY jaccard DESC, u, v
         |LIMIT 20""".stripMargin,
    // the oracle counts ordered triples u<v<w by part id — a hash-family
    // -free formulation that is independent of the degree orientation
    // the engine uses, so it cross-checks the orientation logic itself
    "q_closeness" ->
      s"""WITH RECURSIVE pairs AS (
         |$pairsSql
         |), adj AS (
         |  SELECT u AS a, v AS b FROM pairs
         |  UNION ALL SELECT v AS a, u AS b FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT a AS node FROM adj
         |), seeds AS (
         |  SELECT node AS seed FROM nodes
         |  ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 8
         |), bfs AS (
         |  SELECT seed, seed AS node, 0 AS dist FROM seeds
         |  UNION
         |  SELECT b.seed, a.b AS node, b.dist + 1 AS dist
         |  FROM bfs b JOIN adj a ON a.a = b.node
         |  WHERE b.dist < 32
         |), sp AS (
         |  SELECT seed, node, CAST(MIN(dist) AS BIGINT) AS dist
         |  FROM bfs GROUP BY seed, node
         |)
         |SELECT seed,
         |       CAST(COUNT(*) AS BIGINT) AS n_reached,
         |       CAST(MAX(dist) AS BIGINT) AS eccentricity,
         |       CAST(SUM(dist) AS BIGINT) AS sum_dist,
         |       CAST(COUNT(*) - 1 AS DOUBLE) / CAST(SUM(dist) AS DOUBLE)
         |         AS closeness,
         |       CAST(SUM(CASE WHEN dist > 0
         |            THEN CAST(CAST(1.0 AS DOUBLE) / CAST(dist AS DOUBLE)
         |                      AS DECIMAL(18,9))
         |            ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE) AS harmonic
         |FROM sp GROUP BY seed
         |ORDER BY seed""".stripMargin,
    "q_triangles" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), deg AS (
         |  SELECT node, COUNT(*) AS deg FROM (
         |    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
         |  ) GROUP BY node
         |), tri AS (
         |  SELECT COUNT(*) AS n_triangles
         |  FROM pairs e1
         |  JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
         |  JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
         |), agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |         CAST(SUM(deg) / 2 AS BIGINT) AS n_edges,
         |         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
         |  FROM deg
         |)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |       3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
         |         AS global_cc
         |FROM agg CROSS JOIN tri""".stripMargin,
    "q_local_cc" ->
      s"""WITH pairs AS (
         |$pairsSql
         |), $degSql, $triSql, corners AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
         |    SELECT n1 AS node FROM tri
         |    UNION ALL SELECT n2 AS node FROM tri
         |    UNION ALL SELECT n3 AS node FROM tri
         |  ) GROUP BY node
         |)
         |SELECT deg.node, deg.deg, corners.n_tri,
         |       2.0 * CAST(n_tri AS DOUBLE)
         |         / CAST(deg * (deg - 1) AS DOUBLE) AS local_cc
         |FROM deg JOIN corners ON deg.node = corners.node
         |ORDER BY n_tri DESC, deg.node
         |LIMIT 20""".stripMargin,
    "q_hits" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
        |indeg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS in_deg FROM e GROUP BY p),
        |outdeg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY c),
        |a1 AS (
        |  SELECT p, CAST(in_deg AS DOUBLE) / CAST(m AS DOUBLE) AS a1
        |  FROM indeg CROSS JOIN m
        |), h1d AS (
        |  SELECT c, SUM(CAST(a1 AS DECIMAL(18,12))) AS h1d
        |  FROM e JOIN a1 USING (p) GROUP BY c
        |), h1t AS (SELECT SUM(h1d) AS h1t FROM h1d),
        |h1 AS (
        |  SELECT c, CAST(h1d AS DOUBLE) / CAST(h1t AS DOUBLE) AS h1
        |  FROM h1d CROSS JOIN h1t
        |), a2d AS (
        |  SELECT p, SUM(CAST(h1 AS DECIMAL(18,12))) AS a2d
        |  FROM e JOIN h1 USING (c) GROUP BY p
        |), a2t AS (SELECT SUM(a2d) AS a2t FROM a2d),
        |a2 AS (
        |  SELECT p, CAST(a2d AS DOUBLE) / CAST(a2t AS DOUBLE) AS a2
        |  FROM a2d CROSS JOIN a2t
        |), h2d AS (
        |  SELECT c, SUM(CAST(a2 AS DECIMAL(18,12))) AS h2d
        |  FROM e JOIN a2 USING (p) GROUP BY c
        |), h2t AS (SELECT SUM(h2d) AS h2t FROM h2d),
        |h2 AS (
        |  SELECT c, CAST(h2d AS DOUBLE) / CAST(h2t AS DOUBLE) AS h2
        |  FROM h2d CROSS JOIN h2t
        |)
        |SELECT 'authority' AS role, p AS id, in_deg AS degree, a2 AS score
        |FROM a2 JOIN indeg USING (p)
        |UNION ALL
        |SELECT 'hub' AS role, c AS id, out_deg AS degree, h2 AS score
        |FROM h2 JOIN outdeg USING (c)
        |ORDER BY role, id""".stripMargin,
    "q_basket_lift" ->
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         |), n AS (
         |  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
         |), itemsup AS (
         |  SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS sup
         |  FROM li GROUP BY l_partkey
         |), pairsup AS (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v,
         |         CAST(COUNT(*) AS BIGINT) AS pair_sup
         |  FROM li a JOIN li b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY a.l_partkey, b.l_partkey
         |  HAVING COUNT(*) >= $MinPairSupport
         |)
         |SELECT u, v, pair_sup, su.sup AS sup_u, sv.sup AS sup_v, n_orders,
         |       (CAST(pair_sup AS DOUBLE) * CAST(n_orders AS DOUBLE))
         |         / (CAST(su.sup AS DOUBLE) * CAST(sv.sup AS DOUBLE)) AS lift
         |FROM pairsup
         |JOIN itemsup su ON su.item = u
         |JOIN itemsup sv ON sv.item = v
         |CROSS JOIN n
         |ORDER BY lift DESC, u, v
         |LIMIT 20""".stripMargin
  )
}
