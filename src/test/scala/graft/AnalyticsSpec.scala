package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the Analytics module (and the graph link-
  * similarity query) — each test recomputes the statistic a second,
  * independent way on the driver from the raw sf0.001 tables, so the
  * oracle gate's hash compare is backed by a meaning check: the hash
  * proves Spark and DuckDB agree, these prove they agree on the RIGHT
  * number.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, Sf0001)

  /** The sf0.001 co-occurrence graph as a driver adjacency map: parts
    * u ≠ v are neighbors when some order holds both. */
  private def coAdjacency(): Map[Long, Set[Long]] =
    graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.toSeq
      .flatMap { grp =>
        val parts = grp.map(_._2).distinct.toSeq
        for (a <- parts; b <- parts if a != b) yield (a, b)
      }
      .groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).toSet }

  test("q_cusum: telescopes to zero, one peak elected, running sum reconciles") {
    val rows = q("q_cusum").collect()
    assert(rows.nonEmpty)
    // C_D = S_D − D·(N/D) must telescope to (numerically) zero
    assert(math.abs(rows.last.getAs[Double]("cusum")) < 1e-6)
    // the peak flag marks exactly the max-|C| rows (≥ 1)
    val maxAbs = rows.map(r => math.abs(r.getAs[Double]("cusum"))).max
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_peak") ==
        (math.abs(r.getAs[Double]("cusum")) == maxAbs))
    }
    assert(rows.count(_.getAs[Boolean]("is_peak")) >= 1)
    // run_sum is the cumulative n_orders and ends at the table total
    val cums = rows.map(_.getAs[Long]("n_orders")).scanLeft(0L)(_ + _).drop(1)
    assert(rows.map(_.getAs[Long]("run_sum")).toSeq == cums.toSeq)
    assert(cums.last == graft.sources.Tables.orders(spark, Sf0001).count())
  }

  test("q_concurrency: driver sweep-line replay matches per-day peaks and balances") {
    val rows = q("q_concurrency").collect()
    assert(rows.nonEmpty)
    // Driver replay: sessionize (30-min gap), build (+1 start, −1 end+30min)
    // deltas, ONE global prefix sum (the query's two-level sum must agree
    // with the single-level truth), then per-day stats.
    val evs = graft.sources.Tables.events(spark, Sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gap = 1800000000L
    val deltas = evs.groupBy(_._1).toSeq.flatMap { case (uid, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3))
      var sid = 0L
      var sessions = Vector.empty[(Long, Long, Long, Long)] // uid, sid, start, end
      var start = sorted.head._2; var last = sorted.head._2
      for (e <- sorted.tail) {
        if (e._2 - last > gap) {
          sid += 1 // matches the cumulative-is_new numbering (first session = 1)
          sessions :+= ((uid, sid, start, last + gap)); start = e._2
        }
        last = e._2
      }
      sessions :+= ((uid, sid + 1, start, last + gap))
      sessions.flatMap { case (u, s2, st, en) =>
        Seq((st, 1L, u, s2), (en, -1L, u, s2))
      }
    }.sortBy(t => (t._1, t._2, t._3, t._4))
    var running = 0L
    val perDay = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Long, Long, Long, Long)] // opens, closes, peak, atStart
    for ((us, dl, _, _) <- deltas) {
      val day = us / 86400000000L
      val (o, c, p, st) = perDay.getOrElse(day, (0L, 0L, running, running))
      running += dl
      perDay(day) = (o + (if (dl > 0) 1L else 0L), c + (if (dl < 0) 1L else 0L),
        math.max(p, running), st)
    }
    assert(rows.length == perDay.size)
    for (r <- rows) {
      val day = r.getAs[Long]("day_idx")
      val (o, c, p, st) = perDay(day)
      assert(r.getAs[Long]("n_opens") == o, s"opens day $day")
      assert(r.getAs[Long]("n_closes") == c, s"closes day $day")
      assert(r.getAs[Long]("peak_concurrency") == p, s"peak day $day")
      assert(r.getAs[Long]("open_at_start") == st, s"at-start day $day")
      assert(r.getAs[Long]("open_at_end") == st + o - c, s"at-end day $day")
    }
    // global balance: every open eventually closes
    assert(rows.map(r => r.getAs[Long]("n_opens") - r.getAs[Long]("n_closes")).sum == 0L)
    assert(rows.last.getAs[Long]("open_at_end") == 0L)
  }

  test("q_streaks: driver consecutive-run replay matches islands and best election") {
    val rows = q("q_streaks").collect()
    assert(rows.nonEmpty)
    val daily = graft.sources.Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = daily.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    assert(rows.length == byUser.size)
    for (r <- rows) {
      val days = byUser(r.getAs[Long]("user_id"))
      // split the sorted distinct days into maximal consecutive runs
      val runs = days.foldLeft(Vector.empty[Vector[Long]]) { (acc, d0) =>
        if (acc.nonEmpty && acc.last.last == d0 - 1) acc.init :+ (acc.last :+ d0)
        else acc :+ Vector(d0)
      }
      assert(r.getAs[Long]("active_days") == days.size)
      assert(r.getAs[Long]("n_streaks") == runs.size)
      val best = runs.maxBy(run => (run.size.toLong, -run.head))
      assert(r.getAs[Long]("max_streak") == best.size)
      assert(r.getAs[java.sql.Timestamp]("max_streak_start").getTime ==
        best.head * 86400000L)
    }
  }

  test("q_closeness: driver BFS replay matches distances from every elected seed") {
    val rows = q("q_closeness").collect()
    assert(rows.length == 8)
    // rebuild the co-occurrence graph on the driver and BFS exactly
    val li = graft.sources.Tables.lineitem(spark, Sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    for ((_, parts) <- li.groupBy(_._1); Array(a, b) <- parts.map(_._2).distinct.sorted.combinations(2)) {
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    for (r <- rows) {
      val seed = r.getAs[Long]("seed")
      // driver BFS
      val dist = scala.collection.mutable.Map(seed -> 0L)
      var frontier = Set(seed)
      var level = 0L
      while (frontier.nonEmpty) {
        level += 1
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(n => dist(n) = level)
      }
      assert(r.getAs[Long]("n_reached") == dist.size, s"reach seed $seed")
      assert(r.getAs[Long]("eccentricity") == dist.values.max, s"ecc seed $seed")
      assert(r.getAs[Long]("sum_dist") == dist.values.sum, s"sumdist seed $seed")
    }
  }

  test("q_stock_replay: driver clamp-fold replay matches every month's stock and shortfall") {
    val rows = q("q_stock_replay").collect()
    assert(rows.nonEmpty)
    // rebuild demand on the driver
    val t = graft.sources.Tables
    val regionOf = t.customer(spark, Sf0001).select("c_custkey", "c_nationkey")
      .join(t.nation(spark, Sf0001), col("c_nationkey") === col("n_nationkey"))
      .join(t.region(spark, Sf0001), col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey", "r_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val demand = t.orders(spark, Sf0001)
      .select(col("o_custkey"), (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).cast("long").as("idx"))
      .collect()
      .groupBy(r => (regionOf(r.getLong(0)), r.getLong(1)))
      .view.mapValues(_.length.toLong).toMap
    val allIdx = demand.keys.map(_._2)
    val (loAll, hi) = (allIdx.min, allIdx.max)
    val lo = math.max(loAll, hi - 23)
    val months = loAll to hi
    val regions = demand.keys.map(_._1).toSeq.sorted
    for (reg <- regions) {
      val supply = months.map(m => demand.getOrElse((reg, m), 0L)).sum / (hi - loAll + 1)
      var stock = 0L
      for (m <- lo to hi) {
        val dem = demand.getOrElse((reg, m), 0L)
        val short = math.max(0L, dem - supply - stock)
        stock = math.max(0L, stock + supply - dem)
        val row = rows.find(r => r.getAs[String]("region") == reg
          && r.getAs[Long]("month_idx") == m).get
        assert(row.getAs[Long]("demand") == dem, s"$reg $m demand")
        assert(row.getAs[Long]("supply") == supply, s"$reg $m supply")
        assert(row.getAs[Long]("stock_end") == stock, s"$reg $m stock")
        assert(row.getAs[Long]("shortfall") == short, s"$reg $m shortfall")
      }
    }
    assert(rows.length == regions.size * (hi - lo + 1).toInt)
    // both recurrence branches must actually execute on this fixture
    assert(rows.exists(_.getAs[Long]("stock_end") == 0L))
    assert(rows.exists(_.getAs[Long]("stock_end") > 0L))
  }

  test("q_mase: driver seasonal-naive replay matches error sums; horizons partition") {
    val rows = q("q_mase").collect()
    assert(rows.nonEmpty)
    val daily = graft.sources.Tables.orders(spark, Sf0001)
      .select(col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000").as("day"))
      .collect().groupBy(r => (r.getString(0), r.getLong(1)))
      .view.mapValues(_.length.toLong).toMap
    val (lo, hi) = (daily.keys.map(_._2).min, daily.keys.map(_._2).max)
    for (r <- rows) {
      val p = r.getAs[String]("priority")
      def y(d0: Long) = daily.getOrElse((p, d0), 0L)
      var (nt, st, ne, se) = (0L, 0L, 0L, 0L)
      for (d0 <- (lo + 7) to hi) {
        val err = math.abs(y(d0) - y(d0 - 7))
        if (d0 > hi - 28) { ne += 1; se += err } else { nt += 1; st += err }
      }
      assert(r.getAs[Long]("n_train") == nt && r.getAs[Long]("sum_train") == st, s"train $p")
      assert(r.getAs[Long]("n_eval") == ne && r.getAs[Long]("sum_eval") == se, s"eval $p")
      assert(ne == 28, s"eval horizon $p")
      assert(r.getAs[Double]("mase") == se.toDouble * nt.toDouble / (st.toDouble * ne.toDouble))
    }
  }

  test("q_bag_ops: multiplicities obey max(0,a-b) / min(a,b); zero rows are absent") {
    val rows = q("q_bag_ops").collect()
    val counts = graft.sources.Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .collect()
      .groupBy(r => (r.getLong(0) % 2, r.getString(1), r.getString(2)))
      .view.mapValues(_.length.toLong).toMap
    val keys = counts.keys.map(k => (k._2, k._3)).toSet
    for ((st, pri) <- keys) {
      val a = counts.getOrElse((0L, st, pri), 0L)
      val b = counts.getOrElse((1L, st, pri), 0L)
      def got(op: String) = rows.find(r => r.getAs[String]("op") == op
        && r.getAs[String]("st") == st && r.getAs[String]("pri") == pri)
        .map(_.getAs[Long]("n")).getOrElse(0L)
      assert(got("except_all") == math.max(0L, a - b), s"except $st/$pri")
      assert(got("intersect_all") == math.min(a, b), s"intersect $st/$pri")
    }
    assert(rows.forall(_.getAs[Long]("n") > 0L), "zero-multiplicity row leaked")
  }

  test("q_bitmap_presence: masks replay from the raw day/type sets") {
    val rows = q("q_bitmap_presence").collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, Sf0001)
      .select(col("user_id"),
        expr("CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT)").as("m"),
        expr("CAST(day(ts) AS INT)").as("dom"), col("event_type"))
      .collect()
    val typeBit = Map("click" -> 0, "error" -> 1, "purchase" -> 2,
      "signup" -> 3, "view" -> 4).withDefaultValue(5)
    val byGroup = evs.groupBy(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == byGroup.size)
    for (r <- rows) {
      val g = byGroup((r.getAs[Long]("user_id"), r.getAs[Long]("month_idx")))
      val dayMask = g.map(e => 1L << (e.getInt(2) - 1)).reduce(_ | _)
      val tMask = g.map(e => 1L << typeBit(e.getString(3))).reduce(_ | _)
      assert(r.getAs[Long]("day_mask") == dayMask)
      assert(r.getAs[Long]("type_mask") == tMask)
      assert(r.getAs[Long]("days_active") == java.lang.Long.bitCount(dayMask).toLong)
      assert(r.getAs[Long]("n_types") == java.lang.Long.bitCount(tMask).toLong)
      assert(r.getAs[Long]("n_events") == g.length.toLong)
    }
  }

  test("q_skyline: driver dominance replay matches; duplicate frontier points co-surface") {
    val rows = q("q_skyline").collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Double]("price"), r.getAs[Long]("size")))
    val pts = graft.sources.Tables.part(spark, Sf0001)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val expected = pts.filter { case (_, p, z) =>
      !pts.exists { case (_, p2, z2) =>
        p2 <= p && z2 <= z && (p2 < p || z2 < z) }
    }.map(t => (t._1, t._2, t._3)).sortBy(t => (t._2, t._3, t._1))
    assert(rows.toSeq == expected.toSeq)
    // a planted exact tie: both copies of a frontier point must surface
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sky").toString
    Seq((1L, "a", "B", "T", 5, 10.0), (2L, "b", "B", "T", 5, 10.0),
      (3L, "c", "B", "T", 4, 20.0), (4L, "d", "B", "T", 9, 30.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val planted = SparkEntry.queries("q_skyline")(spark, dir)
      .collect().map(_.getAs[Long]("p_partkey")).toSet
    assert(planted == Set(1L, 2L, 3L)) // 4 dominated by both frontier points
  }

  test("q_benford: digit counts partition the table; chi2 reconciles with its terms") {
    val rows = q("q_benford").collect()
    assert(rows.map(_.getAs[Long]("digit")).toSeq == (1L to 9L))
    val total = graft.sources.Tables.orders(spark, Sf0001).count()
    assert(rows.map(_.getAs[Long]("n_obs")).sum == total)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
    val chi2 = rows.head.getAs[Double]("chi2")
    assert(rows.forall(_.getAs[Double]("chi2") == chi2))
    assert(rows.forall(_.getAs[Double]("chi2_term") >= 0.0))
    assert(math.abs(rows.map(r => BigDecimal(r.getAs[Double]("chi2_term"))).sum.toDouble - chi2) < 1e-6)
    // benford p column must be the exact literals, summing to ~1
    assert(math.abs(rows.map(_.getAs[Double]("p_benford")).sum - 1.0) < 1e-6)
  }

  test("q_cohort_ltv: month-0 activity equals cohort size; cumulative curve telescopes") {
    val rows = q("q_cohort_ltv").collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[java.sql.Timestamp]("cohort_month"))
    for ((_, cells) <- byCohort) {
      val sorted = cells.sortBy(_.getAs[Long]("k"))
      // every acquired customer orders in its own month 0
      assert(sorted.head.getAs[Long]("k") == 0L)
      assert(sorted.head.getAs[Long]("n_active") == sorted.head.getAs[Long]("cohort_size"))
      // cum_revenue is the running sum of revenue
      var cum = BigDecimal(0)
      for (c <- sorted) {
        cum += BigDecimal(c.getAs[Double]("revenue"))
        assert(math.abs(cum.toDouble - c.getAs[Double]("cum_revenue")) < 1e-6,
          s"cum mismatch at k=${c.getAs[Long]("k")}")
        assert(c.getAs[Long]("n_active") <= c.getAs[Long]("cohort_size"))
      }
    }
    // total customers = sum of cohort sizes (each cohort counted once)
    val sizes = byCohort.values.map(_.head.getAs[Long]("cohort_size")).sum
    assert(sizes == graft.sources.Tables.orders(spark, Sf0001)
      .select("o_custkey").distinct().count())
  }

  test("q_hill_tail: a source too small for the estimator surfaces with NULLs, not silence") {
    // 3 docs < kk+1 (kk >= 5): no (k+1)-th order statistic exists, so
    // the metric columns must be NULL — but the source itself must
    // still be a row (the silent-drop would read as "no tail problem")
    val docs = Seq(
      (1L, "a b c", "en", "tiny", 300L),
      (2L, "d e f", "en", "tiny", 200L),
      (3L, "g h i", "en", "tiny", 100L)) ++
      (10L until 60L).map(i => (i, s"doc $i text", "en", "big", 1000L + i * 7L))
    val dir = java.nio.file.Files.createTempDirectory("hill").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_hill_tail")(spark, dir).collect()
    assert(rows.map(_.getAs[String]("source")).toSeq == Seq("big", "tiny"))
    val tiny = rows.find(_.getAs[String]("source") == "tiny").get
    assert(tiny.isNullAt(tiny.fieldIndex("k")) && tiny.isNullAt(tiny.fieldIndex("x_ref"))
      && tiny.isNullAt(tiny.fieldIndex("hill_alpha")))
    val big = rows.find(_.getAs[String]("source") == "big").get
    // kk = min(50 DIV 4, 100) = 12 for the 50-doc source
    assert(big.getAs[Long]("k") == 12L)
    assert(!big.isNullAt(big.fieldIndex("hill_alpha")))
  }

  test("q_autocorr: r bounded, pair count recounted for one priority") {
    val rows = q("q_autocorr").collect()
    assert(rows.length >= 2)
    rows.foreach { r =>
      val rr = r.getAs[Double]("r")
      assert(rr >= -1.0 - 1e-12 && rr <= 1.0 + 1e-12, s"r out of range: $rr")
    }
    // n = observed days − 1 for the recounted priority
    val p = rows.head.getAs[String]("priority")
    val days = graft.sources.Tables.orders(spark, Sf0001)
      .filter($"o_orderpriority" === p)
      .select(to_date($"o_orderdate")).distinct().count()
    assert(rows.head.getAs[Long]("n") == days - 1)
  }

  test("q_vocab_growth: deciles partition the corpus, vocab saturates at the true type count") {
    val rows = q("q_vocab_growth").collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    // cumulative columns are monotone non-decreasing
    Seq("cum_docs", "cum_tokens", "cum_vocab").foreach { c =>
      val xs = rows.map(_.getAs[Long](c))
      assert(xs.zip(xs.tail).forall { case (a, b) => a <= b }, c)
    }
    val docs = graft.sources.Tables.documents(spark, Sf0001)
    assert(rows.last.getAs[Long]("cum_docs") == docs.count())
    val toks = docs.select(explode(split($"text", " ")).as("t"))
    assert(rows.last.getAs[Long]("cum_tokens") == toks.count())
    assert(rows.last.getAs[Long]("cum_vocab") == toks.distinct().count())
  }

  test("q_link_jaccard: common-neighbor count recounted from raw adjacency") {
    val rows = q("q_link_jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, du, dv) = (r.getAs[Long]("common"),
        r.getAs[Long]("deg_u"), r.getAs[Long]("deg_v"))
      val j = r.getAs[Double]("jaccard")
      assert(c >= 1 && c <= math.min(du, dv) - 1,
        s"common $c vs degrees $du/$dv")
      assert(j > 0.0 && j <= 1.0)
      assert(math.abs(j - c.toDouble / (du + dv - 2 - c)) < 1e-12)
    }
    // independent recount of the top edge's intersection from lineitem
    val adj = coAdjacency()
    val top = rows.head
    val (u, v) = (top.getAs[Long]("u"), top.getAs[Long]("v"))
    val expected = (adj(u) & adj(v)).size
    assert(top.getAs[Long]("common") == expected,
      s"edge ($u,$v): common ${top.getAs[Long]("common")} vs recount $expected")
    assert(top.getAs[Long]("deg_u") == adj(u).size)
    assert(top.getAs[Long]("deg_v") == adj(v).size)
  }

  test("q_adamic_adar: top edge's score recounted from raw adjacency") {
    val rows = q("q_adamic_adar").collect()
    assert(rows.nonEmpty)
    // scores are positive and the top-k order is honored
    val scores = rows.map(_.getAs[Double]("aa_score"))
    assert(scores.forall(_ > 0.0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // driver replay: adjacency from lineitem, then the exact same
    // DECIMAL(18,9)-quantized 1/ln(deg w) terms summed over the true
    // common-neighbor set of the top edge
    val adj = coAdjacency()
    val top = rows.head
    val (u, v) = (top.getAs[Long]("u"), top.getAs[Long]("v"))
    val commons = adj(u) & adj(v)
    assert(top.getAs[Long]("common") == commons.size)
    val expected = commons.toSeq.map { w =>
      BigDecimal(1.0 / math.log(adj(w).size.toDouble))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(top.getAs[Double]("aa_score") == expected,
      s"edge ($u,$v): aa ${top.getAs[Double]("aa_score")} vs replay $expected")
  }

  test("q_local_cc: per-node triangle counts and local_cc replay from a driver adjacency walk") {
    val rows = q("q_local_cc").collect()
    assert(rows.length == 20)
    val adj = coAdjacency()
    // triangles at n = edges among n's neighbors (each seen from both ends)
    val nTri = adj.map { case (n, nb) =>
      n -> nb.toSeq.map(w => (adj(w) & nb).size.toLong).sum / 2
    }
    val top = nTri.toSeq.filter(_._2 > 0).sortBy { case (n, t) => (-t, n) }.take(20)
    assert(rows.map(r => (r.getAs[Long]("node"), r.getAs[Long]("n_tri"))).toSeq == top)
    for (r <- rows) {
      val n = r.getAs[Long]("node")
      val d = adj(n).size.toLong
      assert(r.getAs[Long]("deg") == d, s"node $n")
      assert(r.getAs[Double]("local_cc") == 2.0 * nTri(n).toDouble / (d * (d - 1)).toDouble,
        s"node $n")
    }
  }

  test("q_basket_lift: supports, order count and lift recounted from distinct (order, part) rows") {
    val rows = q("q_basket_lift").collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrders = li.map(_._1).distinct.length.toLong
    val sup = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairSup = li.groupBy(_._1).values.toVector.flatMap { g =>
      val ps = g.map(_._2).toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def lift(u: Long, v: Long): Double =
      (pairSup((u, v)).toDouble * nOrders.toDouble) / (sup(u).toDouble * sup(v).toDouble)
    // MinPairSupport = 3; top 20 by lift desc, then (u, v)
    val top = pairSup.filter(_._2 >= 3).keys.toSeq
      .sortBy { case (u, v) => (-lift(u, v), u, v) }(
        Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Long))
      .take(20)
    assert(rows.map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"))).toSeq == top)
    for (r <- rows) {
      val (u, v) = (r.getAs[Long]("u"), r.getAs[Long]("v"))
      assert(r.getAs[Long]("pair_sup") == pairSup((u, v)), s"pair ($u,$v)")
      assert(r.getAs[Long]("sup_u") == sup(u) && r.getAs[Long]("sup_v") == sup(v))
      assert(r.getAs[Long]("n_orders") == nOrders)
      assert(r.getAs[Double]("lift") == lift(u, v), s"pair ($u,$v)")
    }
  }

  test("q_link_scores: the one-pass frame agrees edge-for-edge with both single-score queries") {
    val scored = q("q_link_scores").collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) -> r).toMap
    assert(scored.nonEmpty)
    // q_adamic_adar's top-20 is exactly the first 20 of q_link_scores'
    // aa-ordered surface, score and common included
    val aa = q("q_adamic_adar").collect()
    aa.foreach { r =>
      val s = scored((r.getAs[Long]("u"), r.getAs[Long]("v")))
      assert(s.getAs[Double]("aa_score") == r.getAs[Double]("aa_score"))
      assert(s.getAs[Long]("common") == r.getAs[Long]("common"))
    }
    // wherever q_link_jaccard's top-20 intersects the aa-top-50 frame,
    // jaccard, degrees and common must be identical (same shared frame)
    q("q_link_jaccard").collect().foreach { r =>
      scored.get((r.getAs[Long]("u"), r.getAs[Long]("v"))).foreach { s =>
        assert(s.getAs[Double]("jaccard") == r.getAs[Double]("jaccard"))
        assert(s.getAs[Long]("deg_u") == r.getAs[Long]("deg_u"))
        assert(s.getAs[Long]("deg_v") == r.getAs[Long]("deg_v"))
        assert(s.getAs[Long]("common") == r.getAs[Long]("common"))
      }
    }
    // internal integrity of every scored row
    scored.values.foreach { s =>
      val (c, du, dv) = (s.getAs[Long]("common"),
        s.getAs[Long]("deg_u"), s.getAs[Long]("deg_v"))
      assert(c >= 1 && c <= math.min(du, dv) - 1)
      assert(math.abs(s.getAs[Double]("jaccard") - c.toDouble / (du + dv - 2 - c)) < 1e-12)
      assert(s.getAs[Double]("aa_score") > 0.0)
    }
  }

  test("q_embed_drift: halves partition the corpus, TV identity holds and is bounded") {
    val rows = q("q_embed_drift").collect()
    assert(rows.nonEmpty)
    val n = graft.sources.Tables.embeddings(spark, Sf0001).count()
    // the even/odd halves partition the corpus exactly
    assert(rows.map(_.getAs[Long]("c_ref")).sum == rows.head.getAs[Long]("n_ref"))
    assert(rows.map(_.getAs[Long]("c_cur")).sum == rows.head.getAs[Long]("n_cur"))
    assert(rows.head.getAs[Long]("n_ref") + rows.head.getAs[Long]("n_cur") == n)
    // per-cell terms sum to the published numerator; one consistent tv
    assert(rows.map(_.getAs[Long]("tv_term")).sum == rows.head.getAs[Long]("tv_num"))
    val tv = rows.head.getAs[Double]("tv")
    assert(rows.forall(_.getAs[Double]("tv") == tv))
    assert(tv >= 0.0 && tv <= 1.0, s"TV out of range: $tv")
    // a same-corpus split should NOT read as drifted
    assert(tv < 0.5, s"even/odd halves of one corpus report implausible drift $tv")
  }

  test("q_spearman: rho recounted from a driver-side rank replay") {
    val row = q("q_spearman").collect().head
    val per = graft.sources.Tables.orders(spark, Sf0001)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("spend"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2)))
    assert(row.getAs[Long]("n") == per.length)
    val rFreq = per.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1L) }.toMap
    val rSpend = per.sortBy(t => (BigDecimal(t._3), t._1)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1L) }.toMap
    val sumD2 = per.map { t =>
      val dd = rFreq(t._1) - rSpend(t._1); dd * dd
    }.sum
    assert(row.getAs[Long]("sum_d2") == sumD2)
    val n = per.length.toDouble
    assert(row.getAs[Double]("rho") ==
      1.0 - (6.0 * sumD2.toDouble) / (n * (n * n - 1.0)))
    assert(math.abs(row.getAs[Double]("rho")) <= 1.0)
  }

  test("q_psi: no excluded bins on this fixture, terms replay, psi is their sum") {
    val rows = q("q_psi").collect()
    assert(rows.nonEmpty)
    // every event lands in an included (both-sides-nonzero) bin
    val total = graft.sources.Tables.events(spark, Sf0001).count()
    assert(rows.map(r => r.getAs[Long]("c_ref") + r.getAs[Long]("c_cur")).sum == total)
    // replay each term from the counts and the quantization
    val nRef = rows.map(_.getAs[Long]("c_ref")).sum.toDouble
    val nCur = rows.map(_.getAs[Long]("c_cur")).sum.toDouble
    var sum = BigDecimal(0)
    rows.foreach { r =>
      val (cr, cc) = (r.getAs[Long]("c_ref").toDouble, r.getAs[Long]("c_cur").toDouble)
      val term = BigDecimal(
        (cr / nRef - cc / nCur) * math.log((cr * nCur) / (cc * nRef)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      assert(r.getAs[Double]("term") == term.toDouble)
      sum += term
    }
    rows.foreach(r => assert(r.getAs[Double]("psi") == sum.toDouble))
    // PSI of any distribution against another is non-negative
    assert(sum.toDouble >= 0.0)
  }

  test("q_token_median: the crossing row recounted per source") {
    val rows = q("q_token_median").collect()
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select($"source", $"doc_id", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_tok")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(rows.map(_.getAs[String]("source")).toSet == docs.keySet)
    rows.foreach { r =>
      val xs = docs(r.getAs[String]("source")).sortBy(t => (t._3, t._2))
      val total = xs.map(_._4).sum
      assert(r.getAs[Long]("total_tokens") == total)
      assert(r.getAs[Long]("n_docs") == xs.length.toLong)
      var cum = 0L
      val cross = xs.find { t => cum += t._4; 2 * cum >= total }.get
      assert(r.getAs[Long]("weighted_median_len") == cross._3)
      // the weighted median never undershoots the unweighted one by
      // construction on a length-weighted mass (longer docs carry more)
      val plainMed = xs((xs.length + 1) / 2 - 1)._3
      assert(r.getAs[Long]("weighted_median_len") >= plainMed)
    }
  }

  test("q_sim_histogram: shares sum to one, replay twins fill the top bin") {
    val rows = q("q_sim_histogram").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("bin")
      assert(b >= 0 && b <= 9)
      assert(r.getAs[Double]("j_min") <= r.getAs[Double]("j_max"))
      // bin edges honored (top bin includes the clamped 1.0)
      assert(r.getAs[Double]("j_min") >= b / 10.0)
      assert(r.getAs[Double]("j_max") <= (if (b == 9) 1.0 else (b + 1) / 10.0))
    }
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    // the doubled corpus plants 500 exact replay pairs at J = 1.0 —
    // the top bin must hold at least those
    val top = rows.find(_.getAs[Long]("bin") == 9L).get
    assert(top.getAs[Long]("n_pairs") >= 500L)
    assert(top.getAs[Double]("j_max") == 1.0)
  }

  test("q_robust_stats: median/MAD/trimmed mean recounted per source") {
    val rows = q("q_robust_stats").collect()
    val bySrc = graft.sources.Tables.documents(spark, Sf0001)
      .select($"source", $"n_chars", $"doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(rows.map(_.getAs[String]("source")).toSet == bySrc.keySet)
    rows.foreach { r =>
      val xs = bySrc(r.getAs[String]("source"))
        .sortBy(t => (t._2, t._3)).map(_._2)
      val n = xs.length
      val med = xs((n + 1) / 2 - 1)
      assert(r.getAs[Long]("median") == med)
      val devs = bySrc(r.getAs[String]("source"))
        .map(t => (math.abs(t._2 - med), t._3)).sorted.map(_._1)
      assert(r.getAs[Long]("mad") == devs((n + 1) / 2 - 1))
      val trim = xs.slice(n / 10, n - n / 10)
      assert(math.abs(r.getAs[Double]("trimmed_mean")
        - trim.sum.toDouble / trim.length) < 1e-9)
    }
  }

  test("q_ewma: hand-recomputed weighted average for a mid-series day") {
    val rows = q("q_ewma").collect()
    assert(rows.length > 20)
    val daily = rows.map(r =>
      r.getTimestamp(0).toLocalDateTime.toLocalDate -> r.getAs[Long]("n_orders")).toMap
    val probe = rows(15)
    val day = probe.getTimestamp(0).toLocalDateTime.toLocalDate
    val terms = (0 to 9).flatMap { l =>
      daily.get(day.minusDays(l)).map(n => (math.pow(0.9, l), n))
    }
    val expected = terms.map { case (w, n) => w * n }.sum / terms.map(_._1).sum
    assert(math.abs(probe.getAs[Double]("ewma10") - expected) < 1e-6)
  }

  test("q_js_divergence: symmetric-bounded divergence, shared-term accounting") {
    val rows = q("q_js_divergence").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val js = r.getAs[Double]("js_div")
      assert(js >= -1e-9 && js <= math.log(2.0) + 1e-9, s"js out of [0, ln2]: $js")
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_terms"))
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
    }
  }

  test("q_oov: rates bounded and eval-only splits reported") {
    val rows = q("q_oov").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Set("val", "test").contains(r.getAs[String]("split")))
      val (oov, tok) = (r.getAs[Long]("n_oov"), r.getAs[Long]("n_tokens"))
      assert(oov >= 0 && oov <= tok)
      assert(math.abs(r.getAs[Double]("oov_rate") - oov.toDouble / tok) < 1e-12)
    }
  }

  test("q_leakage: every reported digest truly spans train and eval") {
    val rows = q("q_leakage").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_train") > 0)
      assert(r.getAs[Long]("n_val") + r.getAs[Long]("n_test") > 0)
      assert(r.getAs[Long]("min_train_id") != r.getAs[Long]("min_eval_id"))
    }
    // the doubled corpus plants every text twice under independent
    // split hashes, so SOME cross-split collision is all but certain
    assert(rows.nonEmpty)
  }

  test("q_rfm: quintiles balanced, scores bounded, segment matches its rule") {
    val rows = q("q_rfm").collect()
    val n = rows.length
    assert(n == graft.sources.Tables.orders(spark, Sf0001)
      .select($"o_custkey").distinct().count())
    // ntile(5) bucket sizes differ by at most 1
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val sizes = rows.groupBy(_.getAs[Long](c)).view.mapValues(_.length)
      assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)), c)
      assert(sizes.values.max - sizes.values.min <= 1, s"$c skewed: $sizes")
    }
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
        r.getAs[Long]("m_score"))
      val expected =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (rs >= 4 && fs <= 2) "recent"
        else if (rs <= 2 && fs >= 4) "at_risk"
        else if (rs <= 2 && fs <= 2) "hibernating"
        else "regular"
      assert(r.getAs[String]("segment") == expected)
      assert(r.getAs[Long]("recency_days") >= 0)
    }
    // the most recent customer scores r=5; the highest spender m=5
    val minRec = rows.map(_.getAs[Long]("recency_days")).min
    assert(rows.filter(_.getAs[Long]("recency_days") == minRec)
      .exists(_.getAs[Long]("r_score") == 5))
    val maxSpend = rows.map(_.getAs[Double]("spend")).max
    assert(rows.filter(_.getAs[Double]("spend") == maxSpend)
      .forall(_.getAs[Long]("m_score") == 5))
  }

  test("q_dedup_stats: per-source rollup reconciles with a raw recount") {
    val rows = q("q_dedup_stats").collect()
    val raw = graft.sources.Tables.documents(spark, Sf0001)
      .groupBy($"source", $"text").count()
      .groupBy($"source")
      .agg(sum($"count").as("n"), count(lit(1)).as("texts"),
        max($"count").as("mx"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n"), r.getAs[Long]("texts"), r.getAs[Long]("mx"))).toMap
    assert(rows.map(_.getAs[String]("source")).toSet == raw.keySet)
    rows.foreach { r =>
      val (n, texts, mx) = raw(r.getAs[String]("source"))
      // doubling: every doc appears twice, no cross-source text moves
      assert(r.getAs[Long]("n_docs") == 2 * n)
      assert(r.getAs[Long]("n_texts") == texts)
      assert(r.getAs[Long]("max_clone") == 2 * mx)
      assert(r.getAs[Long]("n_dup_docs") == 2 * n - texts)
      // every text has >= 2 copies in the doubled corpus
      assert(r.getAs[Double]("dup_ratio") >= 0.5)
    }
  }

  test("q_blocklist: hits recounted per doc, control term never fires") {
    val rows = q("q_blocklist").collect()
    assert(rows.nonEmpty)
    val byId = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val listed = graft.operators.TextOps.Blocklist.toSet
    rows.foreach { r =>
      val toks = byId(r.getAs[Long]("doc_id")).split(" ", -1)
      val hits = toks.count(listed)
      assert(hits > 0 && r.getAs[Long]("n_hits") == hits)
      assert(r.getAs[Long]("n_tokens") == toks.length)
      val terms = r.getAs[String]("terms").split(",").toSet
      assert(terms == toks.filter(listed).toSet)
      assert(!terms.contains("leak"), "control term must be absent from the corpus")
      assert(r.getAs[Boolean]("blocked") ==
        (25 * hits >= 2 * toks.length))
    }
    // completeness: every doc with a hit is reported
    val expected = byId.count { case (_, t) => t.split(" ", -1).exists(listed) }
    assert(rows.length == expected)
  }

  test("q_ab_lift: counts and z recomputed exactly from the raw events") {
    val row = SparkEntry.queries("q_ab_lift")(spark, Sf0001).collect().head
    val perUser = graft.sources.Tables.events(spark, Sf0001)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" && $"value" >= 200.0, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("h", substring(md5($"user_id".cast("string")), 1, 1))
      .collect()
    val (a, b) = perUser.partition(_.getAs[String]("h") < "8")
    val (nA, nB) = (a.length.toLong, b.length.toLong)
    val (cA, cB) = (a.map(_.getAs[Long]("conv")).sum, b.map(_.getAs[Long]("conv")).sum)
    assert(row.getAs[Long]("n_a") == nA && row.getAs[Long]("n_b") == nB)
    assert(row.getAs[Long]("conv_a") == cA && row.getAs[Long]("conv_b") == cB)
    val (rA, rB) = (cA.toDouble / nA, cB.toDouble / nB)
    val p = (cA + cB).toDouble / (nA + nB)
    val z = (rB - rA) / math.sqrt(p * (1.0 - p) * (1.0 / nA + 1.0 / nB))
    assert(row.getAs[Double]("lift") == rB - rA)
    assert(row.getAs[Double]("z_stat") == z)
    // both rates strictly inside (0,1): the threshold keeps the pool unsaturated
    assert(rA > 0.0 && rA < 1.0 && rB > 0.0 && rB < 1.0)
  }

  test("q_brier: quantization within bound of the exact score; components coherent") {
    val row = SparkEntry.queries("q_brier")(spark, Sf0001).collect().head
    // exact (double) Brier from the oracled q_span_dedup per-doc frame
    val sc = SparkEntry.queries("q_span_dedup")(spark, Sf0001)
      .select($"doc_id", $"cover_frac").collect()
    val exact = sc.map { r =>
      val p = r.getAs[Double]("cover_frac")
      val o = if (r.getAs[Long]("doc_id") % 7 == 0) 1.0 else 0.0
      (p - o) * (p - o)
    }.sum / sc.length
    val brier = row.getAs[Double]("brier")
    // |p4/1e4 - p| <= 5e-5 per doc => |quantized - exact| <= 2*5e-5 + (5e-5)^2
    assert(math.abs(brier - exact) < 1.2e-4, s"quantized $brier vs exact $exact")
    assert(row.getAs[Long]("n_docs") == sc.length)
    val (rel, res, unc) = (row.getAs[Double]("reliability"),
      row.getAs[Double]("resolution"), row.getAs[Double]("uncertainty"))
    assert(rel >= 0.0 && res >= 0.0 && unc >= 0.0 && unc <= 0.25)
    // Murphy identity up to within-bin variance (bins are 0.1 wide) + quantization
    assert(math.abs(brier - (rel - res + unc)) < 0.01,
      s"decomposition gap: brier=$brier rel=$rel res=$res unc=$unc")
    // uncertainty recomputed from the planted outcome rate
    val obar = sc.count(_.getAs[Long]("doc_id") % 7 == 0).toDouble / sc.length
    assert(row.getAs[Double]("uncertainty") == obar * (1.0 - obar))
  }

  test("q_ks_test: one pair recomputed exactly; statistic bounded") {
    val rows = SparkEntry.queries("q_ks_test")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Double]("d_stat")
      assert(d >= 0.0 && d <= 1.0)
      assert(r.getAs[Long]("d_num") ==
        math.round(d * r.getAs[Long]("n_a") * r.getAs[Long]("n_b")))
    }
    // recompute the first pair from the raw docs
    val h = rows.head
    val (sa, sb) = (h.getAs[String]("source_a"), h.getAs[String]("source_b"))
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select($"source", $"n_chars").collect()
    val xa = docs.filter(_.getString(0) == sa).map(_.getLong(1)).sorted
    val xb = docs.filter(_.getString(0) == sb).map(_.getLong(1)).sorted
    assert(h.getAs[Long]("n_a") == xa.length && h.getAs[Long]("n_b") == xb.length)
    val grid = (xa ++ xb).distinct.sorted
    val dev = grid.map { v =>
      val c1 = xa.count(_ <= v).toLong; val c2 = xb.count(_ <= v).toLong
      math.abs(c1 * xb.length - c2 * xa.length)
    }.max
    assert(h.getAs[Long]("d_num") == dev)
  }

  test("q_gini: one source recomputed from the sorted raw lengths") {
    val rows = SparkEntry.queries("q_gini")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, s"gini out of range: $g")
    }
    val h = rows.head
    val xs = graft.sources.Tables.documents(spark, Sf0001)
      .filter($"source" === h.getAs[String]("source"))
      .select($"n_chars").collect().map(_.getLong(0)).sorted
    val n = xs.length.toLong
    val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val g = (2.0 * six - (n + 1) * xs.sum).toDouble / (n * xs.sum).toDouble
    assert(math.abs(h.getAs[Double]("gini") - g) < 1e-12)
  }

  test("q_moments: one priority recomputed from quantized cents") {
    val rows = SparkEntry.queries("q_moments")(spark, Sf0001).collect()
    assert(rows.length == 5)
    val h = rows.head
    val ks = graft.sources.Tables.orders(spark, Sf0001)
      .filter($"o_orderpriority" === h.getAs[String]("o_orderpriority"))
      .select($"o_totalprice").collect()
      .map { r =>
        val cents = BigDecimal(r.getDouble(0)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100
        (cents.toLongExact + 50000L) / 100000L
      }
    assert(h.getAs[Long]("n") == ks.length)
    assert(h.getAs[Long]("s1") == ks.sum)
    assert(h.getAs[Long]("s2") == ks.map(k => k * k).sum)
    val mean = ks.sum.toDouble / ks.length
    assert(math.abs(h.getAs[Double]("mean_k") - mean) < 1e-12)
    // skew/kurt finite and var positive on real price spread
    assert(h.getAs[Double]("var_k") > 0.0)
    assert(!h.getAs[Double]("skew").isNaN && !h.getAs[Double]("kurt").isNaN)
  }

  test("q_hits: driver replay of both pinned iterations is bit-exact; L1 norms hold") {
    val rows = q("q_hits").collect()
    // rebuild the bipartite customer→part edge set on the driver
    val ordCust = graft.sources.Tables.orders(spark, Sf0001)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = graft.sources.Tables.lineitem(spark, Sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (ordCust(r.getLong(0)), r.getLong(1))).distinct
    val m = edges.length.toLong
    def pin(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    // iteration 1: authority = in-degree / m, hub = normalized pinned sums
    val inDeg = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val outDeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val a1 = inDeg.map { case (p, dg) => p -> dg.toDouble / m.toDouble }
    val h1d = edges.groupBy(_._1).view
      .mapValues(_.map(e => pin(a1(e._2))).sum).toMap
    val h1t = h1d.values.sum
    val h1 = h1d.map { case (c, v) => c -> v.toDouble / h1t.toDouble }
    // iteration 2
    val a2d = edges.groupBy(_._2).view
      .mapValues(_.map(e => pin(h1(e._1))).sum).toMap
    val a2t = a2d.values.sum
    val a2 = a2d.map { case (p, v) => p -> v.toDouble / a2t.toDouble }
    val h2d = edges.groupBy(_._1).view
      .mapValues(_.map(e => pin(a2(e._2))).sum).toMap
    val h2t = h2d.values.sum
    val h2 = h2d.map { case (c, v) => c -> v.toDouble / h2t.toDouble }
    val (auths, hubs) = rows.partition(_.getAs[String]("role") == "authority")
    assert(auths.length == inDeg.size && hubs.length == outDeg.size)
    auths.foreach { r =>
      val p = r.getAs[Long]("id")
      assert(r.getAs[Long]("degree") == inDeg(p))
      assert(r.getAs[Double]("score") == a2(p), s"authority $p")
    }
    hubs.foreach { r =>
      val c = r.getAs[Long]("id")
      assert(r.getAs[Long]("degree") == outDeg(c))
      assert(r.getAs[Double]("score") == h2(c), s"hub $c")
    }
    // L1 normalization: each role's scores sum to ~1 and every score > 0
    assert(math.abs(auths.map(_.getAs[Double]("score")).sum - 1.0) < 1e-9)
    assert(math.abs(hubs.map(_.getAs[Double]("score")).sum - 1.0) < 1e-9)
    assert(rows.forall(_.getAs[Double]("score") > 0.0))
  }

  test("q_allen: census partitions all consecutive pairs; impossible relations absent") {
    val rows = q("q_allen").collect()
    assert(rows.nonEmpty)
    // ordered pairs (a1 <= b1) make 'after'/'overlapped_by' structurally impossible
    val rels = rows.map(_.getAs[String]("rel")).toSet
    assert(!rels.contains("after") && !rels.contains("overlapped_by"))
    // driver replay: spans, per-customer consecutive pairing, same CASE ladder
    import java.time.LocalDateTime
    val ship = graft.sources.Tables.lineitem(spark, Sf0001)
      .groupBy("l_orderkey").agg(max("l_shipdate").as("a2"))
      .collect().map(r => r.getLong(0) -> r.getAs[LocalDateTime]("a2")).toMap
    val spans = graft.sources.Tables.orders(spark, Sf0001)
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate").collect()
      .flatMap { r =>
        val a1 = r.getAs[LocalDateTime]("o_orderdate")
        ship.get(r.getLong(0)).map { s =>
          val a2 = if (s.isBefore(a1)) a1 else s // span end clamped to >= start
          (r.getLong(1), r.getLong(0), r.getString(2), a1, a2)
        }
      }
    def classify(a1: LocalDateTime, a2: LocalDateTime,
        b1: LocalDateTime, b2: LocalDateTime): String = {
      def lt(x: LocalDateTime, y: LocalDateTime) = x.isBefore(y)
      if (lt(a2, b1)) "before" else if (lt(b2, a1)) "after"
      else if (a2 == b1) "meets" else if (b2 == a1) "met_by"
      else if (a1 == b1 && a2 == b2) "equals"
      else if (a1 == b1 && lt(a2, b2)) "starts"
      else if (a1 == b1) "started_by"
      else if (a2 == b2 && lt(b1, a1)) "finishes"
      else if (a2 == b2) "finished_by"
      else if (lt(b1, a1) && lt(a2, b2)) "during"
      else if (lt(a1, b1) && lt(b2, a2)) "contains"
      else if (lt(a1, b1)) "overlaps" else "overlapped_by"
    }
    val expected = spans.groupBy(_._1).values.flatMap { os =>
      val sorted = os.sortBy(o =>
        (o._4.toEpochSecond(java.time.ZoneOffset.UTC), o._4.getNano, o._2))
      sorted.zip(sorted.drop(1)).map { case (a, b) =>
        (a._3, classify(a._4, a._5, b._4, b._5))
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => (r.getAs[String]("priority"), r.getAs[String]("rel")) ->
      r.getAs[Long]("n")).toMap == expected)
    // shares sum to ~1 within each priority
    rows.groupBy(_.getAs[String]("priority")).values.foreach { g =>
      assert(math.abs(g.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
    }
  }

  test("q_sax: words replay from a driver z-scan; symbols respect the breakpoints") {
    val rows = q("q_sax").collect()
    assert(rows.nonEmpty)
    val days = graft.sources.Tables.orders(spark, Sf0001)
      .select((unix_micros(col("o_orderdate").cast("timestamp")) / 86400000000L)
        .cast("long").as("day"))
      .collect().map(_.getLong(0))
    val lo = days.min
    val weeks = days.map(d => (d - lo) / 7).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val nW = (days.max - lo) / 7 + 1
    val series = (0L until nW).map(w => weeks.getOrElse(w, 0L))
    val (n, t, t2) = (series.length.toLong, series.sum, series.map(x => x * x).sum)
    val z = series.map(sw => (n * sw - t).toDouble / math.sqrt((n * t2 - t * t).toDouble))
    val sym = z.map(v => if (v < -0.6745) "a" else if (v < 0.0) "b"
      else if (v < 0.6745) "c" else "d")
    val words = sym.zipWithIndex.groupBy(_._2 / 8).view
      .mapValues(_.sortBy(_._2).map(_._1).mkString).toMap
    assert(rows.map(_.getAs[Long]("n_weeks")).sum == nW)
    rows.foreach { r =>
      val idx = r.getAs[Long]("word_idx")
      assert(r.getAs[String]("word") == words(idx.toInt), s"word $idx")
      val zs = z.slice(idx.toInt * 8, idx.toInt * 8 + 8)
      assert(r.getAs[Double]("z_min") == zs.min && r.getAs[Double]("z_max") == zs.max)
    }
    // the corpus must actually exercise every symbol or the banding is untested
    assert(rows.flatMap(_.getAs[String]("word")).toSet == Set('a', 'b', 'c', 'd'))
  }

  test("q_mann_whitney: driver rank-sum replay is exact; z identity holds") {
    val row = q("q_mann_whitney").collect().head
    val xs = graft.sources.Tables.lineitem(spark, Sf0001)
      .filter($"l_returnflag".isin("R", "A"))
      .select($"l_returnflag", $"l_extendedprice".cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val byVal = xs.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, rs) =>
      (v, rs.count(_._1 == "R").toLong, rs.count(_._1 == "A").toLong)
    }
    val nA = byVal.map(_._2).sum; val nB = byVal.map(_._3).sum
    assert(row.getAs[Long]("n_a") == nA && row.getAs[Long]("n_b") == nB)
    // 2·U_A via the ascending prefix of the B arm (ties get the ×2 half-credit)
    var pb = 0L; var twoU = 0L; var tie = 0L
    for ((_, ca, cb) <- byVal) {
      twoU += ca * (2L * pb + cb); pb += cb
      val t = ca + cb; tie += t * t * t - t
    }
    assert(row.getAs[Long]("two_u_a") == twoU, "2U mismatch")
    assert(row.getAs[Long]("tie_term") == tie, "tie term mismatch")
    // z replay with the exact same IEEE composite shape
    val z = (twoU.toDouble - nA.toDouble * nB.toDouble) /
      math.sqrt((nA.toDouble * nB.toDouble / 3.0) *
        ((nA + nB + 1).toDouble - tie.toDouble /
          ((nA + nB).toDouble * (nA + nB - 1).toDouble)))
    assert(row.getAs[Double]("z") == z)
    // U_A + U_B = n_a·n_b (rank-sum identity): 2U_B from the descending scan
    var pa = 0L; var twoUB = 0L
    for ((_, ca, cb) <- byVal) { twoUB += cb * (2L * pa + ca); pa += ca }
    assert(twoU + twoUB == 2L * nA * nB, "U_A + U_B identity")
  }

  test("q_funnel_time: driver first-purchase replay; interpolated median exact") {
    val rows = q("q_funnel_time").collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, Sf0001)
      .select($"event_type", $"user_id", unix_micros($"ts"), $"event_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clicks = evs.filter(_._1 == "click"); val purch = evs.filter(_._1 == "purchase")
    val deltas = clicks.flatMap { case (_, u, cts, cid) =>
      val within = purch.filter(p => p._2 == u && p._3 >= cts && p._3 <= cts + 3600000000L)
      if (within.isEmpty) None
      else {
        val first = within.minBy(p => (p._3, p._4))
        Some(((cts / 3600000000L) % 24L, first._3 - cts))
      }
    }
    for (r <- rows) {
      val h = r.getAs[Long]("click_hour")
      val ds = deltas.filter(_._1 == h).map(_._2).sorted
      assert(r.getAs[Long]("n_conversions") == ds.length.toLong, s"hour $h")
      assert(r.getAs[Long]("min_us") == ds.head && r.getAs[Long]("max_us") == ds.last)
      // Spark percentile / DuckDB percentile_cont interpolation replay
      val pos = 0.5 * (ds.length - 1)
      val (lo, hi) = (ds(pos.toInt), ds(math.ceil(pos).toInt))
      val med = lo + (hi - lo) * (pos - pos.toInt)
      assert(r.getAs[Double]("median_us") == med, s"median hour $h")
      assert(r.getAs[Double]("mean_us") == ds.sum.toDouble / ds.length.toDouble)
    }
    assert(rows.map(_.getAs[Long]("n_conversions")).sum == deltas.length.toLong)
  }

  test("q_exact_quantiles: driver sort replay — the k-th order statistic, exactly") {
    val rows = q("q_exact_quantiles").collect()
    assert(rows.map(_.getAs[String]("p")).sorted.toSeq ==
      Seq("p25", "p50", "p75", "p99"))
    val prices = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_extendedprice".cast("double")).collect()
      .map(_.getDouble(0)).sorted
    val n = prices.length.toLong
    val expectK = Map("p25" -> (n + 3) / 4, "p50" -> (n + 1) / 2,
      "p75" -> (3 * n + 3) / 4, "p99" -> (99 * n + 99) / 100)
    for (r <- rows) {
      val p = r.getAs[String]("p")
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("k") == expectK(p), s"$p k")
      assert(r.getAs[Double]("value") == prices(expectK(p).toInt - 1),
        s"$p order statistic")
    }
  }

  test("q_group_quantiles: per-group driver sort replay") {
    val rows = q("q_group_quantiles").collect()
    val byFlag = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_returnflag", $"l_extendedprice".cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.map(_.getAs[String]("flag")).distinct.sorted.toSeq ==
      byFlag.keys.toSeq.sorted)
    for (r <- rows) {
      val prices = byFlag(r.getAs[String]("flag"))
      val n = prices.length.toLong
      assert(r.getAs[Long]("n") == n)
      val k = r.getAs[Long]("k")
      assert(r.getAs[Double]("value") == prices(k.toInt - 1),
        s"${r.getAs[String]("flag")}/${r.getAs[String]("p")}")
    }
  }

  test("q_cdc_apply: driver change-log replay; tombstoned keys absent") {
    val rows = q("q_cdc_apply").collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, Sf0001)
      .select($"user_id", unix_micros($"ts"), $"event_id", $"event_type", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    val lastPerKey = evs.groupBy(_._1).view
      .mapValues(_.maxBy(e => (e._2, e._3))).toMap
    val expected = lastPerKey.filter(_._2._4 != "error")
    assert(rows.length == expected.size,
      s"${rows.length} survivors vs driver ${expected.size}")
    // every tombstoned key (last change = 'error') must be ABSENT
    val out = rows.map(r => r.getAs[Long]("user_id") ->
      (r.getAs[String]("last_type"), r.getAs[Double]("last_value"),
        r.getAs[Long]("last_us"))).toMap
    val deleted = lastPerKey.filter(_._2._4 == "error").keySet
    assert(deleted.nonEmpty, "fixture sanity: some key must end on a tombstone")
    deleted.foreach(k => assert(!out.contains(k), s"tombstoned key $k survived"))
    expected.foreach { case (k, (_, us, _, tpe, v)) =>
      assert(out(k) == ((tpe, v, us)), s"key $k")
    }
  }

  test("q_dp_release: Laplace inverse-CDF replayed on the driver; noise scale = 1/eps") {
    val rows = q("q_dp_release").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (u, eps) = (r.getAs[Double]("u"), r.getAs[Double]("epsilon_nominal"))
      assert(u > 0.0 && u < 1.0 && u != 0.5)
      val raw =
        if (u < 0.5) (1.0 / eps) * math.log(2.0 * u)
        else -(1.0 / eps) * math.log(2.0 * (1.0 - u))
      // replay the DECIMAL(18,9) pin (exact-binary HALF_UP, the Spark cast)
      val expected = new java.math.BigDecimal(raw)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(r.getAs[Double]("noise") == expected, s"nation ${r.getLong(0)}")
      assert(r.getAs[Double]("released_test") ==
        r.getAs[Long]("true_n").toDouble + expected)
    }
    // the mechanism actually perturbs: not every noise is ~0
    assert(rows.exists(r => math.abs(r.getAs[Double]("noise")) > 0.1))
  }

  test("q_brand_mixing: driver mixing-matrix recount; Newman r bounded and exact") {
    val rows = q("q_brand_mixing").collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    val edges = li.groupBy(_._1).values.toVector.flatMap { g =>
      val ps = g.map(_._2).distinct
      for (a <- ps; b <- ps; if a < b) yield (a, b)
    }.toSet
    val brand = graft.sources.Tables.part(spark, Sf0001)
      .select($"p_partkey", $"p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dir = edges.toVector.flatMap(e => Vector(e, e.swap))
    val byBrand = dir.groupBy(e => brand(e._1)).view.mapValues { es =>
      (es.size.toLong, es.count(e => brand(e._1) == brand(e._2)).toLong)
    }.toMap
    val m2 = byBrand.values.map(_._1).sum
    val diag = byBrand.values.map(_._2).sum
    val sq = byBrand.values.map(v => v._1 * v._1).sum
    val rExp = (m2 * diag - sq).toDouble / (m2 * m2 - sq).toDouble
    for (r <- rows) {
      val (re, ie) = byBrand(r.getAs[String]("brand"))
      assert(r.getAs[Long]("row_edges") == re && r.getAs[Long]("intra_edges") == ie)
      assert(r.getAs[Double]("intra_share") == ie.toDouble / re.toDouble)
      assert(r.getAs[Double]("assortativity_r") == rExp)
    }
    val rv = rows.head.getAs[Double]("assortativity_r")
    assert(rv >= -1.0 && rv <= 1.0, s"r out of range: $rv")
  }

  test("q_ppr: driver replay of both pinned iterations is bit-exact; mass conserved") {
    val rows = q("q_ppr").collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    val edges = li.groupBy(_._1).values.toVector.flatMap { g =>
      val ps = g.map(_._2).distinct
      for (a <- ps; b <- ps; if a < b) yield (a, b)
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val seeds = deg.toSeq.sortBy { case (n, dv) => (-dv, n) }.take(4).map(_._1).toSet
    val adj = edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var r = deg.keys.map(n => n -> (if (seeds(n)) 0.25 else 0.0)).toMap
    for (_ <- 1 to 2) {
      // same pin the query applies: each contribution r(u)/d(u) through
      // DECIMAL(18,12) (exact-binary HALF_UP), summed exactly
      val sc = deg.keys.map { v =>
        val terms = adj(v).map { u =>
          new java.math.BigDecimal(r(u) / deg(u).toDouble)
            .setScale(12, java.math.RoundingMode.HALF_UP)
        }
        v -> terms.foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      }.toMap
      r = deg.keys.map { v =>
        v -> ((if (seeds(v)) 0.15 * 0.25 else 0.0) + 0.85 * sc(v).doubleValue)
      }.toMap
    }
    for (row <- rows) {
      val n = row.getAs[Long]("node")
      assert(row.getAs[Long]("degree") == deg(n))
      assert(row.getAs[Boolean]("is_seed") == seeds(n))
      val pinned = new java.math.BigDecimal(r(n))
        .setScale(14, java.math.RoundingMode.HALF_UP).doubleValue
      assert(row.getAs[Double]("ppr") == pinned, s"node $n")
    }
    // PPR conserves mass up to pin dust: Σr = 0.15 + 0.85·Σr_prev
    val mass = rows.map(_.getAs[Double]("ppr")).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"mass $mass")
    rows.foreach(row => assert(row.getAs[Double]("ppr") >= 0.0))
  }

  test("q_weekday_mix: chi2 recomputed from driver weekday counts; flag is the integer compare") {
    val rows = q("q_weekday_mix").collect()
    assert(rows.length == 7)
    val days = graft.sources.Tables.orders(spark, Sf0001)
      .select(datediff($"o_orderdate", lit("1970-01-01"))).collect()
      .map(r => (r.getInt(0) % 7).toLong)
    val counts = days.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = days.length.toLong
    val sq = counts.values.map(c => c * c).sum
    for (r <- rows) {
      val wd = r.getAs[Long]("weekday")
      assert(r.getAs[Long]("n_orders") == counts(wd))
      assert(r.getAs[Double]("share") == counts(wd).toDouble / n.toDouble)
      assert(r.getAs[Double]("chi2") == (7L * sq - n * n).toDouble / n.toDouble)
      assert(r.getAs[Boolean]("reject_uniform") ==
        (1000L * (7L * sq - n * n) > 12592L * n))
    }
    // chi2 is nonnegative by Cauchy-Schwarz (7·Σo² >= (Σo)²)
    assert(rows.head.getAs[Double]("chi2") >= 0.0)
  }

  test("q_burstiness: dispersion recomputed from driver daily counts; flag coherent") {
    val rows = q("q_burstiness").collect()
    assert(rows.nonEmpty)
    val daily = graft.sources.Tables.events(spark, Sf0001)
      .select($"event_type", unix_micros($"ts"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 86400000000L))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((t, d), y) => (t, d, y) }
    for (r <- rows) {
      val ys = daily.filter(_._1 == r.getAs[String]("event_type")).map(_._3)
      val (n, s, syy) = (ys.length.toLong, ys.sum, ys.map(y => y * y).sum)
      assert(r.getAs[Long]("n_days") == n && r.getAs[Long]("total") == s)
      assert(r.getAs[Long]("syy") == syy)
      assert(r.getAs[Double]("mean") == s.toDouble / n.toDouble)
      val num = n * syy - s * s
      assert(r.getAs[Double]("dispersion") == num.toDouble / ((n - 1) * s).toDouble)
      assert(r.getAs[Boolean]("is_bursty") == (num > (n - 1) * s))
      // the sample-variance identity: dispersion · mean == s² (within ulp)
      val mean = s.toDouble / n
      val varSample = ys.map(y => (y - mean) * (y - mean)).sum / (n - 1)
      assert(math.abs(r.getAs[Double]("dispersion") * mean - varSample)
        < 1e-6 * varSample + 1e-9)
    }
  }

  test("q_k_anonymity: driver recount of cells, violations and suppression") {
    val rows = q("q_k_anonymity").collect()
    assert(rows.nonEmpty)
    val cust = graft.sources.Tables.customer(spark, Sf0001)
      .select($"c_nationkey".cast("long"), $"c_mktsegment", $"c_acctbal")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // exact cents, then floor-division — the integer twin of the
    // query's FLOOR(DECIMAL/2000)
    val cells = cust.groupBy { case (nat, _, bal) =>
      (nat, Math.floorDiv(math.round(bal * 100), 200000L))
    }.map { case ((nat, b), rs) =>
      (nat, b, rs.length.toLong, rs.map(_._2).distinct.length.toLong)
    }.toSeq
    for (r <- rows) {
      val nat = r.getAs[Long]("nation")
      val mine = cells.filter(_._1 == nat)
      assert(r.getAs[Long]("n_cells") == mine.length.toLong, s"cells nation $nat")
      assert(r.getAs[Long]("n_rows") == mine.map(_._3).sum)
      assert(r.getAs[Long]("min_cell") == mine.map(_._3).min)
      assert(r.getAs[Long]("k_violations") == mine.count(_._3 < 5L).toLong)
      val sup = mine.filter(_._3 < 5L).map(_._3).sum
      assert(r.getAs[Long]("suppressed_rows") == sup)
      assert(r.getAs[Long]("l1_cells") == mine.count(_._4 == 1L).toLong)
      assert(r.getAs[Double]("suppression_rate") ==
        sup.toDouble / mine.map(_._3).sum.toDouble)
    }
  }

  test("q_trend: driver OLS replay is exact; fit reproduces the monthly points") {
    val rows = q("q_trend").collect()
    assert(rows.nonEmpty)
    val monthly = graft.sources.Tables.orders(spark, Sf0001)
      .select($"o_orderpriority",
        (year($"o_orderdate") * 12 + month($"o_orderdate") - 1).as("m"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((p, m), y) => (p, m.toLong, y) }
    val m0 = monthly.map(_._2).min
    for (r <- rows) {
      val pts = monthly.filter(_._1 == r.getAs[String]("priority"))
        .map(t => (t._2 - m0, t._3))
      val n = pts.length.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(t => t._1 * t._2).sum
      val sxx = pts.map(t => t._1 * t._1).sum
      val syy = pts.map(t => t._2 * t._2).sum
      assert(r.getAs[Long]("n_months") == n && r.getAs[Long]("sy") == sy)
      val (num, denx, deny) = (n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
      assert(r.getAs[Double]("slope") == num.toDouble / denx.toDouble)
      assert(r.getAs[Double]("intercept") ==
        (sy * sxx - sx * sxy).toDouble / denx.toDouble)
      assert(r.getAs[Double]("r2") ==
        (num.toDouble * num.toDouble) / (denx.toDouble * deny.toDouble))
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-12, s"r2 out of range: $r2")
    }
  }

  test("q_changepoint: the elected split maximizes between-segment SS exactly") {
    val row = q("q_changepoint").collect().head
    val daily = graft.sources.Tables.orders(spark, Sf0001)
      .select(datediff($"o_orderdate", lit("1970-01-01")).cast("long"))
      .collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val n = daily.length.toLong
    val s = daily.map(_._2).sum
    // exact rational comparison across ALL splits (no double ranking):
    // num²/(i(n−i)) vs num'²/(i'(n−i')) by cross-multiplication in BigInt
    var best: (BigInt, BigInt, Long, Long, Long) = null // num², den, day, i, s_l
    var sl = 0L
    for (((day, y), idx) <- daily.zipWithIndex; if idx < n - 1) {
      sl += y
      val i = idx + 1L
      val num2 = BigInt(sl) * n - BigInt(s) * i
      val cand = (num2 * num2, BigInt(i) * (n - i), day, i, sl)
      if (best == null || cand._1 * best._2 > best._1 * cand._2) best = cand
    }
    assert(row.getAs[Long]("split_day") == best._3, "elected split differs from exact argmax")
    assert(row.getAs[Long]("n_left") == best._4)
    assert(row.getAs[Long]("sum_left") == best._5)
    assert(row.getAs[Long]("n_right") == n - best._4)
    assert(row.getAs[Long]("sum_right") == s - best._5)
    val numD = (BigInt(best._5) * n - BigInt(s) * best._4).toDouble
    assert(row.getAs[Double]("score") ==
      (numD * numD) / ((best._4 * (n - best._4)).toDouble * n.toDouble))
  }

  test("q_gap_fill: every gap interpolates its exact bracketing rational") {
    val rows = SparkEntry.queries("q_gap_fill")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Boolean]("is_filled")), "fixture has no gaps — query untested")
    val byRegion = rows.groupBy(_.getAs[String]("region"))
    for ((_, rs) <- byRegion) {
      val sorted = rs.sortBy(_.getAs[Long]("day_idx"))
      // spine is contiguous and bounded by observed days
      val days = sorted.map(_.getAs[Long]("day_idx"))
      assert(days.zip(days.tail).forall(t => t._2 == t._1 + 1), "spine not contiguous")
      assert(!sorted.head.getAs[Boolean]("is_filled") && !sorted.last.getAs[Boolean]("is_filled"))
      val obs = sorted.filter(!_.getAs[Boolean]("is_filled"))
        .map(r => r.getAs[Long]("day_idx") -> r.getAs[Long]("n_orders")).toVector
      for (r <- sorted; if r.getAs[Boolean]("is_filled")) {
        val d = r.getAs[Long]("day_idx")
        val (aDay, aVal) = obs.filter(_._1 < d).last
        val (bDay, bVal) = obs.find(_._1 > d).get
        val num = aVal * (bDay - d) + bVal * (d - aDay)
        val den = bDay - aDay
        assert(r.isNullAt(r.fieldIndex("n_orders")))
        assert(r.getAs[Long]("fill_num") == num, s"day $d num")
        assert(r.getAs[Long]("fill_den") == den, s"day $d den")
        assert(r.getAs[Double]("filled") == num.toDouble / den.toDouble)
      }
      for (r <- sorted; if !r.getAs[Boolean]("is_filled")) {
        assert(r.getAs[Long]("fill_num") == r.getAs[Long]("n_orders"))
        assert(r.getAs[Long]("fill_den") == 1L)
        assert(r.getAs[Double]("filled") == r.getAs[Long]("n_orders").toDouble)
      }
    }
  }

  test("q_rolling_distinct: driver 7-day set replay matches; WAU >= DAU") {
    val rows = q("q_rolling_distinct").collect()
    assert(rows.nonEmpty)
    val ud = graft.sources.Tables.events(spark, Sf0001)
      .select($"user_id", unix_micros($"ts").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1) / 86400000000L)).distinct
    val lo = ud.map(_._2).min; val hi = ud.map(_._2).max
    assert(rows.map(_.getAs[Long]("day_idx")).toSeq == (lo to hi).toSeq)
    for (r <- rows) {
      val d = r.getAs[Long]("day_idx")
      val wau = ud.filter(t => t._2 >= d - 6 && t._2 <= d).map(_._1).distinct.length
      val dau = ud.filter(_._2 == d).map(_._1).distinct.length
      assert(r.getAs[Long]("users_7d") == wau, s"wau day $d")
      assert(r.getAs[Long]("dau") == dau, s"dau day $d")
      assert(r.getAs[Long]("dau") <= r.getAs[Long]("users_7d"))
      assert(r.getAs[Double]("stickiness") == dau.toDouble / wau.toDouble)
    }
  }

  test("q_common_paths: driver trigram mining replays the top-20 exactly") {
    val rows = q("q_common_paths").collect()
    assert(rows.length == 20)
    val evs = graft.sources.Tables.events(spark, Sf0001)
      .select($"user_id", unix_micros($"ts"), $"event_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val tris = evs.groupBy(_._1).toSeq.flatMap { case (uid, rs) =>
      val s = rs.sortBy(r => (r._2, r._3)).map(_._4)
      s.sliding(3).filter(_.length == 3).map(w => (w.mkString(">"), uid))
    }
    val top = tris.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).distinct.size.toLong))
      .toSeq.map { case (p, (n, u)) => (p, n, u) }
      .sortBy(t => (-t._2, t._1)).take(20)
    assert(rows.map(r => (r.getAs[String]("path"), r.getAs[Long]("n"),
      r.getAs[Long]("n_users"))).toSeq == top)
  }

  test("q_user_overlap: driver set-intersection replay; jaccard bounds") {
    val rows = q("q_user_overlap").collect()
    assert(rows.nonEmpty)
    val ut = graft.sources.Tables.events(spark, Sf0001)
      .select($"event_type", $"user_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).distinct
    val sets = ut.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = sets.keys.toSeq.sorted
    val expect = for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield (types(i), types(j))
    assert(rows.map(r => (r.getAs[String]("ta"), r.getAs[String]("tb"))).toSeq
      == expect)
    for (r <- rows) {
      val (a, b) = (sets(r.getAs[String]("ta")), sets(r.getAs[String]("tb")))
      val inter = (a intersect b).size.toLong
      assert(r.getAs[Long]("sa") == a.size && r.getAs[Long]("sb") == b.size)
      assert(r.getAs[Long]("inter") == inter)
      val j = r.getAs[Double]("jaccard")
      assert(j == inter.toDouble / (a.size + b.size - inter).toDouble)
      assert(j >= 0.0 && j <= 1.0)
    }
  }
}
