package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.{Enrich, IdOps}

/** Property-based tests (SURVEY.md §5.3) using ScalaCheck generators
  * with manual sampling (the scalatest-scalacheck bridge artifact is
  * not in the offline cache): JSON round-trip on the event schema,
  * engagement_pct invariants, UUID-normalization determinism and
  * idempotence, dedup idempotence under replay.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Draw `n` samples from a generator across repeated trials. */
  private def forAllSampled[A](gen: Gen[A], trials: Int = 5)(body: A => Unit): Unit =
    (1 to trials).foreach { _ =>
      gen.sample.foreach(body)
    }

  private val evGen = for {
    id <- Gen.choose(0L, 1000000L)
    user <- Gen.choose(0L, 500L)
    tpe <- Gen.oneOf("play", "pause", "finish", "click")
    value <- Gen.option(Gen.choose(0.0, 100000.0).map(v => math.rint(v * 100) / 100))
    k <- Gen.choose(0L, 99L)
    tsMs <- Gen.choose(1704067200000L, 1706745600000L)
  } yield (id, user, tpe, value, k, tsMs)

  test("to_json ∘ from_json round-trips the event schema (F2/F8)") {
    forAllSampled(Gen.listOfN(20, evGen)) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("event_id", "user_id", "event_type", "value", "prop_k", "ts_ms")
          .withColumn("ts", timestamp_millis($"ts_ms")).drop("ts_ms")
        val schema = df.schema
        val back = df
          .select(to_json(struct(df.columns.map(col): _*)).as("j"))
          .select(from_json($"j", schema).as("s"))
          .select("s.*")
        assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
      }
    }
  }

  test("engagement metrics: pct null iff an input is null/unusable, else value*100/denominator (F4/F5)") {
    forAllSampled(Gen.listOfN(30, evGen)) { rows =>
      if (rows.nonEmpty) {
        val ev = rows.zipWithIndex.map { case ((_, u, t, v, k, ms), i) =>
          (i.toLong, u, t, v, k, ms)
        }.toDF("event_id", "user_id", "event_type", "value", "prop_k", "ts_ms")
          .withColumn("ts", timestamp_millis($"ts_ms"))
          .withColumn("props", to_json(struct($"prop_k".as("k"))))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
        // dim with positive, negative, zero and missing denominators
        val dim = Seq(
          (0L, "c0", "S", 100.0), (1L, "c1", "S", -1.0), (2L, "c2", "S", 0.0)
        ).toDF("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        val out = Enrich.transform(ev, dim).collect()
        out.foreach { r =>
          val pct = r.getAs[Any]("engagement_pct")
          val v = r.getAs[Any]("value")
          val bal = r.getAs[Any]("c_acctbal")
          val usable = v != null && bal != null && bal.asInstanceOf[Double] > 0.0
          if (!usable) assert(pct == null)
          else assert(pct.asInstanceOf[Double] ==
            v.asInstanceOf[Double] * 100.0 / bal.asInstanceOf[Double])
        }
      }
    }
  }

  test("uuidNormalize is deterministic, idempotent on its own output shape, and total (U1)") {
    val strGen = Gen.oneOf(
      Gen.choose(0L, Long.MaxValue).map(_.toString),
      Gen.uuid.map(_.toString),
      Gen.uuid.map(_.toString.toUpperCase),
      Gen.alphaNumStr.suchThat(_.nonEmpty))
    forAllSampled(Gen.listOfN(25, strGen)) { vals =>
      if (vals.nonEmpty) {
        val df = vals.toDF("v")
        val once = df.select(IdOps.uuidNormalize($"v").as("u"))
        val twice = df.select(IdOps.uuidNormalize(IdOps.uuidNormalize($"v")).as("u"))
        // applying again never changes the result (already-normalized
        // values hit the passthrough branch)
        assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
        // always the 8-4-4-4-12 shape
        val bad = once.filter(!$"u".rlike(
          "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")).count()
        assert(bad == 0)
      }
    }
  }

  test("graft_simhash_agg matches a driver-side reference fold on random weighted tokens") {
    // the streaming aggregate's distributed partial/merge path must
    // equal the textbook definition — Σ ((h>>j & 1)*2−1)·w per bit,
    // strictly-positive rule — for ANY multiset of (hash, weight)
    // rows, including negative hashes and multi-group frames
    graft.functions.NativeFunctions.register(spark)
    def reference(rows: Seq[(Long, Long)]): Long = {
      val sums = new Array[Long](64)
      rows.foreach { case (h, w) =>
        var j = 0
        while (j < 64) { sums(j) += (((h >>> j) & 1L) * 2L - 1L) * w; j += 1 }
      }
      (0 until 64).foldLeft(0L) { (sig, j) =>
        if (sums(j) > 0L) sig | (1L << j) else sig
      }
    }
    val rowGen = for {
      grp <- Gen.choose(0, 3)
      h <- Gen.choose(Long.MinValue, Long.MaxValue)
      w <- Gen.choose(1L, 20L)
    } yield (grp, h, w)
    forAllSampled(Gen.listOfN(80, rowGen)) { rows =>
      if (rows.nonEmpty) {
        val got = rows.toDF("grp", "h", "w")
          .repartition(8) // force multi-partition partial/merge
          .groupBy($"grp")
          .agg(expr("graft_simhash_agg(h, w)").as("sig"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val want = rows.groupBy(_._1)
          .map { case (g, rs) => g -> reference(rs.map(t => (t._2, t._3))) }
        assert(got == want)
      }
    }
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    val graphGen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 60)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(1L, n.toLong), Gen.choose(1L, n.toLong)))
    } yield (n, edges)
    forAllSampled(graphGen, trials = 4) { case (n, edges) =>
      // reference: plain union-find with path compression
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map { i =>
        // component label = min node id of the component
        val members = (1 to n).filter(j => find(j) == find(i))
        (i.toLong, members.min.toLong)
      }.toSet
      val nodes = (1L to n.toLong).toDF("doc_id")
      val edgeDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edges.toDF("src", "dst")
      val got = graft.operators.TextOps.connectedComponents(nodes, edgeDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"n=$n edges=$edges")
    }
  }

  test("one-pass SimHashDoc matches the aggregate signature build, both families") {
    // the r14 shuffle-free signature build must be BIT-IDENTICAL to
    // the explode → groupBy(doc_id, tok) → graft_simhash_agg pipeline
    // it replaces — same multiplicity weighting, same per-family
    // hashes, same sign fold — on arbitrary token streams (repeats,
    // empty tokens, unicode, single-token docs)
    val tokGen = Gen.oneOf("a", "b", "bb", "the", "x1", "", "çé", "日本",
      "zz9", "longish-token-value")
    val docGen = for {
      n <- Gen.choose(0, 40)
      toks <- Gen.listOfN(n, tokGen)
    } yield toks.mkString(" ") // join/split round-trips "" tokens too
    forAllSampled(Gen.listOfN(25, docGen), trials = 3) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def sigs(family: String, onePass: Boolean): Map[Long, Option[Long]] =
        graft.operators.TextOps.simhashSigsPlan(docs, family, onePass)
          .collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      for (fam <- Seq("xx", "md5")) {
        val agg = sigs(fam, onePass = false)
        val one = sigs(fam, onePass = true)
        assert(one == agg, s"family=$fam texts=$texts")
      }
    }
  }

  test("SimHashDoc yields null for an EMPTY token array, both families") {
    // 'doc absent' semantics: the aggregate path's explode emits no
    // row for a zero-element array, so the one-pass form must yield
    // null — NOT signature 0L, which a doc whose hashes cancel exactly
    // could legitimately produce. Unreachable from split() output
    // (split("") is [""]) — pinned so a future call site feeding
    // filter()-ed token arrays cannot silently diverge.
    graft.functions.NativeFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash_doc_xx(CAST(array() AS ARRAY<STRING>)) AS xx,
        |       graft_simhash_doc_md5(CAST(array() AS ARRAY<STRING>)) AS md5,
        |       graft_simhash_doc_xx(filter(split('a b', ' '), x -> false)) AS xxf
        |""".stripMargin).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // interpreted (non-codegen) path too
    import org.apache.spark.sql.catalyst.util.ArrayData
    val empty = ArrayData.toArrayData(Array.empty[org.apache.spark.unsafe.types.UTF8String])
    assert(graft.functions.SimHashDoc.compute(empty, md5Family = false) == null)
    assert(graft.functions.SimHashDoc.compute(empty, md5Family = true) == null)
  }

  test("connectedComponents converges on a deep chain within the round cap") {
    // the r14 hybrid defers pointer doubling for 4 plain rounds (star/
    // clique near-dup graphs converge before it would help); this pins
    // that a genuinely DEEP component still converges under the default
    // cap — a 300-node path needs ~300 plain rounds, so only the
    // doubling phase (O(log D) after the plain prefix) can get there
    val n = 300L
    val nodes = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1L)).toDF("src", "dst")
    val got = graft.operators.TextOps.connectedComponents(nodes, chain)
      .collect()
    assert(got.length == n.toInt && got.forall(_.getLong(1) == 1L))
  }

  test("starEdges yields the same components as all-pairs edges on random blockings") {
    // the r3 rewrite claim, as a property: for ANY (key, id) blocking,
    // the linear star edge set (member -> min id per block) must give
    // exactly the components the quadratic within-block all-pairs set
    // gives — blocks sharing no id never merge, blocks are fully merged
    val blockGen = for {
      n <- Gen.choose(2, 30)
      keys <- Gen.listOfN(n, Gen.choose(0, 6)) // few keys → real blocks
    } yield keys.zipWithIndex.map { case (k, i) => (s"k$k", i.toLong + 1) }
    forAllSampled(blockGen, trials = 4) { rows =>
      val keyed = rows.toDF("dig", "doc_id")
      val star = graft.operators.TextOps.starEdges(keyed)
      val nodes = keyed.select("doc_id")
      val gotStar = graft.operators.TextOps.connectedComponents(nodes, star)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // reference: label = min id of the doc's block (blocks are
      // disjoint by construction — each doc has exactly one key)
      val minPerKey = rows.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).min }
      val expected = rows.map { case (k, id) => (id, minPerKey(k)) }.toSet
      assert(gotStar == expected, s"rows=$rows")
      // and the edge count is linear: n - (#blocks), never C(d,2)-shaped
      val nBlocks = rows.map(_._1).distinct.size
      assert(star.count() == rows.size - nBlocks)
    }
  }

  test("replay dedup is idempotent: processing a batch k times = once (T7)") {
    forAllSampled(Gen.zip(Gen.listOfN(20, evGen), Gen.choose(2, 4))) { case (rows, k) =>
      if (rows.nonEmpty) {
        val df = rows.toDF("event_id", "user_id", "event_type", "value", "prop_k", "ts_ms")
        val replayed = (1 to k).map(_ => df).reduce(_ union _)
        assert(replayed.distinct().count() == df.distinct().count())
      }
    }
  }

  test("winnowing theorem: any shared run of >= w+k-1 tokens shares a fingerprint") {
    // q_winnow_pairs' recall guarantee (Schleimer et al., winnowing
    // §3): with 4-token grams and w=5 windows, two docs sharing ANY
    // contiguous run of >= 8 tokens contain one identical full window
    // of grams, whose minimum is selected into both fingerprint sets.
    // Exercised on random docs with a random shared run spliced in at
    // random offsets — the property the fingerprint-keyed pair join's
    // completeness rests on (the df-cap is the only sanctioned loss).
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = for {
      runLen <- Gen.choose(8, 16)
      run <- Gen.listOfN(runLen, Gen.oneOf(vocab))
      aLen <- Gen.choose(0, 30)
      bLen <- Gen.choose(0, 30)
      a <- Gen.listOfN(aLen, Gen.oneOf(vocab))
      b <- Gen.listOfN(bLen, Gen.oneOf(vocab))
      ai <- Gen.choose(0, aLen)
      bi <- Gen.choose(0, bLen)
    } yield (a.take(ai) ++ run ++ a.drop(ai), b.take(bi) ++ run ++ b.drop(bi))
    forAllSampled(docGen, trials = 8) { case (a, b) =>
      val df = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
        .toDF("doc_id", "text")
      val fps = graft.operators.TextOps.winnowFrame(df)
        .select("doc_id", "fps").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      assert((fps(1L) intersect fps(2L)).nonEmpty,
        s"no shared fingerprint despite shared run:\na=${a.mkString(" ")}\nb=${b.mkString(" ")}")
    }
  }

  test("PPJoin prefix theorem: candidates cover every J >= 0.5 pair on random corpora") {
    // the losslessness claim q_dedup_prefix rests on, exercised beyond
    // the fixture: random small-vocab docs (so collisions are common),
    // including planted exact copies and docs down to 3 tokens. For
    // every pair whose distinct-3-shingle Jaccard reaches the 0.5
    // threshold, the candidate stage (prefix theorem + length filter +
    // positional/window bounds) must emit the pair — the filters may
    // only ever drop pairs BELOW the bar.
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val corpusGen = for {
      n <- Gen.choose(6, 12)
      docs <- Gen.listOfN(n, Gen.choose(3, 14)
        .flatMap(len => Gen.listOfN(len, Gen.oneOf(vocab))))
      cloneOf <- Gen.choose(0, n - 1)
    } yield docs :+ docs(cloneOf) // always at least one exact-dup pair
    forAllSampled(corpusGen, trials = 6) { docs =>
      def shingles(ts: Seq[String]): Set[String] =
        if (ts.length <= 3) Set(ts.mkString(" "))
        else ts.sliding(3).map(_.mkString(" ")).toSet
      val sets = docs.zipWithIndex.map { case (ts, i) => (i.toLong, shingles(ts)) }
      val truth = (for {
        (ai, as) <- sets; (bi, bs) <- sets if ai < bi
        j = (as & bs).size.toDouble / (as | bs).size.toDouble
        if j >= 0.5
      } yield (ai, bi)).toSet
      val sh = docs.zipWithIndex
        .flatMap { case (ts, i) => shingles(ts).map(s => (i.toLong, s)) }
        .toDF("doc_id", "sh")
      val cand = graft.operators.TextOps.ppjoinCandidates(sh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val missed = truth -- cand
      assert(missed.isEmpty,
        s"candidate stage dropped true pairs $missed over docs " +
          docs.map(_.mkString(" ")).mkString(" | "))
    }
  }

  test("graft_sorted_intersect_count == |array_intersect| on random sorted arrays") {
    graft.functions.NativeFunctions.register(spark)
    val arrGen = for {
      na <- Gen.choose(0, 30)
      nb <- Gen.choose(0, 30)
      a <- Gen.listOfN(na, Gen.choose(0L, 40L))
      b <- Gen.listOfN(nb, Gen.choose(0L, 40L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    forAllSampled(arrGen, trials = 30) { case (a, b) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          call_function("graft_sorted_intersect_count", col("a"), col("b")).as("merge"),
          size(array_intersect(col("a"), col("b"))).cast("long").as("hash"))
        .head()
      assert(row.getLong(0) == row.getLong(1),
        s"merge=${row.getLong(0)} hash=${row.getLong(1)} a=$a b=$b")
      assert(row.getLong(0) == a.toSet.intersect(b.toSet).size.toLong)
    }
  }

  test("graft_sorted_intersect_ge: exact count for pairs reaching alpha; any " +
      "early-exit value agrees with the truth on which side of alpha it falls") {
    graft.functions.NativeFunctions.register(spark)
    val arrGen = for {
      na <- Gen.choose(0, 25)
      nb <- Gen.choose(0, 25)
      a <- Gen.listOfN(na, Gen.choose(0, 30).map(i => f"tok$i%02d"))
      b <- Gen.listOfN(nb, Gen.choose(0, 30).map(i => f"tok$i%02d"))
      alpha <- Gen.choose(0L, 20L)
    } yield (a.distinct.sorted, b.distinct.sorted, alpha)
    // explicit schema: the Seq[String] encoder writes
    // ArrayType(containsNull = true), which the expression now REJECTS
    // at analysis (getUTF8String on a null slot would NPE mid-merge) —
    // the fixture must carry the same containsNull=false contract the
    // real call sites (sort_array ∘ collect_list) produce
    val geSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false))))
    forAllSampled(arrGen, trials = 40) { case (a, b, alpha) =>
      val got = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(a, b)), geSchema)
        .select(call_function("graft_sorted_intersect_ge",
          col("a"), col("b"), lit(alpha)).as("ge"))
        .head().getLong(0)
      val truth = a.toSet.intersect(b.toSet).size.toLong
      // the lossless contract: reaching alpha ⇒ the EXACT count comes
      // back; below alpha ⇒ whatever comes back is also below alpha
      if (truth >= alpha)
        assert(got == truth, s"survivor must be exact: got=$got truth=$truth " +
          s"alpha=$alpha a=$a b=$b")
      else
        assert(got < alpha, s"dead pair leaked past alpha: got=$got " +
          s"truth=$truth alpha=$alpha a=$a b=$b")
    }
  }

  test("sorted-intersect expressions reject containsNull=true arrays at analysis") {
    graft.functions.NativeFunctions.register(spark)
    // Seq[String] / Option-element encodings produce
    // ArrayType(containsNull = true); the merge loops read elements
    // null-unsafely (getLong → garbage, getUTF8String → NPE), so the
    // typecheck must fail LOUDLY instead of silently computing wrong
    // counts — these are session-registered SQL functions reachable
    // from arbitrary queries
    val nullableArrs = Seq((Seq("x", "y"), Seq("y"))).toDF("a", "b")
    val ge = intercept[org.apache.spark.sql.AnalysisException] {
      nullableArrs.select(call_function("graft_sorted_intersect_ge",
        col("a"), col("b"), lit(1L))).head()
    }
    assert(ge.getMessage.contains("non-nullable"))
    val longNullable = Seq((Seq(1L, 2L), Seq(2L))).toDF("a", "b")
      .select(col("a").cast("array<bigint>").as("a"),
        transform(col("b"), x => when(x > 0, x)).as("b"))
    val cnt = intercept[org.apache.spark.sql.AnalysisException] {
      longNullable.select(call_function("graft_sorted_intersect_count",
        col("a"), col("b"))).head()
    }
    assert(cnt.getMessage.contains("non-nullable"))
  }

  test("triangleCount == triangleRows count == brute force on random graphs") {
    val graphGen = for {
      n <- Gen.choose(3, 25)
      m <- Gen.choose(0, 80)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(1L, n.toLong), Gen.choose(1L, n.toLong)))
    } yield edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    forAllSampled(graphGen, trials = 6) { edges =>
      val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
      val nodes = adj.keys.toSeq.sorted
      val brute = (for {
        a <- nodes; b <- nodes if b > a && adj(a)(b)
        c <- nodes if c > b && adj(a)(c) && adj(b)(c)
      } yield 1).size.toLong
      val eDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("u", "v")
        else edges.toDF("u", "v")
      val degDf = eDf.select(col("u").as("node"))
        .unionAll(eDf.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val viaCount = graft.operators.GraphOps.triangleCount(eDf, degDf)
        .head().getLong(0)
      val viaRows = graft.operators.GraphOps.triangleRows(eDf, degDf).count()
      assert(viaCount == brute, s"count path: $viaCount vs brute $brute, edges=$edges")
      assert(viaRows == brute, s"rows path: $viaRows vs brute $brute, edges=$edges")
    }
  }
}
