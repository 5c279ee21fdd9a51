package graft

import org.apache.spark.sql.functions._

/** Properties of the non-oracled extension operators (SURVEY.md §5.2-3):
  * MinHash/SimHash recall of planted duplicates, LSH consistency with
  * the brute-force baseline, HLL accuracy bounds, and the multimodal
  * mapPartitions path cross-checked against the pure-expression path.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, Sf0001)

  test("co-occurrence front half: edges, directed view and degrees match a recount") {
    // coEdgesDegFused feeds every co-occurrence graph query; recount
    // all three frames on the driver from the raw sf0.001 lineitem rows
    val (e, deg, dir) = graft.operators.GraphOps.coEdgesDegFused(spark, Sf0001)
    val li = graft.sources.Tables.lineitem(spark, Sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.toSeq
      for (u <- ps; v <- ps if u < v) yield (u, v)
    }.toSet
    val wantDir = want ++ want.map(_.swap)
    val eRows = e.collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"))).toSeq
    assert(eRows.size == eRows.toSet.size, "duplicate edge rows")
    assert(eRows.toSet == want, "edges differ from the distinct intra-order pairs")
    val dirRows = dir.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSeq
    assert(dirRows.size == dirRows.toSet.size, "duplicate directed rows")
    assert(dirRows.toSet == wantDir, "directed view is not e ∪ flip(e)")
    val degRows = deg.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toSeq
    assert(degRows.size == degRows.toMap.size, "duplicate degree rows")
    assert(degRows.toMap ==
      wantDir.groupBy(_._1).map { case (n, out) => n -> out.size.toLong },
      "deg is not the out-degree over the directed view")
    // qPpr blends without a deg scaffold join, which relies on this
    assert(degRows.forall(_._2 >= 1), "a node with degree 0")
  }

  test("dedup_prefix shingle checkpoint and winnow fp-keyed checkpoint change nothing") {
    // r16 continuation: pure materialization/keying variants — output
    // must be row-identical incl. order (both queries end in a
    // unique-key orderBy).
    val pL = graft.operators.TextOps.dedupPrefixPlan(spark, Sf0001,
      geVerify = true, shCkpt = false).collect().toSeq
    val pC = graft.operators.TextOps.dedupPrefixPlan(spark, Sf0001,
      geVerify = true, shCkpt = true).collect().toSeq
    assert(pC == pL, "dedup_prefix differs")
    val wP = graft.operators.TextOps.winnowPairsPlan(spark, Sf0001,
      fpPart = false).collect().toSeq
    val wF = graft.operators.TextOps.winnowPairsPlan(spark, Sf0001,
      fpPart = true).collect().toSeq
    assert(wF == wP, "winnow_pairs differs")
    val nL = graft.operators.TextOps.dedupNgramPlan(spark, Sf0001,
      keptCkpt = false).collect().toSeq
    val nC = graft.operators.TextOps.dedupNgramPlan(spark, Sf0001,
      keptCkpt = true).collect().toSeq
    assert(nC == nL, "dedup_ngram differs")
    val eL = graft.operators.TextOps.dedupEditPlan(spark, Sf0001,
      keptCkpt = false).collect().toSeq
    val eC = graft.operators.TextOps.dedupEditPlan(spark, Sf0001,
      keptCkpt = true).collect().toSeq
    assert(eC == eL, "dedup_edit differs")
    for ((nm, f) <- Seq[(String, Boolean => org.apache.spark.sql.DataFrame)](
      "dedup_minhash" -> (b => graft.operators.TextOps.dedupMinhashPlan(spark, Sf0001, b)),
      "decontaminate_fuzzy" -> (b => graft.operators.TextOps.decontaminateFuzzyPlan(spark, Sf0001, b)),
      "minhash_estimate" -> (b => graft.operators.TextOps.minhashEstimatePlan(spark, Sf0001, b)),
      "minhash_recall" -> (b => graft.operators.TextOps.minhashRecallPlan(spark, Sf0001, b)))) {
      assert(f(true).collect().toSeq == f(false).collect().toSeq, s"$nm differs")
    }
  }

  test("conditional scan spread changes nothing") {
    // r16: repartitioning an under-split doc scan before CPU-heavy
    // extraction is partitioning-only; every consumer ends in a
    // deterministic-key orderBy, so output must be row-identical.
    for ((nm, f) <- Seq[(String, Boolean => org.apache.spark.sql.DataFrame)](
      "winnow_pairs" -> (b => graft.operators.TextOps.winnowPairsPlan(spark, Sf0001, fpPart = true, spread = b)),
      "dedup_prefix" -> (b => graft.operators.TextOps.dedupPrefixPlan(spark, Sf0001, geVerify = true, shCkpt = true, spread = b)),
      "dedup_edit" -> (b => graft.operators.TextOps.dedupEditPlan(spark, Sf0001, keptCkpt = true, spread = b)),
      "dedup_minhash" -> (b => graft.operators.TextOps.dedupMinhashPlan(spark, Sf0001, bandCkpt = true, spread = b)),
      "minhash_estimate" -> (b => graft.operators.TextOps.minhashEstimatePlan(spark, Sf0001, bandCkpt = true, spread = b)),
      "audio_stats" -> (b => graft.operators.Multimodal.audioStatsPlan(spark, Sf0001, spread = b)),
      "audio_frames" -> (b => graft.operators.Multimodal.audioFramesPlan(spark, Sf0001, spread = b)),
      "image_dedup" -> (b => graft.operators.Multimodal.imageDedupPlan(spark, Sf0001, spread = b)),
      "image_ahash" -> (b => graft.operators.Multimodal.imageAhashPlan(spark, Sf0001, spread = b)),
      "image_phash" -> (b => graft.operators.Multimodal.imagePhashPlan(spark, Sf0001, spread = b)),
      "multimodal_features" -> (b => graft.operators.Multimodal.multimodalFeaturesPlan(spark, Sf0001, spread = b)))) {
      assert(f(true).collect().toSeq == f(false).collect().toSeq, s"$nm differs")
    }
  }

  test("ImageIO stream-cache setting never changes codec output") {
    // r16: the suite disables ImageIO's JDK-default disk-backed stream
    // cache (Multimodal object init). The flag is stream plumbing only
    // — encoded PNG bytes and decoded features must be byte-identical
    // under both settings, for the full synth→encode→decode→feature
    // path of all three extractors. Pure-JVM check (no Spark).
    val ids = (0L until 64L) ++ Seq(1000003L, 987654321L)
    try {
      graft.operators.Multimodal.setImgDiskCache(true)
      val pngD = ids.map(graft.operators.Multimodal.synthPng)
      val featD = ids.map(id => graft.operators.Multimodal.decode(
        graft.operators.Multimodal.MediaRow(id, graft.operators.Multimodal.synthPng(id))))
      val aD = ids.map(id => graft.operators.Multimodal.ahash(
        graft.operators.Multimodal.MediaRow(id, graft.operators.Multimodal.synthPng(id))))
      val pD = ids.map(id => graft.operators.Multimodal.phash(
        graft.operators.Multimodal.MediaRow(id, graft.operators.Multimodal.synthPng(id))))
      graft.operators.Multimodal.setImgDiskCache(false)
      val pngM = ids.map(graft.operators.Multimodal.synthPng)
      val featM = ids.map(id => graft.operators.Multimodal.decode(
        graft.operators.Multimodal.MediaRow(id, graft.operators.Multimodal.synthPng(id))))
      val aM = ids.map(id => graft.operators.Multimodal.ahash(
        graft.operators.Multimodal.MediaRow(id, graft.operators.Multimodal.synthPng(id))))
      val pM = ids.map(id => graft.operators.Multimodal.phash(
        graft.operators.Multimodal.MediaRow(id, graft.operators.Multimodal.synthPng(id))))
      assert(pngD.zip(pngM).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        "encoded PNG bytes differ across cache settings")
      assert(featD == featM, "decoded features differ across cache settings")
      assert(aD == aM, "ahash differs across cache settings")
      assert(pD == pM, "phash differs across cache settings")
    } finally graft.operators.Multimodal.setImgDiskCache(false)
  }

  test("ann_recall shared cells/codes frames equal the solo chains") {
    // r16: inside one q_ann_recall execution the four chains share the
    // narrow scoring/codes checkpoints instead of recomputing them.
    // Row-identical incl. order vs the solo-chain composition.
    val solo = graft.operators.VectorOps.annRecallPlan(spark, Sf0001,
      shared = false).collect().toSeq
    graft.operators.VectorOps.clearModelCache()
    val shared = graft.operators.VectorOps.annRecallPlan(spark, Sf0001,
      shared = true).collect().toSeq
    assert(shared == solo)
  }

  test("ann_recall model memo changes nothing but the training count") {
    val dup =
      try {
        graft.operators.VectorOps.modelMemoEnabled = false
        q("q_ann_recall").collect().toSeq
      } finally graft.operators.VectorOps.modelMemoEnabled = true
    graft.operators.VectorOps.clearModelCache()
    val memo = q("q_ann_recall").collect().toSeq
    assert(memo == dup)
  }

  test("edit-distance gate precondition: corpus is ASCII; Spark counts code points") {
    // q_dedup_edit's oracle is valid only while bytes == code points:
    // Spark's levenshtein counts Unicode CODE POINTS, DuckDB's counts
    // BYTES. Pin the divergence on a planted multibyte pair (so the
    // scope note at EditPrefix stays measured, not asserted) and pin
    // the precondition on the real fixture (octet_length == length for
    // every doc ⟺ pure ASCII) — a fixture regen that introduces
    // multibyte text fails HERE with a diagnosis, not at the hash gate.
    val planted = Seq(("café x", "cafe x")).toDF("a", "b")
      .select(levenshtein($"a", $"b").as("lev"),
        (length($"a") =!= expr("octet_length(a)")).as("multibyte"))
      .head()
    assert(planted.getInt(0) == 1, "Spark levenshtein should count code points (1), not bytes (2)")
    assert(planted.getBoolean(1), "planted pair must actually be multibyte")
    for (sf <- Seq(Sf0001, Sf001)) {
      val nonAscii = graft.sources.Tables.documents(spark, sf)
        .filter(length($"text") =!= expr("octet_length(text)")).count()
      assert(nonAscii == 0,
        s"$sf has $nonAscii non-ASCII docs: q_dedup_edit's cross-engine " +
          "levenshtein gate (code points vs bytes) is no longer sound")
    }
  }

  test("minhash LSH finds every planted duplicate with exact-Jaccard 1.0") {
    val pairs = q("q_dedup_minhash")
      .filter($"b_id" - $"a_id" === 1000000L && $"jaccard" === 1.0)
    assert(pairs.count() == 500) // one per original doc vs its replay copy
  }

  test("minhash LSH verify stage admits no pair below the threshold") {
    assert(q("q_dedup_minhash").filter($"jaccard" < 0.8).count() == 0)
  }

  test("q_eval_multiprobe: probe p1 reproduces the single-query q_ndcg exactly") {
    // p1's term set IS the q_ndcg query; unmatched docs carry rel=0 and
    // score 0 (BM25 idf is strictly positive on matched terms), so for
    // every cutoff the sharded evaluation must equal the single-query
    // one bit-for-bit — the cross-check that the partitioned-window
    // rewrite changed the PLAN, not the metric
    val multi = q("q_eval_multiprobe").filter($"q_id" === "p1")
      .select("k", "n_scored", "dcg", "idcg", "ndcg").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    val single = q("q_ndcg")
      .select("k", "n_scored", "dcg", "idcg", "ndcg").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(multi.keySet == single.keySet && multi.keySet == Set(1L, 3L, 5L, 10L, 20L))
    for (k <- single.keySet)
      assert(multi(k) == single(k), s"cutoff $k: multi ${multi(k)} vs single ${single(k)}")
    // and the other probes are genuinely distinct evaluations
    val all = q("q_eval_multiprobe").select("q_id").distinct().collect()
      .map(_.getString(0)).toSet
    assert(all == Set("p1", "p2", "p3", "p4"))
  }

  test("q_minhash_recall: ground truth recounted from raw shingle strings") {
    val row = q("q_minhash_recall").collect().head
    // independent recount: string shingles instead of the production
    // 64-bit hashes — agreement also certifies the hash path collision-free
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text").collect().map(r => (r.getLong(0), r.getString(1)))
    val doubled = docs ++ docs.map { case (id, t) => (id + 1000000L, t) }
    def shingles(t: String): Seq[String] = {
      val tok = t.split(" ")
      (0 until math.max(tok.length - 2, 1))
        .map(i => tok.slice(i, i + 3).mkString(" ")).distinct
    }
    val perDoc = doubled.map { case (id, t) => id -> shingles(t) }.toMap
    val df = perDoc.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val kept = perDoc.view
      .mapValues(_.filter(df(_) <= graft.operators.TextOps.ShingleDfCap).toSet)
      .filter(_._2.nonEmpty).toMap
    val probes = kept.keys.toSeq.sorted.take(16)
    val truePairs = (for {
      p <- probes; (o, so) <- kept; if o != p
      sp = kept(p); common = (sp intersect so).size
      if 5L * common >= 4L * (sp.size + so.size - common)
    } yield (math.min(p, o), math.max(p, o))).distinct
    assert(row.getAs[Long]("n_probes") == 16L)
    assert(row.getAs[Long]("n_true") == truePairs.size.toLong,
      s"driver recount ${truePairs.size} vs query ${row.getAs[Long]("n_true")}")
    // every probe's planted replay twin is a true pair with identical
    // signatures, so the banding cannot miss it
    assert(truePairs.count { case (a, b) => b - a == 1000000L } >= 16)
    assert(row.getAs[Long]("n_hits") >= 16L)
    val (t, c, h) = (row.getAs[Long]("n_true"), row.getAs[Long]("n_cand"),
      row.getAs[Long]("n_hits"))
    assert(h <= math.min(t, c))
    assert(row.getAs[Double]("recall") == h.toDouble / t.toDouble)
    assert(row.getAs[Double]("cand_precision") == h.toDouble / c.toDouble)
  }

  test("fuzzy decontamination flags every cross-split replay copy at jaccard 1.0") {
    val out = q("q_decontaminate_fuzzy").collect()
      .map(r => r.getLong(0) -> r).toMap
    // the split rule replicated driver-side (first hex char of md5)
    def split(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.charAt(0) <= 'b') "train"
      else if (hex.charAt(0) <= 'd') "val" else "test"
    }
    val ids = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id").collect().map(_.getLong(0))
    var planted = 0
    for (i <- ids; (e, t) <- Seq((i, i + 1000000L), (i + 1000000L, i))
         if split(e) != "train" && split(t) == "train") {
      planted += 1
      val row = out.getOrElse(e, fail(s"eval doc $e missing from the audit"))
      assert(row.getBoolean(5), s"eval doc $e not flagged despite train copy $t")
      assert(row.getDouble(4) == 1.0, s"eval doc $e max_jaccard != 1.0")
    }
    assert(planted > 50, s"fixture sanity: only $planted cross-split copies")
    // flag/count coherence + verify floor
    out.values.foreach { r =>
      assert(r.getBoolean(5) == (r.getLong(2) > 0L))
      if (r.getBoolean(5)) assert(r.getDouble(4) >= 0.8)
    }
  }

  test("fuzzy decontamination top pair matches a driver shingle-set recount") {
    // DF-capped shingle sets of the doubled corpus, recomputed from
    // raw text driver-side (same 3-gram + df<=16 rule), then the
    // reported max_jaccard re-derived per flagged pair
    val base = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val all = base.flatMap { case (id, t) => Seq((id, t), (id + 1000000L, t)) }
    def grams(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < 3) Set(toks.mkString(" "))
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = all.map { case (id, t) => id -> grams(t) }.toMap
    val df = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    sets.values.foreach(_.foreach(s => df(s) += 1))
    val kept = sets.map { case (id, ss) => id -> ss.filter(df(_) <= 16) }
    q("q_decontaminate_fuzzy").filter($"contaminated").collect().foreach { r =>
      val (e, t) = (r.getLong(0), r.getLong(3))
      val (a, b) = (kept(e), kept(t))
      val j = a.intersect(b).size.toDouble / a.union(b).size.toDouble
      assert(j == r.getDouble(4),
        s"pair ($e,$t): reported ${r.getDouble(4)}, recount $j")
    }
  }

  test("minhash estimate is exact on planted duplicates and tight elsewhere") {
    // q_minhash_estimate's value is the estimate-vs-truth delta; pin
    // its statistical behavior: identical docs (the replay copies)
    // must estimate EXACTLY 1.0 with zero error, and across all
    // candidate pairs the mean |est − exact| must stay within the
    // 16-slot sketch's theoretical band (σ ≤ √(J(1−J)/16) ≤ 0.125)
    val est = q("q_minhash_estimate")
    val replays = est.filter($"b_id" - $"a_id" === 1000000L)
    assert(replays.count() == 500)
    assert(replays.filter($"est_jaccard" =!= 1.0 || $"abs_err" =!= 0.0).count() == 0)
    val meanErr = est.agg(avg($"abs_err")).head().getDouble(0)
    assert(meanErr < 0.15, f"mean |est-exact| = $meanErr%.3f exceeds sketch band")
  }

  test("simhash signature groups put every planted duplicate with its original") {
    val groups = q("q_dedup_simhash")
    // the replayed corpus doubles every doc with identical text → every
    // signature group must pair originals with their copies
    assert(groups.agg(sum($"n_members")).as[Long].head() == 1000L)
    assert(groups.filter($"n_members" % 2 =!= 0).count() == 0)
    assert(groups.filter($"n_members" < 2).count() == 0)
    assert(groups.filter($"keeper_id" >= 1000000L).count() == 0) // keeper = original
  }

  test("q_month_spine emits one row per calendar month between the data's min and max") {
    // the DIALECT-PIN guard (see qMonthSpine): the Spark and DuckDB
    // texts are hand-maintained twins diverging only in INTERVAL step
    // syntax — if the Spark recursion's step drifts from exactly one
    // calendar month, depth or contiguity breaks HERE, loudly, instead
    // of surfacing as an unexplained oracle hash mismatch
    import java.time.ZoneOffset
    val spine = SparkEntry.queries("q_month_spine")(spark, Sf001)
      .select("m").collect()
      .map(_.getTimestamp(0).toInstant.atZone(ZoneOffset.UTC).toLocalDateTime)
    val b = graft.sources.Tables.orders(spark, Sf001)
      .agg(date_trunc("month", min($"o_orderdate")).as("lo"),
        date_trunc("month", max($"o_orderdate")).as("hi"))
      .collect().head
    val lo = b.getTimestamp(0).toInstant.atZone(ZoneOffset.UTC).toLocalDateTime
    val hi = b.getTimestamp(1).toInstant.atZone(ZoneOffset.UTC).toLocalDateTime
    val expectedDepth =
      java.time.temporal.ChronoUnit.MONTHS.between(lo, hi).toInt + 1
    assert(spine.length == expectedDepth,
      s"spine depth ${spine.length} != independent month count $expectedDepth")
    assert(spine.head == lo && spine.last == hi)
    spine.sliding(2).foreach {
      case Array(a, c) =>
        assert(c == a.plusMonths(1), s"spine step $a -> $c is not one month")
      case _ =>
    }
  }

  test("graft_simhash native expression is bit-identical to the HOF fold") {
    // the codegen'd one-pass signature must equal the 64-lambda-frame
    // aggregate formulation on real corpus term frequencies — same
    // strictly-positive bit rule, same weighted sums
    graft.functions.TextExpressions.register(spark)
    val tf = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("w"))
      .select($"doc_id", struct(xxhash64($"tok").as("h"), $"w").as("tw"))
      .groupBy($"doc_id").agg(collect_list($"tw").as("toks"))
    val both = tf.select(
      $"doc_id",
      expr("graft_simhash(toks)").as("native"),
      expr("""aggregate(sequence(0, 63), 0L, (acc, j) ->
               acc | IF(aggregate(toks, 0L, (a, t) -> a + ((shiftright(t.h, j) & 1) * 2 - 1) * t.w) > 0,
                        shiftleft(1L, j), 0L))""").as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
    assert(both.count() == 500)
  }

  test("the production signature build is bit-identical to the array form") {
    // whatever form TextOps.simhashSigs runs (the r14 one-pass
    // SimHashDoc expression; before that the TypedImperativeAggregate)
    // must produce the same signature as collect_list + the scalar
    // graft_simhash fold over grouped term frequencies — the original
    // reference formulation
    graft.functions.TextExpressions.register(spark)
    val tf = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("w"))
    val viaArray = tf
      .select($"doc_id", struct(xxhash64($"tok").as("h"), $"w").as("tw"))
      .groupBy($"doc_id").agg(collect_list($"tw").as("toks"))
      .select($"doc_id", expr("graft_simhash(toks)").as("sig_array"))
    val viaAgg = graft.operators.TextOps.simhashSigs(
      spark.read.parquet(s"$Sf0001/documents.parquet"))
    val joined = viaArray.join(viaAgg, "doc_id")
    assert(joined.count() == 500)
    assert(joined.filter($"sig_array" =!= $"simhash").count() == 0)
  }

  test("simhash near-groups count planted low-Hamming variants, verified bit-for-bit") {
    // round-2 gap: the Hamming<=3 banding was pigeonhole-correct but no
    // test ever planted a near-duplicate (non-identical text, signature
    // within 3 bits) and asserted it lands in n_near_groups. Fixture:
    // one 48-token base doc + 12 single-token variants — a one-token
    // substitution perturbs the weighted bit sums only where the two
    // token hashes disagree, so some variants land within Hamming<=3.
    // The reported n_near_groups is then re-derived DRIVER-SIDE from
    // the output signatures themselves, so the banded join is checked
    // against an exact all-pairs recount.
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0 until 48).map(i => words(i % 12) + (i / 12)).mkString(" ")
    val variants = (0 until 12).map { k =>
      val toks = base.split(" ").toVector
      toks.updated(4 * k, s"variant$k").mkString(" ")
    }
    val docs = ((1L, base) +: variants.zipWithIndex.map {
      case (t, i) => (i + 2L, t)
    }).map { case (id, t) => (id, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("simhash").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_dedup_simhash")(spark, dir)
      .select("simhash", "n_near_groups").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sigs = out.map(_._1)
    def near(a: Long, b: Long): Boolean = {
      val h = java.lang.Long.bitCount(a ^ b); a != b && h <= 3
    }
    val expected = sigs.map(a => sigs.count(b => near(a, b)).toLong)
    // planting worked: at least one variant is a genuine near-dup of
    // something (non-identical signature within 3 bits)
    assert(expected.sum > 0, "fixture planted no near-duplicate signatures")
    // and the banded count agrees with the exact all-pairs recount on
    // EVERY signature — banding loses nothing at Hamming<=3
    out.zip(expected).foreach { case ((sig, reported), exp) =>
      assert(reported == exp, f"sig $sig%016x reported $reported expected $exp")
    }
  }

  test("simhash clusters put planted variants in their original's cluster") {
    // end-to-end check of simhashClusters (signatures → star edges +
    // keeper near-edges → connected components): the distributed
    // labels must equal the EXACT driver-side transitive closure of
    // the "equal or Hamming<=3" relation over the signatures — and a
    // planted low-Hamming variant must land in its original's cluster.
    // Fixture = the near-group fixture (base + 12 one-token variants)
    // PLUS an exact copy of the base (id 100, exercises the star-edge
    // path through a different route than the variant edges).
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0 until 48).map(i => words(i % 12) + (i / 12)).mkString(" ")
    val variants = (0 until 12).map { k =>
      val toks = base.split(" ").toVector
      toks.updated(4 * k, s"variant$k").mkString(" ")
    }
    val docs = (((1L, base) +: variants.zipWithIndex.map {
      case (t, i) => (i + 2L, t)
    }) :+ ((100L, base)))
      .map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val sigs = graft.operators.TextOps.simhashSigs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // exact driver-side closure: union-find over equal-or-near signatures
    val parent = scala.collection.mutable.Map(sigs.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((i, si) <- sigs; (j, sj) <- sigs
         if i < j && java.lang.Long.bitCount(si ^ sj) <= 3) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val expected = sigs.keys.map(k => k -> find(k)).toMap
    val labels = graft.operators.TextOps.simhashClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // planting worked: some variant (non-identical text) co-clusters
    // with the base via a genuine near (not equal) signature
    val nearOfBase = sigs.filter { case (id, s) =>
      id != 1L && id != 100L &&
        java.lang.Long.bitCount(s ^ sigs(1L)) >= 1 &&
        java.lang.Long.bitCount(s ^ sigs(1L)) <= 3
    }
    assert(nearOfBase.nonEmpty, "fixture planted no near-variant of the base")
    nearOfBase.keys.foreach(v =>
      assert(labels(v) == labels(1L), s"variant $v not in base's cluster"))
    // the exact duplicate collapses via the star-edge path
    assert(labels(100L) == labels(1L))
    // and the WHOLE labeling equals the exact closure
    assert(labels.keySet == expected.keySet)
    labels.foreach { case (id, lab) =>
      assert(lab == expected(id), s"doc $id: label $lab != exact ${expected(id)}")
    }
  }

  test("LSH ANN scores agree with brute-force scores on shared pairs") {
    val bf = q("q_sim_bruteforce").select($"q_id", $"c_id", $"cosine".as("bf_cos"))
    val lsh = q("q_sim_lsh").select($"q_id", $"c_id", $"cosine".as("lsh_cos"))
    val joined = lsh.join(bf, Seq("q_id", "c_id"))
    // every LSH hit that brute-force also ranked must have the identical score
    assert(joined.filter($"bf_cos" =!= $"lsh_cos").count() == 0)
    assert(q("q_sim_lsh").count() > 0)
  }

  test("IVF ANN scores agree with brute-force scores on shared pairs") {
    val bf = q("q_sim_bruteforce").select($"q_id", $"c_id", $"cosine".as("bf_cos"))
    val ivf = q("q_sim_ivf").select($"q_id", $"c_id", $"cosine".as("ivf_cos"))
    val joined = ivf.join(bf, Seq("q_id", "c_id"))
    assert(joined.filter($"bf_cos" =!= $"ivf_cos").count() == 0)
    assert(ivf.count() > 0)
    // rank filter caps ranked hits at 5 per query
    assert(ivf.groupBy($"q_id").count().filter($"count" > 5).count() == 0)
  }

  test("IVF ANN recall vs brute force at least matches the old %-pivot scheme") {
    // the pre-fixed-K scheme (pivots = every 50th vector, 2 probes)
    // measured 0.40 recall on this corpus; fixed K=16 + 2 Lloyd
    // iterations + 3 probes measures 0.52 — pin the floor at the old
    // scheme's level so refactors can't silently regress it
    val bf = q("q_sim_bruteforce").select($"q_id", $"c_id")
    val ivf = q("q_sim_ivf").select($"q_id", $"c_id")
    val nBf = bf.count().toDouble
    val hit = ivf.join(bf, Seq("q_id", "c_id")).count().toDouble
    assert(hit / nBf >= 0.40, s"IVF recall ${hit / nBf} fell below 0.40")
  }

  test("embed dedup LSH blocking finds every replayed twin and only genuine pairs") {
    val d = q("q_embed_dedup")
    // identical vectors hash to identical buckets → blocking can never
    // lose an exact duplicate; each of the 500 replay twins must appear
    val replay = d.filter($"b_id" - $"a_id" === 1000000L && $"cosine" > 0.999)
    assert(replay.count() == 500)
    // pair agreement with the exact formulation: every reported pair
    // must clear the threshold under brute-force scoring (the refine
    // stage is exact cosine, so any bucketed pair is a genuine pair)
    assert(d.filter($"cosine" <= 0.9).count() == 0)
  }

  test("banded embed dedup recalls >=90% of planted cosine~0.93 near-dups (not twins)") {
    // a single 8-plane signature recalls only ~29% of cosine-0.9
    // near-dups (twins always collide, so twin-only tests can't see
    // the gap); 4 bands × 4 planes must recall ≥ 90% of genuinely
    // perturbed pairs — the round-2 verdict's recall-quality fix
    graft.functions.VectorExpressions.register(spark)
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double])]()
    for (i <- 0 until 50) {
      val base = unit()
      val noise = unit()
      val nd = base.zip(noise).map { case (b, x) => b + 0.39 * x } // cos ≈ 0.93
      val nn = math.sqrt(nd.map(x => x * x).sum)
      rows += ((i.toLong, base.toSeq))
      rows += ((10000L + i, nd.map(_ / nn).toSeq))
    }
    for (i <- 0 until 400) rows += ((20000L + i, unit().toSeq)) // background
    val df = rows.toSeq.toDF("vec_id", "vec")
    // eligible = planted pairs whose TRUE cosine clears the refine
    // threshold (blocking is what's under test, not the threshold)
    val a = df.filter($"vec_id" < 10000L)
      .select($"vec_id".as("a_id"), $"vec".as("a_vec"))
    val b = df.filter($"vec_id" >= 10000L && $"vec_id" < 20000L)
      .select(($"vec_id" - 10000L).as("a_id"), $"vec".as("b_vec"))
    val eligible = a.join(b, "a_id")
      .filter(expr("graft_cosine(a_vec, b_vec)") > 0.9).count().toDouble
    assert(eligible >= 40, s"fixture degenerate: only $eligible eligible pairs")
    val found = graft.operators.VectorOps.embedNearDupPairs(df)
      .filter($"a_id" < 10000L && $"b_id" === $"a_id" + 10000L).count().toDouble
    assert(found / eligible >= 0.9,
      s"banded blocking recall ${found / eligible} below 0.9 ($found/$eligible)")
  }

  test("LSH ANN recall vs brute-force top-5 meets the banded multi-probe floor") {
    // single-table 6-plane LSH had NO recall pin (round-2 gap) and
    // measured ~0.3 banded-only on this corpus (true top-5 cosines are
    // a weak 0.26-0.39, so per-band collision is ~8%); Hamming-1
    // multi-probe lifts per-band collision to ~34% → measured ~0.8.
    // Pin the floor well above the non-probed 0.3 class so a
    // regression to single-bucket probing fails.
    val bf = q("q_sim_bruteforce").select($"q_id", $"c_id")
    val lsh = q("q_sim_lsh").select($"q_id", $"c_id")
    val nBf = bf.count().toDouble
    val hit = lsh.join(bf, Seq("q_id", "c_id")).count().toDouble
    assert(hit / nBf >= 0.60, s"LSH recall ${hit / nBf} fell below 0.60")
  }

  test("LshParams.forCorpus bounds expected bucket width at any corpus size") {
    // the scale knob: 10× corpus ⇒ ~+3 planes, width stays ≤ target
    for (n <- Seq(1000L, 10000L, 1000000L, 100000000L)) {
      val p = graft.operators.VectorOps.LshParams.forCorpus(n, 64L, bands = 4)
      val width = n.toDouble / (1L << p.planesPerBand).toDouble
      assert(width <= 64.0, s"n=$n ppb=${p.planesPerBand} width $width > 64")
      assert(p.planesPerBand <= 62) // band bucket must fit a long
    }
  }

  test("dedup blocking pair join is bounded by bands × bucket width, not corpus size") {
    graft.functions.VectorExpressions.register(spark)
    val p = graft.operators.VectorOps.LshParams.forCorpus(1000L, 64L, bands = 4)
    val vecs = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val dbl = vecs.union(vecs.withColumn("vec_id", $"vec_id" + 1000000L))
    val buckets = graft.operators.VectorOps.withBandBuckets(dbl, p)
      .groupBy($"band", $"bucket").count()
    val maxW = buckets.agg(max($"count")).as[Long].head()
    val n = dbl.count()
    // derived ppb keeps the deterministic fixture's worst bucket within
    // a small skew factor of the n/2^ppb design width
    assert(maxW <= 8L * (n / (1L << p.planesPerBand)),
      s"max bucket width $maxW blew past the design width")
    // per-band candidate pairs ≤ Σ w²/2 ≤ maxW/2 · n — the join is
    // width-bounded; with derived ppb, width (hence the join) is O(target)
    val pairBound = p.bands.toLong * maxW * n / 2
    val cand = graft.operators.VectorOps.embedNearDupPairs(dbl, p, -1.0).count()
    assert(cand <= pairBound, s"candidates $cand exceed width bound $pairBound")
  }

  test("approx_percentile flag holds and exact twins match q_percentile") {
    // the ±1.5-unit sketch bound now lives IN the query as the
    // hash-gated within_bound flag; here we pin that the flag is true
    // and that the exact columns agree with q_percentile's oracled ones
    val approx = q("q_approx_percentile")
    assert(approx.filter(!$"within_bound").count() == 0)
    val exact = q("q_percentile")
      .select($"l_returnflag", $"p25_qty", $"median_qty", $"p75_qty")
    val j = approx.select($"l_returnflag", $"p25_qty", $"median_qty", $"p75_qty")
    assert(j.exceptAll(exact).count() == 0 && exact.exceptAll(j).count() == 0)
  }

  test("hash split is exhaustive, deterministic, and near the 75/12.5/12.5 design") {
    val a = q("q_split_assign")
    assert(a.select("split").distinct().count() <= 3)
    assert(a.count() == 500)
    // rerun must assign identically (md5 of the key, no RNG state)
    val again = q("q_split_assign")
    assert(a.exceptAll(again).count() == 0 && again.exceptAll(a).count() == 0)
    val frac = a.filter($"split" === "train").count().toDouble / 500.0
    assert(frac > 0.65 && frac < 0.85, s"train fraction $frac far from 0.75")
  }

  test("phash is brightness-shift invariant and discriminates distinct structure") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    import graft.operators.Multimodal.{phash, MediaRow}
    // +40 uniform brightness: only the DC coefficient moves, every AC
    // coefficient and the AC median are unchanged -> identical hash
    val base = phash(MediaRow(1L, png(20, 14, (x, y) => (x * 9 + y * 5) % 200))).phash
    val brighter = phash(MediaRow(1L, png(20, 14, (x, y) => (x * 9 + y * 5) % 200 + 40))).phash
    assert(base == brighter)
    // transposed structure must not collide
    val other = phash(MediaRow(2L, png(20, 14, (x, y) => (x * 5 + y * 9) % 200))).phash
    assert(base != other)
    assert(base.length == 64 && base.forall(c => c == '0' || c == '1'))
    assert(base.head == '1') // DC slot is the fixed bit
    // exactly 64 bits with the AC median rule: > median over 63 values
    // splits 31/32 or looser under ties -- at least 1 and at most 32 ones in AC
    val ones = base.tail.count(_ == '1')
    assert(ones >= 1 && ones <= 32)
  }

  test("misra-gries summary honors both MG bounds for EVERY token at any parallelism") {
    import spark.implicits._
    graft.functions.MisraGriesAgg.register(spark)
    val tok = graft.sources.Tables.documents(spark, Sf0001)
      .select(explode(split(col("text"), " ")).as("token"))
    val exact = tok.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    for (parts <- Seq(1, 4, 7)) {
      val mg = tok.repartition(parts).agg(expr("graft_mg_agg(token, 64)"))
        .collect()(0).getMap[String, Long](0)
      assert(mg.size <= 64, s"capacity at parts=$parts")
      for ((t, c) <- exact) {
        val est = mg.getOrElse(t, 0L)
        assert(est <= c, s"overcount $t at parts=$parts")
        assert((c - est) * 65L <= n, s"undercount bound $t at parts=$parts")
        if (c * 65L > n) assert(mg.contains(t), s"guaranteed-present $t missing")
      }
    }
    // adversarial skew: one dominant item among 200 distinct fillers
    val skew = (Seq.fill(500)("hot") ++ (1 to 200).flatMap(i => Seq.fill(3)(s"w$i")))
      .toDF("token")
    val mg2 = skew.repartition(5).agg(expr("graft_mg_agg(token, 8)"))
      .collect()(0).getMap[String, Long](0)
    assert(mg2.contains("hot") && mg2("hot") <= 500L)
    assert(500L - mg2.getOrElse("hot", 0L) <= (500L + 600L) / 9L + 1L)
    // every q_frequent_items flag row must hold (they are theorem facts)
    val rows = SparkEntry.queries("q_frequent_items")(spark, Sf0001).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[Boolean]("found_ok")))
    assert(rows.forall(_.getAs[Boolean]("bound_ok")))
    assert(rows.exists(_.getAs[Boolean]("above_guarantee")))
  }

  test("count-min sketch estimates bound the exact heavy-hitter counts") {
    // the 100 TB companion to q_heavy_hitters: when the (lang, token)
    // keyspace is too wide to materialize, Spark's native
    // count_min_sketch aggregate (mergeable, one pass) answers point
    // frequency queries. CMS guarantees: estimate NEVER undercounts,
    // and overcounts by more than eps·N with probability < 1−conf.
    // Pin both against the exact top-10 per language.
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select($"lang", explode(split($"text", " ")).as("token"))
    val eps = 0.001
    val bytes = docs
      .agg(expr(s"count_min_sketch(concat(lang, ':', token), ${eps}d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val n = docs.count()
    val exact = q("q_heavy_hitters").select($"lang", $"token", $"freq")
      .collect().map(r => (r.getString(0) + ":" + r.getString(1), r.getLong(2)))
    assert(exact.length == 50) // 10 per language — the fixture has 5
    // the undercount bound is a hard CMS guarantee; the eps*N overcount
    // bound is only per-key probabilistic (conf = 0.99), so while it
    // holds for all 50 keys under the current seed+fixture, a test-data
    // regen could legitimately trip a key or two with no code bug —
    // allow <=2 of 50 beyond the bound before failing.
    val overBound = exact.flatMap { case (key, freq) =>
      val est = cms.estimateCount(key)
      assert(est >= freq, s"CMS undercounted $key: $est < $freq")
      if (est > freq + (eps * n).toLong) Some(s"$key: $est > $freq + ${(eps * n).toLong}")
      else None
    }
    assert(overBound.length <= 2,
      s"CMS overcount beyond eps*N for ${overBound.length}/50 keys (allowed 2): " +
        overBound.mkString("; "))
  }

  test("histogram degenerates gracefully on a constant column (width 0)") {
    // without the width-0 guard, (x - lo)/0 is 0/0 = NaN and the ANSI
    // long cast kills the query; a constant column must instead
    // profile as one full bucket
    val out = graft.operators.Functions2
      .histogramOf(Seq.fill(7)(42.0).toDF("x")).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 0L && out(0).getLong(1) == 7L)
    assert(out(0).getDouble(4) == 1.0)
  }

  test("bloom filter on train digests: no false negatives, fpp within bound") {
    // the membership-sketch leg of the sketch family (CMS = frequency,
    // HLL = cardinality, Bloom = membership): a decontamination or
    // incremental-dedup pass can pre-screen arrivals against a corpus
    // Bloom filter before paying the exact join. Every inserted key
    // MUST hit (no false negatives — that property is what makes the
    // pre-screen safe: a miss proves novelty); held-out keys may false-
    // positive at ~fpp, which only costs a redundant exact check.
    val digests = graft.sources.Tables.documents(spark, Sf001)
      .select(md5($"text").as("dig"),
        (substring(md5($"doc_id".cast("string")), 1, 1) <= "b").as("is_train"))
    val train = digests.filter($"is_train")
    val fpp = 0.03
    val bloom = train.stat.bloomFilter("dig", train.count(), fpp)
    assert(train.select("dig").as[String].collect().forall(bloom.mightContain),
      "bloom filter missed an inserted key")
    val heldOut = digests.filter(!$"is_train").select("dig").as[String].collect()
    val falsePos = heldOut.count(bloom.mightContain)
    // generous 4x headroom over the configured fpp: the bound is
    // probabilistic and the held-out set is small
    assert(falsePos <= math.max(4 * fpp * heldOut.length, 4.0),
      s"$falsePos/${heldOut.length} false positives exceeds ~$fpp bound")
  }

  test("approx_count_distinct within 10% of exact (HLL default rsd 5%)") {
    // tighter than the query's hash-gated 15% flag: recompute the raw
    // sketch here and pin the observed 10% band
    val approx = graft.sources.Tables.events(spark, Sf0001)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id").as("approx_users"))
    val exact = q("q_count_distinct").select("event_type", "uniq_users")
    val joined = approx.join(exact, "event_type")
      .withColumn("rel_err",
        abs($"approx_users" - $"uniq_users") / $"uniq_users".cast("double"))
    assert(joined.filter($"rel_err" > 0.10).count() == 0)
    // and the reformulated query's own flag holds
    assert(q("q_approx_distinct").filter(!$"within_bound").count() == 0)
  }

  test("group-safe split: zero cross-split dup pairs; the naive split leaks") {
    val rows = q("q_split_groupsafe").collect()
    assert(rows.length == 1000)
    val byCluster = rows.groupBy(_.getAs[String]("norm_md5"))
    // under the SAFE split every cluster is split-pure
    byCluster.values.foreach { c =>
      assert(c.map(_.getAs[String]("split_safe")).distinct.length == 1)
    }
    // the naive split provably leaks on the doubled corpus, and the
    // would_leak flag marks exactly those clusters
    val leaky = byCluster.values.count(c =>
      c.map(_.getAs[String]("split_naive")).distinct.length > 1)
    assert(leaky > 0, "doubled corpus must produce naive-split leaks")
    rows.foreach { r =>
      val c = byCluster(r.getAs[String]("norm_md5"))
      assert(r.getAs[Boolean]("would_leak") ==
        (c.map(_.getAs[String]("split_naive")).distinct.length > 1))
      assert(r.getAs[Long]("cluster_size") == c.length.toLong)
    }
    // the safe assignment still lands near the 12/2/2 design ratios
    val n = rows.length.toDouble
    val train = rows.count(_.getAs[String]("split_safe") == "train") / n
    assert(train > 0.6 && train < 0.9, s"train share $train")
  }

  test("training manifest composes the standalone stages coherently") {
    val man = q("q_training_manifest").collect()
    assert(man.length == 500)
    // stage parity: keep_quality is exactly q_quality_score's is_keep
    val qual = q("q_quality_score").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_keep")).toMap
    man.foreach(r => assert(r.getAs[Boolean]("keep_quality") == qual(r.getAs[Long]("doc_id"))))
    // split parity with q_split_assign
    val splits = q("q_split_assign").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    man.foreach(r => assert(r.getAs[String]("split") == splits(r.getAs[Long]("doc_id"))))
    man.foreach { r =>
      val sel = r.getAs[Boolean]("selected")
      // selected ⇔ all three gates + train split
      assert(sel == (r.getAs[Boolean]("keep_dedup") && r.getAs[Boolean]("keep_quality")
        && r.getAs[Boolean]("keep_cap") && r.getAs[String]("split") == "train"))
      // shard is present exactly on selected rows, in range
      if (sel) { val sh = r.getAs[Long]("shard"); assert(sh >= 0 && sh < 16) }
      else assert(r.isNullAt(r.fieldIndex("shard")))
      // rank exists iff the doc survived dedup+quality
      assert((r.getAs[Boolean]("keep_dedup") && r.getAs[Boolean]("keep_quality"))
        == !r.isNullAt(r.fieldIndex("rk")))
    }
    // the cap binds: ≤ DomainCap=15 capped keeps per source, and a
    // selected doc count strictly between 0 and the corpus size
    val bySource = man.filter(_.getAs[Boolean]("keep_cap"))
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length)
    bySource.foreach { case (s, n) => assert(n <= 15, s"source $s keeps $n > cap") }
    val nSel = man.count(_.getAs[Boolean]("selected"))
    assert(nSel > 0 && nSel < man.length)
  }

  test("skipping stats: z-order layout dominates arrival on both probe dimensions") {
    val rows = q("q_skipping_stats").collect()
    assert(rows.length == 4)
    val by = rows.map(r => (r.getAs[String]("layout"), r.getAs[String]("predicate")) -> r).toMap
    val preds = rows.map(_.getAs[String]("predicate")).distinct
    preds.foreach { p =>
      val (arr, zo) = (by(("arrival", p)), by(("zorder", p)))
      // matching rows are a layout-invariant ground truth
      assert(arr.getAs[Long]("rows_matching") == zo.getAs[Long]("rows_matching"))
      // a zone-map scan never reads fewer rows than actually match
      assert(zo.getAs[Long]("rows_scanned") >= zo.getAs[Long]("rows_matching"))
      assert(arr.getAs[Long]("rows_scanned") >= arr.getAs[Long]("rows_matching"))
    }
    // the layout claim is about the WORST dimension: a single-sort
    // layout can ride an accidental correlation on one probe (at this
    // fixture arrival order correlates with pmod), but z-order must be
    // good on BOTH — its minimum skip count across predicates beats
    // the arrival layout's minimum decisively
    def minSkip(layout: String) = preds.map(p => by((layout, p)).getAs[Long]("n_skipped")).min
    assert(minSkip("zorder") > minSkip("arrival"),
      s"zorder min-skip ${minSkip("zorder")} vs arrival ${minSkip("arrival")}")
  }

  test("kneser-ney: per-context mass sums to 1 and a doc's score replays") {
    import org.apache.spark.sql.Row
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
      .filter(_._2.length >= 2)
    val bigrams = docs.flatMap { case (id, ts) => ts.zip(ts.tail).map((id, _)) }
    val c12 = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1f = c12.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1p = c12.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val t = c12.size.toLong
    def p(w1: String, w2: String): Double =
      (math.max(c12.getOrElse((w1, w2), 0L).toDouble - 0.75, 0.0) / c1(w1)) +
        ((0.75 * n1f(w1) / c1(w1)) * (n1p.getOrElse(w2, 0L).toDouble / t))
    // the KN identity: summing P(w2|w1) over the whole vocabulary
    // (observed continuations + backoff mass spread by continuation
    // probability) must give exactly 1 — the formula-level check a
    // wrong discount/diversity wiring cannot pass
    val vocab = (n1p.keySet ++ c1.keySet).toSeq
    val w1 = c1.keys.min
    val mass = vocab.map(p(w1, _)).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"context '$w1' mass $mass")
    // one doc's pinned-sum replay
    val rows = q("q_kneser_ney").collect()
    val first = rows.head
    val id = first.getAs[Long]("doc_id")
    val ts = docs.find(_._1 == id).get._2
    val replay = ts.zip(ts.tail).map { case (a, b) =>
      BigDecimal(math.log(p(a, b))).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    assert(first.getAs[Long]("n_bigrams") == replay.length.toLong)
    assert(first.getAs[Double]("sum_logp_kn") == replay.sum.toDouble)
  }

  test("audio stats parse real little-endian PCM bytes back to the exact samples") {
    import graft.operators.Multimodal
    // the packed payload is genuine s16le: byte-level spot check of a
    // known sample, including a negative (two's-complement) one
    val id = 7L
    val pcm = Multimodal.synthPcm(id)
    val n = (64 + id % 193).toInt
    assert(pcm.length == n * 2)
    def sample(k: Int): Int = {
      val lo = pcm(2 * k) & 0xff
      val hi = pcm(2 * k + 1)
      (hi << 8) | lo
    }
    val expected = (0 until n).map(k => (((31L * id + 97L * k) % 4001L) - 2000L).toInt)
    assert((0 until n).map(sample) == expected)
    assert(expected.exists(_ < 0), "fixture must exercise two's-complement")
    // the Catalyst parse agrees with the driver stats on every doc
    val rows = q("q_audio_stats").collect()
    assert(rows.length == 500)
    rows.take(20).foreach { r =>
      val did = r.getAs[Long]("doc_id")
      val m = (64 + did % 193).toInt
      val vs = (0 until m).map(k => ((31L * did + 97L * k) % 4001L) - 2000L)
      assert(r.getAs[Long]("n_samples") == m.toLong)
      assert(r.getAs[Long]("peak") == vs.map(math.abs).max)
      assert(r.getAs[Long]("sum_abs") == vs.map(math.abs).sum)
      assert(r.getAs[Double]("rms") ==
        math.sqrt(vs.map(v => v * v).sum.toDouble / m.toDouble))
      assert(r.getAs[Long]("zero_cross") ==
        vs.zip(vs.tail).count { case (a, b) => (a < 0) != (b < 0) })
    }
  }

  test("s16le parse is exact at the int16 boundaries the fixture never reaches") {
    // hand-packed extremes: -32768, -1, 0, 1, 255, 256, 32767 — the
    // two's-complement and byte-order corners of the Catalyst parse
    val vals = Seq(-32768, -1, 0, 1, 255, 256, 32767, -256, -255)
    val buf = java.nio.ByteBuffer.allocate(vals.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(v => buf.putShort(v.toShort))
    val got = Seq((1L, buf.array()))
      .toDF("doc_id", "media")
      .withColumn("n_samples", expr("CAST(length(media) DIV 2 AS BIGINT)"))
      .withColumn("samples", expr(graft.operators.Multimodal.PcmSamplesExpr))
      .select($"samples").head.getSeq[Long](0)
    assert(got == vals.map(_.toLong),
      s"parse mismatch: got $got expected $vals")
  }

  test("multimodal decode is a real codec roundtrip: PNG magic, lossless raster") {
    import graft.operators.Multimodal
    // the synthesized payload is a genuine PNG (magic bytes + decodable)
    val png = Multimodal.synthPng(42L)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    // ImageIO roundtrip recovers the exact generated pixels
    val f = Multimodal.decode(Multimodal.MediaRow(42L, png))
    val (w, h) = (8 + 42 % 17, 8 + 42 % 13)
    assert(f.width == w && f.height == h && f.n_px == w.toLong * h)
    val vals = for (y <- 0 until h; x <- 0 until w)
      yield ((7L * x + 13L * y + 42L) % 256L).toInt
    assert(f.brightness == vals.map(_.toLong).sum.toDouble / (w * h).toDouble)
    // an undecodable payload fails loud, never yields fake features
    intercept[IllegalArgumentException] {
      Multimodal.decode(Multimodal.MediaRow(1L, Array[Byte](1, 2, 3)))
    }
    // and the distributed path agrees with the single-row decode
    val one = q("q_multimodal_features").filter($"doc_id" === 42L).collect().head
    assert(one.getDouble(4) == f.brightness && one.getString(5) == f.pixel_md5)
  }

  test("exact dedup collapses the replayed corpus to n_copies = 2") {
    val d = q("q_dedup_exact")
    assert(d.count() == 500)
    assert(d.filter($"n_copies" =!= 2).count() == 0)
    assert(d.filter($"keeper_id" >= 1000000L).count() == 0) // keeper = original
  }

  test("ngram Jaccard: planted duplicates score exactly 1.0") {
    val pairs = q("q_dedup_ngram")
      .filter($"b_id" - $"a_id" === 1000000L && $"jaccard" === 1.0)
    assert(pairs.count() == 500)
  }

  test("connected components converges on a >10-diameter chain (pointer doubling)") {
    // 13 nodes chained A-B-C-... (diameter 12) — the shape the old
    // 10-round propagation cap silently mislabeled
    val nodes = (1L to 13L).toDF("doc_id")
    val edges = (1L to 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = graft.operators.TextOps.connectedComponents(nodes, edges)
    assert(labels.filter($"label" =!= 1L).count() == 0)
    assert(labels.count() == 13)
  }

  test("connected components handles a 1000-link chain within the round cap") {
    // diameter 1000: plain propagation would need ~1000 rounds; with
    // pointer doubling it converges in ~log2(1000) ≈ 10 — this is the
    // shape that proves the doubling, not just the fixture
    val n = 1001L
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = graft.operators.TextOps.connectedComponents(nodes, edges)
    assert(labels.filter($"label" =!= 1L).count() == 0)
  }

  test("connected components fails loudly when the round cap is hit") {
    val nodes = (1L to 13L).toDF("doc_id")
    val edges = (1L to 12L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      graft.operators.TextOps.connectedComponents(nodes, edges, maxIter = 1).count()
    }
  }

  test("star edges: 100 copies of one text emit 99 edges, not 4950") {
    // all-pairs within a digest block is d²/2 — a boilerplate page with
    // 10⁶ web copies would emit 5×10¹¹ edges on one shuffle key. Star
    // edges are linear in d with identical connected components.
    val keyed = ((1L to 100L).map(i => ("dup", i)) ++
      Seq(("solo1", 200L), ("solo2", 201L), ("pair", 300L), ("pair", 301L)))
      .toDF("dig", "doc_id")
    val edges = graft.operators.TextOps.starEdges(keyed)
    assert(edges.count() == 100)              // 99 for the block + 1 for the pair
    assert(edges.filter($"src" === 1L).count() == 99)
    assert(edges.filter($"src" === 300L && $"dst" === 301L).count() == 1)
    // components identical to all-pairs: every dup member labels to 1
    val labels = graft.operators.TextOps.connectedComponents(
      keyed.select("doc_id"), edges)
    assert(labels.filter($"doc_id" <= 100L && $"label" =!= 1L).count() == 0)
    assert(labels.filter($"doc_id" === 201L).select("label").head.getLong(0) == 201L)
  }

  test("connected components composes with minhash pair output (near-dup clustering)") {
    // the documented composition: any near-dup pair stream plugs into
    // connectedComponents — here the real LSH candidates, not digests
    val pairs = q("q_dedup_minhash").select($"a_id".as("src"), $"b_id".as("dst"))
    val nodes = pairs.select($"src".as("doc_id"))
      .union(pairs.select($"dst".as("doc_id"))).distinct()
    val labels = graft.operators.TextOps.connectedComponents(nodes, pairs)
    val twins = pairs.filter($"dst" - $"src" === 1000000L)
      .join(labels.withColumnRenamed("doc_id", "src").withColumnRenamed("label", "l1"), "src")
      .join(labels.withColumnRenamed("doc_id", "dst").withColumnRenamed("label", "l2"), "dst")
    assert(twins.count() == 500)
    assert(twins.filter($"l1" =!= $"l2").count() == 0, "replay twins must co-cluster")
  }

  test("shingle DF cap bounds the pair blowup from a corpus-hot shingle") {
    // 50 docs share one 3-gram ("alpha beta gamma"); tails are unique.
    // Uncapped, the hot shingle alone yields C(50,2) = 1225 candidate
    // pairs; with the DF cap the hot shingle is dropped pre-join.
    val docs = (1L to 50L)
      .map(i => (i, s"alpha beta gamma u${i}a u${i}b u${i}c u${i}d"))
      .toDF("doc_id", "text")
    val uncapped = graft.operators.TextOps.ngramCandidates(docs, dfCap = 1000000)
    assert(uncapped.count() == 1225)
    val capped = graft.operators.TextOps.ngramCandidates(docs)
    assert(capped.count() == 0)
  }

  test("tfidf ranks are dense 1..3 per doc and df-1 terms outrank common terms") {
    val t = q("q_tfidf")
    assert(t.count() == 1500) // 500 docs × top-3
    assert(t.groupBy($"doc_id").count().filter($"count" =!= 3).count() == 0)
    // a rank-1 term can never have a LARGER df with the same tf than
    // the rank-2 term of the same doc (score is monotone in 1/df)
    val bad = t.filter($"rank" === 1).as("a")
      .join(t.filter($"rank" === 2).as("b"), $"a.doc_id" === $"b.doc_id")
      .filter($"a.tf" === $"b.tf" && $"a.df" > $"b.df")
    assert(bad.count() == 0)
  }

  test("corpus clean pipeline: one keeper per digest, replays never win, selected is consistent") {
    val cc = q("q_corpus_clean")
    assert(cc.count() == 1000) // doubled corpus, row-level verdicts
    assert(cc.filter($"keep_dedup").count() == 500) // exactly one keeper per text
    assert(cc.filter($"doc_id" >= 1000000L && $"keep_dedup").count() == 0) // original wins
    assert(cc.filter($"selected" &&
      (!$"keep_dedup" || !$"is_quality" || $"split" =!= "train")).count() == 0)
    assert(cc.filter($"selected").count() > 0)
  }

  test("PQ ANN scores agree with brute-force scores on shared pairs and recall holds") {
    val bf = q("q_sim_bruteforce").select($"q_id", $"c_id", $"cosine".as("bf_cos"))
    val pq = q("q_sim_pq").select($"q_id", $"c_id", $"cosine".as("pq_cos"))
    // the refine stage is exact cosine — any shared pair must score
    // identically (ADC only shapes the shortlist, never the score)
    val joined = pq.join(bf, Seq("q_id", "c_id"))
    assert(joined.filter($"bf_cos" =!= $"pq_cos").count() == 0)
    assert(pq.groupBy($"q_id").count().filter($"count" > 5).count() == 0)
    // 8 subspaces × 16-entry codebooks + top-50 exact refine measure
    // 0.62 recall vs brute-force top-5 on this corpus (the 4×16 /
    // top-20 variant measured 0.20 — the true top-5 cosines here are a
    // weak 0.26-0.39, so coarse codebooks rank poorly); pin the floor
    // at the 0.40 the weakest accepted ANN path (old IVF) established
    val nBf = bf.count().toDouble
    val hit = pq.join(bf, Seq("q_id", "c_id")).count().toDouble
    assert(hit / nBf >= 0.40, s"PQ recall ${hit / nBf} fell below 0.40")
  }

  test("IVF-PQ ANN: shared pairs score exactly brute force; recall meets the family floor") {
    val bf = q("q_sim_bruteforce").select($"q_id", $"c_id", $"cosine".as("bf_cos"))
    val ip = q("q_sim_ivfpq").select($"q_id", $"c_id", $"cosine".as("ip_cos"))
    // the refine stage is exact cosine — any pair shared with brute
    // force must score identically (cells + ADC only shape the
    // shortlist, never the exposed score)
    val joined = ip.join(bf, Seq("q_id", "c_id"))
    assert(joined.filter($"bf_cos" =!= $"ip_cos").count() == 0)
    assert(ip.groupBy($"q_id").count().filter($"count" > 5).count() == 0)
    // composing the two pruners costs recall vs either alone (measured
    // 0.48 here vs IVF 0.50 / PQ 0.56 — each stage discards different
    // true neighbors); the floor stays the family's established 0.40
    val nBf = bf.count().toDouble
    assert(joined.count().toDouble / nBf >= 0.40,
      s"IVF-PQ recall ${joined.count().toDouble / nBf} fell below 0.40")
  }

  test("pca power: unit-norm loadings, positive lambda, aligned with converged eigenvector") {
    val p = q("q_pca_power").collect().sortBy(_.getLong(0))
    assert(p.length == 64)
    val loadings = p.map(_.getDouble(2))
    val lambda = p.head.getDouble(3)
    assert(p.forall(_.getDouble(3) == lambda))
    assert(lambda > 0.0)
    // loadings = w2 / ||w2|| — unit norm up to float division rounding
    assert(math.abs(loadings.map(x => x * x).sum - 1.0) < 1e-9)
    // meaningfulness: the production 60-round int16-requantized
    // direction must align with an independently computed converged
    // top eigenvector of the SAME quantized Gram matrix (driver-side
    // double-precision reference on the 500-vector test corpus: 50
    // renormalized power rounds — enough for the reference to settle
    // on this flat spectrum)
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS vec")
      .collect()
      .map(r => r.getSeq[Double](1).toArray)
    val quant = emb.map { v =>
      val maxAbs = v.map(math.abs).max
      val scale = 127.0 / maxAbs
      v.map(x => math.floor(x * scale + 0.5))
    }
    var w = Array.fill(64)(1.0)
    for (_ <- 1 to 50) {
      val t = quant.map(row => row.zip(w).map { case (a, b) => a * b }.sum)
      val nw = Array.tabulate(64)(j => quant.zip(t).map { case (row, ti) => ti * row(j) }.sum)
      val n = math.sqrt(nw.map(x => x * x).sum)
      w = nw.map(_ / n)
    }
    val align = math.abs(loadings.zip(w).map { case (a, b) => a * b }.sum)
    assert(align > 0.98, s"60-round direction drifted from converged eigenvector: |cos| = $align")
  }

  test("centroid outliers are integer-exact and truly maximal; knn votes are consistent") {
    val co = q("q_centroid_outliers").collect()
    // 5 per label, ranks 1..5, d2 strictly ordered within a label
    // (ties broken by vec_id keep d2 nonincreasing)
    co.groupBy(_.get(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      val d2s = sorted.map(_.getLong(3))
      assert(d2s.zip(d2s.tail).forall { case (a, b) => a >= b })
    }
    val kc = q("q_knn_classify").collect()
    assert(kc.length == 50)
    // correct is exactly pred == true, votes within [1, 5]
    kc.foreach { r =>
      assert(r.getBoolean(4) == (r.get(1) == r.get(2)))
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 5L)
    }
  }

  test("evaluation metrics: AUC separates the planted trailer, PR curve is consistent") {
    val a = q("q_auc").collect().head
    val (nPos, nNeg, u2, auc) =
      (a.getLong(0), a.getLong(1), a.getLong(2), a.getDouble(3))
    // the planted-trailer docs are exactly the doc_id % 7 == 0 ones
    assert(nPos > 0 && nNeg > 0)
    // AUC must reproduce its own exact-integer numerator
    assert(auc == u2.toDouble / (2.0 * nPos * nNeg))
    // cover_frac is a strong (not perfect — incidental shared spans
    // exist) detector of the plant: measured 0.92 at sf0.001/sf0.01
    assert(auc > 0.85 && auc <= 1.0, s"AUC $auc outside (0.85, 1]")
    val pr = q("q_pr_curve").collect()
    pr.foreach { r =>
      val (kept, tp, fp) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tp + fp == kept, s"tp+fp != n_kept in $r")
      assert(r.getDouble(5) == tp.toDouble / kept)
    }
    // at k = 10 every doc is kept, so recall is exactly 1 wherever a
    // source has positives at all
    pr.filter(_.getLong(1) == 10L).foreach { r =>
      assert(r.isNullAt(6) || r.getDouble(6) == 1.0)
    }
    // recall is monotone nondecreasing in k within a source
    pr.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val recalls = rows.sortBy(_.getLong(1)).map(r =>
        if (r.isNullAt(6)) 0.0 else r.getDouble(6))
      assert(recalls.zip(recalls.tail).forall { case (x, y) => y >= x })
    }
  }

  test("span dedup: planted trailer spans are found, coverage counts the union") {
    val sd = q("q_span_dedup")
    assert(sd.count() == 500)
    // every 7th doc carries the planted 12-token trailer: its 5
    // trailer-only spans are shared across all such docs, so each must
    // report >=5 duplicated occurrences whose union covers >=12 tokens
    val planted = sd.filter($"doc_id" % 7 === 0)
    assert(planted.count() > 0)
    assert(planted.filter($"n_dup" < 5 || $"covered" < 12).count() == 0)
    // coverage is a union of K-token intervals: it can never exceed
    // n_tokens, and n_dup spans can never exceed n_spans
    assert(sd.filter($"covered" > $"n_tokens" || $"n_dup" > $"n_spans").count() == 0)
    // the flag thresholds on the fraction — consistency row by row
    assert(sd.filter($"is_flagged" =!= ($"cover_frac" >= 0.2)).count() == 0)
  }

  test("domain cap keeps exactly DomainCap docs per source, the top-z ones") {
    val dc = q("q_domain_cap")
    assert(dc.count() == 500)
    // 20 sources × 25 docs at sf0.001, cap 15 → 15 kept everywhere
    val kept = dc.filter($"is_kept").groupBy($"source").count()
    assert(kept.count() == 20)
    assert(kept.filter($"count" =!= 15).count() == 0)
    // no dropped doc outscores a kept doc of the same source (z is the
    // ranking key; ties broken by doc_id are inside the same z value)
    val worstKept = dc.filter($"is_kept").groupBy($"source").agg(min($"z").as("min_kept"))
    val bestDrop = dc.filter(!$"is_kept").groupBy($"source").agg(max($"z").as("max_drop"))
    assert(worstKept.join(bestDrop, "source")
      .filter($"max_drop" > $"min_kept").count() == 0)
  }

  test("keeper quality elects exactly one best doc per cluster, at the max z") {
    val kq = q("q_keeper_quality")
    assert(kq.count() == 1000) // doubled corpus
    val perCluster = kq.groupBy($"cluster_keeper")
      .agg(sum(when($"is_best", 1L).otherwise(0L)).as("n_best"),
        max($"z").as("max_z"))
    assert(perCluster.filter($"n_best" =!= 1L).count() == 0)
    // the elected doc carries the cluster's maximum quality score
    val best = kq.filter($"is_best").select($"cluster_keeper", $"z".as("best_z"))
    assert(best.join(perCluster, "cluster_keeper")
      .filter($"best_z" =!= $"max_z").count() == 0)
    // election is cluster-consistent: every member agrees on best_id
    assert(kq.groupBy($"cluster_keeper")
      .agg(countDistinct($"best_id").as("n")).filter($"n" =!= 1).count() == 0)
  }

  test("BM25 semantics: idf orders rarer terms higher, zero-match docs score zero") {
    val bm = q("q_bm25")
    assert(bm.count() == 500)
    // rank is a dense permutation of 1..500
    assert(bm.select($"rank").distinct().count() == 500)
    assert(bm.agg(max($"rank")).head.getLong(0) == 500L)
    // score semantics: no-match docs score exactly 0 and only they do
    assert(bm.filter($"n_matched" === 0 && $"score" =!= 0.0).count() == 0)
    assert(bm.filter($"n_matched" > 0 && !($"score" > 0.0)).count() == 0)
    // Lucene idf keeps every term contribution positive, so matching
    // MORE query terms at the same dl can't hurt: top-ranked doc
    // matches at least as many terms as the global minimum
    val top = bm.filter($"rank" === 1).head
    assert(top.getAs[Long]("n_matched") >= 1L)
  }

  test("hybrid RRF fuses ranks consistently with its two input rankings") {
    val h = q("q_hybrid_rrf")
    assert(h.count() == 20)
    // rrf is exactly the fusion of the two emitted ranks, row by row
    val bad = h.filter(
      $"rrf" =!= (lit(1.0) / (lit(60.0) + $"rank_lex".cast("double"))
        + lit(1.0) / (lit(60.0) + $"rank_vec".cast("double"))))
    assert(bad.count() == 0)
    // the query doc itself (vec_id 0) must be the vector side's rank 1
    assert(h.filter($"doc_id" === 0 && $"rank_vec" === 1).count() +
      h.filter($"doc_id" =!= 0).filter($"rank_vec" === 1).count() <= 1)
    assert(h.filter($"rank_vec" === 1).select($"doc_id").head.getLong(0) == 0L)
  }

  test("inverted index postings agree with tfidf's df and text_stats totals") {
    val inv = q("q_inverted_index")
    assert(inv.count() > 0)
    // cf summed over all terms = total corpus tokens
    val totalCf = inv.agg(sum($"cf")).head.getLong(0)
    val totalTokens = q("q_text_stats").agg(sum($"n_tokens")).head.getLong(0)
    assert(totalCf == totalTokens)
    // postings head is doc-ordered and at most 10 entries
    val badHead = inv.filter(size(split($"postings_head", ",")) > 10)
    assert(badHead.count() == 0)
    // df can never exceed cf and both are positive
    assert(inv.filter($"df" > $"cf" || $"df" < 1).count() == 0)
  }

  test("prefix-filtered join is lossless: equals the exact all-pairs Jaccard answer") {
    val pf = q("q_dedup_prefix").select($"a_id", $"b_id", $"jaccard")
    // exact answer: any J>=0.5 pair must share a shingle, so the
    // UNFILTERED shingle join + exact Jaccard is complete; the prefix
    // path must reproduce it pair for pair, value for value
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select($"doc_id", $"text")
    val dbl = docs.union(docs.withColumn("doc_id", $"doc_id" + 1000000L))
    val sh = dbl.withColumn("toks", split($"text", " "))
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> concat_ws(' ', slice(toks, i, 3)))")))
        .as("sh"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val exact = sh.select($"doc_id".as("a_id"), $"sh")
      .join(sh.select($"doc_id".as("b_id"), $"sh"), Seq("sh"))
      .filter($"a_id" < $"b_id")
      .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("common"))
      .join(sizes.select($"doc_id".as("a_id"), $"sz".as("a_sz")), Seq("a_id"))
      .join(sizes.select($"doc_id".as("b_id"), $"sz".as("b_sz")), Seq("b_id"))
      .withColumn("jaccard", $"common".cast("double")
        / ($"a_sz" + $"b_sz" - $"common").cast("double"))
      .filter($"jaccard" >= 0.5)
      .select($"a_id", $"b_id", $"jaccard")
    assert(pf.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(pf).count() == 0)
    // and the 500 replay twins are all present at exactly 1.0
    assert(pf.filter($"b_id" - $"a_id" === 1000000L && $"jaccard" === 1.0)
      .count() == 500)
  }

  test("triangleCensus counts each planted triangle exactly once") {
    // K4 on {1,2,3,4} (4 triangles) + path 5-6-7 (0) + triangle {4,8,9}
    // (1, sharing node 4) — exercises hubs, chains, and shared nodes
    // through the degree-ordered orientation.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (4L, 8L), (4L, 9L), (8L, 9L)
    ).toDF("u", "v")
    val row = graft.operators.GraphOps.triangleCensus(edges).collect().head
    assert(row.getAs[Long]("n_nodes") == 9L)
    assert(row.getAs[Long]("n_edges") == 11L)
    // wedges = Σ d(d-1)/2 over degrees (3,3,3,5,1,2,1,2,2) = 22
    assert(row.getAs[Long]("n_wedges") == 22L)
    assert(row.getAs[Long]("n_triangles") == 5L)
    assert(math.abs(row.getAs[Double]("global_cc") - 15.0 / 22.0) < 1e-12)
  }

  test("kcore peels cascading tails and keeps the planted clique") {
    // K4 clique {1,2,3,4} (3-core) + tail 1-7-8 with 8 also tied to 2,3:
    // node 7 peels in round 1 (deg 2), which drops 8 to deg 2 so it
    // peels in round 2 — a genuine cascade, not a single-pass filter.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 7L), (7L, 8L), (2L, 8L), (3L, 8L)
    ).toDF("u", "v")
    val core = graft.operators.GraphOps.kcore(edges, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(core == Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 3L, 3L)))
  }

  test("kcore peel depth stays within the unrolled oracle's 12 rounds") {
    // the q_kcore DuckDB oracle unrolls CoreOracleRounds=12 peel
    // rounds; extra rounds past the fixpoint are no-ops, so the oracle
    // is an exact replay ONLY while the measured depth at the
    // oracle-checked SFs stays <= 12. A fixture regen whose derived K
    // lands near the core-collapse threshold (depth ~40) fails HERE
    // with a diagnosis instead of silently hash-desyncing on a
    // half-peeled oracle graph.
    for (sf <- Seq(Sf0001, Sf001)) {
      val depth = graft.operators.GraphOps.kcoreDepthAt(spark, sf)
      assert(depth <= graft.operators.GraphOps.CoreOracleRounds,
        s"$sf: measured peel depth $depth exceeds the oracle's " +
          s"${graft.operators.GraphOps.CoreOracleRounds} unrolled rounds — " +
          "raise CoreOracleRounds (and regenerate the oracle) or rederive K")
    }
  }

  test("winnowing pairs: every replay pair is found at containment 1.0") {
    // a doc and its id-shifted replay have IDENTICAL fingerprint
    // sets, so every original with >= 2 fingerprints must surface as
    // a pair sharing its whole set — and a df-cap hot enough to eat a
    // replay pair's every fingerprint fails HERE with a diagnosis
    val eligible = q("q_winnow").filter($"n_fps" >= 2).count()
    val replays = q("q_winnow_pairs").filter($"b_id" - $"a_id" === 1000000L)
    assert(replays.count() == eligible,
      s"expected $eligible replay pairs (docs with >=2 fingerprints)")
    assert(replays.filter($"containment" =!= 1.0 || $"n_shared" =!= $"a_fps")
      .count() == 0, "replay pairs must share their full fingerprint set")
  }

  test("ndcg: dcg bounded by idcg (rearrangement), ndcg in (0,1]") {
    val rows = q("q_ndcg").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (dcg, idcg, ndcg) =
        (r.getAs[Double]("dcg"), r.getAs[Double]("idcg"), r.getAs[Double]("ndcg"))
      assert(dcg > 0.0 && dcg <= idcg,
        s"k=${r.getAs[Long]("k")}: dcg $dcg must be in (0, idcg=$idcg]")
      assert(ndcg > 0.0 && ndcg <= 1.0)
    }
  }

  test("retrieval metrics: counts bounded by k, recall monotone, scalars sane") {
    val rows = q("q_retrieval_metrics").orderBy($"k").collect()
    assert(rows.length == 5)
    var prevRecall = -1.0
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(r.getAs[Long]("rel_at_k") <= k)
      assert(r.getAs[Double]("p_at_k") ==
        r.getAs[Long]("rel_at_k").toDouble / k.toDouble)
      val recall = r.getAs[Double]("r_at_k")
      assert(recall >= prevRecall, "recall@k must be nondecreasing in k")
      prevRecall = recall
      val (ap, mrr) = (r.getAs[Double]("avg_prec"), r.getAs[Double]("mrr"))
      assert(ap > 0.0 && ap <= 1.0)
      assert(mrr > 0.0 && mrr <= 1.0)
      assert(r.getAs[Long]("n_rel") > 0L)
    }
  }

  test("key-skew: nearest-rank percentiles ordered, ALL row reconciles") {
    val rows = q("q_key_skew").collect()
    rows.foreach { r =>
      val (p50, p90, p99, mx) = (r.getAs[Long]("p50_cnt"), r.getAs[Long]("p90_cnt"),
        r.getAs[Long]("p99_cnt"), r.getAs[Long]("max_cnt"))
      assert(p50 <= p90 && p90 <= p99 && p99 <= mx,
        s"${r.getAs[String]("grp")}: percentiles must be ordered: $p50/$p90/$p99/$mx")
      assert(r.getAs[Long]("salt_hint") >= 1L)
      assert(r.getAs[Double]("top1_share") > 0.0 && r.getAs[Double]("top1_share") <= 1.0)
      assert(r.getAs[Double]("skew_ratio") >= 1.0) // max >= mean always
    }
    val all = rows.filter(_.getAs[String]("grp") == "ALL").head.getAs[Long]("n_rows")
    val typed = rows.filter(_.getAs[String]("grp") != "ALL").map(_.getAs[Long]("n_rows")).sum
    assert(all == typed, s"ALL row ($all events) must equal the sum over types ($typed)")
  }

  test("communities: labels are member nodes, sizes reconcile, rerun is identical") {
    val rows = q("q_communities").collect()
    val nodes = rows.map(_.getAs[Long]("node")).toSet
    val labels = rows.map(_.getAs[Long]("community")).toSet
    assert(labels.subsetOf(nodes), "every community label must be a graph node")
    val byComm = rows.groupBy(_.getAs[Long]("community"))
    byComm.foreach { case (c, members) =>
      assert(members.forall(_.getAs[Long]("comm_size") == members.length),
        s"community $c: comm_size must equal the member count")
    }
    assert(byComm.values.map(_.length).sum == rows.length)
    // synchronous rounds + total tie order ⇒ bit-identical reruns —
    // the determinism claim the hash gate rests on, asserted in-engine
    val rerun = q("q_communities").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      rerun.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  /** Co-occurrence edges recounted from raw lineitem on the driver:
    * (u < v) part pairs sharing >= `sup` distinct orders. */
  private def coPairs(sup: Int): Set[(Long, Long)] = {
    val li: Seq[(Long, Long)] = graft.sources.Tables.lineitem(spark, Sf0001)
      .select("l_orderkey", "l_partkey").collect().toSeq
      .map(x => (x.getLong(0), x.getLong(1)))
    val perOrder: Seq[(Long, Long)] = li.groupBy(_._1).valuesIterator.flatMap { rs =>
      val ps: Seq[Long] = rs.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSeq
    // NB: .collect { case (e, xs) => e } would rebuild a MAP here
    // (tuple results re-infer a Map builder) and collapse pairs by
    // first element — filter + keySet keeps the full pair keys
    perOrder.groupBy(identity).filter(_._2.size >= sup).keySet
  }

  test("modularity: recomputed from the communities output and a raw strong-edge walk") {
    val r = q("q_modularity").head()
    val lbl = q("q_communities").collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("community")).toMap
    // strong edges recounted from raw lineitem (support >= 2 distinct orders)
    val edges = coPairs(2).toSeq
    val m = edges.size.toLong
    assert(r.getAs[Long]("m") == m)
    val deg: Map[Long, Long] = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val ec: Map[Long, Long] = edges.filter(e => lbl(e._1) == lbl(e._2))
      .groupBy(e => lbl(e._1)).map { case (c, xs) => c -> xs.size.toLong }
    val dc: Map[Long, Long] = deg.toSeq.groupBy(x => lbl(x._1))
      .map { case (c, xs) => c -> xs.map(_._2).sum }
    val num = dc.map { case (c, d) => 4L * m * ec.getOrElse(c, 0L) - d * d }.sum
    assert(r.getAs[Long]("num") == num)
    assert(r.getAs[Long]("n_communities") == dc.size)
    assert(r.getAs[Double]("modularity") == num.toDouble / (4.0 * m * m))
    // sf0.001's strong graph collapses to ONE community, where Q ≡ 0
    // (e_c = m, d_c = 2m) — the identity itself is worth pinning;
    // any finer partition must stay in Newman's range
    if (r.getAs[Long]("n_communities") == 1L)
      assert(r.getAs[Double]("modularity") == 0.0)
    else
      assert(r.getAs[Double]("modularity") > -0.5
        && r.getAs[Double]("modularity") < 1.0)
  }

  test("assortativity: r bounded and the edge-degree sums recounted") {
    val r = q("q_assortativity").head()
    val rr = r.getAs[Double]("r")
    assert(rr >= -1.0 && rr <= 1.0, s"assortativity out of range: $rr")
    // recount over the raw co-occurrence edges
    val edges = coPairs(1)
    val deg: Map[Long, Long] = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    assert(r.getAs[Long]("n_edges") == edges.size.toLong)
    assert(r.getAs[Long]("sdd") == edges.toSeq.map(e => deg(e._1) * deg(e._2)).sum)
    assert(r.getAs[Long]("sx") == edges.toSeq.map(e => deg(e._1) + deg(e._2)).sum)
    assert(r.getAs[Long]("sxx") == edges.toSeq.map(e => deg(e._1) * deg(e._1) + deg(e._2) * deg(e._2)).sum)
  }

  test("bootstrap: bands ordered, one source's replicates replayed bit-exact") {
    val rows = q("q_bootstrap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("ci_hi"))
      assert(r.getAs[Long]("n_valid") >= 1L && r.getAs[Long]("n_valid") <= 32L)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.sources.Tables.documents(spark, Sf0001).count())
    // replay the first source's 32 replicates on the driver
    val h = rows.head
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .filter($"source" === h.getAs[String]("source"))
      .select($"doc_id", $"n_chars").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val cuts = Seq(6171992L, 12343985L, 15429982L, 16458647L, 16715813L,
      16767247L, 16775819L, 16777044L, 16777197L)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val means = (0 until 32).flatMap { b =>
      val ws = docs.map { case (id, x) =>
        val u = java.lang.Long.parseLong(md5hex(s"$id:$b").substring(0, 6), 16)
        val w = cuts.indexWhere(u < _) match { case -1 => 9L; case k => k.toLong }
        (w, w * x)
      }
      val (wsum, wx) = (ws.map(_._1).sum, ws.map(_._2).sum)
      if (wsum > 0) Some((b.toLong, wx.toDouble / wsum)) else None
    }
    assert(h.getAs[Long]("n_valid") == means.length.toLong)
    val sorted = means.sortBy { case (b, mu) => (mu, b) }.map(_._2)
    assert(h.getAs[Double]("ci_lo") == sorted(math.ceil(0.05 * means.length).toInt - 1))
    assert(h.getAs[Double]("ci_hi") == sorted(math.ceil(0.95 * means.length).toInt - 1))
  }

  test("image ahash: bits replayed from the pixel formula, groups reconcile") {
    val rows = q("q_image_ahash").collect()
    assert(rows.length == graft.sources.Tables.documents(spark, Sf0001).count())
    rows.foreach(r => assert(r.getAs[String]("ahash").matches("[01]{64}")))
    // group accounting: n_same consistent, exactly one keeper (the min) per hash
    rows.groupBy(_.getAs[String]("ahash")).foreach { case (_, g) =>
      assert(g.forall(_.getAs[Long]("n_same") == g.length))
      val keepers = g.filter(_.getAs[Boolean]("is_keeper"))
      assert(keepers.map(_.getAs[Long]("doc_id")).toSeq ==
        Seq(g.map(_.getAs[Long]("doc_id")).min))
    }
    // replay three docs' hashes from the analytic pixel formula, no codec
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ahash")).toMap
    byId.keys.toSeq.sorted.take(3).foreach { id =>
      val w = (8 + id % 17).toInt; val h = (8 + id % 13).toInt
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      var tsum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((7L * x + 13L * y + id) % 256L)
        val cell = (y * 8 / h) * 8 + x * 8 / w
        sums(cell) += v; cnts(cell) += 1; tsum += v
      }
      val tn = w.toLong * h.toLong
      val expect = (0 until 64)
        .map(i => if (sums(i) * tn >= tsum * cnts(i)) '1' else '0').mkString
      assert(byId(id) == expect, s"doc $id: codec path and formula disagree")
    }
  }

  test("image dedup: planted near-dup images cluster with the exact driver-side closure") {
    import graft.operators.Multimodal
    // find a fixture slice that PLANTS genuine near-dups: scan ids for
    // codec-path aHash pairs at Hamming 1..3 (non-identical), then run
    // the query over exactly those docs plus padding
    def hash(id: Long): String =
      Multimodal.ahash(Multimodal.MediaRow(id, Multimodal.synthPng(id))).ahash
    def ham(a: String, b: String): Int = a.zip(b).count { case (x, y) => x != y }
    val ids = (0L until 400L).toSeq
    val hs = ids.map(id => id -> hash(id)).toMap
    val nearPairs = for {
      a <- ids; b <- ids if a < b
      d = ham(hs(a), hs(b)) if d >= 1 && d <= 3
    } yield (a, b)
    assert(nearPairs.nonEmpty, "fixture slice planted no near-dup images")
    val dir = java.nio.file.Files.createTempDirectory("imgdedup").toString
    ids.map(id => (id, s"doc $id", "en", "img", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_image_dedup")(spark, dir).collect()
    assert(rows.length == ids.length)
    // driver-side exact transitive closure over exact-equal OR
    // Hamming-<=3 hash relations — the truth the distributed
    // band-join + pointer-doubling CC must reproduce
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for (a <- ids; b <- ids if a < b && (hs(a) == hs(b) || ham(hs(a), hs(b)) <= 3))
      union(a, b)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("ahash") == hs(id))
      assert(r.getAs[Long]("cluster_keeper") == find(id),
        s"doc $id: cluster ${r.getAs[Long]("cluster_keeper")} vs closure ${find(id)}")
      assert(r.getAs[Boolean]("is_keeper") == (id == find(id)))
    }
    // the planted near-dups actually merged clusters beyond exact-equal
    val (pa, pb) = nearPairs.head
    assert(find(pa) == find(pb))
    // cluster sizes reconcile
    val sizes = rows.groupBy(_.getAs[Long]("cluster_keeper")).view.mapValues(_.length.toLong).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_cluster") ==
      sizes(r.getAs[Long]("cluster_keeper"))))
  }

  test("bloom novelty: no false negatives, real pruning, output equals the exact anti-join") {
    val flagged = graft.operators.TextOps.bloomFlagged(spark, Sf0001)
      .localCheckpoint()
    val corpusTexts = graft.sources.Tables.documents(spark, Sf0001)
      .select($"text").as[String].collect().toSet
    val rows = flagged.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Boolean]("maybe_known")))
    // Bloom guarantee: every arrival whose text IS in the corpus must
    // flag maybe_known — a false negative would let a known doc skip
    // the verify join and corrupt the "exact output" claim
    rows.filter(t => corpusTexts(t._2)).foreach { case (id, _, maybe) =>
      assert(maybe, s"false negative on known doc $id")
    }
    // and the sketch genuinely prunes: most of the novel mass exits on
    // the Bloom "no" alone (fp rate ~0.5% at 16 bits/item — assert
    // loosely at <25% so a silently degenerate sketch fails loudly)
    val novel = rows.filter(t => !corpusTexts(t._2))
    assert(novel.nonEmpty)
    val fpShare = novel.count(_._3).toDouble / novel.size
    assert(fpShare < 0.25, s"bloom prunes nothing: fp share $fpShare")
    // output parity with the plain exact formulation
    val got = q("q_bloom_novel").select($"doc_id").as[Long].collect().toSet
    val expect = novel.map(_._1).toSet
    assert(got == expect)
  }

  test("auc by source: slices reconcile with the pooled counts, one slice replayed") {
    val rows = q("q_auc_by_source").collect()
    val pooled = q("q_auc").head()
    assert(rows.map(_.getAs[Long]("n_pos")).sum == pooled.getAs[Long]("n_pos"))
    assert(rows.map(_.getAs[Long]("n_neg")).sum == pooled.getAs[Long]("n_neg"))
    rows.foreach { r =>
      if (r.getAs[Long]("n_pos") > 0 && r.getAs[Long]("n_neg") > 0) {
        val a = r.getAs[Double]("auc")
        assert(a >= 0.0 && a <= 1.0, s"${r.getAs[String]("source")}: auc $a")
      } else assert(r.isNullAt(r.fieldIndex("auc")))
    }
    // replay one slice's tie-corrected U from the per-doc frame
    val h = rows.head
    val docs = q("q_span_dedup")
      .join(graft.sources.Tables.documents(spark, Sf0001).select($"doc_id", $"source"), Seq("doc_id"))
      .filter($"source" === h.getAs[String]("source"))
      .select($"doc_id", $"cover_frac").collect()
      .map(r => (r.getAs[Double]("cover_frac"), r.getAs[Long]("doc_id") % 7 == 0))
    val byScore = docs.groupBy(_._1).toSeq.sortBy(_._1)
    var before = 0L; var s2 = 0L
    byScore.foreach { case (_, g) =>
      val c = g.length.toLong; val p = g.count(_._2).toLong
      s2 += p * (2L * (before + 1L) + c - 1L); before += c
    }
    val npos = docs.count(_._2).toLong
    assert(h.getAs[Long]("u2") == s2 - npos * (npos + 1L))
  }

  test("mutual info: information inequalities hold, marginal entropy replayed") {
    val r = q("q_mutual_info").head()
    val (hl, hs, hj, mi) = (r.getAs[Double]("h_lang"), r.getAs[Double]("h_source"),
      r.getAs[Double]("h_joint"), r.getAs[Double]("mi"))
    // pin quantization is 1e-9 per term over model-sized domains
    val eps = 1e-6
    assert(mi >= -eps, s"MI must be non-negative: $mi")
    assert(mi <= math.min(hl, hs) + eps, "MI bounded by the marginal entropies")
    assert(hj <= hl + hs + eps && hj >= math.max(hl, hs) - eps)
    // replay H(lang) from raw counts with the same pin discipline
    val counts = graft.sources.Tables.documents(spark, Sf0001)
      .groupBy("lang").count().collect().map(_.getAs[Long]("count"))
    val n = counts.sum.toDouble
    val terms = counts.map { c =>
      BigDecimal(c / n * math.log(c / n)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    assert(math.abs(hl - (-terms.sum.toDouble)) < 1e-12)
    assert(r.getAs[Long]("n_langs") == counts.length.toLong)
  }

  test("ece: scalar in [0,1] over all docs, bins bounded by 10") {
    val r = q("q_ece").head()
    assert(r.getAs[Long]("n_bins") >= 1L && r.getAs[Long]("n_bins") <= 10L)
    assert(r.getAs[Long]("n_docs") ==
      graft.sources.Tables.documents(spark, Sf0001).count())
    val ece = r.getAs[Double]("ece")
    assert(ece >= 0.0 && ece <= 1.0, s"ece $ece out of range")
  }

  test("markov transition rows are row-normalized counts over the lag pairs") {
    val rows = q("q_markov").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (prev, rs) =>
      val total = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum == total, s"$prev: counts don't sum to row_total")
      val psum = rs.map(_.getDouble(4)).sum
      assert(math.abs(psum - 1.0) < 1e-9, s"$prev: probabilities sum to $psum")
    }
    // every consecutive pair is consumed exactly once:
    // Σ n = n_events − n_users (each user's first event starts no pair)
    val ev = graft.sources.Tables.events(spark, Sf0001)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == expected,
      s"transition mass ${rows.map(_.getLong(2)).sum} != events − users $expected")
  }

  test("interarrival gaps reconcile with per-type counts; synthetic arrivals are near-memoryless") {
    val counts = graft.sources.Tables.events(spark, Sf0001)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = q("q_interarrival").collect()
    assert(rows.map(_.getString(0)).toSet == counts.keySet)
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getLong(1) == counts(t) - 1, s"$t: n_gaps != count − 1")
      val mean = r.getDouble(5); val std = r.getDouble(6); val b = r.getDouble(7)
      assert(mean == r.getLong(2).toDouble / r.getLong(1), s"$t: mean drifted from sums")
      assert(std >= 0.0 && b > -1.0 && b < 1.0, s"$t: burstiness $b out of range")
      // the fixture's arrivals are Poisson-like: B should sit near 0,
      // not at the periodic (−1) or bursty (+1) extremes
      assert(math.abs(b) < 0.2, s"$t: burstiness $b too far from memoryless")
    }
  }

  test("boilerplate grams meet the 1% bar and df is the true distinct-doc count") {
    val rows = q("q_boilerplate").collect()
    assert(rows.nonEmpty, "no 3-gram reached the 1% document-frequency bar")
    val nDocs = graft.sources.Tables.documents(spark, Sf0001).count()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length), "ranks not contiguous")
    rows.foreach { r =>
      assert(r.getLong(4) == nDocs)
      assert(r.getLong(2) * 100 >= nDocs && r.getLong(2) <= nDocs, s"df bar violated: $r")
      assert(r.getLong(3) >= r.getLong(2), "n_occ < df is impossible")
    }
    // re-derive the top gram's df independently (token-exact, not substring)
    val top = rows.head.getString(1)
    val recheck = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 3)
      .filter(array_contains(
        expr("transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))"),
        top))
      .count()
    assert(recheck == rows.head.getLong(2), s"top gram '$top' df mismatch")
  }

  test("JL projection: md5 sign matrix reproduces driver-side; norms concentrate") {
    val rows = q("q_embed_project").collect()
    val byVec = rows.groupBy(_.getLong(0))
    assert(byVec.forall(_._2.length == 16), "every vector must project to 16 dims")
    assert(rows.forall(r => math.abs(r.getLong(2)) <= 64L * 127L), "|y| exceeds the int8 envelope")
    // independent driver-side recompute for one vector: quantize the raw
    // embedding and fold through the same md5-parity sign matrix
    val raw = graft.sources.Tables.embeddings(spark, Sf0001)
      .filter($"vec_id" === 0L).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val maxAbs = raw.map(math.abs).max
    val qv = raw.map(x => math.floor(x * (127.0 / maxAbs) + 0.5).toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = (0 until 16).map { j =>
      (1 to 64).map { dd =>
        val hex = md.digest(s"${dd}_$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
        val s = if (("0123456789abcdef".indexOf(hex.charAt(0)) + 1) % 2 == 1) 1L else -1L
        qv(dd - 1) * s
      }.sum
    }
    val got = byVec(0L).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(got == expected, s"vec 0 projection mismatch: $got vs $expected")
    // JL norm preservation: E[Σ_j y_j²] = 16·‖q‖² — the mean ratio over
    // the corpus should concentrate near 1
    val ratios = byVec.map { case (_, rs) =>
      rs.map(r => r.getLong(2).toDouble * r.getLong(2)).sum / 16.0
    }
    val qNorms = graft.sources.Tables.embeddings(spark, Sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
      .withColumn("max_abs", expr("aggregate(vec, CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
      .withColumn("n2", expr("aggregate(transform(vec, x -> CAST(floor(x * (127.0 / max_abs) + 0.5) AS BIGINT)), 0L, (acc, v) -> acc + v * v)"))
      .agg(avg($"n2")).head().getDouble(0)
    val meanProj = ratios.sum / ratios.size
    assert(meanProj / qNorms > 0.7 && meanProj / qNorms < 1.3,
      s"JL norm ratio ${meanProj / qNorms} outside concentration band")
  }

  test("attribution agrees with an independent self-join derivation") {
    val rows = q("q_attribution").collect()
    assert(rows.nonEmpty)
    val types = graft.sources.Tables.events(spark, Sf0001)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet.subsetOf(types - "purchase"))
    // independent path: per purchase, the argmax-ts touch within 1h via
    // a join + window instead of the carried last_value
    val ev = graft.sources.Tables.events(spark, Sf0001)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), unix_micros($"ts").as("p_us"), $"ts".as("p_ts"))
    val touches = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"event_type".as("channel"), unix_micros($"ts").as("t_us"), $"event_id".as("t_id"))
    val joined = purchases.join(touches, Seq("user_id"))
      .filter(($"t_us" < $"p_us" || ($"t_us" === $"p_us" && $"t_id" < $"p_id"))
        && $"p_us" - $"t_us" <= 3600000000L)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"p_id")
          .orderBy($"t_us".desc, $"t_id".desc)))
      .filter($"rn" === 1)
    // the window formulation ignores the 1h bound when picking the LAST
    // touch; the join picks the last IN-WINDOW touch — they agree only
    // on purchases whose last touch is in-window, which is exactly the
    // attributed set. Compare per-channel counts of that set.
    val expected = joined.groupBy("channel").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected.filter(_._2 > 0), s"attribution mismatch: $got vs $expected")
  }

  test("time split cuts at the 80th percentile and counts reconcile") {
    val r = q("q_time_split").head()
    val ev = graft.sources.Tables.events(spark, Sf0001)
    val total = ev.count()
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_val") == total)
    val frac = r.getAs[Long]("n_train").toDouble / total
    assert(math.abs(frac - 0.8) < 0.01, s"train fraction $frac drifted from the 0.8 cut")
    assert(r.getAs[Long]("users_both") <=
      math.min(r.getAs[Long]("users_train"), r.getAs[Long]("users_val")))
    val (lo, hi) = (ev.agg(min(unix_micros($"ts"))).head().getLong(0),
      ev.agg(max(unix_micros($"ts"))).head().getLong(0))
    val cut = r.getAs[Long]("cut_us")
    assert(cut > lo && cut < hi, s"cut $cut outside event span [$lo, $hi]")
  }

  test("MMR picks diversify: lower mean pairwise cosine than the plain top-k") {
    val rows = q("q_mmr").collect()
    assert(rows.length == 3 * 8, s"expected 3 queries x 8 picks, got ${rows.length}")
    val emb = graft.sources.Tables.embeddings(spark, Sf0001)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    def meanPairwise(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.size)
        yield cos(emb(ids(i)), emb(ids(j)))
      ps.sum / ps.size
    }
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val picks = rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      assert(picks.distinct.size == picks.size, s"q$qid: duplicate picks")
      // rank 1 is the pure-relevance argmax: score = 2·rel, rel maximal
      val r1 = rs.minBy(_.getLong(1))
      assert(r1.getLong(4) == 2L * r1.getLong(3), s"q$qid: rank-1 score != 2·rel")
      assert(rs.forall(_.getLong(3) <= r1.getLong(3)), s"q$qid: rank-1 not max-rel")
      // diversification: MMR's 8 picks are no more self-similar than the
      // true 8 most-relevant candidates (same quantized-dot ranking as
      // the query itself, so the baseline set is the rank-by-rel prefix)
      def quant(a: Array[Double]): Array[Long] = {
        val m = a.map(math.abs).max
        a.map(x => math.floor(x * (127.0 / m) + 0.5).toLong)
      }
      val qv = quant(emb(qid))
      val top8 = emb.keys.filter(_ != qid).toSeq
        .map(v => (v, quant(emb(v)).zip(qv).map { case (x, y) => x * y }.sum))
        .sortBy(t => (-t._2, t._1)).take(8).map(_._1)
      assert(meanPairwise(picks) <= meanPairwise(top8) + 1e-12,
        s"q$qid: MMR did not diversify (${meanPairwise(picks)} vs ${meanPairwise(top8)})")
    }
  }

  test("active users: WAU bounds DAU, equals union of the 7-day window, stickiness sane") {
    val rows = q("q_active_users").collect()
    assert(rows.nonEmpty)
    val daily = graft.sources.Tables.events(spark, Sf0001)
      .select(to_date($"ts").as("day"), $"user_id").distinct().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1))
    rows.foreach { r =>
      val day = r.getTimestamp(0).toLocalDateTime.toLocalDate
      val (dau, wau, st) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dau <= wau && st > 0.0 && st <= 1.0, s"$day: dau $dau wau $wau st $st")
      // independent recount from the raw (day, user) pairs
      val expDau = daily.count(_._1 == day)
      val expWau = daily.filter { case (d2, _) =>
        !d2.isAfter(day) && !d2.isBefore(day.minusDays(6))
      }.map(_._2).distinct.length
      assert(dau == expDau && wau == expWau, s"$day: recount mismatch")
    }
  }

  test("top movers: per-day rank covers every type, deltas reconcile with daily counts") {
    val rows = q("q_top_movers").collect()
    assert(rows.nonEmpty)
    val byDay = rows.groupBy(_.getTimestamp(0))
    byDay.foreach { case (day, rs) =>
      assert(rs.map(_.getLong(6)).sorted.toSeq == (1L to rs.length), s"$day: ranks not contiguous")
      // ranked by |delta| desc: verify the ordering invariant
      val sorted = rs.sortBy(_.getLong(6)).map(r => math.abs(r.getLong(4)))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b }, s"$day: not |delta|-sorted")
      rs.foreach(r => assert(r.getLong(4) == r.getLong(2) - r.getLong(3)))
    }
    // every (type, day>first-day-of-type) appears exactly once
    val daily = graft.sources.Tables.events(spark, Sf0001)
      .groupBy($"event_type", to_date($"ts").as("day")).count().collect()
    val expected = daily.groupBy(_.getString(0)).map { case (_, ds) => ds.length - 1 }.sum
    assert(rows.length == expected, s"${rows.length} rows vs expected $expected")
  }

  test("every registered query is runnable and non-degenerate at sf0.001") {
    val counts = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> SparkEntry.queries(name)(spark, Sf0001).count()
    }
    val empty = counts.filter(_._2 == 0L)
    assert(empty.isEmpty, s"degenerate queries: $empty")
  }

  test("q_custdist: distribution reconciles to customer and order totals") {
    val rows = q("q_custdist").collect()
    val customers = graft.sources.Tables.customer(spark, Sf0001).count()
    val orders = graft.sources.Tables.orders(spark, Sf0001).count()
    // every customer lands in exactly one count bucket
    assert(rows.map(_.getAs[Long]("custdist")).sum == customers)
    // Σ c_count·custdist replays every order exactly once
    assert(rows.map(r => r.getAs[Long]("c_count") * r.getAs[Long]("custdist")).sum == orders)
    // ordering is (custdist desc, c_count desc)
    val ord = rows.map(r => (r.getAs[Long]("custdist"), r.getAs[Long]("c_count")))
    assert(ord.zip(ord.tail).forall { case ((d1, c1), (d2, c2)) =>
      d1 > d2 || (d1 == d2 && c1 > c2) })
  }

  test("q_revenue_concentration: threshold recounted from exact decimal sums") {
    val rows = q("q_revenue_concentration").collect()
    assert(rows.nonEmpty)
    val per = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_partkey", $"l_extendedprice").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(v =>
        BigDecimal(v._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum).toMap
    val total = per.values.sum
    val expected = per.filter { case (_, rev) => rev * 1250 > total }.keySet
    assert(rows.map(_.getAs[Long]("l_partkey")).toSet == expected)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("part_rev")
        - per(r.getAs[Long]("l_partkey")).toDouble) < 1e-9)
    }
  }

  test("q_top_supplier: the reported supplier is the exact-decimal argmax") {
    val rows = q("q_top_supplier").collect()
    assert(rows.nonEmpty)
    val per = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_suppkey", $"l_extendedprice", $"l_discount")
      .as[(Long, Double, Double)].collect()
      .groupBy(_._1).view.mapValues { ls =>
        (ls.map { case (_, p, disc) =>
          BigDecimal(p).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
            (BigDecimal(1) - BigDecimal(disc).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        }.sum, ls.length)
      }.toMap
    val maxRev = per.values.map(_._1).max
    val winners = per.filter(_._2._1 == maxRev).keySet
    assert(rows.map(_.getAs[Long]("s_suppkey")).toSet == winners)
    rows.foreach { r =>
      val (rev, n) = per(r.getAs[Long]("s_suppkey"))
      assert(r.getAs[Long]("n_lines") == n)
      assert(math.abs(r.getAs[Double]("total_rev") - rev.toDouble) < 1e-9)
    }
  }

  test("q_dormant_customers: totals reconcile with a driver-side recount") {
    val rows = q("q_dormant_customers").collect()
    assert(rows.nonEmpty)
    val cust = graft.sources.Tables.customer(spark, Sf0001)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      .as[(Long, Int, Double)].collect()
    val ords = graft.sources.Tables.orders(spark, Sf0001)
      .select($"o_custkey", to_date($"o_orderdate").as("day"))
      .as[(Long, java.sql.Date)].collect()
    val cutoff = java.sql.Date.valueOf(
      ords.map(_._2.toLocalDate).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
        .minusDays(90))
    val recentCust = ords.filter(!_._2.before(cutoff)).map(_._1).toSet
    val pos = cust.filter(_._3 > 0.0)
    val (nPos, totPos) = (pos.length,
      pos.map(c => BigDecimal(c._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
    val expected = cust
      .filter(c => !recentCust(c._1))
      .filter(c => BigDecimal(c._3).setScale(2, BigDecimal.RoundingMode.HALF_UP) * nPos > totPos)
      .groupBy(_._2).view.mapValues(_.length).toMap
    val got = rows.map(r => r.getAs[Int]("c_nationkey") -> r.getAs[Long]("numcust").toInt).toMap
    assert(got == expected, s"got $got vs recount $expected")
  }

  test("oracleSql keys are a subset of queries keys (driver contract)") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without queries: $extra")
  }

  test("dsir weights: full driver replay of the hashed-bigram importance model") {
    val rows = q("q_dsir_weights").collect()
    assert(rows.length == 200)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // (doc, lang, bucket) -> n, replayed with the same hashed-bigram rule
    val perDoc = docs.flatMap { case (id, lang, text) =>
      val t = text.split(" ", -1)
      if (t.length < 2) Seq.empty[((Long, String, Long), Long)]
      else t.sliding(2).map { w =>
        val f = java.lang.Long.parseLong(
          md5hex(w(0) + " " + w(1)).substring(0, 8), 16) % 4096L
        ((id, lang, f), 1L)
      }.toSeq
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val cr = perDoc.groupBy(_._1._3).view.mapValues(_.values.sum).toMap
    val ct = perDoc.filter(_._1._2 == "en")
      .groupBy(_._1._3).view.mapValues(_.values.sum).toMap
    val tr = perDoc.values.sum
    val tt = perDoc.filter(_._1._2 == "en").values.sum
    // λ replayed with the engine's exact shape: one IEEE expression
    // over exact counts, java.lang.Math.log (Spark's ln), HALF_UP pin
    val lam: Map[Long, BigDecimal] = cr.map { case (f, c) =>
      val num = (ct.getOrElse(f, 0L) + 1L).toDouble * (tr + 4096L).toDouble
      val den = (c + 1L).toDouble * (tt + 4096L).toDouble
      f -> BigDecimal(math.log(num / den)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    val weights = perDoc.toSeq.groupBy(k => (k._1._1, k._1._2))
      .map { case ((id, lang), xs) =>
        (id, lang, xs.map(_._2).sum,
          xs.map { case ((_, _, f), n) => BigDecimal(n) * lam(f) }.sum.toDouble)
      }.toSeq
    val top = weights.sortBy { case (id, _, _, w) => (-w, id) }.take(200)
    rows.zip(top).foreach { case (r, (id, lang, n, w)) =>
      assert(r.getAs[Long]("doc_id") == id, s"order diverged at doc $id")
      assert(r.getAs[String]("lang") == lang)
      assert(r.getAs[Long]("n_bigrams") == n)
      assert(r.getAs[Double]("weight") == w,
        s"weight mismatch for doc $id: ${r.getAs[Double]("weight")} vs $w")
    }
    // the selection property itself: the top of the weight order must
    // be en-enriched relative to the corpus (that is DSIR's point)
    val enTop = top.count(_._2 == "en").toDouble / top.size
    val enAll = docs.count(_._2 == "en").toDouble / docs.length
    assert(enTop > enAll,
      f"top-200 en share $enTop%.3f not above corpus share $enAll%.3f")
  }

  test("cms watchlist: exact counts recounted; both CM guarantees hold") {
    val rows = q("q_cms_watchlist").collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getAs[Boolean]("never_undercounts")),
      "CM sketch undercounted — a hard invariant violation")
    assert(rows.forall(_.getAs[Boolean]("within_eps")),
      "CM estimate exceeded exact + eps*N")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val watch = graft.sources.Tables.part(spark, Sf0001)
      .select($"p_partkey").collect().map(_.getLong(0))
      .sortBy(k => md5hex(k.toString)).take(100).toSet
    val exact = graft.sources.Tables.lineitem(spark, Sf0001)
      .select($"l_partkey").collect().map(_.getLong(0))
      .filter(watch).groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_.getAs[Long]("p_partkey")).toSet == watch)
    rows.foreach { r =>
      val k = r.getAs[Long]("p_partkey")
      assert(r.getAs[Long]("exact_cnt") == exact.getOrElse(k, 0L),
        s"exact count mismatch for part $k")
    }
  }

  test("feature hashing: driver XXH64 recount reproduces every (doc, bucket) cell") {
    val rows = q("q_feature_hash").collect()
    assert(rows.nonEmpty)
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    // independent hash path: the INTERPRETED XxHash64Function vs the
    // codegen'd xxhash64 column the query runs
    def h64(tok: String): Long =
      XxHash64Function.hash(UTF8String.fromString(tok),
        org.apache.spark.sql.types.StringType, 42L)
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.flatMap { case (id, text) =>
      // toSeq before map: a Map result would key by (id, bucket) and
      // silently collapse colliding tokens — the very thing n_terms counts
      text.split(" ", -1).groupBy(identity).toSeq.map { case (tok, occ) =>
        val h = h64(tok)
        ((id, h & 255L), (1L, occ.length.toLong,
          (if ((h & 256L) == 0L) 1L else -1L) * occ.length))
      }
    }.groupBy(_._1).view.mapValues(vs =>
      (vs.map(_._2._1).sum, vs.map(_._2._2).sum, vs.map(_._2._3).sum)).toMap
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val key = (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"))
      val (terms, ntok, feat) = expected(key)
      assert(r.getAs[Long]("n_terms") == terms, s"terms $key")
      assert(r.getAs[Long]("n_tok") == ntok, s"ntok $key")
      assert(r.getAs[Long]("feat") == feat, s"feat $key")
      // |feat| <= n_tok and feat ≡ n_tok (mod 2): signed-sum sanity
      assert(math.abs(r.getAs[Long]("feat")) <= r.getAs[Long]("n_tok"))
      assert(((r.getAs[Long]("feat") - r.getAs[Long]("n_tok")) % 2 + 2) % 2 == 0)
      assert(key._2 >= 0L && key._2 < 256L)
    }
  }

  test("mutual NN: reciprocity holds exactly and scores replay a driver cosine scan") {
    val rows = q("q_mutual_nn").collect()
    assert(rows.nonEmpty)
    val vecs = graft.sources.Tables.embeddings(spark, Sf0001)
      .selectExpr("label", "vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    // same fused fold the native expression runs: sequential dot/na/nb
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val top3 = vecs.groupBy(_._1).view.mapValues { vs =>
      vs.map { case (_, id, v) =>
        id -> vs.filter(_._2 != id)
          .map { case (_, oid, ov) => (oid, cos(v, ov)) }
          .sortBy { case (oid, c) => (-c, oid) }.take(3).zipWithIndex
          .map { case ((oid, c), i) => oid -> ((i + 1).toLong, c) }.toMap
      }.toMap
    }.toMap
    val expected = for {
      (lab, m) <- top3.toSeq
      (a, nn) <- m.toSeq
      (b, (rkAb, c)) <- nn.toSeq
      if a < b && m(b).contains(a)
    } yield ((lab, a, b), (rkAb, m(b)(a)._1, c))
    assert(rows.length == expected.length)
    val got = rows.map(r => ((r.getAs[Int]("label"), r.getAs[Long]("a"),
      r.getAs[Long]("b")), (r.getAs[Long]("rank_ab"), r.getAs[Long]("rank_ba"),
      r.getAs[Double]("cosine")))).toMap
    expected.foreach { case (k, v) => assert(got(k) == v, s"pair $k") }
  }

  test("q_mrl_recall: overlaps replay a driver prefix-cosine scan at all three dims") {
    val rows = q("q_mrl_recall").collect()
    assert(rows.length == 20) // 2 prefix dims x 10 probes
    val vecs = graft.sources.Tables.embeddings(spark, Sf0001)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double], m: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def top5(qv: Array[Double], qid: Long, m: Int): Set[Long] =
      vecs.filter(_._1 != qid)
        .map { case (oid, ov) => (oid, cos(qv, ov, m)) }
        .sortBy { case (oid, c) => (-c, oid) }.take(5).map(_._1).toSet
    val probes = vecs.filter(_._1 < 10)
    for ((qid, qv) <- probes; m <- Seq(16, 32)) {
      val expected = (top5(qv, qid, m) intersect top5(qv, qid, 64)).size.toLong
      val r = rows.find(r => r.getAs[Long]("q_id") == qid
        && r.getAs[Long]("prefix_dim") == m.toLong).get
      assert(r.getAs[Long]("n_common") == expected, s"probe $qid dim $m")
      assert(r.getAs[Double]("recall_at_5") == expected.toDouble / 5.0)
    }
    // truncation must actually cost something somewhere, or the probe
    // set isn't exercising the measurement
    assert(rows.exists(_.getAs[Long]("n_common") < 5L))
  }

  test("seq pattern: regex counts replay a driver scan of every week word") {
    val rows = q("q_seq_pattern").collect()
    assert(rows.nonEmpty)
    // independent word build: bucket by epoch week on the driver, then
    // count with java.util.regex directly (the query goes through Spark's
    // codegen'd regexp_extract_all)
    val evs = graft.sources.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val words = evs.groupBy(e => (e._1, e._2 / 86400000000L / 7L))
      .view.mapValues { rs =>
        rs.sortBy(r => (r._2, r._3)).map(_._4.head).mkString
      }.toMap
    def cnt(w: String, p: String): Long = p.r.findAllIn(w).length.toLong
    assert(rows.length == words.size)
    rows.foreach { r =>
      val w = words((r.getAs[Long]("user_id"), r.getAs[Long]("week")))
      assert(r.getAs[String]("word") == w)
      assert(r.getAs[Long]("n_events") == w.length.toLong)
      assert(r.getAs[Long]("n_vc") == cnt(w, "vc"))
      assert(r.getAs[Long]("n_conv") == cnt(w, "v[^ps]*p"))
      assert(r.getAs[Long]("n_err2") == cnt(w, "ee"))
      val runs = "p+".r.findAllIn(w).map(_.length.toLong).toSeq
      assert(r.getAs[Long]("max_p_run") == (if (runs.isEmpty) 0L else runs.max))
    }
    // fixture must exercise each pattern at least once somewhere
    assert(rows.map(_.getAs[Long]("n_vc")).sum > 0)
    assert(rows.map(_.getAs[Long]("n_conv")).sum > 0)
    assert(rows.map(_.getAs[Long]("n_err2")).sum > 0)
    assert(rows.map(_.getAs[Long]("max_p_run")).max >= 2)
  }

  test("WAND: top-k equals the exhaustive ranking; the bound pass actually prunes") {
    val (res, cand) = graft.operators.TextOps.bm25WandFrames(spark, Sf0001)
    val rows = res.collect()
    assert(rows.length == 20)
    val full = q("q_bm25").collect()
    val brute = full.filter(_.getAs[Long]("n_matched") > 0)
      .sortBy(r => (-r.getAs[Double]("score"), r.getAs[Long]("doc_id"))).take(20)
    rows.sortBy(_.getAs[Long]("rank")).zip(brute).foreach { case (w, b) =>
      assert(w.getAs[Long]("doc_id") == b.getAs[Long]("doc_id"), "doc order")
      assert(w.getAs[Double]("score") == b.getAs[Double]("score"), "score")
      assert(w.getAs[Long]("n_matched") == b.getAs[Long]("n_matched"))
    }
    val nCand = cand.count()
    val nMatched = full.count(_.getAs[Long]("n_matched") > 0).toLong
    assert(nCand >= 20L, "candidate set cannot be smaller than k")
    assert(nCand < nMatched,
      s"bound pass pruned nothing: $nCand candidates of $nMatched matched docs")
  }

  test("RAKE: driver phrase-cut and deg/freq scoring reproduce the top-30 exactly") {
    val rows = q("q_rake").collect()
    assert(rows.length == 30)
    val stop = Set("the", "a")
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    // phrases: maximal non-stopword runs, capped at 4 tokens
    val phrases = docs.flatMap { case (_, text) =>
      val runs = scala.collection.mutable.ArrayBuffer[Vector[String]](Vector())
      text.split(" ", -1).foreach { t =>
        if (stop(t)) runs += Vector() else runs(runs.length - 1) :+= t
      }
      runs.filter(r => r.nonEmpty && r.size <= 4)
    }
    val freq = phrases.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val deg = phrases.flatMap(p => p.map(_ -> p.size.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def pin(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val score = phrases.map(p =>
      p.mkString(" ") -> p.map(w => pin(deg(w).toDouble / freq(w).toDouble)).sum.toDouble)
      .toMap // identical occurrences collapse to one entry, like MIN(score)
    val occ = phrases.groupBy(_.mkString(" ")).view.mapValues(_.length.toLong).toMap
    val expected = occ.keys.toSeq
      .map(ph => (ph, phrases.find(_.mkString(" ") == ph).get.size.toLong, occ(ph), score(ph)))
      .sortBy { case (ph, _, _, sc) => (-sc, ph) }.take(30)
    rows.zip(expected).foreach { case (r, (ph, nw, no, sc)) =>
      assert(r.getAs[String]("phrase") == ph, "phrase order")
      assert(r.getAs[Long]("n_words") == nw)
      assert(r.getAs[Long]("n_occ") == no)
      assert(r.getAs[Double]("score") == sc, s"score of '$ph'")
    }
    // multi-word phrases must actually appear or the run-cutting is untested
    assert(rows.exists(_.getAs[Long]("n_words") > 1))
  }

  test("percolate: driver conjunction replay; zero-match query surfaces; partial hits rejected") {
    val rows = q("q_percolate").collect()
    assert(rows.length == 6)
    val docToks = graft.sources.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSet)
    val reg = Map(1L -> "spark query", 2L -> "vector hash", 3L -> "data",
      4L -> "customer fast line", 5L -> "zzzabsent", 6L -> "group row")
    rows.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val terms = reg(qid).split(" ").toSet
      val matched = docToks.filter { case (_, ts) => terms.subsetOf(ts) }.map(_._1)
      assert(r.getAs[Long]("n_docs") == matched.length.toLong, s"qid $qid")
      if (matched.nonEmpty) {
        assert(r.getAs[Long]("first_doc") == matched.min)
        assert(r.getAs[Long]("last_doc") == matched.max)
      } else assert(r.isNullAt(r.fieldIndex("first_doc")))
      assert(r.getAs[Long]("n_terms") == terms.size.toLong)
    }
    // the absent-term query must be PRESENT with n_docs = 0, not dropped
    val q5 = rows.find(_.getAs[Long]("qid") == 5L).get
    assert(q5.getAs[Long]("n_docs") == 0L)
    // planted conjunction check: 2-of-3 terms must NOT match
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("perc").toString
    Seq((1L, "customer fast walks", "en", "t", 10L),
      (2L, "customer fast line here", "en", "t", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("q_percolate")(spark, dir).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("n_docs")).toMap
    assert(planted(4L) == 1L, "doc 1 has only 2 of 3 terms and must not match q4")
  }

  test("table checksum: driver md5 fold replays every partition; XOR merges to the total") {
    val rows = q("q_table_checksum").collect()
    val (tot, parts) = rows.partition(_.getAs[Long]("mkey") == -1L)
    assert(tot.length == 1 && parts.nonEmpty)
    // mergeability — THE property the operator exists for: the grand
    // total must be the XOR of the partition checksums and the sum of
    // their counts (disjoint partitions)
    assert(tot.head.getAs[Long]("checksum") ==
      parts.map(_.getAs[Long]("checksum")).reduce(_ ^ _))
    assert(tot.head.getAs[Long]("n_rows") == parts.map(_.getAs[Long]("n_rows")).sum)
    // driver recount of the canonical row hash
    def md5hex(s2: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s2.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = graft.sources.Tables.orders(spark, Sf0001)
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING) AS price",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS us",
        "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mkey")
      .collect().map { r =>
        val str = Seq(r.getLong(0).toString, r.getLong(1).toString, r.getString(2),
          r.getString(3), r.getString(4), r.getLong(5).toString).mkString("|")
        val h = md5hex(str)
        val hi = java.lang.Long.parseLong(h.substring(0, 8), 16)
        val lo = java.lang.Long.parseLong(h.substring(8, 16), 16)
        r.getLong(6) -> ((hi << 32) | lo)
      }.groupBy(_._1).view.mapValues(vs =>
        (vs.length.toLong, vs.map(_._2).reduce(_ ^ _))).toMap
    parts.foreach { r =>
      val (n, x) = expected(r.getAs[Long]("mkey"))
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("checksum") == x, s"month ${r.getAs[Long]("mkey")}")
    }
    assert(parts.length == expected.size)
  }

  test("audio frames: analytic per-frame replay; loudest election unique per doc") {
    val rows = q("q_audio_frames").collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, fs) =>
      val n = 64 + id % 193
      assert(fs.length == ((n - 64) / 32 + 1).toInt, s"frame count doc $id")
      assert(fs.count(_.getAs[Boolean]("is_loudest")) == 1, s"loudest doc $id")
      def v(k: Long): Long = (31 * id + 97 * k) % 4001 - 2000
      fs.foreach { f =>
        val fr = f.getAs[Long]("frame")
        assert(f.getAs[Long]("start_idx") == 32 * fr)
        val win = (0L until 64L).map(j => v(32 * fr + j))
        assert(f.getAs[Long]("energy") == win.map(x => x * x).sum)
        assert(f.getAs[Long]("peak") == win.map(math.abs).max)
        assert(f.getAs[Long]("zero_cross") ==
          win.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
        assert(f.getAs[Double]("rms") == math.sqrt(win.map(x => x * x).sum.toDouble / 64.0))
      }
      // the elected frame really is the max-energy one (first on ties)
      val loud = fs.find(_.getAs[Boolean]("is_loudest")).get
      val maxE = fs.map(_.getAs[Long]("energy")).max
      assert(loud.getAs[Long]("energy") == maxE)
      assert(fs.filter(_.getAs[Long]("energy") == maxE)
        .map(_.getAs[Long]("frame")).min == loud.getAs[Long]("frame"))
    }
  }

  test("view maintenance: both sides populated; full-outer merge covers one-sided groups") {
    val rows = q("q_view_maintenance").collect()
    assert(rows.nonEmpty)
    // driver recount: merged view == direct per-priority aggregate
    val o = graft.sources.Tables.orders(spark, Sf0001)
      .selectExpr("o_orderpriority", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING) AS p",
        "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mkey")
      .collect().map(r => (r.getString(0), BigDecimal(r.getString(1)), r.getLong(2)))
    val cut = o.map(_._3).max
    assert(o.exists(_._3 == cut) && o.exists(_._3 < cut),
      "fixture must actually split into base + delta")
    val byPr = o.groupBy(_._1)
    assert(rows.length == byPr.size)
    rows.foreach { r =>
      val g = byPr(r.getAs[String]("priority"))
      assert(r.getAs[Long]("n_orders") == g.length.toLong)
      assert(r.getAs[Double]("sum_price") == g.map(_._2).sum.toDouble)
      assert(r.getAs[Double]("max_price") == g.map(_._2).max.toDouble)
    }
    // planted one-sided groups: base-only and delta-only priorities must
    // both survive the full outer merge
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vm").toString
    Seq((1L, 10L, "O", 100.0, "2024-01-15 00:00:00", "BASE_ONLY"),
      (2L, 11L, "O", 50.0, "2024-02-15 00:00:00", "DELTA_ONLY"),
      (3L, 12L, "O", 25.0, "2024-01-20 00:00:00", "BOTH"),
      (4L, 13L, "O", 30.0, "2024-02-20 00:00:00", "BOTH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d", "o_orderpriority")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val planted = SparkEntry.queries("q_view_maintenance")(spark, dir).collect()
      .map(r => r.getAs[String]("priority") ->
        (r.getAs[Long]("n_orders"), r.getAs[Double]("sum_price"))).toMap
    assert(planted("BASE_ONLY") == ((1L, 100.0)))
    assert(planted("DELTA_ONLY") == ((1L, 50.0)))
    assert(planted("BOTH") == ((2L, 55.0)))
  }

  test("format roundtrip: all three format rows are identical and match the parquet truth") {
    // r15 split the audit into one query per format; the cross-format
    // identity contract is unchanged — every row must agree
    val rows = Seq("csv", "json", "orc")
      .map(f => q(s"q_roundtrip_$f").collect().head).toArray
    assert(rows.map(_.getAs[String]("format")).toSeq == Seq("csv", "json", "orc"))
    val cols = Seq("n_rows", "n_parts", "sum_qty", "sum_price", "max_ship_us")
    for (c <- cols) {
      val vs = rows.map(_.getAs[Any](c)).distinct
      assert(vs.length == 1, s"column $c differs across formats: ${vs.mkString(", ")}")
    }
    assert(rows.head.getAs[Long]("n_rows") ==
      graft.sources.Tables.lineitem(spark, Sf0001).count())
  }

  test("readability: driver recount of tokens/syllables/flesch is bit-exact per doc") {
    val rows = q("q_readability").collect()
    val texts = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    val vowelRun = "[aeiouy]+".r
    rows.foreach { r =>
      val text = texts(r.getAs[Long]("doc_id"))
      val nTok = text.split(" ", -1).length.toLong
      val nSyl = vowelRun.findAllIn(text).length.toLong
      val nSen = (nTok + 11L) / 12L
      assert(r.getAs[Long]("n_tokens") == nTok)
      assert(r.getAs[Long]("n_syllables") == nSyl)
      assert(r.getAs[Long]("n_sentences") == nSen)
      // same fixed-shape IEEE composite the query and oracle both run —
      // equality must be EXACT, not approximate
      val wps = nTok.toDouble / nSen.toDouble
      val spw = nSyl.toDouble / nTok.toDouble
      val flesch = 206.835 - 1.015 * wps - 84.6 * spw
      assert(r.getAs[Double]("wps") == wps)
      assert(r.getAs[Double]("spw") == spw)
      assert(r.getAs[Double]("flesch") == flesch)
      val band =
        if (flesch >= 90.0) "very_easy"
        else if (flesch >= 70.0) "easy"
        else if (flesch >= 50.0) "medium"
        else if (flesch >= 30.0) "hard"
        else "very_hard"
      assert(r.getAs[String]("band") == band)
    }
    // the fixture must actually exercise >1 band or the CASE is untested
    assert(rows.map(_.getAs[String]("band")).distinct.length > 1)
  }
}
