package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved same-JVM A/B of a query's alternative forms — the
  * measurement protocol the host's cross-run variance forces: two
  * back-to-back `graft.Bench` runs of UNCHANGED queries have differed
  * by ±2× on this class of machine (r11/r12 drift family;
  * BENCH_NOTES.md), so an old-run-vs-new-run comparison cannot
  * attribute a delta to code. Here each pass times every variant once,
  * variants alternate WITHIN the pass (A, B, A', B', …), and the
  * verdict reads the per-variant median across passes — host drift
  * moves both sides of each pair together, so the PAIRWISE delta
  * survives it.
  *
  * Variants (old form first, suite form second) — see the Seq below
  * for the authoritative list; families:
  *   prefix_hash / prefix_ge  — q_dedup_prefix verify:
  *     size(array_intersect) vs graft_sorted_intersect_ge early-exit
  *   skip_nopin / skip_pin   — q_skipping_stats base-frame pin:
  *     recompute per branch vs localCheckpoint once
  *   keeperq_* / dsim_* / cc_* / sig* — text-dedup trims
  *   closure_s*              — simhash-closure chain-prefix cost profile
  *   stock_rec / stock_win   — q_stock_replay fold
  *   annrec_*                — q_ann_recall sharing and model memo
  *   prefix_*, winnow_*, *_lazy / *_ckpt / *_bckpt — text-family
  *     materialization pairs
  *   *_1p / *_spread, imgio_*, *nc_* — conditional scan spread and
  *     the ImageIO stream cache
  * The graph-family queries have no entries: each has a single form.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32
  *        sbt "runMain graft.AbWedge [passes] [variantSubstr,…]"
  */
object AbWedge {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = args.headOption.map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val allVariants: Seq[(String, () => DataFrame)] = Seq(
      "prefix_hash" -> (() =>
        graft.operators.TextOps.dedupPrefixPlan(spark, sfDir, geVerify = false)),
      "prefix_ge" -> (() =>
        graft.operators.TextOps.dedupPrefixPlan(spark, sfDir, geVerify = true)),
      // the r12-flagged unvalidated pin (verdict "what's wrong" #3)
      "skip_nopin" -> (() =>
        graft.operators.Functions2.skippingStatsPlan(spark, sfDir, pinBase = false)),
      "skip_pin" -> (() =>
        graft.operators.Functions2.skippingStatsPlan(spark, sfDir, pinBase = true)),
      // same pattern on the quality-aware keeper election (the window
      // is doc-grain there — one sort over every labeled document)
      "keeperq_window" -> (() =>
        graft.operators.TextOps.keeperQualityPlan(spark, sfDir, argMax = false)),
      "keeperq_argmax" -> (() =>
        graft.operators.TextOps.keeperQualityPlan(spark, sfDir, argMax = true)),
      // ---- cold chain-prefix cost profiles (r14 trim targeting):
      // each stage prices the chain cut at a memoized prefix, so
      // stage(i+1) − stage(i) locates the expensive link
      "closure_s1" -> (() =>
        graft.operators.TextOps.simhashClosureStage(spark, sfDir, 1)),
      "closure_s2" -> (() =>
        graft.operators.TextOps.simhashClosureStage(spark, sfDir, 2)),
      "closure_s3" -> (() =>
        graft.operators.TextOps.simhashClosureStage(spark, sfDir, 3)),
      "closure_s4" -> (() =>
        graft.operators.TextOps.simhashClosureStage(spark, sfDir, 4)),
      // q_dedup_simhash group materialization: rely on exchange reuse
      // across the three groups consumers vs one localCheckpoint
      "dsim_plain" -> (() =>
        graft.operators.TextOps.dedupSimhashPlan(spark, sfDir, ckpt = false)),
      "dsim_ckpt" -> (() =>
        graft.operators.TextOps.dedupSimhashPlan(spark, sfDir, ckpt = true)),
      // CC doubling deferral over the md5 keeper graph: unconditional
      // pointer doubling vs plain min-prop for the first 4 rounds
      "cc_dbl" -> (() =>
        graft.operators.TextOps.closureCcPlan(spark, sfDir, doubleAfter = 0)),
      "cc_hybrid" -> (() =>
        graft.operators.TextOps.closureCcPlan(spark, sfDir, doubleAfter = 4)),
      // signature build form: token-grain aggregate pipeline vs the
      // one-pass per-doc scalar expression (graft_simhash_doc_*)
      "sigxx_agg" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "xx", onePass = false)),
      "sigxx_expr" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "xx", onePass = true)),
      "sigmd5_agg" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "md5", onePass = false)),
      "sigmd5_expr" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "md5", onePass = true)),
      // ---- r15 optimization-round pairs ----
      // stock replay fold: WITH RECURSIVE UnionLoop vs the Lindley
      // reflection-identity windows
      "stock_rec" -> (() =>
        graft.operators.Relational.stockReplayPlan(spark, sfDir, recursiveSim = true)),
      "stock_win" -> (() =>
        graft.operators.Relational.stockReplayPlan(spark, sfDir, recursiveSim = false)),
      // ---- r16 optimization-round pairs ----
      // q_ann_recall: four chains recomputing scoring/codes from the
      // shared model vs narrow shared cells/codes checkpoints
      "annrec_solo" -> (() =>
        graft.operators.VectorOps.annRecallPlan(spark, sfDir, shared = false)),
      "annrec_shared" -> (() =>
        graft.operators.VectorOps.annRecallPlan(spark, sfDir, shared = true)),
      // q_dedup_prefix shingle stream: lazy (tokenize re-runs for the
      // doc-keyed sets aggregate) vs one localCheckpoint feeding all
      // three consumers
      "prefix_lazy" -> (() =>
        graft.operators.TextOps.dedupPrefixPlan(spark, sfDir,
          geVerify = true, shCkpt = false)),
      "prefix_shckpt" -> (() =>
        graft.operators.TextOps.dedupPrefixPlan(spark, sfDir,
          geVerify = true, shCkpt = true)),
      // q_winnow_pairs fingerprint checkpoint: unkeyed vs fp-keyed
      // (df agg + cap join + pair join all ride the one exchange)
      "winnow_plain" -> (() =>
        graft.operators.TextOps.winnowPairsPlan(spark, sfDir, fpPart = false)),
      "winnow_fppart" -> (() =>
        graft.operators.TextOps.winnowPairsPlan(spark, sfDir, fpPart = true)),
      // conditional scan spread (guide §2.5): the sf0.1 documents file
      // is one split, so codec maps / pre-exchange extraction serialize
      // on <=2 of 32 cores; spread floors the scan at defaultParallelism
      // (a no-op when the scan is already parallel)
      "imgd_1p" -> (() =>
        graft.operators.Multimodal.imageDedupPlan(spark, sfDir, spread = false)),
      "imgd_spread" -> (() =>
        graft.operators.Multimodal.imageDedupPlan(spark, sfDir, spread = true)),
      "audio_1p" -> (() =>
        graft.operators.Multimodal.audioStatsPlan(spark, sfDir, spread = false)),
      "audio_spread" -> (() =>
        graft.operators.Multimodal.audioStatsPlan(spark, sfDir, spread = true)),
      "winsp_1p" -> (() =>
        graft.operators.TextOps.winnowPairsPlan(spark, sfDir,
          fpPart = true, spread = false)),
      "winsp_spread" -> (() =>
        graft.operators.TextOps.winnowPairsPlan(spark, sfDir,
          fpPart = true, spread = true)),
      // conditional scan spread, wave 2: the text extraction chains
      // (tokenize / md5 sweeps below the first exchange)
      "prefsp_1p" -> (() =>
        graft.operators.TextOps.dedupPrefixPlan(spark, sfDir,
          geVerify = true, shCkpt = true, spread = false)),
      "prefsp_spread" -> (() =>
        graft.operators.TextOps.dedupPrefixPlan(spark, sfDir,
          geVerify = true, shCkpt = true, spread = true)),
      "editsp_1p" -> (() =>
        graft.operators.TextOps.dedupEditPlan(spark, sfDir,
          keptCkpt = true, spread = false)),
      "editsp_spread" -> (() =>
        graft.operators.TextOps.dedupEditPlan(spark, sfDir,
          keptCkpt = true, spread = true)),
      "dminhsp_1p" -> (() =>
        graft.operators.TextOps.dedupMinhashPlan(spark, sfDir,
          bandCkpt = true, spread = false)),
      "dminhsp_spread" -> (() =>
        graft.operators.TextOps.dedupMinhashPlan(spark, sfDir,
          bandCkpt = true, spread = true)),
      "sigmd5sp_1p" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "md5",
          onePass = true, spread = false)),
      "sigmd5sp_spread" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "md5",
          onePass = true, spread = true)),
      "sigxxsp_1p" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "xx",
          onePass = true, spread = false)),
      "sigxxsp_spread" -> (() =>
        graft.operators.TextOps.sigBuildPlan(spark, sfDir, "xx",
          onePass = true, spread = true)),
      "mestsp_1p" -> (() =>
        graft.operators.TextOps.minhashEstimatePlan(spark, sfDir,
          bandCkpt = true, spread = false)),
      "mestsp_spread" -> (() =>
        graft.operators.TextOps.minhashEstimatePlan(spark, sfDir,
          bandCkpt = true, spread = true)),
      "audiofr_1p" -> (() =>
        graft.operators.Multimodal.audioFramesPlan(spark, sfDir, spread = false)),
      "audiofr_spread" -> (() =>
        graft.operators.Multimodal.audioFramesPlan(spark, sfDir, spread = true)),
      // simhash 4x16-bit Hamming banding: lazy (banding re-runs per
      // self-join side) vs (band, band_bits)-keyed checkpoint — timed
      // through q_simhash_clusters, the heaviest xx-family consumer
      "scl_lazy" -> (() =>
        graft.operators.TextOps.simhashClustersPlan(spark, sfDir, bandCkpt = false)),
      "scl_bckpt" -> (() =>
        graft.operators.TextOps.simhashClustersPlan(spark, sfDir, bandCkpt = true)),
      // minhash banded streams: lazy (banding re-runs per candidate-
      // join side) vs a (band, band_hash)-keyed checkpoint
      "dminh_lazy" -> (() =>
        graft.operators.TextOps.dedupMinhashPlan(spark, sfDir, bandCkpt = false)),
      "dminh_bckpt" -> (() =>
        graft.operators.TextOps.dedupMinhashPlan(spark, sfDir, bandCkpt = true)),
      "dfuzz_lazy" -> (() =>
        graft.operators.TextOps.decontaminateFuzzyPlan(spark, sfDir, bandCkpt = false)),
      "dfuzz_bckpt" -> (() =>
        graft.operators.TextOps.decontaminateFuzzyPlan(spark, sfDir, bandCkpt = true)),
      "mrec_lazy" -> (() =>
        graft.operators.TextOps.minhashRecallPlan(spark, sfDir, bandCkpt = false)),
      "mrec_bckpt" -> (() =>
        graft.operators.TextOps.minhashRecallPlan(spark, sfDir, bandCkpt = true)),
      "mest_lazy" -> (() =>
        graft.operators.TextOps.minhashEstimatePlan(spark, sfDir, bandCkpt = false)),
      "mest_bckpt" -> (() =>
        graft.operators.TextOps.minhashEstimatePlan(spark, sfDir, bandCkpt = true)),
      // ngramCandidates kept-shingle stream: lazy (extraction + both
      // windows re-run per pair-join side) vs sh-keyed checkpoint —
      // timed standalone (q_dedup_ngram) and through the heaviest
      // consumer (q_dedup_edit)
      "ngram_lazy" -> (() =>
        graft.operators.TextOps.dedupNgramPlan(spark, sfDir, keptCkpt = false)),
      "ngram_ckpt" -> (() =>
        graft.operators.TextOps.dedupNgramPlan(spark, sfDir, keptCkpt = true)),
      "edit_lazy" -> (() =>
        graft.operators.TextOps.dedupEditPlan(spark, sfDir, keptCkpt = false)),
      "edit_ckpt" -> (() =>
        graft.operators.TextOps.dedupEditPlan(spark, sfDir, keptCkpt = true)),
      // ImageIO stream cache: JDK-default DISK-backed temp files per
      // encode/decode vs in-memory buffering (suite form). The toggle
      // is a JVM global, so each thunk pins it for its own timed
      // execution — variants alternate, so every pass re-sets it.
      "imgio_dcache" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(true)
        graft.operators.Multimodal.imageDedupPlan(spark, sfDir, spread = false)
      }),
      "imgio_nocache" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.imageDedupPlan(spark, sfDir, spread = false)
      }),
      // image-family scan spread RE-adjudication under the no-cache
      // codec (the r16-s3 1/7 loss was measured against the disk
      // cache's filesystem contention; with memory buffering the
      // decoder scales near-linearly in the probe)
      "imgnc_1p" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.imageDedupPlan(spark, sfDir, spread = false)
      }),
      "imgnc_spread" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.imageDedupPlan(spark, sfDir, spread = true)
      }),
      "mmfnc_1p" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.multimodalFeaturesPlan(spark, sfDir, spread = false)
      }),
      "mmfnc_spread" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.multimodalFeaturesPlan(spark, sfDir, spread = true)
      }),
      "phashnc_1p" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.imagePhashPlan(spark, sfDir, spread = false)
      }),
      "phashnc_spread" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.imagePhashPlan(spark, sfDir, spread = true)
      }),
      "ahashnc_1p" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.imageAhashPlan(spark, sfDir, spread = false)
      }),
      "ahashnc_spread" -> (() => {
        graft.operators.Multimodal.setImgDiskCache(false)
        graft.operators.Multimodal.imageAhashPlan(spark, sfDir, spread = true)
      }),
      // q_ann_recall model training: pre-r15 duplicate Lloyd/PQ builds
      // vs the per-pass model memo (flag reset by the thunks below)
      "annrec_dup" -> (() =>
        try {
          graft.operators.VectorOps.modelMemoEnabled = false
          SparkEntry.queries("q_ann_recall")(spark, sfDir)
        } finally graft.operators.VectorOps.modelMemoEnabled = true),
      "annrec_memo" -> (() =>
        SparkEntry.queries("q_ann_recall")(spark, sfDir)))

    // optional second arg: comma-separated substring filter so a
    // 2-variant question doesn't pay the whole sweep
    val variants = args.drop(1).headOption match {
      case Some(f) =>
        val subs = f.split(",").toSeq
        allVariants.filter { case (n, _) => subs.exists(n.contains) }
      case None => allVariants
    }
    require(variants.nonEmpty, "variant filter matched nothing")

    // Bench's cold-path discipline verbatim: clear cross-query memos +
    // cached blocks, then a GC → settle → GC barrier before the clock
    def clearResidue(): Unit = {
      graft.operators.TextOps.clearGraphCache()
      graft.operators.GraphOps.clearGraphCache()
      graft.operators.VectorOps.clearModelCache()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def timed(build: () => DataFrame): Double = {
      clearResidue()
      System.gc(); Thread.sleep(150); System.gc()
      val t0 = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // one untimed warmup sweep (JIT/codegen/parquet footers), then the
    // interleaved timed passes
    variants.foreach { case (_, b) => timed(b) }
    (1 to passes).foreach { p =>
      variants.foreach { case (n, b) =>
        val t = timed(b)
        times(n) = times(n) :+ t
        System.err.println(f"[ab] pass $p $n%-12s $t%7.3f s")
      }
    }
    println(variants.map { case (n, _) =>
      val ts = times(n).sorted
      // even pass counts average the two middle elements — an
      // upper-middle pick would bias the stat high exactly when the
      // user asks for an even number of passes
      val med =
        if (ts.size % 2 == 1) ts(ts.size / 2)
        else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
      f""""$n":{"median":$med%.3f,"min":${ts.head}%.3f,"max":${ts.last}%.3f}"""
    }.mkString("{", ",", "}"))
    spark.stop()
  }
}
