package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic sampling / split assignment for training-data
  * pipelines (driver north-star family): every operation derives its
  * "randomness" from md5 of the row key — reproducible across runs,
  * engines, partitionings, and cluster sizes, which is exactly what a
  * 100 TB corpus needs (a `rand()` sample is neither re-runnable nor
  * oracle-comparable). md5's hex is lowercase in both engines, and
  * '0'-'9' < 'a'-'f' in ASCII, so lexicographic threshold comparisons
  * agree everywhere.
  *
  * Scale: all three queries are narrow maps + hash aggregates — no
  * joins, no windows over the full corpus, no driver-side state.
  */
object Sampling {

  /** First two hex chars of md5(key) — 256 deterministic buckets. */
  private[operators] def hexKey(key: Column): Column =
    substring(md5(key.cast("string")), 1, 2)

  /** train/val/test by first hex char: '0'-'b' → train (12/16),
    * 'c'-'d' → val (2/16), 'e'-'f' → test (2/16). */
  private[operators] def splitOf(hex2: Column): Column =
    when(substring(hex2, 1, 1) <= "b", "train")
      .when(substring(hex2, 1, 1) <= "d", "val")
      .otherwise("test")

  // Per-document split assignment — the row-level view (a training
  // job filters on `split`; the assignment must never move a doc
  // between splits across reruns or engines).
  private def qSplitAssign(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("hex2", hexKey(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("hex2"),
        splitOf(col("hex2")).as("split"))
      .orderBy("doc_id")

  // Stratified accounting: docs and token mass per (lang, split), with
  // the within-stratum ratio — the check a pipeline runs before
  // trusting a split (one IEEE division per row: deterministic).
  private def qSplitStats(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    Tables.documents(s, d)
      .withColumn("split", splitOf(hexKey(col("doc_id"))))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("lang_total", sum(col("n_docs")).over(w))
      .withColumn("frac",
        col("n_docs").cast("double") / col("lang_total").cast("double"))
      .orderBy("lang", "split")
  }

  // Deterministic 1/8 corpus sample: hex2 < '20' keeps exactly the
  // 32/256 bucket prefix — reproducible sampling for eval sets and
  // debugging slices.
  private def qSampleHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("hex2", hexKey(col("doc_id")))
      .filter(col("hex2") < "20")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("hex2"))
      .orderBy("doc_id")

  // Stratum-capped downsampling: at most 40 docs per language, chosen
  // by md5 rank — the "balanced subset" op that keeps a dominant
  // language from swamping a multilingual training mix. One shuffle
  // (the per-lang window); the md5 order makes the kept set identical
  // across engines, reruns, and partitionings.
  private def qSampleStratified(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 40)
      .select(col("lang"), col("rk"), col("doc_id"), col("source"))
      .orderBy("lang", "rk")
  }

  // Temperature resampling weights (α = 0.5): w_l ∝ p_l^α — the
  // standard multilingual rebalancing knob (upweights tail languages,
  // tempers the head). All-langs sums go through a DECIMAL(18,12) pin
  // so the normalizer is partition-order-independent; sqrt is IEEE
  // correctly-rounded, so p^0.5 is bit-identical cross-engine.
  private def qLangTemperature(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("n_total",
        expr("CAST(SUM(n_docs) OVER () AS BIGINT)"))
      .withColumn("p", col("n_docs").cast("double") / col("n_total").cast("double"))
      .withColumn("w_raw", sqrt(col("p")))
      .withColumn("z", expr("CAST(SUM(CAST(w_raw AS DECIMAL(18,12))) OVER () AS DOUBLE)"))
      .withColumn("weight", col("w_raw") / col("z"))
      .withColumn("boost", col("weight") / col("p"))
      .select("lang", "n_docs", "n_total", "p", "w_raw", "weight", "boost")
      .orderBy("lang")

  /** Top-k kept by weighted sampling without replacement. */
  private val WeightedK = 64

  // Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
  // each doc draws u ~ Uniform(0,1) from md5(doc_id) and is ranked by
  // ln(u)/w with w = n_chars — the top-k by that key is a true
  // w-weighted sample, yet fully deterministic and engine-independent.
  // This is the quality-weighted corpus subsetting op (sample docs
  // proportionally to length/quality for a training mix) expressed as
  // one narrow map + one top-k: no shuffle beyond the rank, and at
  // cluster scale the rank is a TakeOrderedAndProject, never a full
  // sort. The md5-derived u is (x+0.5)/2^32 from the first 8 hex
  // chars — strictly inside (0,1), so ln(u) is finite; both engines
  // compute ln/division on identical doubles, and key collisions
  // would need two keys within 1 ulp (no such pair exists at any
  // plausible corpus size; doc_id breaks exact ties anyway).
  private def qSampleWeighted(s: SparkSession, d: String): DataFrame = {
    val top = Tables.documents(s, d)
      .withColumn("u",
        (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
          .cast("double") + lit(0.5)) / lit(4294967296.0))
      .withColumn("k", log(col("u")) / col("n_chars").cast("double"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(WeightedK) // TakeOrderedAndProject: per-partition top-k, no global sort
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("k").desc, col("doc_id")) // over the k survivors only
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select("rk", "doc_id", "lang", "source", "n_chars")
      .orderBy("rk")
  }

  /** Train/test decontamination — the span-overlap sweep every
    * held-out set needs before it can be trusted: tile each document
    * into disjoint 5-token chunks, build the DISTINCT train-split
    * chunk set, and report per val/test doc how many of its chunks
    * also occur in train. Spark side joins on xxhash64 of the chunk
    * (8-byte keys through the one shuffle that matters — at corpus
    * scale the train chunk set is the big side and hash keys shrink it
    * ~6×; a 64-bit collision would perturb one count with p≈1e-10);
    * the oracle joins the strings themselves, so the counts are
    * cross-checked against a collision-free formulation.
    */
  private[graft] val ChunkToks = 5

  private def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    val k = ChunkToks
    val chunks = Tables.documents(s, d)
      .withColumn("split", splitOf(hexKey(col("doc_id"))))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("split"),
        explode(expr(
          s"""transform(sequence(0, greatest(CAST(ceil(size(toks) / $k.0) AS INT) - 1, 0)),
                i -> xxhash64(concat_ws(' ', slice(toks, i * $k + 1, $k))))""")).as("h"))
    val train = chunks.filter(col("split") === "train")
      .select(col("h")).distinct().withColumn("hit", lit(1L))
    chunks.filter(col("split") =!= "train")
      .join(train, Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
      .withColumn("contam_frac",
        col("n_contaminated").cast("double") / col("n_chunks").cast("double"))
      .orderBy("doc_id")
  }

  /** Sliding-window (stride-1) variant of the decontamination sweep.
    * Recall/cost trade vs the disjoint tiling above: disjoint chunks
    * only flag an overlap that happens to contain a fully ALIGNED
    * k-token chunk — a shared span must be ≥ 2k−1 tokens to guarantee
    * one, so shorter overlaps straddling a chunk boundary slip
    * through. Sliding k-grams flag EVERY shared k-token span exactly,
    * at ~k× the gram volume on both sides; the train side stays
    * bounded because only its DISTINCT grams survive into the join,
    * so the extra cost is one k×-larger explode + the distinct
    * shuffle — the formulation a 100 TB held-out audit actually wants
    * when eval sets are small and recall is the point.
    *
    * Join key: the gram STRING, so Spark and the oracle compute the
    * same relation by construction — this is the collision-free audit
    * shape. qDecontaminate above keeps the hashed production shape
    * (8-byte xxhash64 keys through the shuffle, collision odds
    * documented there); the pair covers both formulations.
    */
  private def qDecontaminateSliding(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .withColumn("split", splitOf(hexKey(col("doc_id"))))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("split"),
        explode(TextOps.ngrams("toks", ChunkToks)).as("gram"))
    val train = grams.filter(col("split") === "train")
      .select(col("gram")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("split") =!= "train")
      .join(train, Seq("gram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
      .withColumn("contam_frac",
        col("n_contaminated").cast("double") / col("n_grams").cast("double"))
      .orderBy("doc_id")
  }

  /** Output shard count for the training-layout plan. */
  private val NumShards = 16

  /** Training-output shard plan — the manifest a corpus writer
    * produces before materializing tokenized output: every doc hashes
    * to one of [[NumShards]] shards (md5-derived, so the assignment is
    * stable across reruns, engines, and cluster sizes — a repartition
    * by this key co-locates a shard's docs on one writer task), and
    * the plan reports each shard's document/token/byte mass, id span,
    * and skew against the ideal uniform share. The skew column is the
    * number a layout reviewer actually reads: >1.2 on real data means
    * the shard key needs salting before the write. Shape: one narrow
    * map + one 16-group hash agg + a 1-row broadcast for totals — no
    * full-corpus window, no driver loop. */
  private def qShardPlan(s: SparkSession, d: String): DataFrame = {
    val sharded = Tables.documents(s, d)
      .withColumn("shard", expr(
        s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT) % $NumShards"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
    val totals = sharded.agg(
      sum(col("n_docs")).as("total_docs"),
      sum(col("n_tokens")).as("total_tokens"))
    sharded.crossJoin(broadcast(totals))
      .withColumn("doc_skew",
        col("n_docs").cast("double") * lit(NumShards.toDouble)
          / col("total_docs").cast("double"))
      .withColumn("token_skew",
        col("n_tokens").cast("double") * lit(NumShards.toDouble)
          / col("total_tokens").cast("double"))
      .select("shard", "n_docs", "n_tokens", "n_bytes",
        "first_doc", "last_doc", "doc_skew", "token_skew")
      .orderBy("shard")
  }

  /** Temporal train/val split at the 80th time percentile with the
    * leakage diagnostic a forecasting or next-event-prediction
    * pipeline needs: hash splits (q_split_assign) prevent CONTENT
    * leakage, but time-series training must split on TIME, and the
    * thing to audit is how many users straddle the cut (their val
    * behavior is partially observed in train). Determinism: the cut
    * is floor(percentile(epoch_us, 0.8)) — exact linear interpolation
    * over BIGINTs in double, identical cross-engine — and every other
    * output is an integer count plus one exact division. Scale shape:
    * one percentile aggregate (partial-merged, no sort), one
    * broadcast of the 1-row cut, two hash aggregates. */
  private def qTimeSplit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val cut = ev.agg(
      floor(expr("percentile(us, 0.8d)")).cast("long").as("cut_us"))
    val marked = ev.crossJoin(broadcast(cut))
      .withColumn("split",
        when(col("us") <= col("cut_us"), "train").otherwise("val"))
    val totals = marked.agg(
      max(col("cut_us")).as("cut_us"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
      countDistinct(when(col("split") === "train", col("user_id"))).as("users_train"),
      countDistinct(when(col("split") === "val", col("user_id"))).as("users_val"))
    val both = marked.groupBy(col("user_id"))
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") === 2)
      .agg(count(lit(1)).as("users_both"))
    totals.crossJoin(broadcast(both))
      .withColumn("user_leak_frac",
        col("users_both").cast("double") / col("users_val"))
  }

  /** Bootstrap replicate count. */
  private val BootstrapB = 32

  /** Poisson(1) CDF cut points scaled to 2²⁴ (floor) — w = k for u in
    * [t_{k-1}, t_k). Fixed literals, identical in both engines: the
    * scheme is a deterministic weighting that APPROXIMATES Poisson(1)
    * to 2⁻²⁴; its exactness as a query is bit-level regardless. */
  private val PoisCuts: Seq[Long] =
    Seq(6171992L, 12343985L, 15429982L, 16458647L, 16715813L,
      16767247L, 16775819L, 16777044L, 16777197L)

  private def poisCaseSql(u: String): String =
    PoisCuts.zipWithIndex
      .map { case (t, k) => s"WHEN $u < ${t}L THEN ${k}L" }
      .mkString("CASE ", " ", " ELSE 9L END")

  private def poisCaseDuck(u: String): String =
    PoisCuts.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 9 END")

  // Poisson bootstrap — THE distributed bootstrap (each row draws an
  // independent Poisson(1) replication weight per replicate, so no
  // replicate ever needs a global resample pass): B=32 deterministic
  // replicates of the per-source mean doc length, u drawn from
  // md5(doc_id:b). The replicate means are single IEEE divisions of
  // exact BIGINT sums; the 90% band is RANK-elected from the 32 means
  // (no doubles are summed), ties broken by replicate id. Degenerate
  // replicates (total weight 0 — possible only for toy sources) are
  // excluded by both engines identically and surface in n_valid.
  // Scale shape: one narrow 32× fan-out map + one (source, b) hash
  // agg + a 32-row-per-source window — corpus touched once.
  private def qBootstrap(s: SparkSession, d: String): DataFrame = {
    val fan = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("b", explode(expr(s"sequence(0, ${BootstrapB - 1})")))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(b AS STRING))), 1, 6), 16, 10) AS BIGINT)"))
      .withColumn("w", expr(poisCaseSql("u")))
    val reps = fan.groupBy("source", "b")
      .agg(sum(col("w")).as("wsum"),
        sum(col("w") * col("n_chars")).as("wx"))
      .filter(col("wsum") > 0L)
      .withColumn("rep_mean", col("wx").cast("double") / col("wsum").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("rep_mean"), col("b"))
    val ranked = reps
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("nv", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
    val base = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("mean_full",
        col("sum_chars").cast("double") / col("n_docs").cast("double"))
    val lo = ranked.filter(col("rk") === expr("CAST(ceil(0.05 * CAST(nv AS DOUBLE)) AS BIGINT)"))
      .select(col("source"), col("rep_mean").as("ci_lo"), col("nv").as("n_valid"))
    val hi = ranked.filter(col("rk") === expr("CAST(ceil(0.95 * CAST(nv AS DOUBLE)) AS BIGINT)"))
      .select(col("source").as("h_source"), col("rep_mean").as("ci_hi"))
    base.join(lo, Seq("source"))
      .join(hi, col("source") === col("h_source"))
      .select("source", "n_docs", "mean_full", "n_valid", "ci_lo", "ci_hi")
      .orderBy("source")
  }

  /** Hashed-feature bucket count for [[qDsirWeights]] — 2^12 buckets,
    * the paper's "hashed n-gram features" device scaled to the
    * fixture vocabulary (the bucket TABLE is model-sized at any SF:
    * λ lives on ≤ 4096 rows regardless of corpus size). */
  private val DsirBuckets = 4096L

  // DSIR-style importance resampling (Data Selection via Importance
  // Resampling, Xie et al. 2023 — public paper): score every raw
  // document by how much more likely its hashed-bigram features are
  // under a TARGET domain's bag-of-features model than under the raw
  // corpus's own, then keep the top of the weight order. Here the
  // target is the English subset (select from the multilingual pool
  // the documents that "look like" the en profile) and features are
  // md5-hashed token bigrams in DsirBuckets buckets, both straight
  // from the paper's recipe (hashed n-grams + smoothed multinomial
  // ratio). Determinism: the importance weight per bucket is ONE
  // fixed-shape IEEE expression over four exact BIGINT counts
  //   λ_f = ln( (ct_f+1)·(Tr+B) / ((cr_f+1)·(Tt+B)) )
  // pinned to DECIMAL(18,9) (the q_lm_score ln discipline); per-doc
  // weights are exact decimal sums of n_f·λ_f, cast to double once.
  // Scale shape: one bigram fan-out + one (doc, f) hash agg is the
  // only corpus-sized work; target/raw bucket models and λ are
  // ≤ DsirBuckets rows (broadcast), so at 100 TB the query is one
  // pass + one model-sized broadcast join — no shuffle ever carries
  // more than the (doc, f) aggregate.
  private def qDsirWeights(s: SparkSession, d: String): DataFrame = {
    val feats = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        s"""transform(sequence(1, size(toks) - 1),
              i -> CAST(conv(substring(md5(concat(toks[i-1], ' ', toks[i])), 1, 8), 16, 10) AS BIGINT) % $DsirBuckets"""
          + ")")).as("f"))
    // the only corpus-sized aggregate — feeds both bucket models AND
    // the final weight join, so it is checkpointed once
    val perDoc = feats.groupBy(col("doc_id"), col("lang"), col("f"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val raw = perDoc.groupBy(col("f")).agg(sum(col("n")).as("cr"))
    val tgt = perDoc.filter(col("lang") === "en")
      .groupBy(col("f")).agg(sum(col("n")).as("ct"))
    val tot = perDoc.agg(
      sum(col("n")).as("tr"),
      sum(when(col("lang") === "en", col("n")).otherwise(lit(0L))).as("tt"))
    val lam = raw
      .join(tgt, Seq("f"), "left_outer")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("lam", expr(
        s"""CAST(ln((CAST(ct + 1 AS DOUBLE) * CAST(tr + $DsirBuckets AS DOUBLE))
                  / (CAST(cr + 1 AS DOUBLE) * CAST(tt + $DsirBuckets AS DOUBLE)))
              AS DECIMAL(18,9))"""))
      .select("f", "lam")
    // n is narrowed to DECIMAL(10,0) BEFORE the multiply: a BIGINT
    // operand would make the product precision 18+20+1 = 39 > 38, and
    // Spark resolves that overflow by dropping the scale to 8 — the
    // 9th λ decimal would be silently rounded away on one engine only
    perDoc.join(broadcast(lam), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_bigrams"),
        expr("CAST(SUM(CAST(n AS DECIMAL(10,0)) * lam) AS DOUBLE)").as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(200)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dsir_weights" -> (qDsirWeights _),
    "q_bootstrap" -> (qBootstrap _),
    "q_shard_plan" -> (qShardPlan _),
    "q_time_split" -> (qTimeSplit _),
    "q_split_assign" -> (qSplitAssign _),
    "q_split_stats" -> (qSplitStats _),
    "q_sample_hash" -> (qSampleHash _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_lang_temperature" -> (qLangTemperature _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_sliding" -> (qDecontaminateSliding _)
  )

  private[operators] val splitSql =
    """CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
      |     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
      |     ELSE 'test' END""".stripMargin.replace("\n", " ")

  val oracle: Map[String, String] = Map(
    "q_dsir_weights" ->
      s"""WITH feats AS (
         |  SELECT doc_id, lang,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> CAST('0x' || substring(md5(toks[i] || ' ' || toks[i+1]), 1, 8) AS BIGINT) % $DsirBuckets)) AS f
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
         |        WHERE len(string_split(text, ' ')) >= 2)
         |), perdoc AS (
         |  SELECT doc_id, lang, f, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM feats GROUP BY doc_id, lang, f
         |), craw AS (
         |  SELECT f, CAST(SUM(n) AS BIGINT) AS cr FROM perdoc GROUP BY f
         |), ctgt AS (
         |  SELECT f, CAST(SUM(n) AS BIGINT) AS ct FROM perdoc WHERE lang = 'en' GROUP BY f
         |), tot AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS tr,
         |         CAST(SUM(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT) AS tt
         |  FROM perdoc
         |), lam AS (
         |  SELECT craw.f,
         |         CAST(ln((CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(tr + $DsirBuckets AS DOUBLE))
         |               / (CAST(cr + 1 AS DOUBLE) * CAST(tt + $DsirBuckets AS DOUBLE)))
         |           AS DECIMAL(18,9)) AS lam
         |  FROM craw LEFT JOIN ctgt ON ctgt.f = craw.f CROSS JOIN tot
         |)
         |SELECT doc_id, lang, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |       CAST(SUM(CAST(n AS DECIMAL(10,0)) * lam) AS DOUBLE) AS weight
         |FROM perdoc JOIN lam USING (f)
         |GROUP BY doc_id, lang
         |ORDER BY weight DESC, doc_id
         |LIMIT 200""".stripMargin,
    "q_bootstrap" ->
      s"""WITH fan AS (
         |  SELECT source, doc_id, n_chars, b,
         |         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 6) AS BIGINT) AS u
         |  FROM documents, (SELECT unnest(generate_series(0, ${BootstrapB - 1})) AS b)
         |), wtd AS (
         |  SELECT source, b, n_chars, ${poisCaseDuck("u")} AS w FROM fan
         |), reps AS (
         |  SELECT source, b, CAST(SUM(w) AS BIGINT) AS wsum,
         |         CAST(SUM(w * n_chars) AS BIGINT) AS wx
         |  FROM wtd GROUP BY source, b
         |  HAVING SUM(w) > 0
         |), means AS (
         |  SELECT source, b, CAST(wx AS DOUBLE) / CAST(wsum AS DOUBLE) AS rep_mean,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY CAST(wx AS DOUBLE) / CAST(wsum AS DOUBLE), b) AS BIGINT) AS rk,
         |         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS nv
         |  FROM reps
         |), base AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |  FROM documents GROUP BY source
         |)
         |SELECT base.source, n_docs,
         |       CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_full,
         |       lo.nv AS n_valid, lo.rep_mean AS ci_lo, hi.rep_mean AS ci_hi
         |FROM base
         |JOIN means lo ON lo.source = base.source
         | AND lo.rk = CAST(ceil(0.05 * CAST(lo.nv AS DOUBLE)) AS BIGINT)
         |JOIN means hi ON hi.source = base.source
         | AND hi.rk = CAST(ceil(0.95 * CAST(hi.nv AS DOUBLE)) AS BIGINT)
         |ORDER BY base.source""".stripMargin,
    "q_time_split" ->
      """WITH cut AS (
        |  SELECT CAST(floor(percentile_cont(0.8) WITHIN GROUP (ORDER BY epoch_us(ts))) AS BIGINT) AS cut_us
        |  FROM events),
        |marked AS (
        |  SELECT user_id,
        |         CASE WHEN epoch_us(ts) <= cut_us THEN 'train' ELSE 'val' END AS split
        |  FROM events, cut),
        |per AS (
        |  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM marked GROUP BY 1),
        |leak AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS users_both FROM (
        |    SELECT user_id FROM marked GROUP BY user_id
        |    HAVING COUNT(DISTINCT split) = 2))
        |SELECT cut.cut_us,
        |       (SELECT n_events FROM per WHERE split = 'train') AS n_train,
        |       (SELECT n_events FROM per WHERE split = 'val') AS n_val,
        |       (SELECT n_users FROM per WHERE split = 'train') AS users_train,
        |       (SELECT n_users FROM per WHERE split = 'val') AS users_val,
        |       leak.users_both,
        |       CAST(leak.users_both AS DOUBLE)
        |         / (SELECT n_users FROM per WHERE split = 'val') AS user_leak_frac
        |FROM cut, leak""".stripMargin,
    "q_shard_plan" ->
      s"""WITH sharded AS (
         |  SELECT CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
         |                   AS INT) % $NumShards AS INT) AS shard,
         |         doc_id, n_chars,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
         |  FROM documents
         |), g AS (
         |  SELECT shard, COUNT(*) AS n_docs,
         |         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |         CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
         |         MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |  FROM sharded GROUP BY shard
         |), t AS (
         |  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |  FROM g
         |)
         |SELECT shard, n_docs, n_tokens, n_bytes, first_doc, last_doc,
         |       CAST(n_docs AS DOUBLE) * $NumShards.0 / CAST(total_docs AS DOUBLE)
         |         AS doc_skew,
         |       CAST(n_tokens AS DOUBLE) * $NumShards.0 / CAST(total_tokens AS DOUBLE)
         |         AS token_skew
         |FROM g CROSS JOIN t
         |ORDER BY shard""".stripMargin,
    "q_split_assign" ->
      s"""SELECT doc_id, lang,
         |       substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hex2,
         |       $splitSql AS split
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "q_split_stats" ->
      s"""WITH assigned AS (
         |  SELECT lang, $splitSql AS split,
         |         len(string_split(text, ' ')) AS n_toks
         |  FROM documents
         |), g AS (
         |  SELECT lang, split, COUNT(*) AS n_docs,
         |         CAST(SUM(n_toks) AS BIGINT) AS n_tokens
         |  FROM assigned GROUP BY lang, split
         |)
         |SELECT lang, split, n_docs, n_tokens,
         |       CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
         |       CAST(n_docs AS DOUBLE)
         |         / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS frac
         |FROM g
         |ORDER BY lang, split""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang, source, n_chars,
        |       substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hex2
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
        |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id, source,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT lang, rk, doc_id, source
        |FROM ranked WHERE rk <= 40
        |ORDER BY lang, rk""".stripMargin,
    "q_decontaminate" ->
      s"""WITH docs AS (
         |  SELECT doc_id, $splitSql AS split, string_split(text, ' ') AS toks
         |  FROM documents
         |), chunks AS (
         |  SELECT doc_id, split,
         |         unnest(list_transform(
         |           range(0, CAST(ceil(len(toks) / $ChunkToks.0) AS BIGINT)),
         |           i -> array_to_string(toks[i*$ChunkToks+1 : i*$ChunkToks+$ChunkToks], ' '))) AS chunk
         |  FROM docs
         |), train AS (
         |  SELECT DISTINCT chunk FROM chunks WHERE split = 'train'
         |)
         |SELECT c.doc_id, COUNT(*) AS n_chunks,
         |       CAST(SUM(CASE WHEN t.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |       CAST(SUM(CASE WHEN t.chunk IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS contam_frac
         |FROM chunks c LEFT JOIN train t ON c.chunk = t.chunk
         |WHERE c.split <> 'train'
         |GROUP BY c.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "q_decontaminate_sliding" ->
      s"""WITH docs AS (
         |  SELECT doc_id, $splitSql AS split, string_split(text, ' ') AS toks
         |  FROM documents
         |), grams AS (
         |  SELECT doc_id, split, unnest(${TextOps.ngramsSql("toks", ChunkToks)}) AS gram
         |  FROM docs
         |), train AS (
         |  SELECT DISTINCT gram FROM grams WHERE split = 'train'
         |)
         |SELECT g.doc_id, COUNT(*) AS n_grams,
         |       CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |       CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS contam_frac
         |FROM grams g LEFT JOIN train t ON g.gram = t.gram
         |WHERE g.split <> 'train'
         |GROUP BY g.doc_id
         |ORDER BY g.doc_id""".stripMargin,
    "q_lang_temperature" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        |), t AS (
        |  SELECT lang, n_docs, CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total FROM c
        |), p AS (
        |  SELECT lang, n_docs, n_total,
        |         CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
        |         sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) AS w_raw
        |  FROM t)
        |SELECT lang, n_docs, n_total, p, w_raw,
        |       w_raw / CAST(SUM(CAST(w_raw AS DECIMAL(18,12))) OVER () AS DOUBLE) AS weight,
        |       (w_raw / CAST(SUM(CAST(w_raw AS DECIMAL(18,12))) OVER () AS DOUBLE))
        |         / p AS boost
        |FROM p
        |ORDER BY lang""".stripMargin,
    "q_sample_weighted" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, lang, source, n_chars,
         |         ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |                       AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
         |           / CAST(n_chars AS DOUBLE) AS k
         |  FROM documents
         |), ranked AS (
         |  SELECT doc_id, lang, source, n_chars,
         |         CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS BIGINT) AS rk
         |  FROM keyed
         |)
         |SELECT rk, doc_id, lang, source, n_chars
         |FROM ranked WHERE rk <= $WeightedK
         |ORDER BY rk""".stripMargin
  )
}
