package graft.streaming

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Enrich

/** Structured Streaming re-expression of the reference's streaming
  * topology (SURVEY.md §2.9, §3 EP1) plus the event-time capabilities
  * the reference lacks (T8).
  *
  * The transform is `Enrich.transform` — the SAME DataFrame function
  * the batch query `q_enrich` uses; Spark's unified semantics make the
  * streaming query a re-execution policy, not a reimplementation
  * (`/root/reference/processing-layer/stream-processor.py:326-345`
  * needs a separate long-running program for this).
  *
  * Reference semantics carried over:
  *  - T1 2-second micro-batch trigger; T2 append output mode;
  *  - T3 `foreachBatch` dual-sink fan-out WITH `persist()` — the
  *    reference recomputes the batch up to 4× per trigger
  *    (`stream-processor.py:283-324`, SURVEY §4.2); we pin the batch
  *    once and reuse it for both sinks;
  *  - T4 durable checkpoint; T7 deterministic keys so sink replays are
  *    true upserts (the engine's fix for the reference's random-UUID
  *    minting, SURVEY §2.8 U1).
  *
  * Scale notes: history is a plain append (blind writes, no
  * read-modify-write). The keyed view is rewritten WHOLE every
  * micro-batch, as one merge of the old view and the batch written
  * into one partition (`bucket=0`), so a batch costs O(view) rows.
  * A 16-way key-hash layout measured worse: every batch of increasing
  * ids touched all 16 buckets, so its touched-bucket pruning never
  * fired, while it paid two extra jobs and up to 64 files per batch.
  * On the stream benchmark (4 cores, 5 000–10 000-row batches) one
  * partition cut steady p50 latency from 3.0 s to 2.4 s at the same
  * rows written. Key-range or O(batch) upserts are out of scope.
  */
object EventPipeline {

  /** Kafka-wire-shaped schema (reference `stream-processor.py:217-225`
    * mapped onto the testdata events). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** P1-P4 wire parse chain, verbatim from the reference
    * (`stream-processor.py:241-248`): Kafka-shaped `(key, value)`
    * binary frames → CAST(value AS STRING) → `from_json` (PERMISSIVE —
    * malformed JSON yields a null struct, so the row survives with
    * null fields) → flatten → typed casts. Works on any DataFrame with
    * a binary `value` column, batch or streaming.
    */
  def parseKafkaWire(frames: DataFrame): DataFrame = {
    val wireSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", StringType), // ISO string on the wire (F3)
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    frames
      .selectExpr("CAST(value AS STRING) AS json") // P1
      .select(from_json(col("json"), wireSchema).as("event")) // P2
      .select(col("event.*")) // P3
      .withColumn("ts", col("ts").cast("timestamp")) // P4 bare Cast
  }

  /** S1 stand-in: file streaming source with the same downstream plan
    * as the Kafka scan (no Kafka in the test environment; the options
    * mirror maxOffsetsPerTrigger as maxFilesPerTrigger). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Micro-batch dual-sink writer (reference `write_batch`,
    * `stream-processor.py:283-324`, minus its inefficiencies):
    * persist once, append history (K1 analog), upsert keyed view (K2
    * analog), unpersist. The batch is persisted before the empty
    * guard so the guard's scan fills the cache instead of running the
    * parse + dimension join an extra time.
    */
  def writeBatch(historyDir: String, viewDir: String)(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      if (!batch.isEmpty) { // P9 guard — df.isEmpty, not rdd.isEmpty
        batch.write.mode("append").parquet(historyDir)
        upsertKeyedView(batch, viewDir)
      }
    } finally batch.unpersist()
  }

  /** Keyed-upsert sink: latest row per event_id wins, incoming rows
    * first. Merge = union(whole existing view, incoming) → row_number
    * de-rank → rewrite of the whole view into its one partition
    * `bucket=0` (O(view) rows per batch, see Scale notes). The
    * partitioned DYNAMIC overwrite is load-bearing: it lets Spark
    * replace a path the same plan reads, and swaps the directory in
    * only after the job commits (a static overwrite deletes first).
    * A view with other partitions (e.g. from a key-hash layout) is
    * refused: merging into `bucket=0` alone would leave their stale
    * keys behind.
    */
  def upsertKeyedView(batch: DataFrame, viewDir: String): Unit = {
    // a null key cannot be upserted — quarantine such rows to the
    // history sink only; the parse chain deliberately lets malformed
    // rows survive with nulls
    val incoming = batch.filter(col("event_id").isNotNull).withColumn("is_new", lit(1))
    val unioned = Try(batch.sparkSession.read.parquet(viewDir)).toOption match {
      case None => incoming
      case Some(old) =>
        val foreign = old.inputFiles.map(new org.apache.hadoop.fs.Path(_).getParent.getName)
          .filterNot(_ == "bucket=0").distinct.sorted
        if (foreign.nonEmpty)
          throw new IllegalStateException(s"keyed view $viewDir holds partitions other than " +
            s"bucket=0 (${foreign.take(4).mkString(", ")}); rebuild it from history: delete the " +
            "directory, then run upsertKeyedView(spark.read.parquet(historyDir), viewDir)")
        old.drop("bucket").withColumn("is_new", lit(0)).unionByName(incoming)
    }
    // duplicate keys within one batch (an at-least-once replay inside
    // the trigger) need a deterministic order, or the winner is
    // whichever row the shuffle happened to order first: break ties on
    // every payload column (name-sorted, desc = latest-ish wins)
    val tieBreakers = unioned.columns
      .filterNot(Set("event_id", "is_new"))
      .sorted.map(col(_).desc_nulls_last)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id"))
      .orderBy((col("is_new").desc +: tieBreakers.toSeq): _*)
    unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "is_new")
      .withColumn("bucket", lit(0))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(viewDir)
  }

  /** EP1 as a continuously-running query: stream-static broadcast
    * enrichment, 2 s trigger, checkpointed, dual sink.
    */
  def startEnrichment(
      events: DataFrame,
      dim: DataFrame,
      historyDir: String,
      viewDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    Enrich.transform(events, dim)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(writeBatch(historyDir, viewDir) _)
      .start()

  /** K2/K3 against a REAL database: per micro-batch, reduce to the
    * latest row per key (same deterministic tie order as
    * [[upsertKeyedView]]), stringify the payload (the reference's
    * KV-fallback projection), and idempotently upsert over JDBC into
    * embedded Derby — the executable stand-in for the reference's
    * Cassandra/Redis serving writes. At-least-once replays rewrite
    * identical rows, so the table converges (StreamingSpec proves it
    * against the live database).
    */
  def writeJdbcServing(url: String)(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      val keyed = batch.filter(col("event_id").isNotNull)
      val tieBreakers = keyed.columns.filterNot(_ == "event_id")
        .sorted.map(col(_).desc_nulls_last)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_id")).orderBy(tieBreakers.toSeq: _*)
      val latest = keyed
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      val payloadCols = latest.columns.filterNot(_ == "event_id").sorted
      val kv = latest.select(col("event_id"),
        to_json(struct(payloadCols.map(col).toSeq: _*)).as("payload"))
      graft.sources.JdbcSource.upsertServing(kv, url)
    }

  /** EP1 with the database serving sink: enrichment streamed straight
    * into the Derby `serving_kv` table. */
  def startJdbcServing(
      events: DataFrame,
      dim: DataFrame,
      url: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    Enrich.transform(events, dim)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(writeJdbcServing(url) _)
      .start()

  /** T8: watermarked tumbling-window aggregation (the capability gap
    * the reference's category demands — late data beyond 10 minutes is
    * dropped, state is bounded). Matches q_window_tumbling's grouping.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** T7→T8: streaming dedup under at-least-once replay — state bounded
    * by the watermark horizon. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id", "ts")

  /** T7 variant: dedup on the KEY ALONE within the watermark delay —
    * unlike `dropDuplicates(key, ts)`, a replay with a perturbed
    * timestamp still collapses, and state expiry needs no event-time
    * column in the key. The right form for at-least-once producers
    * that re-stamp on retry. */
  def dedupedEventsWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming EXACT-TEXT dedup — the batch dedup stack's digest key
    * (md5(text), exactly q_dedup_exact's) on the streaming surface: a
    * document whose content digest was already seen inside the
    * watermark horizon is dropped, regardless of its doc_id or ingest
    * timestamp (an at-least-once ingest re-mints both on retry, so the
    * CONTENT digest is the only stable identity). State is one digest
    * per distinct in-horizon document and expires with the watermark —
    * bounded by inflow rate × horizon, never by corpus size, which is
    * what lets the same query run against a 100 TB/day firehose.
    * Input needs (text, ingest_ts); all columns pass through.
    */
  def dedupedDocuments(docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Per-row 64-bit SimHash signature over whitespace tokens — the
    * SAME semantics as the batch signature path (xxhash64 term hashes,
    * term-frequency weights, the same sign fold) but computed WITHOUT
    * an aggregation, which is what lets it sit upstream of a streaming
    * stateful operator. Since r14 this is the native one-pass
    * [[graft.functions.SimHashDoc]] expression the batch build also
    * runs — O(tokens) hashmap counting + one hash per distinct token,
    * replacing the interpreted HOF composition whose
    * `filter(split(...))` per distinct token cost O(distinct·tokens)
    * lambda frames per document. StreamingSpec pins it bit-identical
    * to [[graft.operators.TextOps.simhashSigs]]. */
  def perRowSimhash(textCol: String = "text"): org.apache.spark.sql.Column = {
    expr(s"graft_simhash_doc_xx(split($textCol, ' '))")
  }

  /** Streaming NEAR-dup dedup — the signature-identical stage of the
    * batch SimHash stack on the streaming surface: a document whose
    * 64-bit SimHash signature was already seen inside the watermark
    * horizon is dropped. Because the signature hashes the term-
    * frequency BAG, this collapses exact replays AND content-preserving
    * rewrites (token reorderings, whitespace-joined shuffles) that
    * defeat [[dedupedDocuments]]' md5 key, at the same bounded state
    * cost (one 8-byte signature per in-horizon distinct doc). Hamming-
    * NEIGHBOR matching (≤3 bits) needs the cross-signature band join
    * and stays a batch/micro-batch concern (q_simhash_clusters); the
    * streaming stage is the exact-signature filter in front of it. */
  def nearDedupedDocuments(docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    graft.functions.SimHashDoc.register(docs.sparkSession)
    docs
      .withColumn("simhash", perRowSimhash())
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("simhash")
  }

  /** Streaming EMBEDDING near-dup dedup — the vector-side counterpart
    * of [[nearDedupedDocuments]]: each arriving embedding gets its
    * full LSH band signature (SAME hyperplanes and bucket fold as the
    * batch q_embed_dedup blocking, via
    * [[graft.operators.VectorOps.withBandSignature]]) and anything
    * whose signature was already seen inside the watermark horizon is
    * dropped. Agreement on EVERY band's bucket is the exact-signature
    * filter — it collapses replays and near-identical vectors (any
    * rescaled copy has identical projection signs, hence identical
    * buckets) at one string of state per in-horizon distinct
    * signature, bounded by inflow × horizon. Partial-band (ANY-band)
    * matching is the batch band join's concern (q_embed_dedup); this
    * is the stream-side gate in front of it — the same split as
    * SimHash streaming vs q_simhash_clusters. Input needs a `vec`
    * ARRAY<DOUBLE> column of dim 64 and an `ingest_ts` timestamp.
    */
  def nearDedupedEmbeddings(vecs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    graft.functions.VectorExpressions.register(vecs.sparkSession)
    graft.operators.VectorOps
      .withBandSignature(vecs, graft.operators.VectorOps.DedupLsh)
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("lsh_sig")
  }

  /** Streaming QUALITY ROUTER — the DQ gate in front of a corpus
    * sink, the reference's valid/invalid split upgraded to the SHARED
    * quality scorer: each micro-batch is scored ONCE with
    * [[graft.operators.TextOps.withQualityZ]] (the exact z every
    * batch consumer ranks by, so stream and batch can never disagree
    * on the bar) and fanned out to an accept sink and a quarantine
    * sink — the dual-sink discipline of [[writeBatch]]. Idempotence
    * under at-least-once replay comes from epoch-keyed OVERWRITE
    * (`batch=<id>` directories): a replayed micro-batch rewrites its
    * own directory byte-for-byte instead of appending duplicates —
    * the same upsert trade as [[upsertKeyedView]], in append-shaped
    * directories a downstream compactor can sweep. `minZ` is the
    * deployment's bar (the default 0.0 matches q_quality_score's
    * is_keep). */
  def routeDocumentsBatch(acceptDir: String, quarantineDir: String,
      minZ: Double = 0.0)(batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty) { // P9 empty-batch guard
      val scored = graft.operators.TextOps.withQualityZ(batch).persist()
      try {
        scored.filter(col("z") >= minZ)
          .write.mode("overwrite").parquet(s"$acceptDir/batch=$id")
        scored.filter(col("z") < minZ)
          .write.mode("overwrite").parquet(s"$quarantineDir/batch=$id")
      } finally scored.unpersist()
    }

  /** Composed streaming CORPUS CLEANER — dedup → quality → route in
    * ONE job, the stream twin of q_corpus_clean's batch composition:
    * each arriving doc gets the order-invariant SimHash signature and
    * in-horizon duplicates (replays AND token-permuted rewrites) are
    * dropped by [[nearDedupedDocuments]]' bounded state; every
    * SURVIVOR is then scored once with the shared quality z and fanned
    * out to the accept / quarantine sinks by [[routeDocumentsBatch]]'s
    * epoch-keyed idempotent overwrite. One checkpoint governs the
    * whole chain, so a restart resumes with the dedup state and the
    * sink epochs in lockstep — a replayed micro-batch re-drops the
    * same duplicates and rewrites the same `batch=<id>` directories
    * byte-for-byte. At 100 TB this is the corpus-ingest front door:
    * state is one 8-byte signature per in-horizon distinct doc, the
    * scorer is narrow per-row arithmetic, and both sinks are blind
    * epoch-partitioned writes. */
  def startCorpusClean(docs: DataFrame, acceptDir: String,
      quarantineDir: String, checkpointDir: String, minZ: Double = 0.0,
      watermarkDelay: String = "10 minutes",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    nearDedupedDocuments(docs, watermarkDelay)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(routeDocumentsBatch(acceptDir, quarantineDir, minZ) _)
      .start()

  /** Per-vector IVF cell assignment against a FIXED centroid model —
    * the batch/stream-SHARED core of the ANN ingest: cosine to each of
    * the K broadcast centroids, argmax cell with the exact Lloyd
    * tie-break ((p_cos desc, cell) — VectorOps.scoreAgainst), so a
    * vector lands in the SAME cell whether it arrives on the stream or
    * sits in the batch corpus. `centroids` is the model a deployment
    * persists from the batch build (VectorOps.lloydModel — K×dim,
    * driver-held, broadcast). Input needs (vec_id, vec); extra
    * columns pass through. */
  def assignCells(vecs: DataFrame,
      centroids: Seq[(Long, Seq[Double])]): DataFrame =
    graft.operators.VectorOps.assignCells(vecs, centroids)

  /** Full ANN assignment: cell (via [[assignCells]]) plus the nearest
    * KEEPER within that cell by exact cosine (ties to the lowest
    * keeper id) — the label a streaming corpus ingest attaches to
    * every arriving vector so downstream consumers know which existing
    * representative it is closest to (or NULL if its cell holds no
    * keeper yet). `keepers` is the static (cell, k_id, k_vec) frame of
    * corpus representatives — cell-keyed, so the join is an equi-join
    * on cell followed by a per-vector top-1, never an all-pairs scan. */
  def assignAnn(vecs: DataFrame, centroids: Seq[(Long, Seq[Double])],
      keepers: DataFrame): DataFrame =
    graft.operators.VectorOps.assignAnn(vecs, centroids, keepers)

  /** foreachBatch sink for [[startAnnIngest]]: assign every survivor
    * of the micro-batch and land the labels in an epoch-keyed
    * directory ([[routeDocumentsBatch]]'s idempotent-overwrite trade —
    * a replayed micro-batch rewrites its own directory). */
  def annIngestBatch(centroids: Seq[(Long, Seq[Double])], keepers: DataFrame,
      outDir: String)(batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty) // P9 empty-batch guard
      assignAnn(batch, centroids, keepers)
        .withColumn("batch_id", lit(id))
        .write.mode("overwrite").parquet(s"$outDir/batch=$id")

  /** Streaming ANN INGEST — the stream twin of q_sim_ivf's assignment
    * stage, composed with the embedding dedup gate exactly the way
    * [[startCorpusClean]] composes the document side: arriving vectors
    * pass [[nearDedupedEmbeddings]]' watermark-bounded LSH-signature
    * state (replays and rescaled copies collapse), and every SURVIVOR
    * gets its IVF cell + nearest-keeper label against the broadcast
    * batch model inside `foreachBatch` (windows are legal there, and
    * the per-batch work is one broadcast score + one cell-keyed keeper
    * join). One checkpoint governs dedup state and sink epochs in
    * lockstep — a restart re-drops the same duplicates and rewrites
    * the same `batch=<id>` directories. At 100 TB: model is K×dim
    * broadcast state, keepers are cell-partitioned, per-batch cost is
    * linear in arrivals. */
  def startAnnIngest(vecs: DataFrame, centroids: Seq[(Long, Seq[Double])],
      keepers: DataFrame, outDir: String, checkpointDir: String,
      watermarkDelay: String = "10 minutes",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    nearDedupedEmbeddings(vecs, watermarkDelay)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(annIngestBatch(centroids, keepers, outDir) _)
      .start()

  /** CMS geometry for [[startFrequencyMonitor]] — the q_cms_watchlist
    * parameters (width 2000 × depth 10 ≈ 160 KB, fixed seed so every
    * sketch of the same rows is byte-identical). */
  private val FreqEps = 0.001
  private val FreqConf = 0.999

  /** foreachBatch sink for [[startFrequencyMonitor]]: fold the
    * micro-batch's keys into ONE Count-Min sketch (Spark's own
    * CountMinSketchAgg via graft_cms_agg) and land the serialized
    * counter grid in an epoch-keyed file — [[annIngestBatch]]'s
    * idempotent-overwrite trade, so a replayed micro-batch rewrites
    * its own sketch instead of double-counting. */
  def cmsIngestBatch(keyCol: String, outDir: String)(batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty) { // P9 empty-batch guard
      graft.functions.CmsExpressions.register(batch.sparkSession)
      val bytes = batch.agg(expr(
        s"graft_cms_agg($keyCol, CAST($FreqEps AS DOUBLE), CAST($FreqConf AS DOUBLE), 42)"))
        .head.getAs[Array[Byte]](0)
      new java.io.File(outDir).mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/batch-$id.cms"), bytes)
    }

  /** Merge every epoch sketch under `dir` into one CountMinSketch.
    * CMS merge is element-wise addition — associative, commutative —
    * so the merged grid is BYTE-identical to a one-pass batch sketch
    * over the same rows no matter how the stream chopped them into
    * micro-batches (StreamingSpec pins that equality). The driver-side
    * fold is over ~160 KB grids, one per epoch: model state, never
    * data. */
  def mergedCms(dir: String): org.apache.spark.util.sketch.CountMinSketch = {
    val files = Option(new java.io.File(dir)
        .listFiles((_, n) => n.endsWith(".cms")))
      .getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
    require(files.nonEmpty, s"no epoch sketches under $dir")
    files.map { f =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(
          java.nio.file.Files.readAllBytes(f.toPath)))
    }.reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** Streaming FREQUENCY MONITOR — the stream twin of
    * q_cms_watchlist: each micro-batch folds its keys into a
    * Count-Min sketch; the union-to-date view is [[mergedCms]] over
    * the epoch files. Because the sketch algebra is exact addition,
    * the stream answers "how often has key k occurred so far" with
    * the SAME guarantees as a from-scratch batch pass (never an
    * undercount; ≤ eps·N over at the configured confidence) while
    * retaining ~160 KB per epoch — the unbounded-key frequency state
    * a naive streaming groupBy would have to keep exactly is what
    * this replaces at 100 TB. */
  def startFrequencyMonitor(events: DataFrame, keyCol: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(cmsIngestBatch(keyCol, outDir) _)
      .start()

  /** foreachBatch sink for [[startPercolateRouter]]: match the
    * micro-batch's documents against the broadcast percolate registry
    * (TextOps.percolateMatchesDf — the exact q_percolate matcher) and
    * land the (doc_id, qid) routes epoch-keyed — the idempotent-
    * overwrite trade of routeDocumentsBatch/cmsIngestBatch, so a
    * replayed micro-batch rewrites its own routes instead of
    * double-alerting. */
  def percolateRouteBatch(matchesDir: String)(batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty) { // P9 empty-batch guard
      graft.operators.TextOps.percolateMatchesDf(batch)
        .write.mode("overwrite").parquet(s"$matchesDir/batch=$id")
    }

  /** Streaming PERCOLATE ROUTER — the stream twin of q_percolate:
    * every arriving document is matched against the STORED conjunctive
    * term queries as it lands (the Elasticsearch reverse-search /
    * alerting primitive a curation pipeline uses to flag documents for
    * review in-flight). The registry is model-sized by definition and
    * broadcast into each micro-batch, so per-batch cost is Σ posting
    * sizes of the registered terms — never docs × queries — and the
    * union of epoch outputs equals the one-shot batch match over the
    * same documents (StreamingSpec pins doc-for-doc parity and restart
    * idempotence, mirroring startFrequencyMonitor). */
  def startPercolateRouter(docs: DataFrame, matchesDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(percolateRouteBatch(matchesDir) _)
      .start()

  /** 50-wide value bins over [0, 500), clamped into bin 9 — the fixed
    * binning shared by the drift monitor's batch and reference sides. */
  def valueBins(df: DataFrame): DataFrame =
    df.withColumn("bin", least(floor(col("value") / lit(50.0)).cast("long"), lit(9L)))

  /** Reference histogram for [[startDriftMonitor]]: per (event_type,
    * bin) counts over a trusted corpus snapshot — model-sized (types ×
    * 10 bins), broadcast to every micro-batch. */
  def referenceHistogram(events: DataFrame): DataFrame =
    valueBins(events).groupBy(col("event_type").as("r_type"), col("bin"))
      .agg(count(lit(1)).as("r_cnt"))

  /** Per-type total-variation distance between one micro-batch's value
    * distribution and the reference, in the engine's integer-exact
    * style: TV = Σ_bins |c_b·n_ref − c_ref·n_b| / (2·n_b·n_ref) —
    * numerator and denominator exact BIGINTs (union-based zero-fill
    * aligns the bin supports without outer-join null traps), ONE
    * final IEEE division, alert at the caller's threshold. Types with
    * no rows in this batch emit no metric (nothing to judge). A type
    * present in the batch but ABSENT from the reference (n_r = 0) is
    * exactly the novelty the monitor exists to flag — the division
    * would be 0/0 (ANSI faults it) — so it short-circuits to maximal
    * drift: tv = 1.0, novel_type = true, alert = true. */
  def driftScores(batch: DataFrame, ref: DataFrame,
      alertTv: Double = 0.25): DataFrame = {
    val b = valueBins(batch).groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("b_cnt"))
    val aligned = b
      .select(col("event_type"), col("bin"), col("b_cnt"), lit(0L).as("r_cnt"))
      .unionAll(broadcast(ref).select(col("r_type").as("event_type"), col("bin"),
        lit(0L).as("b_cnt"), col("r_cnt")))
      .groupBy("event_type", "bin")
      .agg(sum(col("b_cnt")).as("b_cnt"), sum(col("r_cnt")).as("r_cnt"))
    val tot = aligned.groupBy("event_type")
      .agg(sum(col("b_cnt")).as("n_b"), sum(col("r_cnt")).as("n_r"))
    aligned.join(tot, Seq("event_type"))
      .groupBy(col("event_type"), col("n_b"), col("n_r"))
      .agg(sum(abs(col("b_cnt") * col("n_r") - col("r_cnt") * col("n_b")))
        .as("tv_num"))
      .filter(col("n_b") > 0L)
      .withColumn("novel_type", col("n_r") === 0L)
      .withColumn("tv", when(col("novel_type"), lit(1.0))
        .otherwise(col("tv_num").cast("double")
          / (lit(2.0) * col("n_b").cast("double") * col("n_r").cast("double"))))
      .withColumn("alert", col("tv") >= lit(alertTv) || col("novel_type"))
      .select("event_type", "n_b", "n_r", "tv_num", "tv", "novel_type", "alert")
  }

  /** Metrics sink for the drift monitor: one epoch-keyed directory per
    * micro-batch ([[routeDocumentsBatch]]'s idempotent-overwrite
    * trade), holding the per-type drift rows for that batch. */
  def driftMetricsBatch(ref: DataFrame, metricsDir: String,
      alertTv: Double = 0.25)(batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty) // P9 empty-batch guard
      driftScores(batch, ref, alertTv).withColumn("batch_id", lit(id))
        .coalesce(1).write.mode("overwrite").parquet(s"$metricsDir/batch=$id")

  /** Streaming DRIFT MONITOR — the "is today's data still shaped like
    * the corpus we trust" gate a training pipeline runs on its ingest:
    * every micro-batch's per-type value histogram is scored against
    * the broadcast reference and the metrics land in an epoch-keyed
    * parquet sink (restart-safe: a replayed batch rewrites its own
    * directory). Scale shape per batch: one narrow bin map + a
    * (type, bin) hash agg against a model-sized broadcast — the
    * monitor adds no shuffle wider than the type domain at any rate. */
  def startDriftMonitor(events: DataFrame, ref: DataFrame,
      metricsDir: String, checkpointDir: String, alertTv: Double = 0.25,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(driftMetricsBatch(ref, metricsDir, alertTv) _)
      .start()

  /** Streaming counterpart of the batch q_dedup_incremental: the
    * NOVEL-ONLY firehose. Arrivals stream in; anything whose content
    * digest already exists in the static corpus keeper set is dropped
    * via a stream-static LEFT ANTI join (T9 snapshot semantics — the
    * corpus side is the big, slowly-changing relation a daily re-start
    * re-snapshots), and [[dedupedDocuments]]' watermark-bounded digest
    * state collapses at-least-once replays within the stream itself.
    * What comes out is exactly what a corpus-append sink may write.
    * @param corpusDigests static frame with a `text_md5` column
    */
  def novelDocuments(docs: DataFrame, corpusDigests: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    dedupedDocuments(docs, watermarkDelay)
      .join(corpusDigests.select(col("text_md5")).distinct(),
        Seq("text_md5"), "left_anti")

  /** T8: watermarked SLIDING window (2 h wide, 1 h slide) — each event
    * counts toward two overlapping windows; batch analog is
    * q_window_sliding (oracled). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"))

  /** T8: sliding-window DISTINCT active users (streaming WAU) — the
    * stream twin of q_rolling_distinct, composed from TWO chained
    * stateful operators with one watermark: per-window user
    * deduplication (dropDuplicates keyed on (window, user), state
    * expired by the 1-day watermark) feeding a windowed count in
    * append mode. The window() assignment IS the batch query's
    * cover-explode — each event lands in its 7 sliding windows, the
    * dedup collapses a user's repeat activity inside each window, and
    * the count finishes — so a closed window's `wau` equals the batch
    * users_7d for the day the window ends. The same function runs as
    * a plain batch transform (watermark is a no-op there), which is
    * what the parity test pins. */
  def wauCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .select(window(col("ts"), "7 days", "1 day").as("win"), col("user_id"),
        col("ts"))
      .dropDuplicates("win", "user_id")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("wau"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("wau"))

  /** T8: stream-stream event-time range join — the conversion-funnel
    * pattern (click followed by a purchase within 1 hour, same user).
    * Both sides carry watermarks and the join condition bounds event
    * time on both sides, so Spark can expire state; the batch analog
    * is Windows.qFunnel (same semantics, DuckDB-oracled).
    */
  def clickPurchaseFunnel(events: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("purchase_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      expr("""click_user = purchase_user
              AND purchase_ts >= click_ts
              AND purchase_ts <= click_ts + INTERVAL 1 HOUR"""),
      joinType)
  }

  /** T8: OUTER stream-stream join — an unconverted click emits with
    * null purchase columns once the watermark proves no purchase can
    * still arrive inside its hour (state expiry drives the null-side
    * emission; an inner join would silently drop the non-converters,
    * which are exactly what a funnel analysis wants to count). */
  def clickPurchaseFunnelOuter(events: DataFrame): DataFrame =
    clickPurchaseFunnel(events, "leftOuter")

  /** T8: funnel LATENCY rollup on the stream-stream join output —
    * the streaming twin of the q_funnel_time readout: every
    * click→purchase pair inside the hour contributes its exact µs
    * delta to the click's event-time hour window, which closes (and
    * emits count/min/max/sum) once the watermark passes. Two chained
    * stateful operators (range join → windowed agg) in append mode —
    * the WAU-chaining precedent. Sum over ALL converting pairs (not
    * first-purchase-only: a deterministic streaming "first" would
    * need per-click state the rollup doesn't, and pair-grain is the
    * latency DISTRIBUTION a monitor actually wants). The same
    * function is a plain batch transform (watermarks no-op) — the
    * oracled q_funnel_latency and the parity test both pin it. */
  def funnelLatencyRollup(events: DataFrame): DataFrame =
    clickPurchaseFunnel(events)
      .withColumn("delta_us",
        unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
      .groupBy(window(col("click_ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("delta_us")).as("min_us"),
        max(col("delta_us")).as("max_us"),
        sum(col("delta_us")).as("sum_us"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("n_pairs"), col("min_us"), col("max_us"), col("sum_us"))

  // ---- custom sessionization state machine (flatMapGroupsWithState) --

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start: Long, end: Long, nEvents: Long)

  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, duration_us: Long)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Event-time sessionization with a 30-minute gap, emitting a session
    * when the watermark passes its gap horizon. The custom-state analog
    * of the batch q_sessionize and of `session_window` — demonstrates
    * arbitrary stateful processing (mapGroupsWithState family).
    *
    * The batch's events are sorted by event time and split on every
    * intra-batch gap > SessionGapMs — with AvailableNow or a large
    * trigger a single micro-batch can span several sessions, and
    * collapsing it to one [min,max] span would merge what the batch
    * analogs (q_sessionize / session_window) keep separate. All closed
    * sessions emit immediately; only the trailing open session stays
    * in state.
    */
  def sessionFunc(userId: Long, events: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    def emit(st: SessionState): SessionOut = SessionOut(
      userId,
      new java.sql.Timestamp(st.start),
      new java.sql.Timestamp(st.end),
      st.nEvents,
      (st.end - st.start) * 1000L)
    if (state.hasTimedOut) {
      val out = emit(state.get)
      state.remove()
      Iterator.single(out)
    } else {
      val spans = scala.collection.mutable.ArrayBuffer.empty[SessionState]
      state.getOption.foreach(spans += _)
      events.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        spans.lastOption match {
          case Some(last) if t - last.end <= SessionGapMs =>
            // min() guards the carried-over span: a late-but-in-
            // watermark event may precede the open session's start
            spans(spans.size - 1) = SessionState(
              math.min(last.start, t), math.max(last.end, t), last.nEvents + 1)
          case _ =>
            spans += SessionState(t, t, 1)
        }
      }
      val open = spans.last
      state.update(open)
      state.setTimeoutTimestamp(open.end + SessionGapMs)
      spans.init.iterator.map(emit)
    }
  }

  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFunc)
  }

  // ---- transformWithState (Spark 4 arbitrary-state API) --------------

  final case class UserCounts(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running counters on the transformWithState API — the
    * successor to mapGroupsWithState: typed named state cells
    * (ValueState here; List/Map state and timers compose the same
    * way), RocksDB-backed so per-key state can exceed executor memory
    * at 100 TB key cardinality. Emits the updated running totals for
    * every key touched in a micro-batch (Update mode).
    *
    * Requires `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (set by the caller/test — the HDFS-map
    * provider does not support transformWithState).
    */
  class RunningUserCounts
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserCounts] {
    @transient private var counts: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getValueState[(Long, Double)]("counts",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCounts] = {
      val (prevN, prevV) =
        if (counts.exists()) counts.get() else (0L, 0.0)
      var n = prevN
      var v = prevV
      rows.foreach { e => n += 1; v += e.value }
      counts.update((n, v))
      Iterator.single(UserCounts(key, n, v))
    }
  }

  def runningUserCounts(events: Dataset[Ev]): Dataset[UserCounts] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningUserCounts,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- CDC materializer (streaming twin of q_cdc_apply) --------------

  /** The materialized per-key CDC row: the key's LATEST change by
    * (event-time, event_id), with 'error' events acting as DELETE
    * tombstones (`deleted` = the key is absent from the serving
    * view). */
  final case class CdcState(user_id: Long, last_us: Long, last_id: Long,
      last_type: String, last_value: Double, deleted: Boolean)

  /** Streaming CDC apply on transformWithState — the stateful twin of
    * the batch q_cdc_apply window: per key, keep the change that is
    * MAXIMAL in (event_time, event_id) and emit the current winner
    * whenever a micro-batch touches the key (Update mode). Crucially
    * this is OUT-OF-ORDER SAFE: a late-arriving older change compares
    * below the stored winner and cannot regress the materialized row —
    * the property a log-compaction consumer needs and a naive
    * "last write wins by arrival" foreachBatch upsert does not have.
    * Tombstones stay IN STATE (deleted=true) rather than clearing it:
    * clearing would let a late pre-delete change resurrect the key.
    * RocksDB-backed like RunningUserCounts, so key cardinality is
    * bounded by disk, not executor memory. */
  class CdcMaterializer
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, CdcState] {
    @transient private var cur:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, String, Double)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      cur = getHandle.getValueState[(Long, Long, String, Double)]("cur",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CdcState] = {
      var best: Option[(Long, Long, String, Double)] =
        if (cur.exists()) Some(cur.get()) else None
      rows.foreach { e =>
        // microsecond-exact event time: Timestamp.getTime is
        // millisecond-grain (sub-ms lives in getNanos), and the events
        // fixture is timestamp[us] — truncating here would order two
        // same-millisecond changes by event_id instead of full time and
        // diverge from batch q_cdc_apply's unix_micros
        val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000L
        if (best.isEmpty
            || us > best.get._1
            || (us == best.get._1 && e.event_id > best.get._2))
          best = Some((us, e.event_id, e.event_type, e.value))
      }
      val b = best.get // rows is non-empty for a touched key
      cur.update(b)
      Iterator.single(CdcState(key, b._1, b._2, b._3, b._4, b._3 == "error"))
    }
  }

  /** Streaming entry for [[CdcMaterializer]] (Update mode — each
    * micro-batch emits the current winner for every touched key). */
  def cdcMaterialized(events: Dataset[Ev]): Dataset[CdcState] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new CdcMaterializer,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming exact group quantiles (twin of q_group_quantiles) ---

  /** One keyed value observation — the streaming grain of the batch
    * value-grain count frame (`Functions2.qGroupQuantiles`). */
  final case class KeyedValue(flag: String, v: Double)

  /** One exact order statistic for a key as of the current state —
    * the same output shape as batch q_group_quantiles. */
  final case class QuantileOut(flag: String, p: String, k: Long, n: Long,
      value: Double)

  /** The (numerator, denominator, label) quantile set — shared with
    * the batch twin so k = ⌈p·n⌉ is the IDENTICAL integer selection. */
  val GroupQuantilePs: Seq[(Long, Long, String)] =
    Seq((1L, 2L, "p50"), (9L, 10L, "p90"), (99L, 100L, "p99"))

  /** Streaming EXACT per-key quantiles on transformWithState — the
    * stateful twin of the batch q_group_quantiles. State per key is
    * the VALUE-GRAIN count map (value → running count), the same grain
    * the batch query aggregates to before its prefix sum — NOT the raw
    * observations — so state size is bounded by the key's distinct
    * values (prices here: bounded domain), never by event volume, and
    * it lives in RocksDB MapState so even a wide domain spills to disk
    * rather than executor heap. Every micro-batch that touches a key
    * re-selects k = ⌈p·n⌉ = (num·n + den − 1) DIV den over the sorted
    * value grain with the batch twin's exact integer arithmetic and
    * emits the key's current quantile rows (Update mode) — after any
    * prefix of the stream, the emitted rows ARE the batch answer over
    * the rows seen so far, which is what the parity spec pins.
    *
    * Scale shape: per-key selection is O(distinct values · log) inside
    * one state partition; keys are independent (the same "every window
    * key-partitioned" property the batch twin relies on). A truly
    * unbounded value domain would move to the sketch path
    * (q_approx_percentile's twin) — same posture as batch. */
  class GroupQuantileMaterializer
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, KeyedValue, QuantileOut] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[Double, Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[Double, Long]("counts",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KeyedValue],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[QuantileOut] = {
      rows.foreach { r =>
        val c = if (counts.containsKey(r.v)) counts.getValue(r.v) else 0L
        counts.updateValue(r.v, c + 1L)
      }
      // exact selection over the sorted value grain — the in-state
      // replay of the batch prefix-sum filter pref < k ≤ pref + cnt
      val grain = counts.iterator().toArray.sortBy(_._1)
      // guard an engine-semantics invariant rather than borrow it:
      // transformWithState today only invokes a key WITH rows, so
      // state is non-empty here — but an empty grain would send the
      // selection loop to grain(0) on a zero-length array. If the
      // engine ever adds row-less invocations (e.g. timer-only), emit
      // nothing for the key instead of crashing the query.
      if (grain.isEmpty) Iterator.empty
      else {
        val n = grain.iterator.map(_._2).sum
        GroupQuantilePs.iterator.map { case (num, den, p) =>
          val k = (num * n + den - 1) / den
          var pref = 0L
          var i = 0
          while (i < grain.length && pref + grain(i)._2 < k) {
            pref += grain(i)._2
            i += 1
          }
          QuantileOut(key, p, k, n, grain(i)._1)
        }
      }
    }
  }

  /** Streaming entry for [[GroupQuantileMaterializer]] (Update mode —
    * each micro-batch emits the current exact quantile rows for every
    * touched key). */
  def groupQuantiles(rows: Dataset[KeyedValue]): Dataset[QuantileOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .groupByKey(_.flag)
      .transformWithState(new GroupQuantileMaterializer,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}
