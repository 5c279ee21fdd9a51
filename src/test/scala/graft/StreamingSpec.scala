package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Enrich
import graft.sources.Tables
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.Ev

/** Streaming semantics (SURVEY.md §2.9 T1-T9 + the T8 additions):
  * unified batch/stream transform, dual-sink foreachBatch with keyed
  * upsert idempotence under replay, watermarked windows with late-data
  * drop, streaming dedup, custom sessionization state machine, and
  * checkpointed restart.
  */
class StreamingSpec extends SparkSpec {
  import StreamingSpec.EvIn
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("unified batch/stream: same transform fn, same results (M3)") {
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      EvIn(1L, ts("2024-01-01 00:00:00"), 1L, "play", 10.0, """{"k": 1}"""),
      EvIn(2L, ts("2024-01-01 00:01:00"), 2L, "pause", 20.0, """{"k": 2}"""),
      EvIn(3L, ts("2024-01-01 00:02:00"), 77L, "click", 30.0, """{"k": 3}"""))
    val dim = Tables.customer(spark, Sf0001)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))

    val batchOut = Enrich.transform(rows.toDF(), dim)
      .orderBy("event_id").collect().toSeq

    val ms = MemoryStream[EvIn]
    ms.addData(rows)
    val q = Enrich.transform(ms.toDF(), dim)
      .writeStream.format("memory").queryName("unified_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamOut = spark.table("unified_out").orderBy("event_id").collect().toSeq
    assert(streamOut == batchOut)
  }

  /** the same rows, duplicates counted, in any order */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val x = a.select(b.columns.map(col).toSeq: _*)
    a.count() == b.count() && x.exceptAll(b).isEmpty && b.exceptAll(x).isEmpty
  }

  private def events(rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), EventPipeline.eventSchema)

  private def viewFiles(view: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(java.nio.file.Paths.get(view))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  test("foreachBatch dual sink: history appends, keyed view upserts idempotently (T3/T7)") {
    val history = tmp("hist")
    val view = tmp("view")
    val dim = Enrich.customerDim(spark, Sf0001)
    def ev(id: java.lang.Long, minute: Int, user: Long, tpe: String, value: Double): Row =
      Row(id, ts(f"2024-01-01 00:$minute%02d:00"), user, tpe, value, s"""{"k": $minute}""")
    val b0 = events(
      ev(1L, 0, 1L, "play", 10.0),
      ev(2L, 1, 2L, "pause", 20.0),
      ev(2L, 2, 2L, "pause", 21.0), // in-batch duplicate key
      ev(null, 3, 3L, "play", 30.0), // null key: history only
      ev(17L, 4, 4L, "click", 40.0))
    // a later batch updates key 1 (a larger value sorts it first under
    // the payload-desc order too) and adds key 5; untouched keys survive
    val b1 = events(ev(1L, 0, 1L, "play", 99.0), ev(5L, 5, 5L, "seek", 50.0))
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt

    val batches = Seq(b0, b0, b1) // b0 twice: an at-least-once replay of the whole batch
    batches.indices.foreach { id =>
      EventPipeline.writeBatch(history, view)(Enrich.transform(batches(id), dim), id.toLong)
      val expected = Enrich.transform(batches.take(id + 1).reduce(_ unionByName _), dim)
      assert(sameRows(spark.read.parquet(history), expected), s"history after batch $id")
      val latestFirst = org.apache.spark.sql.expressions.Window.partitionBy(col("event_id"))
        .orderBy(expected.columns.filterNot(_ == "event_id").sorted.map(col(_).desc_nulls_last).toSeq: _*)
      val expectedView = expected.filter(col("event_id").isNotNull)
        .withColumn("rn", row_number().over(latestFirst)).filter(col("rn") === 1).drop("rn")
      assert(sameRows(spark.read.parquet(view).drop("bucket"), expectedView), s"view after batch $id")
      val files = viewFiles(view)
      assert(files.nonEmpty && files.size <= shufflePartitions, s"view files after batch $id: $files")
      assert(files.forall(_.getParent.getFileName.toString == "bucket=0"), files)
    }
    val v = spark.read.parquet(view)
    assert(v.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L, 17L))
    assert(v.filter($"event_id" === 1L).select("value").as[Double].head() == 99.0)
    assert(v.filter($"event_id" === 2L).select("value").as[Double].head() == 21.0)
  }

  test("keyed view upsert leaves the session's partitionOverwriteMode unchanged") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try {
      val (history, view) = (tmp("hist"), tmp("view"))
      val batch = Seq((1L, "a", 10.0)).toDF("event_id", "event_type", "value")
      EventPipeline.writeBatch(history, view)(batch, 0L)
      EventPipeline.writeBatch(history, view)(batch, 1L) // merges into the existing view
      assert(spark.conf.get(key).equalsIgnoreCase("static"))
    } finally spark.conf.unset(key)
  }

  test("keyed view upsert refuses a view with partitions other than bucket=0") {
    val view = tmp("view")
    // the layout an earlier key-hash sink wrote: bucket = pmod(key, 16)
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("event_id", "event_type", "value")
      .withColumn("bucket", pmod($"event_id", lit(16)))
      .write.mode("overwrite").partitionBy("bucket").parquet(view)
    val update = Seq((2L, "b2", 21.0)).toDF("event_id", "event_type", "value")
    val e = intercept[IllegalStateException](EventPipeline.upsertKeyedView(update, view))
    assert(e.getMessage.contains("bucket=1") && e.getMessage.contains("rebuild"), e.getMessage)
    // refused before writing: the old layout is untouched
    assert(spark.read.parquet(view).count() == 2)
  }

  test("watermarked tumbling window: closed windows emit, late data dropped (T8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.windowedCounts(ms.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      ms.addData(
        EvIn(1L, ts("2024-01-01 10:05:00"), 1L, "play", 10.0, "{}"),
        EvIn(2L, ts("2024-01-01 10:20:00"), 1L, "play", 5.0, "{}"))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window (+10 min watermark)
      ms.addData(EvIn(3L, ts("2024-01-01 13:00:00"), 1L, "play", 1.0, "{}"))
      q.processAllAvailable()
      // this event is older than the watermark → must be dropped
      ms.addData(EvIn(4L, ts("2024-01-01 10:30:00"), 1L, "play", 100.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("win_out")
      .filter($"win_start" === ts("2024-01-01 10:00:00")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n") == 2) // late event NOT counted
    assert(out(0).getAs[Double]("sum_value") == 15.0)
  }

  test("streaming dropDuplicates suppresses replayed events (T7→T8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.dedupedEvents(ms.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val e = EvIn(1L, ts("2024-01-01 10:00:00"), 1L, "play", 10.0, "{}")
      ms.addData(e, e.copy(event_id = 2L))
      q.processAllAvailable()
      ms.addData(e) // replay within watermark
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_out").count() == 2)
  }

  test("streaming exact-text dedup drops a replayed document within the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamingSpec.DocIn]
    val q = EventPipeline.dedupedDocuments(ms.toDF())
      .writeStream.format("memory").queryName("doc_dedup_out")
      .outputMode("append").start()
    try {
      ms.addData(
        StreamingSpec.DocIn(1L, ts("2024-01-01 10:00:00"), "spark big data"),
        StreamingSpec.DocIn(2L, ts("2024-01-01 10:00:01"), "other text here"))
      q.processAllAvailable()
      // at-least-once replay: same CONTENT, re-minted doc_id and
      // re-stamped ingest_ts — must collapse on the digest; the
      // genuinely new doc in the same micro-batch must survive
      ms.addData(
        StreamingSpec.DocIn(3L, ts("2024-01-01 10:00:05"), "spark big data"),
        StreamingSpec.DocIn(4L, ts("2024-01-01 10:00:06"), "brand new doc"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("doc_dedup_out")
    assert(out.count() == 3)
    // the survivor for the replayed content is the FIRST arrival
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
  }

  test("streaming near-dup dedup collapses a token-permuted replay the md5 key misses") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamingSpec.DocIn]
    val q = EventPipeline.nearDedupedDocuments(ms.toDF())
      .writeStream.format("memory").queryName("near_dedup_out")
      .outputMode("append").start()
    try {
      ms.addData(
        StreamingSpec.DocIn(1L, ts("2024-01-01 10:00:00"), "spark big data pipeline"),
        StreamingSpec.DocIn(2L, ts("2024-01-01 10:00:01"), "other text here"))
      q.processAllAvailable()
      // token-PERMUTED replay: different text, different md5 — exact-
      // text dedup would emit it; the order-invariant signature must
      // collapse it. The genuinely new doc in the same batch survives.
      ms.addData(
        StreamingSpec.DocIn(3L, ts("2024-01-01 10:00:05"), "pipeline data big spark"),
        StreamingSpec.DocIn(4L, ts("2024-01-01 10:00:06"), "brand new doc"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("near_dedup_out")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // regression guard for the premise: the permuted text is NOT an
    // md5 duplicate — only the signature collapses it
    assert(spark.sql(
      "SELECT md5('spark big data pipeline') = md5('pipeline data big spark')")
      .head().getBoolean(0) == false)
  }

  test("streaming embedding near-dup collapses replays and rescaled copies via the LSH signature") {
    implicit val ctx = spark.sqlContext
    graft.functions.VectorExpressions.register(spark)
    // deterministic 64-dim vectors: v1 and its 2x-rescaled copy share
    // every projection SIGN, hence every band bucket; v2 points at a
    // genuinely different direction
    def mk(f: Int => Double): Seq[Double] = (0 until 64).map(f)
    val v1 = mk(i => math.sin(i * 1.7) + 0.3)
    val v1scaled = v1.map(_ * 2.0)
    val v2 = mk(i => math.cos(i * 2.3) - 0.4)
    val ms = MemoryStream[StreamingSpec.VecIn]
    val q = EventPipeline.nearDedupedEmbeddings(ms.toDF())
      .writeStream.format("memory").queryName("vec_dedup_out")
      .outputMode("append").start()
    try {
      ms.addData(StreamingSpec.VecIn(1L, ts("2024-01-01 10:00:00"), v1))
      q.processAllAvailable()
      // exact replay (new id), rescaled near-copy, and a new vector
      ms.addData(
        StreamingSpec.VecIn(2L, ts("2024-01-01 10:00:05"), v1),
        StreamingSpec.VecIn(3L, ts("2024-01-01 10:00:06"), v1scaled),
        StreamingSpec.VecIn(4L, ts("2024-01-01 10:00:07"), v2))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("vec_dedup_out")
    assert(out.select("vec_id").as[Long].collect().toSet == Set(1L, 4L),
      "replay + rescaled copy must collapse; the distinct vector must survive")
    // premise guard: the streaming signature is exactly the batch
    // band/bucket blocking folded to one key — recompute via
    // withBandBuckets and compare
    val batchBuckets = graft.operators.VectorOps.withBandBuckets(
      Seq((1L, v1)).toDF("vec_id", "vec"), graft.operators.VectorOps.DedupLsh)
      .orderBy("band").select("bucket").as[Long].collect().mkString("-")
    val streamSig = out.filter($"vec_id" === 1L)
      .select("lsh_sig").as[String].head()
    assert(streamSig == batchBuckets,
      s"streaming signature $streamSig != batch band buckets $batchBuckets")
  }

  test("streaming ANN ingest: cell + keeper labels match the batch assignment across a restart") {
    import graft.operators.VectorOps
    graft.functions.VectorExpressions.register(spark)
    val src = tmp("ann-src"); val out = tmp("ann-out"); val chk = tmp("ann-chk")
    // static corpus slice; drop any LSH-signature colliders so the
    // stream's first-arrival-wins dedup is deterministic id-for-id
    val corpus0 = Tables.embeddings(spark, Sf0001)
      .filter($"vec_id" < 200)
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val bySig = org.apache.spark.sql.expressions.Window
      .partitionBy("lsh_sig").orderBy("vec_id")
    val corpus = VectorOps.withBandSignature(corpus0, VectorOps.DedupLsh)
      .withColumn("rk", row_number().over(bySig)).filter($"rk" === 1)
      .select("vec_id", "vec").localCheckpoint()
    // batch model + cell-keyed keepers (every corpus vector is a keeper)
    val model = VectorOps.lloydModel(spark, corpus)
    val keepers = EventPipeline.assignCells(corpus, model)
      .select($"cell", $"vec_id".as("k_id"), $"vec".as("k_vec"))
      .localCheckpoint()
    // stream input: the corpus arrives, then replays verbatim
    val stamped = corpus
      .withColumn("ingest_ts", lit(ts("2024-01-01 10:00:00")))
      .select("vec_id", "ingest_ts", "vec")
    stamped.coalesce(1).write.mode("overwrite").parquet(src)
    Thread.sleep(1100)
    stamped.coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def start() = EventPipeline.startAnnIngest(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      model, keepers, out, chk)
    val q = start(); q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    // replays collapsed: each corpus vector labeled exactly once
    assert(got.count() == corpus.count())
    // parity with the BATCH assignment, row for row
    val expected = EventPipeline.assignAnn(corpus, model, keepers)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell"), r.getAs[Long]("keeper_id"), r.getAs[Double]("keeper_cos"))).toMap
    val gotRows = got.collect()
    assert(gotRows.length == expected.size)
    gotRows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val (cell, kid, kcos) = expected(id)
      assert(r.getAs[Long]("cell") == cell, s"vec $id cell")
      assert(r.getAs[Long]("keeper_id") == kid, s"vec $id keeper")
      assert(r.getAs[Double]("keeper_cos") == kcos, s"vec $id cos")
    }
    // every corpus vector IS a keeper here, so each labels itself
    gotRows.foreach(r =>
      assert(r.getAs[Long]("keeper_id") == r.getAs[Long]("vec_id")))
    // restart on the same checkpoint with no new input: dedup state and
    // sink epochs resume — nothing reprocessed, no duplicate labels
    val q2 = start(); q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == corpus.count())
  }

  test("per-row streaming simhash is bit-identical to the batch signature path") {
    graft.functions.SimHashDoc.register(spark)
    val docs = graft.sources.Tables.documents(spark, Sf0001)
      .select($"doc_id", $"text")
    val perRow = docs.select($"doc_id",
      EventPipeline.perRowSimhash().as("row_sig"))
    val mismatches = graft.operators.TextOps.simhashSigs(docs)
      .join(perRow, Seq("doc_id"))
      .filter($"simhash" =!= $"row_sig")
      .count()
    assert(mismatches == 0,
      s"$mismatches docs where the per-row streaming signature diverges from the batch aggregate")
  }

  test("novel-only stream drops corpus-known digests and in-stream replays") {
    implicit val ctx = spark.sqlContext
    val corpus = Seq("spark big data").toDF("text")
      .select(md5($"text").as("text_md5"))
    val ms = MemoryStream[StreamingSpec.DocIn]
    val q = EventPipeline.novelDocuments(ms.toDF(), corpus)
      .writeStream.format("memory").queryName("novel_out")
      .outputMode("append").start()
    try {
      ms.addData(
        // digest already in the corpus -> dropped by the anti join
        StreamingSpec.DocIn(1L, ts("2024-01-01 10:00:00"), "spark big data"),
        StreamingSpec.DocIn(2L, ts("2024-01-01 10:00:01"), "genuinely new"))
      q.processAllAvailable()
      // replay of the novel doc -> dropped by the in-stream digest state
      ms.addData(StreamingSpec.DocIn(3L, ts("2024-01-01 10:00:04"), "genuinely new"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("novel_out")
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("dropDuplicatesWithinWatermark collapses replays even with perturbed timestamps (T7)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.dedupedEventsWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("dedup_wm_out")
      .outputMode("append").start()
    try {
      val e = EvIn(1L, ts("2024-01-01 10:00:00"), 1L, "play", 10.0, "{}")
      ms.addData(e, e.copy(event_id = 2L))
      q.processAllAvailable()
      // replay of event 1 with a RE-STAMPED ts (retrying producer):
      // key-only dedup must still collapse it
      ms.addData(e.copy(ts = ts("2024-01-01 10:00:03")))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_wm_out").count() == 2)
  }

  test("sliding streaming window counts each event into two overlapping windows (T8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName("slide_out")
      .outputMode("append").start()
    try {
      ms.addData(EvIn(1L, ts("2024-01-01 10:30:00"), 1L, "play", 1.0, "{}"))
      q.processAllAvailable()
      // push the watermark far past both windows containing 10:30
      ms.addData(EvIn(2L, ts("2024-01-01 15:00:00"), 1L, "play", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val wins = spark.table("slide_out")
      .filter($"n" === 1L && $"win_start" <= ts("2024-01-01 10:30:00"))
      .select("win_start").as[java.sql.Timestamp].collect().toSet
    assert(wins == Set(ts("2024-01-01 09:00:00"), ts("2024-01-01 10:00:00")))
  }

  test("streaming WAU: chained dedup->window agg matches the batch cover, repeats collapse (T8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.wauCounts(ms.toDF())
      .writeStream.format("memory").queryName("wau_out")
      .outputMode("append").start()
    val data = Seq(
      EvIn(1L, ts("2024-01-01 10:00:00"), 1L, "play", 1.0, "{}"),
      EvIn(2L, ts("2024-01-01 11:00:00"), 1L, "play", 1.0, "{}"), // user 1 repeat
      EvIn(3L, ts("2024-01-01 12:00:00"), 2L, "click", 1.0, "{}"),
      EvIn(4L, ts("2024-01-03 09:00:00"), 2L, "play", 1.0, "{}"))
    try {
      ms.addData(data: _*)
      q.processAllAvailable()
      // advance the watermark far past every window containing the data
      ms.addData(EvIn(9L, ts("2024-02-15 00:00:00"), 9L, "play", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wau_out")
      .filter($"win_end" <= ts("2024-01-15 00:00:00"))
      .select($"win_end".cast("date").cast("string"), $"wau")
      .as[(String, Long)].collect().toMap
    // batch cover replay: window ending day d (exclusive) holds the
    // distinct users active in [d-7, d)
    val acts = Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (2L, "2024-01-03"))
    val fmt = java.time.LocalDate.parse(_: String)
    val expected = (for {
      (_, day) <- acts; k <- 1L to 7L
      end = fmt(day).plusDays(k).toString
    } yield end).distinct.map { end =>
      val e = fmt(end)
      end -> acts.filter { case (_, d) =>
        !fmt(d).isBefore(e.minusDays(7)) && fmt(d).isBefore(e)
      }.map(_._1).distinct.size.toLong
    }.toMap
    assert(out == expected, s"streaming $out vs batch cover $expected")
    // the same transform as a plain BATCH DataFrame agrees window-for-window
    val batch = EventPipeline.wauCounts(
      spark.createDataset(data).toDF())
      .select($"win_end".cast("date").cast("string"), $"wau")
      .as[(String, Long)].collect().toMap
    assert(batch == expected)
  }

  test("streaming funnel latency rollup: chained join→window agg matches the " +
      "batch transform, restart-safe (T8)") {
    implicit val ctx = spark.sqlContext
    // pair-grain latency rollup on the stream-stream range join output:
    // user 1's click converts TWICE inside its hour (both pairs count),
    // user 2's click converts once in the NEXT hour window, user 3's
    // purchase has no click (no pair), and the late sentinels advance
    // BOTH sides' watermarks (the join output's click_ts watermark is
    // bounded by purchase_wm − 1 h, so a click-only sentinel would
    // leave the last window open) without pairing with each other
    // (different users) so every data window closes
    val data = Seq(
      EvIn(1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      EvIn(2L, ts("2024-01-01 10:10:00"), 1L, "purchase", 5.0, "{}"),
      EvIn(3L, ts("2024-01-01 10:40:00"), 1L, "purchase", 7.0, "{}"),
      EvIn(4L, ts("2024-01-01 11:30:00"), 2L, "click", 0.0, "{}"),
      EvIn(5L, ts("2024-01-01 12:10:00"), 2L, "purchase", 3.0, "{}"),
      EvIn(6L, ts("2024-01-01 12:20:00"), 3L, "purchase", 2.0, "{}"))
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.funnelLatencyRollup(ms.toDF())
      .writeStream.format("memory").queryName("fl_out")
      .outputMode("append").start()
    try {
      ms.addData(data: _*)
      q.processAllAvailable()
      ms.addData(
        EvIn(9L, ts("2024-02-01 00:00:00"), 9L, "click", 0.0, "{}"),
        EvIn(10L, ts("2024-02-01 00:00:00"), 8L, "purchase", 0.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("fl_out")
      .select($"win_start".cast("string"), $"n_pairs", $"min_us", $"max_us", $"sum_us")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      ("2024-01-01 10:00:00", 2L, 600000000L, 2400000000L, 3000000000L),
      ("2024-01-01 11:00:00", 1L, 2400000000L, 2400000000L, 2400000000L))
    assert(out == expected, s"streaming $out vs hand-computed $expected")
    // the SAME transform as a plain batch DataFrame agrees window-for-window
    // (this is also what the oracled q_funnel_latency pins corpus-wide)
    val batch = EventPipeline.funnelLatencyRollup(spark.createDataset(data).toDF())
      .select($"win_start".cast("string"), $"n_pairs", $"min_us", $"max_us", $"sum_us")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(batch == expected)
    // restart on a checkpointed file-source run: AvailableNow over the
    // same input, then a second start with nothing new → no duplicate
    // windows in the append sink
    val src = tmp("fl-src"); val sink = tmp("fl-sink"); val chk = tmp("fl-chk")
    val all = data ++ Seq(
      EvIn(9L, ts("2024-02-01 00:00:00"), 9L, "click", 0.0, "{}"),
      EvIn(10L, ts("2024-02-01 00:00:00"), 8L, "purchase", 0.0, "{}"))
    spark.createDataset(all).toDF().write.mode("overwrite").parquet(src)
    def start() = EventPipeline.funnelLatencyRollup(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src))
      .writeStream.outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start(sink)
    val q1 = start(); q1.awaitTermination(120000)
    val n1 = spark.read.parquet(sink).count()
    assert(n1 == 2, s"expected the two closed windows, got $n1")
    val q2 = start(); q2.awaitTermination(120000)
    assert(spark.read.parquet(sink).count() == n1) // no reprocessing
  }

  test("flatMapGroupsWithState sessionization closes sessions via event-time timeout (T8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = EventPipeline.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      ms.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 1L, "play", 1.0),
        Ev(2L, ts("2024-01-01 10:05:00"), 1L, "play", 1.0))
      q.processAllAvailable()
      // watermark jump: 14:00 - 10 min >> 10:05 + 30 min gap
      ms.addData(Ev(3L, ts("2024-01-01 14:00:00"), 2L, "play", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(4L, ts("2024-01-01 14:01:00"), 2L, "play", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("sess_out").filter($"user_id" === 1L).collect()
    assert(sessions.length == 1)
    assert(sessions(0).getAs[Timestamp]("session_start") == ts("2024-01-01 10:00:00"))
    assert(sessions(0).getAs[Timestamp]("session_end") == ts("2024-01-01 10:05:00"))
    assert(sessions(0).getAs[Long]("n_events") == 2L)
    assert(sessions(0).getAs[Long]("duration_us") == 300000000L)
  }

  test("sessionFunc splits intra-batch gaps > 30 min into separate sessions") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // one micro-batch (AvailableNow shape) holding TWO sessions, fed
    // out of order — the fold must sort by event time and split on the
    // 30-minute gap instead of collapsing to one [min,max] span
    val state = TestGroupState.create[EventPipeline.SessionState](
      org.apache.spark.api.java.Optional.empty(), GroupStateTimeout.EventTimeTimeout,
      0L, org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
    def ev(id: Long, t: String) = Ev(id, ts(t), 1L, "play", 1.0)
    val out = EventPipeline.sessionFunc(1L,
      Iterator(ev(3, "2024-01-01 12:00:00"), ev(1, "2024-01-01 10:00:00"),
        ev(4, "2024-01-01 12:05:00"), ev(2, "2024-01-01 10:05:00")),
      state).toList
    assert(out.map(o => (o.session_start, o.session_end, o.n_events)) ==
      List((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), 2L)))
    // trailing open session stays in state, timing out at end + gap
    val open = state.get
    assert(open.start == ts("2024-01-01 12:00:00").getTime)
    assert(open.end == ts("2024-01-01 12:05:00").getTime)
    assert(open.nEvents == 2L)
    assert(state.getTimeoutTimestampMs.get() ==
      ts("2024-01-01 12:05:00").getTime + EventPipeline.SessionGapMs)
  }

  test("sessionFunc merges a later batch into the carried-over open session") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def ev(id: Long, t: String) = Ev(id, ts(t), 1L, "play", 1.0)
    // batch 1 leaves an open session in state
    val s1 = TestGroupState.create[EventPipeline.SessionState](
      org.apache.spark.api.java.Optional.empty(), GroupStateTimeout.EventTimeTimeout,
      0L, org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
    assert(EventPipeline.sessionFunc(1L,
      Iterator(ev(1, "2024-01-01 10:00:00")), s1).isEmpty)
    // batch 2 arrives 20 min later (inside the 30-min gap): must MERGE,
    // not open a second session
    val s2 = TestGroupState.create[EventPipeline.SessionState](
      org.apache.spark.api.java.Optional.of(s1.get), GroupStateTimeout.EventTimeTimeout,
      0L, org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
    assert(EventPipeline.sessionFunc(1L,
      Iterator(ev(2, "2024-01-01 10:20:00")), s2).isEmpty)
    val open = s2.get
    assert(open.start == ts("2024-01-01 10:00:00").getTime)
    assert(open.end == ts("2024-01-01 10:20:00").getTime)
    assert(open.nEvents == 2L)
    // batch 3 arrives past the gap: the carried session closes, the
    // new one opens
    val s3 = TestGroupState.create[EventPipeline.SessionState](
      org.apache.spark.api.java.Optional.of(s2.get), GroupStateTimeout.EventTimeTimeout,
      0L, org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
    val closed = EventPipeline.sessionFunc(1L,
      Iterator(ev(3, "2024-01-01 12:00:00")), s3).toList
    assert(closed.map(o => (o.session_start, o.session_end, o.n_events)) ==
      List((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"), 2L)))
    assert(s3.get.start == ts("2024-01-01 12:00:00").getTime)
  }

  test("checkpointed restart resumes from the offset log without reprocessing (T4/T5)") {
    val src = tmp("rsrc")
    val history = tmp("rhist")
    val view = tmp("rview")
    val chk = tmp("rchk")
    val dim = Enrich.customerDim(spark, Sf0001)
    val ev = Tables.events(spark, Sf0001)

    ev.limit(50).write.mode("overwrite").parquet(src + "/part1")
    val q1 = EventPipeline.startEnrichment(
      EventPipeline.readEventStream(spark, src + "/part1"), dim,
      history, view, chk, Trigger.AvailableNow())
    q1.awaitTermination(120000)
    assert(spark.read.parquet(history).count() == 50)

    // restart against the SAME checkpoint: nothing new → no reprocessing
    val q2 = EventPipeline.startEnrichment(
      EventPipeline.readEventStream(spark, src + "/part1"), dim,
      history, view, chk, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(spark.read.parquet(history).count() == 50) // no duplicate batch
  }

  test("streaming CDC materializer: out-of-order changes cannot regress the row; " +
      "tombstones flag deletion (RocksDB state)") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = EventPipeline.cdcMaterialized(ms.toDS())
        .writeStream.format("memory").queryName("cdc_out")
        .outputMode("update").start()
      try {
        // batch 1: u1 gets two changes (purchase wins by time), u2 one
        ms.addData(
          Ev(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
          Ev(2L, ts("2024-01-01 10:20:00"), 1L, "purchase", 9.0),
          Ev(3L, ts("2024-01-01 10:05:00"), 2L, "view", 2.0))
        q.processAllAvailable()
        // batch 2: a LATE change for u1 older than its stored winner —
        // must NOT regress the materialized row; u2 is tombstoned
        ms.addData(
          Ev(4L, ts("2024-01-01 10:10:00"), 1L, "view", 3.0),
          Ev(5L, ts("2024-01-01 11:00:00"), 2L, "error", 0.0))
        q.processAllAvailable()
        // batch 3: a post-delete change for u2 resurrects it (newer
        // than the tombstone — correct compaction semantics)
        ms.addData(Ev(6L, ts("2024-01-01 12:00:00"), 2L, "signup", 4.0))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("cdc_out")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
            .orderBy($"last_us".desc, $"last_id".desc)))
        .filter($"rn" === 1)
        .select($"user_id", $"last_id", $"last_type", $"deleted")
        .as[(Long, Long, String, Boolean)].collect()
        .map { case (u, id, tpe, del) => u -> ((id, tpe, del)) }.toMap
      // u1's winner is still the 10:20 purchase — the late 10:10 view
      // emitted a row but could not displace it
      assert(out(1L) == ((2L, "purchase", false)))
      // u2's final state is the 12:00 signup (resurrected after the
      // tombstone); the intermediate emission history must show the
      // tombstone was the winner between batches 2 and 3
      assert(out(2L) == ((6L, "signup", false)))
      val u2hist = spark.table("cdc_out").filter($"user_id" === 2L)
        .select($"last_id", $"deleted").as[(Long, Boolean)].collect().toSet
      assert(u2hist.contains((5L, true)), s"tombstone emission missing: $u2hist")
      // parity with the batch q_cdc_apply shape: latest-per-key over
      // the same rows, driver-recounted
      val all = Seq(
        (1L, ts("2024-01-01 10:00:00").getTime, 1L, "click"),
        (2L, ts("2024-01-01 10:20:00").getTime, 1L, "purchase"),
        (3L, ts("2024-01-01 10:05:00").getTime, 2L, "view"),
        (4L, ts("2024-01-01 10:10:00").getTime, 1L, "view"),
        (5L, ts("2024-01-01 11:00:00").getTime, 2L, "error"),
        (6L, ts("2024-01-01 12:00:00").getTime, 2L, "signup"))
      val expect = all.groupBy(_._3).view.mapValues(
        _.maxBy(e => (e._2, e._1))).toMap
      expect.foreach { case (u, e) =>
        assert(out(u)._1 == e._1 && out(u)._3 == (e._4 == "error"), s"user $u")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming CDC materializer orders by MICROSECOND event time: two changes " +
      "within the same millisecond resolve by sub-ms time, not event_id") {
    // the events fixture is timestamp[us]: 999/1000 rows carry sub-ms
    // components, so a Timestamp.getTime-only comparison (ms grain)
    // would order same-millisecond changes by event_id and emit a
    // truncated last_us — both diverging from batch q_cdc_apply's
    // unix_micros. Two changes 300µs apart inside one ms, where the
    // LOWER event_id is the LATER change: micros ordering must win.
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = EventPipeline.cdcMaterialized(ms.toDS())
        .writeStream.format("memory").queryName("cdc_us_out")
        .outputMode("update").start()
      try {
        ms.addData(
          Ev(9L, ts("2024-01-01 10:00:00.000500"), 7L, "purchase", 9.0),
          Ev(10L, ts("2024-01-01 10:00:00.000200"), 7L, "view", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val win = spark.table("cdc_us_out")
        .orderBy($"last_us".desc, $"last_id".desc)
        .select($"last_id", $"last_type", $"last_us")
        .as[(Long, String, Long)].head()
      // winner is event 9 (t+500µs) despite event 10's higher id
      assert(win._1 == 9L && win._2 == "purchase", s"got $win")
      // and last_us is the exact unix_micros, not ms-truncated
      val t = ts("2024-01-01 10:00:00.000500")
      val expectUs = t.getTime * 1000L + (t.getNanos / 1000) % 1000L
      assert(win._3 == expectUs && expectUs % 1000L == 500L, s"last_us=${win._3}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState running counters accumulate across micro-batches (RocksDB state)") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = EventPipeline.runningUserCounts(ms.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      try {
        ms.addData(
          Ev(1L, ts("2024-01-01 10:00:00"), 1L, "play", 10.0),
          Ev(2L, ts("2024-01-01 10:01:00"), 1L, "play", 5.0),
          Ev(3L, ts("2024-01-01 10:02:00"), 2L, "play", 1.0))
        q.processAllAvailable()
        ms.addData(Ev(4L, ts("2024-01-01 10:03:00"), 1L, "pause", 2.5))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("tws_out")
      val u1 = out.filter($"user_id" === 1L).orderBy($"n_events").collect()
      assert(u1.map(_.getAs[Long]("n_events")).toSeq == Seq(2L, 3L))
      assert(u1.last.getAs[Double]("total_value") == 17.5)
      assert(out.filter($"user_id" === 2L)
        .head().getAs[Long]("n_events") == 1L)
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("outbox single-partition ordered ingest preserves total order (O3)") {
    // the reference's outbox poll reads rows in one ordered partition;
    // pin the analog: repartition(1) + sortWithinPartitions writes one
    // file whose row order IS the key order, and a re-read sees it
    val dir = tmp("outbox")
    Tables.events(spark, Sf0001)
      .repartition(1)
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.rdd.getNumPartitions == 1, "ordered outbox must be one partition")
    val ids = back.select("event_id").as[Long].collect().toSeq
    assert(ids == ids.sorted, "row order must be the total key order")
    assert(ids.size == Tables.events(spark, Sf0001).count())
  }

  test("StreamingQueryListener monitor observes batches and rows (T10)") {
    implicit val ctx = spark.sqlContext
    val monitor = new graft.streaming.GraftMonitor(batchWarnMs = 0L) // warn on everything
    spark.streams.addListener(monitor)
    try {
      val ms = MemoryStream[EvIn]
      val q = EventPipeline.windowedCounts(ms.toDF())
        .writeStream.format("memory").queryName("mon_out")
        .outputMode("append").start()
      try {
        ms.addData(EvIn(1L, ts("2024-01-01 10:00:00"), 1L, "play", 1.0, "{}"))
        q.processAllAvailable()
      } finally q.stop()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 30000
      while (monitor.rows.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(monitor.batches.get() >= 1)
      assert(monitor.rows.get() >= 1)
      assert(monitor.slowBatches.get() >= 1) // 0ms threshold flags every batch
    } finally spark.streams.removeListener(monitor)
  }

  test("stream-stream event-time range join: purchase within the hour joins, later one does not (T8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.clickPurchaseFunnel(ms.toDF())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      ms.addData(
        EvIn(1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
        EvIn(2L, ts("2024-01-01 10:30:00"), 1L, "purchase", 9.99, "{}"), // joins
        EvIn(3L, ts("2024-01-01 12:30:00"), 1L, "purchase", 5.0, "{}"),  // > 1h: no
        EvIn(4L, ts("2024-01-01 10:20:00"), 2L, "purchase", 1.0, "{}"))  // other user: no
      q.processAllAvailable()
      // advance both watermarks so results finalize
      ms.addData(EvIn(5L, ts("2024-01-01 15:00:00"), 3L, "click", 0.0, "{}"),
        EvIn(6L, ts("2024-01-01 15:00:00"), 3L, "purchase", 0.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("funnel_out")
      .filter($"click_user" === 1L).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("purchase_id") == 2L)
    assert(out(0).getAs[Double]("purchase_value") == 9.99)
  }

  test("OUTER stream-stream join emits unconverted clicks with nulls after state expiry (T8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvIn]
    val q = EventPipeline.clickPurchaseFunnelOuter(ms.toDF())
      .writeStream.format("memory").queryName("funnel_outer_out")
      .outputMode("append").start()
    try {
      ms.addData(
        EvIn(1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),    // converts
        EvIn(2L, ts("2024-01-01 10:30:00"), 1L, "purchase", 9.99, "{}"),
        EvIn(3L, ts("2024-01-01 10:00:00"), 2L, "click", 0.0, "{}"))    // never converts
      q.processAllAvailable()
      // advance BOTH branch watermarks past 11:00 + delay (the global
      // watermark is the min over the click and purchase branches);
      // the new watermark takes effect at the NEXT batch, so push one
      // more pair to trigger the null-side eviction
      ms.addData(
        EvIn(4L, ts("2024-01-01 20:00:00"), 3L, "click", 0.0, "{}"),
        EvIn(5L, ts("2024-01-01 20:00:00"), 3L, "purchase", 0.0, "{}"))
      q.processAllAvailable()
      ms.addData(
        EvIn(6L, ts("2024-01-01 20:30:00"), 4L, "click", 0.0, "{}"),
        EvIn(7L, ts("2024-01-01 20:30:00"), 4L, "purchase", 0.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("funnel_outer_out")
    val converted = out.filter($"click_user" === 1L).collect()
    assert(converted.length == 1 && converted(0).getAs[Long]("purchase_id") == 2L)
    val unconverted = out.filter($"click_user" === 2L).collect()
    assert(unconverted.length == 1, s"expected null-side emission, got ${out.collect().toSeq}")
    assert(unconverted(0).isNullAt(unconverted(0).fieldIndex("purchase_id")))
  }

  test("Kafka wire parse chain: CAST → from_json → flatten → casts, malformed JSON survives as nulls (P1-P4)") {
    val frames = Seq(
      ("""{"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "event_type": "play", "value": 2.5, "props": null}""", "1"),
      ("""{"event_id": 2, "ts": "2024-01-01T11:00:00", "user_id": 8, "event_type": "pause", "value": null, "props": "{}"}""", "2"),
      ("""this is not json""", "3"))
      .toDF("json_str", "key")
      .select(col("key").cast("binary"), col("json_str").cast("binary").as("value"))
    val out = EventPipeline.parseKafkaWire(frames).collect()
      .sortBy(r => Option(r.getAs[Any]("event_id")).map(_.toString).getOrElse(""))
    assert(out.length == 3) // malformed row survives (PERMISSIVE)
    val bad = out.head // null event_id sorts first
    assert(bad.getAs[Any]("event_id") == null && bad.getAs[Any]("event_type") == null)
    val e1 = out(1)
    assert(e1.getAs[Long]("event_id") == 1L)
    assert(e1.getAs[Timestamp]("ts") == ts("2024-01-01 10:00:00"))
    val e2 = out(2)
    assert(e2.getAs[Long]("event_id") == 2L)
    // lenient bare Cast parses ISO-8601 'T' form too (F3)
    assert(e2.getAs[Timestamp]("ts") == ts("2024-01-01 11:00:00"))
    assert(e2.getAs[Any]("value") == null)
  }

  test("source format breadth: csv and json round-trip the event schema") {
    val base = tmp("fmt")
    // default text-format timestamp pattern truncates to milliseconds —
    // pin a microsecond pattern on both sides of the round trip
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val ev = Tables.events(spark, Sf0001).limit(200)
    ev.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", tsFmt).csv(base + "/csv")
    ev.write.mode("overwrite").option("timestampFormat", tsFmt).json(base + "/json")
    val fromCsv = spark.read.option("header", "true").option("timestampFormat", tsFmt)
      .schema(EventPipeline.eventSchema).csv(base + "/csv")
    val fromJson = spark.read.option("timestampFormat", tsFmt)
      .schema(EventPipeline.eventSchema).json(base + "/json")
    assert(fromCsv.count() == 200)
    assert(fromJson.count() == 200)
    // values survive the round trip (timestamps/doubles/strings)
    assert(fromCsv.exceptAll(ev).count() == 0)
    assert(fromJson.exceptAll(ev).count() == 0)
  }

  test("end-to-end novel-document stream: file source, append sink, restart-safe") {
    val src = tmp("docsrc")
    val out = tmp("docout")
    val chk = tmp("docchk")
    // stage real sf0.001 documents as the stream input, replayed 2x
    // (id-shifted) so the in-stream digest dedup has real work.
    // id predicates, not limit(): an unordered limit could pick a
    // corpus set that is not a subset of the staged stream
    val docs = Tables.documents(spark, Sf0001).filter($"doc_id" < 50)
      .select($"doc_id", timestamp_millis($"doc_id" * 1000L).as("ingest_ts"), $"text")
    docs.union(docs.withColumn("doc_id", $"doc_id" + 1000000L))
      .write.mode("overwrite").parquet(src)
    // 10 of the 50 distinct texts are already in the corpus
    val corpus = Tables.documents(spark, Sf0001).filter($"doc_id" < 10)
      .select(md5($"text").as("text_md5"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ingest_ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def start() = EventPipeline.novelDocuments(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
      corpus)
      .writeStream.outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    val q = start(); q.awaitTermination(120000)
    val first = spark.read.parquet(out)
    // 50 distinct texts, minus 10 corpus-known, each exactly once
    assert(first.count() == 40)
    assert(first.select("text_md5").distinct().count() == 40)
    // restart on the same checkpoint with no new input: no reprocessing
    val q2 = start(); q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 40)
  }

  test("streaming quality router: split matches the batch scorer doc-for-doc, restart-safe") {
    val src = tmp("qr-src")
    val acc = tmp("qr-acc")
    val quar = tmp("qr-quar")
    val chk = tmp("qr-chk")
    // z ∈ [0.19, 0.87] on these docs; 0.55 splits them 31/29, so both
    // sinks do real work (the default 0.0 bar keeps everything here)
    val minZ = 0.55
    val docs = Tables.documents(spark, Sf0001).filter($"doc_id" < 60)
      .select($"doc_id", $"text", $"lang", $"source")
    docs.write.mode("overwrite").parquet(src)
    def start() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.routeDocumentsBatch(acc, quar, minZ) _)
      .start()
    val q = start(); q.awaitTermination(120000)
    val a = spark.read.parquet(acc)
    val r = spark.read.parquet(quar)
    assert(a.count() + r.count() == 60)
    assert(a.filter($"z" < minZ).count() == 0)
    assert(r.filter($"z" >= minZ).count() == 0)
    // the split agrees doc-for-doc with the batch scorer — same z
    val acceptedIds = a.select($"doc_id").collect().map(_.getLong(0)).toSet
    graft.operators.TextOps.withQualityZ(docs)
      .select($"doc_id", ($"z" >= minZ).as("keep")).collect()
      .foreach { rw =>
        assert(acceptedIds.contains(rw.getLong(0)) == rw.getBoolean(1))
      }
    assert(a.count() > 0 && r.count() > 0)
    // restart on the same checkpoint with no new input: the epoch-keyed
    // overwrite keeps both sinks duplicate-free
    val q2 = start(); q2.awaitTermination(120000)
    assert(spark.read.parquet(acc).count() == a.count())
    assert(spark.read.parquet(quar).count() == r.count())
  }

  test("composed corpus-clean stream: dedup → quality → route matches the batch composition, restart-safe") {
    graft.functions.TextExpressions.register(spark)
    graft.functions.SimHashDoc.register(spark)
    val src = tmp("cc-src")
    val acc = tmp("cc-acc")
    val quar = tmp("cc-quar")
    val chk = tmp("cc-chk")
    val minZ = 0.55 // splits the keepers across both sinks
    // originals: one doc per distinct SimHash signature (the testdata
    // plants exact duplicates; electing the min-id doc per signature
    // makes keeper identity deterministic on both sides)
    val base = Tables.documents(spark, Sf0001).filter($"doc_id" < 80)
      .select($"doc_id", $"text", $"lang", $"source")
      .withColumn("sig", EventPipeline.perRowSimhash())
    val originals = base
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"sig").orderBy($"doc_id")))
      .filter($"rk" === 1).drop("rk", "sig")
      .withColumn("ingest_ts", lit(ts("2024-01-01 10:00:00")))
      .select($"doc_id", $"ingest_ts", $"text", $"lang", $"source")
      .persist()
    // replays: token-REVERSED copies of 10 originals — re-minted ids,
    // different md5, same token bag → same signature; they arrive in a
    // LATER epoch (distinct mod-times order the file source) and must
    // all collapse against the in-horizon dedup state
    val replays = originals.orderBy("doc_id").limit(10)
      .withColumn("doc_id", $"doc_id" + 1000L)
      .withColumn("text", concat_ws(" ", reverse(split($"text", " "))))
      .withColumn("ingest_ts", lit(ts("2024-01-01 10:00:05")))
      .select($"doc_id", $"ingest_ts", $"text", $"lang", $"source")
    originals.coalesce(1).write.mode("overwrite").parquet(src)
    Thread.sleep(1100)
    replays.coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def start() = EventPipeline.startCorpusClean(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      acc, quar, chk, minZ, trigger = Trigger.AvailableNow())
    val q = start(); q.awaitTermination(120000)
    val a = spark.read.parquet(acc)
    val r = spark.read.parquet(quar)
    // dedup stage: every original survives exactly once, every
    // token-permuted replay is collapsed
    val keptIds = (a.select($"doc_id") union r.select($"doc_id"))
      .as[Long].collect().sorted.toSeq
    val originalIds = originals.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(keptIds == originalIds)
    // route stage: the split equals the BATCH composition doc-for-doc
    // (same shared scorer, same bar)
    val batchScored = graft.operators.TextOps.withQualityZ(
      originals.drop("ingest_ts"))
    val batchAccept = batchScored.filter($"z" >= minZ)
      .select($"doc_id").as[Long].collect().toSet
    assert(a.select($"doc_id").as[Long].collect().toSet == batchAccept)
    assert(r.select($"doc_id").as[Long].collect().toSet ==
      originalIds.toSet -- batchAccept)
    assert(a.count() > 0 && r.count() > 0, "both sinks must do real work")
    // restart on the same checkpoint with no new input: dedup state and
    // sink epochs resume in lockstep — nothing reprocessed, no dupes
    val q2 = start(); q2.awaitTermination(120000)
    assert(spark.read.parquet(acc).count() == a.count())
    assert(spark.read.parquet(quar).count() == r.count())
    originals.unpersist()
  }

  test("streaming drift monitor: zero TV on a reference replay, exact alert on a shifted batch") {
    val src = tmp("drift-src"); val met = tmp("drift-met"); val chk = tmp("drift-chk")
    val ev = Tables.events(spark, Sf0001).select($"event_type", $"value")
    // file 1: the reference data itself; file 2: +300-shifted values
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.withColumn("value", $"value" + 300.0).coalesce(1).write.mode("append").parquet(src)
    val ref = EventPipeline.referenceHistogram(ev)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def start() = EventPipeline.startDriftMonitor(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
      ref, met, chk)
    val q = start(); q.awaitTermination(120000)
    val m = spark.read.parquet(met).collect()
    val types = ev.select($"event_type").distinct().count()
    assert(m.length == 2 * types, "one metrics row per (batch, type)")
    // one batch replays the reference bit-for-bit: TV = 0 for every type
    val byBatch = m.groupBy(_.getAs[Long]("batch_id"))
    assert(byBatch.size == 2)
    val (zeroB, shiftB) = byBatch.values.partition(_.forall(_.getAs[Long]("tv_num") == 0L))
    assert(zeroB.size == 1 && shiftB.size == 1)
    zeroB.head.foreach { r =>
      assert(r.getAs[Double]("tv") == 0.0 && !r.getAs[Boolean]("alert"))
    }
    // the shifted batch: recompute every type's TV from raw data
    def bins(rows: Seq[(String, Double)]): Map[(String, Long), Long] =
      rows.groupBy { case (t, v) => (t, math.min(math.floor(v / 50.0).toLong, 9L)) }
        .map { case (k, xs) => k -> xs.size.toLong }
    val raw = ev.as[(String, Double)].collect().toSeq
    val rc = bins(raw)
    val bc = bins(raw.map { case (t, v) => (t, v + 300.0) })
    shiftB.head.foreach { r =>
      val t = r.getAs[String]("event_type")
      val nB = bc.collect { case ((tt, _), c) if tt == t => c }.sum
      val nR = rc.collect { case ((tt, _), c) if tt == t => c }.sum
      val num = (0L to 9L).map { b =>
        math.abs(bc.getOrElse((t, b), 0L) * nR - rc.getOrElse((t, b), 0L) * nB)
      }.sum
      assert(r.getAs[Long]("n_b") == nB && r.getAs[Long]("n_r") == nR)
      assert(r.getAs[Long]("tv_num") == num)
      assert(r.getAs[Double]("tv") == num.toDouble / (2.0 * nB.toDouble * nR.toDouble))
      assert(r.getAs[Boolean]("alert"), s"type $t: a +300 shift must alert")
    }
    // restart on the same checkpoint: no new rows, same metrics
    val q2 = start(); q2.awaitTermination(120000)
    assert(spark.read.parquet(met).count() == m.length.toLong)
  }

  test("drift monitor: a type absent from the reference is maximal drift, not a fault") {
    val ev = Tables.events(spark, Sf0001).select($"event_type", $"value")
    val ref = EventPipeline.referenceHistogram(ev)
    // batch = the reference data plus rows of a brand-new event type:
    // n_r = 0 for it, which must short-circuit (ANSI would fault the
    // 0-denominator division) to tv = 1.0 / novel_type / alert
    val batch = ev.unionAll(
      ev.limit(7).select(lit("brand_new_type").as("event_type"), $"value"))
    val rows = EventPipeline.driftScores(batch, ref).collect()
    val novel = rows.filter(_.getAs[String]("event_type") == "brand_new_type")
    assert(novel.length == 1)
    assert(novel.head.getAs[Long]("n_r") == 0L)
    assert(novel.head.getAs[Double]("tv") == 1.0)
    assert(novel.head.getAs[Boolean]("novel_type"))
    assert(novel.head.getAs[Boolean]("alert"))
    // every known type still replays at zero drift, no novelty flag
    rows.filterNot(_.getAs[String]("event_type") == "brand_new_type").foreach { r =>
      assert(r.getAs[Double]("tv") == 0.0 && !r.getAs[Boolean]("novel_type")
        && !r.getAs[Boolean]("alert"))
    }
  }

  test("end-to-end enrichment stream over files with checkpoint (EP1/T1-T4)") {
    val src = tmp("src")
    val history = tmp("hist2")
    val view = tmp("view2")
    val chk = tmp("chk")
    // stage the real sf0.001 events as the stream input
    Tables.events(spark, Sf0001).limit(100)
      .write.mode("overwrite").parquet(src)
    val dim = Enrich.customerDim(spark, Sf0001)
    val q = EventPipeline.startEnrichment(
      EventPipeline.readEventStream(spark, src), dim,
      history, view, chk, Trigger.AvailableNow())
    q.awaitTermination(120000)
    val hist = spark.read.parquet(history)
    assert(hist.count() == 100)
    assert(hist.columns.contains("engagement_pct"))
    assert(spark.read.parquet(view).count() == 100)
  }

  test("JDBC serving sink: enrichment streams into a live Derby table, replays converge") {
    import graft.sources.JdbcSource
    implicit val ctx = spark.sqlContext
    val dbDir = tmp("derby-serve") + "/db"
    val url = JdbcSource.derbyUrl(dbDir)
    val chk = tmp("derby-chk")
    val dim = Tables.customer(spark, Sf0001)
      .select($"c_custkey", $"c_name", $"c_mktsegment", $"c_acctbal")
    val rows = Seq(
      EvIn(1L, ts("2024-01-01 00:00:00"), 1L, "play", 10.0, """{"k": 1}"""),
      EvIn(2L, ts("2024-01-01 00:01:00"), 2L, "pause", 20.0, """{"k": 2}"""),
      // an in-batch replay of key 1: latest-per-key must pick ONE row
      // deterministically before the upsert
      EvIn(1L, ts("2024-01-01 00:05:00"), 1L, "play", 11.0, """{"k": 1}"""))
    val ms = MemoryStream[EvIn]
    ms.addData(rows)
    val q = EventPipeline.startJdbcServing(
      ms.toDF(), dim, url, chk, Trigger.AvailableNow())
    q.awaitTermination(120000)

    def served(): Map[Long, String] = spark.read.format("jdbc")
      .option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "serving_kv")
      .load().collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("payload")).toMap
    val first = served()
    assert(first.keySet == Set(1L, 2L), s"keys: ${first.keySet}")
    // payload carries the ENRICHED projection, not the raw event
    assert(first(2L).contains("engagement_pct"), first(2L))
    assert(first(2L).contains("pause"))

    // at-least-once replay of the whole batch: the table converges
    val replay = Enrich.transform(rows.toDF(), dim)
    EventPipeline.writeJdbcServing(url)(replay, 99L)
    assert(served() == first, "replay must rewrite identical rows")

    // a later update wins for its key and leaves the rest untouched
    val upd = Enrich.transform(Seq(
      EvIn(2L, ts("2024-01-01 01:00:00"), 2L, "click", 50.0, """{"k": 9}""")).toDF(), dim)
    EventPipeline.writeJdbcServing(url)(upd, 100L)
    val after = served()
    assert(after(1L) == first(1L))
    assert(after(2L) != first(2L) && after(2L).contains("click"))
  }

  test("streaming CMS monitor: epoch sketches merge to the one-pass sketch byte-for-byte") {
    val src = tmp("cms-src"); val out = tmp("cms-out"); val chk = tmp("cms-chk")
    val keys = Tables.events(spark, Sf0001).select($"user_id")
    // two files → two micro-batches under maxFilesPerTrigger=1
    keys.filter($"user_id" % 2 === 0).coalesce(1).write.mode("overwrite").parquet(src)
    Thread.sleep(1100)
    keys.filter($"user_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def start() = EventPipeline.startFrequencyMonitor(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
      "user_id", out, chk)
    val q = start(); q.awaitTermination(120000)
    val epochs = new java.io.File(out).listFiles((_, n: String) => n.endsWith(".cms"))
    assert(epochs.length >= 2,
      "stream should have chopped the input into >=2 micro-batch sketches")
    val merged = EventPipeline.mergedCms(out)
    // one-pass batch sketch over the same rows — must be byte-identical
    graft.functions.CmsExpressions.register(spark)
    val oneShot = keys.agg(expr(
      "graft_cms_agg(user_id, CAST(0.001 AS DOUBLE), CAST(0.999 AS DOUBLE), 42)"))
      .head.getAs[Array[Byte]](0)
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    assert(java.util.Arrays.equals(bos.toByteArray, oneShot),
      "merged epoch sketches differ from the one-pass batch sketch")
    // CM guarantees vs exact counts on the 5 hottest users
    val exact = keys.groupBy($"user_id").count()
      .orderBy($"count".desc, $"user_id").limit(5).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val slack = math.ceil(0.001 * merged.totalCount()).toLong
    exact.foreach { case (k, c) =>
      val est = merged.estimateCount(java.lang.Long.valueOf(k))
      assert(est >= c, s"CMS undercount for user $k: $est < $c")
      assert(est <= c + slack, s"CMS overcount beyond eps*N for user $k")
    }
    // restart on the same checkpoint, no new input: epochs untouched,
    // the merged grid still equals the one-pass sketch
    val q2 = start(); q2.awaitTermination(120000)
    val bos2 = new java.io.ByteArrayOutputStream()
    EventPipeline.mergedCms(out).writeTo(bos2)
    assert(java.util.Arrays.equals(bos2.toByteArray, oneShot),
      "restart changed the merged sketch")
  }

  test("streaming percolate router: epoch routes equal the batch matcher, restart-safe") {
    val src = tmp("perc-src"); val out = tmp("perc-out"); val chk = tmp("perc-chk")
    val docs = Tables.documents(spark, Sf0001).filter($"doc_id" < 60)
      .select($"doc_id", $"text")
    // two files → two micro-batches under maxFilesPerTrigger=1: the
    // registry must match docs in EVERY epoch, not just the first
    docs.filter($"doc_id" < 30).coalesce(1).write.mode("overwrite").parquet(src)
    Thread.sleep(1100)
    docs.filter($"doc_id" >= 30).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def start() = EventPipeline.startPercolateRouter(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      out, chk, trigger = Trigger.AvailableNow())
    val q = start(); q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select($"doc_id", $"qid").as[(Long, Long)].collect().toSet
    // doc-for-doc parity with the one-shot batch matcher — the shared
    // percolateMatchesDf makes this equality structural
    val batch = graft.operators.TextOps.percolateMatchesDf(docs)
      .select($"doc_id", $"qid").as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture must produce at least one route")
    // both epochs must have routed something (matching isn't front-loaded)
    val epochs = spark.read.parquet(out).select($"batch").distinct().count()
    assert(epochs >= 2, s"expected routes from >=2 micro-batches, got $epochs")
    // restart on the same checkpoint with no new input: the epoch-keyed
    // overwrite keeps the route set duplicate-free
    val q2 = start(); q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == streamed.size)
  }

  /** Latest emission per (flag, p) from an Update-mode memory table —
    * n grows monotonically per key, so max-n identifies the final
    * state without relying on sink row order. */
  private def latestQuantiles(table: String): Map[(String, String), (Long, Long, Double)] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"flag", $"p").orderBy($"n".desc)
    spark.table(table)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"flag", $"p", $"k", $"n", $"value")
      .as[(String, String, Long, Long, Double)].collect()
      .map { case (f, p, k, n, v) => (f, p) -> ((k, n, v)) }.toMap
  }

  test("streaming exact group quantiles: after every prefix of the stream the " +
      "emitted rows ARE the batch q_group_quantiles answer (RocksDB MapState)") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val li = Tables.lineitem(spark, Sf0001)
        .select($"l_returnflag".as("flag"), $"l_extendedprice".as("v"))
        .as[EventPipeline.KeyedValue].collect().toSeq
      val (chunk1, chunk2) = li.splitAt(li.size / 2)
      val ms = MemoryStream[EventPipeline.KeyedValue]
      val q = EventPipeline.groupQuantiles(ms.toDS())
        .writeStream.format("memory").queryName("gq_out")
        .outputMode("update").start()
      def driverExpected(rows: Seq[EventPipeline.KeyedValue])
          : Map[(String, String), (Long, Long, Double)] =
        rows.groupBy(_.flag).flatMap { case (f, rs) =>
          val sorted = rs.map(_.v).sorted
          val n = sorted.size.toLong
          EventPipeline.GroupQuantilePs.map { case (num, den, p) =>
            val k = (num * n + den - 1) / den
            (f, p) -> ((k, n, sorted((k - 1).toInt)))
          }
        }
      try {
        // prefix parity: the mid-stream state is already the exact
        // batch answer over the rows seen so far
        ms.addData(chunk1)
        q.processAllAvailable()
        assert(latestQuantiles("gq_out") == driverExpected(chunk1))
        ms.addData(chunk2)
        q.processAllAvailable()
      } finally q.stop()
      // full-stream parity against the ORACLED batch query itself
      val batch = SparkEntry.queries("q_group_quantiles")(spark, Sf0001)
        .select($"flag", $"p", $"k", $"n", $"value")
        .as[(String, String, Long, Long, Double)].collect()
        .map { case (f, p, k, n, v) => (f, p) -> ((k, n, v)) }.toMap
      assert(latestQuantiles("gq_out") == batch)
      assert(batch.size == 9, s"fixture should have 3 flags x 3 ps: ${batch.size}")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming exact group quantiles resume from a checkpointed restart: " +
      "value-grain state survives, final rows equal the batch answer") {
    val src = tmp("gq-src"); val out = tmp("gq-out"); val chk = tmp("gq-chk")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // deterministic half-split on line number parity: file 1 before
      // the first run, file 2 only after the stop
      val h = Tables.lineitem(spark, Sf0001)
        .select($"l_returnflag".as("flag"), $"l_extendedprice".as("v"),
          pmod($"l_linenumber", lit(2)).as("b"))
      h.filter($"b" === 0).select("flag", "v").coalesce(1)
        .write.mode("overwrite").parquet(src)
      Thread.sleep(1100)
      val schema = spark.read.parquet(src).schema
      // foreachBatch parquet sink: the memory sink cannot recover from
      // a checkpoint, and the whole point here is the restart
      def start() = EventPipeline.groupQuantiles(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .as[EventPipeline.KeyedValue])
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[EventPipeline.QuantileOut],
            id: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      val q1 = start(); q1.awaitTermination(120000)
      // second half lands AFTER the stop; the restarted query must
      // combine restored state with the new file, not reprocess
      h.filter($"b" === 1).select("flag", "v").coalesce(1)
        .write.mode("append").parquet(src)
      val q2 = start(); q2.awaitTermination(120000)
      val batch = SparkEntry.queries("q_group_quantiles")(spark, Sf0001)
        .select($"flag", $"p", $"k", $"n", $"value")
        .as[(String, String, Long, Long, Double)].collect()
        .map { case (f, p, k, n, v) => (f, p) -> ((k, n, v)) }.toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"flag", $"p").orderBy($"n".desc)
      val got = spark.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"flag", $"p", $"k", $"n", $"value")
        .as[(String, String, Long, Long, Double)].collect()
        .map { case (f, p, k, n, v) => (f, p) -> ((k, n, v)) }.toMap
      assert(got == batch)
      // each key must have emitted in BOTH runs (one micro-batch each):
      // exactly two rows per (flag, p) with different n proves run 2
      // combined restored state with the new file instead of either
      // reprocessing file 1 (n would double-count, failing parity
      // above) or seeing everything in one run (one row here)
      val perKey = spark.read.parquet(out).groupBy($"flag", $"p")
        .agg(count(lit(1)).as("rows"), countDistinct($"n").as("ns"))
        .select($"rows", $"ns").as[(Long, Long)].collect()
      assert(perKey.nonEmpty && perKey.forall(_ == ((2L, 2L))),
        s"expected 2 emissions x 2 distinct n per key: ${perKey.toSeq}")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}

object StreamingSpec {
  final case class EvIn(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class DocIn(doc_id: Long, ingest_ts: Timestamp, text: String)
  final case class VecIn(vec_id: Long, ingest_ts: Timestamp, vec: Seq[Double])
}
