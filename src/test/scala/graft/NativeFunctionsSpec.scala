package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EventPipeline

/** Native SQL functions are installed where queries enter, never in
  * query bodies. A `newSession()` shares the context but starts from
  * the built-in function registry (no temporary functions), so each
  * check below runs in its own such session: a query or stream stage
  * that passes there installed the `graft_*` functions it calls.
  */
class NativeFunctionsSpec extends SparkSpec {

  /** The queries whose bodies call a `graft_*` function and rely on
    * [[SparkEntry.queries]] to have installed it. */
  private val NativeQueries = Seq(
    "q_sim_bruteforce", "q_mrl_recall", "q_mutual_nn", "q_embed_norms",
    "q_embed_drift", "q_ivf_assign", "q_sim_ivf", "q_sim_pq", "q_semdedup",
    "q_sim_ivfpq", "q_ann_recall", "q_hard_negatives", "q_knn_classify",
    "q_dedup_prefix", "q_frequent_items", "q_hybrid_rrf", "q_cms_watchlist")

  private def fresh() = {
    val s = spark.newSession()
    assert(!s.catalog.functionExists("graft_dot"), "newSession() inherited graft_dot")
    s
  }

  test("queries that call native functions analyze in a fresh session through SparkEntry.queries") {
    val failed = NativeQueries.flatMap { name =>
      Try(SparkEntry.queries(name)(fresh(), Sf0001).queryExecution.assertAnalyzed())
        .failed.toOption.map(e => s"$name: ${e.getMessage.linesIterator.next()}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  /** Run `stage` as a stream over `rows` in `s`, to a memory sink;
    * returns the rows it emitted. */
  private def streamed[T: Encoder](s: SparkSession, rows: Seq[T],
      stage: DataFrame => DataFrame): Long = {
    implicit val ctx: SQLContext = s.sqlContext
    val in = MemoryStream[T]
    val name = s"fresh_${System.nanoTime()}"
    val q = stage(in.toDF()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try { in.addData(rows); q.processAllAvailable() } finally q.stop()
    s.table(name).count()
  }

  test("stream stages called outside SparkEntry run in a fresh session") {
    import spark.implicits._
    val at = Timestamp.valueOf("2024-01-01 10:00:00")
    // a token-permuted copy collapses onto the same signature
    assert(streamed(fresh(), Seq(
      StreamingSpec.DocIn(1L, at, "spark big data"),
      StreamingSpec.DocIn(2L, at, "data big spark"),
      StreamingSpec.DocIn(3L, at, "other text")),
      EventPipeline.nearDedupedDocuments(_)) == 2)
    // a rescaled copy shares every band bucket
    val v = (0 until 64).map(i => math.sin(i * 1.7) + 0.3)
    assert(streamed(fresh(), Seq(
      StreamingSpec.VecIn(1L, at, v), StreamingSpec.VecIn(2L, at, v.map(_ * 2.0))),
      EventPipeline.nearDedupedEmbeddings(_)) == 1)

    val out = Files.createTempDirectory("cms-fresh").toString
    val keys = fresh().range(3).toDF("user_id")
    EventPipeline.cmsIngestBatch("user_id", out)(keys, 0L)
    assert(new java.io.File(s"$out/batch-0.cms").length() > 0)
  }
}
