package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The operators' cross-cutting policies, each with one owner: the
  * cross-query memo and the scan spread. */
object Policy {

  private val memos = TrieMap.empty[(String, SparkSession, String), AnyRef]

  /** Cross-QUERY memo: `build` runs once per (kind, session, data dir)
    * and every later call returns its value. Several queries start
    * from the same intermediate over the same dataset, and a
    * pipeline-shaped run (graft.Verify, or a production multi-report
    * job) should build each one ONCE:
    *  - TextOps' md5 signature graph (`sg`, `pairs`, `edges`, `labels`)
    *    feeds six queries (estimate, closure, sizes, degrees, pagerank,
    *    keeper_quality);
    *  - GraphOps' co-occurrence graph (`co`, `tri`, `lpa`, `links`)
    *    feeds q_triangles, q_local_cc, q_kcore, the link family and
    *    the community queries;
    *  - VectorOps' trained models (`lloyd`, `pqcb`; K×dim driver-side
    *    Seqs, never data): q_ann_recall alone would otherwise train the
    *    same Lloyd model and the same PQ codebook twice, each a
    *    driver-blocking collect ladder inside one query's clock.
    *
    * Frame entries are localCheckpoint-materialized. The key holds the
    * session itself, and SparkSession does not override `equals`, so
    * two sessions never share an entry. Each kind names one value type,
    * which is what makes the cast sound.
    *
    * graft.Bench.clearResidue calls [[clearMemo]] before every timed
    * pass (Bench, AbWedge, ScaleProbe, PrefixDecompose), ahead of its
    * unpersist, which would orphan the checkpoint blocks anyway. So
    * each timed pass builds cold: the memo shares work within a run,
    * never across timed passes. */
  private[graft] def memo[T <: AnyRef](s: SparkSession, d: String, kind: String)(build: => T): T =
    memos.getOrElseUpdate((kind, s, d), build).asInstanceOf[T]

  /** The memoized value of `kind`, if a query of this run built it. */
  private[graft] def memoized[T <: AnyRef](s: SparkSession, d: String, kind: String): Option[T] =
    memos.get((kind, s, d)).map(_.asInstanceOf[T])

  /** Drop every memoized intermediate (bench/test isolation). */
  def clearMemo(): Unit = memos.clear()

  /** Conditional scan spread (guide §2.5): floor a doc-keyed frame's
    * partitioning at the session's default parallelism before
    * CPU-heavy per-row work (tokenize, md5 sweeps, codec encode and
    * decode). The 594 KB sf0.1 documents.parquet yields ONE split per
    * scan (a union of two scans gives two), so everything computed
    * below the first exchange would serialize on ≤2 cores. The
    * repartition by `doc_id` happens only when the scan under-splits:
    * at real corpus sizes it is a no-op, so it is not a local-mode
    * constant. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want, col("doc_id"))
    else df
  }
}
