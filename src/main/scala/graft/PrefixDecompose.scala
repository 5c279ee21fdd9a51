package graft

import org.apache.spark.sql.DataFrame

import graft.operators.TextOps

/** Stage-level decomposition of q_dedup_prefix's scaling behavior —
  * the diagnostic behind SCALING.json's note on the path's measured
  * exponent. For each corpus dir (default: the ScaleProbe synthesis
  * at /tmp/graft-scale/x4 and x16) and each shuffle-partition setting,
  * it prices three cumulative plans over the suite's shingle stream
  * (TextOps.prefixShingles):
  *
  *   shingles   — the distinct 3-shingle explode (narrow, no shuffle)
  *   candidates — + df agg, canonical-order window, prefix join,
  *                pair groupBy and the lossless filters
  *   full       — + the per-doc sorted-array build and the
  *                graft_sorted_intersect_ge verify join (the suite
  *                query)
  *
  * and counts the shingle stream and surviving candidates, so a
  * super-linear TIME reading can be attributed: if the counts scale
  * ~m× while only the time curls upward — and the curl flattens when
  * shuffle partitions scale with the data — the exponent is fixed-
  * partition pressure (each of the 32 harness partitions carrying m×
  * the rows through sort/agg), not an algorithmic blowup. A real
  * deployment sizes partitions with data; the harness pins them to
  * CPU count by design.
  *
  * Every stage is timed the same way, by [[Bench.timed]]: one untimed
  * warm-up of all three stages, then [[Passes]] passes that interleave
  * the stages, each reported as its median. The counts are taken
  * outside the clock.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.PrefixDecompose
  * [dir ...]"; SPARK_GRAFT_PARTS overrides the partition settings
  * swept (comma-separated, default "32,256").
  */
object PrefixDecompose {
  private val Passes = 3

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
    else Seq("/tmp/graft-scale/x4", "/tmp/graft-scale/x16")
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "32,256")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Bench.localSession()
    def timed(stage: () => DataFrame): Double = Bench.timed(spark)(stage())
    for (dir <- dirs; p <- parts) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      def shingles() = TextOps.prefixShingles(spark, dir)
      def candidates() = TextOps.ppjoinCandidates(shingles())
      val stages = Seq[() => DataFrame](
        () => shingles(), () => candidates(), () => SparkEntry.queries("q_dedup_prefix")(spark, dir))
      stages.foreach(timed)
      val passes = Seq.fill(Passes)(stages.map(timed))
      val Seq(tSh, tCand, tFull) = stages.indices.map(i => Bench.median(passes.map(_(i))))
      println(f"[prefix] dir=$dir parts=$p%-4d shingles=${shingles().count()}%,d " +
        f"cand=${candidates().count()}%,d " +
        f"t_shingles=$tSh%.2f t_cand=$tCand%.2f t_full=$tFull%.2f")
    }
    spark.stop()
  }
}
