package graft

import org.apache.spark.sql.SparkSession

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
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.PrefixDecompose
  * [dir ...]"; SPARK_GRAFT_PARTS overrides the partition settings
  * swept (comma-separated, default "32,256").
  */
object PrefixDecompose {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
    else Seq("/tmp/graft-scale/x4", "/tmp/graft-scale/x16")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "32,256")
      .split(",").map(_.trim.toInt).toSeq
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
    def time(f: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    for (dir <- dirs; p <- parts) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      val sh = graft.operators.TextOps.prefixShingles(spark, dir)
      val nSh = sh.count()
      val tSh = time(sh.write.format("noop").mode("overwrite").save())
      val cand = graft.operators.TextOps.ppjoinCandidates(sh)
      var nCand = 0L
      val tCand = time { nCand = cand.count() }
      val tFull = time(graft.operators.TextOps.queries("q_dedup_prefix")(spark, dir)
        .write.format("noop").mode("overwrite").save())
      println(f"[prefix] dir=$dir parts=$p%-4d shingles=$nSh%,d cand=$nCand%,d " +
        f"t_shingles=$tSh%.2f t_cand=$tCand%.2f t_full=$tFull%.2f")
    }
    spark.stop()
  }
}
