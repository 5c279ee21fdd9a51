package graft

/** Round-level decomposition of q_kcore's scaling behavior — the
  * diagnostic behind SCALING.json's note on the path's measured
  * exponent (the file's highest ratio). For each corpus dir (default:
  * the ScaleProbe synthesis at /tmp/graft-scale/x4 and x16) and each
  * shuffle-partition setting it runs q_kcore's derived-K peel
  * (`GraphOps.kcoreWithDepth` on a cold co-occurrence build) and
  * prints per-round wall times and frontier sizes, so a super-linear
  * TIME reading can be attributed:
  *
  *  - if the peel DEPTH grows with the multiplier, the exponent is
  *    rounds × linear-per-round (a data property of the derived K on
  *    the blown-up graph, not a plan flaw);
  *  - if depth is flat but per-round time scales >m×, it is
  *    per-round pressure — each round's degree agg + two left-semi
  *    joins + localCheckpoint over m× the edges through the fixed 32
  *    harness partitions — and the partition sweep shows whether
  *    sizing partitions with the data flattens it (a real deployment
  *    does; the harness pins them to CPU count by design).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.KcoreDecompose
  * [dir ...]"; SPARK_GRAFT_PARTS overrides the partition settings
  * swept (comma-separated, default "32,256").
  */
object KcoreDecompose {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
    else Seq("/tmp/graft-scale/x4", "/tmp/graft-scale/x16")
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "32,256")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Bench.localSession()
    for (dir <- dirs; p <- parts) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      graft.operators.Policy.clearMemo()
      System.gc()
      val t0 = System.nanoTime()
      val (n0, k, rounds) =
        graft.operators.GraphOps.kcorePeelProfile(spark, dir)
      val total = (System.nanoTime() - t0) / 1e9
      val roundStr = rounds.zipWithIndex.map { case ((m, sec), i) =>
        f"r${i + 1}%d:${sec}%.2fs(${m}%d)"
      }.mkString(" ")
      println(f"KCORE dir=$dir parts=$p%d edges0=$n0%d k=$k%d depth=${rounds.size}%d " +
        f"total=$total%.2fs rounds=[$roundStr]")
    }
    spark.stop()
  }
}
