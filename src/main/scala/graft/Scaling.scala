package graft

/** Scaling-exponent artifact: runs graft.operators.ScaleProbe at 4×
  * and 16× the base corpus and writes SCALING.json with per-path
  * times and the t(16×)/t(4×) ratio. Linear growth would show 4.0;
  * anything ≥ 6.0 (the tripwire ScalingSpec also enforces) means a
  * super-linear path crept in, and the run exits nonzero.
  *
  * `SPARK_GRAFT_SCALE_ONLY=a,b` probes only the named paths and
  * MERGES their rows into the existing SCALING.json (same base dir
  * required — refuses to mix corpora), so one newly probed path
  * doesn't force re-measuring the other twenty.
  */
object Scaling {
  private val Threshold = 6.0

  private val RowRe =
    """"(q_\w+)":\{"t4x":([0-9.eE+-]+),"t16x":([0-9.eE+-]+),"ratio":([0-9.eE+-]+)\}""".r

  /** Parse the rows of a previously written SCALING.json (our own
    * emission format — fail loud if the base dir doesn't match). */
  private[graft] def existingRows(path: java.nio.file.Path, baseDir: String): Seq[(String, (Double, Double, Double))] = {
    if (!java.nio.file.Files.exists(path)) return Nil
    val s = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    require(s.contains(s""""base":"$baseDir""""),
      s"SPARK_GRAFT_SCALE_ONLY merge refused: existing SCALING.json base != $baseDir")
    RowRe.findAllMatchIn(s).map { m =>
      m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble, m.group(4).toDouble)
    }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale")
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Bench.localSession()
    val (lo, hi) = (4, 16)
    val res = graft.operators.ScaleProbe.run(spark, baseDir, workDir, Seq(lo, hi), only = only)
    val names = res(lo).keys.toSeq.sorted
    val probed = names.map { n =>
      val (t4, t16) = (res(lo)(n), res(hi)(n))
      val ratio = t16 / t4
      n -> (t4, t16, ratio)
    }
    val outPath = java.nio.file.Paths.get("SCALING.json")
    val entries =
      if (only.isEmpty) probed
      else (existingRows(outPath, baseDir).toMap ++ probed.toMap).toSeq.sortBy(_._1)
    val body = entries.map { case (n, (t4, t16, r)) =>
      s""""$n":{"t${lo}x":$t4,"t${hi}x":$t16,"ratio":$r}"""
    }.mkString(",")
    val json =
      s"""{"base":"$baseDir","multipliers":[$lo,$hi],"linear_ratio":4.0,"threshold":$Threshold,"paths":{$body}}"""
    println(json)
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    val bad = probed.filter(_._2._3 >= Threshold)
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(s"[scaling] super-linear paths: ${bad.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
