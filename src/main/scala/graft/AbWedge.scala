package graft

/** Interleaved same-JVM timing of registered queries — the
  * measurement protocol the host's cross-run variance forces: two
  * back-to-back `graft.Bench` runs of UNCHANGED queries have differed
  * by ±2× on this class of machine (r11/r12 drift family;
  * BENCH_NOTES.md), so an old-run-vs-new-run comparison cannot
  * attribute a delta to code. Here each pass times every named query
  * once, the queries alternate WITHIN the pass (A, B, A', B', …), and
  * the verdict reads the per-query median across passes — host drift
  * moves both sides of each pair together, so the PAIRWISE delta
  * survives it.
  *
  * Every name must be a key of [[SparkEntry.queries]]; an unknown name
  * fails before the session starts. A change that adjudicates a
  * rewrite adds a thunk for its candidate here for that change only,
  * and deletes the losing form in the same change.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32
  *        sbt "runMain graft.AbWedge [passes] q_a,q_b,…"
  */
object AbWedge {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = args.headOption.map(_.toInt).getOrElse(5)
    val names = args.drop(1).headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(names.nonEmpty, "usage: AbWedge [passes] q_a,q_b,… (names from SparkEntry.queries)")
    val queries = SparkEntry.named(names).toMap
    val spark = Bench.localSession()

    def timed(name: String): Double = Bench.timed(spark)(queries(name)(spark, sfDir))

    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // one untimed warmup sweep (JIT/codegen/parquet footers), then the
    // interleaved timed passes
    names.foreach(timed)
    (1 to passes).foreach { p =>
      names.foreach { n =>
        val t = timed(n)
        times(n) = times(n) :+ t
        System.err.println(f"[ab] pass $p $n%-12s $t%7.3f s")
      }
    }
    println(names.map { n =>
      val ts = times(n)
      f""""$n":{"median":${Bench.median(ts)}%.3f,"min":${ts.min}%.3f,"max":${ts.max}%.3f}"""
    }.mkString("{", ",", "}"))
    spark.stop()
  }
}
