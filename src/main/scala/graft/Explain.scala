package graft

/** Plan auditor: prints `explain("formatted")` for the named queries
  * (or every registered query, sorted by name) so scan pushdown
  * (`PushedFilters` / `ReadSchema`), join strategies
  * (BroadcastHashJoin vs shuffle), and WholeStageCodegen spans can be
  * reviewed query by query. An unknown name fails before the session
  * starts.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = SparkEntry.named(args.drop(1).toSeq)
    val spark = Bench.localSession()
    selected.foreach { case (name, fn) =>
      println(s"\n=================== $name ===================")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
