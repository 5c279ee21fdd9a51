package graft

/** Local stand-in for the driver's t1 smoke: run SparkEntry.entry on
  * sf0.001 and print the row count (driver requires rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Bench.localSession()
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
