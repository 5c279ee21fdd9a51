package perfbench

import org.apache.spark.sql.SparkSession

/** With no arguments, prints one per line the digest of a small frame
  * (a) as built, (b) reversed and repartitioned, (c) with one cell
  * changed and (d) with one row duplicated; perfbench/tests checks
  * a = b and that c and d differ from a.
  *
  * With a directory argument, prints `name digest` for every query
  * output `graft.Verify` wrote there, to pin the digests of outputs
  * the DuckDB oracle (tools/check.py) has passed. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    import spark.implicits._
    args.headOption match {
      case Some(dir) =>
        new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted.foreach { q =>
          println(s"$q ${Digest.of(spark.read.parquet(s"$dir/$q"))}")
        }
      case None =>
        val rows = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.25, Map("k" -> i), Seq(i, -i)))
        val cols = Seq("id", "s", "x", "m", "xs")
        val df = rows.toDF(cols: _*)
        val shuffled = rows.reverse.toDF(cols: _*).repartition(7)
        val changed = rows.updated(42, rows(42).copy(_3 = 1e9)).toDF(cols: _*)
        val duplicated = (rows :+ rows.head).toDF(cols: _*)
        Seq(df, shuffled, changed, duplicated).foreach(d => println(Digest.of(d)))
    }
    spark.stop()
  }
}
