package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.NativeFunctions
import graft.operators.{Analytics, Enrich, Functions2, GraphOps, IdOps, Multimodal, Relational, Sampling, TextOps, VectorOps, Windows}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator family's named
  * queries; `oracleSql` carries the DuckDB-equivalent ANSI SQL for the
  * driver's hash-compare (column names aliased identically on both
  * sides; deterministic ORDER BY everywhere the oracle compares).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Enrich.qEnrich(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Enrich.queries, Enrich.oracle),
      (Relational.queries, Relational.oracle),
      (Windows.queries, Windows.oracle),
      (TextOps.queries, TextOps.oracle),
      (VectorOps.queries, VectorOps.oracle),
      (Multimodal.queries, Multimodal.oracle),
      (IdOps.queries, IdOps.oracle),
      (Functions2.queries, Functions2.oracle),
      (Sampling.queries, Sampling.oracle),
      (GraphOps.queries, GraphOps.oracle),
      (Analytics.queries, Analytics.oracle),
      (graft.sources.JdbcSource.queries, graft.sources.JdbcSource.oracle)
    )

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs the [[NativeFunctions]] table on its session before it
    * builds the query, so no query body registers a function itself. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _).map { case (name, build) =>
      name -> { (s: SparkSession, d: String) =>
        NativeFunctions.register(s)
        build(s, d)
      }
    }

  /** The named queries in the order given, or every query sorted by
    * name when `names` is empty. An unknown name throws, listing every
    * unknown one, so a main fails on a typo before its session starts
    * instead of writing an empty result. */
  def named(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"not registered in SparkEntry.queries: ${unknown.mkString(", ")}")
    (if (names.isEmpty) queries.keys.toSeq.sorted else names).map(n => n -> queries(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
