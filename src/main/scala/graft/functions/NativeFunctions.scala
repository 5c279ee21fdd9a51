package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, CountMinSketchAgg}

/** The engine's SQL function catalogue: every `graft_*` name a query,
  * a stream stage or a user's SQL can call, declared once.
  *
  * [[register]] installs the whole table into one session (idempotent;
  * [[graft.SparkEntry.queries]] calls it before building any query, and
  * each entry point reachable from outside it calls it once);
  * [[graft.GraftExtensions]] injects the same table at session build
  * time. The expression classes and their codegen live beside this
  * file; only the naming lives here.
  */
object NativeFunctions {

  /** One SQL name, the expression class that backs it (the registry's
    * documentation handle) and the builder from the call's arguments. */
  private[graft] final case class Entry(
      name: String, cls: Class[_ <: Expression], build: Seq[Expression] => Expression)

  private[graft] val table: Seq[Entry] = Seq(
    Entry("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    Entry("graft_cosine", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    Entry("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      e => SortedIntersectCount(e(0), e(1))),
    Entry("graft_sorted_intersect_ge", classOf[SortedIntersectGE],
      e => SortedIntersectGE(e(0), e(1), e(2))),
    Entry("graft_simhash", classOf[SimHash64], e => SimHash64(e(0))),
    Entry("graft_simhash_doc_xx", classOf[SimHashDoc],
      e => SimHashDoc(e.head, md5Family = false)),
    Entry("graft_simhash_doc_md5", classOf[SimHashDoc],
      e => SimHashDoc(e.head, md5Family = true)),
    Entry("graft_simhash_agg", classOf[SimHashAgg], e => SimHashAgg(e(0), e(1))),
    Entry("graft_mg_agg", classOf[MisraGriesAgg], e => MisraGriesAgg(e(0), e(1))),
    // Spark's OWN Bloom-filter pair. Both ship in every Spark
    // distribution (they are what InjectRuntimeFilter plants under
    // join builds), but OSS Spark does not expose them in the function
    // registry. The membership prefilter they enable is a 100 TB
    // technique in its own right: ship a kilobyte-scale sketch of a
    // huge key set to every executor instead of shuffling the key set;
    // Bloom "no" answers are DEFINITE, so only the "maybe" residue
    // needs the exact join. No new sketch implementation — Spark's
    // (deterministic hashing, order-independent bitwise-OR merge: safe
    // at any parallelism).
    //   graft_bloom_agg(xxhash64(key), estItems, numBits) → BINARY sketch
    //   graft_might_contain(sketch, xxhash64(key)) → BOOLEAN
    Entry("graft_bloom_agg", classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    Entry("graft_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))),
    // Spark's OWN Count-Min-Sketch aggregate. It backs the public
    // `DataFrameStatFunctions.countMinSketch` but, like the Bloom pair,
    // is not in the SQL registry. It answers "how often does each of
    // THESE keys occur" without a corpus-wide groupBy: one pass folds
    // the stream into a kilobyte-scale (depth × width) counter grid
    // whose merge is element-wise addition (order-independent), and a
    // key's count read from the sketch is never an undercount and
    // overcounts by at most eps·N with probability ≥ confidence.
    //   graft_cms_agg(key, eps, confidence, seed) → BINARY sketch
    // eps/confidence/seed must be foldable literals; a fixed seed keeps
    // the sketch, and everything derived from it, deterministic. Point
    // queries are driver-side reads of the ~100 KB sketch
    // (`CountMinSketch.readFrom(bytes).estimateCount`).
    Entry("graft_cms_agg", classOf[CountMinSketchAgg],
      e => new CountMinSketchAgg(e(0), e(1), e(2), e(3)))
  )

  /** Install every table entry the session lacks as a temporary
    * function of `spark`. Idempotent, and a name already present (from
    * an earlier call or from [[graft.GraftExtensions]]) is left alone:
    * re-registering it would log a "replaced a previously registered
    * function" warning per name on every query build. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.filterNot(f => registry.functionExists(FunctionIdentifier(f.name)))
      .foreach(f => registry.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))
  }
}
