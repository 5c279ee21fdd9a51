package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions installs the whole native-function table into a
  * fresh session via the spark.sql.extensions mechanism, and the
  * native expressions compute the exact sequential left fold.
  */
class ExtensionsSpec extends AnyFunSuite {

  /** Run `body` in a session built with [[GraftExtensions]]. The shared
    * test session (if any) steps aside so the builder actually
    * constructs a session with the extension applied. */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try body(s)
    finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("GraftExtensions installs every function of the NativeFunctions table") {
    withExtensionSession { s =>
      val missing = graft.functions.NativeFunctions.table.map(_.name)
        .filterNot(s.catalog.functionExists)
      assert(missing.isEmpty, s"not installed by GraftExtensions: ${missing.mkString(", ")}")
    }
  }

  test("graft_dot is available via SparkSessionExtensions in SQL") {
    withExtensionSession { s =>
      val v = s.sql("SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
        .collect()(0).getDouble(0)
      assert(v == 32.0)
      val n = s.sql("SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) AS d")
        .collect()(0)
      assert(n.isNullAt(0), s"expected null, got row: $n schema=${n.schema}")
      // fused cosine must be BIT-identical to the composed form for
      // arbitrary vectors (same per-accumulator fold order, same final
      // IEEE expression) — this is what keeps it oracle-safe
      val rows = s.sql(
        """SELECT graft_cosine(a, b) AS fused,
          |       graft_dot(a, b) / (sqrt(graft_dot(a, a)) * sqrt(graft_dot(b, b))) AS composed
          |FROM VALUES
          |  (array(0.1D, -2.7D, 3.3D, 0.0D), array(9.13D, 0.002D, -4.4D, 1.0D)),
          |  (array(1.0D, 1.0D), array(1.0D, 1.0D)),
          |  (array(1e-8D, 1e8D), array(1e8D, 1e-8D)) AS t(a, b)""".stripMargin)
        .collect()
      rows.foreach { r =>
        val (f, c) = (r.getDouble(0), r.getDouble(1))
        assert(java.lang.Double.doubleToRawLongBits(f)
          == java.lang.Double.doubleToRawLongBits(c) || (f.isNaN && c.isNaN),
          s"fused $f != composed $c")
      }
      val cn = s.sql("SELECT graft_cosine(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) AS d")
        .collect()(0)
      assert(cn.isNullAt(0), s"expected null cosine, got $cn")
      // zero-norm input: fused form is raw IEEE (0/0 = NaN), while the
      // composed form under ANSI throws DIVIDE_BY_ZERO — pin the fused
      // choice (a zero embedding is data corruption, not a query error)
      val z = s.sql("SELECT graft_cosine(array(0.0D, 0.0D), array(1.0D, 2.0D)) AS d")
        .collect()(0).getDouble(0)
      assert(z.isNaN, s"expected NaN for zero-norm vector, got $z")
      // FuseCosine optimizer rule: the composed form a user writes is
      // rewritten to the fused expression — visible in the optimized
      // plan — and produces the identical value
      val composed = s.sql(
        // arrays derive from the range column so ConstantFolding can't
        // collapse the pattern before the rule sees it
        """SELECT graft_dot(a, b)
          |         / (sqrt(graft_dot(a, a)) * sqrt(graft_dot(b, b))) AS c
          |FROM (SELECT array(CAST(id AS DOUBLE) + 1.0D, 2.0D, 3.0D) AS a,
          |             array(CAST(id AS DOUBLE) + 4.0D, 5.0D, 6.0D) AS b
          |      FROM range(1))""".stripMargin)
      val opt = composed.queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_cosine"), s"FuseCosine did not fire:\n$opt")
      assert(!opt.contains("graft_dot"), s"composed form survived fusion:\n$opt")
      val cv = composed.collect()(0).getDouble(0)
      val direct = s.sql(
        """SELECT graft_cosine(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS c""")
        .collect()(0).getDouble(0)
      assert(java.lang.Double.doubleToRawLongBits(cv)
        == java.lang.Double.doubleToRawLongBits(direct))
    }
  }
}
