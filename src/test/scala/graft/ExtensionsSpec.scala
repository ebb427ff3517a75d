package graft

import org.scalatest.funsuite.AnyFunSuite

/** array_dot registered through SparkSessionExtensions (GraftExtensions)
  * is a first-class SQL function with codegen, and the shared session from
  * `Sessions.local` carries the settings every caller relies on.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Sessions.local: UTC session time zone, AQE on, GraftExtensions injected") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[8]")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("array_dot")))
  }

  test("array_dot is SQL-callable via GraftExtensions") {
    val r = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
  }

  // The rewrite tests run over `range`-derived columns: a local Seq would
  // collapse to LocalRelation (fully evaluated) in the optimizer, and
  // literal arrays would constant-fold, leaving nothing to rewrite.
  test("optimizer rewrites the HOF dot-product idiom to array_dot") {
    import org.apache.spark.sql.functions.expr
    val df = spark.range(3)
      .select(expr("array(CAST(id AS DOUBLE), 2.0d)").as("a"),
        expr("array(3.0d, CAST(id AS DOUBLE))").as("b"))
      .select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)").as("d"))
    assert(df.queryExecution.optimizedPlan.toString.contains("array_dot"))
    // id·3 + 2·id → 0, 5, 10
    assert(df.orderBy("d").collect().map(_.getDouble(0)).toSeq == Seq(0.0, 5.0, 10.0))
  }

  test("HOF rewrite declines when elements are nullable (NULL semantics differ)") {
    import org.apache.spark.sql.functions.expr
    val df = spark.range(3)
      .select(expr("array(IF(id > 100, NULL, CAST(id AS DOUBLE)))").as("a"),
        expr("array(CAST(id AS DOUBLE))").as("b"))
      .select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)").as("d"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("array_dot"))
    assert(df.orderBy("d").collect().map(_.getDouble(0)).toSeq == Seq(0.0, 1.0, 4.0))
  }

  test("array_dot null array -> null; wrong type -> analysis error") {
    val n = spark.sql(
      "SELECT array_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d").head()
    assert(n.isNullAt(0))
    val e = intercept[Exception] {
      spark.sql("SELECT array_dot(array('a'), array('b'))").head()
    }
    assert(e.getMessage.toLowerCase.contains("array_dot"))
  }
}
