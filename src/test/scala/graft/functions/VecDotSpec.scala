package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** vec_dot semantics, both eval paths: must match the declarative
  * `aggregate(zip_with(...))` form it documents, including the
  * null-on-ragged-lengths behavior (zip_with null-pads, so a ragged
  * zip yields a null product). */
class VecDotSpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark
    GraftFunctions.register(s); s }

  private def dot(sql: String): Any = {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0),
      Array(1.0, 2.0))).toDF("a", "b", "short")
    df.selectExpr(sql).collect()(0).get(0)
  }

  test("float x double dot product") {
    assert(dot("vec_dot(a, b)") == 1.0 * 4 + 2 * 5 + 3 * 6)
  }

  test("ragged lengths yield null, matching zip_with null-padding") {
    assert(dot("vec_dot(b, short)") == null)
    assert(dot(
      "aggregate(zip_with(b, short, (x, y) -> x * y), 0d, (acc, x) -> acc + x)")
      == null)
  }

  test("null element yields null") {
    import spark.implicits._
    val r = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b").selectExpr("vec_dot(a, b)").collect()(0)
    assert(r.isNullAt(0))
  }

  test("spark.sql.extensions session build resolves the functions") {
    import org.apache.spark.sql.SparkSession
    // a NEW SparkSession over the existing context picks up extensions;
    // clear the active/default slots so the builder actually builds one
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // (the string form of spark.sql.extensions is a static conf Spark
      // reads from the SparkContext, which pre-exists in tests;
      // withExtensions exercises the same injection path)
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne prev, "builder must create a fresh session")
      // no register() call — resolution must come from the injection
      import s2.implicits._
      val v = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
        .selectExpr("vec_dot(a, b)", "sorted_intersect_count(array(1L), array(1L))")
        .collect()(0)
      assert(v.getDouble(0) == 11.0 && v.getLong(1) == 1L)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("register claims the name even over a foreign temp function") {
    // a user session that happened to define its own vec_dot must get
    // graft's on the FIRST register (skip-if-exists would silently keep
    // the foreign one → wrong results); later registers are no-ops (no
    // replace-warning spam)
    val s2 = spark.newSession()
    s2.udf.register("vec_dot",
      (_: Seq[Double], _: Seq[Double]) => -999.0)
    import s2.implicits._
    def run(): Double =
      Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
        .selectExpr("vec_dot(a, b)").collect()(0).getDouble(0)
    assert(run() == -999.0, "foreign registration should win pre-register")
    GraftFunctions.register(s2)
    assert(run() == 11.0, "register must claim the name from the foreign fn")
  }

  test("vec_l2sq matches the aggregate(zip_with) squared-distance fold") {
    // the e10/e11 kernel contract: bit-identical to the declarative
    // left-to-right fold it replaced, including null/ragged semantics
    import spark.implicits._
    val df = Seq((Array(1.5, -2.0, 3.25), Array(0.5, 4.0, -1.75),
      Array(1.0, 2.0))).toDF("a", "b", "short")
    val r = df.selectExpr(
      "vec_l2sq(a, b)",
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d, (acc, v) -> acc + v)",
      "vec_l2sq(b, short)").collect()(0)
    assert(r.getDouble(0) == r.getDouble(1),
      s"kernel ${r.getDouble(0)} != declarative ${r.getDouble(1)}")
    assert(r.isNullAt(2), "ragged lengths must yield null")
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def alit(xs: Double*) = Literal.create(ArrayData.toArrayData(xs.toArray),
      ArrayType(DoubleType, containsNull = false))
    assert(VecL2sq(alit(1, 2), alit(4, 6)).eval(null) == 25.0)
    assert(VecL2sq(alit(1, 2), alit(4, 6, 8)).eval(null) == null)
  }

  test("interpreted path matches codegen") {
    // A filter on a literal-true branch keeps codegen; eval() direct call
    // covers the interpreted path.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def lit(xs: Double*) = Literal.create(ArrayData.toArrayData(xs.toArray),
      ArrayType(DoubleType, containsNull = false))
    assert(VecDot(lit(1, 2), lit(3, 4)).eval(null) == 11.0)
    assert(VecDot(lit(1, 2), lit(3, 4, 5)).eval(null) == null)
  }
}
