package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of the native vector kernels. Test suites share one
  * session per JVM, so `.withExtensions` (install-time) can't be exercised
  * here — `GraftExtensions.install` performs the same registrations on the
  * live session. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = ClusterConfigs.local(SparkSession.builder().appName("graft-ext-spec"), 2)
      .getOrCreate()
    GraftExtensions.install(s)
    s
  }

  test("vector kernels are callable from SQL") {
    val row = spark.sql(
      """SELECT dot_product(array(1d, 2d, 3d), array(4d, 5d, 6d)) AS d,
        |       vec_norm2(array(3d, 4d)) AS n,
        |       round(cosine_sim(array(1d, 0d), array(1d, 0d)), 6) AS c
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 32.0)
    assert(row.getDouble(1) == 25.0)
    assert(row.getDouble(2) == 1.0)
  }

  test("SQL and Column API plan the same expression") {
    import graft.functions.VectorExpressions
    val viaSql = spark.sql("SELECT cosine_sim(array(1d,2d), array(2d,1d)) AS c")
      .collect()(0).getDouble(0)
    import spark.implicits._
    val viaCol = Seq((Array(1.0, 2.0), Array(2.0, 1.0))).toDF("a", "b")
      .select(VectorExpressions.cosine_sim($"a", $"b")).collect()(0).getDouble(0)
    assert(viaSql == viaCol)
  }

  test("sketch kernels are callable from SQL and match the Column API") {
    val viaSql = spark.sql(
      """SELECT simhash_32(token_hashes(array('the', 'quick', 'fox'))) AS sh,
        |       token_hashes(array('a', 'b')) AS hs""".stripMargin).head()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaCol = Seq(Seq("the", "quick", "fox")).toDF("toks")
      .select(graft.functions.SimHashKernel.simhash_32(
        graft.functions.TokenHashKernel.token_hashes(col("toks"))).as("sh"))
      .head().getLong(0)
    assert(viaSql.getLong(0) == viaCol)
    assert(viaSql.getSeq[Long](1).length == 2)
  }

  test("quantile sketch UDAF is callable from SQL") {
    spark.range(1, 1001).createOrReplaceTempView("qs_in")
    val qs = spark.sql(
      """SELECT qsketch_quantiles(CAST(id AS DOUBLE)) AS q FROM qs_in""")
      .head().getSeq[Double](0)
    // n=1000 <= k=200*levels: near-exact nearest-rank quantiles
    assert(qs.length == 3)
    assert(math.abs(qs(0) - 500) <= 20, s"p50 ${qs(0)}")
    assert(math.abs(qs(1) - 900) <= 20, s"p90 ${qs(1)}")
    assert(math.abs(qs(2) - 990) <= 20, s"p99 ${qs(2)}")
  }
}
