package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of the native kernels and aggregators. Test suites
  * share one session per JVM; it registers through
  * `GraftExtensions.install`, and the last test builds a second session on
  * the same context through the extension path (`GraftExtensions.apply`,
  * what `spark.sql.extensions` runs in the `cluster` profile). */
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

  test("a session built through the extension path resolves every engine function") {
    val names = Seq("dot_product", "vec_norm2", "cosine_sim", "token_hashes",
      "simhash_32", "qsketch_quantiles", "qsketch_quantiles_at", "freq_items")
    assert(GraftExtensions.functions.map(_._1).sorted == names.sorted)
    val scalars =
      """SELECT dot_product(array(1d, 2d), array(3d, 4d)) AS d,
        |       vec_norm2(array(3d, 4d)) AS n,
        |       cosine_sim(array(1d, 0d), array(1d, 1d)) AS c,
        |       simhash_32(token_hashes(array('the', 'quick', 'fox'))) AS sh""".stripMargin
    val aggregates =
      """SELECT qsketch_quantiles(CAST(id AS DOUBLE)) AS q,
        |       qsketch_quantiles_at(CAST(id AS DOUBLE), array(0.25D, 0.75D)) AS qa,
        |       freq_items(CAST(id % 7 AS STRING)) AS f
        |FROM range(1, 501)""".stripMargin
    // create() makes the new session the default and active one; give the
    // suite's shared session those roles back before anything else runs
    val (priorDefault, priorActive) = (spark, SparkSession.getActiveSession)
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).create()
    finally {
      SparkSession.setDefaultSession(priorDefault)
      priorActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    names.foreach(n => assert(ext.catalog.functionExists(n), s"$n does not resolve"))
    // the same answers as the install path on the shared session
    Seq(scalars, aggregates).foreach { q =>
      assert(ext.sql(q).collect().toSeq == spark.sql(q).collect().toSeq, q)
    }
  }
}
