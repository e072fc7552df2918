package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quantifies the bucketed-layout claim of SURVEY §2.10: the q2-shaped
  * fact-fact join (lineitem ⋈ orders on orderkey) over plain parquet pays a
  * shuffle on each side; over tables bucketed+sorted by the join key it
  * plans with ZERO pre-join exchanges (bucket-local sort-merge join).
  *
  * `runMain graft.BucketedBench [sfDir]` — writes bucketed copies into the
  * warehouse once, times both variants (best of 2), prints one JSON line
  * with timings and the pre-aggregation exchange counts. Broadcast joins
  * are disabled so the comparison isolates the shuffle, mirroring the
  * 100 TB regime where neither fact side fits in a broadcast. */
object BucketedBench {

  private def joinAgg(l: DataFrame, o: DataFrame): DataFrame =
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)")
        .as("revenue"), count(lit(1)).as("n_items"))

  private def time2(df: => DataFrame): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Non-broadcast exchanges in the final adaptive plan — ABSOLUTE counts.
    * Plain = 4: the `Tables.fanout` round-robin repartition (single-row-
    * group test parquet would otherwise scan on one core), 2 pre-join hash
    * exchanges, and the post-join aggregation exchange both variants
    * share. Bucketed = 1: the aggregation exchange only — the join itself
    * is bucket-local.
    * `collect()` runs THIS DataFrame's own QueryExecution, so the inspected
    * AQE plan is the finalized one (a separate `.write` would execute a
    * different QueryExecution and leave this instance's plan un-finalized). */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    // AdaptiveSparkPlanExec.toString appends the "== Initial Plan ==" tree,
    // which would double-count every exchange — keep the final plan only
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    "(?<!Broadcast)Exchange ".r.findAllIn(finalPlan).length
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = ClusterConfigs.localCores
    val spark = ClusterConfigs.local(
        SparkSession.builder().appName("graft-bucketed-bench"), cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (!spark.catalog.tableExists("lineitem_bucketed")) {
      // the in-memory catalog is fresh every JVM, but a previous run's
      // warehouse directory persists and blocks CREATE TABLE — clear it
      import scala.jdk.CollectionConverters._
      Seq("lineitem_bucketed", "orders_bucketed").foreach { t =>
        val p = java.nio.file.Paths.get("spark-warehouse", t)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
      Tables.lineitem(spark, sfDir).write
        .bucketBy(cpus, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_bucketed")
      Tables.orders(spark, sfDir).write
        .bucketBy(cpus, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bucketed")
    }
    def plain = joinAgg(
      Tables.fanout(Tables.lineitem(spark, sfDir)), Tables.orders(spark, sfDir))
    def bucketed = joinAgg(
      spark.table("lineitem_bucketed"), spark.table("orders_bucketed"))

    // warmup (codegen/classloading), then measure
    bucketed.limit(1).write.format("noop").mode("overwrite").save()
    val tPlain = time2(plain)
    val tBucketed = time2(bucketed)
    val exPlain = exchanges(plain)
    val exBucketed = exchanges(bucketed)
    println(f"""{"metric":"bucketed_join","plain_sec":$tPlain%.3f,"bucketed_sec":$tBucketed%.3f,"speedup":${tPlain / tBucketed}%.2f,"plain_exchanges":$exPlain,"bucketed_exchanges":$exBucketed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
