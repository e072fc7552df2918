package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning (`InjectRuntimeFilter`): when a
  * selective dimension filter feeds a shuffle join, Catalyst builds a bloom
  * filter over the dimension's join keys and pushes `might_contain` onto the
  * fact side — at 100 TB that turns "shuffle every fact row, drop most in
  * the join" into "drop most fact rows inside the scan stage". The engine
  * relies on this built-in; this spec pins that our join shapes actually
  * trigger it (thresholds here compensate for the tiny test corpus — on a
  * real cluster the defaults fire on their own). */
class RuntimeFilterSpec extends SparkSpecBase {

  test("selective dim filter injects a bloom might_contain on the fact side") {
    val confs = Seq(
      // force a shuffle join: broadcast would make the runtime filter moot
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // the application side of the test corpus is far below the 10GB
      // default that gates injection on real clusters
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    withConf(confs: _*) {
      val li = Tables.lineitem(spark, sfDir)
      val o = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val rows = joined.collect()
      assert(rows.map(_.getLong(1)).sum > 0, "join must produce rows")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"runtime bloom filter must prune the fact scan; plan:\n${plan.take(2000)}")
    }
  }
}
