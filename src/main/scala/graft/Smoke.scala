package graft

import org.apache.spark.sql.SparkSession

/** Smoke main mirroring the driver's t1 check: `SparkEntry.entry` on
  * sf0.001 must return >0 rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = ClusterConfigs.local(SparkSession.builder().appName("graft-smoke"), 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(3, truncate = false)
    assert(n > 0, "entry must return >0 rows")
    spark.stop()
  }
}
