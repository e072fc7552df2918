package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, built from the Verify/Bench harness
  * profile ([[ClusterConfigs.local]]) at 4 cores. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    ClusterConfigs.local(SparkSession.builder().appName(getClass.getSimpleName), 4)
      .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}
