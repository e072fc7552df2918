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

  val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"

  /** The RocksDB state store, for specs whose stateful queries need it. */
  val RocksDb: (String, String) = StateStoreProvider ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the session confs `kv` set, then gives each key back
    * the value it had set before, or unsets it: the suite shares one
    * session, so a setting left behind would reach every later spec. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
