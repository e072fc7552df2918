package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `perfbench.Record <outDir>`: run every `batch_mix` query over the
  * benchmark's corpus, twice, and print one `{"query": …, "digest": …}` line
  * per query. Writes each result as parquet under `outDir/<query>/`, the
  * corpus under `data/` and the queries' oracle SQL as
  * `outDir/oracle_sql.json`, the layout `tools/check_oracle.py` compares. */
object Record {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val spark = graft.ClusterConfigs.local(SparkSession.builder(),
      Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, 0L, 0.0, new Spans(false), None, System.nanoTime())
    Gen.writeTables(spark, BatchMix.DataDir, BatchMix.Sf, BatchMix.DataSeed)
    val sql = BatchMix.Queries.map { n =>
      val d = Seq(BatchMix.runQuery(ctx, n), BatchMix.runQuery(ctx, n)).map(_.digest).distinct
      val digest = if (d.size == 1 && d.head != null) d.head else "unstable"
      graft.SparkEntry.queries(n)(spark, BatchMix.DataDir).coalesce(1).write.parquet(s"$outDir/$n")
      println(s"""{"query":${Main.q(n)},"digest":${Main.q(digest)}}""")
      Main.q(n) + ": " + Main.q(graft.SparkEntry.oracleSql(n))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql.mkString("{", ",\n", "}"))
    spark.stop()
  }
}
