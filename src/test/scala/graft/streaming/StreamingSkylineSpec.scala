package graft.streaming

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

class StreamingSkylineSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming frontier equals the batch skyline after full replay") {
    // Replay sf0.001 lineitem offers through the incremental frontier in
    // three batches (arrival order = l_orderkey), then assert the FINAL
    // frontier — the kept offers never later pruned — equals the batch
    // q82 skyline as a (price, qty) multiset, duplicates included. Also
    // checks the arrival-order contract: every batch-skyline point must
    // be kept at arrival (a true skyline point is never dominated).
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val offers = Tables.lineitem(spark, sfDir)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("offerId"),
          col("l_extendedprice").as("price"), col("l_quantity").as("qty"))
        .as[(Long, Double, Double)].collect().sortBy(_._1)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamingSkyline.Offer]
      val q = StreamingSkyline.skylineTws(spark, in.toDS())
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("sky_stream").start()
      try {
        offers.grouped(math.max(1, offers.length / 3 + 1)).foreach { chunk =>
          in.addData(chunk.map { case (id, p, qv) =>
            StreamingSkyline.Offer(0, id, 1700000000000L + id, p, qv)
          }.toSeq)
          q.processAllAvailable()
        }
        val verdicts = spark.table("sky_stream")
          .select(col("offerId"), col("kept"))
          .as[(Long, Boolean)].collect().toMap
        val byId = offers.map(o => o._1 -> ((o._2, o._3))).toMap
        // final frontier = kept points not dominated by ANY seen point
        def dom(a: (Double, Double), b: (Double, Double)): Boolean =
          a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)
        val finalFrontier = verdicts.filter(_._2).keys.map(byId)
          .filter(p => !offers.exists(o => dom((o._2, o._3), p)))
          .toSeq.groupBy(identity).view.mapValues(_.size).toMap
        val batch = graft.queries.RelationalQueries.paretoSkyline(
            Tables.lineitem(spark, sfDir)
              .select(col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice").as("price"), col("l_quantity").as("qty")))
          .select(col("price"), col("qty"))
          .as[(Double, Double)].collect()
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(finalFrontier == batch,
          s"frontier != batch skyline: extra=${finalFrontier.keySet -- batch.keySet} " +
            s"missing=${batch.keySet -- finalFrontier.keySet}")
        // every true-skyline offer was kept at arrival
        val batchIds = graft.queries.RelationalQueries.paretoSkyline(
            Tables.lineitem(spark, sfDir)
              .select(col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice").as("price"), col("l_quantity").as("qty")))
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("offerId"))
          .as[Long].collect()
        batchIds.foreach { id =>
          assert(verdicts(id), s"skyline offer $id was wrongly rejected at arrival")
        }
      } finally q.stop()
    }
  }
}
