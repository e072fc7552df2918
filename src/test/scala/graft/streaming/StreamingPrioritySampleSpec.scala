package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The maintained reservoir must equal batch q89's sample after full
  * replay — bottom-k under the (prio, docId) total order is
  * replay-invariant — and the delta protocol must reconstruct it. */
class StreamingPrioritySampleSpec extends SparkSpecBase {
  import spark.implicits._

  test("streamed priority sample replays to batch q89's sample exactly") {
    implicit val ctx = spark.sqlContext
    // transformWithState requires the RocksDB provider
    withConf(RocksDb) {
      // sf0.01: 25 docs per stratum over k=8, so eviction genuinely fires
      // (at sf0.001 every stratum fits and the property is vacuous)
      val dir = sfDir.replace("sf0.001", "sf0.01")
      val offers = graft.Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).as("w"))
        .as[(String, Long, Long)].collect()
        .map { case (s, id, w) => StreamingPrioritySample.DocOffer(s, id, w) }
        .sortBy(_.docId)
      val in = MemoryStream[StreamingPrioritySample.DocOffer]
      val q = StreamingPrioritySample.prioritySampleTws(spark, in.toDS(), 8)
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("prio_sample").start()
      try {
        val (b1, b2) = offers.splitAt(offers.length / 2)
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
        val deltas = spark.table("prio_sample")
          .as[StreamingPrioritySample.SampleDelta].collect()
        assert(deltas.length == offers.length, "one verdict per arrival")
        assert(deltas.exists(d => d.admitted && d.evicted >= 0),
          "eviction path must fire on this corpus")
        assert(deltas.forall(d => d.size <= 8), "sample never exceeds k")
        // reconstruct: admitted minus evicted (each doc arrives once, so
        // readmission is impossible and set arithmetic is order-free)
        val streamed = deltas.groupBy(_.source).map { case (s, ds) =>
          s -> (ds.filter(_.admitted).map(_.docId).toSet --
            ds.filter(_.evicted >= 0).map(_.evicted).toSet)
        }
        val batch = graft.SparkEntry.queries("q89_priority_sample")(spark, dir)
          .select(col("source"), col("doc_id")).as[(String, Long)].collect()
          .groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).toSet }
        assert(streamed.keySet == batch.keySet)
        batch.foreach { case (s, ids) =>
          assert(streamed(s) == ids,
            s"stratum $s: stream ${streamed(s)} != batch $ids")
        }
      } finally q.stop()
    }
  }
}
