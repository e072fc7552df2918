package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class StreamingPPJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("streamed exact-Jaccard gate agrees with batch d20 on a full replay") {
    // Replay the sf0.001 documents table through the streaming gate in
    // doc_id order; the union of emitted (earlier, later) pairs must equal
    // the batch PPJoin's pair set EXACTLY — same inter/union stats, since
    // both verify the same 60-bit hash sets and the prefix-filter theorem
    // holds under the stream's hash order just as under batch df order.
    val docs = graft.Tables.fanout(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("text"))
    val batch = graft.ops.DedupOps.ppJoinPairs(docs, 0.5)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "precondition: corpus must contain true pairs")

    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = StreamingPPJoin.pairVerdicts(spark,
          in.toDF().toDF("doc_id", "ts", "text"))
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("ppjoin_stream").start()
      try {
        val rows = docs.as[(Long, String)].collect().sortBy(_._1)
        // two batches to exercise cross-batch claims, arrival = id order
        val (b1, b2) = rows.splitAt(rows.length / 2)
        def ts(id: Long) = new java.sql.Timestamp(1704067200000L + id * 1000)
        in.addData(b1.map { case (id, t) => (id, ts(id), t) }.toSeq)
        q.processAllAvailable()
        in.addData(b2.map { case (id, t) => (id, ts(id), t) }.toSeq)
        q.processAllAvailable()
        val streamed = StreamingPPJoin.pairs(spark.table("ppjoin_stream"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(streamed == batch,
          s"stream≠batch: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
      } finally q.stop()
    }
  }

  test("capacity-capped tokens still verify but accept no new claimers") {
    // 3 identical docs through a maxClaims=1 gate: doc 0 claims, docs 1
    // and 2 are both flagged against doc 0 (verification against stored
    // claims keeps working at capacity) — but doc 1 never became a
    // claimer, so no (1,2) pair is emitted.
    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      val text = "the quick brown fox jumps over the lazy dog near the river today"
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = StreamingPPJoin.pairVerdicts(spark,
          in.toDF().toDF("doc_id", "ts", "text"), maxClaims = 1)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("ppjoin_capped").start()
      try {
        def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
        in.addData((0L, ts(0), text), (1L, ts(1), text), (2L, ts(2), text))
        q.processAllAvailable()
        val got = StreamingPPJoin.pairs(spark.table("ppjoin_capped"))
          .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
        assert(got == Set((0L, 1L), (0L, 2L)), s"got $got")
      } finally q.stop()
    }
  }
}
