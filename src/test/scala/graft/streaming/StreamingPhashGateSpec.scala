package graft.streaming

import graft.SparkSpecBase
import graft.ops.{DedupOps, MultimodalOps}
import org.apache.spark.sql.functions._

class StreamingPhashGateSpec extends SparkSpecBase {
  import spark.implicits._

  // 64-byte payloads → tile width 2: B differs from A in the LAST tile
  // only (≤1 fingerprint bit), C/E are unrelated content.
  private val pA = "the quick brown fox jumps over the lazy dog by the riverbank at 0" // 66 chars
  private val pB = pA.dropRight(2) + "9!"
  private val pC = "catalyst optimizer plans exchanges and sorts for shuffles at scale"
  private val pE = "statistical sketches estimate cardinality and frequency in streams"

  private def phashOf(rows: Seq[(Long, String)]) =
    rows.toDF("media_id", "text")
      .select(col("media_id"), col("text").cast("binary").as("payload"))
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .withColumn("tw", greatest(expr("byte_len div 32"), lit(1L)))
      .withColumn("phash", MultimodalOps.phash32)
      .select(col("media_id").as("doc_id"), col("phash"))

  test("stream rejects image near-dups against earlier claimers, in and across batches") {
    // precondition: the BATCH m10 kernel calls (A, B) a near-dup pair and
    // nothing else — the streaming gate must agree with the batch notion
    val pairs = DedupOps.simhashPairs(
        DedupOps.simhashBands(
          phashOf(Seq((0L, pA), (1L, pB), (2L, pC))), col("phash")), 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"precondition: only A~B near-dup, got $pairs")

    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val media = in.toDF().toDF("media_id", "ts", "text")
        .select(col("media_id"), col("ts"), col("text").cast("binary").as("payload"))
      val q = StreamingPhashGate.bandVerdicts(spark, media, maxHamming = 3)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("phash_gate_stream").start()
      def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
      def verdicts(): Map[Long, Option[Long]] =
        StreamingPhashGate.mediaVerdicts(spark.table("phash_gate_stream"))
          .select(col("media_id"), col("dup_of"))
          .as[(Long, Option[Long])].collect().toMap
      try {
        // batch 1: A claims, the edited re-encode B is rejected IN-batch,
        // unrelated C is admitted
        in.addData((0L, ts(0), pA), (1L, ts(1), pB), (2L, ts(2), pC))
        q.processAllAvailable()
        val v1 = verdicts()
        assert(v1(0L).isEmpty, "first claimer is admitted")
        assert(v1(1L).contains(0L), "edited payload must be rejected against A in-batch")
        assert(v1(2L).isEmpty, "unrelated payload is admitted")
        // batch 2: an exact byte copy of A arrives later → rejected against
        // CROSS-batch state; genuinely new media is admitted
        in.addData((3L, ts(10), pA), (4L, ts(11), pE))
        q.processAllAvailable()
        val v2 = verdicts()
        assert(v2(3L).contains(0L), "cross-batch copy must hit A's claims")
        assert(v2(4L).isEmpty, "new media must pass the gate")
      } finally q.stop()
    }
  }

  test("corpus replay: every streamed rejection is a genuine batch m10 pair") {
    // soundness over the real corpus (the gate is deliberately
    // conservative — it may admit a pair batch m10 finds when the shared
    // bucket was claimed by a third non-matching payload — but it must
    // never reject on a pair the batch kernel wouldn't verify)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val media = in.toDF().toDF("media_id", "ts", "text")
        .select(col("media_id"), col("ts"), col("text").cast("binary").as("payload"))
      val q = StreamingPhashGate.bandVerdicts(spark, media, maxHamming = 3)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("phash_gate_corpus").start()
      try {
        docs.grouped(200).foreach { g =>
          in.addData(g.map { case (id, t) =>
            (id, new java.sql.Timestamp(1700000000000L + id), t) })
          q.processAllAvailable()
        }
        val flagged = StreamingPhashGate.mediaVerdicts(spark.table("phash_gate_corpus"))
          .filter(col("rejected"))
          .select(col("media_id"), col("dup_of"))
          .as[(Long, Long)].collect()
        val ph = phashOf(docs.toSeq).as[(Long, Long)].collect().toMap
        flagged.foreach { case (id, dup) =>
          assert(dup < id, s"claimer must precede: $dup !< $id")
          val ham = java.lang.Long.bitCount(ph(id) ^ ph(dup))
          assert(ham <= 3, s"streamed rejection ($id vs $dup) at hamming $ham > 3")
        }
      } finally q.stop()
    }
  }
}
