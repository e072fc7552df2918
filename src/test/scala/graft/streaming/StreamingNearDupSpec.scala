package graft.streaming

import graft.SparkSpecBase
import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.functions._

class StreamingNearDupSpec extends SparkSpecBase {
  import spark.implicits._

  // text pair chosen so the one-word change stays within SimHash Hamming 3
  // AND shares a byte-band (verified by the precondition assert below);
  // short texts flip too many sketch bits per word for that to hold
  private val tA = "the quick brown fox jumps over the lazy dog near the river bank today " +
    "while birds sing softly and children play games beside the quiet water under warm golden sunshine"
  private val tB = tA.replace("over", "tonight") // near-dup of A (Hamming 1)
  private val tC = "completely different words about spark catalyst optimizer and shuffles here"
  private val tE = "statistical sketches for cardinality and frequency estimation at cluster scale"

  test("stream flags near-dups against earlier claimers, in and across batches") {
    // precondition: the BATCH d5 operator calls (A, B) a near-dup pair —
    // the streaming gate must agree with the batch family's notion
    val batchDocs = Seq((0L, tA), (1L, tB), (2L, tC)).toDF("doc_id", "text")
    val sketch = batchDocs.withColumn("hs",
      DedupOps.tokenHashes(TextOps.tokens(col("text"))))
    val pairs = DedupOps.simhashPairs(
        DedupOps.simhashBands(sketch, DedupOps.simhash32(col("hs"))), 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"precondition: only A~B near-dup, got $pairs")

    implicit val ctx = spark.sqlContext
    // transformWithState requires the RocksDB provider
    withConf(RocksDb) {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val docs = in.toDF().toDF("doc_id", "ts", "text")
      val q = StreamingNearDup.bandVerdicts(spark, docs, maxHamming = 3)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("near_dup_stream").start()
      def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
      def verdicts(): Map[Long, Option[Long]] =
        StreamingNearDup.docVerdicts(spark.table("near_dup_stream"))
          .select(col("doc_id"), col("dup_of"))
          .as[(Long, Option[Long])].collect().toMap
      try {
        // batch 1: A claims, B collides with A IN-batch, C is unrelated
        in.addData((0L, ts(0), tA), (1L, ts(1), tB), (2L, ts(2), tC))
        q.processAllAvailable()
        val v1 = verdicts()
        assert(v1(0L).isEmpty, "first claimer is fresh")
        assert(v1(1L).contains(0L), "B must be flagged as near-dup of A in-batch")
        assert(v1(2L).isEmpty, "unrelated doc stays fresh")
        // batch 2: an exact copy of A arrives later → flagged against the
        // CROSS-batch state; a genuinely new doc passes
        in.addData((3L, ts(10), tA), (4L, ts(11), tE))
        q.processAllAvailable()
        val v2 = verdicts()
        assert(v2(3L).contains(0L), "cross-batch copy must hit A's claims")
        assert(v2(4L).isEmpty, "new doc must pass the gate")
        // claims survive: the original claimer never self-flags
        assert(v2(0L).isEmpty && v2(1L).contains(0L))
      } finally q.stop()
    }
  }

  test("claims survive a cold restart from the checkpoint") {
    // the production property of an ingest gate: a restart must NOT
    // grant dedup amnesty — a copy arriving after the restart still hits
    // the pre-restart claim, replayed from the state checkpoint
    val srcDir = java.nio.file.Files.createTempDirectory("ndup-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ndup-ckpt").toString
    withConf(RocksDb) {
      val verdicts = scala.collection.mutable.Map[Long, Option[Long]]()
      def writeBatch(rows: Seq[(Long, java.sql.Timestamp, String)]): Unit =
        rows.toDF("doc_id", "ts", "text").coalesce(1)
          .write.mode("append").parquet(srcDir)
      def startQuery() = {
        val docs = spark.readStream
          .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(srcDir)
        StreamingNearDup.bandVerdicts(spark, docs, maxHamming = 3)
          .toDF().writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            StreamingNearDup.docVerdicts(batch.toDF())
              .collect().foreach(r => verdicts.synchronized {
                verdicts(r.getLong(0)) =
                  if (r.isNullAt(1)) None else Some(r.getLong(1))
              })
            ()
          }.start()
      }
      def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
      writeBatch(Seq((0L, ts(0), tA), (2L, ts(1), tC)))
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      assert(verdicts(0L).isEmpty && verdicts(2L).isEmpty)
      // arrives while the gate is DOWN; the restarted query must flag it
      writeBatch(Seq((5L, ts(20), tA), (6L, ts(21), tE)))
      val q2 = startQuery()
      q2.processAllAvailable()
      try {
        assert(verdicts(5L).contains(0L),
          s"post-restart copy must hit the checkpointed claim: $verdicts")
        assert(verdicts(6L).isEmpty, "fresh doc still passes after restart")
      } finally q2.stop()
    }
  }

  test("intra-batch contention resolves by (ts, docId): earliest wins") {
    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val docs = in.toDF().toDF("doc_id", "ts", "text")
      val q = StreamingNearDup.bandVerdicts(spark, docs, maxHamming = 3)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("near_dup_race").start()
      try {
        // same text, same batch, later timestamp on the higher id: doc 10
        // must claim, doc 11 must flag — regardless of source row order
        in.addData(
          (11L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), tA),
          (10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), tA))
        q.processAllAvailable()
        val v = StreamingNearDup.docVerdicts(spark.table("near_dup_race"))
          .select(col("doc_id"), col("dup_of"))
          .as[(Long, Option[Long])].collect().toMap
        assert(v(10L).isEmpty && v(11L).contains(10L),
          s"earliest timestamp must win the bucket: $v")
      } finally q.stop()
    }
  }
}
