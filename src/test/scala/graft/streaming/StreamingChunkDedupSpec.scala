package graft.streaming

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

class StreamingChunkDedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming chunk gate matches batch d24 up to the first-instance rule") {
    // Replay the real sf0.001 corpus through the gate in two batches
    // (doc_id order), then reconcile against the batch d24 pass:
    //   per doc:      stream_dups ≤ batch_dups          (no retro-flagging)
    //   corpus-wide:  Σ stream = Σ batch − |distinct duplicated contents|
    // The second identity is exact: a content with n instances counts n
    // in d24 (all instances of a ≥2 content) and n−1 in the stream (the
    // claimer shipped before anyone knew it would repeat).
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val corpus = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val docs = in.toDF().toDF("doc_id", "ts", "text")
      val q = StreamingChunkDedup.chunkVerdicts(spark, docs)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("chunk_stream").start()
      def ts(id: Long) = new java.sql.Timestamp(1700000000000L + id * 1000)
      try {
        val (half1, half2) = corpus.splitAt(corpus.length / 2)
        in.addData(half1.map { case (id, t) => (id, ts(id), t) }.toSeq)
        q.processAllAvailable()
        in.addData(half2.map { case (id, t) => (id, ts(id), t) }.toSeq)
        q.processAllAvailable()
        val stream = StreamingChunkDedup.docChunkStats(spark.table("chunk_stream"))
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"))
          .as[(Long, Long, Long)].collect()
          .map { case (id, n, d) => id -> ((n, d)) }.toMap
        val batch = graft.SparkEntry.queries("d24_chunk_dedup")(spark, sfDir)
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"))
          .as[(Long, Long, Long)].collect()
          .map { case (id, n, d) => id -> ((n, d)) }.toMap
        assert(stream.keySet == batch.keySet, "same docs chunked on both paths")
        stream.foreach { case (id, (n, d)) =>
          assert(n == batch(id)._1, s"doc $id chunk count must match batch")
          assert(d <= batch(id)._2, s"doc $id: stream dups must not exceed batch")
        }
        // distinct duplicated contents, recomputed independently
        val nDupContents = Tables.documents(spark, sfDir)
          .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
          .filter(size(col("toks")) > 0)
          .withColumn("cs", explode(sequence(lit(0), size(col("toks")) - 1,
            lit(StreamingChunkDedup.ChunkTok))))
          .select(graft.ops.TextOps.hash60(array_join(
            slice(col("toks"), col("cs") + 1,
              lit(StreamingChunkDedup.ChunkTok)), " ")).as("ch"))
          .groupBy("ch").count().filter(col("count") >= 2).count()
        val sumStream = stream.values.map(_._2).sum
        val sumBatch = batch.values.map(_._2).sum
        assert(sumStream == sumBatch - nDupContents,
          s"Σstream=$sumStream must equal Σbatch=$sumBatch − dupContents=$nDupContents")
        // a verbatim replay is 100% duplicate on second arrival
        val replay = corpus.take(3)
        in.addData(replay.map { case (id, t) => (id + 100000L, ts(id + 100000L), t) }.toSeq)
        q.processAllAvailable()
        val after = StreamingChunkDedup.docChunkStats(spark.table("chunk_stream"))
          .filter(col("doc_id") >= 100000L)
          .select(col("n_chunks"), col("n_dup_chunks"))
          .as[(Long, Long)].collect()
        assert(after.length == 3 && after.forall { case (n, d) => n == d },
          "replayed docs must be fully duplicate")
      } finally q.stop()
    }
  }

  test("chunk claims are auditable offline through the statestore source") {
    // operational visibility: an on-call engineer can enumerate WHICH doc
    // owns any chunk content without stopping the ingest stream — the
    // claim table (chunk hash → claimer id) read straight from the
    // checkpoint, and its row count equals the distinct chunk contents
    // that flowed through
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("chunk-ckpt").toString
      val docs = in.toDF().toDF("doc_id", "ts", "text")
      val q = StreamingChunkDedup.chunkVerdicts(spark, docs)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("chunk_audit")
        .option("checkpointLocation", ckpt).start()
      val sample = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1).take(20)
      try {
        in.addData(sample.map { case (id, t) =>
          (id, new java.sql.Timestamp(1700000000000L + id), t) }.toSeq)
        q.processAllAvailable()
      } finally q.stop()
      val claims = spark.read.format("statestore")
        .option("stateVarName", "owner").load(ckpt)
        .select(col("key.*"), col("value.*"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = Tables.documents(spark, sfDir)
        .filter(col("doc_id") < sample.map(_._1).max + 1)
        .filter(col("doc_id").isin(sample.map(_._1): _*))
        .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
        .filter(size(col("toks")) > 0)
        .withColumn("cs", explode(sequence(lit(0), size(col("toks")) - 1,
          lit(StreamingChunkDedup.ChunkTok))))
        .select(graft.ops.TextOps.hash60(array_join(
          slice(col("toks"), col("cs") + 1,
            lit(StreamingChunkDedup.ChunkTok)), " ")).as("ch"))
        .distinct().as[Long].collect().toSet
      assert(claims.keySet == expected,
        s"claim table must hold exactly the distinct chunk contents " +
          s"(${claims.size} vs ${expected.size})")
      // every claimer must be a doc that actually contains the chunk — spot
      // check: claimer ids all come from the replayed sample
      val ids = sample.map(_._1).toSet
      assert(claims.values.forall(ids.contains),
        "claimers must be replayed docs")
    }
  }
}
