package graft.streaming

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

class StreamingShardPackerSpec extends SparkSpecBase {
  import spark.implicits._

  test("streamed shard assignment ≡ batch window pack, shards straddle batches") {
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val toks = Tables.documents(spark, sfDir)
        .select(col("lang"), col("doc_id"),
          size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("ntok"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._2)
      // batch truth: the p1 pack stage's window form, per doc
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val batchDf = toks.toSeq.toDF("lang", "doc_id", "ntok")
      val expected = batchDf
        .withColumn("prefix", coalesce(sum(col("ntok")).over(w), lit(0L)))
        .select(col("lang"), col("doc_id"), col("ntok"),
          expr(s"prefix div ${StreamingShardPacker.ShardTokens}").as("shard"),
          expr(s"prefix % ${StreamingShardPacker.ShardTokens}").as("offset"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Long)]
      val docs = in.toDF().toDF("lang", "doc_id", "ntok")
      val q = StreamingShardPacker.assignments(spark, docs)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("shard_stream").start()
      try {
        // three doc_id-ordered micro-batches — shards must CONTINUE across
        // the boundaries, not restart
        toks.grouped(math.max(1, toks.length / 3 + 1)).foreach { chunk =>
          in.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val got = spark.table("shard_stream")
          .select(col("lang"), col("docId"), col("ntok"), col("shard"),
            col("offset"))
          .as[(String, Long, Long, Long, Long)].collect().toSet
        assert(got == expected,
          s"stream/batch divergence: extra=${got -- expected} " +
            s"missing=${expected -- got}")
        // token conservation per shard vs the ledger's packShards
        val shardSums = spark.table("shard_stream")
          .groupBy(col("lang"), col("shard"))
          .agg(sum(col("ntok")).as("stoks"))
          .as[(String, Long, Long)].collect().toSet
        val ledger = graft.ops.CurationLedger
          .packShards(batchDf.select(col("lang"), col("doc_id"), col("ntok")))
          .as[(String, Long, Long)].collect().toSet
        assert(shardSums == ledger, "per-shard token sums must match packShards")
        // continuation proof: some batch-2+ doc landed mid-shard
        val batch1Max = toks(math.max(0, toks.length / 3)).asInstanceOf[(String, Long, Long)]._2
        assert(spark.table("shard_stream")
          .filter(col("docId") > batch1Max && col("offset") > 0).count() > 0,
          "no later-batch doc continued a shard mid-fill — state not carried?")
      } finally q.stop()
    }
  }
}
