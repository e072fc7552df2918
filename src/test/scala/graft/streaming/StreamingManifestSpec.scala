package graft.streaming

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class StreamingManifestSpec extends SparkSpecBase {
  import spark.implicits._

  test("closed streamed shards ≡ batch manifest rows; tails stay open") {
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val docs = Tables.documents(spark, sfDir)
        .select(col("lang"), col("doc_id"),
          size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("ntok"),
          md5(col("text").cast("binary")).as("h"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._2)
      // batch truth: p5's manifest formula (pack window + checksum agg)
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val batch = docs.toSeq.toDF("lang", "doc_id", "ntok", "h")
        .withColumn("prefix", coalesce(sum(col("ntok")).over(w), lit(0L)))
        .withColumn("shard",
          expr(s"prefix div ${StreamingManifest.ShardTokens}"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("nDocs"), sum(col("ntok")).as("shardTokens"),
          min(col("doc_id")).as("firstDoc"), max(col("doc_id")).as("lastDoc"),
          md5(array_join(transform(sort_array(collect_list(
              struct(col("doc_id"), col("h")))), x => x.getField("h")), "")
            .cast("binary")).as("shardMd5"))
        .as[(String, Long, Long, Long, Long, Long, String)].collect()
      val openByLang = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val expectedClosed = batch.filterNot(r => openByLang(r._1) == r._2).toSet

      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Long, String)]
      val stream = in.toDF().toDF("lang", "doc_id", "ntok", "h")
      val q = StreamingManifest.manifests(spark, stream)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("manifest_stream").start()
      try {
        // doc_id-ordered micro-batches: shards that straddle a boundary
        // must accrete across it, and close with the RIGHT checksum
        docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
          in.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val got = spark.table("manifest_stream")
          .as[(String, Long, Long, Long, Long, Long, String)].collect().toSet
        assert(got == expectedClosed,
          s"stream/batch manifest divergence: extra=${got -- expectedClosed} " +
            s"missing=${expectedClosed -- got}")
        assert(got.nonEmpty, "no shard ever closed — corpus too small?")
        // every stratum's tail shard is open, exactly one per lang
        assert(batch.length - got.size == openByLang.size,
          "each lang must hold exactly its tail shard open")
      } finally q.stop()
    }
  }

  test("end-of-feed flush closes the tails: full manifest ≡ batch incl. tail shards") {
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val docs = Tables.documents(spark, sfDir)
        .select(col("lang"), col("doc_id"),
          size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("ntok"),
          md5(col("text").cast("binary")).as("h"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
          false))
        .sortBy(_._2)
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val batch = docs.toSeq.toDF("lang", "doc_id", "ntok", "h", "flush")
        .withColumn("prefix", coalesce(sum(col("ntok")).over(w), lit(0L)))
        .withColumn("shard",
          expr(s"prefix div ${StreamingManifest.ShardTokens}"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("nDocs"), sum(col("ntok")).as("shardTokens"),
          min(col("doc_id")).as("firstDoc"), max(col("doc_id")).as("lastDoc"),
          md5(array_join(transform(sort_array(collect_list(
              struct(col("doc_id"), col("h")))), x => x.getField("h")), "")
            .cast("binary")).as("shardMd5"))
        .as[(String, Long, Long, Long, Long, Long, String)].collect().toSet

      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Long, String, Boolean)]
      val stream = in.toDF().toDF("lang", "doc_id", "ntok", "h", "flush")
      val q = StreamingManifest.manifests(spark, stream)
        .toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("manifest_flush").start()
      try {
        docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
          in.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        // end of feed: one flush sentinel per stratum, as the LAST batch
        val langs = docs.map(_._1).distinct.toSeq
        in.addData(langs.map(l => (l, Long.MaxValue, 0L, "", true)))
        q.processAllAvailable()
        val got = spark.table("manifest_flush")
          .as[(String, Long, Long, Long, Long, Long, String)].collect().toSet
        assert(got == batch,
          s"flushed stream/batch manifest divergence: extra=${got -- batch} " +
            s"missing=${batch -- got}")
        // a second flush against the now-empty state emits nothing
        in.addData(langs.map(l => (l, Long.MaxValue, 0L, "", true)))
        q.processAllAvailable()
        val again = spark.table("manifest_flush").count()
        assert(again == got.size.toLong, "flush must be idempotent on empty state")
      } finally q.stop()
    }
  }
}
