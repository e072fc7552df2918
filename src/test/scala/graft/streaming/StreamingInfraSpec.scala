package graft.streaming

import graft.SparkSpecBase
import graft.stedi.Transforms
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files

/** Streaming infrastructure the 100 TB deployment relies on: the RocksDB
  * state store (off-heap state for billions of keys), checkpoint-based
  * exactly-once recovery over a file source, and the foreachBatch sink
  * escape hatch. */
class StreamingInfraSpec extends SparkSpecBase {
  import spark.implicits._

  test("stateful aggregation runs on the RocksDB state store provider") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val agg = in.toDF().toDF("k", "v").groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    val ckpt = Files.createTempDirectory("rocksdb-ckpt").toString
    // provider is read from the session conf at query start
    withConf(RocksDb) {
      val q = agg.writeStream.outputMode(OutputMode.Complete)
        .format("memory").queryName("rocks_agg")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        in.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
        q.processAllAvailable()
        in.addData(("a", 3.0))
        q.processAllAvailable()
        assert(spark.table("rocks_agg").count() == 2)
        val a = spark.table("rocks_agg").filter($"k" === "a")
          .as[(String, Long, Double)].collect()(0)
        assert(a._2 == 3L && math.abs(a._3 - 6.0) < 1e-9)
      } finally q.stop()
    }
  }

  test("RocksDB changelog checkpointing: state survives restart, metrics surface") {
    // Changelog checkpointing uploads per-batch deltas instead of full
    // RocksDB snapshots — at billions of state keys that's the difference
    // between O(changed keys) and O(store) per commit. Verified here:
    // (a) state rebuilt from changelog replay after a cold restart,
    // (b) .changelog files actually present in the checkpoint,
    // (c) stateOperators progress exposes RocksDB custom metrics.
    val srcDir = Files.createTempDirectory("chlog-src").toString
    val ckpt = Files.createTempDirectory("chlog-ckpt").toString
    val seen = scala.collection.mutable.Map[String, (Long, Double)]()
    withConf(RocksDb,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") {
      def writeBatch(rows: Seq[(String, Double)]): Unit =
        rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(srcDir)
      def startQuery() = spark.readStream
        .schema("k STRING, v DOUBLE").parquet(srcDir)
        .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r => seen(r.getString(0)) = (r.getLong(1), r.getDouble(2)))
          ()
        }.start()

      writeBatch(Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)))
      val q1 = startQuery()
      q1.processAllAvailable()
      val prog = q1.recentProgress.filter(_.stateOperators.nonEmpty).last
        .stateOperators(0)
      assert(prog.numRowsTotal == 2, s"state keys a,b: ${prog.numRowsTotal}")
      val rocksMetrics = prog.customMetrics.keySet()
      assert(rocksMetrics.toString.contains("rocksdb"),
        s"RocksDB provider must expose its metrics, got $rocksMetrics")
      q1.stop()

      // data lands while the query is DOWN; restart replays the changelog
      writeBatch(Seq(("a", 3.0), ("c", 7.0)))
      val q2 = startQuery()
      q2.processAllAvailable()
      try {
        assert(seen("a") == ((3L, 6.0)),
          s"count for 'a' must include pre-restart state: ${seen("a")}")
        assert(seen("c") == ((1L, 7.0)), seen.toString)
      } finally q2.stop()

      val changelogs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(_.toString.endsWith(".changelog")).count()
      assert(changelogs > 0, "changelog checkpointing must write .changelog deltas")
    }
  }

  test("file-source streaming recovers exactly-once from its checkpoint") {
    val srcDir = Files.createTempDirectory("stream-src").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    val outDir = Files.createTempDirectory("stream-out").toString + "/data"

    def writeBatch(ids: Range): Unit =
      ids.map(_.toLong).toDF("id").coalesce(1)
        .write.mode("append").parquet(srcDir)

    // file sink + checkpoint = exactly-once across restarts (the memory
    // sink intentionally refuses checkpoint recovery)
    def startQuery() = spark.readStream
      .schema("id LONG")
      .parquet(srcDir)
      .withColumn("doubled", col("id") * 2)
      .writeStream.outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()

    writeBatch(0 until 10)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() == 10)

    // more data lands while the query is DOWN
    writeBatch(10 until 25)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 25,
      s"restart must resume from the checkpoint: exactly 25 rows total")
    assert(out.select(sum(col("id"))).collect()(0).getLong(0) == (0 until 25).sum,
      "no duplicates, no losses")
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark on content hash") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = in.toDF().toDF("ts", "text")
      .withColumn("content_md5", md5(col("text").cast("binary")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_md5")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_dedup").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 01:$m%02d:00")
    try {
      in.addData((ts(0), "doc a"), (ts(1), "doc a"), (ts(2), "doc b"))
      q.processAllAvailable()
      in.addData((ts(3), "doc a"), (ts(4), "doc c")) // dup arrives next batch
      q.processAllAvailable()
      val texts = spark.table("stream_dedup").select("text").as[String]
        .collect().sorted.toSeq
      assert(texts == Seq("doc a", "doc b", "doc c"),
        s"state must suppress duplicates across batches within the watermark: $texts")
    } finally q.stop()
  }

  test("chained stateful operators: dedup then windowed agg in one query") {
    // Spark 4 allows multiple stateful operators in one streaming query
    // (watermark propagates between them) — the curation shape "dedup the
    // firehose, THEN aggregate per window" without an intermediate topic
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val agg = in.toDF().toDF("ts", "text")
      .withColumn("content_md5", md5(col("text").cast("binary")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_md5")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_unique"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("chained_stateful").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      in.addData((ts(1, 0), "a"), (ts(1, 1), "a"), (ts(1, 2), "b"),
        (ts(1, 3), "b"), (ts(1, 4), "c"))
      q.processAllAvailable()
      in.addData((ts(3, 0), "z")) // advance watermark past window 01:00
      q.processAllAvailable()
      in.addData((ts(3, 30), "z2")) // second tick flushes the window agg
      q.processAllAvailable()
      val rows = spark.table("chained_stateful")
        .select(col("window.start").cast("string"), col("n_unique"))
        .as[(String, Long)].collect().toMap
      assert(rows.get("2024-01-01 01:00:00").contains(3L),
        s"the window must count DEDUPED rows, not raw arrivals: $rows")
    } finally q.stop()
  }

  test("stream-static join: incoming docs probe a static LSH band index") {
    // the streaming near-dup pattern: the corpus's MinHash band index is a
    // STATIC table (rebuilt offline); each micro-batch of new docs computes
    // its own bands narrowly and equi-joins the index — at scale the static
    // side is a broadcast or bucketed table, and state stays EMPTY (unlike
    // stream-stream joins: nothing is buffered across batches)
    import graft.ops.DedupOps.{lshBands, minhashSignatureNarrow, shingleArrays}
    implicit val ctx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely unrelated corpus document about spark plans"))
      .toDF("doc_id", "text")
    val index = lshBands(minhashSignatureNarrow(shingleArrays(corpus), 16), 4, 4)
      .select(col("band_idx").as("i_band"), col("band_hash").as("i_hash"),
        col("doc_id").as("index_doc"))
    val in = MemoryStream[(Long, String)]
    val sBands = lshBands(
      minhashSignatureNarrow(shingleArrays(in.toDF().toDF("doc_id", "text")), 16), 4, 4)
    val hits = sBands.join(index,
        col("band_idx") === col("i_band") && col("band_hash") === col("i_hash"))
      .select(col("doc_id"), col("index_doc"))
    val q = hits.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lsh_probe").start()
    try {
      in.addData(
        (10L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
        (11L, "a brand new never seen before document about nothing"))
      q.processAllAvailable()
      val pairs = spark.table("lsh_probe").as[(Long, Long)].collect().toSet
      assert(pairs == Set((10L, 1L)),
        s"identical doc collides with its index entry, novel doc doesn't: $pairs")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog then self-terminates") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Int]
    in.addData(1 to 10: _*)
    val q = in.toDF().writeStream.format("memory").queryName("avail_now")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000),
      "AvailableNow must stop on its own after draining available offsets")
    assert(spark.table("avail_now").count() == 10)
  }

  test("foreachBatch sink: per-batch dedup-merge pattern") {
    implicit val ctx = spark.sqlContext
    val seen = scala.collection.mutable.Map[String, Long]()
    val in = MemoryStream[String]
    val counts = Transforms.parseRiskEvent(in.toDF())
      .groupBy("customer").agg(count(lit(1)).as("n"))
    val q = counts.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => seen(r.getString(0)) = r.getLong(1))
        () // upsert semantics: latest count per key wins
      }
      .start()
    def risk(c: String) = s"""{"customer":"$c","score":1.0,"riskDate":"2020-09-14T07:54:06.417Z"}"""
    try {
      in.addData(risk("x@t.com"), risk("x@t.com"), risk("y@t.com"))
      q.processAllAvailable()
      in.addData(risk("x@t.com"))
      q.processAllAvailable()
      assert(seen("x@t.com") == 3L && seen("y@t.com") == 1L)
    } finally q.stop()
  }
}
