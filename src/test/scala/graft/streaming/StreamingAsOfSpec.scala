package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming as-of join ([[StreamingAsOf]]): event-time resolution under
  * out-of-order arrival — matches must depend on event time only, never on
  * arrival order, and lefts must hold until the watermark proves no earlier
  * right can still arrive. */
class StreamingAsOfSpec extends SparkSpecBase {
  import spark.implicits._
  import StreamingAsOf._

  private def ts(h: Int, m: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("late-arriving right row wins; unmatched left pads null") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("asof-stream").toString
    withConf(RocksDb) {
      val in = MemoryStream[(String, java.sql.Timestamp, Int, Long)]
      val events = in.toDS()
        .map { case (k, t, side, id) => AsOfEvent(k, t, side, id) }
        .withWatermark("ts", "30 minutes")
      val q = asofStream(spark, events).writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName("asof_stream")
        .option("checkpointLocation", ckpt).start()
      try {
        // batch 1: the left probe and an early right; watermark after this
        // batch is 10:00 - 30m = 9:30, so L1 (10:00) must NOT resolve yet
        in.addData(("a", ts(10, 0), 0, 100L), ("a", ts(9, 0), 1, 1L),
          ("b", ts(10, 0), 0, 200L))
        q.processAllAvailable()
        assert(spark.table("asof_stream").count() == 0,
          "no left may resolve before the watermark passes it")
        // batch 2: a BETTER right arrives late in arrival order (event time
        // 9:55, admitted: watermark is 9:30) + a filler advancing the
        // watermark to 10:40 - 30m = 10:10 > 10:00
        in.addData(("a", ts(9, 55), 1, 2L), ("c", ts(10, 40), 0, 300L))
        q.processAllAvailable()
        // batch 3: tick a batch so timers fire against the 10:10 watermark
        in.addData(("c", ts(10, 41), 0, 301L))
        q.processAllAvailable()
        val rows = spark.table("asof_stream").as[AsOfMatch].collect()
          .map(m => m.key -> m).toMap
        assert(rows.contains("a"), s"L1 must resolve: ${rows.toSeq}")
        assert(rows("a").rightId.contains(2L),
          s"event-time order decides the match, not arrival: ${rows("a")}")
        assert(rows("a").leftId == 100L)
        assert(rows.contains("b") && rows("b").rightId.isEmpty,
          "left with no right resolves to null")
      } finally q.stop()
    }
  }

  test("streaming matches equal the batch as-of on the same data") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("asof-stream2").toString
    withConf(RocksDb) {
      // deterministic scattered fixture: 3 keys, interleaved sides
      val all = (0 until 60).map { i =>
        val key = s"k${i % 3}"
        val side = if (i % 5 == 0) 0 else 1
        (key, ts(9 + (i % 4), (i * 7) % 60), side, i.toLong)
      }
      val in = MemoryStream[(String, java.sql.Timestamp, Int, Long)]
      val events = in.toDS()
        .map { case (k, t, side, id) => AsOfEvent(k, t, side, id) }
        .withWatermark("ts", "10 minutes")
      val q = asofStream(spark, events).writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName("asof_stream_eq")
        .option("checkpointLocation", ckpt).start()
      try {
        // one batch: cross-batch late-record filtering is test 1's subject;
        // here every row must be admitted so the batch oracle sees the same
        // input
        in.addData(all: _*)
        // flush: advance the watermark far past every event
        in.addData(("flush", ts(23, 0), 0, 9999L))
        q.processAllAvailable()
        in.addData(("flush", ts(23, 30), 0, 9998L))
        q.processAllAvailable()
        val streamed = spark.table("asof_stream_eq").as[AsOfMatch].collect()
          .filter(_.key.startsWith("k"))
          .map(m => m.leftId -> m.rightId).toMap
        // batch oracle: the native as-of exec over the same rows
        val df = all.toDF("key", "ts", "side", "id")
        val lefts = df.filter($"side" === 0)
          .select($"key", $"id".as("left_id"), $"ts")
        val rs = df.filter($"side" === 1)
          .select($"key".as("rkey"), $"id".as("right_id"), $"ts".as("rts"))
        val batchAsof = graft.ops.AsOfJoinOps.asofJoin(lefts, rs,
            "key", "rkey", "ts", "rts", "right_id")
          .select($"left_id", $"right_id")
          .as[(Long, Option[Long])].collect().toMap
        assert(streamed.keySet == batchAsof.keySet,
          s"every left resolves exactly once: ${streamed.size} vs ${batchAsof.size}")
        val diffs = streamed.collect {
          case (k, v) if batchAsof(k) != v => (k, v, batchAsof(k)) }
        assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
      } finally q.stop()
    }
  }
}
