package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class StreamingSaxSpec extends SparkSpecBase {
  import spark.implicits._

  test("streamed SAX words replay bit-equal to the batch window operator") {
    val expected = graft.queries.RelationalQueries.saxWindows(spark, sfDir)
      .select(col("user_id"), col("widx"), col("word_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "batch operator must produce windows")

    val points = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value").cast("double").as("v"))
      .as[(Long, Long, Long, Double)].collect().toSeq
      .map(t => StreamingSax.SaxPoint(t._1, t._2, t._3, t._4))
      .sortBy(p => (p.tsUs, p.eventId))
    // split by TIME so each user's points stay in order across batches —
    // the in-order contract the processor documents
    val (b1, b2) = points.splitAt(points.length / 2)

    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamingSax.SaxPoint]
      val q = StreamingSax.saxWords(spark, in.toDS()).toDF()
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("sax_words").start()
      try {
        in.addData(b1)
        q.processAllAvailable()
        in.addData(b2)
        q.processAllAvailable()
        val streamed = spark.table("sax_words")
          .select(col("userId"), col("widx"), col("wordId"))
          .as[(Long, Long, Long)].collect().toSet
        assert(streamed == expected,
          s"streamed words must equal batch windows; " +
            s"only-streamed=${(streamed -- expected).take(3)} " +
            s"only-batch=${(expected -- streamed).take(3)}")
      } finally q.stop()
    }
  }

  test("ring state spans batch boundaries: a window straddling batches emits") {
    // 8 points for one user, split 5 + 3 — the lone full window (widx 1)
    // must only emit once batch 2 delivers its 8th point, from the 5
    // ring-carried values plus the new arrivals
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamingSax.SaxPoint]
      val q = StreamingSax.saxWords(spark, in.toDS()).toDF()
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("sax_straddle").start()
      val vs = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0)
      def pt(i: Int) = StreamingSax.SaxPoint(42L, 1000L + i, i.toLong, vs(i))
      try {
        in.addData((0 until 5).map(pt))
        q.processAllAvailable()
        assert(spark.table("sax_straddle").isEmpty,
          "no window is complete after 5 points")
        in.addData((5 until 8).map(pt))
        q.processAllAvailable()
        val rows = spark.table("sax_straddle")
          .as[StreamingSax.SaxWord].collect().toSeq
        assert(rows == Seq(StreamingSax.SaxWord(42L, 1L,
            StreamingSax.wordOf(vs.toIndexedSeq))),
          s"exactly the straddling window must emit: $rows")
      } finally q.stop()
    }
  }
}
