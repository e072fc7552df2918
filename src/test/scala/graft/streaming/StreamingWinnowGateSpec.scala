package graft.streaming

import graft.SparkSpecBase
import graft.ops.DedupOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The streamed winnowing novelty gate: the per-row HOF fingerprint
  * selection must equal d43's batch window form key-for-key, and the
  * gate's replay must agree with the batch computation — including the
  * no-false-negative contract against exact fingerprint matches. */
class StreamingWinnowGateSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = graft.Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  /** d43's Window-based fingerprint keys at w (the batch form). */
  private def windowKeys(w: Int) = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.TextOps.{hash32, tokens}
    val toksd = docs.select(col("doc_id"), tokens(col("text")).as("toks"),
      trim(col("text")).as("t"))
    val kgarr = when(size(col("toks")) >= 4,
      transform(sequence(lit(1), size(col("toks")) - 3), i =>
        concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1), element_at(col("toks"), i + 2),
          element_at(col("toks"), i + 3))))
      .otherwise(array(col("t")))
    val kg = toksd.select(col("doc_id"), kgarr.as("kgarr"))
      .select(col("doc_id"), size(col("kgarr")).cast("long").as("n_kg"),
        posexplode(col("kgarr")).as(Seq("pos0", "g")))
      .select(col("doc_id"), col("n_kg"), (col("pos0") + 1).as("pos"),
        (hash32(col("g")) * 2097152L + (lit(1048576L) - col("pos0") - 1))
          .as("key"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    kg.withColumn("mk", min(col("key")).over(win))
      .filter(col("pos") >= least(lit(w.toLong), col("n_kg")))
      .select(col("doc_id"), col("mk")).distinct()
  }

  test("per-row HOF fingerprints equal the batch window form key-for-key") {
    import graft.ops.TextOps.tokens
    val hof = docs.select(col("doc_id"),
        explode(DedupOps.winnowKeys(tokens(col("text")), col("text"),
          StreamingWinnowGate.W)).as("mk"))
      .distinct().as[(Long, Long)].collect().toSet
    val win = windowKeys(StreamingWinnowGate.W)
      .as[(Long, Long)].collect().toSet
    assert(hof == win)
    assert(hof.nonEmpty)
  }

  test("streamed novelty gate replays to the batch flags; exact matches never pass") {
    implicit val ctx = spark.sqlContext
    import graft.ops.TextOps.tokens
    val basePred = col("doc_id") % 5 =!= 0
    val baseFp = docs.filter(basePred)
      .select(explode(StreamingWinnowGate.fpHashArr(tokens(col("text")),
        col("text"))).as("fp_hash"))
      .distinct()
    val words = StreamingBloomGate.denseWords(
      StreamingWinnowGate.fingerprintBloom(baseFp))
    assert(words.length == 2048 && words.exists(_ != 0L))

    val incoming = docs.filter(!basePred)
      .as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val streamed = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        StreamingBloomGate.bloomHits(words)(
          StreamingWinnowGate.fpHashArr(tokens(col("text")), col("text")))
          .as("matched"))
    val q = streamed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("winnow_gate").start()
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.table("winnow_gate").as[(Long, Long)].collect().toMap
      assert(got.size == incoming.length)
      // replay equality: the batch run of the same columns
      val batch = docs.filter(!basePred)
        .select(col("doc_id"),
          StreamingBloomGate.bloomHits(words)(
            StreamingWinnowGate.fpHashArr(tokens(col("text")), col("text")))
            .as("matched"))
        .as[(Long, Long)].collect().toMap
      assert(got == batch)
      // no false negatives: every incoming doc EXACTLY sharing a
      // fingerprint hash with the base set must be flagged
      val exact = docs.filter(!basePred)
        .select(col("doc_id"),
          explode(StreamingWinnowGate.fpHashArr(tokens(col("text")),
            col("text"))).as("fp_hash"))
        .join(baseFp, "fp_hash")
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      exact.foreach(id => assert(got(id) >= 1L,
        s"doc $id shares a fingerprint with the base set but streamed novel"))
      // and the gate is non-trivial on this corpus: both outcomes occur
      assert(got.values.exists(_ >= 1L) && got.values.exists(_ == 0L))
    } finally q.stop()
  }
}
