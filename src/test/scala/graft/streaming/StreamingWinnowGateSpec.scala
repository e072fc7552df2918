package graft.streaming

import graft.{ReferenceForms, SparkSpecBase}
import graft.functions.WinnowKernel.winnow_keys
import graft.ops.DedupOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The streamed winnowing novelty gate: the native `winnow_keys` kernel
  * must equal d43's batch window form key-for-key, and the gate's replay
  * must agree with the batch computation — including the
  * no-false-negative contract against exact fingerprint matches. */
class StreamingWinnowGateSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = graft.Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  test("winnow_keys kernel equals d43's window form key-for-key") {
    import graft.ops.TextOps.tokens
    val sf01 = graft.Tables.documents(spark, sfDir.replace("sf0.001", "sf0.01"))
      .select(col("doc_id"), col("text"))
    // 0–3 tokens (the whole-text k-gram, internal runs of spaces kept),
    // exactly 4, fewer k-grams than w, repeated k-grams, multibyte text,
    // and tab/newline separators that `trim` keeps but `tokens` splits on
    val edge = Seq("", "   ", "alpha", "alpha beta", "  alpha   beta gamma  ",
        "one two three four", "a b c d e f", "x y z w " * 10, "la " * 12,
        "naïve café 日本語 テキスト straße ünïcödé 🙂 émoji déjà vu",
        "\ttab\tseparated and\nnewline text here")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def kernel(ds: org.apache.spark.sql.DataFrame, w: Int) =
      ds.select(col("doc_id"), explode(winnow_keys(tokens(col("text")),
          trim(col("text")), w)).as("mk"))
        .as[(Long, Long)].collect().toSeq
    for (ds <- Seq(sf01, edge); w <- Seq(1, 4, StreamingWinnowGate.W, 16)) {
      val window = ReferenceForms.winnowKeysWindow(ds, w)
        .as[(Long, Long)].collect().toSet
      assert(window.nonEmpty)
      val compiled = kernel(ds, w)
      // distinct per doc already: no key repeats within a row
      assert(compiled.size == compiled.toSet.size, s"repeated keys at w=$w")
      assert(compiled.toSet == window, s"kernel != window form at w=$w")
      withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        assert(kernel(ds, w).sorted == compiled.sorted,
          s"interpreted != compiled at w=$w")
      }
    }
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
      DedupOps.bloomFilter(baseFp, col("fp_hash")))
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
