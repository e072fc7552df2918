package perfbench

import java.nio.file.{Files, Paths}

import graft.streaming.{StreamingChunkDedup, StreamingCurationChain}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `graft.streaming` layer, probed in traced `batch_mix` runs: the
  * stateless gate battery (`StreamingCurationChain.gateFrame`) and then the
  * stateful chunk first-claimer (`StreamingChunkDedup.chunkVerdicts`) over a
  * file-source feed of the corpus documents, released [[BatchDocs]] at a
  * time in a closed loop. The protected base split (`doc_id % 50 = 0`) is
  * left out of the feed, as `CurationChainSpec` does. The gate
  * configuration serves the indexes the batch passes already built.
  */
object CurationGates {

  val BatchDocs = 10
  /** The first docs by doc id, so every seed does the same work and only
    * the arrival order varies. */
  val FeedDocs = 40

  val FeedSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("text", StringType), StructField("ts", TimestampType)))

  /** Returns (rows that differ from the batch forms, per-layer metrics). */
  def probe(ctx: Ctx, dataDir: String): (Long, Seq[(String, Double, String)]) = {
    val spark = ctx.spark
    import spark.implicits._
    // transformWithState, under the chunk claimer, needs the RocksDB store.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val basePred = col("doc_id") % 50 === 0
    val c0 = System.nanoTime()
    val cfg = ctx.spans.span("gate.config")(StreamingCurationChain.config(spark, dataDir, basePred))
    val configS = (System.nanoTime() - c0) / 1e9
    val pool = graft.Tables.documents(spark, dataDir).filter(!basePred)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
      .sortBy(_._1).take(FeedDocs)
    val order = new scala.util.Random(ctx.seed).shuffle(pool.toSeq)
    // Each stage reads its own copy of the feed, so the chunk stage only
    // starts on a batch once the gate stage has drained it.
    val stages = Seq("gates", "chunks")
    val ts0 = 1704067200000L
    // Arrival k carries ts0 + k ms: the claim order the chunk stage sees.
    val nBatches = order.zipWithIndex.grouped(BatchDocs).zipWithIndex.map { case (b, i) =>
      val lines = b.map { case ((id, lang, text), k) =>
        s"""{"doc_id":$id,"lang":${Main.q(lang)},"text":${Main.q(text)},""" +
          s""""ts":"${java.time.Instant.ofEpochMilli(ts0 + k)}"}"""
      }
      for (st <- stages) Gen.writeAtomically(
        Files.createDirectories(Paths.get(f"feed/stage/$st/b$i%04d")).resolve("part-0.json"), lines)
    }.size
    stages.foreach(st => Files.createDirectories(Paths.get(s"feed/$st")))
    def release(st: String, i: Int): Unit =
      Files.move(Paths.get(f"feed/stage/$st/b$i%04d"), Paths.get(f"feed/$st/b$i%04d"))
    def src(st: String) = spark.readStream.schema(FeedSchema).json(s"feed/$st/*")
    val gates = StreamingCurationChain.gateFrame(cfg)(src("gates").select("doc_id", "lang", "text"))
      .drop("text").writeStream.format("memory").queryName("gates")
      .option("checkpointLocation", "chk/gates").start()
    val chunks = StreamingChunkDedup.chunkVerdicts(spark, src("chunks").select("doc_id", "ts", "text")).toDF()
      .writeStream.format("memory").queryName("chunks")
      .option("checkpointLocation", "chk/chunks").start()
    // The first batch warms up codegen and is not timed.
    ctx.spans.span("gate.warmup") {
      release("gates", 0); gates.processAllAvailable()
      release("chunks", 0); chunks.processAllAvailable()
    }
    var gateNs, chunkNs = 0L
    for (i <- 1 until nBatches) {
      val b0 = System.nanoTime()
      release("gates", i)
      ctx.spans.span("gate.battery")(gates.processAllAvailable())
      val b1 = System.nanoTime()
      release("chunks", i)
      ctx.spans.span("gate.chunk_dedup")(chunks.processAllAvailable())
      gateNs += b1 - b0; chunkNs += System.nanoTime() - b1
    }
    gates.stop(); chunks.stop()

    // Check: streamed verdicts ≡ the batch battery and the batch claim
    // over the same released docs, in the same arrival order.
    val released = spark.read.schema(FeedSchema).json("feed/gates/*")
    val cols = Seq("doc_id", "lang", "ntok", "h", "gopher_pass", "nb_pass", "winnow_novel", "mink_admit")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(Stats.rowText).toVector
    val gateBad = StediStreams.mismatches(
      rows(StreamingCurationChain.gateFrame(cfg)(released.select("doc_id", "lang", "text")).select(cols.map(col): _*)),
      rows(spark.table("gates").select(cols.map(col): _*)))
    val tok = graft.ops.TextOps.tokens(col("text"))
    val probes = released.withColumn("toks", tok).filter(size($"toks") > 0)
      .withColumn("chunk_start", explode(sequence(lit(0), size($"toks") - 1, lit(StreamingChunkDedup.ChunkTok))))
      .select(graft.ops.TextOps.hash60(array_join(slice($"toks", $"chunk_start" + 1,
        lit(StreamingChunkDedup.ChunkTok)), " ")).as("ch"), $"doc_id".as("docId"),
        expr(s"chunk_start div ${StreamingChunkDedup.ChunkTok}").as("chunkIdx"),
        unix_millis($"ts").as("tsMs"))
    val w = Window.partitionBy($"ch").orderBy($"tsMs", $"docId", $"chunkIdx")
    val claim = probes.withColumn("first", first($"docId").over(w))
      .withColumn("rn", row_number().over(w))
      .select($"docId", $"chunkIdx", when($"rn" === 1, -1L).otherwise($"first").as("dupOf"))
    val chunkBad = StediStreams.mismatches(rows(claim), rows(spark.table("chunks").select("docId", "chunkIdx", "dupOf")))
    if (gateBad + chunkBad > 0)
      System.err.println(s"[perfbench] curation gates: $gateBad gate rows and $chunkBad chunk rows differ")
    (gateBad + chunkBad, Seq(("gate.config_s", configS, "s"),
      ("gate.battery_s", gateNs / 1e9, "s"), ("gate.chunk_dedup_s", chunkNs / 1e9, "s"),
      ("gate.docs", (order.size - BatchDocs).toDouble, "count"),
      ("gate.state.rows", chunks.lastProgress.stateOperators.headOption
        .map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")))
  }
}
