package graft.streaming

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The full-chain curation DRESS REHEARSAL (CurationFrontSpec covered
  * the first two stages; this replays the corpus through EVERY ingest
  * gate the engine ships — per-source quota → Gopher → NB → chunk
  * first-claimer → winnow decontamination → Min-K — into the
  * pack/manifest tail, across micro-batch boundaries, and asserts the
  * per-stage admitted SETS, the stage ledger, the shard assignments,
  * and the FLUSHED manifest all equal the batch chain's). Stage
  * boundaries are driven topic-style: each stage's streamed output
  * feeds the next stage's MemoryStream — the multi-job topology a
  * production feed actually runs. */
class CurationChainSpec extends SparkSpecBase {
  import spark.implicits._

  test("the composed gate chain + pack tail ≡ the batch chain on replay") {
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val basePred = col("doc_id") % 50 === 0
      val cfg = StreamingCurationChain.config(spark, sfDir, basePred)
      val rawFeedDf = Tables.documents(spark, sfDir).filter(!basePred)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))

      // ---- stage 0: per-source quota (t56's cap), batch reference --------
      val offers = StreamingCurationChain.capOffers(rawFeedDf).collect()
      val cap = StreamingCurationChain.derivedCap(rawFeedDf
        .select(col("source")))
      // batch selection: per-source top-cap under (q desc, doc_id asc)
      val s0 = offers.groupBy(_.source).flatMap { case (_, os) =>
        os.sortBy(o => (-o.q, o.docId)).take(cap).map(_.docId).toSeq
      }.toSet
      assert(s0.size < offers.length,
        "cap must reject someone — corpus/split drifted")

      // ---- stage 0 streamed: quota gate at ingest, shuffled arrival ------
      val in0 = MemoryStream[StreamingSourceCap.CapOffer]
      val q0 = StreamingSourceCap.sourceCapTws(spark, in0.toDS(), cap)
        .toDF().writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("chain_cap").start()
      try {
        // arrival decorrelated from quality AND doc id so evictions fire
        val arr = offers.sortBy(o =>
          graft.ops.TextOps.hash60Scala(s"chain|${o.docId}"))
        arr.grouped(math.max(1, arr.length / 3 + 1)).foreach { b =>
          in0.addData(b.toSeq); q0.processAllAvailable()
        }
      } finally q0.stop()
      val capDeltas = spark.table("chain_cap")
      assert(capDeltas.filter(col("admitted") && col("evicted") >= 0)
        .limit(1).count() == 1, "eviction never fired — cap too loose")
      val str0 = StreamingCurationChain.capKept(capDeltas)
        .as[Long].collect().toSet
      assert(str0 == s0, "streamed quota kept set ≠ batch t56 selection")

      // downstream stages consume the quota survivors (topic boundary)
      val feedDf = rawFeedDf.filter(col("doc_id").isInCollection(s0))
        .select(col("doc_id"), col("lang"), col("text"))

      // ---- batch reference chain ---------------------------------------
      val bg = StreamingCurationChain.gateFrame(cfg)(feedDf)
        .select(col("doc_id"), col("lang"), col("ntok"), col("h"),
          col("gopher_pass"), col("nb_pass"), col("winnow_novel"),
          col("mink_admit"))
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
          r.getString(3), r.getBoolean(4), r.getBoolean(5),
          r.getBoolean(6), r.getBoolean(7))).toMap
      val all = bg.keySet
      val s1 = all.filter(bg(_)._4)                 // gopher
      val s2 = s1.filter(bg(_)._5)                  // nb
      // chunk first-claimer over s2 in doc order: a chunk row is a dup iff
      // an earlier (docId, chunkIdx) instance of the same content exists;
      // a doc is redundant iff NONE of its rows is a first claim
      val s2df = feedDf.filter(col("doc_id").isInCollection(s2))
      val chunks = s2df
        .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
        .filter(size(col("toks")) > 0)
        .withColumn("chunk_start",
          explode(sequence(lit(0), size(col("toks")) - 1,
            lit(StreamingChunkDedup.ChunkTok))))
        .select(col("doc_id"),
          expr(s"chunk_start div ${StreamingChunkDedup.ChunkTok}")
            .as("chunkIdx"),
          graft.ops.TextOps.hash60(array_join(slice(col("toks"),
            col("chunk_start") + 1, lit(StreamingChunkDedup.ChunkTok)), " "))
            .as("ch"))
      val claim = chunks.groupBy(col("ch"))
        .agg(min(struct(col("doc_id"), col("chunkIdx"))).as("first"))
      val batchKeeps = chunks.join(claim, "ch")
        .filter(col("doc_id") === col("first.doc_id")
          && col("chunkIdx") === col("first.chunkIdx"))
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      val s3 = s2.intersect(batchKeeps)
      val s4 = s3.filter(bg(_)._6)                  // winnow decontam
      val s5 = s4.filter(bg(_)._7)                  // mink
      assert(s5.nonEmpty, "the batch chain admitted nothing — corpus too small")
      assert(s5.size < all.size, "no stage ever rejected — funnel is trivial")

      // ---- stage 1+row-local gates: streamed battery ≡ batch -------------
      val feed = feedDf.as[(Long, String, String)].collect().sortBy(_._1)
      val in1 = MemoryStream[(Long, String, String)]
      val q1 = StreamingCurationChain.gateFrame(cfg)(
          in1.toDF().toDF("doc_id", "lang", "text"))
        .drop("text")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("chain_gates").start()
      try {
        feed.grouped(math.max(1, feed.length / 3 + 1)).foreach { b =>
          in1.addData(b.toSeq); q1.processAllAvailable()
        }
      } finally q1.stop()
      val sg = spark.table("chain_gates")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
          r.getString(3), r.getBoolean(4), r.getBoolean(5),
          r.getBoolean(6), r.getBoolean(7))).toMap
      assert(sg == bg, "streamed gate battery diverged from the batch battery")

      // ---- stage 3: chunk first-claimer over s2, streamed ----------------
      val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val s2feed = feed.filter(t => s2.contains(t._1))
        .map(t => (t._1, ts0, t._3))
      val in2 = MemoryStream[(Long, java.sql.Timestamp, String)]
      val q2 = StreamingChunkDedup.chunkVerdicts(spark,
          in2.toDF().toDF("doc_id", "ts", "text"))
        .toDF().writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("chain_chunks").start()
      try {
        s2feed.grouped(math.max(1, s2feed.length / 3 + 1)).foreach { b =>
          in2.addData(b.toSeq); q2.processAllAvailable()
        }
      } finally q2.stop()
      val streamRedundant = StreamingCurationChain.chunkRedundant(
          spark.table("chain_chunks"))
        .filter(col("redundant")).select(col("doc_id"))
        .as[Long].collect().toSet
      assert(s2 -- streamRedundant == s3,
        "streamed chunk stage admitted a different set than the batch claim")

      // ---- per-stage admitted sets + ledger ------------------------------
      val allRaw = offers.map(_.docId).toSet // the raw ingest set
      val str1 = all.filter(sg(_)._4)
      val str2 = str1.filter(sg(_)._5)
      val str3 = str2 -- streamRedundant
      val str4 = str3.filter(sg(_)._6)
      val str5 = str4.filter(sg(_)._7)
      assert(Seq(str1, str2, str3, str4, str5) == Seq(s1, s2, s3, s4, s5),
        "per-stage admitted sets diverged")
      val mkLedger = (sets: Seq[Set[Long]]) => StreamingCurationChain.ledger(
        StreamingCurationChain.Stages.tail.zip(
          (allRaw +: sets).sliding(2)
            .map(p => (p(0).size.toLong, p(1).size.toLong))
            .toSeq).map { case (n, (i, o)) => (n, i, o) })
      assert(mkLedger(Seq(str0, str1, str2, str3, str4, str5)) ==
        mkLedger(Seq(s0, s1, s2, s3, s4, s5)), "stage ledger diverged")

      // ---- pack + manifest tail over the final admitted stream -----------
      val admitted = feed.filter(t => s5.contains(t._1))
        .map(t => (t._1, bg(t._1)._1, bg(t._1)._2, bg(t._1)._3))
        .sortBy(_._1) // (doc_id, lang, ntok, h)
      val in3 = MemoryStream[(Long, String, Long, String)]
      val st3 = in3.toDF().toDF("doc_id", "lang", "ntok", "h")
      val qPack = StreamingShardPacker.assignments(spark, st3)
        .toDF().writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("chain_pack").start()
      val in4 = MemoryStream[(Long, String, Long, String, Boolean)]
      val qMan = StreamingManifest.manifests(spark,
          in4.toDF().toDF("doc_id", "lang", "ntok", "h", "flush"))
        .toDF().writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("chain_manifest").start()
      try {
        admitted.grouped(math.max(1, admitted.length / 3 + 1)).foreach { b =>
          in3.addData(b.toSeq)
          in4.addData(b.map(t => (t._1, t._2, t._3, t._4, false)).toSeq)
          qPack.processAllAvailable(); qMan.processAllAvailable()
        }
        // end of feed: flush every stratum's tail shard
        in4.addData(admitted.map(_._2).distinct.toSeq
          .map(l => (0L, l, 0L, "", true)))
        qMan.processAllAvailable()
      } finally { qPack.stop(); qMan.stop() }

      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val admittedDf = admitted.toSeq.toDF("doc_id", "lang", "ntok", "h")
        .withColumn("prefix", coalesce(sum(col("ntok")).over(w), lit(0L)))
      val batchPack = admittedDf
        .select(col("lang"), col("doc_id"), col("ntok"),
          expr(s"prefix div ${StreamingShardPacker.ShardTokens}").as("shard"),
          expr(s"prefix % ${StreamingShardPacker.ShardTokens}").as("offset"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val gotPack = spark.table("chain_pack")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(gotPack == batchPack, "streamed pack ≠ batch pack window")

      val batchMan = admittedDf
        .withColumn("shard",
          expr(s"prefix div ${StreamingManifest.ShardTokens}"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("nDocs"), sum(col("ntok")).as("shardTokens"),
          min(col("doc_id")).as("firstDoc"), max(col("doc_id")).as("lastDoc"),
          md5(array_join(transform(sort_array(collect_list(
              struct(col("doc_id"), col("h")))), x => x.getField("h")), "")
            .cast("binary")).as("shardMd5"))
        .as[(String, Long, Long, Long, Long, Long, String)].collect().toSet
      val gotMan = spark.table("chain_manifest")
        .as[(String, Long, Long, Long, Long, Long, String)].collect().toSet
      assert(gotMan == batchMan,
        "flushed streamed manifest ≠ batch manifest (incl. tail shards)")
    }
  }
}
