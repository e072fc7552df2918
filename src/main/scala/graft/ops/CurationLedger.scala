package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed curation DRESS REHEARSAL: the individually-verified
  * operators chained into the one job a 100 TB pretraining-corpus run
  * actually executes, with an exact-integer reconciliation ledger at
  * every stage boundary — the place real pipelines silently lose (or
  * duplicate) data:
  *
  *   ingest → normalize → NB quality gate (the PERSISTED t38 model,
  *   ingest form: raw-token margins) → exact dedup (d1, md5 keeper) →
  *   near-dup collapse (d2 MinHash-LSH candidates, Jaccard-verified,
  *   star-CC components, canonical min-id keeper) → benchmark
  *   decontamination (d30 Bloom, 3-of-3 salted bits, ≥3-shingle flag) →
  *   source-mixture downsample (t13's uniform-target weight as a
  *   content-hash keep rate) → token packing (t15 shards) / overlap
  *   chunking (t17).
  *
  * Composition adds NO new semantics — each stage is the cited
  * operator's exact logic over the previous stage's survivors — so the
  * DuckDB oracle replays the whole chain and the ledger's BIGINTs match
  * bit-for-bit ([[graft.queries.PipelineQueries]]).
  *
  * Scale shape: normalize/gate are narrow projections (model broadcast
  * into the token scan); exact dedup is one hash-key shuffle; near-dup
  * is the d2 banded plan (never all-pairs) + edge-only star-CC; the
  * Bloom is 2048 broadcast words; mixture rates are a |sources|-row
  * broadcast; pack is one lang-partitioned window. The localCheckpoints
  * pin each survivor frame because SIX ledger aggregations re-read them
  * — at 100 TB the same counts ride the stages as `observe` metrics
  * instead (see the streaming front-half spec), and the checkpoint is a
  * persisted stage table.
  */
object CurationLedger {

  /** t15's shard token budget / t17's chunk+stride (the cited knobs). */
  val ShardTokens = 512
  val ChunkTok = 128
  val ChunkStride = 96

  /** d30's decontamination knobs: bench slice and flag threshold —
    * verbatim (the Bloom layout is [[DedupOps.BloomBits]]). */
  val BenchMod = 50
  val FlagShingles = 3

  final case class Stages(raw: DataFrame, s1: DataFrame, s2: DataFrame,
      s3: DataFrame, s4: DataFrame, s5: DataFrame, s6: DataFrame,
      exactKeeper: DataFrame, canon: DataFrame, margins: DataFrame)

  /** t10's normalization, verbatim. */
  def normTextCol(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Normalize + pinned-model quality gate over the `pred` id-slice —
    * the shared front half of p1's stages and p3's base/delta chains.
    * The gate model is ALWAYS the full-corpus persisted artifact: a
    * delta ingest must reproduce the base run's admissions (pinned
    * model version), which is what makes the gate append-safe. */
  def frontStages(s: SparkSession, d: String,
      pred: Column): (DataFrame, DataFrame, DataFrame) = {
    val (raw, s1, s2, _) = frontStagesScored(s, d, pred)
    (raw, s1, s2)
  }

  /** [[frontStages]] plus the full per-doc margin frame
    * `(doc_id, margin_ppm)` — the gate's continuous score for EVERY raw
    * doc, persisted by [[CurationIndex]] so p7-class consumers read the
    * margin instead of re-running the serve scan. */
  def frontStagesScored(s: SparkSession, d: String,
      pred: Column): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val raw = graft.Tables.fanout(graft.Tables.documents(s, d))
      .filter(pred)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        TextOps.tokenCount(col("text")).as("ntok_raw"))
      .transform(graft.Tables.stage)
    // 1. normalize; empty-normal-form docs drop here
    val s1 = raw
      .withColumn("norm_text", normTextCol(col("text")))
      .filter(length(col("norm_text")) > 0)
      .withColumn("ntok", TextOps.tokenCount(col("norm_text")))
      .transform(graft.Tables.stage)
    // 2. quality gate: margins from the PERSISTED model over RAW tokens
    // (the ingest form — StreamingNbGate serves the identical collapse)
    val p = ClassifierIndex.ensure(s, d, ClassifierIndex.Binary)
    val (seen, consts) = ClassifierIndex.trainModel(s, p, 2)
    val tfAll = raw
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val margins = ClassifierOps.nbScore(seen, consts, tfAll,
        raw.select(col("doc_id")))
      .select(col("doc_id"), col("margin_ppm"))
      .transform(graft.Tables.stage)
    val admitted = margins.filter(col("margin_ppm") > 0).select(col("doc_id"))
    val s2 = s1.join(admitted, "doc_id").transform(graft.Tables.stage)
    (raw, s1, s2, margins)
  }

  /** All stage survivor frames. `raw` carries (doc_id, text, lang,
    * source, ntok_raw); s1..s6 add (norm_text, ntok). */
  def stages(s: SparkSession, d: String): Stages = {
    import graft.queries.DedupQueries.{NumHashes, Bands, RowsPerBand,
      JaccardTau}
    val (raw, s1, s2, margins) = frontStagesScored(s, d, lit(true))
    // 3. exact dedup (d1): md5(norm_text) groups, min-id keeper
    val keepers = s2
      .groupBy(md5(col("norm_text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val s3 = s2.join(keepers.select(col("doc_id")), "doc_id")
      .transform(graft.Tables.stage)
    // per-doc keeper evidence (p4's audit trail): every gate survivor's
    // hash-group canonical
    val exactKeeper = s2
      .select(col("doc_id"), md5(col("norm_text").cast("binary")).as("h"))
      .join(keepers.withColumnRenamed("doc_id", "keeper_id"), "h")
      .select(col("doc_id"), col("keeper_id"))
    // 4. near-dup collapse (d2 candidates ∘ star-CC): raw-text shingles
    // of the SURVIVORS only — banded signatures, verified pairs, then
    // edge-rewrite components; keep each component's min-id canonical
    val arr = DedupOps.shingleArrays(s3.select(col("doc_id"), col("text")))
    val pairs = DedupOps.jaccardVerifyArrays(
        DedupOps.candidatePairs(DedupOps.lshBands(
          DedupOps.minhashSignatureNarrow(arr, NumHashes),
          Bands, RowsPerBand)), arr)
      .filter(col("jaccard") >= JaccardTau)
      .select(col("doc_a"), col("doc_b"))
    val canon = DedupOps.starComponents(pairs, s3.select(col("doc_id")))
    val s4 = s3.join(
        canon.filter(col("doc_id") === col("canon_id"))
          .select(col("doc_id")), "doc_id")
      .transform(graft.Tables.stage)
    // 5. decontaminate (d30): bloom over the benchmark slice's raw
    // shingles; drop survivors matching ≥3 distinct bench shingles
    val shAll = DedupOps.explodedShingles(
      raw.select(col("doc_id"), col("text")))
    val benchSh = shAll.filter(col("doc_id") % BenchMod === 0)
      .select(col("sh")).distinct()
    val flagged = DedupOps.bloomHitCounts(
        shAll.join(s4.select(col("doc_id")), "doc_id"),
        DedupOps.bloomFilter(benchSh, col("sh")))
      .filter(col("n_bloom") >= FlagShingles)
      .select(col("doc_id"))
    val s5 = s4.join(flagged, Seq("doc_id"), "left_anti").transform(graft.Tables.stage)
    // 6. mixture (t13's uniform-target weight as a keep rate): per-source
    // rate_bp = min(10000, tot/(n_sources·n_src)); membership by content
    // hash — deterministic across runs, engines, partitionings
    val srcCounts = s5.groupBy(col("source")).agg(count(lit(1)).as("nds"))
    val tots = s5.agg(count(lit(1)).as("tot_docs"),
      countDistinct(col("source")).as("n_sources"))
    val rates = srcCounts.crossJoin(broadcast(tots))
      .select(col("source"), least(lit(10000L),
        expr("tot_docs * 10000 div (n_sources * nds)")).as("rate_bp"))
    val s6 = s5.join(broadcast(rates), "source")
      .filter(pmod(TextOps.hash60(concat(lit("mix|"), col("text"))),
        lit(10000L)) < col("rate_bp"))
      .transform(graft.Tables.stage)
    Stages(raw, s1, s2, s3, s4, s5, s6, exactKeeper, canon, margins)
  }

  /** p1's 9-row stage-boundary reconciliation ledger from a computed
    * [[Stages]] — exact integer (docs, tokens) in/out per stage.
    * [[CurationIndex.build]] persists this frame; the p1 query serves
    * the persisted rows. */
  def ledger(st: Stages): DataFrame = {
    def cnt(df: DataFrame, tok: String): DataFrame =
      df.agg(count(lit(1)).as("dc"),
        coalesce(sum(col(tok)), lit(0L)).as("tc"))
    def row(id: Int, name: String, in: DataFrame, inTok: String,
        out: DataFrame, outTok: String): DataFrame =
      cnt(in, inTok).crossJoin(cnt(out, outTok).select(
          col("dc").as("dc2"), col("tc").as("tc2")))
        .select(lit(id.toLong).as("stage_id"), lit(name).as("stage"),
          col("dc").as("docs_in"), col("dc2").as("docs_out"),
          col("tc").as("tokens_in"), col("tc2").as("tokens_out"))
    val shards = packShards(st.s6)
    val chunks = chunkRows(st.s6)
    Seq(
      row(0, "ingest", st.raw, "ntok_raw", st.raw, "ntok_raw"),
      row(1, "normalize", st.raw, "ntok_raw", st.s1, "ntok"),
      row(2, "nb_gate", st.s1, "ntok", st.s2, "ntok"),
      row(3, "exact_dedup", st.s2, "ntok", st.s3, "ntok"),
      row(4, "neardup_collapse", st.s3, "ntok", st.s4, "ntok"),
      row(5, "decontaminate", st.s4, "ntok", st.s5, "ntok"),
      row(6, "mixture", st.s5, "ntok", st.s6, "ntok"),
      row(7, "pack", st.s6, "ntok", shards, "stoks"),
      row(8, "chunk", st.s6, "ntok", chunks, "ctoks")
    ).reduce(_ unionByName _)
  }

  /** p4's per-doc disposition — for EVERY ingested doc, the stage that
    * decided its fate (precedence = stage order) and the evidence id
    * the semantics define (exact-dup keeper / near-dup canonical).
    * Persisted by [[CurationIndex.build]]. */
  def disposition(st: Stages): DataFrame = {
    def mem(df: DataFrame, n: String) =
      df.select(col("doc_id"), lit(1).as(n))
    st.raw.select(col("doc_id"))
      .join(mem(st.s1, "in1"), Seq("doc_id"), "left")
      .join(mem(st.s2, "in2"), Seq("doc_id"), "left")
      .join(mem(st.s3, "in3"), Seq("doc_id"), "left")
      .join(mem(st.s4, "in4"), Seq("doc_id"), "left")
      .join(mem(st.s5, "in5"), Seq("doc_id"), "left")
      .join(mem(st.s6, "in6"), Seq("doc_id"), "left")
      .join(st.exactKeeper, Seq("doc_id"), "left")
      .join(st.canon.select(col("doc_id"), col("canon_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("in1").isNull, "dropped_empty_norm")
          .when(col("in2").isNull, "dropped_gate")
          .when(col("in3").isNull, "dropped_exact_dup")
          .when(col("in4").isNull, "collapsed_neardup")
          .when(col("in5").isNull, "dropped_contaminated")
          .when(col("in6").isNull, "dropped_mixture")
          .otherwise("kept").as("status"),
        when(col("in2").isNotNull && col("in3").isNull, col("keeper_id"))
          .when(col("in3").isNotNull && col("in4").isNull,
            col("canon_id"))
          .otherwise(lit(null).cast("long")).as("canonical_id"))
  }

  /** p5's per-shard integrity manifest over the final mixture —
    * (lang, shard, n_docs, shard_tokens, first_doc, last_doc,
    * shard_md5), shard_md5 = md5 of the members' per-doc content md5s
    * concatenated in doc_id order. Persisted by
    * [[CurationIndex.build]]; p5 serves it, p8/p9 plan over it. */
  def manifest(s6: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    s6
      .withColumn("prefix", coalesce(sum(col("ntok")).over(w), lit(0L)))
      .withColumn("shard",
        floor(col("prefix") / ShardTokens).cast("long"))
      .withColumn("h", md5(col("text").cast("binary")))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        md5(array_join(transform(sort_array(collect_list(
            struct(col("doc_id"), col("h")))), x => x.getField("h")), "")
          .cast("binary")).as("shard_md5"))
  }

  /** t15's packing over the final mixture: one row per (lang, shard)
    * with the shard's token mass — docs in, shards out, TOKENS CONSERVED
    * (the pack row's reconciliation contract). */
  def packShards(s6: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    s6.withColumn("prefix", coalesce(sum(col("ntok")).over(w), lit(0L)))
      .withColumn("shard", floor(col("prefix") / ShardTokens).cast("long"))
      .groupBy(col("lang"), col("shard"))
      .agg(sum(col("ntok")).as("stoks"))
  }

  /** t17's overlap chunking over the final mixture: chunk token counts
    * by pure arithmetic (least(ChunkTok, ntok − start)) — no array
    * materialization; tokens_out > tokens_in by exactly the overlap. */
  def chunkRows(s6: DataFrame): DataFrame =
    s6.select(col("doc_id"), col("ntok"),
        explode(sequence(lit(0), col("ntok") - 1, lit(ChunkStride)))
          .as("cs"))
      .select(col("doc_id"),
        least(lit(ChunkTok), col("ntok") - col("cs")).cast("long")
          .as("ctoks"))
}
