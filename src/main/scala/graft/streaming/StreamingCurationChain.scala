package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streaming curation DRESS REHEARSAL — every ingest gate this
  * engine ships, composed into one end-to-end topology in the order a
  * production feed would run them:
  *
  *   per-source quota (t56's cap, keep-best-by-quality) → Gopher battery
  *   → NB quality gate → chunk-level first-claimer dedup → winnowing
  *   decontamination (vs the protected base set) → Min-K% membership
  *   gate → shard packer + manifest accretion
  *
  * Stage shapes:
  *  - the quota gate ([[StreamingSourceCap]]) runs FIRST — it is the one
  *    stage whose verdict depends on corpus-wide arrival history (the
  *    per-source kept set), so running it at ingest caps every
  *    downstream stage's work at Σ source quotas. Its admit/evict
  *    deltas reduce to the final kept set by set arithmetic
  *    ([[capKept]]) — the materialized-view consumer a topic reader
  *    runs between stage 1 and stage 2.
  *  - the four ROW-LOCAL gates (Gopher, NB, winnow-vs-base-Bloom, MinK)
  *    evaluate in ONE stateless pass ([[gateFrame]]): the verdicts are
  *    per-row pure functions, so evaluating all four at arrival and
  *    applying them in chain order downstream is semantically identical
  *    to interleaving them around the stateful stage — and buys one scan
  *    instead of four. All models ship as literals (the collapsed
  *    persisted NB weights, the base corpus's winnow-fingerprint Bloom
  *    words from the persisted [[graft.ops.DedupIndex]], the
  *    vocab-bounded LM maps) — zero state, zero stream-static joins.
  *  - chunk dedup ([[StreamingChunkDedup]]) is the chain's one
  *    cross-document stateful stage: first instance of a 32-token chunk
  *    content claims it; a doc ALL of whose chunks were claimed by
  *    earlier docs adds nothing and is rejected ([[chunkRedundant]]).
  *  - the pack/manifest tail ([[StreamingShardPacker]] +
  *    [[StreamingManifest]], including the end-of-feed flush) consumes
  *    the final admitted stream.
  *
  * Stage boundaries are TOPICS: each stage is an independently-scaled
  * streaming job reading the previous stage's output (the per-doc
  * reduction of chunk verdicts happens at the stage-2→3 boundary — at
  * 100 TB a compaction consumer between topics). `CurationChainSpec`
  * replays the corpus through the full topology on MemoryStreams and
  * asserts the per-stage admitted SETS — and the stage funnel ledger
  * built from them ([[ledger]]) — equal the batch chain's, micro-batch
  * boundaries and all; the pack assignments and the flushed manifest
  * must equal the batch pack formulas over the same admitted set.
  */
object StreamingCurationChain {

  /** Stage names in chain order (the ledger's rows). */
  val Stages: Seq[String] = Seq("ingest", "source_cap", "gopher",
    "nb_gate", "chunk_dedup", "winnow_decontam", "mink_gate")

  /** Every literal the stateless battery embeds — built ONCE from the
    * persisted artifacts (ClassifierIndex, DedupIndex, LmIndex), the
    * ingest-gate discipline shared by all five Streaming*Gate modules. */
  final case class GateConfig(nbW: Map[String, Long], nbUnseen: Long,
      nbPriorGap: Long, bloomWords: Seq[Long],
      lm: StreamingMinKGate.LmLiterals)

  /** `basePred` selects the PROTECTED base split (benchmark docs) whose
    * winnow fingerprints — read from the persisted DedupIndex — feed the
    * decontamination Bloom; the feed under test is the complement. */
  def config(s: SparkSession, sfDir: String,
      basePred: org.apache.spark.sql.Column): GateConfig = {
    val cp = graft.ops.ClassifierIndex.ensure(s, sfDir,
      graft.ops.ClassifierIndex.Binary)
    val (seen, consts) = graft.ops.ClassifierIndex.trainModel(s, cp, 2)
    val (w, unseen, priorGap) = graft.ops.ClassifierOps.nbLinearFrom(seen, consts)
    val baseFp = graft.ops.DedupIndex.winnowFpDf(s,
        graft.ops.DedupIndex.ensure(s, sfDir))
      .filter(basePred).select(col("fp_hash")).distinct()
    val words = StreamingBloomGate.denseWords(
      graft.ops.DedupOps.bloomFilter(baseFp, col("fp_hash")))
    GateConfig(w, unseen, priorGap, words,
      StreamingMinKGate.literalsFrom(s, sfDir))
  }

  /** The stateless four-gate battery over `(doc_id, lang, text)` rows —
    * works on a streaming OR batch frame unchanged (the spec's batch twin
    * is this same function on the static corpus). Emits per-doc verdict
    * columns plus the doc attributes the pack tail needs. */
  def gateFrame(cfg: GateConfig)(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val evald = docs.selectExpr("doc_id", "lang", "text")
      .as[(Long, String, String)]
      .map { case (id, lang, tx) =>
        (id, lang, tx, StreamingGopherGate.evalDoc(id, tx).keep,
          StreamingMinKGate.evalDoc(cfg.lm, id, tx).admit)
      }
      .toDF("doc_id", "lang", "text", "gopher_pass", "mink_admit")
    val toks = graft.ops.TextOps.tokens(col("text"))
    evald
      .withColumn("nb_pass",
        StreamingNbGate.marginColumn(cfg.nbW, cfg.nbUnseen,
          cfg.nbPriorGap)(toks) > 0)
      .withColumn("winnow_novel", StreamingWinnowGate.novelColumn(
        StreamingBloomGate.bloomHits(cfg.bloomWords)(
          StreamingWinnowGate.fpHashArr(toks, col("text")))))
      .withColumn("ntok", size(toks).cast("long"))
      .withColumn("h", md5(col("text").cast("binary")))
      .select(col("doc_id"), col("lang"), col("text"), col("ntok"),
        col("h"), col("gopher_pass"), col("nb_pass"),
        col("winnow_novel"), col("mink_admit"))
  }

  /** t56's per-doc quality (stopword ppm, integer div — the batch op's
    * exact expression at `TextQueries` t56) as quota-gate offers over a
    * `(source, doc_id, text)` frame — streaming or batch unchanged (the
    * spec's batch twin is this same function on the static feed). */
  def capOffers(docs: DataFrame): org.apache.spark.sql.Dataset[StreamingSourceCap.CapOffer] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop", graft.ops.TextOps.wordSetCount(col("toks"),
        graft.ops.TextOps.stopwords))
      // greatest(n_tokens, 1): this stage is the chain's ingest front
      // door for arbitrary feeds, and under Spark 4's default ANSI mode
      // an empty/whitespace arrival (n_tokens = 0) would otherwise fail
      // the whole streaming query with a divide-by-zero. A degenerate
      // doc scores q = 0 ppm — gated out first under any quota — instead
      // of killing the topology. (The curated batch corpus has no
      // zero-token docs, so t56's oracle arithmetic is unchanged.)
      .select(col("source"), col("doc_id").as("docId"),
        expr("(n_stop * 1000000) div greatest(n_tokens, 1L)").as("q"),
        col("n_tokens").as("nTokens"))
      .as[StreamingSourceCap.CapOffer]
  }

  /** t56's corpus-derived quota over the feed: 80% of the mean source
    * size, floored at 1 (two scalars off one agg — driver-side by
    * design; the operational form takes the quota as configuration). */
  def derivedCap(offers: DataFrame): Int = {
    val r = offers.agg(count(lit(1)).cast("long").as("n"),
      countDistinct(col("source")).as("s")).head()
    math.max(1L, r.getLong(0) * 8L / (10L * r.getLong(1))).toInt
  }

  /** Reduce the quota stage's admit/evict delta stream to the FINAL kept
    * doc set: each doc arrives once, so kept = admitted ∖ evicted —
    * order-free set arithmetic, exactly what a downstream topic consumer
    * maintains incrementally. */
  def capKept(deltas: DataFrame): DataFrame =
    deltas.filter(col("admitted")).select(col("docId").as("doc_id"))
      .except(deltas.filter(col("evicted") >= 0)
        .select(col("evicted").as("doc_id")))

  /** Doc-level reduction of [[StreamingChunkDedup]] verdicts: a doc is
    * REDUNDANT iff every one of its chunks' contents was claimed by an
    * earlier instance (dupOf ≥ 0 on all rows) — it adds zero novel text.
    * Exact per micro-batch (a doc's chunk rows never split across
    * batches). */
  def chunkRedundant(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("docId").as("doc_id"))
      .agg((count(lit(1)) ===
        sum(when(col("dupOf") >= 0, 1L).otherwise(0L))).as("redundant"))

  /** The stage funnel from per-stage admitted-doc counts — one row per
    * [[Stages]] entry with docs in/out. Built identically from the
    * streamed or batch admitted sets (the spec asserts the SETS first,
    * so ledger equality follows; it exists as the chain's one-glance
    * reconciliation readout, p1's ledger discipline). */
  def ledger(counts: Seq[(String, Long, Long)]): Seq[(String, Long, Long, Long)] =
    counts.map { case (st, in, out) => (st, in, out, in - out) }
}
