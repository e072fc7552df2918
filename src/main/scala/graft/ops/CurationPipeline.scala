package graft.ops

import graft.ops.TextOps._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the library's operators composed
  * into the pipeline a 100 TB pretraining-data run actually executes.
  *
  *   raw documents
  *     → normalize (lowercase, strip punctuation, collapse whitespace)
  *     → quality gate (token count, trigram diversity, top-token share)
  *     → exact dedup (content-hash, min-doc_id keeper)
  *     → near-dup dedup (SimHash bands → salted pair join → connected
  *       components; keep each component's canonical keeper)
  *     → per-language stratified downsampling (deterministic content hash)
  *     → train/val/test content-hash split
  *     → token-budget shard assignment
  *
  * Every stage is one of the oracle-verified operators (t10, t12, d1,
  * d5/d7, t16, t11, t15) — this composition adds no new semantics, only
  * the glue, plus an `Observation` so stage attrition counts ride the job.
  *
  * Scale shape: stages 1-3 and 5-7 are narrow or single-shuffle; the
  * near-dup stage is the d7 plan (per-row sketches, salted band join,
  * iterative small joins). Nothing collects to the driver except the
  * connected-components fixpoint counts.
  */
object CurationPipeline {

  val MinTokens = 5
  val MinTriDiversity = 0.30
  val MaxTopTokenShare = 0.50
  val ShardTokens = 512L

  /** Curate `docs` (doc_id, text, lang, source). Returns the curated frame:
    * doc_id, lang, source, norm_text, n_tokens, bucket, split, shard.
    * `obs` (optional) receives per-stage attrition counters. */
  def curate(docs: DataFrame, obs: Option[Observation] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // 1. normalize (t10)
    val cleaned = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val normed = docs.select(col("doc_id"), col("lang"), col("source"),
      cleaned.as("norm_text"))

    // 2. quality gate (t12 signals over the normalized text)
    val toks = tokens(col("norm_text"))
    val tris = DedupOps.shingles(col("toks"), col("norm_text"))
    val scored = normed
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("tris", tris)
      .withColumn("tri_div",
        size(array_distinct(col("tris"))).cast("double") / size(col("tris")))
      .withColumn("top_share",
        topTokenCount(col("toks")).cast("double") / col("n_tokens"))
    val quality = scored
      .filter(col("n_tokens") >= MinTokens &&
        col("tri_div") >= MinTriDiversity &&
        col("top_share") <= MaxTopTokenShare)
      .select(col("doc_id"), col("lang"), col("source"), col("norm_text"),
        col("n_tokens"))

    // 3. exact dedup (d1): keep the smallest doc_id per content hash
    val keeperW = Window.partitionBy(md5(col("norm_text").cast("binary")))
      .orderBy(col("doc_id"))
    val exactDeduped = quality
      .withColumn("rn", row_number().over(keeperW))
      .filter(col("rn") === 1).drop("rn")

    // 4. near-dup dedup (d5 candidates + d7 components over them)
    val withSketch = exactDeduped
      .withColumn("hs", DedupOps.tokenHashes(tokens(col("norm_text"))))
    val pairs = DedupOps.simhashPairs(
        DedupOps.simhashBands(withSketch, DedupOps.simhash32(col("hs"))),
        maxHamming = 3)
      .select(col("doc_a"), col("doc_b"))
    val canon = DedupOps.connectedComponents(pairs,
      exactDeduped.select(col("doc_id")))
    val nearDeduped = exactDeduped
      .join(canon, "doc_id")
      .filter(col("doc_id") === col("canon_id"))
      .drop("canon_id")

    // 5. stratified downsample (t16) + 6. split (t11) off one hash each
    val smpBucket = pmod(hash60(concat(lit("smp|"), col("norm_text"))), lit(1000L))
    val keepRate = when(col("lang") === "en", 500L)
      .when(col("lang") === "de", 800L).otherwise(1000L)
    val splitBucket = pmod(hash60(col("norm_text")), lit(100L))
    val sampled = nearDeduped
      .filter(smpBucket < keepRate)
      .withColumn("bucket", splitBucket)
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val")
          .otherwise("test"))

    // 7. token-budget shards (t15) within (split, lang)
    val packW = Window.partitionBy(col("split"), col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val curated = sampled
      .withColumn("prefix_toks",
        coalesce(sum(col("n_tokens")).over(packW), lit(0L)))
      .withColumn("shard",
        floor(col("prefix_toks") / ShardTokens).cast("long"))
      .select(col("doc_id"), col("lang"), col("source"), col("norm_text"),
        col("n_tokens"), col("bucket"), col("split"), col("shard"))

    obs match {
      case Some(o) =>
        curated.observe(o,
          count(lit(1)).as("n_curated"),
          sum(col("n_tokens")).as("total_tokens"),
          max(col("shard")).as("max_shard"))
      case None => curated
    }
  }

  /** Final materialization: overlapping token-window chunks (t17) over the
    * curated corpus — the rows a trainer actually consumes, still tagged
    * with (split, shard). Narrow stage: sequence/explode/slice pipeline
    * inside the scan, no shuffle added to [[curate]]'s output. */
  def chunkForTraining(curated: DataFrame, chunkTok: Int = 128,
      stride: Int = 96): DataFrame = {
    val sliced = slice(col("toks"), col("chunk_start") + 1, lit(chunkTok))
    curated
      .withColumn("toks", tokens(col("norm_text")))
      .filter(size(col("toks")) > 0)
      .withColumn("chunk_start",
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .select(col("doc_id"), col("split"), col("shard"),
        col("chunk_start").cast("long").as("chunk_start"),
        size(sliced).cast("long").as("n_chunk_toks"),
        array_join(sliced, " ").as("chunk_text"))
  }
}
