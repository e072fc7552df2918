package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted stupid-backoff language model — the fourth and last trained
  * artifact to get the build-once / serve-many split ([[IvfIndex]] for
  * vectors, [[ClassifierIndex]] for the quality model, [[Bm25Index]] for
  * lexical retrieval): t37 re-derives the pair / prefix / unigram count
  * tables from the training split inside every invocation; a CCNet-style
  * curation run trains the LM once per corpus and then scores every
  * candidate document against the persisted counts.
  *
  * On-disk layout (parquet under `target/lm-index/<corpus key>/`):
  *  - `pair/`   — (w1, w2, pair_cnt): seen-bigram counts
  *  - `pref/`   — (w1, pref_cnt): bigram-prefix totals
  *  - `uni/`    — (w2, uni_cnt): unigram counts (the backoff table)
  *  - `totals/` — one row (n_tok)
  * All counts are exact BIGINTs from the doc_id%4≠0 training split
  * (t37's spec), so persisted-model scoring is bit-identical to t37's
  * in-query form. Keying, completeness and build-or-serve are
  * [[PersistedIndex]]'s.
  *
  * Scale shape: the build is three map-side-combinable count aggs over
  * one corpus scan; the tables are VOCAB-bounded (|bigram types|, not
  * |corpus|). Scoring joins candidate bigrams against them on natural
  * keys — the same two-shuffle profile as t37, minus all training. The
  * tables are written unpartitioned: corpus-wide scoring touches every
  * key, so there is nothing to prune (unlike [[Bm25Index]], whose
  * queries probe a few terms).
  */
object LmIndex {

  final case class IndexPaths(root: String) extends PersistedIndex.Layout {
    def pair: String = s"$root/pair"
    def pref: String = s"$root/pref"
    def uni: String = s"$root/uni"
    def totals: String = s"$root/totals"
    def all: Seq[String] = Seq(pair, pref, uni, totals)
  }

  private def corpusToks(s: SparkSession, sfDir: String): DataFrame =
    graft.Tables.fanout(graft.Tables.documents(s, sfDir))
      .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("toks"))

  /** (doc_id, w1, w2) bigram instances of docs with ≥2 tokens. */
  def bigramsOf(df: DataFrame): DataFrame =
    df.filter(size(col("toks")) > 1)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a: Column, b: Column) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Bump on ANY change to what [[build]] writes (tokenizer, training
    * split, count tables) — see [[PersistedIndex]]. */
  val Version = 1

  /** Derive the t37 model tables from the training split and persist. */
  def build(s: SparkSession, sfDir: String, root: String): IndexPaths = {
    val p = IndexPaths(root)
    val model = corpusToks(s, sfDir).filter(col("doc_id") % 4 =!= 0)
    val mBi = bigramsOf(model)
    mBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_cnt"))
      .write.mode("overwrite").parquet(p.pair)
    mBi.groupBy(col("w1")).agg(count(lit(1)).as("pref_cnt"))
      .write.mode("overwrite").parquet(p.pref)
    model.select(explode(col("toks")).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("uni_cnt"))
      .write.mode("overwrite").parquet(p.uni)
    model.select(explode(col("toks")).as("w"))
      .agg(count(lit(1)).as("n_tok"))
      .coalesce(1).write.mode("overwrite").parquet(p.totals)
    p
  }

  /** Build iff the index for this corpus doesn't exist yet. */
  def ensure(s: SparkSession, sfDir: String): IndexPaths = {
    val root = PersistedIndex.root("lm-index", Version, sfDir,
      graft.Tables.documents(s, sfDir), "doc_id", "text")
    PersistedIndex.ensure(s, IndexPaths(root))(build(s, sfDir, root))
  }

  /** Score the doc_id%4=0 holdout against the PERSISTED model — t37's
    * exact integer arithmetic (seen → pair/pref ppm, unseen →
    * 2·uni∕(5·N)), bit-identical output columns. */
  def scoreHoldout(s: SparkSession, sfDir: String, p: IndexPaths): DataFrame =
    scoreBigrams(s, holdoutBigrams(s, sfDir), p)

  /** The holdout split's (doc_id, w1, w2) bigrams (doc_id % 4 == 0). */
  def holdoutBigrams(s: SparkSession, sfDir: String): DataFrame =
    bigramsOf(corpusToks(s, sfDir).filter(col("doc_id") % 4 === 0))

  /** Per-BIGRAM scores against the persisted tables: (doc_id, w1, w2,
    * score_ppm, backoff) — the raw grain under [[scoreBigrams]]'
    * per-doc aggregate; t55's min-k% selection needs it. */
  def scoreBigramsRaw(s: SparkSession, bigrams: DataFrame,
      p: IndexPaths): DataFrame =
    bigrams
      .join(s.read.parquet(p.pair), Seq("w1", "w2"), "left")
      .join(s.read.parquet(p.pref), Seq("w1"), "left")
      .join(s.read.parquet(p.uni), Seq("w2"), "left")
      .crossJoin(broadcast(s.read.parquet(p.totals)))
      .withColumn("score_ppm", expr(
        """CASE WHEN pair_cnt IS NOT NULL
          |     THEN (pair_cnt * 1000000) div pref_cnt
          |     ELSE (coalesce(uni_cnt, 0) * 2000000) div (5 * n_tok)
          |END""".stripMargin))
      .withColumn("backoff", when(col("pair_cnt").isNull, 1L).otherwise(0L))
      .select(col("doc_id"), col("w1"), col("w2"),
        col("score_ppm"), col("backoff"))

  /** t37's per-doc scoring of arbitrary (doc_id, w1, w2) bigrams against
    * the persisted tables. */
  def scoreBigrams(s: SparkSession, bigrams: DataFrame,
      p: IndexPaths): DataFrame =
    scoreBigramsRaw(s, bigrams, p)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("backoff")).as("n_backoff"),
        sum(col("score_ppm")).as("sum_ppm"))
      .withColumn("avg_ppm", expr("sum_ppm div n_bigrams"))
}
