package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index — the build-once / serve-many lifecycle for
  * lexical retrieval, completing the trilogy with [[IvfIndex]] (vectors)
  * and [[ClassifierIndex]] (the quality model): t36 re-derives tf, df,
  * doc-length, and corpus stats from the raw corpus inside every
  * invocation; a search tier pays that scan once at build time and then
  * serves every query set from the index.
  *
  * On-disk layout (parquet under `target/bm25-index/<corpus key>/`):
  *  - `postings/` — one row per (tok, did) with tf AND the doc length dl
  *    denormalized in (the impact-ordered-index trick: scoring needs
  *    |candidate postings| rows of self-contained state, so serving
  *    never joins a |corpus| doc-length table). Written
  *    `partitionBy(bucket)`, bucket = `pmod(hash(tok), Buckets)` — the
  *    directory layout IS the term partition, and a query's buckets
  *    prune the scan to the probed directories.
  *  - `lexicon/`  — (tok, df) per distinct term, same bucket layout.
  *  - `stats/`    — one row (n_docs, n_toks), exact BIGINTs.
  *
  * Keying, completeness and build-or-serve are [[PersistedIndex]]'s.
  *
  * Serving reads the 1-row stats file, the pruned lexicon rows for the
  * query's terms, and the pruned postings buckets; the query-term frame
  * broadcasts into the postings scan. All stored values are exact
  * BIGINTs, so served scores are bit-identical to t36's end-to-end form
  * and both share one oracle.
  *
  * Scale shape: build = t36's two aggregations + two partitioned writes
  * (tf keyed by (did, tok), df by tok — both map-side combinable).
  * Serve = driver-side bucket resolution over the query vocabulary
  * (small by definition — it's the QUERY), then a partition-pruned scan
  * of ~|terms|/|vocab| of the index. Corpus growth adds postings rows
  * but never touches the serve plan's shape.
  */
object Bm25Index {
  import graft.queries.TextQueries.{Bm25DfPct, Bm25Queries, bm25Rank}

  /** Term-partition count. 32 keeps directories readable at test scale;
    * a 100 TB deployment raises it (buckets should hold ~1 GB each) —
    * the serve plan is bucket-count-agnostic. */
  val Buckets = 32

  final case class IndexPaths(root: String) extends PersistedIndex.Layout {
    def postings: String = s"$root/postings"
    def lexicon: String = s"$root/lexicon"
    def stats: String = s"$root/stats"
    def all: Seq[String] = Seq(postings, lexicon, stats)
  }

  private def bucketOf(tok: org.apache.spark.sql.Column) =
    pmod(hash(tok), lit(Buckets))

  private def corpusDocs(s: SparkSession, sfDir: String): DataFrame =
    graft.Tables.fanout(graft.Tables.documents(s, sfDir))
      .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("toks"))

  /** Bump on ANY change to what [[build]] writes (tokenizer, tf/df/dl
    * definitions, bucket layout) — see [[PersistedIndex]]. */
  val Version = 1

  /** Scan the corpus once and materialize postings + lexicon + stats. */
  def build(s: SparkSession, sfDir: String, root: String): IndexPaths = {
    val p = IndexPaths(root)
    val docs = corpusDocs(s, sfDir)
    val tf = docs
      .select(col("doc_id").as("did"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy(col("did"), col("tok"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    tf.withColumn("bucket", bucketOf(col("tok")))
      .write.mode("overwrite").partitionBy("bucket").parquet(p.postings)
    tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .withColumn("bucket", bucketOf(col("tok")))
      .write.mode("overwrite").partitionBy("bucket").parquet(p.lexicon)
    docs.select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
      .coalesce(1).write.mode("overwrite").parquet(p.stats)
    p
  }

  /** Build iff the index for this corpus doesn't exist yet. */
  def ensure(s: SparkSession, sfDir: String): IndexPaths = {
    val root = PersistedIndex.root("bm25-index", Version, sfDir,
      graft.Tables.documents(s, sfDir), "doc_id", "text")
    PersistedIndex.ensure(s, IndexPaths(root))(build(s, sfDir, root))
  }

  /** Serving-only BM25 top-k (t50): the t36 query set against the
    * persisted index. Output ≡ t36 (same oracle). */
  def serve(s: SparkSession, sfDir: String): DataFrame =
    serveFrom(s, sfDir, ensure(s, sfDir))

  /** [[serve]] against an explicit index location (test hook). */
  def serveFrom(s: SparkSession, sfDir: String, p: IndexPaths): DataFrame = {
    val q0 = corpusDocs(s, sfDir).filter(col("doc_id") < Bm25Queries)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(col("toks"))).as("tok"))
    // Driver-side probe resolution: the query vocabulary (NOT the corpus
    // vocabulary) — bounded by the query set's token count.
    val probes = q0.select(col("tok")).distinct()
      .select(col("tok"), bucketOf(col("tok")).as("bucket")).collect()
    val toks = probes.map(_.getString(0)).toSeq
    val bks = probes.map(_.getInt(1)).distinct.toSeq
    val stats = s.read.parquet(p.stats)
    val lex = s.read.parquet(p.lexicon)
      .filter(col("bucket").isin(bks: _*) && col("tok").isin(toks: _*))
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .filter(col("df") * 100 <= col("n_docs") * Bm25DfPct)
      .select(col("tok"), col("df"))
    val qt = q0.join(lex, "tok")
    val post = s.read.parquet(p.postings)
      .filter(col("bucket").isin(bks: _*) && col("tok").isin(toks: _*))
      .select(col("tok"), col("did"), col("tf"), col("dl"))
    bm25Rank(post, None, qt, stats)
  }
}
