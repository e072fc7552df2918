package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted NB quality-classifier model — the train-once / serve-many
  * lifecycle split ([[IvfIndex]]'s pattern) applied to the t38 distilled
  * filter: through round 8, every t38-family query re-tokenized the
  * corpus and re-derived the same count tables (~14 s of the headline
  * was six rebuilds of one model). A production curation gate trains the
  * filter ONCE, materializes it, and serves every sweep/eval/stream from
  * the artifact; this module is that artifact.
  *
  * On-disk layout (parquet, under `target/nb-model/<corpus key>-<kind>/`):
  *  - `tokcnt/`   — (fold, cls, tok, cnt): per-CV-fold per-class token
  *    counts over the WHOLE corpus (fold = doc_id % 4). Vocab-bounded
  *    ×folds×classes. These are the model's sufficient statistics in
  *    their finest re-aggregatable grain: the serve model sums folds
  *    1–3 (train); t38e's fold-f model is total − fold f (count
  *    subtraction — BIGINT sums re-aggregate exactly in any order, so
  *    every derived model is bit-identical to in-query training).
  *  - `docstats/` — (fold, cls, ndocs): per-fold class priors' counts.
  *  - `teacher/`  — (doc_id, fold, cls, teacher_bp): the TEACHER signal
  *    per doc — heuristic label + stop-ratio in bp — written once so
  *    label recomputation (a full tokenize pass) never recurs in eval
  *    queries. One thin row per doc (the IvfIndex codes discipline:
  *    ~24 B/doc payload at 100 TB, vs re-tokenizing the corpus per
  *    query).
  *
  * Keying (with the label kind as suffix), completeness and
  * build-or-serve are [[PersistedIndex]]'s.
  *
  * Scale shape: the build is ONE tokenize pass feeding three combinable
  * aggregations + three writes; nothing but _SUCCESS markers reaches the
  * driver. Serving reads the vocab-bounded stats, derives the model
  * (ln arithmetic over ≤ vocab×folds×classes rows), and broadcasts it
  * into the scoring token scan — the corpus-side cost of a t38-family
  * query drops to its own scoring scan.
  */
object ClassifierIndex {

  /** Label kinds — which teacher labeling the persisted model distills. */
  val Binary = "binary"
  val Tercile = "tercile"

  /** CV folds (doc_id % Folds; fold 0 is the t38 holdout). */
  val Folds = 4

  final case class Paths(root: String) extends PersistedIndex.Layout {
    def tokcnt: String = s"$root/tokcnt"
    def docstats: String = s"$root/docstats"
    def teacher: String = s"$root/teacher"
    def all: Seq[String] = Seq(teacher, tokcnt, docstats)
  }

  /** The teacher label column for `kind` over a tokens array — verbatim
    * the t38/t39 heuristics (stop-ratio threshold / terciles). */
  private def labelCol(kind: String, toks: Column): Column = {
    import graft.queries.TextQueries.{QualityKeepBp, TercileLoBp, TercileHiBp}
    val stop = TextOps.wordSetCount(toks, TextOps.stopwords) * 10000
    kind match {
      case Binary =>
        when(stop >= lit(QualityKeepBp) * size(toks), 1).otherwise(0)
      case Tercile =>
        when(stop < lit(TercileLoBp) * size(toks), 0)
          .when(stop < lit(TercileHiBp) * size(toks), 1)
          .otherwise(2)
    }
  }

  /** Bump on ANY change to what [[build]] writes (tokenizer, teacher
    * heuristics, fold split) — see [[PersistedIndex]]. */
  val Version = 1

  /** The model location for this corpus and label kind. */
  def indexRoot(s: SparkSession, sfDir: String, kind: String): String =
    PersistedIndex.root("nb-model", Version, sfDir,
      graft.Tables.documents(s, sfDir), "doc_id", "text", kind)

  /** One tokenize pass → teacher labels + fold-grained count stats. */
  def build(s: SparkSession, sfDir: String, kind: String,
      root: String): Paths = {
    val p = Paths(root)
    val t = graft.Tables.fanout(graft.Tables.documents(s, sfDir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .transform(graft.Tables.stage)
    t.select(col("doc_id"), (col("doc_id") % Folds).as("fold"),
        labelCol(kind, col("toks")).as("cls"),
        TextOps.wordSetCount(col("toks"), TextOps.stopwords).as("ns"),
        size(col("toks")).cast("long").as("nt"))
      .select(col("doc_id"), col("fold"), col("cls"),
        expr("ns * 10000 div nt").as("teacher_bp"))
      .write.mode("overwrite").parquet(p.teacher)
    val teach = s.read.parquet(p.teacher)
    val tf = t.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    tf.join(teach.select(col("doc_id"), col("fold"), col("cls")), "doc_id")
      .groupBy(col("fold"), col("cls"), col("tok"))
      .agg(sum(col("tf")).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(p.tokcnt)
    teach.groupBy(col("fold"), col("cls"))
      .agg(count(lit(1)).as("ndocs"))
      .coalesce(1).write.mode("overwrite").parquet(p.docstats)
    p
  }

  /** Build iff the model for this corpus+kind doesn't exist yet. */
  def ensure(s: SparkSession, sfDir: String, kind: String): Paths = {
    val root = indexRoot(s, sfDir, kind)
    PersistedIndex.ensure(s, Paths(root))(build(s, sfDir, kind, root))
  }

  /** The persisted teacher frame (doc_id, fold, cls, teacher_bp). */
  def teacher(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.teacher)

  /** The serve model over the TRAIN folds (fold ≠ 0), derived from the
    * persisted stats — bit-identical to `nbModel(trainTf, trainLab, k)`
    * on the same docs ([[ClassifierOps.nbModelFromStats]] shares the
    * arithmetic; the stats are exact BIGINT re-aggregations). */
  def trainModel(s: SparkSession, p: Paths,
      k: Int): (DataFrame, DataFrame) =
    modelFolds(s, p, Seq(1, 2, 3), k)

  /** Model over an ARBITRARY fold subset — the grain that makes the
    * persisted stats a mergeable model: adding a data delta (one more
    * fold) to a served model is a count ADDITION over these frames, not
    * a retrain (t41's refresh contract; [[graft.queries.TextQueries]]
    * t38e derives its CV models by the subtraction dual). */
  def modelFolds(s: SparkSession, p: Paths, folds: Seq[Int],
      k: Int): (DataFrame, DataFrame) = {
    val in = folds.map(f => lit(f.toLong))
    val train = s.read.parquet(p.tokcnt).filter(col("fold").isin(in: _*))
    val dtrain = s.read.parquet(p.docstats).filter(col("fold").isin(in: _*))
    ClassifierOps.nbModelFromStats(s,
      train.groupBy(col("cls"), col("tok")).agg(sum(col("cnt")).as("cnt")),
      train.groupBy(col("cls")).agg(sum(col("cnt")).as("t")),
      train.agg(countDistinct(col("tok")).as("v")),
      dtrain.groupBy(col("cls")).agg(sum(col("ndocs")).as("c")),
      dtrain.agg(sum(col("ndocs")).as("n")),
      k)
  }
}
