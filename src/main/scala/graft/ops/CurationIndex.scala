package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED curation run — [[IvfIndex]]/[[ClassifierIndex]]'s
  * build-once/serve-many lifecycle applied to [[CurationLedger]]'s
  * composed chain, closing the round-9 finding that every p-family
  * consumer recomputed the identical normalize → gate → dedup →
  * collapse → decontaminate → mixture front from scratch (8× the
  * chain's cost per benchmark pass; at 100 TB, 8 full corpus passes
  * for one corpus's worth of answers).
  *
  * One [[build]] runs the chain ONCE and materializes the three
  * artifacts every downstream consumer actually needs:
  *
  *  - `docs/`     — per-doc curation record: (doc_id, lang, source,
  *    ntok_raw, ntok, norm_md5, doc_md5, margin_ppm, status,
  *    canonical_id). `status` is the p4 disposition (precedence =
  *    stage order), so ANY stage's survivor set is a status filter —
  *    the per-doc decisions commute with id-slicing, which is what
  *    lets p3's base/delta fronts and p6's what-if slices be served
  *    from this one table. `norm_md5`/`doc_md5` carry the exact-dedup
  *    and integrity hashes so no consumer re-normalizes or re-hashes
  *    text; `margin_ppm` is the gate's continuous score (p7's
  *    readiness readout).
  *  - `ledger/`   — p1's 9-row stage-boundary reconciliation ledger.
  *  - `manifest/` — p5's per-shard integrity manifest; p8 (train
  *    order) and p9 (crash resume) plan over these |shards| rows and
  *    never touch the corpus.
  *
  * Keying, completeness and build-or-serve are [[PersistedIndex]]'s
  * (under `target/curation-index/`). At 100 TB `docs/` is the
  * corpus-grain stage table the [[CurationLedger]] scaladoc names
  * (partitioned by source/date in a real deployment); `ledger/` and
  * `manifest/` are the run's control-plane rows.
  */
object CurationIndex {

  final case class Paths(root: String) extends PersistedIndex.Layout {
    def docs: String = s"$root/docs"
    def ledger: String = s"$root/ledger"
    def manifest: String = s"$root/manifest"
    def all: Seq[String] = Seq(docs, ledger, manifest)
  }

  /** Bump on ANY change to what [[build]] writes — [[CurationLedger]]'s
    * thresholds or stage semantics included, since p1/p4/p5/p7/p9 (and
    * cross-checks like p4-vs-p1) all read the SAME persisted artifact and
    * would keep agreeing on a stale one. See [[PersistedIndex]]. */
  val Version = 1

  /** ONE chain run → the three persisted artifacts. */
  def build(s: SparkSession, sfDir: String, root: String): Paths = {
    val p = Paths(root)
    val st = CurationLedger.stages(s, sfDir)
    val base = st.raw.select(col("doc_id"), col("lang"), col("source"),
      col("ntok_raw"), md5(col("text").cast("binary")).as("doc_md5"))
    val s1attrs = st.s1.select(col("doc_id"), col("ntok"),
      md5(col("norm_text").cast("binary")).as("norm_md5"))
    base
      .join(s1attrs, Seq("doc_id"), "left")
      .join(st.margins, Seq("doc_id"), "left")
      .join(CurationLedger.disposition(st), "doc_id")
      .write.mode("overwrite").parquet(p.docs)
    CurationLedger.ledger(st)
      .coalesce(1).write.mode("overwrite").parquet(p.ledger)
    CurationLedger.manifest(st.s6)
      .write.mode("overwrite").parquet(p.manifest)
    p
  }

  /** Build iff the artifacts for this corpus don't exist yet. */
  def ensure(s: SparkSession, sfDir: String): Paths = {
    val root = PersistedIndex.root("curation-index", Version, sfDir,
      graft.Tables.documents(s, sfDir), "doc_id", "text")
    PersistedIndex.ensure(s, Paths(root))(build(s, sfDir, root))
  }

  def docsDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.docs)
  def ledgerDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.ledger)
  def manifestDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.manifest)
}
