package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED dedup artifacts — the [[IvfIndex]]/[[ClassifierIndex]]/
  * [[Bm25Index]]/[[LmIndex]]/[[CurationIndex]] build-once/serve-many
  * lifecycle applied to the d-family's candidate machinery, closing the
  * round-10 finding that every headline d-query re-derived the same
  * corpus-wide intermediates from scratch (the SimHash banded pair join
  * appeared in ~20 query bodies, `candidatePairs(lshBands(minhash...))`
  * in 7, winnowing in 4 — and d40 re-ran the FULL connected-components
  * driver loop per report, 12.2 s that a serve-only scan replaces).
  *
  * One [[build]] computes the corpus's dedup signals ONCE and persists
  * every frame downstream consumers actually reuse:
  *
  *  - `minhash/`     — (doc_id, h0..h15) MinHash signatures ([[DedupOps.
  *    minhashSignatureNarrow]]); d12's delta probe and d39's banding
  *    sweep re-band these without re-shingling the corpus.
  *  - `candidates/`  — (doc_a, doc_b) LSH band collisions at the engine
  *    knobs ([[Bands]]×[[RowsPerBand]]) — the pre-verify candidate frame
  *    d11/d22/d28/d44 verify against their own scores. d2 (the oracle-
  *    gated end-to-end MinHash+LSH operator) intentionally KEEPS the
  *    from-scratch chain: it is the correctness gate on this builder.
  *  - `edges/`       — (doc_a, doc_b, hamming) SimHash pairs at hamming
  *    ≤ [[MaxHamming]] over the full doc graph (d5's output; d5 likewise
  *    stays from-scratch as the builder's oracle gate). Serves the graph
  *    family (d8d/d9b/d13/d15/d17/d25/d29/d32...).
  *  - `canonical/`   — (doc_id, canon_id) connected-component labels over
  *    `edges` (d7's output, d7/d33/d35 staying from-scratch as the three
  *    independent CC validators). Serves d40/d21/d27/d32 — the component
  *    CONSUMERS, which at 100 TB read yesterday's persisted star forest,
  *    never re-pay the corpus-wide CC per report.
  *  - `classes/` + `class_edges/` + `class_canon/` — the sketch-class
  *    collapse (one node per distinct SimHash, min-id representative),
  *    its hamming-banded analytics edges, and the star-CC labels over
  *    them. Serves the residual graph family (d9r/d25r/d29r/d33r/d34/
  *    d36/d42): the collapse is an index build, not a per-report cost.
  *  - `winnow_fp8/`  — (doc_id, fp_hash, fp_pos) MOSS winnowing
  *    fingerprints at w = [[WinW]] ([[DedupOps.winnowFps]], the
  *    [[graft.functions.WinnowKernel]] selection); serves d44/d45's
  *    position-aware candidate legs. d43 (the w-sweep TRAINER) runs the
  *    same kernel from scratch — it is to this artifact what n14 is to n15.
  *
  * Every persisted frame is a deterministic pure function of the corpus
  * (md5/xxhash-derived hashing, min-label/star CC, window minima), so
  * serving is BIT-IDENTICAL to the in-query recompute it replaces and
  * every consumer's DuckDB oracle is unchanged — the [[ClassifierIndex]]
  * served-artifact bit-parity precedent. Raw shingle/k-gram hash tables
  * are deliberately NOT persisted: they are |tokens|-grain scan-stage
  * intermediates (an artifact larger than the corpus), and everything
  * reused downstream of them IS persisted above.
  *
  * Keying, completeness and build-or-serve are [[PersistedIndex]]'s
  * (under `target/dedup-index/`). At 100 TB: signatures/edges partition
  * by hash bucket, the star forest is the parquet persisted between
  * corpus drops (d35's incremental-CC refresh consumes exactly it), and
  * `candidates/` is what the ingest-time delta probes (d12) band against.
  */
object DedupIndex {

  /** The engine's standard dedup knobs — the artifacts are built at
    * these; [[graft.queries.DedupQueries]] aliases them so query bodies
    * and the builder cannot drift apart. */
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4
  /** ≤3 with 4 byte-bands ⇒ banding is EXACT (pigeonhole: some band
    * survives). */
  val MaxHamming = 3
  /** Winnowing window for the persisted fingerprint index (d43's sweep
    * point the agreement audits consume). */
  val WinW = 8
  /** MOSS boilerplate cull: fingerprints in more docs than this are
    * dropped before pairing. */
  val WinMaxDocs = 10

  final case class Paths(root: String) extends PersistedIndex.Layout {
    def minhash: String = s"$root/minhash"
    def candidates: String = s"$root/candidates"
    def edges: String = s"$root/edges"
    def canonical: String = s"$root/canonical"
    def classes: String = s"$root/classes"
    def classEdges: String = s"$root/class_edges"
    def classCanon: String = s"$root/class_canon"
    def winnowFp: String = s"$root/winnow_fp8"
    def all: Seq[String] = Seq(minhash, candidates, edges, canonical,
      classes, classEdges, classCanon, winnowFp)
  }

  /** Bump on ANY change to what [[build]] writes (knobs, hash family,
    * CC algorithm) — see [[PersistedIndex]]. */
  val Version = 2

  /** ONE chain run → the eight persisted artifacts. Each derived frame
    * is built FROM the already-persisted parquet of its input (not the
    * in-memory lineage), so nothing upstream is recomputed twice. */
  def build(s: SparkSession, sfDir: String, root: String): Paths = {
    val p = Paths(root)
    def write(df: DataFrame, path: String): DataFrame = {
      df.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }
    val ds = graft.Tables.documents(s, sfDir)
    // SimHash sketch per doc — feeds both the doc graph and the class
    // collapse; checkpointed so the tokenize+sketch pass runs once.
    val sk = ds
      .withColumn("hs", DedupOps.tokenHashes(TextOps.tokens(col("text"))))
      .select(col("doc_id"), DedupOps.simhash32(col("hs")).as("simhash"))
      .transform(graft.Tables.stage)
    val edges = write(DedupOps.simhashPairs(
      DedupOps.simhashBands(sk, col("simhash")), MaxHamming), p.edges)
    write(DedupOps.connectedComponents(
      edges.select(col("doc_a"), col("doc_b")),
      ds.select(col("doc_id"))), p.canonical)
    val classes = write(sk.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("doc_id")), p.classes)
    val classEdges = write(DedupOps.simhashPairs(
      DedupOps.simhashBands(classes, col("simhash")), MaxHamming),
      p.classEdges)
    write(DedupOps.starComponents(
      classEdges.select(col("doc_a"), col("doc_b")),
      classes.select(col("doc_id"))), p.classCanon)
    val sig = write(DedupOps.minhashSignatureNarrow(
      DedupOps.shingleArrays(ds), NumHashes), p.minhash)
    write(DedupOps.candidatePairs(
      DedupOps.lshBands(sig, Bands, RowsPerBand)), p.candidates)
    write(DedupOps.winnowFps(DedupOps.winnowTokens(ds), WinW), p.winnowFp)
    p
  }

  /** Build iff the artifacts for this corpus don't exist yet. */
  def ensure(s: SparkSession, sfDir: String): Paths = {
    val root = PersistedIndex.root("dedup-index", Version, sfDir,
      graft.Tables.documents(s, sfDir), "doc_id", "text")
    PersistedIndex.ensure(s, Paths(root))(build(s, sfDir, root))
  }

  def minhashDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.minhash)
  def candidatesDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.candidates)
  def edgesDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.edges)
  def canonicalDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.canonical)
  def classesDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.classes)
  def classEdgesDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.classEdges)
  def classCanonDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.classCanon)
  def winnowFpDf(s: SparkSession, p: Paths): DataFrame =
    s.read.parquet(p.winnowFp)
}
