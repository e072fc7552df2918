package graft.streaming

import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate novelty gating at INGEST with winnowing fingerprints:
  * d43's window-min selection is a PER-DOCUMENT computation
  * ([[DedupOps.winnowKeys]] — no cross-row state), so a stream can
  * fingerprint each arriving document and test it against the BASE
  * corpus's fingerprint set without a shuffle or a state store. The base
  * set ships as d30's 2¹⁶-bit Bloom filter (2048 OR-folded words, ONE
  * literal array column — the [[StreamingBloomGate]] /
  * StreamingIvfAdmission literal-embedding discipline), probed 3× per
  * distinct fingerprint hash per row.
  *
  * Bloom one-sidedness gives the gate its contract: NO false negatives —
  * a document sharing ANY winnowing fingerprint with the base corpus is
  * always flagged (and winnowing's own guarantee makes that fingerprint
  * exist whenever a shared token run spans ≥ w+k−1 tokens); false
  * positives only ever flag extra docs toward review, never admit a
  * near-dup as novel. Matching is on the position-FREE fingerprint hash
  * (`key >> 21`): near-dup content shares hashes at different offsets.
  *
  * At 100 TB ingest this is the right shape: the base fingerprint set
  * never re-ships per batch, per-doc cost is |tokens| window minima plus
  * 3 md5 probes per fingerprint, independent of corpus size; the Bloom
  * is rebuilt from the persisted fingerprint table at the [[graft.ops
  * .Bm25Index]]-style corpus-key cadence.
  */
object StreamingWinnowGate {
  val W = 8
  val Bits = StreamingBloomGate.Bits

  /** Distinct position-free fingerprint hashes of one document. */
  def fpHashArr(toks: Column, text: Column): Column =
    array_distinct(transform(DedupOps.winnowKeys(toks, text, W),
      k => shiftright(k, 21)))

  /** d30's (word, bits) Bloom rows over a base fingerprint-hash frame
    * (one `fp_hash` column) — k=1..3 salted-md5 bits, OR-folded words.
    * Feed to [[StreamingBloomGate.denseWords]] for the literal table. */
  def fingerprintBloom(fpHashes: DataFrame): DataFrame =
    fpHashes.select(explode(array((1 to 3).map(k =>
        pmod(TextOps.saltedHash60(col("fp_hash"), k), lit(Bits))): _*))
        .as("b"))
      .select(expr("b div 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))").as("mask"))
      .groupBy(col("word")).agg(bit_or(col("mask")).as("bits"))

  /** Novel = none of the doc's [[fpHashArr]] hashes hits the Bloom
    * ([[StreamingBloomGate.bloomHits]]); matched ≥ 1 routes it to dedup. */
  def novelColumn(matched: Column): Column = matched === 0L
}
