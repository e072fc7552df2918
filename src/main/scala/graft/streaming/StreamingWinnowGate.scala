package graft.streaming

import graft.functions.WinnowKernel.winnow_keys
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Near-duplicate novelty gating at INGEST with winnowing fingerprints:
  * d43's window-min selection is a PER-DOCUMENT computation
  * ([[graft.functions.WinnowKernel]], the kernel d43 and the DedupIndex
  * build call — no cross-row state), so a stream can fingerprint each
  * arriving document and test it against the BASE corpus's fingerprint
  * set without a shuffle or a state store. The base set ships as d30's
  * 2¹⁶-bit Bloom filter ([[graft.ops.DedupOps.bloomFilter]] over
  * `fp_hash`: 2048 OR-folded words, ONE literal array column — the
  * [[StreamingBloomGate]] / StreamingIvfAdmission literal-embedding
  * discipline), probed 3× per distinct fingerprint hash per row.
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
  * never re-ships per batch, per-doc cost is one kernel pass (an md5 per
  * k-gram, a min per window) plus 3 md5 probes per fingerprint,
  * independent of corpus size; the Bloom is rebuilt from the persisted
  * fingerprint table at the [[graft.ops.Bm25Index]]-style corpus-key
  * cadence.
  */
object StreamingWinnowGate {
  val W = 8

  /** Distinct position-free fingerprint hashes of one document. */
  def fpHashArr(toks: Column, text: Column): Column =
    array_distinct(transform(winnow_keys(toks, trim(text), W),
      k => shiftright(k, 21)))

  /** Novel = none of the doc's [[fpHashArr]] hashes hits the Bloom
    * ([[StreamingBloomGate.bloomHits]]); matched ≥ 1 routes it to dedup. */
  def novelColumn(matched: Column): Column = matched === 0L
}
