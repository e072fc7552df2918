package graft.streaming

import graft.ops.DedupOps.{BloomBits, BloomSalts}
import graft.ops.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Decontamination at INGEST: d30's 2¹⁶-bit benchmark Bloom filter (2048
  * OR-folded 32-bit words) embedded as ONE literal array column in a
  * STATELESS streaming projection — no stream-static join, no shuffle, no
  * state store (the StreamingIvfAdmission literal-embedding discipline).
  * Each arriving document is scored per-row with higher-order functions:
  * 3 salted-md5 probes per distinct shingle against the ~16 KB in-plan
  * word table. Bloom one-sidedness gives the admission gate its contract:
  * NO false negatives — a doc sharing ≥ threshold shingles with the
  * benchmark set is always flagged; false-positive shingles only ever
  * raise n_bloom (d30 measures that rate offline against the exact join).
  * At 100 TB ingest this is the right shape: the benchmark set never
  * re-ships per batch, and per-doc cost is independent of corpus size.
  */
object StreamingBloomGate {
  /** Dense word table from d30's sparse (word, bits) rows
    * ([[graft.ops.DedupOps.bloomFilter]]) — missing words carry 0,
    * mirroring d30's LEFT-join-to-unset-bits semantics. */
  def denseWords(bloom: DataFrame): Seq[Long] = {
    val m = bloom.select(col("word"), col("bits")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until BloomBits / 32).map(w => m.getOrElse(w, 0L))
  }

  /** Count of distinct shingles in `shArr` whose k=1..3 Bloom bits are all
    * set — the per-row streaming equivalent of d30's `all_set` aggregate. */
  def bloomHits(words: Seq[Long])(shArr: Column): Column = {
    val wordsLit = typedLit(words)
    val masks = typedLit((0 until 32).map(i => 1L << i))
    def allSet(sh: Column): Column = BloomSalts.map { k =>
      val b = pmod(TextOps.saltedHash60(sh, k), lit(BloomBits))
      val wordVal = element_at(wordsLit, (shiftright(b, 5) + 1).cast("int"))
      val mask = element_at(masks, (pmod(b, lit(32L)) + 1).cast("int"))
      wordVal.bitwiseAND(mask) =!= lit(0L)
    }.reduce(_ && _)
    size(filter(array_distinct(shArr), allSet _)).cast("long")
  }
}
