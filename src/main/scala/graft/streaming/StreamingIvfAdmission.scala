package graft.streaming

import graft.ops.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-time admission into the persisted IVFADC index
  * ([[graft.ops.IvfIndex]]): a training-data pipeline ingests vectors
  * continuously, and each new vector must be assigned to its inverted
  * list (argmin-d² coarse centroid) and PQ-encoded (argmin-d² codeword
  * per subspace) — the serving index ACCRETES instead of being rebuilt.
  *
  * This is a stream-static composition with the static side folded into
  * the plan: the index's 8 centroids + 64 codebook rows are read once at
  * stream start and embedded as LITERAL centroid arrays, and every argmin
  * is the one [[graft.functions.VectorExpressions.NearestCentroid]]
  * kernel that the batch index build runs too (`kmeansFit`'s assign step
  * and `pqEncodeCol`). Per-row work is a fixed arithmetic expression
  * inside whole-stage codegen: no per-batch join, no state, no shuffle.
  * A stream-static broadcast join would re-deserialize the static side
  * every micro-batch for the same answer.
  *
  * Exactness: the stream and the batch encode share the kernel and its
  * inputs (doubles roundtrip parquet exactly, and each literal ‖c‖² is the
  * same ascending fold `vec_norm2` computes), so a replay of the corpus
  * through this stream yields byte-equal rows to the index's own `codes`
  * table; `StreamingIvfAdmissionSpec` asserts exactly that. Appending the
  * emitted rows to `codes/` (partitionBy list_id) is then a pure sink
  * concern — the standard file-sink append the chunk/near-dup gates
  * already demonstrate.
  *
  * Output: (vid, list_id, c0..c3 TINYINT) — the index row shape. */
object StreamingIvfAdmission {

  /** Literal-embedded admission projection over a (id, emb ARRAY<DOUBLE>)
    * frame — works identically on a static frame or a streaming one. */
  def admissions(s: SparkSession, vecs: DataFrame,
      p: IvfIndex.IndexPaths): DataFrame = {
    val cbs = IvfIndex.readCodebooks(s, p)
    val cents = s.read.parquet(p.centroids)
      .select(col("list_id").cast("long"), col("centroid")).collect()
      .map { r =>
        val cent = r.getSeq[Double](1)
        (r.getLong(0), cent, cent.foldLeft(0.0)((a, x) => a + x * x))
      }.toSeq
    vecs.select(col("id").as("vid"),
      graft.functions.VectorExpressions.nearest_centroid(col("emb"),
        typedLit(cents)).getField("cid").as("list_id"),
      graft.queries.SimilarityQueries.pqEncodeCol(cbs, 0)
        .cast("tinyint").as("c0"),
      graft.queries.SimilarityQueries.pqEncodeCol(cbs, 1)
        .cast("tinyint").as("c1"),
      graft.queries.SimilarityQueries.pqEncodeCol(cbs, 2)
        .cast("tinyint").as("c2"),
      graft.queries.SimilarityQueries.pqEncodeCol(cbs, 3)
        .cast("tinyint").as("c3"))
  }
}
