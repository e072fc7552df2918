package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted dedup artifacts' lifecycle contract (the ClassifierIndex
  * served-artifact precedent): every served frame is BIT-IDENTICAL to the
  * from-scratch chain it replaced in ~20 query bodies, and ensure() builds
  * once per corpus. The from-scratch recomputes here are the exact
  * pre-round-11 query-body forms — this spec is what lets the consumers'
  * oracles stay unchanged. */
class DedupIndexSpec extends SparkSpecBase {
  import graft.ops.DedupOps._
  import graft.ops.TextOps.tokens

  private def docs = graft.Tables.documents(spark, sfDir)
  private lazy val ix = DedupIndex.ensure(spark, sfDir)

  private def sorted(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().map(_.toString).toSeq.sorted
  }

  test("ensure() builds once: a second call reuses the persisted artifacts") {
    val fs = new org.apache.hadoop.fs.Path(ix.root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mtime: Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(ix.canonical, "_SUCCESS"))
      .getModificationTime
    val t0 = mtime
    val p2 = DedupIndex.ensure(spark, sfDir)
    assert(p2.root == ix.root)
    assert(mtime == t0, "second ensure() must not rewrite the artifacts")
  }

  test("served edges ≡ the from-scratch SimHash banded pair join (d5's chain)") {
    val df = docs.withColumn("hs", tokenHashes(tokens(col("text"))))
    val scratch = simhashPairs(
      simhashBands(df, simhash32(col("hs"))), DedupIndex.MaxHamming)
    assert(sorted(DedupIndex.edgesDf(spark, ix)) == sorted(scratch))
  }

  test("served canonical ≡ from-scratch connected components (d7's chain)") {
    val scratch = connectedComponents(
      DedupIndex.edgesDf(spark, ix).select(col("doc_a"), col("doc_b")),
      docs.select(col("doc_id")))
    assert(sorted(DedupIndex.canonicalDf(spark, ix)) == sorted(scratch))
  }

  test("served class graph ≡ the from-scratch sketch-class collapse") {
    val df = docs.withColumn("hs", tokenHashes(tokens(col("text"))))
    val classes = df.select(col("doc_id"), simhash32(col("hs")).as("simhash"))
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("doc_id"))
      .localCheckpoint()
    assert(sorted(DedupIndex.classesDf(spark, ix)) == sorted(classes))
    val ce = simhashPairs(
      simhashBands(classes, col("simhash")), DedupIndex.MaxHamming)
    assert(sorted(DedupIndex.classEdgesDf(spark, ix)) == sorted(ce))
    val cc = starComponents(ce.select(col("doc_a"), col("doc_b")),
      classes.select(col("doc_id")))
    assert(sorted(DedupIndex.classCanonDf(spark, ix)) == sorted(cc))
  }

  test("served candidates ≡ the from-scratch MinHash-LSH band join (d2's chain)") {
    val sig = minhashSignatureNarrow(shingleArrays(docs), DedupIndex.NumHashes)
    val scratch = candidatePairs(
      lshBands(sig, DedupIndex.Bands, DedupIndex.RowsPerBand))
    assert(sorted(DedupIndex.candidatesDf(spark, ix)) == sorted(scratch))
    assert(sorted(DedupIndex.minhashDf(spark, ix)) == sorted(sig))
  }

  test("served winnow fingerprints ≡ the from-scratch w=8 selection") {
    val scratch = winnowFps(winnowTokens(docs), DedupIndex.WinW)
    assert(sorted(DedupIndex.winnowFpDf(spark, ix)) == sorted(scratch))
    assert(DedupIndex.winnowFpDf(spark, ix).count() > 0)
  }
}
