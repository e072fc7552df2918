package graft

import graft.ops.TextOps.{MinhashP, hash32, hash60, permParams}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expression-composed reference formulations of the native kernels
  * (`graft.functions`). Each computes the same math from stock Spark
  * functions, interpreted; specs assert that the kernels match them bit
  * for bit. */
object ReferenceForms {

  /** [[graft.functions.VectorExpressions.DotProduct]]: left fold of aᵢ·bᵢ. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)

  /** [[graft.functions.VectorExpressions.VecNorm2]]: left fold of aᵢ². */
  def norm2Hof(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0.0), _ + _)

  /** [[graft.functions.VectorExpressions.NearestCentroid]]: the smallest
    * `struct(d2, cid)` by `least()` over one candidate per centroid
    * (cid, cent, ‖cent‖²). */
  def nearestCentroidLeast(vec: Column, cents: Seq[(Long, Seq[Double], Double)]): Column =
    least(cents.map { case (cid, cent, cn2) =>
      struct(((norm2Hof(vec) + lit(cn2)) - lit(2.0) * dotHof(vec, typedLit(cent)))
        .as("d2"), lit(cid).as("cid"))
    }: _*)

  /** [[graft.ops.SimilarityOps.lshSignatures]]: one per-table signature
    * expression per hash table. */
  def lshSignaturesHof(emb: Column, tables: Int, planes: Int, dims: Int): Column =
    array((0 until tables).map(t =>
      graft.ops.SimilarityOps.lshSignature(emb, t, planes, dims)): _*)

  /** [[graft.ops.DedupOps.minhashSignatureNarrow]]: md5 base per shingle,
    * then `array_min` of each universal-hash permutation. */
  def minhashSignatureHof(shingleArr: DataFrame, numHashes: Int): DataFrame = {
    val withBases = shingleArr.withColumn("bases",
      transform(col("sh_arr"), s => hash32(s)))
    val mins = (0 until numHashes).map { i =>
      val (a, b) = permParams(i)
      array_min(transform(col("bases"), x => (x * a + b) % MinhashP)).as(s"h$i")
    }
    withBases.select(col("doc_id") +: mins: _*)
  }

  /** [[graft.functions.WinnowKernel]] over a `(doc_id, text)` frame as
    * d43's batch window form, the one the DuckDB `dkWinnowChain` mirrors:
    * posexploded k-gram keys, a per-doc ROWS window min kept where
    * `pos >= least(w, n_kg)`, distinct (doc_id, mk). */
  def winnowKeysWindow(docs: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.TextOps.tokens
    val toksd = docs.select(col("doc_id"), tokens(col("text")).as("toks"),
      trim(col("text")).as("t"))
    val kgarr = when(size(col("toks")) >= 4,
      transform(sequence(lit(1), size(col("toks")) - 3), i =>
        concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1), element_at(col("toks"), i + 2),
          element_at(col("toks"), i + 3))))
      .otherwise(array(col("t")))
    val kg = toksd.select(col("doc_id"), kgarr.as("kgarr"))
      .select(col("doc_id"), size(col("kgarr")).cast("long").as("n_kg"),
        posexplode(col("kgarr")).as(Seq("pos0", "g")))
      .select(col("doc_id"), col("n_kg"), (col("pos0") + 1).as("pos"),
        (hash32(col("g")) * 2097152L + (lit(1048576L) - col("pos0") - 1))
          .as("key"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    kg.withColumn("mk", min(col("key")).over(win))
      .filter(col("pos") >= least(lit(w.toLong), col("n_kg")))
      .select(col("doc_id"), col("mk")).distinct()
  }

  /** [[graft.ops.DedupOps.tokenHashes]]. */
  def tokenHashesHof(toks: Column): Column =
    transform(array_distinct(toks), t => hash60(t))

  /** [[graft.ops.DedupOps.simhash32]]: 32 when/filter majority terms. */
  def simhash32Hof(hs: Column): Column =
    (0 until 32).map { j =>
      when(lit(2) * size(filter(hs, h =>
          shiftright(h, j).bitwiseAND(lit(1L)) === 1L)) > size(hs),
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
}
