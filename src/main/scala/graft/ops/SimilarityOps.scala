package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the baseline. The query set is
  *    broadcast, so the big side never shuffles; ranking is a per-query-key
  *    window over (queries × N) scored rows.
  *  - [[lshTopK]]: sign-random-projection LSH variant — the scale path:
  *    each vector maps to a bucket signature; candidates are bucket
  *    collisions, cost ~ N · (bucket size), not N².
  *
  * Determinism: all vector math folds left-to-right in DOUBLE (element
  * order), so scores are bit-identical across engines/partitionings; LSH
  * hyperplanes are md5-derived pseudo-randoms (seeded, engine-portable), not
  * `rand()`.
  */
object SimilarityOps {

  /** Array<Float> → Array<Double> (all math in double). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-to-right dot product of two double arrays — native codegen'd
    * kernel ([[graft.functions.VectorExpressions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  /** Squared L2 norm (native kernel). */
  def norm2(a: Column): Column = graft.functions.VectorExpressions.vec_norm2(a)

  /** cos(a,b) given precomputed squared norms: dot / sqrt(na2 * nb2). */
  def cosine(dotAb: Column, na2: Column, nb2: Column): Column =
    dotAb / sqrt(na2 * nb2)

  /** Exact cosine top-k: `queries` and `candidates` must both have columns
    * (id, emb) with emb already double. Excludes self-matches. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("emb").as("q_emb"),
      norm2(col("emb")).as("q_n2"))
    val c = candidates.select(col("id").as("neighbor_id"), col("emb").as("c_emb"),
      norm2(col("emb")).as("c_n2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(dot(col("q_emb"), col("c_emb")),
        col("q_n2"), col("c_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Scale-path variant of [[bruteForceTopK]]: ranking via the bounded
    * [[graft.functions.TopKAggregator]] instead of a window — the window
    * sorts ALL scored candidates per query; the aggregator's buffer never
    * exceeds k entries and partial-aggregates map-side, so only k rows per
    * partition per query shuffle. Same output (same tie-break), asserted in
    * `SimilaritySpec`. */
  def bruteForceTopKAgg(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val q = queries.select(col("id").as("query_id"), col("emb").as("q_emb"),
      norm2(col("emb")).as("q_n2"))
    val c = candidates.select(col("id").as("neighbor_id"), col("emb").as("c_emb"),
      norm2(col("emb")).as("c_n2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"),
        cosine(dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")).as("cos"),
        col("neighbor_id"))
      .as[(Long, Double, Long)]
    val agg = new graft.functions.TopKAggregator(k)
    scored.groupByKey(_._1)
      .mapValues { case (_, cos, id) => (cos, id) }
      .agg(agg.toColumn.name("topk"))
      .flatMap { case (qid, topk) =>
        topk.iterator.zipWithIndex.map { case ((cos, id), i) =>
          // same rounding as the window variant's round(cos, 6) (HALF_UP)
          (qid, (i + 1).toLong, id,
            BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      .toDF("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** Deterministic ±1 Johnson–Lindenstrauss projection row for output dim
    * `j` (Achlioptas 2003's database-friendly matrix: entries ∈ {−1, +1}
    * preserve pairwise distances in expectation with the same JL bound as
    * Gaussian entries while multiplying by sign flips only): md5-parity of
    * `jl<j>/<i>`, computed once at plan-build time and embedded as an
    * array literal — reproducible from the seed string in any engine. */
  def jlSigns(j: Int, dims: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { i =>
      val hex = md.digest(s"jl$j/$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2L == 0L) 1.0 else -1.0
    }
  }

  /** Deterministic hyperplane weights for plane `p`: md5-derived integers in
    * [-1000, 1000], computed ONCE in Scala at plan-build time and embedded
    * as an array literal — zero per-row hashing cost, and reproducible from
    * the seed string `plane<p>/<dim>` in any engine. */
  def planeWeights(p: Int, dims: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { i =>
      val hex = md.digest(s"plane$p/$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L).toDouble
    }
  }

  /** Sign-LSH bucket signature for one hash table (one bit per hyperplane),
    * computed per-row against literal weight arrays — narrow, fully
    * codegen'd, no shuffle. `table` seeds the plane family. */
  def lshSignature(emb: Column, table: Int, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val w = typedLit(planeWeights(table * 1000 + p, dims))
      val d = graft.functions.VectorExpressions.dot_product(emb, w)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Array of signatures, one per hash table — the standard multi-table LSH
    * construction: a true neighbor is recalled if it collides in ANY table,
    * so recall ≈ 1-(1-p^planes)^tables. Computed by the fused compiled
    * kernel ([[graft.functions.LshSigKernel]]) — same math as the per-table
    * [[lshSignature]] expressions (equality asserted in `SimilaritySpec`). */
  def lshSignatures(emb: Column, tables: Int, planes: Int, dims: Int): Column =
    graft.functions.LshSigKernel.lsh_sigs(emb, tables, planes, dims)

  /** LSH-bucketed ANN: candidates = union over hash tables of bucket
    * collisions; exact cosine ranking within candidates. Trades recall for
    * replacing the N² scan with a bucket equi-join; recall vs
    * [[bruteForceTopK]] is asserted in `SimilaritySpec`. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      tables: Int, planes: Int, dims: Int): DataFrame = {
    def withSigs(df: DataFrame, idName: String, embName: String, n2Name: String) =
      df.select(col("id").as(idName), col("emb").as(embName),
          norm2(col("emb")).as(n2Name),
          posexplode(lshSignatures(col("emb"), tables, planes, dims))
            .as(Seq("table_idx", "sig")))
    val q = withSigs(queries, "query_id", "q_emb", "q_n2")
    val c = withSigs(candidates, "neighbor_id", "c_emb", "c_n2")
      .withColumnRenamed("table_idx", "c_table_idx")
      .withColumnRenamed("sig", "c_sig")
    val scored = c.join(broadcast(q),
        col("c_table_idx") === col("table_idx") && col("c_sig") === col("sig") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(dot(col("q_emb"), col("c_emb")),
        col("q_n2"), col("c_n2")))
      // a pair colliding in several tables scores identically — dedupe on
      // the narrow (ids, score) tuple, not the embedding arrays
      .select(col("query_id"), col("neighbor_id"), col("cos")).distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Multi-probe LSH ANN (Lv et al., VLDB 2007): instead of adding hash
    * tables to recover recall, probe MORE BUCKETS of one table — the
    * query's own bucket plus perturbations that flip the hyperplane bits
    * the query was least confident about (smallest |margin| = closest to
    * the plane, so the true neighbor most plausibly landed just across
    * it). Probe set here is the 4 subsets of the two lowest-|margin|
    * planes (ties to the lower plane index, total order).
    *
    * Why it matters at 100 TB: each extra hash table re-signs and
    * re-shuffles the ENTIRE corpus; an extra probe only adds a row to the
    * broadcast query side of the bucket join. The index cost is one
    * signature column; recall scales with probes, not with corpus passes.
    * Deterministic: margins are the same fold-ordered doubles in both
    * engines (n2's sign-exactness argument, strengthened to magnitude
    * order by bit-identical IEEE ops), so the flip choice is
    * oracle-exact. */
  def multiProbeTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      planes: Int, dims: Int): DataFrame = {
    def margin(p: Int): Column = {
      val w = typedLit(planeWeights(p, dims)) // table-0 plane family
      graft.functions.VectorExpressions.dot_product(col("emb"), w)
    }
    val sig = lshSignature(col("emb"), 0, planes, dims)
    val flipOrder = array_sort(array((0 until planes).map(p =>
      struct(abs(margin(p)).as("am"), lit(p).as("plane"))): _*))
    val q = queries.select(col("id").as("query_id"), col("emb").as("q_emb"),
        norm2(col("emb")).as("q_n2"), sig.as("sig"),
        flipOrder.getItem(0).getField("plane").as("p1"),
        flipOrder.getItem(1).getField("plane").as("p2"))
      .withColumn("probe", explode(array(
        col("sig"),
        expr("sig ^ shiftleft(CAST(1 AS BIGINT), p1)"),
        expr("sig ^ shiftleft(CAST(1 AS BIGINT), p2)"),
        expr("sig ^ shiftleft(CAST(1 AS BIGINT), p1)" +
          " ^ shiftleft(CAST(1 AS BIGINT), p2)"))))
    val c = candidates.select(col("id").as("neighbor_id"),
      col("emb").as("c_emb"), norm2(col("emb")).as("c_n2"), sig.as("c_sig"))
    val scored = c.join(broadcast(q),
        col("c_sig") === col("probe") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(dot(col("q_emb"), col("c_emb")),
        col("q_n2"), col("c_n2")))
      .select(col("query_id"), col("neighbor_id"), col("cos")).distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Deterministic per-list centroids for the IVF coarse quantizer:
    * element sums through DECIMAL so the result is partition-order-exact
    * (engine-portable); returns (list_id, centroid ARRAY<DOUBLE>).
    * `vecs` needs (list_id, emb). For runtime (non-oracle) use,
    * [[graft.functions.VecCentroidAggregator]] computes the same centroid
    * in fast fp. */
  def exactCentroids(vecs: DataFrame): DataFrame =
    vecs.select(col("list_id"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("list_id"), col("dim"))
      .agg(expr("CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE)")
        .divide(count(lit(1))).as("c"))
      .groupBy(col("list_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** IVF ANN: coarse-quantize queries to their `nprobe` nearest centroids,
    * then rank exactly within those inverted lists only. At scale the
    * centroid table is a broadcast and the candidate scan touches
    * nprobe/nlists of the corpus (partition-prunable when the corpus is
    * laid out by list_id) — this is the IVF index access path.
    * `queries`/`candidates` need (id, emb, list_id on candidates). */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("emb").as("q_emb"),
      norm2(col("emb")).as("q_n2"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("c_cos").desc, col("list_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("c_cos", graft.functions.VectorExpressions.cosine_sim(
        col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(probeW))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_n2"), col("list_id"))
    val c = candidates.select(col("id").as("neighbor_id"), col("emb").as("c_emb"),
      norm2(col("emb")).as("c_n2"), col("list_id").as("c_list"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(probes), col("c_list") === col("list_id") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(dot(col("q_emb"), col("c_emb")),
        col("q_n2"), col("c_n2")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Fixed-iteration Lloyd k-means over (id, emb) — the learned coarse
    * quantizer an IVF index trains, expressed as pure DataFrame ops:
    *
    *  - init: centroids = the embeddings of ids 0..k-1 (deterministic — no
    *    rand(), so the whole run is engine-portable and oracle-checkable);
    *  - assign: nearest centroid by squared L2, (‖v‖² + ‖c‖²) − 2·v·c, ties
    *    to the smallest centroid id — the native
    *    [[graft.functions.VectorExpressions.NearestCentroid]] kernel;
    *  - update: per-dimension mean through DECIMAL(27,10) (exact,
    *    partition-order-free — Spark's tree aggregation and DuckDB's
    *    sequential scan produce the same bits).
    *
    * The whole training CHAINS LAZILY: between iterations the centroid
    * table stays a DataFrame, aggregated to ONE row holding the k
    * (cid, cent, c_n2) structs and broadcast back into the corpus
    * (`crossJoin(broadcast(1 row))` — a BroadcastNestedLoopJoin whose
    * build side is k×dims doubles, the same bound as a driver collect),
    * so the assign step stays a narrow per-row argmin with zero shuffle
    * of the corpus and NO per-iteration driver action. The only shuffle
    * per iteration is the update's |vecs|×dims partial sums, map-side
    * combined. `iters` is fixed (no convergence test) so the computation
    * is expressible as unrolled SQL.
    *
    * Returns (trained centroids (cid, cent, c_n2), final assignment
    * (id, cluster, d2)). The centroid frame is STAGED (≤k rows) before
    * the final assign so consumers of both outputs run the training
    * chain exactly once. */
  def kmeansFit(vecs: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val cents = kmeansCentroids(vecs, k, iters).transform(graft.Tables.stage)
    (cents, kmeansAssignTo(vecs, cents).select(col("id"), col("cluster"), col("d2")))
  }

  /** The lazily-chained trained-centroid frame of [[kmeansFit]] — for
    * callers that consume ONLY the centroids (e.g. PQ codebook training,
    * which collects them once at the end): no staging action, one job
    * total. */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = vecs.filter(col("id") < k)
      .select(col("id").as("cid"), col("emb").as("cent"), norm2(col("emb")).as("c_n2"))
    var i = 0
    while (i < iters) {
      cents = kmeansUpdate(kmeansAssignTo(vecs, cents))
      i += 1
    }
    cents
  }

  /** One Lloyd update: per-cluster per-dimension DECIMAL(27,10) means
    * over an assigned (cluster, emb) frame. */
  private def kmeansUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(expr("CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE)")
        .divide(count(lit(1))).as("c"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cent"))
      .select(col("cluster").as("cid"), col("cent"), norm2(col("cent")).as("c_n2"))

  /** The one Lloyd assign step: every vector to its nearest centroid of the
    * (cid, cent, c_n2) frame `cents`, collapsed to one broadcast row. A
    * dropped (empty) Lloyd cell simply has no row, so it is never chosen.
    * Returns (id, emb, cluster, d2). */
  private def kmeansAssignTo(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val carr = cents.agg(
      collect_list(struct(col("cid"), col("cent"), col("c_n2"))).as("carr"))
    vecs.select(col("id"), col("emb")).crossJoin(broadcast(carr))
      .withColumn("m", graft.functions.VectorExpressions.nearest_centroid(
        col("emb"), col("carr")))
      .select(col("id"), col("emb"),
        col("m.cid").as("cluster"), col("m.d2").as("d2"))
  }

  /** Final per-vector assignment of [[kmeansFit]], without staging the
    * centroids: the training chain sits once, in the broadcast side of the
    * assign. A consumer that reads the assignment twice (the SemDeDup
    * self-joins) stages the assignment itself. */
  def kmeansAssign(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansAssignTo(vecs, kmeansCentroids(vecs, k, iters))
      .select(col("id"), col("cluster"), col("d2"))

  /** Embedding near-duplicate pairs: cosine ≥ tau. Exact all-pairs form —
    * ground truth at test scale; at 100 TB use `lshSignature` buckets as the
    * candidate filter first (same verify step). */
  def cosineNearDupPairs(vecs: DataFrame, tau: Double): DataFrame = {
    val a = vecs.select(col("id").as("id_a"), col("emb").as("emb_a"),
      norm2(col("emb")).as("n2_a"))
    val b = vecs.select(col("id").as("id_b"), col("emb").as("emb_b"),
      norm2(col("emb")).as("n2_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(dot(col("emb_a"), col("emb_b")),
        col("n2_a"), col("n2_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Symmetric int8 quantization of an `emb` column (n8's scheme): per-row
    * scale mx/127, round-half-up codes. Adds `mx` (double) and `qv`
    * (array<long>). */
  def int8Quantize(v: DataFrame): DataFrame =
    v.withColumn("mx", array_max(transform(col("emb"), x => abs(x))))
      .withColumn("qv",
        when(col("mx") === 0d, transform(col("emb"), _ => lit(0L)))
          .otherwise(transform(col("emb"),
            x => floor(x * 127.0 / col("mx") + 0.5).cast("long"))))

  /** Two-stage ANN serving: rank ALL candidates by the cheap int8
    * quantized dot (integer multiply-adds over 1-byte-per-dim codes — at
    * scale the scan reads 4-32× fewer bytes than fp32/fp64 and the codes
    * SIMD-pack), keep a `shortlist`, then exact-rerank only those to the
    * final top-k. The standard recall-vs-cost ladder every production
    * vector store runs; stage-1 recall loss is bounded by the quantization
    * error n8 measures. Both stages are deterministic (integer dot; fixed
    * double op order), so the whole pipeline is oracle-exact. */
  def quantizedRerankTopK(queries: DataFrame, candidates: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val q = int8Quantize(queries).select(col("id").as("query_id"),
      col("emb").as("q_emb"), norm2(col("emb")).as("q_n2"),
      col("mx").as("q_mx"), col("qv").as("q_qv"))
    val c = int8Quantize(candidates).select(col("id").as("nbr_id"),
      col("emb").as("c_emb"), norm2(col("emb")).as("c_n2"),
      col("mx").as("c_mx"), col("qv").as("c_qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("qdot",
        aggregate(zip_with(col("q_qv"), col("c_qv"), _ * _), lit(0L), _ + _))
      .withColumn("ascore",
        col("qdot").cast("double") * col("q_mx") * col("c_mx") / 16129.0)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("nbr_id"))
    val short = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= shortlist)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    short
      .withColumn("cos", cosine(dot(col("q_emb"), col("c_emb")),
        col("q_n2"), col("c_n2")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"),
        round(col("cos"), 6).as("cos_sim"),
        round(col("ascore"), 6).as("approx_score"))
  }

  /** Partitioned kNN graph: each vector's top-k cosine neighbors among
    * vectors sharing its partition key (`list_id` — an IVF list, a shard, a
    * label). The self-join is a plain EQUI-join on the key, so Catalyst
    * shuffles both sides once on `list_id` and every candidate pair stays
    * partition-local — the all-pairs cross join never materializes. At
    * 100 TB the key comes from a coarse quantizer ([[kmeansFit]]) and the
    * per-list candidate count is bounded by the list size, the same
    * partition-pruning contract as [[ivfTopK]]; graph recall beyond the
    * partition boundary is the caller's nprobe/multi-probe decision. */
  def labelKnnGraph(vecs: DataFrame, k: Int): DataFrame = {
    val a = vecs.select(col("id").as("src_id"), col("list_id"),
      col("emb").as("emb_a"), norm2(col("emb")).as("n2_a"))
    val b = vecs.select(col("id").as("nbr_id"), col("list_id"),
      col("emb").as("emb_b"), norm2(col("emb")).as("n2_b"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    a.join(b, Seq("list_id"))
      .filter(col("src_id") =!= col("nbr_id"))
      .withColumn("cos", cosine(dot(col("emb_a"), col("emb_b")),
        col("n2_a"), col("n2_b")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("rank"), col("nbr_id"), col("list_id"),
        round(col("cos"), 6).as("cos_sim"))
  }
}
