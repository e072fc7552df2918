package graft.queries

import graft.Tables
import graft.ops.SimilarityOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings` (ARRAY<FLOAT>, 64-dim).
  *
  * n1 (brute-force cosine top-k) and n3 (cosine near-dup pairs) have
  * bit-exact DuckDB oracles: both engines fold the same doubles in the same
  * element order, so even the ranking ties break identically. n2 (LSH) is
  * the scale path — also fully oracle-checked (the md5-derived hyperplane
  * weights are embedded in the SQL as literals), plus a recall assertion
  * in `SimilaritySpec`. */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  val K = 10
  val NumQueries = 8       // query set = vec_id < 8
  val AlignTauPpm = 280000L // m13 alignment-gate threshold (LAION shape)
  /** n21 sweep points: probe depths of the 8-list label index. */
  val NprobeSweep: Seq[Long] = Seq(1L, 2L, 4L)
  val NearDupTau = 0.9
  val KmK = 8              // k-means clusters
  val KmIters = 2          // fixed Lloyd iterations (unrolled in the oracle)
  /** d23 gate threshold. The synthetic embeddings have NO true near-dups
    * (max corpus cosine ≈0.48, so n3's τ=0.9 correctly returns zero pairs);
    * d23 gates at 0.25 so the removal/keeper logic is exercised on real
    * rows — the production SemDeDup knob is ~0.95, a config change. */
  val SemTau = 0.25
  /** d23b/d23c gate: the PRODUCTION SemDeDup knob (Abbas et al. 2023 use
    * ~0.95 on LAION). Exercised against a corpus with PLANTED semantic
    * near-dups — see [[plantedVecs]]. */
  val SemTauProd = 0.95
  val PlantMod = 3    // every vec_id % 3 == 0 gains a near-identical twin
  val M8Batch = 16    // m8: contrastive batch size
  val M8Strata = 8    // m8: assignment strata (batches never cross strata)
  val RrfDfCap = 100  // n16 lexical side: drop terms with df > cap
  val MrlDims = 16    // n17: matryoshka prefix length (64 → 16 dims)
  val JlDims = 16     // n22: JL projection target dims (64 → 16)
  val JlPanel = 32    // n22: distortion-audit panel size (496 pairs)
  val MmrShortlist = 20  // n20: rerank candidate depth C
  val MmrK = 5           // n20: diversified results per query
  val LshTables = 8   // LSH hash tables
  val Planes = 8   // hyperplanes (bits) per table
  val Dims = 64

  private def vecs(s: SparkSession, d: String) =
    Tables.fanout(Tables.embeddings(s, d))
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("emb"))

  /** n22's ±1 JL projection: 16 codegen'd dot kernels against literal
    * sign arrays — a narrow per-row map, no shuffle, no training. */
  private def jlProject(v: DataFrame): DataFrame =
    v.select(col("id"), array((0 until JlDims).map(j =>
      dot(col("emb"), typedLit(jlSigns(j, Dims)))): _*).as("emb"))

  /** The planted near-duplicate corpus for the production-knob SemDeDup
    * rows: every `id % PlantMod == 0` vector gains a twin at
    * `id + (max id + 1)` whose elements are scaled by
    * `1 + 2e-4·(((id+i) % 5) − 2)` — a deterministic ±0.04% perturbation
    * (cos ≈ 0.9999997, far above τ=0.95; the corpus's max non-planted
    * cosine is ≈0.48, far below). Pure doubles, same IEEE ops both
    * engines → bit-exact in the oracle. The twin-id offset comes from a
    * 1-row agg broadcast into the projection — no literal depends on sf. */
  private def plantedVecs(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val off = v.agg((max(col("id")) + lit(1L)).as("off"))
    val twins = v.filter(col("id") % PlantMod === 0)
      .crossJoin(broadcast(off))
      .select((col("id") + col("off")).as("id"),
        expr("transform(emb, (x, i) -> x * (1.0D + 0.0002D * " +
          "CAST((id + i) % 5 - 2 AS DOUBLE)))").as("emb"))
    v.unionByName(twins)
  }

  /** n16/n16b's shared lexical leg: (qid, did, n_shared) — shared RARE-
    * token counts over the df-capped inverted-index join. */
  private def rrfLexCandidates(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(array_distinct(graft.ops.TextOps.tokens(col("text"))))
          .as("tok"))
    val dfT = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= RrfDfCap)
    val rare = toks.join(dfT.select(col("tok")), "tok")
    val ql = rare.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("qid"), col("tok"))
    rare.select(col("doc_id").as("did"), col("tok"))
      .join(broadcast(ql), "tok")
      .filter(col("did") =!= col("qid"))
      .groupBy(col("qid"), col("did")).agg(count(lit(1)).as("n_shared"))
  }

  /** SemDeDup removal decisions (Abbas et al. 2023): k-means clusters as
    * the candidate filter, exact cosine within a cluster only, greedy
    * keep-smallest-id. Shared by d23 (raw corpus, exploratory τ) and d23b
    * (planted corpus, production τ). */
  private def semDedupRemovals(v: DataFrame, tau: Double): DataFrame = {
    // staged: the a×b in-cluster self-join below consumes the assignment
    // on BOTH sides — materializing the narrow (id, cluster) frame once
    // runs Lloyd + the assign scan once per query (16 B/row; the
    // "decide with small rows" discipline).
    val assigned = graft.ops.SimilarityOps.kmeansAssign(v, KmK, KmIters)
      .select(col("id"), col("cluster"))
      .transform(graft.Tables.stage)
    val av = v.join(assigned, "id")
    val a = av.select(col("cluster"), col("id").as("id_a"),
      col("emb").as("emb_a"), norm2(col("emb")).as("n2_a"))
    val b = av.select(col("cluster").as("cluster_b"), col("id").as("id_b"),
      col("emb").as("emb_b"), norm2(col("emb")).as("n2_b"))
    a.join(b, col("cluster") === col("cluster_b") && col("id_a") < col("id_b"))
      .withColumn("cos", cosine(dot(col("emb_a"), col("emb_b")),
        col("n2_a"), col("n2_b")))
      .filter(col("cos") >= tau)
      .groupBy(col("cluster"), col("id_b").as("removed_id"))
      .agg(min(col("id_a")).as("kept_id"),
        round(max(col("cos")), 6).as("max_cos"))
      .orderBy(col("removed_id"))
  }

  /** Cluster-bucketed near-dup pair frame — the d23/SemDeDup candidate
    * path (k-means clusters as the candidate filter, exact cosine
    * within a cluster only): the 100 TB pair generation, never
    * all-pairs. Shared by [[semDedupRemovals]]' shape and m8. */
  private def clusterNearDupPairs(v: DataFrame, tau: Double,
      target: Long = 2500L, forceBits: Option[Int] = None,
      knownN: Option[Long] = None): DataFrame = {
    // SemDeDup's "k ∝ N" knob made executable: the bucket count grows so
    // the EXPECTED bucket size stays ~2500, making the in-bucket pair
    // count ~N·2500/2 — linear in N — instead of (N/k)²·k, quadratic at
    // fixed k. HOW the buckets grow matters as much as that they grow:
    // running Lloyd at k ∝ N makes the assignment step itself N·k ∝ N²
    // (measured: the first green g100x decade put m8 at 20.8× for 10×
    // input — the assign leg, not the pairs). So the growth path is
    // TWO-LEVEL: exact Lloyd stays at the KmK coarse cells every corpus
    // trains today, and the extra resolution comes from hyperplane-LSH
    // sign bits of the vector (n2's deterministic planes, a dedicated
    // table seed) appended to the coarse cell — ceil(log2(k/KmK)) bits
    // give ≥k buckets at O(N·(KmK+bits)·dims) total work, linear in N.
    // Recall story unchanged in kind: near-identical vectors flip a
    // sign bit with prob θ/π (θ≈0 for cos≥0.95), and the certification
    // is measured, not assumed — m8b is the exact-truth twin, d23c the
    // recall meter. Every oracle corpus (≤2500+twins vectors at
    // sf ≤ 0.1) lands at k = KmK with ZERO sign bits, so the unrolled
    // DuckDB k-means oracle sees the identical single-level plan; only
    // the probe decades engage the second level.
    // forceBits pins the sign-bit count independent of N — n25's oracle
    // gate needs a corpus-size-independent bucket layout because the
    // mirror SQL is a fixed string run at more than one SF. knownN feeds
    // the corpus cardinality from persisted index stats
    // ([[graft.ops.IvfIndex.plantedCount]]) so sizing the layout costs a
    // 1-row metadata read, not a count() action over the corpus per
    // invocation; the v.count() fallback remains for ad-hoc frames with
    // no index behind them.
    val hBits = forceBits.getOrElse {
      val k = math.max(KmK, (knownN.getOrElse(v.count()) / target).toInt)
      math.max(0,
        math.ceil(math.log(k.toDouble / KmK) / math.log(2)).toInt)
    }
    // staged for the same both-sides-of-the-self-join reason as
    // semDedupRemovals: Lloyd + assign run once, the join legs read the
    // 16 B/row checkpoint
    val assigned = graft.ops.SimilarityOps.kmeansAssign(v, KmK, KmIters)
      .select(col("id"), col("cluster"))
      .transform(graft.Tables.stage)
    val av0 = v.join(assigned, "id")
    val av = if (hBits == 0) av0
      else av0.withColumn("cluster",
        concat(col("cluster").cast("string"), lit("|"),
          lshSignature(col("emb"), 97, hBits, Dims).cast("string")))
    val a = av.select(col("cluster"), col("id").as("id_a"),
      col("emb").as("emb_a"), norm2(col("emb")).as("n2_a"))
    val b = av.select(col("cluster").as("cluster_b"), col("id").as("id_b"),
      col("emb").as("emb_b"), norm2(col("emb")).as("n2_b"))
    a.join(b, col("cluster") === col("cluster_b")
        && col("id_a") < col("id_b"))
      .withColumn("cos", cosine(dot(col("emb_a"), col("emb_b")),
        col("n2_a"), col("n2_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"))
  }

  /** m8/m8b's shared audit-and-repair body over a caller-supplied
    * near-dup pair frame — the pair generation is the ONLY difference
    * between the headline (cluster-bucketed) and validator (exact
    * all-pairs) forms. */
  private def batchNegativesAudit(v: DataFrame,
      pairs0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = v.select(col("id"),
        graft.ops.TextOps.hash60(
          concat(lit("m8|"), col("id").cast("string"))).as("hv"))
      .withColumn("st", expr(s"hv % $M8Strata"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("st").orderBy("hv", "id")))
    val nlb = asg.groupBy(col("st"))
      .agg(expr(s"(max(rn) + ${M8Batch - 1}) div $M8Batch").as("nb"))
    val a2 = asg.select(col("id"), col("st"),
      expr(s"(rn - 1) div $M8Batch").as("lb")).transform(graft.Tables.stage)
    val pairs = pairs0.transform(graft.Tables.stage)
    def collisions(a: DataFrame): DataFrame = pairs
      .join(a.select(col("id").as("id_a"), col("st"), col("lb")), "id_a")
      .join(a.select(col("id").as("id_b"), col("st").as("st_b"),
        col("lb").as("lb_b")), "id_b")
      .filter(col("st") === col("st_b") && col("lb") === col("lb_b"))
      .select(col("id_a"), col("id_b"), col("st"), col("lb"))
    val coll = collisions(a2).transform(graft.Tables.stage)
    val moved = coll.select(col("id_b").as("id")).distinct()
    val a3 = a2.join(broadcast(nlb), "st")
      .join(moved.withColumn("m", lit(1)), Seq("id"), "left")
      .withColumn("lb", when(col("m").isNotNull,
        (col("lb") + 1) % col("nb")).otherwise(col("lb")))
      .select(col("id"), col("st"), col("lb")).transform(graft.Tables.stage)
    val b0 = a2.groupBy(col("st"), col("lb"))
      .agg(count(lit(1)).as("n_before"))
    val b1 = a3.groupBy(col("st"), col("lb"))
      .agg(count(lit(1)).as("n_after"))
    val c0 = coll.groupBy(col("st"), col("lb"))
      .agg(count(lit(1)).as("coll_before"))
    val c1 = collisions(a3).groupBy(col("st"), col("lb"))
      .agg(count(lit(1)).as("coll_after"))
    b0.join(c0, Seq("st", "lb"), "left").join(b1, Seq("st", "lb"), "left")
      .join(c1, Seq("st", "lb"), "left")
      .select(col("st"), col("lb"), col("n_before"),
        coalesce(col("coll_before"), lit(0L)).as("coll_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("coll_after"), lit(0L)).as("coll_after"))
      .orderBy(col("st"), col("lb"))
  }

  val queries: Map[String, Q] = Map(
    // Exact ANN baseline: top-10 cosine neighbors of the first 8 vectors.
    "n1_ann_bruteforce" -> ((s, d) => {
      val v = vecs(s, d)
      bruteForceTopK(v.filter(col("id") < NumQueries), v, K)
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH-bucketed ANN (full oracle: weights embedded as SQL literals;
    // recall vs n1 additionally asserted in ScalaTest).
    "n2_ann_lsh" -> ((s, d) => {
      val v = vecs(s, d)
      lshTopK(v.filter(col("id") < NumQueries), v, K, LshTables, Planes, Dims)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN-layer quality evaluation (d19's twin for the n-family): per
    // query, recall@K of the LSH index against the exact brute-force
    // top-K, in integer basis points — the engine measures its own index
    // quality before serving from it. Both sides are hash/tie-determined
    // (n1/n2's own oracles pin them), so the intersection is too.
    "n12_ann_recall" -> ((s, d) => {
      val v = vecs(s, d)
      val q = v.filter(col("id") < NumQueries)
      val exact = bruteForceTopK(q, v, K)
        .select(col("query_id"), col("neighbor_id"))
      val approx = lshTopK(q, v, K, LshTables, Planes, Dims)
        .select(col("query_id"), col("neighbor_id"))
      val hit = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.select(col("query_id")).distinct()
        .join(hit, Seq("query_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("recall_bp", expr(s"(n_hit * 10000) div $K"))
        .orderBy(col("query_id"))
    }),

    // IVF tuning curve (the recall-vs-cost sweep FAISS users plot before
    // fixing nprobe — t38b's operating-point discipline applied to the
    // index): candidates are scored ONCE against the maximum probe depth
    // with their list's probe rank attached, then each sweep point
    // np ∈ {1,2,4} re-ranks the pr ≤ np subset — one corpus pass, three
    // operating points. Per point: candidate volume, exact-truth hits,
    // recall@K bp, and the corpus share scanned per query (the cost
    // axis). Scale: the probe frame (≤ queries × maxNp rows) broadcasts
    // into the list-pruned candidate scan exactly like n5/n14; the sweep
    // multiplies only the RANKING of already-scored rows, never the
    // scan.
    "n21_nprobe_sweep" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val v = vecs(s, d).join(
        Tables.embeddings(s, d).select(col("vec_id").as("id"), col("label")),
        "id").withColumnRenamed("label", "list_id")
      val cents = exactCentroids(v)
      val q = v.filter(col("id") < NumQueries)
        .select(col("id").as("query_id"), col("emb").as("q_emb"),
          norm2(col("emb")).as("q_n2"))
      val probeW = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("list_id"))
      val probes = q.crossJoin(broadcast(cents))
        .withColumn("c_cos", graft.functions.VectorExpressions.cosine_sim(
          col("q_emb"), col("centroid")))
        .withColumn("pr", row_number().over(probeW))
        .filter(col("pr") <= NprobeSweep.max)
        .select(col("query_id"), col("q_emb"), col("q_n2"),
          col("list_id"), col("pr"))
      val c = v.select(col("id").as("neighbor_id"), col("emb").as("c_emb"),
        norm2(col("emb")).as("c_n2"), col("list_id").as("c_list"))
      val scored = c.join(broadcast(probes),
          col("c_list") === col("list_id") &&
            col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", cosine(dot(col("q_emb"), col("c_emb")),
          col("q_n2"), col("c_n2")))
        .select(col("query_id"), col("pr"), col("neighbor_id"), col("cos"))
        .transform(graft.Tables.stage) // three readers: ranking, hits, volumes
      val sweep = s.range(1).select(explode(typedLit(NprobeSweep)).as("np"))
      val rw = Window.partitionBy(col("query_id"), col("np"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val appr = scored.join(broadcast(sweep), col("pr") <= col("np"))
        .withColumn("rank", row_number().over(rw))
        .filter(col("rank") <= K)
        .select(col("np"), col("query_id"), col("neighbor_id"))
      val exact = bruteForceTopK(v.filter(col("id") < NumQueries), v, K)
        .select(col("query_id"), col("neighbor_id"))
      val hits = appr.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy(col("np")).agg(count(lit(1)).as("total_hits"))
      val cand = scored.join(broadcast(sweep), col("pr") <= col("np"))
        .groupBy(col("np")).agg(count(lit(1)).as("n_candidates"))
      val corp = v.agg(count(lit(1)).as("n_corpus"))
      cand.join(hits, Seq("np"), "left")
        .withColumn("total_hits", coalesce(col("total_hits"), lit(0L)))
        .crossJoin(broadcast(corp))
        .select(col("np"), col("n_candidates"), col("total_hits"),
          expr(s"total_hits * 10000 div ($K * $NumQueries)").as("recall_bp"),
          expr(s"n_candidates * 10000 div ($NumQueries * n_corpus)")
            .as("scan_share_bp"))
        .orderBy(col("np"))
    }),

    // n21 on the TRAINED index (n7's k-means lists instead of n5's label
    // partitions) — the pair completes the diagnostic: the label index
    // sweeps at recall ≈ scan share (quantizer uninformative), the
    // trained quantizer must clear that diagonal or the training wasn't
    // worth the Lloyd passes. Same one-pass three-point sweep machinery.
    // The quantizer comes from the PERSISTED IvfIndex (train-once —
    // r8 re-ran the full Lloyd fit inside this sweep query; the
    // centroids and list assignment are the same bytes the index build
    // wrote, so the curve is unchanged): centroids read back as the
    // probe frame, the vid→list_id assignment read from the codes'
    // partition layout.
    "n21b_nprobe_trained" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val v0 = vecs(s, d)
      val ip = graft.ops.IvfIndex.ensure(s, d)
      val v = v0.join(s.read.parquet(ip.codes)
        .select(col("vid").as("id"), col("list_id")), "id")
      val centroids = s.read.parquet(ip.centroids)
      val q = v.filter(col("id") < NumQueries)
        .select(col("id").as("query_id"), col("emb").as("q_emb"),
          norm2(col("emb")).as("q_n2"))
      val probeW = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("list_id"))
      val probes = q.crossJoin(broadcast(centroids))
        .withColumn("c_cos", graft.functions.VectorExpressions.cosine_sim(
          col("q_emb"), col("centroid")))
        .withColumn("pr", row_number().over(probeW))
        .filter(col("pr") <= NprobeSweep.max)
        .select(col("query_id"), col("q_emb"), col("q_n2"),
          col("list_id"), col("pr"))
      val c = v.select(col("id").as("neighbor_id"), col("emb").as("c_emb"),
        norm2(col("emb")).as("c_n2"), col("list_id").as("c_list"))
      val scored = c.join(broadcast(probes),
          col("c_list") === col("list_id") &&
            col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", cosine(dot(col("q_emb"), col("c_emb")),
          col("q_n2"), col("c_n2")))
        .select(col("query_id"), col("pr"), col("neighbor_id"), col("cos"))
        .transform(graft.Tables.stage)
      val sweep = s.range(1).select(explode(typedLit(NprobeSweep)).as("np"))
      val rw = Window.partitionBy(col("query_id"), col("np"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      val appr = scored.join(broadcast(sweep), col("pr") <= col("np"))
        .withColumn("rank", row_number().over(rw))
        .filter(col("rank") <= K)
        .select(col("np"), col("query_id"), col("neighbor_id"))
      val exact = bruteForceTopK(v0.filter(col("id") < NumQueries), v0, K)
        .select(col("query_id"), col("neighbor_id"))
      val hits = appr.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy(col("np")).agg(count(lit(1)).as("total_hits"))
      val cand = scored.join(broadcast(sweep), col("pr") <= col("np"))
        .groupBy(col("np")).agg(count(lit(1)).as("n_candidates"))
      val corp = v0.agg(count(lit(1)).as("n_corpus"))
      cand.join(hits, Seq("np"), "left")
        .withColumn("total_hits", coalesce(col("total_hits"), lit(0L)))
        .crossJoin(broadcast(corp))
        .select(col("np"), col("n_candidates"), col("total_hits"),
          expr(s"total_hits * 10000 div ($K * $NumQueries)").as("recall_bp"),
          expr(s"n_candidates * 10000 div ($NumQueries * n_corpus)")
            .as("scan_share_bp"))
        .orderBy(col("np"))
    }),

    // Embedding cosine near-duplicate pairs (exact all-pairs ground truth).
    "n3_embedding_neardup" -> ((s, d) => {
      cosineNearDupPairs(vecs(s, d), NearDupTau)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Contrastive-batch construction with a false-negative audit and
    // repair (the CLIP/SigLIP training-data problem: in-batch negatives
    // are WRONG when two near-duplicate pairs land in one batch — the
    // "false negative" the papers' data pipelines dedup batches for).
    // Assignment is stratified — salted-md5 stratum, per-stratum rank,
    // batch = rank div B — so NO global sort ever happens (the q91
    // bounded-window discipline; batches never cross strata, the same
    // per-stratum packing contract as p1's shards). The audit joins the
    // near-dup pairs from the CLUSTER-BUCKETED candidate path
    // ([[clusterNearDupPairs]] — d23b's k-means filter + in-cluster
    // exact verify, the 100 TB pair generation) against the assignment;
    // repair deterministically advances each collision's larger member
    // one batch within its stratum (mod wrap) and HONESTLY recounts
    // residual collisions — moves can collide anew, and the readout
    // would show it. Per batch: members and in-batch near-dup pairs,
    // before and after repair. The exact all-pairs truth lives in the
    // bench-excluded validator twin m8b (the d4/d19 policy); m8b ≡ m8
    // on this corpus iff the cluster filter has full recall — d23c
    // measures exactly that.
    "m8_batch_negatives" -> ((s, d) => {
      val v = plantedVecs(s, d)
      // bucket layout sized from the persisted index's 1-row stats
      // (n_vecs + n_planted ≡ |plantedVecs| exactly) — no count() action
      // over the corpus in this query's job graph.
      batchNegativesAudit(v, clusterNearDupPairs(v, SemTauProd,
        knownN = Some(graft.ops.IvfIndex.plantedCount(s, d))))
    }),

    // m8's exact-truth validator twin: the SAME audit over the
    // all-pairs cosine ground truth — quadratic by construction, so
    // bench-excluded (the d4/d6/d19 policy) and used to certify the
    // headline's bucketed pair frame.
    "m8b_batch_negatives_exact" -> ((s, d) => {
      val v = plantedVecs(s, d)
      batchNegativesAudit(v,
        cosineNearDupPairs(v, SemTauProd).select(col("id_a"), col("id_b")))
    }),

    // Oracle gate for the TWO-LEVEL bucket growth path (in production it
    // engages only when SemDeDup's k∝N knob pushes k past KmK — i.e.
    // never on the oracle corpora, which is exactly why this query
    // FORCES it at oracle scale: 2 hyperplane-LSH sign bits pinned on
    // top of the KmK coarse Lloyd cells, the layout a ~32·target
    // corpus would derive; pinned rather than N-derived because the
    // mirror SQL is one fixed string run at several SFs). The DuckDB
    // mirror replays the same planted corpus, the same unrolled Lloyd
    // chain (d23b's), the same md5-derived hyperplanes (dedicated table
    // seed 97), the same d≥0 bit rule and the same in-bucket cosine
    // verify — gating bit-for-bit the arithmetic the 100× decade runs.
    "n25_twolevel_buckets" -> ((s, d) => {
      clusterNearDupPairs(plantedVecs(s, d), SemTauProd,
          forceBits = Some(2))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // IVF ANN: label partitions as inverted lists, exact-decimal centroids
    // as the coarse quantizer, nprobe=2 — ranking touches only the probed
    // lists (the index access path; n1 is the exhaustive ground truth).
    "n5_ivf_ann" -> ((s, d) => {
      val v = vecs(s, d).join(
        Tables.embeddings(s, d).select(col("vec_id").as("id"), col("label")),
        "id").withColumnRenamed("label", "list_id")
      val cents = exactCentroids(v)
      ivfTopK(v.filter(col("id") < NumQueries), v, cents, K, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Learned k-means clustering (fixed 2 Lloyd iterations, deterministic
    // first-k init): the trained coarse quantizer n5's label-as-list IVF
    // approximates. Final per-vector assignment + squared L2 to the learned
    // centroid, bit-exact against the unrolled DuckDB mirror.
    "n6_kmeans" -> ((s, d) => {
      kmeansAssign(vecs(s, d), KmK, KmIters)
        .select(col("id").as("vec_id"), col("cluster"),
          round(col("d2"), 6).as("dist2"))
        .orderBy(col("vec_id"))
    }),

    // The full trained-IVF pipeline: k-means-learned coarse quantizer (n6's
    // training loop) → inverted lists from the final assignment → nprobe=2
    // probing with exact in-list ranking. Train → index → probe, end to end,
    // all oracle-checked. At scale the lists partition the corpus on disk
    // (partition-prunable by cluster id) and the centroid table broadcasts.
    "n7_ivf_kmeans" -> ((s, d) => {
      val v = vecs(s, d)
      val (cents, assigned) = kmeansFit(v, KmK, KmIters)
      val cand = v.join(assigned.select(col("id"), col("cluster").as("list_id")), "id")
      val centroids = cents.select(col("cid").as("list_id"), col("cent").as("centroid"))
      ivfTopK(v.filter(col("id") < NumQueries), cand, centroids, K, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Int8 scalar quantization (embedding compression for storage/serving):
    // per-vector symmetric scale mx/127, round-half-up code, dequant error.
    // Zero shuffle — per-row HOFs; outputs are scalars (integer sums and
    // order-free maxima are engine-portable; a per-element array column
    // wouldn't hash in the driver's comparator).
    "n8_quantize" -> ((s, d) => {
      val v = Tables.fanout(Tables.embeddings(s, d))
        .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
        .withColumn("mx", array_max(transform(col("emb"), x => abs(x))))
      val qExpr = transform(col("emb"),
        x => floor(x * 127.0 / col("mx") + 0.5).cast("long"))
      v.withColumn("qv",
          when(col("mx") === 0d, transform(col("emb"), _ => lit(0L)))
            .otherwise(qExpr))
        .select(col("vec_id"),
          round(col("mx"), 6).as("mx_q"),
          aggregate(col("qv"), lit(0L), _ + _).as("q_sum"),
          size(filter(col("qv"), z => abs(z) === 127L)).cast("long").as("n_sat"),
          round(
            when(col("mx") === 0d, 0d).otherwise(
              array_max(zip_with(col("emb"), col("qv"),
                (x, z) => abs(x - z * col("mx") / 127.0)))),
            8).as("max_abs_err"))
        .orderBy(col("vec_id"))
    }),

    // Per-label centroids, one row per (label, dim) — the coarse-quantizer
    // build step of an IVF index. Element sums go through DECIMAL(27,10) so
    // the centroid is exact and engine-portable (the typed
    // VecCentroidAggregator computes the same thing in fast fp for runtime
    // use; equality-within-fp is asserted in SimilaritySpec).
    "n4_label_centroids" -> ((s, d) => {
      Tables.fanout(Tables.embeddings(s, d))
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(
          expr("CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)")
            .divide(count(lit(1))).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("centroid"), col("n_vecs"))
        .orderBy(col("label"), col("dim"))
    }),

    // Two-stage serving: int8-quantized dot shortlist (top-50) → exact
    // cosine rerank (top-10) — the recall-vs-cost ladder of a production
    // vector store, end-to-end oracle-exact (integer stage-1 dot, fixed
    // double op order throughout).
    // Product quantization + asymmetric distance (ADC) — THE
    // billion-scale embedding compression: each 64-dim vector becomes 4
    // one-byte codes (one per 16-dim subspace, argmin to a 16-entry
    // per-subspace codebook), a 64:1 size reduction; queries stay exact
    // and score candidates by table lookup: adc(q, v) = Σ_m
    // d²(q_sub_m, C_m[code_m(v)]). The per-query 4×16 distance table is
    // computed ONCE as array columns and broadcast with the query block
    // (n1's serving pattern), so scoring a candidate is 4 array lookups +
    // 3 adds — no vector math on the scan side, which is the entire point
    // at 100 TB (codes are 4 bytes/vector; raw floats never leave the
    // index build). Codebook here is fixed (subvectors of the first 16
    // vectors — the n5 fixed-quantizer pattern); the trained variant runs
    // kmeansFit per subspace. All arithmetic mirrors the oracle
    // bit-for-bit: same fold orders, same (d2, cid)/(adc, vid)
    // tie-breaks. Compose with IVF (n5/n7) to gate the candidate scan.
    "n11_pq_adc" -> ((s, d) => {
      val v = vecs(s, d)
      pqAdcTopK(v, fixedCodebooks(v))
    }),

    // Trained PQ: identical encode/ADC serving path to n11, but each
    // subspace's 16-entry codebook is LEARNED with the n7 training loop
    // (kmeansFit per subspace — first-16 init ≡ n11's fixed codebook, then
    // KmIters decimal-exact Lloyd steps). Lloyd never increases total
    // quantization SSE from a given init, so the trained codebooks encode
    // strictly-no-worse than n11's (SimilaritySpec measures the SSE drop
    // and the recall@K movement under n12's evaluator). Only 4 × 16×16
    // doubles reach the driver; everything else is the n11 scan shape.
    "n11b_pq_trained" -> ((s, d) => {
      val v = vecs(s, d)
      pqAdcTopK(v, trainedCodebooks(v))
    }),

    "n10_quantized_rerank" -> ((s, d) => {
      val v = vecs(s, d)
      quantizedRerankTopK(v.filter(col("id") < NumQueries), v, K,
          shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Partitioned kNN graph: every vector's top-3 same-label neighbors —
    // the semantic-dedup / diversity-analysis graph build, partition-local
    // by construction (one shuffle on label, no cross join; see
    // SimilarityOps.labelKnnGraph for the 100 TB contract).
    "n9_knn_graph" -> ((s, d) => {
      val v = Tables.fanout(Tables.embeddings(s, d))
        .select(col("vec_id").as("id"), toDouble(col("embedding")).as("emb"),
          col("label").as("list_id"))
      labelKnnGraph(v, 3)
        .orderBy(col("src_id"), col("rank"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    // k-means clusters as the candidate filter, exact cosine only WITHIN a
    // cluster, greedy keep-smallest-id. Registered as d23 (dedup family);
    // lives here to reuse the n6/n7 training chain and its bit-exact
    // DuckDB mirror. Scale shape: assignment is n6's broadcast-centroid
    // map stage; the pair join shuffles once on cluster id, and the
    // quadratic term is (N/k)² per cluster — the paper's knob is k ∝ N
    // (50k clusters for LAION-440M), which keeps per-cluster lists
    // near-constant; no all-pairs term exists anywhere. Each removed row
    // names its keeper, so the output IS the dedup decision. Pairs equal
    // cosineNearDupPairs(SemTau) restricted to same-cluster (asserted in
    // SimilaritySpec) — the cluster filter is what SemDeDup trades for
    // never computing the cross-cluster terms.
    "d23_semdedup" -> ((s, d) => semDedupRemovals(vecs(s, d), SemTau)),

    // SemDeDup AT THE PRODUCTION KNOB (τ=0.95, the Abbas et al. regime):
    // the synthetic corpus has no true semantic dups (max cosine ≈0.48),
    // so d23's τ=0.25 exercises the machinery but not the regime — here
    // the corpus is augmented with planted near-identical twins
    // ([[plantedVecs]]) and the gate must remove them: every removal is a
    // genuine ≥0.95 pair, nonzero by construction. Same cluster-filter +
    // in-cluster exact verify plan as d23; cost adds |v|/3 rows.
    "d23b_semdedup_planted" -> ((s, d) =>
      semDedupRemovals(plantedVecs(s, d), SemTauProd)),

    // The d19/n12-style self-evaluation of d23b: recall and precision of
    // the cluster-filtered removal set against the EXACT all-pairs cosine
    // truth at the same τ. Removed-set recall measures what the cluster
    // filter trades (a twin split from its original by the k-means
    // boundary would be missed); precision is structurally 10000 (every
    // detected pair is verified by exact cosine) and a non-10000 value
    // would flag a broken verify. Quadratic truth term → bench-excluded
    // validator, like d4/d19.
    "d23c_semdedup_eval" -> ((s, d) => {
      val v = plantedVecs(s, d)
      val truth = cosineNearDupPairs(v, SemTauProd)
        .select(col("id_b").as("rid")).distinct()
      val det = semDedupRemovals(v, SemTauProd)
        .select(col("removed_id").as("rid"))
      val nT = truth.agg(count(lit(1)).as("n_true_removed"))
      val nD = det.agg(count(lit(1)).as("n_removed"))
      val nH = truth.join(det, "rid").agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(nD).crossJoin(nH)
        .select(col("n_true_removed"), col("n_removed"), col("n_hit"),
          expr("n_hit * 10000 div n_true_removed").as("recall_bp"),
          expr("CASE WHEN n_removed = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE n_hit * 10000 div n_removed END").as("precision_bp"))
    }),

    // Multi-probe LSH (Lv et al. 2007): recover recall by probing MORE
    // BUCKETS of one table (the 4 subsets of the two lowest-|margin|
    // plane flips) instead of signing the corpus under more tables —
    // probes cost broadcast rows; tables cost full corpus re-shuffles.
    // Recall ordering vs the 1-probe single table is asserted in
    // SimilaritySpec; the serving shape is n2's bucket equi-join.
    "n13_multiprobe_lsh" -> ((s, d) => {
      val v = vecs(s, d)
      multiProbeTopK(v.filter(col("id") < NumQueries), v, K, Planes, Dims)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Residual-encoded IVFADC (what FAISS's IndexIVFPQ stores): n14 with
    // PQ trained on v − centroid(v) and per-(query, probed-list) residual
    // ADC tables — the coarse quantizer absorbs the coarse structure, so
    // the 16 codewords model a tighter distribution. See ivfPqResidualTopK.
    "n14b_ivfpq_residual" -> ((s, d) => {
      val v = vecs(s, d)
      val (cents, assigned) = kmeansFit(v, KmK, KmIters)
      ivfPqResidualTopK(v, assigned.select(col("id"), col("cluster")),
        cents, K, nprobe = 2)
    }),

    // IVFADC end-to-end: n7's trained coarse quantizer gates the scan to
    // nprobe=2 inverted lists, n11b's trained PQ codes + per-query ADC
    // tables score the survivors — the composition every billion-scale
    // vector store actually serves (coarse gate bounds WHAT is scored,
    // PQ bounds WHAT EACH COSTS). Oracle = the unrolled Lloyd chains of
    // both trainings + the probe-gated ADC join.
    "n14_ivfpq" -> ((s, d) => {
      val v = vecs(s, d)
      val (cents, assigned) = kmeansFit(v, KmK, KmIters)
      val centroids = cents.select(col("cid").as("list_id"),
        col("cent").as("centroid"))
      ivfPqTopK(v, assigned.select(col("id"), col("cluster")), centroids,
        trainedCodebooks(v), K, nprobe = 2)
    }),

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009):
    // the lexical top-K (shared RARE-token counts over an inverted-index
    // join — stopword-frequency terms are df-capped out, the capped-
    // posting-list discipline) and the vector top-K (n1's exact cosine)
    // fuse by RRF_ppm = Σ 10⁶ div (60 + rank) — rank-only fusion needs
    // no score calibration between the two systems, which is why
    // production hybrid search uses it. Integer end-to-end; both ranked
    // lists and the fusion are oracle-mirrored. Scale: the query side
    // (8 docs' rare tokens, k·|queries| vector hits) broadcasts; the
    // posting-list join fans out ≤ df-cap per query term; no all-pairs
    // term anywhere.
    "n16_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = rrfLexCandidates(s, d)
      val wLex = Window.partitionBy(col("qid"))
        .orderBy(col("n_shared").desc, col("did"))
      val lexTop = lex.withColumn("lex_rank", row_number().over(wLex))
        .filter(col("lex_rank") <= K)
        .select(col("qid"), col("did"), col("lex_rank").cast("long").as("lex_rank"))
      val v = vecs(s, d)
      val vecTop = bruteForceTopK(v.filter(col("id") < NumQueries), v, K)
        .select(col("query_id").as("qid"), col("neighbor_id").as("did"),
          col("rank").as("vec_rank"))
      val wF = Window.partitionBy(col("qid"))
        .orderBy(col("rrf_ppm").desc, col("did"))
      lexTop.join(vecTop, Seq("qid", "did"), "full_outer")
        .withColumn("rrf_ppm",
          coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= K)
        .select(col("qid").as("query_id"), col("rank"),
          col("did").as("doc_id"), col("rrf_ppm"),
          col("lex_rank"), col("vec_rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // n16 IN ONE AGGREGATION: both legs' raw candidates union into a
    // single [[graft.functions.RrfFusionAggregator]] — per-leg bounded
    // top-k buffers merge map-side and fusion happens at finish, so the
    // 3-shuffle rank-rank-join plan collapses to one aggregation (and
    // becomes LEGAL as a streaming update-mode query, where n16's two
    // chained rank aggregations are not). Oracle = n16's SQL: the fused
    // output must be IDENTICAL, proving the buffers reproduce both
    // windows' tie semantics exactly.
    "n16b_rrf_onepass" -> ((s, d) => {
      import s.implicits._
      val lex = rrfLexCandidates(s, d)
        .select(col("qid"), lit("lex").as("leg"),
          col("n_shared").cast("double").as("score"), col("did"))
      val v = vecs(s, d)
      val q = v.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("emb").as("q_emb"),
          norm2(col("emb")).as("q_n2"))
      val vec = v.select(col("id").as("did"), col("emb").as("c_emb"),
          norm2(col("emb")).as("c_n2"))
        .crossJoin(broadcast(q))
        .filter(col("did") =!= col("qid"))
        .select(col("qid"), lit("vec").as("leg"),
          cosine(dot(col("q_emb"), col("c_emb")),
            col("q_n2"), col("c_n2")).as("score"),
          col("did"))
      val agg = new graft.functions.RrfFusionAggregator(K, 60)
      lex.unionByName(vec).as[(Long, String, Double, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, leg, score, id) => (leg, score, id) }
        .agg(agg.toColumn.name("fused"))
        .flatMap { case (qid, fused) =>
          fused.iterator.map { case (rank, id, rrf, lr, vr) =>
            (qid, rank, id, rrf, lr, vr)
          }
        }
        .toDF("query_id", "rank", "doc_id", "rrf_ppm",
          "lex_rank", "vec_rank")
        .orderBy(col("query_id"), col("rank"))
    }),

    // Matryoshka truncation evaluation (Kusupati et al. 2022): serve from
    // the FIRST MrlDims dims only — 4× fewer bytes and flops per
    // candidate — and measure recall@K against the full-width truth,
    // per query in integer bp (the n12 evaluator pattern). The
    // dimension-budget knob every MRL-embedding deployment tunes, with
    // its cost measured by the engine itself rather than assumed.
    "n17_matryoshka_recall" -> ((s, d) => {
      val v = vecs(s, d)
      val vp = v.select(col("id"), expr(s"slice(emb, 1, $MrlDims)").as("emb"))
      val exact = bruteForceTopK(v.filter(col("id") < NumQueries), v, K)
        .select(col("query_id"), col("neighbor_id"))
      val approx = bruteForceTopK(vp.filter(col("id") < NumQueries), vp, K)
        .select(col("query_id"), col("neighbor_id"))
      val hit = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.select(col("query_id")).distinct()
        .join(hit, Seq("query_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("recall_bp", expr(s"(n_hit * 10000) div $K"))
        .orderBy(col("query_id"))
    }),

    // Johnson–Lindenstrauss ±1 random projection (Achlioptas 2003) with
    // its distortion AUDIT — the dimensionality-reduction counterpart of
    // n17's prefix truncation: 64 dims → 16 via a seed-derived sign
    // matrix (no training, unlike PCA/matryoshka — works on any corpus,
    // including one the model never saw). The audit computes, over a
    // fixed 32-vector panel (496 pairs — O(1) regardless of corpus
    // size), ‖Ru−Rv‖²/(k‖u−v‖²): JL says this concentrates around 1.
    // Scale shape: projection is a narrow per-row map (16 codegen'd dot
    // kernels against literal arrays, zero shuffle) — the operator that
    // makes every downstream distance computation 4× cheaper; the panel
    // join is a broadcast nested loop over 32 rows.
    "n22_jl_distortion" -> ((s, d) => {
      val v = vecs(s, d).filter(col("id") < JlPanel)
      val a = jlProject(v).withColumnRenamed("emb", "pemb")
        .join(v, "id")
        .select(col("id"), col("emb"), col("pemb"),
          norm2(col("emb")).as("n2"), norm2(col("pemb")).as("pn2"))
      val l = a.select(col("id").as("id_a"), col("emb").as("emb_a"),
        col("pemb").as("pemb_a"), col("n2").as("n2_a"),
        col("pn2").as("pn2_a"))
      val r = a.select(col("id").as("id_b"), col("emb").as("emb_b"),
        col("pemb").as("pemb_b"), col("n2").as("n2_b"),
        col("pn2").as("pn2_b"))
      l.join(broadcast(r), col("id_a") < col("id_b"))
        .withColumn("d2_orig", col("n2_a") + col("n2_b")
          - lit(2.0) * dot(col("emb_a"), col("emb_b")))
        .withColumn("d2_proj", col("pn2_a") + col("pn2_b")
          - lit(2.0) * dot(col("pemb_a"), col("pemb_b")))
        .select(col("id_a"), col("id_b"),
          round(col("d2_orig"), 6).as("d2_orig"),
          round(col("d2_proj"), 6).as("d2_proj"),
          round(when(col("d2_orig") === 0.0, lit(0.0))
            .otherwise(col("d2_proj") / (lit(JlDims.toDouble)
              * col("d2_orig"))), 6).as("ratio"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Neighborhood fidelity of the JL projection (n17's readout over the
    // projected space instead of the prefix space): recall@10 of
    // cosine-top-K computed on 16-dim projections vs the exact 64-dim
    // ranking. The pair (n17, n22b) is the reduce-dims decision table:
    // matryoshka needs a model trained for prefix-validity, JL needs
    // nothing — this measures what that convenience costs in recall.
    "n22b_jl_recall" -> ((s, d) => {
      val v = vecs(s, d)
      val vp = jlProject(v)
      val exact = bruteForceTopK(v.filter(col("id") < NumQueries), v, K)
        .select(col("query_id"), col("neighbor_id"))
      val approx = bruteForceTopK(vp.filter(col("id") < NumQueries), vp, K)
        .select(col("query_id"), col("neighbor_id"))
      val hit = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.select(col("query_id")).distinct()
        .join(hit, Seq("query_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("recall_bp", expr(s"(n_hit * 10000) div $K"))
        .orderBy(col("query_id"))
    }),

    // Cluster-balanced (temperature) downsampling — the DataComp/No-LM
    // "flatten the cluster distribution" sampler: per-cluster quotas
    // proportional to n_c^alpha for alpha in {0, 1/2, 1} (ppm), largest-
    // remainder apportionment to land EXACTLY on the global budget, and
    // deterministic membership = the quota smallest salted-md5 members of
    // each cluster. alpha=1 reproduces proportional allocation (shares
    // unchanged), alpha=0 uniform-per-cluster (head clusters crushed),
    // alpha=1/2 the sqrt compromise — one query, three operating points
    // (t38b/n21/d36's score-once-sweep-cheap discipline: the corpus scan
    // and hash ranking are paid once, per-alpha work is quota arithmetic
    // over |clusters| rows). Integer-exact cross-engine: n_c^(1/2) =
    // floor(sqrt(n_c*1e6)) — both engines run IEEE-754 sqrt (correctly
    // rounded) on the same BIGINT, so the fixed-point weight is
    // bit-stable. Scale shape: quota frames are |clusters| rows
    // (broadcast); the member rank hits WindowGroupLimit via the literal
    // rn <= Budget conjunct (q91's map-side prune — each cluster ships at
    // most Budget candidates to the window sort, never its full
    // membership); label stands in for the IVF list id — the same plan
    // serves IvfIndex.ensure assignments verbatim.
    "n23_cluster_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 200L
      val emb = Tables.fanout(Tables.embeddings(s, d))
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val nC = emb.groupBy(col("label")).agg(count(lit(1)).as("n_c"))
      val weights = Seq(
        nC.select(lit(0L).as("alpha_ppm"), col("label"), col("n_c"),
          lit(1000L).as("w")),
        nC.select(lit(500000L).as("alpha_ppm"), col("label"), col("n_c"),
          floor(sqrt(col("n_c") * lit(1000000L))).cast("long").as("w")),
        nC.select(lit(1000000L).as("alpha_ppm"), col("label"), col("n_c"),
          (col("n_c") * 1000L).as("w"))
      ).reduce(_ unionByName _)
      val wA = Window.partitionBy(col("alpha_ppm"))
      val quotas = weights
        .withColumn("wtot", sum(col("w")).over(wA))
        .withColumn("base", expr(s"$budget * w div wtot"))
        .withColumn("rmd", expr(s"($budget * w) % wtot"))
        .withColumn("short", lit(budget) - sum(col("base")).over(wA))
        .withColumn("rk", row_number().over(
          wA.orderBy(col("rmd").desc, col("label"))))
        .select(col("alpha_ppm"), col("label"), col("n_c"), col("w"),
          (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
            .as("quota"))
      val sel = emb
        .select(col("label"), col("vec_id"),
          md5(concat(lit("n23|"), col("vec_id").cast("string"))
            .cast("binary")).as("h"))
        .join(broadcast(quotas.select(col("alpha_ppm"), col("label"),
          col("quota"))), "label")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("alpha_ppm"), col("label"))
            .orderBy(col("h"), col("vec_id"))))
        .filter(col("rn") <= lit(budget) && col("rn") <= col("quota"))
        .groupBy(col("alpha_ppm"), col("label"))
        .agg(count(lit(1)).as("kept"),
          md5(array_join(transform(sort_array(collect_list(col("vec_id"))),
            x => x.cast("string")), "|").cast("binary")).as("kept_md5"))
      quotas.join(sel, Seq("alpha_ppm", "label"), "left")
        .select(col("alpha_ppm"), col("label"), col("n_c"), col("w"),
          col("quota"), coalesce(col("kept"), lit(0L)).as("kept"),
          expr(s"quota * 1000000L div $budget").as("quota_share_ppm"),
          col("kept_md5"))
        .orderBy(col("alpha_ppm"), col("label"))
    }),

    // 1-bit sign quantization + Hamming ranking — the extreme end of the
    // n8→n11 compression ladder: 64 dims collapse to 64 SIGN BITS stored
    // as two 32-bit words (8 bytes/vector, 64× smaller than fp64; two
    // words, not one, so no engine touches the sign bit of a BIGINT
    // shift). Scoring = 2 XOR + 2 popcounts — pure integer, perfectly
    // deterministic, SIMD-friendly at scale; the standard first-stage
    // filter ahead of an exact rerank (n10's ladder with a 64× cheaper
    // stage 1). Ranking ties (many pairs share a Hamming distance) break
    // on neighbor id — total order, oracle-exact.
    "n18_binary_ann" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      def sigWord(off: Int): Column =
        (0 until 32).map { j =>
          when(element_at(col("emb"), off + j + 1) >= 0, lit(1L << j))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      val b = vecs(s, d)
        .select(col("id"), sigWord(0).as("lo"), sigWord(32).as("hi"))
      val q = b.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("hamming"), col("id"))
      b.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .withColumn("hamming",
          (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
           bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("qid").as("query_id"), col("rank"),
          col("id").as("vec_id"), col("hamming"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The binary-rerank ladder (n10's two-stage serving with n18's 64×
    // cheaper stage 1): Hamming-rank ALL candidates on 8-byte sign
    // signatures, keep a 50-deep shortlist, exact-cosine rerank only
    // those to the final top-10. Stage-1 reads 8 B/vector and does
    // integer ops; stage 2 touches 50 raw vectors per query — the
    // recall-vs-cost trade every production binary index ships.
    "n18b_binary_rerank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      def sigWord(off: Int): Column =
        (0 until 32).map { j =>
          when(element_at(col("emb"), off + j + 1) >= 0, lit(1L << j))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      val v = vecs(s, d)
      val b = v.select(col("id"), col("emb"), norm2(col("emb")).as("n2"),
        sigWord(0).as("lo"), sigWord(32).as("hi"))
      val q = b.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("emb").as("q_emb"),
          col("n2").as("q_n2"), col("lo").as("qlo"), col("hi").as("qhi"))
      val wH = Window.partitionBy(col("qid"))
        .orderBy(col("hamming"), col("id"))
      val short = b.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .withColumn("hamming",
          (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
           bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long"))
        .withColumn("hrank", row_number().over(wH))
        .filter(col("hrank") <= 50)
      val wC = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("id"))
      short
        .withColumn("cos", cosine(dot(col("q_emb"), col("emb")),
          col("q_n2"), col("n2")))
        .withColumn("rank", row_number().over(wC).cast("long"))
        .filter(col("rank") <= K)
        .select(col("qid").as("query_id"), col("rank"),
          col("id").as("vec_id"), round(col("cos"), 6).as("cos_sim"),
          col("hamming"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // METADATA-FILTERED vector search (the Qdrant/Vespa/pgvector serving
    // feature every production vector store grew: "nearest neighbors
    // WHERE lang = query's lang"): a PRE-FILTER plan — the metadata
    // predicate becomes part of the JOIN KEY, so only same-lang pairs
    // are ever scored, vs post-filtering an unfiltered top-k (which
    // under-fills whenever the filter is selective — the classic
    // filtered-ANN failure mode this plan avoids by construction). The
    // lang dim broadcasts into the corpus scan; ranking runs through the
    // bounded TopKAggregator (no per-query sort). At selective filters
    // the scored frame shrinks WITH the filter — the pre-filter plan's
    // cost is |matching corpus|, never |corpus|.
    "n19_filtered_ann" -> ((s, d) => {
      import s.implicits._
      val meta = Tables.documents(s, d).select(col("doc_id").as("id"), col("lang"))
      val v = vecs(s, d).join(broadcast(meta), "id")
      val q = v.filter(col("id") < NumQueries)
        .select(col("lang"), col("id").as("query_id"),
          col("emb").as("q_emb"), norm2(col("emb")).as("q_n2"))
      val c = v.select(col("lang"), col("id").as("neighbor_id"),
        col("emb").as("c_emb"), norm2(col("emb")).as("c_n2"))
      val agg = new graft.functions.TopKAggregator(K)
      c.join(broadcast(q), Seq("lang"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("lang"),
          cosine(dot(col("q_emb"), col("c_emb")),
            col("q_n2"), col("c_n2")).as("cos"),
          col("neighbor_id"))
        .as[(Long, String, Double, Long)]
        .groupByKey(t => (t._1, t._2))
        .mapValues(t => (t._3, t._4))
        .agg(agg.toColumn.name("topk"))
        .flatMap { case ((qid, lang), topk) =>
          topk.iterator.zipWithIndex.map { case ((cos, id), i) =>
            (qid, (i + 1).toLong, id, BigDecimal(cos)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, lang)
          }
        }
        .toDF("query_id", "rank", "neighbor_id", "cos_sim", "lang")
        .orderBy(col("query_id"), col("rank"))
    }),

    // MMR DIVERSIFIED RERANK (Carbonell & Goldstein 1998): serving-side
    // result diversification — greedily pick k of the C-candidate
    // shortlist maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    // selected. The greedy is inherently sequential but k and C are
    // serving constants, so the distributed shape is: shortlist + C²
    // pairwise sims per query (bounded frames), then the selection runs
    // inside ONE flatMapGroups over ≤C·(C−1)-row groups — per-query
    // bounded memory, no driver loop, corpus never re-scanned. The
    // oracle UNROLLS the same greedy as 5 argmax CTE stages (the KmIters
    // discipline applied to a selection loop), so agreement proves the
    // in-group greedy step for step. Same IEEE ops both sides
    // (0.7·rel − 0.3·max), ties broken by candidate id.
    "n20_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val v = vecs(s, d)
      val q = v.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("emb").as("q_emb"),
          norm2(col("emb")).as("q_n2"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("rel").desc, col("id"))
      val sh = v.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .withColumn("rel", cosine(dot(col("q_emb"), col("emb")),
          col("q_n2"), norm2(col("emb"))))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= MmrShortlist)
        .select(col("qid"), col("id").as("cid"), col("rel"), col("emb"),
          norm2(col("emb")).as("n2"))
        .transform(graft.Tables.stage)
      val a = sh.select(col("qid"), col("cid").as("i"), col("rel").as("rel_i"),
        col("emb").as("emb_i"), col("n2").as("n2_i"))
      val b = sh.select(col("qid").as("qid_b"), col("cid").as("j"),
        col("emb").as("emb_j"), col("n2").as("n2_j"))
      val pw = a.join(b, col("qid") === col("qid_b") && col("i") =!= col("j"))
        .select(col("qid"), col("i"), col("rel_i"), col("j"),
          cosine(dot(col("emb_i"), col("emb_j")),
            col("n2_i"), col("n2_j")).as("s"))
        .as[(Long, Long, Double, Long, Double)]
      pw.groupByKey(_._1)
        .flatMapGroups { (qid, it) =>
          val rows = it.toSeq
          val rel = rows.map(r => r._2 -> r._3).toMap
          val sim = rows.map(r => (r._2, r._4) -> r._5).toMap
          var selected = Vector.empty[Long]
          val out = Seq.newBuilder[(Long, Long, Long, Double, Double)]
          var step = 1
          while (step <= MmrK && selected.size < rel.size) {
            var bestId = -1L
            var bestSc = Double.NegativeInfinity
            rel.keys.toSeq.sorted.foreach { c =>
              if (!selected.contains(c)) {
                val sc =
                  if (selected.isEmpty) 0.7 * rel(c)
                  else 0.7 * rel(c) - 0.3 * selected.map(s0 => sim((c, s0))).max
                if (sc > bestSc) { bestSc = sc; bestId = c }
              }
            }
            out += ((qid, step.toLong, bestId, bestSc, rel(bestId)))
            selected :+= bestId
            step += 1
          }
          out.result().iterator
        }
        .map { case (qid, rank, cid, sc, rel0) =>
          (qid, rank, cid,
            BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(rel0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .toDF("query_id", "rank", "vec_id", "mmr", "rel")
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVFADC SERVING against the persisted index ([[graft.ops.IvfIndex]])
    // — the lifecycle n14 conflates, split: training + materialization
    // happen ONCE (first invocation per corpus, or an explicit build);
    // this query is the steady-state read path a vector store actually
    // serves. Probed list ids resolve on the driver and partition-prune
    // the 4-byte code scan (the directory tree IS the inverted-list
    // index); the probe frame broadcasts into it. Same oracle as n14 —
    // the persisted index stores exactly what n14's in-query training
    // computes, so byte-equal results PROVE the round-trip is lossless.
    "n15_ivfpq_serve" -> ((s, d) =>
      graft.ops.IvfIndex.serve(s, d, K, nprobe = 2)),

    // Index maintenance readout over the PERSISTED index: per-list code
    // counts, corpus share, and the max/mean imbalance ratio (ppm) — the
    // numbers an operator watches to decide list re-splits (a hot
    // inverted list serves a disproportionate share of every probe) and
    // when to retrain the coarse quantizer. Reads only the 4-byte code
    // table; the oracle recomputes the same sizes from the unrolled
    // training chain, so a drifting index also fails THIS row.
    "n15b_index_stats" -> ((s, d) => {
      val p = graft.ops.IvfIndex.ensure(s, d)
      val sizes = s.read.parquet(p.codes)
        .groupBy(col("list_id").cast("long").as("list_id"))
        .agg(count(lit(1)).as("n_codes"))
      val tot = sizes.agg(sum(col("n_codes")).as("n_total"),
        max(col("n_codes")).as("n_max"), count(lit(1)).as("n_lists"))
      sizes.crossJoin(broadcast(tot))
        .select(col("list_id"), col("n_codes"),
          expr("n_codes * 1000000 div n_total").as("share_ppm"),
          expr("n_max * n_lists * 1000000 div n_total").as("imbalance_ppm"))
        .orderBy(col("list_id"))
    }),

    // IVF index REBALANCE planner — the maintenance op that completes
    // the index lifecycle (build n15 / serve n15 / admit streaming /
    // compact spec / REBALANCE here): per list, split when size > 1.5×
    // target (into ⌈size∕target⌉ sublists), merge when size < target∕2
    // (smallest-first deterministic pairing), else ok — with the
    // projected per-unit share after the plan. Two scenarios in one
    // frame: `current` (this trained index is BALANCED — every verdict
    // ok, the training-works certificate) and `burst6x`, a q93-style
    // capacity what-if admitting 6× the largest list's size into it (a
    // topical burst concentrated where the corpus is densest) — split,
    // merge, and ok all demonstrably fire, and the projected units
    // return to ~target share. Reads ONLY the persisted index codes:
    // planner cost is |lists| rows regardless of corpus size — at
    // 100 TB this runs on the metadata, never the vectors.
    "n24_ivf_rebalance" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = graft.ops.IvfIndex.ensure(s, d)
      val s0 = s.read.parquet(p.codes)
        .groupBy(col("list_id").cast("long").as("list_id"))
        .agg(count(lit(1)).as("n_codes"))
        .transform(graft.Tables.stage)
      val mx = s0.orderBy(col("n_codes").desc, col("list_id")).limit(1)
        .select(col("list_id").as("burst_list"),
          (col("n_codes") * 6).as("burst_add"))
      val sc = s0.select(lit("current").as("scenario"), col("list_id"),
          col("n_codes"))
        .unionByName(s0.crossJoin(broadcast(mx))
          .select(lit("burst6x").as("scenario"), col("list_id"),
            (col("n_codes") + when(col("list_id") === col("burst_list"),
              col("burst_add")).otherwise(0L)).as("n_codes")))
      val tot = sc.groupBy(col("scenario"))
        .agg(sum(col("n_codes")).as("n_total"),
          count(lit(1)).as("n_lists"))
      val v = sc.join(broadcast(tot), "scenario")
        .withColumn("target", expr("n_total div n_lists"))
        .withColumn("verdict", expr(
          """CASE WHEN n_codes * 2 > 3 * target THEN 'split'
            |     WHEN n_codes * 2 < target THEN 'merge'
            |     ELSE 'ok' END""".stripMargin))
      val wm = Window.partitionBy("scenario", "verdict")
        .orderBy("n_codes", "list_id")
      val w = v
        .withColumn("n_sub", expr(
          "CASE WHEN verdict = 'split' THEN (n_codes + target - 1) div target ELSE 1 END"))
        .withColumn("rn", row_number().over(wm))
        .withColumn("merge_group",
          when(col("verdict") === "merge", expr("(rn + 1) div 2")))
      val m = w.filter(col("verdict") === "merge")
        .groupBy(col("scenario"), col("merge_group"))
        .agg(sum(col("n_codes")).as("grp_codes"))
      w.join(m, Seq("scenario", "merge_group"), "left")
        .withColumn("unit_codes", expr(
          """CASE WHEN verdict = 'split' THEN (n_codes + n_sub - 1) div n_sub
            |     WHEN verdict = 'merge' THEN grp_codes
            |     ELSE n_codes END""".stripMargin))
        .select(col("scenario"), col("list_id"), col("n_codes"),
          expr("n_codes * 1000000 div n_total").as("share_ppm"),
          col("verdict"), col("n_sub"), col("merge_group"),
          col("unit_codes"),
          expr("unit_codes * 1000000 div n_total").as("unit_ppm"))
        .orderBy(col("scenario"), col("list_id"))
    }),

    // Cross-modal retrieval serving join (registered m6): ANN neighbors
    // resolved back to document metadata — embeddings and documents share
    // the id space (vec_id = doc_id), so the top-k result set (k·|queries|
    // rows, tiny) joins INTO the metadata table; at scale Spark broadcasts
    // the result side into the metadata scan, never the reverse. This is
    // the last hop every vector-search product runs and the first place
    // id-space drift between modalities surfaces (an unmatched neighbor
    // would vanish from the inner join — count parity with n1 is implied
    // by the oracle).
    "m6_crossmodal_retrieval" -> ((s, d) => {
      val v = vecs(s, d)
      val meta = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
      bruteForceTopK(v.filter(col("id") < NumQueries), v, 3)
        .join(meta, col("neighbor_id") === col("doc_id"))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("lang").as("nbr_lang"), col("source").as("nbr_source"),
          col("cos_sim"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Cross-modal ALIGNMENT GATE over m6's retrieval pairs — the LAION
    // CLIP-filter shape (Schuhmann et al. 2021: keep an (image, caption)
    // pair iff its cross-modal similarity clears a fixed threshold),
    // with the scorer a FIXED LINEAR combination so it is transcendental-
    // free and engine-exact (t20's logit discipline): embedding cosine
    // in ppm (floor — both engines compute the identical IEEE cosine, so
    // the floor is bit-deterministic) + language-match and source-match
    // prior bonuses − a capped length-mismatch penalty from the doc
    // metadata both modalities share. Output per retrieval pair: the
    // score and the keep verdict at [[AlignTauPpm]]. Scale shape: k·|Q|
    // pairs (tiny) broadcast-join INTO the metadata table twice — the
    // corpus is never shuffled; the gate itself is one codegen'd
    // projection. */
    "m13_caption_align" -> ((s, d) => {
      val v = vecs(s, d)
      val meta = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      bruteForceTopK(v.filter(col("id") < NumQueries), v, 3)
        .join(meta.select(col("doc_id").as("query_id"),
          col("lang").as("lang_q"), col("source").as("src_q"),
          col("n_chars").as("nc_q")), "query_id")
        .join(meta.select(col("doc_id").as("neighbor_id"),
          col("lang").as("lang_n"), col("source").as("src_n"),
          col("n_chars").as("nc_n")), "neighbor_id")
        .withColumn("align_ppm",
          expr("CAST(floor(cos_sim * 1000000.0D) AS BIGINT)")
            + when(col("lang_q") === col("lang_n"), 100000L).otherwise(0L)
            + when(col("src_q") === col("src_n"), 50000L).otherwise(0L)
            - least(abs(col("nc_q") - col("nc_n")) * 1000L, lit(100000L)))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("align_ppm"),
          (col("align_ppm") >= AlignTauPpm).as("keep"))
        .orderBy(col("query_id"), col("rank"))
    })
  )

  // DuckDB mirrors: same left-to-right double folds.
  // ---- PQ/ADC shared machinery (n11 fixed codebooks / n11b trained) ----

  val PqM = 4
  val PqSubDims = 16
  val PqKsub = 16

  private[graft] def pqSub(m: Int): Column =
    expr(s"slice(emb, ${m * PqSubDims + 1}, $PqSubDims)")

  /** n11's fixed codebooks: subvectors of the first [[PqKsub]] vectors
    * (cid, centroid, ‖c‖²) per subspace, sorted by cid. */
  private[graft] def fixedCodebooks(v: DataFrame): Seq[Seq[(Long, Seq[Double], Double)]] = {
    val cbRows = v.filter(col("id") < PqKsub).select(col("id"), col("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    (0 until PqM).map { m =>
      cbRows.toSeq.map { case (cid, full) =>
        val cent = full.slice(m * PqSubDims, (m + 1) * PqSubDims)
        (cid, cent, cent.foldLeft(0.0)((a, x) => a + x * x))
      }
    }
  }

  /** n11b's trained codebooks: [[graft.ops.SimilarityOps.kmeansFit]] per
    * subspace — first-k init (≡ the fixed codebooks) + [[KmIters]]
    * decimal-exact Lloyd steps. Only k×subdims doubles reach the driver.
    * The four subspace fits are independent, so they train CONCURRENTLY
    * (driver threads submitting overlapping Spark jobs — the scheduler
    * interleaves them); sequential training paid 4× the per-iteration
    * job+codegen latency for no reason. */
  private[graft] def trainedCodebooks(v: DataFrame): Seq[Seq[(Long, Seq[Double], Double)]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // One materialization feeds all 4×(iters+1) Lloyd jobs — each
    // iteration otherwise re-scans parquet + re-slices the subvector.
    val vc = v.transform(graft.Tables.stage)
    val fits = (0 until PqM).map { m => Future {
      val sv = vc.select(col("id"), pqSub(m).as("emb"))
      // kmeansCentroids, not kmeansFit: only the centroids are consumed
      // (collected ONCE here, at the end of the lazily-chained training),
      // so each subspace fit is a single job — no per-iteration collect,
      // no staging action.
      graft.ops.SimilarityOps.kmeansCentroids(sv, PqKsub, KmIters)
        .select(col("cid"), col("cent")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
        .map { case (cid, cent) =>
          (cid, cent, cent.foldLeft(0.0)((a, x) => a + x * x)) }
    } }
    fits.map(Await.result(_, Duration.Inf))
  }

  /** Argmin PQ code for subspace `m` (ties to the lower codebook position). */
  private[graft] def pqEncodeCol(cbs: Seq[Seq[(Long, Seq[Double], Double)]],
      m: Int): Column =
    graft.functions.VectorExpressions.nearest_centroid(pqSub(m),
      typedLit(cbs(m).zipWithIndex.map { case ((_, cent, cn2), pos) =>
        (pos.toLong, cent, cn2) })).getField("cid")

  /** Per-query ADC distance table for subspace `m` as an array column. */
  private[graft] def pqAdcArr(cbs: Seq[Seq[(Long, Seq[Double], Double)]],
      m: Int): Column = {
    val sn2 = norm2(pqSub(m))
    array(cbs(m).map { case (_, cent, cn2) =>
      (sn2 + lit(cn2)) - lit(2.0) * dot(pqSub(m), typedLit(cent))
    }: _*)
  }

  /** Encode every vector of `v` to [[PqM]] one-byte codes
    * ([[pqEncodeCol]]: argmin d² per subspace, ties to the lower codebook
    * POSITION — positions are the sorted-by-cid order, so fixed codebooks
    * keep n11's exact tie behavior and trained codebooks with dropped
    * clusters stay dense) and rank ADC distances: per-query distance
    * tables ([[pqAdcArr]]) broadcast as array columns, scoring = 4
    * lookups + 3 adds. */
  private[graft] def pqAdcTopK(v: DataFrame,
      cbs: Seq[Seq[(Long, Seq[Double], Double)]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def encodeCol(m: Int): Column = pqEncodeCol(cbs, m)
    def adcArr(m: Int): Column = pqAdcArr(cbs, m)
    val codes = v.select(col("id").as("vid"),
      encodeCol(0).as("c0"), encodeCol(1).as("c1"),
      encodeCol(2).as("c2"), encodeCol(3).as("c3"))
    val qs = v.filter(col("id") < NumQueries).select(col("id").as("qid"),
      adcArr(0).as("a0"), adcArr(1).as("a1"),
      adcArr(2).as("a2"), adcArr(3).as("a3"))
    val scored = codes.crossJoin(broadcast(qs))
      .withColumn("adc",
        element_at(col("a0"), col("c0").cast("int") + 1) +
        element_at(col("a1"), col("c1").cast("int") + 1) +
        element_at(col("a2"), col("c2").cast("int") + 1) +
        element_at(col("a3"), col("c3").cast("int") + 1))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select(col("qid").as("query_id"), col("rank"),
        col("vid").as("vec_id"), round(col("adc"), 6).as("adc_dist2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVFADC (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search" §IV): the full billion-scale serving stack — coarse
    * quantizer gates the scan to nprobe inverted lists (n7), PQ codes +
    * per-query ADC tables score what's left (n11b). Candidates touch
    * nprobe/nlists of the corpus AND each costs 4 lookups + 3 adds, with
    * raw vectors appearing nowhere in the serving path: the probe frame
    * (queries × ADC arrays × probed list ids) broadcasts into the 4-byte
    * code scan, which at scale is partition-pruned by list id. Self
    * excluded (n7's serving contract). */
  private[graft] def ivfPqTopK(v: DataFrame, assigned: DataFrame,
      centroids: DataFrame, cbs: Seq[Seq[(Long, Seq[Double], Double)]],
      k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = v.join(assigned.select(col("id"), col("cluster").as("list_id")), "id")
      .select(col("id").as("vid"), col("list_id"),
        pqEncodeCol(cbs, 0).as("c0"), pqEncodeCol(cbs, 1).as("c1"),
        pqEncodeCol(cbs, 2).as("c2"), pqEncodeCol(cbs, 3).as("c3"))
    val q = v.filter(col("id") < NumQueries).select(col("id").as("qid"),
      col("emb").as("q_emb"),
      pqAdcArr(cbs, 0).as("a0"), pqAdcArr(cbs, 1).as("a1"),
      pqAdcArr(cbs, 2).as("a2"), pqAdcArr(cbs, 3).as("a3"))
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("c_cos").desc, col("p_list"))
    val probes = q.crossJoin(broadcast(
        centroids.select(col("list_id").as("p_list"), col("centroid"))))
      .withColumn("c_cos", graft.functions.VectorExpressions.cosine_sim(
        col("q_emb"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("a0"), col("a1"), col("a2"), col("a3"),
        col("p_list"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vid"))
    codes.join(broadcast(probes),
        col("list_id") === col("p_list") && col("vid") =!= col("qid"))
      .withColumn("adc",
        element_at(col("a0"), col("c0").cast("int") + 1) +
        element_at(col("a1"), col("c1").cast("int") + 1) +
        element_at(col("a2"), col("c2").cast("int") + 1) +
        element_at(col("a3"), col("c3").cast("int") + 1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("vid").as("vec_id"), round(col("adc"), 6).as("adc_dist2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Residual-encoded IVFADC (Jégou et al. 2011 §IV.B — what FAISS's
    * IndexIVFPQ actually stores): PQ codes quantize `v − centroid(v)`
    * instead of `v`, and each query builds a distance table PER PROBED
    * LIST from its own residual `q − centroid(list)`. Residuals
    * concentrate near 0 once the coarse quantizer has captured the
    * coarse structure, so the same 4-byte budget spends its 16 codewords
    * on a tighter distribution. Costs one extra broadcast-join on the
    * build side (8-row centroid table) and nprobe× the ADC tables on the
    * query side; the scan stays 4-byte codes gated by a broadcast. */
  private[graft] def ivfPqResidualTopK(v: DataFrame, assigned: DataFrame,
      cents: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centB = broadcast(cents.select(col("cid").as("cluster"),
      col("cent")))
    val rv = v.join(assigned.select(col("id"), col("cluster")), "id")
      .join(centB, "cluster")
      .select(col("id"), col("cluster").as("list_id"),
        zip_with(col("emb"), col("cent"), (a, b) => a - b).as("emb"))
    val cbs = trainedCodebooks(rv.select(col("id"), col("emb")))
    val codes = rv.select(col("id").as("vid"), col("list_id"),
      pqEncodeCol(cbs, 0).as("c0"), pqEncodeCol(cbs, 1).as("c1"),
      pqEncodeCol(cbs, 2).as("c2"), pqEncodeCol(cbs, 3).as("c3"))
    val q = v.filter(col("id") < NumQueries)
      .select(col("id").as("qid"), col("emb").as("q_emb"))
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("c_cos").desc, col("p_list"))
    val probes = q.crossJoin(broadcast(cents.select(
        col("cid").as("p_list"), col("cent").as("centroid"))))
      .withColumn("c_cos", graft.functions.VectorExpressions.cosine_sim(
        col("q_emb"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .withColumn("emb",
        zip_with(col("q_emb"), col("centroid"), (a, b) => a - b))
      .select(col("qid"), col("p_list"),
        pqAdcArr(cbs, 0).as("a0"), pqAdcArr(cbs, 1).as("a1"),
        pqAdcArr(cbs, 2).as("a2"), pqAdcArr(cbs, 3).as("a3"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vid"))
    codes.join(broadcast(probes),
        col("list_id") === col("p_list") && col("vid") =!= col("qid"))
      .withColumn("adc",
        element_at(col("a0"), col("c0").cast("int") + 1) +
        element_at(col("a1"), col("c1").cast("int") + 1) +
        element_at(col("a2"), col("c2").cast("int") + 1) +
        element_at(col("a3"), col("c3").cast("int") + 1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("vid").as("vec_id"), round(col("adc"), 6).as("adc_dist2"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val dkDot =
    """list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(generate_series(1, len(a.emb)),
      |      i -> a.emb[i] * b.emb[i])), (x, y) -> x + y)""".stripMargin
  private def dkNorm2(t: String) =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform($t.emb, x -> x * x)), (p, q) -> p + q)""".stripMargin

  /** The LSH hyperplane weights embedded as SQL literals, one VALUES row per
    * (table, plane) — md5-derived integers, so DuckDB re-derives the exact
    * bucket signatures the Scala kernel computes (same ascending double
    * fold, same `d >= 0` bit rule). */
  private def lshWeightValues: String =
    (0 until LshTables).flatMap { t =>
      (0 until Planes).map { p =>
        val w = graft.ops.SimilarityOps.planeWeights(t * 1000 + p, Dims)
          .map(_.toLong).mkString("[", ", ", "]")
        s"($t, $p, $w)"
      }
    }.mkString(",\n    ")

  /** n22's sign matrix as VALUES rows `(j, ±1.0-list)` — md5-parity
    * derived, identical to [[graft.ops.SimilarityOps.jlSigns]]. */
  private def jlSignValues: String =
    (0 until JlDims).map { j =>
      val w = graft.ops.SimilarityOps.jlSigns(j, Dims)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"($j, $w)"
    }.mkString(",\n    ")

  /** The JL projection CTE (`vp`): per (id, j), the ascending-i fold of
    * emb[i]·sign[i] — the same left fold the Scala dot kernel computes —
    * reassembled into a j-ordered list. */
  private def dkJlProjCte(src: String): String =
    s"""jw(j, w) AS (VALUES
       |    $jlSignValues),
       |vp AS (
       |  SELECT id, list(y ORDER BY j) AS emb FROM (
       |    SELECT s0.id, s.j,
       |      list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(generate_series(1, $Dims),
       |          i -> s0.emb[i] * s.w[i])), (x, y) -> x + y) AS y
       |    FROM $src s0, jw s)
       |  GROUP BY id)""".stripMargin

  private[queries] def dot2(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(generate_series(1, len($a)),
       |        i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin
  private[queries] def n2of(e: String) =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform($e, z -> z * z)), (p, q) -> p + q)""".stripMargin

  /** Shared unrolled-Lloyd CTE chain mirroring
    * [[graft.ops.SimilarityOps.kmeansFit]]: v, cent0, KmIters ×
    * (assign + decimal-mean update), and `afinal` (assignment against
    * `cent{KmIters}`). Same (‖v‖²+‖c‖²)−2·v·c double arithmetic, same
    * (d2, cid) tie-break. */
  private def dkKmeansCtes: String = dkKmeansCtesOver(
    s"""v AS (
       |  SELECT vec_id AS id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings)""".stripMargin)

  /** [[plantedVecs]]'s mirror: originals ∪ perturbed twins. DuckDB's
    * generate_series index is 1-based where Spark's transform index is
    * 0-based, hence the `i - 1`. */
  private def dkPlantedV: String =
    s"""pv0 AS (
       |  SELECT vec_id AS id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |poff AS (SELECT max(id) + 1 AS off FROM pv0),
       |v AS (
       |  SELECT id, emb FROM pv0
       |  UNION ALL
       |  SELECT pv0.id + poff.off AS id,
       |    list_transform(generate_series(1, len(emb)),
       |      i -> emb[i] * (1.0 + 0.0002 *
       |        CAST((pv0.id + i - 1) % 5 - 2 AS DOUBLE))) AS emb
       |  FROM pv0, poff WHERE pv0.id % $PlantMod = 0)""".stripMargin

  /** [[dkKmeansCtes]] over a caller-supplied CTE chain whose LAST relation
    * is `v (id, emb)` — d23b trains on the planted augmented corpus. */
  private def dkKmeansCtesOver(vCtes: String): String = {
    def assign(cent: String, out: String) =
      s"""$out AS (
         |  SELECT id, cluster, d2 FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY d2, cluster) AS rn FROM (
         |      SELECT v.id, c.cid AS cluster,
         |        (${n2of("v.emb")} + ${n2of("c.cent")})
         |        - 2 * ${dot2("v.emb", "c.cent")} AS d2
         |      FROM v, $cent c))
         |  WHERE rn = 1)""".stripMargin
    def update(a: String, idx: Int) =
      s"""u$idx AS (
         |  SELECT a.cluster, u.dim, u.x
         |  FROM $a a JOIN v ON v.id = a.id,
         |    LATERAL (SELECT unnest(v.emb) AS x,
         |                    generate_subscripts(v.emb, 1) AS dim) u),
         |cd$idx AS (
         |  SELECT cluster, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM u$idx GROUP BY cluster, dim),
         |cent$idx AS (
         |  SELECT cluster AS cid, list(c ORDER BY dim) AS cent
         |  FROM cd$idx GROUP BY cluster)""".stripMargin
    val steps = (1 to KmIters).map { i =>
      assign(if (i == 1) "cent0" else s"cent${i - 1}", s"a$i") + ",\n" + update(s"a$i", i)
    }.mkString(",\n")
    s"""$vCtes,
       |cent0 AS (SELECT id AS cid, emb AS cent FROM v WHERE id < $KmK),
       |$steps,
       |${assign(s"cent$KmIters", "afinal")}""".stripMargin
  }

  private def dkKmeans: String =
    s"""WITH $dkKmeansCtes
       |SELECT id AS vec_id, cluster, round(d2, 6) AS dist2
       |FROM afinal ORDER BY vec_id""".stripMargin

  /** Trained-IVF mirror: probe the learned cent{KmIters} centroids (top-2
    * by cosine, ties to the smaller list id), rank exactly inside the
    * probed lists — n5's probe/rank structure over n6's training chain. */
  private def dkIvfKmeans: String =
    s"""WITH $dkKmeansCtes,
       |probe_scored AS (
       |  SELECT q.id AS query_id, q.emb AS q_emb, ct.cid AS list_id,
       |    ${dot2("q.emb", "ct.cent")}
       |    / sqrt(${n2of("q.emb")} * ${n2of("ct.cent")}) AS c_cos
       |  FROM v q, cent$KmIters ct WHERE q.id < $NumQueries),
       |probes AS (
       |  SELECT query_id, q_emb, list_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY c_cos DESC, list_id) AS pr
       |    FROM probe_scored) WHERE pr <= 2),
       |scored AS (
       |  SELECT p.query_id, c.id AS neighbor_id,
       |    ${dot2("p.q_emb", "c.emb")}
       |    / sqrt(${n2of("p.q_emb")} * ${n2of("c.emb")}) AS cos
       |  FROM probes p
       |  JOIN afinal af ON af.cluster = p.list_id
       |  JOIN v c ON c.id = af.id AND c.id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Trained-PQ mirror: the [[dkKmeansCtes]] unrolled-Lloyd structure run
    * once per 16-dim subspace (k = [[PqKsub]], [[KmIters]] steps, first-k
    * init ≡ n11's fixed codebook), then n11's encode/ADC/rank tail over
    * the TRAINED codebooks. Encode ties break on (d2, cid); Spark ties
    * break on sorted-by-cid position — order-isomorphic, so both engines
    * pick the same centroid, and only (vec_id, adc) surfaces anyway. */
  /** Per-subspace PQ training + encode CTE chain over base relation
    * `base` (id, emb): sv_m subspace slices, unrolled Lloyd per subspace,
    * cb codebooks, l all-pairs subspace distances, enc argmin codes,
    * codes pivoted, ql per-query distance tables (from `base`'s own
    * vectors — the residual variant builds its own probe-relative
    * tables). */
  private def dkPqChains(base: String = "v"): String = {
    def assign(m: Int, cent: String, out: String) =
      s"""$out AS (
         |  SELECT id, cluster, d2 FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY d2, cluster) AS rn FROM (
         |      SELECT s.id, c.cid AS cluster,
         |        (${n2of("s.emb")} + ${n2of("c.cent")})
         |        - 2.0 * ${dot2("s.emb", "c.cent")} AS d2
         |      FROM sv$m s, $cent c))
         |  WHERE rn = 1)""".stripMargin
    def update(m: Int, a: String, i: Int) =
      s"""u${i}_$m AS (
         |  SELECT a.cluster, u.dim, u.x
         |  FROM $a a JOIN sv$m s2 ON s2.id = a.id,
         |    LATERAL (SELECT unnest(s2.emb) AS x,
         |                    generate_subscripts(s2.emb, 1) AS dim) u),
         |cd${i}_$m AS (
         |  SELECT cluster, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM u${i}_$m GROUP BY cluster, dim),
         |cent${i}_$m AS (
         |  SELECT cluster AS cid, list(c ORDER BY dim) AS cent
         |  FROM cd${i}_$m GROUP BY cluster)""".stripMargin
    val chains = (0 until PqM).map { m =>
      val steps = (1 to KmIters).map { i =>
        assign(m, if (i == 1) s"cent0_$m" else s"cent${i - 1}_$m", s"a${i}_$m") +
          ",\n" + update(m, s"a${i}_$m", i)
      }.mkString(",\n")
      s"""sv$m AS (SELECT id, $base.emb[${m * PqSubDims} + 1 :
         |  ${(m + 1) * PqSubDims}] AS emb FROM $base),
         |cent0_$m AS (SELECT id AS cid, emb AS cent FROM sv$m
         |             WHERE id < $PqKsub),
         |$steps""".stripMargin
    }.mkString(",\n")
    val cbUnion = (0 until PqM).map { m =>
      s"SELECT $m AS m, cid, cent AS csv, ${n2of("cent")} AS cn2 FROM cent${KmIters}_$m"
    }.mkString("\n  UNION ALL\n  ")
    s"""$chains,
       |ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
       |sub AS (SELECT id, m, $base.emb[m*16 + 1 : (m + 1)*16] AS sv FROM $base, ms),
       |sn AS (SELECT id, m, sv,
       |        list_reduce(list_prepend(0.0::DOUBLE,
       |          list_transform(sv, z -> z * z)), (p, q) -> p + q) AS n2
       |       FROM sub),
       |cb AS (
       |  $cbUnion),
       |l AS (SELECT s.id, s.m, c.cid,
       |       (s.n2 + c.cn2) - 2.0 * list_reduce(list_prepend(0.0::DOUBLE,
       |          list_transform(generate_series(1, 16),
       |            i -> s.sv[i] * c.csv[i])), (x, y) -> x + y) AS d2
       |      FROM sn s JOIN cb c ON c.m = s.m),
       |enc AS (SELECT id, m, cid FROM (
       |        SELECT id, m, cid,
       |               ROW_NUMBER() OVER (PARTITION BY id, m
       |                                  ORDER BY d2, cid) AS rn FROM l)
       |        WHERE rn = 1),
       |codes AS (SELECT id AS vid,
       |        max(CASE WHEN m = 0 THEN cid END) AS c0,
       |        max(CASE WHEN m = 1 THEN cid END) AS c1,
       |        max(CASE WHEN m = 2 THEN cid END) AS c2,
       |        max(CASE WHEN m = 3 THEN cid END) AS c3
       |        FROM enc GROUP BY id),
       |ql AS (SELECT id AS qid, m, cid, d2 FROM l WHERE id < $NumQueries)""".stripMargin
  }

  /** Trained-PQ mirror body (see the n11b scaladoc above dkPqChains' old
    * site): v + the per-subspace chains + full-corpus ADC rank. */
  private def dkPqTrained: String =
    s"""WITH v AS (
       |  SELECT vec_id AS id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |${dkPqChains()},
       |adc AS (SELECT q0.qid, cd.vid,
       |        (((q0.d2 + q1.d2) + q2.d2) + q3.d2) AS adc
       |        FROM codes cd
       |        JOIN ql q0 ON q0.m = 0 AND q0.cid = cd.c0
       |        JOIN ql q1 ON q1.m = 1 AND q1.cid = cd.c1 AND q1.qid = q0.qid
       |        JOIN ql q2 ON q2.m = 2 AND q2.cid = cd.c2 AND q2.qid = q0.qid
       |        JOIN ql q3 ON q3.m = 3 AND q3.cid = cd.c3 AND q3.qid = q0.qid)
       |SELECT query_id, rank, vec_id, round(adc, 6) AS adc_dist2 FROM (
       |  SELECT qid AS query_id, vid AS vec_id, adc,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
       |  FROM adc) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** n14's mirror: [[dkKmeansCtes]] (coarse quantizer — defines v, the
    * cent0..cent2 Lloyd chain and afinal) + [[dkPqChains]] (per-subspace
    * PQ trainings, codes, per-query ADC tables; CTE names are disjoint by
    * construction: the PQ chain suffixes everything `_m`) + the probe-
    * gated ADC join. Probe selection mirrors dkIvfKmeans (cosine DESC,
    * ties to the smaller list id); self excluded on both sides. */
  private def dkIvfPq: String =
    s"""WITH $dkKmeansCtes,
       |${dkPqChains()},
       |probe_scored AS (
       |  SELECT q.id AS qid, ct.cid AS p_list,
       |    ${dot2("q.emb", "ct.cent")}
       |    / sqrt(${n2of("q.emb")} * ${n2of("ct.cent")}) AS c_cos
       |  FROM v q, cent$KmIters ct WHERE q.id < $NumQueries),
       |probes AS (
       |  SELECT qid, p_list FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY c_cos DESC, p_list) AS pr
       |    FROM probe_scored) WHERE pr <= 2),
       |gated AS (
       |  SELECT p.qid, af.id AS vid
       |  FROM probes p JOIN afinal af ON af.cluster = p.p_list
       |  WHERE af.id <> p.qid),
       |adcg AS (
       |  SELECT g.qid, g.vid,
       |    (((q0.d2 + q1.d2) + q2.d2) + q3.d2) AS adc
       |  FROM gated g
       |  JOIN codes cd ON cd.vid = g.vid
       |  JOIN ql q0 ON q0.qid = g.qid AND q0.m = 0 AND q0.cid = cd.c0
       |  JOIN ql q1 ON q1.qid = g.qid AND q1.m = 1 AND q1.cid = cd.c1
       |  JOIN ql q2 ON q2.qid = g.qid AND q2.m = 2 AND q2.cid = cd.c2
       |  JOIN ql q3 ON q3.qid = g.qid AND q3.m = 3 AND q3.cid = cd.c3)
       |SELECT query_id, rank, vec_id, round(adc, 6) AS adc_dist2 FROM (
       |  SELECT qid AS query_id, vid AS vec_id, adc,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
       |  FROM adcg) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** n14b's mirror: [[dkKmeansCtes]] + residual relation rv (v − its
    * cluster's trained centroid, elementwise) + [[dkPqChains]] over rv +
    * per-(query, probed-list) residual distance tables + the probe-gated
    * ADC join. The chain's `ql` CTE (rv-based query tables) goes unused —
    * the residual variant's query tables are probe-relative. */
  private def dkIvfPqResidual: String =
    s"""WITH $dkKmeansCtes,
       |rv AS (
       |  SELECT af.id, af.cluster AS list_id,
       |    list_transform(generate_series(1, $Dims),
       |      i -> v2.emb[i] - c.cent[i]) AS emb
       |  FROM afinal af JOIN v v2 ON v2.id = af.id
       |  JOIN cent$KmIters c ON c.cid = af.cluster),
       |${dkPqChains("rv")},
       |probe_scored AS (
       |  SELECT q.id AS qid, ct.cid AS p_list, ct.cent,
       |    ${dot2("q.emb", "ct.cent")}
       |    / sqrt(${n2of("q.emb")} * ${n2of("ct.cent")}) AS c_cos
       |  FROM v q, cent$KmIters ct WHERE q.id < $NumQueries),
       |probes AS (
       |  SELECT qid, p_list, cent FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY c_cos DESC, p_list) AS pr
       |    FROM probe_scored) WHERE pr <= 2),
       |qres AS (
       |  SELECT p.qid, p.p_list,
       |    list_transform(generate_series(1, $Dims),
       |      i -> q.emb[i] - p.cent[i]) AS emb
       |  FROM probes p JOIN v q ON q.id = p.qid),
       |qsub AS (SELECT qid, p_list, m,
       |         qres.emb[m*16 + 1 : (m + 1)*16] AS sv FROM qres, ms),
       |qsn AS (SELECT qid, p_list, m, sv,
       |        list_reduce(list_prepend(0.0::DOUBLE,
       |          list_transform(sv, z -> z * z)), (p, q) -> p + q) AS n2
       |       FROM qsub),
       |qd AS (SELECT s.qid, s.p_list, s.m, c.cid,
       |       (s.n2 + c.cn2) - 2.0 * list_reduce(list_prepend(0.0::DOUBLE,
       |          list_transform(generate_series(1, 16),
       |            i -> s.sv[i] * c.csv[i])), (x, y) -> x + y) AS d2
       |      FROM qsn s JOIN cb c ON c.m = s.m),
       |adcg AS (
       |  SELECT q0.qid, cd.vid,
       |    (((q0.d2 + q1.d2) + q2.d2) + q3.d2) AS adc
       |  FROM codes cd
       |  JOIN rv ON rv.id = cd.vid
       |  JOIN qd q0 ON q0.p_list = rv.list_id AND q0.m = 0
       |            AND q0.cid = cd.c0 AND cd.vid <> q0.qid
       |  JOIN qd q1 ON q1.qid = q0.qid AND q1.p_list = rv.list_id
       |            AND q1.m = 1 AND q1.cid = cd.c1
       |  JOIN qd q2 ON q2.qid = q0.qid AND q2.p_list = rv.list_id
       |            AND q2.m = 2 AND q2.cid = cd.c2
       |  JOIN qd q3 ON q3.qid = q0.qid AND q3.p_list = rv.list_id
       |            AND q3.m = 3 AND q3.cid = cd.c3)
       |SELECT query_id, rank, vec_id, round(adc, 6) AS adc_dist2 FROM (
       |  SELECT qid AS query_id, vid AS vec_id, adc,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
       |  FROM adcg) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** n16's two-leg mirror — also pins n16b (the one-pass aggregator must
    * produce the identical fused ranking). */
  private lazy val dkRrfFusion: String =
    s"""WITH toks0 AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
       |  FROM documents),
       |dft AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS df FROM toks0 GROUP BY tok)
       |  WHERE df <= $RrfDfCap),
       |rare AS (SELECT t.doc_id, t.tok FROM toks0 t JOIN dft USING (tok)),
       |lex AS (
       |  SELECT q.doc_id AS qid, c.doc_id AS did, count(*) AS n_shared
       |  FROM rare q JOIN rare c ON c.tok = q.tok AND c.doc_id <> q.doc_id
       |  WHERE q.doc_id < $NumQueries
       |  GROUP BY q.doc_id, c.doc_id),
       |lext AS (SELECT qid, did, lex_rank FROM (
       |  SELECT qid, did,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |                       ORDER BY n_shared DESC, did) AS lex_rank
       |  FROM lex) WHERE lex_rank <= $K),
       |v AS (
       |  SELECT vec_id AS id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |vscored AS (
       |  SELECT a.id AS qid, b.id AS did,
       |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
       |  FROM v a, v b
       |  WHERE a.id < $NumQueries AND b.id <> a.id),
       |vect AS (
       |  SELECT qid, did, vec_rank FROM (
       |    SELECT qid, did,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |                         ORDER BY cos DESC, did) AS vec_rank
       |    FROM vscored) WHERE vec_rank <= $K),
       |f AS (
       |  SELECT coalesce(l.qid, vt.qid) AS qid,
       |         coalesce(l.did, vt.did) AS did,
       |         l.lex_rank, vt.vec_rank,
       |         coalesce(1000000 // (60 + l.lex_rank), 0)
       |           + coalesce(1000000 // (60 + vt.vec_rank), 0) AS rrf_ppm
       |  FROM lext l FULL OUTER JOIN vect vt
       |    ON vt.qid = l.qid AND vt.did = l.did)
       |SELECT query_id, rank, doc_id, rrf_ppm, lex_rank, vec_rank FROM (
       |  SELECT qid AS query_id, did AS doc_id, rrf_ppm, lex_rank, vec_rank,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |                            ORDER BY rrf_ppm DESC, did) AS rank
       |  FROM f) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** n16's chain re-exposed as a CTE block ending in `fused` (qid, did,
    * rrf_ppm, lex_rank, vec_rank, rank ≤ K) plus `v` — the candidate
    * front half the composed serving pipeline ([[PipelineQueries]] p2)
    * builds on. Kept textually in sync with [[dkRrfFusion]] (the n16
    * oracle is derived from this block). */
  private[queries] lazy val dkRrfFusedCtes: String = {
    val body = dkRrfFusion.stripPrefix("WITH ")
    val cut = body.lastIndexOf("SELECT query_id, rank, doc_id")
    body.substring(0, cut).trim.stripSuffix(",") + ",\n" +
      s"""fused AS (
         |  SELECT qid, did, rrf_ppm, lex_rank, vec_rank, rank FROM (
         |    SELECT qid, did, rrf_ppm, lex_rank, vec_rank,
         |           ROW_NUMBER() OVER (PARTITION BY qid
         |                              ORDER BY rrf_ppm DESC, did) AS rank
         |    FROM f) WHERE rank <= $K)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // pre-filter ≡ "exact top-k over the lang-restricted corpus" — the
    // oracle states the SEMANTIC contract (restricted scan + rank), so
    // agreement proves the join-key pre-filter loses no candidates
    "n19_filtered_ann" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |vm AS (
         |  SELECT v.id, d.lang, v.emb
         |  FROM v JOIN documents d ON d.doc_id = v.id),
         |sc AS (
         |  SELECT a.id AS qid, a.lang, b.id AS nid,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM vm a JOIN vm b ON b.lang = a.lang AND b.id <> a.id
         |  WHERE a.id < $NumQueries)
         |SELECT query_id, rank, neighbor_id, cos_sim, lang FROM (
         |  SELECT qid AS query_id, lang, nid AS neighbor_id,
         |         round(cos, 6) AS cos_sim,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, nid) AS rank
         |  FROM sc) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // the SAME greedy, unrolled: step t = one argmax CTE over the
    // not-yet-selected shortlist with max-sim-to-sel{t−1} as the penalty
    "n20_mmr_rerank" -> {
      val prefix =
        s"""v AS (
           |  SELECT vec_id AS id,
           |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |sc0 AS (
           |  SELECT a.id AS qid, b.id AS cid,
           |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS rel
           |  FROM v a JOIN v b ON b.id <> a.id
           |  WHERE a.id < $NumQueries),
           |sh AS (
           |  SELECT qid, cid, rel FROM (
           |    SELECT qid, cid, rel,
           |      ROW_NUMBER() OVER (PARTITION BY qid
           |                         ORDER BY rel DESC, cid) AS rnk
           |    FROM sc0) WHERE rnk <= $MmrShortlist),
           |pw AS (
           |  SELECT x.qid, x.cid AS i, y.cid AS j,
           |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS s
           |  FROM sh x JOIN sh y ON y.qid = x.qid AND y.cid <> x.cid
           |  JOIN v a ON a.id = x.cid JOIN v b ON b.id = y.cid),
           |s1 AS (SELECT qid, cid, 0.7 * rel AS sc, rel FROM sh),
           |p1 AS (
           |  SELECT qid, cid, sc, rel FROM (
           |    SELECT qid, cid, sc, rel,
           |      ROW_NUMBER() OVER (PARTITION BY qid
           |                         ORDER BY sc DESC, cid) AS r
           |    FROM s1) WHERE r = 1),
           |sel1 AS (SELECT qid, cid FROM p1)""".stripMargin
      val steps = (2 to MmrK).map { t =>
        s"""s$t AS (
           |  SELECT h.qid, h.cid, 0.7 * h.rel - 0.3 * max(w.s) AS sc, h.rel
           |  FROM sh h
           |  JOIN pw w ON w.qid = h.qid AND w.i = h.cid
           |  JOIN sel${t - 1} z ON z.qid = w.qid AND z.cid = w.j
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} e
           |                    WHERE e.qid = h.qid AND e.cid = h.cid)
           |  GROUP BY h.qid, h.cid, h.rel),
           |p$t AS (
           |  SELECT qid, cid, sc, rel FROM (
           |    SELECT qid, cid, sc, rel,
           |      ROW_NUMBER() OVER (PARTITION BY qid
           |                         ORDER BY sc DESC, cid) AS r
           |    FROM s$t) WHERE r = 1),
           |sel$t AS (SELECT qid, cid FROM sel${t - 1}
           |          UNION ALL SELECT qid, cid FROM p$t)""".stripMargin
      }
      val unions = (1 to MmrK)
        .map(t => s"  SELECT qid, $t AS rank, cid, sc, rel FROM p$t")
        .mkString("\n  UNION ALL\n")
      s"""WITH $prefix,
         |${steps.mkString(",\n")}
         |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
         |       cid AS vec_id, round(sc, 6) AS mmr, round(rel, 6) AS rel
         |FROM (
         |$unions)
         |ORDER BY query_id, rank""".stripMargin
    },
    "n11b_pq_trained" -> dkPqTrained,
    "n14_ivfpq" -> dkIvfPq,
    "n14b_ivfpq_residual" -> dkIvfPqResidual,
    // n15 serves from the persisted index, which stores exactly the
    // quantities n14's in-query training computes — one oracle pins both
    // (and a drifting index build fails THIS row, not just a spec).
    "n15_ivfpq_serve" -> dkIvfPq,
    // the persisted index's list sizes ≡ the training chain's final
    // assignment histogram
    "n15b_index_stats" ->
      s"""WITH $dkKmeansCtes,
         |sizes AS (
         |  SELECT cluster AS list_id, count(*) AS n_codes
         |  FROM afinal GROUP BY cluster),
         |tot AS (
         |  SELECT CAST(sum(n_codes) AS BIGINT) AS n_total,
         |         max(n_codes) AS n_max, count(*) AS n_lists
         |  FROM sizes)
         |SELECT s.list_id, s.n_codes,
         |  (s.n_codes * 1000000) // t.n_total AS share_ppm,
         |  (t.n_max * t.n_lists * 1000000) // t.n_total AS imbalance_ppm
         |FROM sizes s, tot t ORDER BY list_id""".stripMargin,
    // n15b's size chain + pure planner arithmetic, both scenarios
    "n24_ivf_rebalance" ->
      s"""WITH $dkKmeansCtes,
         |s0 AS (
         |  SELECT cluster AS list_id, CAST(count(*) AS BIGINT) AS n_codes
         |  FROM afinal GROUP BY cluster),
         |mx AS (
         |  SELECT list_id AS burst_list, n_codes * 6 AS burst_add FROM s0
         |  ORDER BY n_codes DESC, list_id LIMIT 1),
         |sc AS (
         |  SELECT 'current' AS scenario, list_id, n_codes FROM s0
         |  UNION ALL
         |  SELECT 'burst6x', s0.list_id,
         |    s0.n_codes + CASE WHEN s0.list_id = mx.burst_list
         |                      THEN mx.burst_add ELSE 0 END
         |  FROM s0, mx),
         |tot AS (
         |  SELECT scenario, CAST(sum(n_codes) AS BIGINT) AS n_total,
         |         CAST(count(*) AS BIGINT) AS n_lists
         |  FROM sc GROUP BY 1),
         |pv AS (
         |  SELECT sc.scenario, sc.list_id, sc.n_codes, t.n_total,
         |    t.n_total // t.n_lists AS target,
         |    CASE WHEN sc.n_codes * 2 > 3 * (t.n_total // t.n_lists)
         |           THEN 'split'
         |         WHEN sc.n_codes * 2 < (t.n_total // t.n_lists)
         |           THEN 'merge'
         |         ELSE 'ok' END AS verdict
         |  FROM sc JOIN tot t USING (scenario)),
         |w AS (
         |  SELECT *,
         |    CASE WHEN verdict = 'split'
         |         THEN (n_codes + target - 1) // target ELSE 1 END AS n_sub,
         |    CASE WHEN verdict = 'merge'
         |      THEN (row_number() OVER (PARTITION BY scenario, verdict
         |            ORDER BY n_codes, list_id) + 1) // 2 END AS merge_group
         |  FROM pv),
         |m AS (
         |  SELECT scenario, merge_group,
         |         CAST(sum(n_codes) AS BIGINT) AS grp_codes
         |  FROM w WHERE verdict = 'merge' GROUP BY 1, 2),
         |u AS (
         |  SELECT w.scenario, w.list_id, w.n_codes, w.n_total, w.verdict,
         |    w.n_sub, w.merge_group,
         |    CASE WHEN w.verdict = 'split'
         |           THEN (w.n_codes + w.n_sub - 1) // w.n_sub
         |         WHEN w.verdict = 'merge' THEN m.grp_codes
         |         ELSE w.n_codes END AS unit_codes
         |  FROM w LEFT JOIN m USING (scenario, merge_group))
         |SELECT scenario, list_id, n_codes,
         |  CAST(n_codes * 1000000 // n_total AS BIGINT) AS share_ppm,
         |  verdict, CAST(n_sub AS BIGINT) AS n_sub,
         |  CAST(merge_group AS BIGINT) AS merge_group,
         |  CAST(unit_codes AS BIGINT) AS unit_codes,
         |  CAST(unit_codes * 1000000 // n_total AS BIGINT) AS unit_ppm
         |FROM u ORDER BY scenario, list_id""".stripMargin,
    // two n1 chains (full-width truth, MrlDims prefix) + the n12 readout
    "n17_matryoshka_recall" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |vp AS (SELECT id, emb[1 : $MrlDims] AS emb FROM v),
         |escored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a, v b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM escored) WHERE rank <= $K),
         |ascored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM vp a, vp b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM ascored) WHERE rank <= $K),
         |hit AS (
         |  SELECT e.query_id, count(*) AS n_hit
         |  FROM exact e JOIN approx ap
         |    ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id, coalesce(h.n_hit, 0) AS n_hit,
         |       (coalesce(h.n_hit, 0) * 10000) // $K AS recall_bp
         |FROM (SELECT DISTINCT query_id FROM exact) q
         |LEFT JOIN hit h USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "n22_jl_distortion" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings WHERE vec_id < $JlPanel),
         |${dkJlProjCte("v")},
         |av AS (
         |  SELECT v.id, v.emb AS emb, vp.emb AS pemb
         |  FROM v JOIN vp USING (id)),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    (${n2of("a.emb")} + ${n2of("b.emb")})
         |      - 2.0 * ${dot2("a.emb", "b.emb")} AS d2_orig,
         |    (${n2of("a.pemb")} + ${n2of("b.pemb")})
         |      - 2.0 * ${dot2("a.pemb", "b.pemb")} AS d2_proj
         |  FROM av a, av b WHERE a.id < b.id)
         |SELECT id_a, id_b,
         |  round(d2_orig, 6) AS d2_orig,
         |  round(d2_proj, 6) AS d2_proj,
         |  round(CASE WHEN d2_orig = 0 THEN 0.0
         |        ELSE d2_proj / ($JlDims.0 * d2_orig) END, 6) AS ratio
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "n22b_jl_recall" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |${dkJlProjCte("v")},
         |escored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a, v b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM escored) WHERE rank <= $K),
         |ascored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM vp a, vp b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM ascored) WHERE rank <= $K),
         |hit AS (
         |  SELECT e.query_id, count(*) AS n_hit
         |  FROM exact e JOIN approx ap
         |    ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id, coalesce(h.n_hit, 0) AS n_hit,
         |       (coalesce(h.n_hit, 0) * 10000) // $K AS recall_bp
         |FROM (SELECT DISTINCT query_id FROM exact) q
         |LEFT JOIN hit h USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "n23_cluster_sample" ->
      s"""WITH nc AS (
         |  SELECT CAST(label AS BIGINT) AS label,
         |         CAST(count(*) AS BIGINT) AS n_c
         |  FROM embeddings GROUP BY label),
         |wts AS (
         |  SELECT CAST(0 AS BIGINT) AS alpha_ppm, label, n_c,
         |         CAST(1000 AS BIGINT) AS w FROM nc
         |  UNION ALL
         |  SELECT CAST(500000 AS BIGINT), label, n_c,
         |         CAST(floor(sqrt(n_c * 1000000)) AS BIGINT) FROM nc
         |  UNION ALL
         |  SELECT CAST(1000000 AS BIGINT), label, n_c,
         |         CAST(n_c * 1000 AS BIGINT) FROM nc),
         |q0 AS (
         |  SELECT alpha_ppm, label, n_c, w,
         |    sum(w) OVER (PARTITION BY alpha_ppm) AS wtot,
         |    200 * w // sum(w) OVER (PARTITION BY alpha_ppm) AS base,
         |    (200 * w) % sum(w) OVER (PARTITION BY alpha_ppm) AS rmd
         |  FROM wts),
         |q1 AS (
         |  SELECT alpha_ppm, label, n_c, w, base, rmd,
         |    200 - sum(base) OVER (PARTITION BY alpha_ppm) AS short,
         |    ROW_NUMBER() OVER (PARTITION BY alpha_ppm
         |                       ORDER BY rmd DESC, label) AS rk
         |  FROM q0),
         |q2 AS (
         |  SELECT alpha_ppm, label, n_c, w,
         |    CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END
         |      AS BIGINT) AS quota
         |  FROM q1),
         |h AS (
         |  SELECT CAST(label AS BIGINT) AS label, vec_id,
         |         md5('n23|' || vec_id::VARCHAR) AS h
         |  FROM embeddings),
         |r AS (
         |  SELECT q.alpha_ppm, h.label, h.vec_id, q.quota,
         |    ROW_NUMBER() OVER (PARTITION BY q.alpha_ppm, h.label
         |                       ORDER BY h.h, h.vec_id) AS rn
         |  FROM h JOIN q2 q USING (label)),
         |sa AS (
         |  SELECT alpha_ppm, label, CAST(count(*) AS BIGINT) AS kept,
         |    md5(string_agg(vec_id::VARCHAR, '|' ORDER BY vec_id))
         |      AS kept_md5
         |  FROM r WHERE rn <= quota GROUP BY alpha_ppm, label)
         |SELECT q.alpha_ppm, q.label, q.n_c, q.w, q.quota,
         |  coalesce(sa.kept, CAST(0 AS BIGINT)) AS kept,
         |  CAST(q.quota * 1000000 // 200 AS BIGINT) AS quota_share_ppm,
         |  sa.kept_md5
         |FROM q2 q LEFT JOIN sa USING (alpha_ppm, label)
         |ORDER BY q.alpha_ppm, q.label""".stripMargin,
    "n18_binary_ann" -> {
      def word(off: Int) = (0 until 32).map { j =>
        s"(CASE WHEN emb[${off + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")::BIGINT")
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |b AS (
         |  SELECT id, ${word(0)} AS lo, ${word(32)} AS hi FROM v),
         |q AS (SELECT id AS qid, lo AS qlo, hi AS qhi FROM b
         |      WHERE id < $NumQueries),
         |scored AS (
         |  SELECT q.qid, b.id,
         |    CAST(bit_count(xor(b.lo, q.qlo))
         |       + bit_count(xor(b.hi, q.qhi)) AS BIGINT) AS hamming
         |  FROM b, q WHERE b.id <> q.qid)
         |SELECT query_id, rank, vec_id, hamming FROM (
         |  SELECT qid AS query_id, id AS vec_id, hamming,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |                            ORDER BY hamming, id) AS rank
         |  FROM scored) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    "n18b_binary_rerank" -> {
      def word(off: Int) = (0 until 32).map { j =>
        s"(CASE WHEN emb[${off + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")::BIGINT")
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |b AS (
         |  SELECT id, emb, ${word(0)} AS lo, ${word(32)} AS hi FROM v),
         |q AS (SELECT id AS qid, emb AS q_emb, lo AS qlo, hi AS qhi FROM b
         |      WHERE id < $NumQueries),
         |hs AS (
         |  SELECT q.qid, b.id, b.emb, q.q_emb,
         |    CAST(bit_count(xor(b.lo, q.qlo))
         |       + bit_count(xor(b.hi, q.qhi)) AS BIGINT) AS hamming
         |  FROM b, q WHERE b.id <> q.qid),
         |short AS (
         |  SELECT qid, id, emb, q_emb, hamming FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY hamming, id) AS hrank FROM hs) WHERE hrank <= 50),
         |rer AS (
         |  SELECT qid, id, hamming,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(generate_series(1, len(q_emb)),
         |        i -> q_emb[i] * emb[i])), (x, y) -> x + y)
         |    / sqrt(
         |      list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(q_emb, z -> z * z)), (p, r) -> p + r)
         |      * list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(emb, z -> z * z)), (p, r) -> p + r)) AS cos
         |  FROM short)
         |SELECT query_id, rank, vec_id, round(cos, 6) AS cos_sim, hamming
         |FROM (
         |  SELECT qid AS query_id, id AS vec_id, cos, hamming,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, id) AS rank
         |  FROM rer) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    "n16_rrf_fusion" -> dkRrfFusion,
    // the one-pass aggregator must reproduce the two-leg plan EXACTLY
    "n16b_rrf_onepass" -> dkRrfFusion,
    "n8_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, emb,
        |    list_max(list_transform(emb, x -> abs(x))) AS mx
        |  FROM v),
        |q AS (
        |  SELECT vec_id, emb, mx,
        |    CASE WHEN mx = 0 THEN list_transform(emb, x -> 0::BIGINT)
        |         ELSE list_transform(emb,
        |                x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT))
        |    END AS qv
        |  FROM m)
        |SELECT vec_id, round(mx, 6) AS mx_q,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(len(list_filter(qv, z -> abs(z) = 127)) AS BIGINT) AS n_sat,
        |  round(CASE WHEN mx = 0 THEN 0.0 ELSE
        |    list_max(list_transform(generate_series(1, len(emb)),
        |      i -> abs(emb[i] - qv[i] * mx / 127.0))) END, 8) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "n6_kmeans" -> dkKmeans,
    "n7_ivf_kmeans" -> dkIvfKmeans,
    "n2_ann_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |w(tbl, plane, wts) AS (VALUES
         |    $lshWeightValues),
         |sigs AS (
         |  SELECT v.id, w.tbl,
         |    CAST(SUM(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(generate_series(1, $Dims),
         |          i -> v.emb[i] * w.wts[i])),
         |        (x, y) -> x + y) >= 0
         |      THEN (1::BIGINT << w.plane) ELSE 0 END) AS BIGINT) AS sig
         |  FROM v, w GROUP BY v.id, w.tbl),
         |cand AS (
         |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
         |  FROM sigs q JOIN sigs c
         |    ON q.tbl = c.tbl AND q.sig = c.sig AND c.id <> q.id
         |  WHERE q.id < $NumQueries),
         |scored AS (
         |  SELECT k.query_id, k.neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM cand k
         |  JOIN v a ON a.id = k.query_id
         |  JOIN v b ON b.id = k.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "n1_ann_bruteforce" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a, v b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // n2's LSH CTEs + n1's exact CTEs (renamed e*) + the recall readout
    "n12_ann_recall" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |w(tbl, plane, wts) AS (VALUES
         |    $lshWeightValues),
         |sigs AS (
         |  SELECT v.id, w.tbl,
         |    CAST(SUM(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(generate_series(1, $Dims),
         |          i -> v.emb[i] * w.wts[i])),
         |        (x, y) -> x + y) >= 0
         |      THEN (1::BIGINT << w.plane) ELSE 0 END) AS BIGINT) AS sig
         |  FROM v, w GROUP BY v.id, w.tbl),
         |cand AS (
         |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
         |  FROM sigs q JOIN sigs c
         |    ON q.tbl = c.tbl AND q.sig = c.sig AND c.id <> q.id
         |  WHERE q.id < $NumQueries),
         |ascored AS (
         |  SELECT k.query_id, k.neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM cand k
         |  JOIN v a ON a.id = k.query_id
         |  JOIN v b ON b.id = k.neighbor_id),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM ascored) WHERE rank <= $K),
         |escored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a, v b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM escored) WHERE rank <= $K),
         |hit AS (
         |  SELECT e.query_id, count(*) AS n_hit
         |  FROM exact e JOIN approx ap
         |    ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id, coalesce(h.n_hit, 0) AS n_hit,
         |       (coalesce(h.n_hit, 0) * 10000) // $K AS recall_bp
         |FROM (SELECT DISTINCT query_id FROM exact) q
         |LEFT JOIN hit h USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "n5_ivf_ann" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         |         label AS list_id
         |  FROM embeddings),
         |e AS (
         |  SELECT label AS list_id, u.dim - 1 AS dim, CAST(u.x AS DOUBLE) AS x
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(embedding) AS x,
         |                    generate_subscripts(embedding, 1) AS dim) u),
         |cd AS (
         |  SELECT list_id, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM e GROUP BY list_id, dim),
         |cent AS (
         |  SELECT list_id, list(c ORDER BY dim) AS centroid FROM cd GROUP BY list_id),
         |probe_scored AS (
         |  SELECT q.id AS query_id, q.emb AS q_emb, ct.list_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(generate_series(1, len(q.emb)),
         |        i -> q.emb[i] * ct.centroid[i])), (x, y) -> x + y)
         |    / sqrt(
         |      list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(q.emb, z -> z * z)), (p, r) -> p + r)
         |      * list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(ct.centroid, z -> z * z)), (p, r) -> p + r)) AS c_cos
         |  FROM v q, cent ct WHERE q.id < $NumQueries),
         |probes AS (
         |  SELECT query_id, q_emb, list_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY c_cos DESC, list_id) AS pr
         |    FROM probe_scored) WHERE pr <= 2),
         |scored AS (
         |  SELECT p.query_id, c.id AS neighbor_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(generate_series(1, len(p.q_emb)),
         |        i -> p.q_emb[i] * c.emb[i])), (x, y) -> x + y)
         |    / sqrt(
         |      list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(p.q_emb, z -> z * z)), (pp, rr) -> pp + rr)
         |      * list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(c.emb, z -> z * z)), (pp, rr) -> pp + rr)) AS cos
         |  FROM probes p JOIN v c ON c.list_id = p.list_id AND c.id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "n21_nprobe_sweep" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         |         label AS list_id
         |  FROM embeddings),
         |e AS (
         |  SELECT label AS list_id, u.dim - 1 AS dim, CAST(u.x AS DOUBLE) AS x
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(embedding) AS x,
         |                    generate_subscripts(embedding, 1) AS dim) u),
         |cd AS (
         |  SELECT list_id, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM e GROUP BY list_id, dim),
         |cent AS (
         |  SELECT list_id, list(c ORDER BY dim) AS centroid FROM cd GROUP BY list_id),
         |probe_scored AS (
         |  SELECT q.id AS query_id, q.emb AS q_emb, ct.list_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(generate_series(1, len(q.emb)),
         |        i -> q.emb[i] * ct.centroid[i])), (x, y) -> x + y)
         |    / sqrt(
         |      list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(q.emb, z -> z * z)), (p, r) -> p + r)
         |      * list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(ct.centroid, z -> z * z)), (p, r) -> p + r)) AS c_cos
         |  FROM v q, cent ct WHERE q.id < $NumQueries),
         |pr AS (
         |  SELECT query_id, q_emb, list_id, pr FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY c_cos DESC, list_id) AS pr
         |    FROM probe_scored) WHERE pr <= ${NprobeSweep.max}),
         |scored AS (
         |  SELECT p.query_id, p.pr, c.id AS neighbor_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(generate_series(1, len(p.q_emb)),
         |        i -> p.q_emb[i] * c.emb[i])), (x, y) -> x + y)
         |    / sqrt(
         |      list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(p.q_emb, z -> z * z)), (pp, rr) -> pp + rr)
         |      * list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(c.emb, z -> z * z)), (pp, rr) -> pp + rr)) AS cos
         |  FROM pr p JOIN v c ON c.list_id = p.list_id AND c.id <> p.query_id),
         |ex_scored AS (
         |  SELECT q.id AS query_id, c.id AS neighbor_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(generate_series(1, len(q.emb)),
         |        i -> q.emb[i] * c.emb[i])), (x, y) -> x + y)
         |    / sqrt(
         |      list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(q.emb, z -> z * z)), (pp, rr) -> pp + rr)
         |      * list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(c.emb, z -> z * z)), (pp, rr) -> pp + rr)) AS cos
         |  FROM v q JOIN v c ON c.id <> q.id WHERE q.id < $NumQueries),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank FROM ex_scored)
         |  WHERE rank <= $K),
         |sweep AS (SELECT unnest([${NprobeSweep.mkString(", ")}]) AS np),
         |appr AS (
         |  SELECT np, query_id, neighbor_id FROM (
         |    SELECT w.np, s.query_id, s.neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.query_id, w.np
         |        ORDER BY s.cos DESC, s.neighbor_id) AS rank
         |    FROM scored s JOIN sweep w ON s.pr <= w.np)
         |  WHERE rank <= $K),
         |hits AS (
         |  SELECT a.np, CAST(count(*) AS BIGINT) AS total_hits
         |  FROM appr a JOIN ex USING (query_id, neighbor_id) GROUP BY a.np),
         |cand AS (
         |  SELECT w.np, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM scored s JOIN sweep w ON s.pr <= w.np GROUP BY w.np),
         |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM v)
         |SELECT c.np, c.n_candidates,
         |  coalesce(h.total_hits, 0) AS total_hits,
         |  coalesce(h.total_hits, 0) * 10000 // ($K * $NumQueries)
         |    AS recall_bp,
         |  c.n_candidates * 10000 // ($NumQueries * corp.n_corpus)
         |    AS scan_share_bp
         |FROM cand c LEFT JOIN hits h USING (np), corp
         |ORDER BY c.np""".stripMargin,
    "n21b_nprobe_trained" ->
      s"""WITH $dkKmeansCtes,
         |probe_scored AS (
         |  SELECT q.id AS query_id, q.emb AS q_emb, ct.cid AS list_id,
         |    ${dot2("q.emb", "ct.cent")}
         |    / sqrt(${n2of("q.emb")} * ${n2of("ct.cent")}) AS c_cos
         |  FROM v q, cent$KmIters ct WHERE q.id < $NumQueries),
         |pr AS (
         |  SELECT query_id, q_emb, list_id, pr FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY c_cos DESC, list_id) AS pr
         |    FROM probe_scored) WHERE pr <= ${NprobeSweep.max}),
         |scored AS (
         |  SELECT p.query_id, p.pr, c.id AS neighbor_id,
         |    ${dot2("p.q_emb", "c.emb")}
         |    / sqrt(${n2of("p.q_emb")} * ${n2of("c.emb")}) AS cos
         |  FROM pr p
         |  JOIN afinal af ON af.cluster = p.list_id
         |  JOIN v c ON c.id = af.id AND c.id <> p.query_id),
         |ex_scored AS (
         |  SELECT q.id AS query_id, c.id AS neighbor_id,
         |    ${dot2("q.emb", "c.emb")}
         |    / sqrt(${n2of("q.emb")} * ${n2of("c.emb")}) AS cos
         |  FROM v q JOIN v c ON c.id <> q.id WHERE q.id < $NumQueries),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank FROM ex_scored)
         |  WHERE rank <= $K),
         |sweep AS (SELECT unnest([${NprobeSweep.mkString(", ")}]) AS np),
         |appr AS (
         |  SELECT np, query_id, neighbor_id FROM (
         |    SELECT w.np, s.query_id, s.neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.query_id, w.np
         |        ORDER BY s.cos DESC, s.neighbor_id) AS rank
         |    FROM scored s JOIN sweep w ON s.pr <= w.np)
         |  WHERE rank <= $K),
         |hits AS (
         |  SELECT a.np, CAST(count(*) AS BIGINT) AS total_hits
         |  FROM appr a JOIN ex USING (query_id, neighbor_id) GROUP BY a.np),
         |cand AS (
         |  SELECT w.np, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM scored s JOIN sweep w ON s.pr <= w.np GROUP BY w.np),
         |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM v)
         |SELECT c.np, c.n_candidates,
         |  coalesce(h.total_hits, 0) AS total_hits,
         |  coalesce(h.total_hits, 0) * 10000 // ($K * $NumQueries)
         |    AS recall_bp,
         |  c.n_candidates * 10000 // ($NumQueries * corp.n_corpus)
         |    AS scan_share_bp
         |FROM cand c LEFT JOIN hits h USING (np), corp
         |ORDER BY c.np""".stripMargin,
    "n4_label_centroids" ->
      """WITH e AS (
        |  SELECT label, u.dim - 1 AS dim, CAST(u.x AS DOUBLE) AS x
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(embedding) AS x,
        |                    generate_subscripts(embedding, 1) AS dim) u)
        |SELECT label, dim,
        |  CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS centroid,
        |  COUNT(*) AS n_vecs
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "n3_embedding_neardup" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a, v b WHERE a.id < b.id)
         |SELECT id_a, id_b, round(cos, 6) AS cos_sim
         |FROM scored WHERE cos >= $NearDupTau ORDER BY id_a, id_b""".stripMargin,
    // PQ/ADC mirror: codebook = subvectors of id < 16 FROM THE DATA (no
    // literals, so the same SQL is correct at every sf); encode ties
    // (d2, cid), top-k ties (adc, vid); ADC addition parenthesized
    // left-to-right to match Spark's left-assoc `+` chain.
    "n11_pq_adc" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
         |sub AS (SELECT id, m, v.emb[m*16 + 1 : (m + 1)*16] AS sv FROM v, ms),
         |sn AS (SELECT id, m, sv,
         |        list_reduce(list_prepend(0.0::DOUBLE,
         |          list_transform(sv, z -> z * z)), (p, q) -> p + q) AS n2
         |       FROM sub),
         |cb AS (SELECT m, id AS cid, sv AS csv, n2 AS cn2 FROM sn WHERE id < 16),
         |l AS (SELECT s.id, s.m, c.cid,
         |       (s.n2 + c.cn2) - 2.0 * list_reduce(list_prepend(0.0::DOUBLE,
         |          list_transform(generate_series(1, 16),
         |            i -> s.sv[i] * c.csv[i])), (x, y) -> x + y) AS d2
         |      FROM sn s JOIN cb c ON c.m = s.m),
         |enc AS (SELECT id, m, cid FROM (
         |        SELECT id, m, cid,
         |               ROW_NUMBER() OVER (PARTITION BY id, m
         |                                  ORDER BY d2, cid) AS rn FROM l)
         |        WHERE rn = 1),
         |codes AS (SELECT id AS vid,
         |        max(CASE WHEN m = 0 THEN cid END) AS c0,
         |        max(CASE WHEN m = 1 THEN cid END) AS c1,
         |        max(CASE WHEN m = 2 THEN cid END) AS c2,
         |        max(CASE WHEN m = 3 THEN cid END) AS c3
         |        FROM enc GROUP BY id),
         |ql AS (SELECT id AS qid, m, cid, d2 FROM l WHERE id < $NumQueries),
         |adc AS (SELECT q0.qid, cd.vid,
         |        (((q0.d2 + q1.d2) + q2.d2) + q3.d2) AS adc
         |        FROM codes cd
         |        JOIN ql q0 ON q0.m = 0 AND q0.cid = cd.c0
         |        JOIN ql q1 ON q1.m = 1 AND q1.cid = cd.c1 AND q1.qid = q0.qid
         |        JOIN ql q2 ON q2.m = 2 AND q2.cid = cd.c2 AND q2.qid = q0.qid
         |        JOIN ql q3 ON q3.m = 3 AND q3.cid = cd.c3 AND q3.qid = q0.qid)
         |SELECT query_id, rank, vec_id, round(adc, 6) AS adc_dist2 FROM (
         |  SELECT qid AS query_id, vid AS vec_id, adc,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
         |  FROM adc) WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "n10_quantized_rerank" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |q8 AS (
         |  SELECT id, emb,
         |    list_max(list_transform(emb, x -> abs(x))) AS mx,
         |    CASE WHEN list_max(list_transform(emb, x -> abs(x))) = 0
         |      THEN list_transform(emb, x -> 0::BIGINT)
         |      ELSE list_transform(emb, x -> CAST(floor(x * 127.0 /
         |             list_max(list_transform(emb, y -> abs(y))) + 0.5)
         |             AS BIGINT))
         |    END AS qv
         |  FROM v),
         |approx AS (
         |  SELECT a.id AS query_id, b.id AS nbr_id,
         |    CAST(list_reduce(list_prepend(0::BIGINT,
         |      list_transform(generate_series(1, len(a.qv)),
         |        i -> a.qv[i] * b.qv[i])),
         |      (x, y) -> x + y) AS DOUBLE) * a.mx * b.mx / 16129.0 AS ascore
         |  FROM q8 a JOIN q8 b ON b.id <> a.id
         |  WHERE a.id < $NumQueries),
         |short AS (
         |  SELECT query_id, nbr_id, ascore,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY ascore DESC, nbr_id) AS arank
         |  FROM approx),
         |rerank AS (
         |  SELECT s.query_id, s.nbr_id, s.ascore,
         |    $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM short s JOIN v a ON a.id = s.query_id
         |  JOIN v b ON b.id = s.nbr_id
         |  WHERE s.arank <= 50)
         |SELECT query_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |                     ORDER BY cos DESC, nbr_id) AS rank,
         |  nbr_id, round(cos, 6) AS cos_sim, round(ascore, 6) AS approx_score
         |FROM rerank
         |QUALIFY rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "n9_knn_graph" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         |         label AS list_id
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.id AS src_id, a.list_id, b.id AS nbr_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a JOIN v b ON a.list_id = b.list_id AND a.id <> b.id),
         |ranked AS (
         |  SELECT src_id, list_id, nbr_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY src_id
         |                            ORDER BY cos DESC, nbr_id) AS rank
         |  FROM scored)
         |SELECT src_id, rank, nbr_id, list_id, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= 3 ORDER BY src_id, rank""".stripMargin,
    "d23_semdedup" ->
      s"""WITH $dkKmeansCtes,
         |av AS (
         |  SELECT a.id, a.cluster, v.emb
         |  FROM afinal a JOIN v ON v.id = a.id),
         |p AS (
         |  SELECT a.cluster, a.id AS id_a, b.id AS id_b,
         |    ${dot2("a.emb", "b.emb")}
         |    / sqrt(${n2of("a.emb")} * ${n2of("b.emb")}) AS cos
         |  FROM av a JOIN av b ON a.cluster = b.cluster AND a.id < b.id)
         |SELECT cluster, id_b AS removed_id, min(id_a) AS kept_id,
         |  round(max(cos), 6) AS max_cos
         |FROM p WHERE cos >= $SemTau
         |GROUP BY cluster, id_b ORDER BY removed_id""".stripMargin,
    "d23b_semdedup_planted" ->
      s"""WITH ${dkKmeansCtesOver(dkPlantedV)},
         |av AS (
         |  SELECT a.id, a.cluster, v.emb
         |  FROM afinal a JOIN v ON v.id = a.id),
         |p AS (
         |  SELECT a.cluster, a.id AS id_a, b.id AS id_b,
         |    ${dot2("a.emb", "b.emb")}
         |    / sqrt(${n2of("a.emb")} * ${n2of("b.emb")}) AS cos
         |  FROM av a JOIN av b ON a.cluster = b.cluster AND a.id < b.id)
         |SELECT cluster, id_b AS removed_id, min(id_a) AS kept_id,
         |  round(max(cos), 6) AS max_cos
         |FROM p WHERE cos >= $SemTauProd
         |GROUP BY cluster, id_b ORDER BY removed_id""".stripMargin,
    // the two-level decade path pinned at 2 sign bits: d23b's planted
    // Lloyd chain + seed-97 hyperplanes as VALUES + the same in-bucket
    // cosine verify; bucket = cluster || '|' || signature, mirroring the
    // Spark concat
    "n25_twolevel_buckets" -> {
      val w97 = (0 until 2).map { p =>
        val w = graft.ops.SimilarityOps.planeWeights(97 * 1000 + p, Dims)
          .map(_.toLong).mkString("[", ", ", "]")
        s"($p, $w)"
      }.mkString(",\n    ")
      s"""WITH ${dkKmeansCtesOver(dkPlantedV)},
         |hw(p, w) AS (VALUES
         |    $w97),
         |sig AS (
         |  SELECT v.id,
         |    CAST(SUM(CASE WHEN ${dot2("v.emb", "hw.w")} >= 0
         |         THEN (CAST(1 AS BIGINT) << hw.p) ELSE 0 END) AS BIGINT)
         |      AS sg
         |  FROM v, hw GROUP BY v.id),
         |bk AS (
         |  SELECT a.id,
         |    a.cluster::VARCHAR || '|' || s.sg::VARCHAR AS bucket, v.emb
         |  FROM afinal a JOIN sig s ON s.id = a.id
         |  JOIN v ON v.id = a.id),
         |p AS (
         |  SELECT x.id AS id_a, y.id AS id_b,
         |    ${dot2("x.emb", "y.emb")}
         |    / sqrt(${n2of("x.emb")} * ${n2of("y.emb")}) AS cos
         |  FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.id < y.id)
         |SELECT id_a, id_b FROM p WHERE cos >= $SemTauProd
         |ORDER BY id_a, id_b""".stripMargin
    },
    "d23c_semdedup_eval" ->
      s"""WITH ${dkKmeansCtesOver(dkPlantedV)},
         |av AS (
         |  SELECT a.id, a.cluster, v.emb
         |  FROM afinal a JOIN v ON v.id = a.id),
         |p AS (
         |  SELECT a.cluster, a.id AS id_a, b.id AS id_b,
         |    ${dot2("a.emb", "b.emb")}
         |    / sqrt(${n2of("a.emb")} * ${n2of("b.emb")}) AS cos
         |  FROM av a JOIN av b ON a.cluster = b.cluster AND a.id < b.id),
         |det AS (SELECT DISTINCT id_b AS rid FROM p WHERE cos >= $SemTauProd),
         |tp AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    ${dot2("a.emb", "b.emb")}
         |    / sqrt(${n2of("a.emb")} * ${n2of("b.emb")}) AS cos
         |  FROM v a JOIN v b ON a.id < b.id),
         |truth AS (SELECT DISTINCT id_b AS rid FROM tp
         |          WHERE cos >= $SemTauProd),
         |counts AS (
         |  SELECT (SELECT count(*) FROM truth) AS n_true_removed,
         |         (SELECT count(*) FROM det) AS n_removed,
         |         (SELECT count(*) FROM truth JOIN det USING (rid)) AS n_hit)
         |SELECT n_true_removed, n_removed, n_hit,
         |  (n_hit * 10000) // n_true_removed AS recall_bp,
         |  CASE WHEN n_removed = 0 THEN NULL
         |       ELSE (n_hit * 10000) // n_removed END AS precision_bp
         |FROM counts""".stripMargin,
    "m8_batch_negatives" ->
      s"""WITH ${dkKmeansCtesOver(dkPlantedV)},
         |h AS (SELECT id,
         |        ('0x' || substr(md5('m8|' || id), 1, 15))::BIGINT AS hv
         |      FROM v),
         |asg AS (SELECT id, hv % $M8Strata AS st,
         |        row_number() OVER (PARTITION BY hv % $M8Strata
         |                           ORDER BY hv, id) AS rn FROM h),
         |nlb AS (SELECT st, (max(rn) + ${M8Batch - 1}) // $M8Batch AS nb
         |        FROM asg GROUP BY st),
         |ba2 AS (SELECT id, st, (rn - 1) // $M8Batch AS lb FROM asg),
         |av AS (
         |  SELECT a.id, a.cluster, v.emb
         |  FROM afinal a JOIN v ON v.id = a.id),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM av a JOIN av b ON a.cluster = b.cluster AND a.id < b.id
         |  WHERE ${dot2("a.emb", "b.emb")}
         |    / sqrt(${n2of("a.emb")} * ${n2of("b.emb")}) >= $SemTauProd),
         |coll AS (
         |  SELECT p.id_a, p.id_b, x.st, x.lb FROM pairs p
         |  JOIN ba2 x ON x.id = p.id_a
         |  JOIN ba2 y ON y.id = p.id_b AND y.st = x.st AND y.lb = x.lb),
         |moved AS (SELECT DISTINCT id_b AS id FROM coll),
         |ba3 AS (
         |  SELECT ba2.id, ba2.st,
         |    CASE WHEN ba2.id IN (SELECT id FROM moved)
         |         THEN (ba2.lb + 1) % nlb.nb ELSE ba2.lb END AS lb
         |  FROM ba2 JOIN nlb USING (st)),
         |coll2 AS (
         |  SELECT p.id_a, p.id_b, x.st, x.lb FROM pairs p
         |  JOIN ba3 x ON x.id = p.id_a
         |  JOIN ba3 y ON y.id = p.id_b AND y.st = x.st AND y.lb = x.lb),
         |b0 AS (SELECT st, lb, count(*) AS n_before FROM ba2 GROUP BY 1, 2),
         |b1 AS (SELECT st, lb, count(*) AS n_after FROM ba3 GROUP BY 1, 2),
         |c0 AS (SELECT st, lb, count(*) AS coll_before FROM coll
         |       GROUP BY 1, 2),
         |c1 AS (SELECT st, lb, count(*) AS coll_after FROM coll2
         |       GROUP BY 1, 2)
         |SELECT st, lb, b0.n_before,
         |  coalesce(c0.coll_before, 0) AS coll_before,
         |  coalesce(b1.n_after, 0) AS n_after,
         |  coalesce(c1.coll_after, 0) AS coll_after
         |FROM b0 LEFT JOIN c0 USING (st, lb) LEFT JOIN b1 USING (st, lb)
         |LEFT JOIN c1 USING (st, lb)
         |ORDER BY st, lb""".stripMargin,
    "m8b_batch_negatives_exact" ->
      s"""WITH $dkPlantedV,
         |h AS (SELECT id,
         |        ('0x' || substr(md5('m8|' || id), 1, 15))::BIGINT AS hv
         |      FROM v),
         |asg AS (SELECT id, hv % $M8Strata AS st,
         |        row_number() OVER (PARTITION BY hv % $M8Strata
         |                           ORDER BY hv, id) AS rn FROM h),
         |nlb AS (SELECT st, (max(rn) + ${M8Batch - 1}) // $M8Batch AS nb
         |        FROM asg GROUP BY st),
         |a2 AS (SELECT id, st, (rn - 1) // $M8Batch AS lb FROM asg),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM v a JOIN v b ON a.id < b.id
         |  WHERE ${dot2("a.emb", "b.emb")}
         |    / sqrt(${n2of("a.emb")} * ${n2of("b.emb")}) >= $SemTauProd),
         |coll AS (
         |  SELECT p.id_a, p.id_b, x.st, x.lb FROM pairs p
         |  JOIN a2 x ON x.id = p.id_a
         |  JOIN a2 y ON y.id = p.id_b AND y.st = x.st AND y.lb = x.lb),
         |moved AS (SELECT DISTINCT id_b AS id FROM coll),
         |a3 AS (
         |  SELECT a2.id, a2.st,
         |    CASE WHEN a2.id IN (SELECT id FROM moved)
         |         THEN (a2.lb + 1) % nlb.nb ELSE a2.lb END AS lb
         |  FROM a2 JOIN nlb USING (st)),
         |coll2 AS (
         |  SELECT p.id_a, p.id_b, x.st, x.lb FROM pairs p
         |  JOIN a3 x ON x.id = p.id_a
         |  JOIN a3 y ON y.id = p.id_b AND y.st = x.st AND y.lb = x.lb),
         |b0 AS (SELECT st, lb, count(*) AS n_before FROM a2 GROUP BY 1, 2),
         |b1 AS (SELECT st, lb, count(*) AS n_after FROM a3 GROUP BY 1, 2),
         |c0 AS (SELECT st, lb, count(*) AS coll_before FROM coll
         |       GROUP BY 1, 2),
         |c1 AS (SELECT st, lb, count(*) AS coll_after FROM coll2
         |       GROUP BY 1, 2)
         |SELECT st, lb, b0.n_before,
         |  coalesce(c0.coll_before, 0) AS coll_before,
         |  coalesce(b1.n_after, 0) AS n_after,
         |  coalesce(c1.coll_after, 0) AS coll_after
         |FROM b0 LEFT JOIN c0 USING (st, lb) LEFT JOIN b1 USING (st, lb)
         |LEFT JOIN c1 USING (st, lb)
         |ORDER BY st, lb""".stripMargin,
    "n13_multiprobe_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |w(tbl, plane, wts) AS (VALUES
         |    $lshWeightValues),
         |m AS (
         |  SELECT v.id, w.plane,
         |    ${dot2("v.emb", "w.wts")} AS marg
         |  FROM v, w WHERE w.tbl = 0),
         |sigs AS (
         |  SELECT id, CAST(SUM(CASE WHEN marg >= 0
         |      THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT) AS sig
         |  FROM m GROUP BY id),
         |fl AS (
         |  SELECT id, plane, ROW_NUMBER() OVER (PARTITION BY id
         |    ORDER BY abs(marg), plane) AS r
         |  FROM m),
         |p12 AS (
         |  SELECT id, MAX(CASE WHEN r = 1 THEN plane END) AS p1,
         |         MAX(CASE WHEN r = 2 THEN plane END) AS p2
         |  FROM fl GROUP BY id),
         |probes AS (
         |  SELECT s.id, unnest([s.sig,
         |      xor(s.sig, 1::BIGINT << p1),
         |      xor(s.sig, 1::BIGINT << p2),
         |      xor(xor(s.sig, 1::BIGINT << p1), 1::BIGINT << p2)]) AS psig
         |  FROM sigs s JOIN p12 USING (id) WHERE s.id < $NumQueries),
         |cand AS (
         |  SELECT DISTINCT p.id AS query_id, c.id AS neighbor_id
         |  FROM probes p JOIN sigs c ON c.sig = p.psig AND c.id <> p.id),
         |scored AS (
         |  SELECT k.query_id, k.neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM cand k
         |  JOIN v a ON a.id = k.query_id
         |  JOIN v b ON b.id = k.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "m6_crossmodal_retrieval" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a, v b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT r.query_id, r.rank, r.neighbor_id,
         |  d.lang AS nbr_lang, d.source AS nbr_source,
         |  round(r.cos, 6) AS cos_sim
         |FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
         |WHERE r.rank <= 3 ORDER BY r.query_id, r.rank""".stripMargin,
    // m6's brute-force chain + both sides' metadata + the identical
    // fixed linear scorer (floor of the same IEEE cosine, integer
    // bonuses/penalty) and threshold.
    "m13_caption_align" ->
      s"""WITH v AS (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.id AS query_id, b.id AS neighbor_id,
         |         $dkDot / sqrt(${dkNorm2("a")} * ${dkNorm2("b")}) AS cos
         |  FROM v a, v b
         |  WHERE a.id < $NumQueries AND b.id <> a.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |al AS (
         |  SELECT r.query_id, r.rank, r.neighbor_id,
         |    CAST(floor(r.cos_sim * 1000000.0) AS BIGINT)
         |      + CASE WHEN dq.lang = dn.lang THEN 100000 ELSE 0 END
         |      + CASE WHEN dq.source = dn.source THEN 50000 ELSE 0 END
         |      - least(abs(dq.n_chars - dn.n_chars) * 1000, 100000)
         |      AS align_ppm
         |  FROM ranked r
         |  JOIN documents dq ON dq.doc_id = r.query_id
         |  JOIN documents dn ON dn.doc_id = r.neighbor_id
         |  WHERE r.rank <= 3)
         |SELECT query_id, rank, neighbor_id, align_ppm,
         |  align_ppm >= $AlignTauPpm AS keep
         |FROM al ORDER BY query_id, rank""".stripMargin
  )
}
