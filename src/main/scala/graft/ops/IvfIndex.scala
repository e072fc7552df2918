package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVFADC index — the train-once / serve-many lifecycle split
  * (FAISS's build-vs-search distinction) that n14 conflates: n14 re-fits
  * the coarse quantizer and all four PQ codebooks inside every
  * invocation, so its bench number is ~80% training. A real vector store
  * trains ONCE, materializes the index, and serves many queries from it;
  * this module is that index.
  *
  * On-disk layout (all parquet, under `target/ivf-index/<corpus key>/`):
  *  - `centroids/`  — KmK rows (list_id, centroid ARRAY<DOUBLE>): the
  *    trained coarse quantizer. Broadcast at serve time.
  *  - `codebooks/`  — PqM×PqKsub rows (m, pos, cent ARRAY<DOUBLE>, cn2):
  *    the trained per-subspace PQ codebooks, `pos` = the code value
  *    (sorted-by-cid position, [[graft.queries.SimilarityQueries]]'s
  *    encode tie contract). Collected to the driver at serve time (64
  *    rows) and re-embedded as literals in the ADC expressions.
  *  - `codes/`      — one row per corpus vector (vid, c0..c3 TINYINT),
  *    written `partitionBy(list_id)`: 4 bytes of payload per vector, and
  *    the directory layout IS the inverted-list structure — a serve-time
  *    probe of `nprobe` lists partition-prunes to those directories and
  *    never touches the rest of the corpus. Raw vectors appear nowhere.
  *  - `stats/`      — one row (n_vecs, n_planted, max_id): the corpus size
  *    consumers that size bucket layouts from N read instead of paying a
  *    count() over the corpus ([[plantedCount]]).
  *
  * Keying (on the embeddings table), completeness and build-or-serve are
  * [[PersistedIndex]]'s.
  *
  * Scale shape: the build is n14's training (linear scans; only k×dims
  * centroids and 16-row codebooks reach the driver) plus one
  * shuffle-free partitioned write. Serving reads 8 + 64 index rows, one
  * pruned code scan, and broadcasts the probe frame into it — identical
  * to n14's gated join, minus all training. */
object IvfIndex {
  import graft.ops.SimilarityOps._
  import graft.queries.SimilarityQueries.{KmIters, KmK, NumQueries, PqM,
    trainedCodebooks, pqEncodeCol, pqAdcArr}

  final case class IndexPaths(root: String) extends PersistedIndex.Layout {
    def centroids: String = s"$root/centroids"
    def codebooks: String = s"$root/codebooks"
    def codes: String = s"$root/codes"
    def stats: String = s"$root/stats"
    def all: Seq[String] = Seq(centroids, codebooks, codes, stats)
  }

  private def corpusVecs(s: SparkSession, sfDir: String): DataFrame =
    graft.Tables.fanout(graft.Tables.embeddings(s, sfDir))
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("emb"))

  /** Bump on ANY change to what [[build]] writes (k-means, PQ training,
    * code layout, stats) — see [[PersistedIndex]]. */
  val Version = 1

  /** Train coarse quantizer + PQ codebooks and materialize the index. */
  def build(s: SparkSession, sfDir: String, root: String): IndexPaths = {
    val p = IndexPaths(root)
    val v = corpusVecs(s, sfDir)
    // n_planted = |id % PlantMod == 0|: the planted twin corpus's exact
    // cardinality, derivable without assuming id density.
    v.agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("id") % graft.queries.SimilarityQueries
          .PlantMod === 0, 1L).otherwise(0L)), lit(0L)).as("n_planted"),
        coalesce(max(col("id")), lit(-1L)).as("max_id"))
      .coalesce(1).write.mode("overwrite").parquet(p.stats)
    val (cents, assigned) = kmeansFit(v, KmK, KmIters)
    val cbs = trainedCodebooks(v)
    cents.select(col("cid").as("list_id"), col("cent").as("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(p.centroids)
    val cbRows = for {
      (cb, m) <- cbs.zipWithIndex
      ((_, cent, cn2), pos) <- cb.zipWithIndex
    } yield (m, pos, cent, cn2)
    import s.implicits._
    cbRows.toDF("m", "pos", "cent", "cn2")
      .coalesce(1).write.mode("overwrite").parquet(p.codebooks)
    v.join(assigned.select(col("id"), col("cluster").as("list_id")), "id")
      .select(col("id").as("vid"), col("list_id"),
        pqEncodeCol(cbs, 0).cast("tinyint").as("c0"),
        pqEncodeCol(cbs, 1).cast("tinyint").as("c1"),
        pqEncodeCol(cbs, 2).cast("tinyint").as("c2"),
        pqEncodeCol(cbs, 3).cast("tinyint").as("c3"))
      .write.mode("overwrite").partitionBy("list_id").parquet(p.codes)
    p
  }

  /** Build iff the index for this corpus doesn't exist yet. */
  def ensure(s: SparkSession, sfDir: String): IndexPaths = {
    val root = PersistedIndex.root("ivf-index", Version, sfDir,
      graft.Tables.embeddings(s, sfDir), "vec_id", "embedding")
    PersistedIndex.ensure(s, IndexPaths(root))(build(s, sfDir, root))
  }

  /** |plantedVecs| for this corpus from the persisted stats row — the
    * corpus cardinality the SemDeDup bucket-growth knob needs, served
    * as a 1-row index-metadata read (the n24/n15b discipline) instead
    * of a per-query count() action over the vector corpus. */
  def plantedCount(s: SparkSession, sfDir: String): Long = {
    val p = ensure(s, sfDir)
    val r = s.read.parquet(p.stats)
      .select(col("n_vecs"), col("n_planted")).head()
    r.getLong(0) + r.getLong(1)
  }

  /** Read the 64 codebook rows back into the literal-embedded form the
    * encode/ADC expressions take (doubles roundtrip parquet exactly, so
    * serving arithmetic is bit-identical to n14's). */
  def readCodebooks(s: SparkSession,
      p: IndexPaths): Seq[Seq[(Long, Seq[Double], Double)]] = {
    val rows = s.read.parquet(p.codebooks)
      .select(col("m"), col("pos"), col("cent"), col("cn2"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2), r.getDouble(3)))
    (0 until PqM).map { m =>
      rows.filter(_._1 == m).sortBy(_._2).toSeq
        .map { case (_, pos, cent, cn2) => (pos.toLong, cent, cn2) }
    }
  }

  /** Serving-only IVFADC top-k (n15): query vectors against the
    * PERSISTED index. The probed list ids are resolved on the driver
    * (nprobe × |queries| ≤ 16 longs) and pushed into the code scan as a
    * partition filter — the scan reads only the probed inverted lists'
    * directories. Output ≡ n14 (same oracle): the index stores exactly
    * the values n14's in-query training computes. */
  def serve(s: SparkSession, sfDir: String, k: Int, nprobe: Int): DataFrame =
    serveFrom(s, sfDir, ensure(s, sfDir), k, nprobe)

  /** [[serve]] against an explicit index location — lets tests (and a
    * production deployment holding several index generations) pick which
    * physical index answers, e.g. one that has ACCRETED streamed
    * admissions since its build. */
  def serveFrom(s: SparkSession, sfDir: String, p: IndexPaths, k: Int,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cbs = readCodebooks(s, p)
    val cents = s.read.parquet(p.centroids)
      .select(col("list_id").cast("long").as("p_list"), col("centroid"))
    val q = corpusVecs(s, sfDir).filter(col("id") < NumQueries)
      .select(col("id").as("qid"), col("emb").as("q_emb"),
        pqAdcArr(cbs, 0).as("a0"), pqAdcArr(cbs, 1).as("a1"),
        pqAdcArr(cbs, 2).as("a2"), pqAdcArr(cbs, 3).as("a3"))
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("c_cos").desc, col("p_list"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("c_cos", graft.functions.VectorExpressions.cosine_sim(
        col("q_emb"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("a0"), col("a1"), col("a2"), col("a3"),
        col("p_list"))
      .transform(graft.Tables.stage) // reused: probed-list collect + the gate join
    val probedLists = probes.select(col("p_list")).distinct()
      .collect().map(_.getLong(0)).sorted
    val codes = s.read.parquet(p.codes)
      .filter(col("list_id").isin(probedLists: _*))
      .select(col("vid"), col("list_id").cast("long").as("list_id"),
        col("c0"), col("c1"), col("c2"), col("c3"))
    // Ranking goes through the BOUNDED TopKAggregator, not a per-query
    // window: the window form sorts every probed candidate on one
    // reducer per query (nprobe/nlists of the corpus — the serve-path
    // bottleneck at scale); the aggregator's ≤k buffer partial-
    // aggregates map-side so only k rows per partition per query ever
    // shuffle. Score is NEGATED adc ((adc ASC, vid ASC) ≡ the
    // aggregator's (score DESC, id ASC)); negation and un-negation are
    // exact, and the final HALF_UP rounding matches round(adc, 6) — the
    // bruteForceTopKAgg equivalence argument.
    import s.implicits._
    val scored = codes.join(broadcast(probes),
        col("list_id") === col("p_list") && col("vid") =!= col("qid"))
      .select(col("qid"),
        -(element_at(col("a0"), col("c0").cast("int") + 1) +
          element_at(col("a1"), col("c1").cast("int") + 1) +
          element_at(col("a2"), col("c2").cast("int") + 1) +
          element_at(col("a3"), col("c3").cast("int") + 1)).as("neg_adc"),
        col("vid"))
      .as[(Long, Double, Long)]
    val agg = new graft.functions.TopKAggregator(k)
    scored.groupByKey(_._1)
      .mapValues { case (_, negAdc, id) => (negAdc, id) }
      .agg(agg.toColumn.name("topk"))
      .flatMap { case (qid, topk) =>
        topk.iterator.zipWithIndex.map { case ((negAdc, id), i) =>
          (qid, (i + 1).toLong, id,
            BigDecimal(-negAdc)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      .toDF("query_id", "rank", "vec_id", "adc_dist2")
      .orderBy(col("query_id"), col("rank"))
  }
}
