package graft.ops

import graft.ops.TextOps._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation:
  *
  *  - exact dedup (content-hash groupBy),
  *  - MinHash + LSH banding (the 100 TB near-dup path: candidate generation
  *    is a hash-bucket equi-join, never an all-pairs comparison),
  *  - SimHash (bit-sketch) with byte-band candidate generation,
  *  - exact n-gram Jaccard (ground truth / small-scale verifier),
  *  - embedding-cosine near-dup.
  *
  * Hashing is the md5-derived 60-bit family ([[TextOps.hash60]]) so every
  * operator has a bit-exact DuckDB oracle ([[graft.queries.DedupQueries]]).
  *
  * Scale design: signatures/sketches are computed per-row (narrow, one pass,
  * higher-order functions — no explode of the hash family); the only
  * shuffles are (a) the distinct-shingle explode feeding the signature
  * aggregation and (b) the band-bucket join, both keyed well-distributed by
  * construction (md5 buckets). Skew: a degenerate band bucket (all-identical
  * docs) is the one hot key; AQE skew-join splitting handles it.
  */
object DedupOps {

  /** 3-word shingles of the token array; documents with <3 tokens fall back
    * to one whole-text shingle. 1-based `element_at` indexing to mirror
    * DuckDB list semantics. */
  def shingles(toks: Column, text: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array(trim(text)))

  /** (doc_id, shingle) pairs, set-distinct per document. */
  def explodedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"), col("text"))
      .select(col("doc_id"), explode(shingles(col("toks"), col("text"))).as("sh"))
      .distinct()

  /** d30's Bloom layout (Bloom 1970): 2¹⁶ bits held as 2048 32-bit
    * words (masks stay below bit 63 — BIGINT shift overflow differs
    * between engines above it), k = 3 bit positions from the salted md5
    * family. */
  val BloomBits = 65536L
  val BloomSalts = Seq(1, 2, 3)

  /** One (keep…, word, mask) row per Bloom bit of `key`. */
  private def bloomBitRows(df: DataFrame, key: Column, keep: Column*): DataFrame =
    df.select(keep :+ explode(array(BloomSalts.map(k =>
        pmod(saltedHash60(key, k), lit(BloomBits))): _*)).as("b"): _*)
      .select(keep :+ expr("b div 32").as("word") :+
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))")
          .as("mask"): _*)

  /** The filter over `key`: sparse (word, bits = OR of its masks) rows. */
  def bloomFilter(df: DataFrame, key: Column): DataFrame =
    bloomBitRows(df, key).groupBy(col("word"))
      .agg(bit_or(col("mask")).as("bits"))

  /** (doc_id, n_bloom): per doc, the distinct `sh` with all bits set in
    * `bloom`. A missing word reads as unset bits through the LEFT join (an
    * INNER join would pass 2-of-2 instead of failing 2-of-3). */
  def bloomHitCounts(shingled: DataFrame, bloom: DataFrame): DataFrame =
    bloomBitRows(shingled, col("sh"), col("doc_id"), col("sh"))
      .join(broadcast(bloom), Seq("word"), "left")
      .groupBy(col("doc_id"), col("sh"))
      .agg(min(when(expr("(coalesce(bits, CAST(0 AS BIGINT)) & mask) <> 0"),
        1L).otherwise(0L)).as("all_set"))
      .filter(col("all_set") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom"))

  /** MinHash signature: one row per doc with columns h0..h{n-1}
    * (min over shingles of each salted hash). Partial (map-side) min
    * aggregation → only |docs| × n longs shuffle. */
  def minhashSignature(shingled: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(saltedHash60(col("sh"), i)).as(s"h$i"))
    shingled.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document shingle arrays (no explode): doc_id, sh_arr. */
  def shingleArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"), col("text"))
      .select(col("doc_id"), shingles(col("toks"), col("text")).as("sh_arr"))

  /** Narrow MinHash signature: h0..h{n-1} minima computed per-row from the
    * shingle array with higher-order functions — ZERO shuffle (min over a
    * multiset equals min over its distinct set, so no dedupe needed), and
    * ONE md5 per shingle: the n hash functions are cheap linear permutations
    * `(aᵢ·base32 + bᵢ) mod P` of a single 32-bit base hash (the classic
    * universal-hashing MinHash construction — 16× less hashing than n
    * salted md5 passes). This is the 100 TB path: signatures stream out of
    * the scan stage. */
  def minhashSignatureNarrow(shingleArr: DataFrame, numHashes: Int): DataFrame = {
    val sig = graft.functions.MinHashKernel.minhash_sig(col("sh_arr"), numHashes)
    val hs = (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"h$i"))
    shingleArr.withColumn("sig", sig)
      .select(col("doc_id") +: hs: _*)
  }

  /** Exact Jaccard for candidate pairs from per-doc shingle ARRAYS (set
    * semantics via array_distinct/array_intersect) — joins only the
    * candidate docs, no corpus-wide explode+distinct shuffle. */
  def jaccardVerifyArrays(pairs: DataFrame, shingleArr: DataFrame): DataFrame = {
    val sets = shingleArr.select(col("doc_id"),
      array_distinct(col("sh_arr")).as("sh_set"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("union_sz",
        (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_sz"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"), col("jaccard"))
  }

  /** Containment verify (asymmetric near-dup): inter / min(|A|, |B|) —
    * catches a short document QUOTED inside a long one, which symmetric
    * Jaccard dilutes below any workable threshold (inter/union shrinks as
    * the long side grows; inter/min does not). Same join shape and cost as
    * [[jaccardVerifyArrays]]. */
  def containmentVerifyArrays(pairs: DataFrame, shingleArr: DataFrame): DataFrame = {
    val sets = shingleArr.select(col("doc_id"),
      array_distinct(col("sh_arr")).as("sh_set"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("n_a", size(col("set_a")).cast("long"))
      .withColumn("n_b", size(col("set_b")).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        col("containment"))
  }

  /** LSH banding: (doc_id, band_idx, band_hash) — band_hash is md5 of the
    * band's R concatenated minhashes. Docs sharing any band collide. */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      md5(concat_ws(",", hs: _*).cast("binary")).as(s"band$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
          .as(Seq("band_idx", "band_hash")))
      // Keyed exchange: (a) exactly the distribution the candidate self-join
      // needs, so no further shuffle; (b) a materialization barrier — both
      // join sides share ONE ReusedExchange instead of recomputing the
      // md5-heavy signature expressions twice. The partition count is PINNED
      // (REPARTITION_BY_NUM): AQE sizes partitions from the shuffle's input
      // bytes, and a band shuffle is tiny relative to the pair expansion the
      // join produces — letting AQE coalesce it serializes the probe onto
      // one core (observed via Perf's task-skew table).
      .repartition(sig.sparkSession.sparkContext.defaultParallelism,
        col("band_idx"), col("band_hash"))
  }

  /** Candidate pairs (a < b) sharing at least one LSH band bucket. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val l = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val r = bands.select(col("band_idx").as("bi"), col("band_hash").as("bh"),
      col("doc_id").as("doc_b"))
    l.join(r, col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact repeated-substring spans (d26): stride-1 `spanL`-token window
    * hashes → ≥2-instance contents → maximal consecutive runs per doc
    * (pos − row_number). Input needs (doc_id, text); returns per-doc
    * (n_dup_windows, n_spans, longest_span_tokens). See the d26 query
    * scaladoc for the scale accounting. */
  def repeatedSpans(docs: DataFrame, spanL: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= spanL)
    val wins = toks.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(toks) - $spanL), " +
          s"p -> array_join(slice(toks, p + 1, $spanL), ' '))"))
          .as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"),
        graft.ops.TextOps.hash60(col("w")).as("wh"))
    dupWindowRuns(wins, spanL, "longest_span_tokens")
  }

  /** Character-level exact repeated spans (d26b) — Lee et al. 2022's
    * 50-CHARACTER dedup unit. [[repeatedSpans]] hashes token windows, so
    * overlap that tokenization normalizes away (whitespace runs collapsed
    * by the splitter, sub-token boundaries) is invisible to it; this
    * hashes every stride-1 `spanC`-char substring of the raw (trimmed)
    * text instead — the granularity the paper's suffix array actually
    * dedups on. Same two-agg + one-window shape as the token form; the
    * window table is |chars| rows of 8-byte hashes (the substring strings
    * themselves die inside the projection that hashes them — only
    * (doc_id, pos, hash) reaches the exchange). */
  def repeatedCharSpans(docs: DataFrame, spanC: Int): DataFrame = {
    val t = docs.select(col("doc_id"), trim(col("text")).as("txt"))
      .filter(length(col("txt")) >= spanC)
    val wins = t.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, length(txt) - $spanC), " +
          s"p -> substring(txt, p + 1, $spanC))"))
          .as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"),
        graft.ops.TextOps.hash60(col("w")).as("wh"))
    dupWindowRuns(wins, spanC, "longest_span_chars")
  }

  /** Shared tail of the repeated-span family: ≥2-instance window contents
    * → maximal consecutive runs per doc (pos − row_number) → per-doc
    * (n_dup_windows, n_spans, longest span in source units). */
  private def dupWindowRuns(wins: DataFrame, spanLen: Int,
      longestCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hot = wins.groupBy(col("wh")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wins.join(hot, "wh")
      .withColumn("rk", row_number().over(w))
      .withColumn("grp", col("pos") - col("rk"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run_len")).as("n_dup_windows"),
        count(lit(1)).as("n_spans"),
        (max(col("run_len")) + lit(spanLen - 1)).as(longestCol))
  }

  /** Bounded k-core peeling over an undirected `(doc_a, doc_b)` pair
    * graph: `rounds` rounds of (degree → drop nodes with deg < k → drop
    * their incident edges), then the residual per-node degree. The
    * dense-subgraph signal for template/boilerplate farms: a document
    * surviving the k-core peel of the near-dup graph sits in a cluster
    * whose members each have ≥k similar peers — mass-produced template
    * families, which raw pair counts can't separate from long chains.
    * `rounds` is FIXED (no convergence test) so the computation unrolls
    * into oracle SQL verbatim; full coreness is the same per-round plan
    * run O(degeneracy) times. Scale shape: each round is one map-side-
    * combinable degree count over 8-byte ids plus two semi joins keyed by
    * an endpoint — work ∝ |E| per round, never quadratic; the survivor
    * set is checkpointed (node-count-bounded) and each residual edge set
    * localCheckpoints to cut lineage, the connectedComponents discipline.
    * Driver-loop operator: bench-excluded, and like all graph analytics
    * here it runs AFTER d7's component collapse at scale. */
  def kcoreResidual(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = pairs.select(col("doc_a"), col("doc_b")).transform(graft.Tables.stage)
    for (_ <- 1 to rounds) {
      val alive = e.select(col("doc_a").as("u")).union(e.select(col("doc_b").as("u")))
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
        .transform(graft.Tables.stage)
      e = e.join(alive, col("doc_a") === col("u"), "left_semi")
        .join(alive, col("doc_b") === col("u"), "left_semi")
        .transform(graft.Tables.stage)
    }
    e.select(col("doc_a").as("u")).union(e.select(col("doc_b").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("doc_id"), col("deg"))
  }

  /** Multi-source BFS hop levels over an undirected `(doc_a, doc_b)` pair
    * graph: every node reachable from a seed within `maxIters` hops gets
    * its minimum hop distance. Frontier expansion, not all-pairs: each
    * round joins only the CURRENT frontier against the (persisted-once)
    * edge list and anti-joins the visited set, so total work is
    * O(Σ frontier-degree) — the provenance/contamination-radius traversal
    * ("which docs sit within k near-dup hops of a flagged source") that
    * complements connectedComponents' global collapse. Early-exits when a
    * frontier empties; rounds are O(diameter), fine for the shallow
    * neighborhoods this query asks about (use pointer-doubling CC for
    * whole-graph structure instead). */
  def bfsLevels(pairs: DataFrame, seeds: DataFrame,
      maxIters: Int): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(graft.Tables.stageLevel(pairs.sparkSession))
    edges.count()
    var levels = seeds.select(col("doc_id"), lit(0L).as("level"))
      .transform(graft.Tables.stage)
    var frontier = levels.select(col("doc_id"))
    var i = 1
    var done = false
    while (!done && i <= maxIters) {
      val reached = edges.join(frontier, edges("src") === frontier("doc_id"))
        .select(col("dst").as("doc_id")).distinct()
      val next = reached.join(levels, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(i.toLong).as("level")).transform(graft.Tables.stage)
      if (next.isEmpty) done = true
      else {
        levels = levels.union(next).transform(graft.Tables.stage)
        frontier = next.select(col("doc_id"))
        i += 1
      }
    }
    edges.unpersist()
    levels
  }

  /** Candidate pairs ACROSS two band tables — the incremental-ingest form:
    * a new batch's bands probe only the existing corpus index, never each
    * other, so daily ingest cost is |delta| × collision-rate instead of
    * re-deduping the whole corpus. Same bucketed equi-join shape as
    * [[candidatePairs]]; output (doc_a = delta id, doc_b = corpus id). */
  def candidatePairsAcross(deltaBands: DataFrame, corpusBands: DataFrame): DataFrame = {
    val l = deltaBands.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_a"))
    val r = corpusBands.select(col("band_idx").as("bi"),
      col("band_hash").as("bh"), col("doc_id").as("doc_b"))
    l.join(r, col("band_idx") === col("bi") && col("band_hash") === col("bh"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact Jaccard over distinct shingle sets for given pairs.
    * Output: doc_a, doc_b, inter, union_sz, jaccard. */
  def jaccardVerify(pairs: DataFrame, shingled: DataFrame): DataFrame = {
    val sizes = shingled.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = shingled.select(col("doc_id").as("doc_a"), col("sh"))
    val b = shingled.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = pairs.join(a, "doc_a").join(b, Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_sz"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_sz"))
  }

  /** All pairs with exact shingle-Jaccard ≥ tau (no LSH — every qualifying
    * pair shares ≥1 shingle, so the shingle equi-join enumerates a superset;
    * exact but quadratic in bucket sizes: the small-scale ground truth the
    * LSH path is validated against). */
  def exactJaccardPairs(shingled: DataFrame, tau: Double): DataFrame = {
    val a = shingled.select(col("doc_id").as("doc_a"), col("sh"))
    val b = shingled.select(col("doc_id").as("doc_b"), col("sh"))
    val pairs = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    jaccardVerify(pairs, shingled).filter(col("jaccard") >= tau)
  }

  /** Connected components over a near-dup pair graph: every document maps to
    * the smallest doc_id reachable through pairs (its canonical keeper);
    * singletons map to themselves. Iterative min-label propagation — each
    * round is one join + aggregation, converging in O(component diameter)
    * rounds (the production-scale pattern; large-star/small-star halves the
    * round count if diameters grow). Deterministic: min is order-free.
    *
    * `pairs` needs (doc_a, doc_b); `docs` needs doc_id. */
  def connectedComponents(pairs: DataFrame, docs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    // Materialize the edge list ONCE: every propagation round (and its
    // fixpoint count) references it, and `pairs` is typically an expensive
    // candidate-generation pipeline (band joins, sketches) that must not be
    // recomputed per round. Production CC does exactly this (edges to
    // stable storage first). persist + explicit unpersist (not
    // localCheckpoint) so the big cached table is FREED on return.
    val stageLvl = graft.Tables.stageLevel(pairs.sparkSession)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      // pre-partitioned on the per-round join key: InMemoryRelation
      // preserves HashPartitioning(src), so every propagation round's
      // edges⋈labels join reuses it and only the labels side shuffles —
      // one build-time |2E| exchange instead of one per round
      .repartition(col("src"))
      // persisted at the session stage level (not hardcoded
      // MEMORY_AND_DISK): the 2|E| edge list is the loop's LARGEST
      // frame, and big-corpus harnesses set
      // spark.graft.stageLevel=DISK_ONLY exactly so stage frames never
      // occupy the unified pool's evict-protected storage share
      .persist(stageLvl)
    val nEdges = edges.count()
    var labels = docs.select(col("doc_id"), col("doc_id").as("canon_id"))
    // Fixpoint detection rides the per-round materializing agg: canon
    // labels are pointwise NON-INCREASING (every update is a least(...)
    // against the node's own label), so Σ canon_id is strictly
    // decreasing until the fixpoint and sum equality is EXACT
    // convergence while Σ id stays inside BIGINT (n·max_id ≤ ~1e18 —
    // true for dense ids, NOT guaranteed for sparse/hash-derived 64-bit
    // ids, where a wrapped sum could alias sumPrev). The sum is
    // therefore only the GATE: a matching round pays one exact
    // changed-label check (the starComponents count-gate pattern), so
    // convergence never rests on the id-domain bound. One sum() per
    // round + one equality join at the true fixpoint replaces the
    // earlier checkpoint-then-changed-count pair of driver actions per
    // checked round.
    // No initial sum needed: a NONEMPTY edge set always decreases the
    // sum in round 1 (its (a < b) edge drops b's label), so round 1 can
    // never be the fixpoint of the initial labels; the sentinel keeps
    // the first comparison trivially false (ids are non-negative).
    var sumPrev = Long.MinValue
    // the superseded round's checkpoint RDD — freed once the new round
    // is materialized, so at most ONE prior copy of the labels table
    // sits in block-manager storage (not maxIters copies)
    var prevPin: Option[org.apache.spark.rdd.RDD[_]] = None
    var converged = nEdges == 0L
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = edges.join(labels, edges("src") === labels("doc_id"))
        .groupBy(col("dst")).agg(min(col("canon_id")).as("nbr_min"))
      val prop = labels.join(nbrMin, labels("doc_id") === nbrMin("dst"), "left")
        .select(col("doc_id"),
          least(col("canon_id"), coalesce(col("nbr_min"), col("canon_id")))
            .as("canon_id"))
      // pointer doubling: follow canon's own label (label-of-label) so
      // convergence is O(log diameter) rounds instead of O(diameter) —
      // one extra |labels|-sized self-join per round, which is tiny next
      // to the edge join above
      val next = prop.alias("p")
        .join(prop.select(col("doc_id").as("c_doc"),
          col("canon_id").as("c_canon")).alias("c"),
          col("p.canon_id") === col("c_doc"), "left")
        .select(col("p.doc_id").as("doc_id"),
          least(col("p.canon_id"), coalesce(col("c_canon"), col("p.canon_id")))
            .as("canon_id"))
        // LAZY localCheckpoint, not persist: the round's plan truncates
        // to a LogicalRDD immediately (each round references the
        // previous one 4× — nbrMin×1 + prop self-join×2 — so an
        // un-truncated lineage grows 4^k logical nodes and analysis +
        // the per-action explainString go exponential; measured: d35's
        // SECOND starComponents call spent >15 min of driver CPU in
        // generateTreeString over the leaked tree), while eager=false
        // keeps the round at ONE driver action — the convergence agg
        // below is what materializes the checkpoint's partitions.
        .localCheckpoint(false, stageLvl)
      // ONE action: materializes the round's checkpoint (every
      // partition — the next round consumes it twice and must hit the
      // checkpoint cache, not lineage) and reads back the convergence sum
      val s = next.agg(coalesce(sum(col("canon_id")), lit(0L)))
        .first().getLong(0)
      // sum equality gates the exact check; both sides are materialized
      // checkpoints (labels = the previous round's), so the confirm is
      // one |V|⋈|V| equi-join at the fixpoint round only
      converged = s == sumPrev &&
        next.select(col("doc_id"), col("canon_id").as("cn"))
          .join(labels.select(col("doc_id"), col("canon_id").as("cp")),
            "doc_id")
          .filter(col("cn") =!= col("cp")).isEmpty
      prevPin.foreach(_.unpersist(blocking = false))
      prevPin = org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(next)
      sumPrev = s
      labels = next
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the web-scale CC
    * algorithm. Same output contract as [[connectedComponents]]:
    * `(doc_id, canon_id)` with canon = min id of the component.
    *
    * Why a second CC implementation: [[connectedComponents]] joins an
    * n-row LABEL table against the edge list every round — right when
    * components are shallow (near-dup cliques), but on a deep or giant
    * component the label join pays |V| every round for O(diameter)-ish
    * rounds. The star rounds rewrite only the EDGE list (per-round work
    * ∝ current |E|, which shrinks monotonically toward one star edge per
    * non-root node), touch no label table until the final readout, and
    * converge in O(log² n) rounds on any topology. Each round is two
    * hash aggregations (per-center min, map-side combinable) + two
    * co-keyed joins — no driver data beyond the fixpoint counts.
    *
    *  - large-star: every center v links its LARGER neighbors to
    *    m = min(Γ(v) ∪ v) — strictly-decreasing edge rewrites, no new
    *    maxima, so the edge multiset cannot cycle;
    *  - small-star: every center v (edges oriented to their larger
    *    endpoint) links its smaller-or-equal neighborhood and itself to
    *    its minimum — collapsing chains into stars.
    *
    * Convergence = edge set stable across a full round: the per-round
    * materializing count() doubles as a free gate (|E| unchanged is
    * necessary for stability), and only count-matching rounds pay the
    * exact set-equality check (ONE full-outer join on the canonical
    * orientation — both sides are already-distinct, already-shrunk
    * frames, so any null side is a difference). At the fixpoint the edge
    * set IS the star forest (child → component-min), so the readout is
    * one left join. */
  def starComponents(pairs: DataFrame, docs: DataFrame,
      maxIters: Int = 30): DataFrame = {
    // canonical (small, large) orientation, self-loops dropped. Each
    // round costs exactly ONE driver action: the round's edge set is
    // LAZILY localCheckpointed (plan truncation — see the loop comment)
    // and materialized by a count(), and the count doubles as a
    // FIXPOINT GATE — |ss| ≠ |e| proves the sets differ, so the
    // full-outer set-equality join (a second action) runs only on
    // rounds whose counts match, i.e. normally once, at the actual
    // fixpoint. The earlier form paid 2 driver round-trips per round
    // (an eager localCheckpoint + the equality join on every checked
    // round), which DOMINATED the small-graph callers — d36's four
    // contraction sweeps spent ~60 driver-latency-bound stages on ≤60k-
    // edge graphs.
    val stageLvl = graft.Tables.stageLevel(pairs.sparkSession)
    var e = pairs
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .transform(graft.Tables.stage)
    var prevPin: Option[org.apache.spark.rdd.RDD[_]] = None
    var nPrev = e.count()
    var converged = nPrev == 0L
    var i = 0
    while (!converged && i < maxIters) {
      // large-star over the symmetrized adjacency: per center c,
      // m = min(neighbors ∪ c); larger neighbors re-link to m. The
      // per-center min and the re-link join share the center key, so the
      // aggregation's shuffle partitioning is reused by the join.
      val sym = e.select(col("lo").as("c"), col("hi").as("n"))
        .union(e.select(col("hi").as("c"), col("lo").as("n")))
      val mins = sym.groupBy(col("c")).agg(min(col("n")).as("mn"))
        .select(col("c"), least(col("mn"), col("c")).as("m"))
      // NO mid-round distinct on ls: both consumers are multiset-
      // insensitive — sMin's min() aggregates duplicates away and the
      // round's closing distinct() restores exact set semantics before
      // the count gate reads |ss| — so deduplicating here would only
      // add a full ≤2|E|-row exchange + aggregate per round. Duplicate
      // (m, n) rows (two centers sharing a min and a larger neighbor)
      // stay bounded by |sym| = 2|E|, and the bytes they add to the
      // hi-keyed exchange below are strictly less than the lo,hi-keyed
      // exchange the dropped distinct cost.
      val ls = sym.join(mins, "c")
        .filter(col("n") > col("c"))
        .select(col("m").as("lo"), col("n").as("hi"))
      // small-star: edges already oriented small→large; per large
      // endpoint c, everything ≤ c (its smaller neighbors and c itself)
      // links to min(neighbors) — which is < c by orientation.
      val sMin = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val ss = ls.join(sMin, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .union(sMin.select(col("m").as("lo"), col("hi")))
        .distinct()
        // LAZY localCheckpoint, not persist: each round references the
        // previous round's edge set 4× (sym×2 + the equality join +
        // the readout), so an un-truncated lineage grows exponentially
        // in logical nodes and BOTH analysis and the per-action
        // explainString blow up — worse, a persist-only final frame
        // leaks that whole tree to consumers (d35 feeds one CC's output
        // into a second CC; measured >15 min of driver CPU in
        // generateTreeString before this truncation). eager=false keeps
        // the round at ONE driver action — the count below materializes
        // the checkpoint's partitions.
        .localCheckpoint(false, stageLvl)
      // materialize the round (one action) and gate the set-equality
      // join on count equality: |ss| ≠ |e| already proves non-fixpoint
      val n = ss.count()
      // fixpoint: the round's output edge set equals its input edge set
      converged = n == nPrev &&
        ss.select(col("lo"), col("hi"), lit(1).as("a"))
          .join(e.select(col("lo"), col("hi"), lit(1).as("b")),
            Seq("lo", "hi"), "full_outer")
          .filter(col("a").isNull || col("b").isNull).isEmpty
      // the superseded round's checkpoint has no further reader once
      // the new round is materialized and compared — free it before it
      // piles up; the FINAL round's checkpoint intentionally stays
      // persisted for the readout join below.
      prevPin.foreach(_.unpersist(blocking = false))
      prevPin = org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(ss)
      nPrev = n
      e = ss
      i += 1
    }
    require(converged, s"starComponents did not converge in $maxIters rounds")
    // star forest: every non-root appears exactly once as hi, pointing at
    // its component min; roots and isolated docs map to themselves
    docs.join(e.select(col("hi").as("doc_id"), col("lo").as("canon_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canon_id"), col("doc_id")).as("canon_id"))
  }

  /** Monotone threshold-sweep connected components: min-id star labels at
    * every τ in ascending `taus` over the edge set `{(doc_a, doc_b) :
    * weight ≤ τ}`, computed by CONTRACTION instead of τ independent CC
    * runs. Edge sets grow with τ, so components refine monotonically:
    * the step from τ₋ to τ only has to merge the τ₋ components along the
    * NEWLY activated (τ₋ < weight ≤ τ) edges, each endpoint first mapped
    * to its τ₋ canonical id (edges with weight ≤ τ₋ are intra-supernode
    * self-loops after the contraction and are dropped by construction).
    *
    * Min-id composes exactly: the contracted graph's node ids ARE the τ₋
    * component minima, so the contracted star label — the min supernode
    * id of a merged component — equals the min doc_id over the union of
    * the merged τ₋ components; per-τ bit-parity with a from-scratch
    * [[starComponents]] run is pinned in `DedupOpsSpec`.
    *
    * Scale shape: the sweep pays Σ_τ |E(weight = τ)| ≈ |E(≤ max τ)| edge
    * traffic TOTAL, versus Σ_τ |E(weight ≤ τ)| (≈ |taus| × |E|) for
    * independent per-τ runs, and every step after the first starts from
    * an already-contracted graph, so its star rounds converge in fewer
    * iterations. Labels are localCheckpointed per step — the lineage
    * does not stack across the sweep.
    *
    * Returns one (τ, labels) pair per requested τ; labels has the
    * [[starComponents]] contract (doc_id, canon_id) over `docs`. */
  def sweepComponents(edges: DataFrame, docs: DataFrame, weight: Column,
      taus: Seq[Int], edgesWithinDocs: Boolean = false): Seq[(Int, DataFrame)] = {
    require(taus.nonEmpty && taus == taus.sorted,
      s"taus must be ascending, got $taus")
    // Edge endpoints outside `docs` still carry CONNECTIVITY in a
    // from-scratch starComponents run (its forest is built from the raw
    // edge set; `docs` only scopes the emitted labels), so a contraction
    // step that inner-joined prior labels would silently drop such edges
    // and diverge from the per-τ equivalence this method promises. To
    // keep exact parity, the sweep carries labels over docs ∪ extra
    // endpoints internally and filters back to `docs` at emit; when the
    // endpoints are a subset of docs (every in-repo caller) the extra
    // frame is empty and the fast path below is byte-identical to
    // labeling over `docs` alone. A caller whose edge frame GUARANTEES
    // endpoints ⊆ docs (d36: persisted class edges joined from the
    // persisted class table) passes edgesWithinDocs = true and skips the
    // two driver actions (distinct + anti-join materialization and its
    // isEmpty probe) the defensive check costs per invocation.
    val docIds = docs.select(col("doc_id"))
    val extra =
      if (edgesWithinDocs) null
      else edges.select(col("doc_a").as("doc_id"))
        .union(edges.select(col("doc_b").as("doc_id")))
        .distinct()
        .join(docIds, Seq("doc_id"), "left_anti")
        .transform(graft.Tables.stage)
    val hasExtra = !edgesWithinDocs && !extra.isEmpty
    val nodes = if (hasExtra) docIds.union(extra) else docIds
    var labels: DataFrame = null
    var prev = Long.MinValue
    taus.map { tau =>
      val step = edges.filter(weight > lit(prev) && weight <= lit(tau.toLong))
        .select(col("doc_a"), col("doc_b"))
      labels = (if (labels == null) {
        starComponents(step, nodes)
      } else {
        // contract: map both endpoints of the newly activated edges to
        // their τ₋ canonical ids, run star-CC over the supernode graph
        // (previous canon ids as nodes), then compose the label maps
        val contracted = starComponents(
          step
            .join(labels.select(col("doc_id").as("doc_a"),
              col("canon_id").as("ca")), "doc_a")
            .join(labels.select(col("doc_id").as("doc_b"),
              col("canon_id").as("cb")), "doc_b")
            .select(col("ca").as("doc_a"), col("cb").as("doc_b")),
          labels.select(col("canon_id").as("doc_id")).distinct())
        labels.join(contracted.select(col("doc_id").as("canon_id"),
            col("canon_id").as("nc")), "canon_id")
          .select(col("doc_id"), col("nc").as("canon_id"))
      }).transform(graft.Tables.stage)
      prev = tau.toLong
      tau -> (if (hasExtra) {
        labels.join(docIds, Seq("doc_id"), "left_semi")
      } else labels)
    }
  }

  /** Canonical keeper by CENTRALITY instead of min-id: each component's
    * keeper is its highest-degree member (tie → smallest doc_id) — in a
    * near-dup cluster the most-connected document is the best
    * representative (closest to every variant), where min-id is arbitrary.
    * Cost over [[connectedComponents]]: one degree aggregation + one
    * |components|-row argmax — both map-side-combined; the component loop
    * dominates unchanged. Returns (doc_id, degree, keeper). */
  def centralCanonical(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs, docs)
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val m = labels.join(deg, Seq("doc_id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
    val k = m.groupBy(col("canon_id"))
      .agg(expr("max_by(doc_id, struct(degree, -doc_id))").as("keeper"))
    m.join(k, "canon_id")
      .select(col("doc_id"), col("degree"), col("keeper"))
  }

  /** Fixed-iteration PageRank over the undirected pair graph (per-node
    * teleport form: rank = (1−d) + d·Σ rank(nbr)/deg(nbr)) — the
    * centrality signal beyond [[centralCanonical]]'s raw degree (a node
    * bridging two cliques outranks an equal-degree node inside one).
    * Spec-verified (`DedupSpec`), not oracle-gated: double summation order
    * differs across engines/partitionings in the last ulp, which the
    * hash-exact gate can't tolerate and rounding can't fully mask.
    * Same scale shape as [[connectedComponents]]: edges persist once, each
    * round is one edge-keyed join + one node-keyed agg, lineage truncated
    * per round. */
  def pageRank(pairs: DataFrame, docs: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(graft.Tables.stageLevel(pairs.sparkSession))
    edges.count()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    var ranks = docs.select(col("doc_id"), lit(1.0).as("rank"))
    var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    var i = 0
    while (i < iters) {
      val contribs = edges
        .join(ranks, edges("src") === ranks("doc_id"))
        .join(deg, "src")
        .select(col("dst"), (col("rank") / col("degree")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      val next = docs.select(col("doc_id"))
        .join(contribs, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
        .transform(graft.Tables.stage)
      prevCkpt.foreach(_.unpersist(blocking = false))
      prevCkpt = org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(next)
      ranks = next
      i += 1
    }
    edges.unpersist()
    ranks
  }

  /** [[pageRank]] in integer fixed-point (parts-per-billion), which makes
    * it ORACLE-GATEABLE: every step is BIGINT arithmetic — contribution =
    * `rank div degree` (floor division, `div` ≡ DuckDB `//` on positives),
    * damping = `(in_mass div 100)·85 + ((in_mass mod 100)·85) div 100`
    * (≡ `(85·in_mass) div 100` for all non-negative masses, but the
    * reassociated form never overflows: the largest intermediate is
    * `(in_mass div 100)·85 < 2⁶³` for EVERY int64 in_mass, whereas the
    * naive product wraps once a hub collects ≳10⁸ nodes' worth of ppb
    * mass) — so the sum is order-free and the result is bit-identical
    * across engines and partitionings (the t19/t24 transcendental-free
    * pattern applied to an iterative graph algorithm).
    * rank₀ = 10⁹; isolated nodes converge to exactly 150 000 000 (= 1−d).
    * Overflow-safe for any graph whose total mass fits int64, i.e.
    * |V| < 9.2·10⁹ at 10⁹ ppb per node. Per-division floor loses
    * < 1 ppb — the ranking (not the 9th decimal) is the product.
    * Scale shape identical to [[pageRank]]. Returns (doc_id, rank_ppb). */
  def pageRankExact(pairs: DataFrame, docs: DataFrame, iters: Int): DataFrame =
    pageRankLoopPpb(pairs, docs, iters,
      r0 = lit(1000000000L), teleport = lit(150000000L))

  /** Personalized PageRank in the same fixed-point arithmetic: initial
    * mass and the per-step teleport go ONLY to the `seed` rows, so the
    * stationary mass measures proximity to the seed set — the
    * "contamination mass" companion to [[bfsLevels]]' hop counts (a node
    * two hops out through many parallel paths outscores a node one hop
    * out through a single weak link). Non-seed nodes with no seed-side
    * paths converge to exactly 0. `seed` is any boolean over `docs`. */
  def personalizedPageRankExact(pairs: DataFrame, docs: DataFrame,
      iters: Int, seed: Column): DataFrame =
    pageRankLoopPpb(pairs, docs, iters,
      r0 = when(seed, 1000000000L).otherwise(0L),
      teleport = when(seed, 150000000L).otherwise(0L))

  private def pageRankLoopPpb(pairs: DataFrame, docs: DataFrame, iters: Int,
      r0: Column, teleport: Column): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(graft.Tables.stageLevel(pairs.sparkSession))
    edges.count()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    var ranks = docs.select(col("doc_id"), r0.as("rank_ppb"))
    var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    var i = 0
    while (i < iters) {
      val contribs = edges
        .join(ranks, edges("src") === ranks("doc_id"))
        .join(deg, "src")
        .select(col("dst"), expr("rank_ppb div degree").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      val next = docs
        .join(contribs, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          (teleport +
            expr("(coalesce(in_mass, 0L) div 100) * 85" +
              " + ((coalesce(in_mass, 0L) % 100) * 85) div 100"))
            .as("rank_ppb"))
        .transform(graft.Tables.stage)
      prevCkpt.foreach(_.unpersist(blocking = false))
      prevCkpt = org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(next)
      ranks = next
      i += 1
    }
    edges.unpersist()
    ranks
  }

  /** Exact Jaccard ≥ tau similarity self-join via PREFIX FILTERING (the
    * PPJoin family — Xiao/Wang/Lin/Yu, WWW'08): the scalable exact path
    * between d2 (probabilistic LSH) and d4 (quadratic ground truth).
    * Order every doc's shingle set by a global total order (ascending
    * document frequency, ties by value — rare-first minimizes candidate
    * fan-out; ANY consistent order preserves correctness), and index only
    * the first `|s| − ⌈tau·|s|⌉ + 1` shingles: two sets with J ≥ tau
    * MUST share a prefix token (pigeonhole — skipping both prefixes
    * leaves fewer than ⌈tau·|s|⌉ shared tokens). Candidates = prefix
    * equi-join; exact array verify on candidates only.
    *
    * Scale: prefix rows ≈ (1−tau)·|doc-shingle|, one content-keyed
    * equi-join; rare-first prefixes keep hot shingles out of the index.
    * The positional and suffix filters of full PPJoin are further
    * candidate cuts, not correctness requirements. Returns d4's exact
    * output — the two queries share one oracle. */
  def ppJoinPairs(docs: DataFrame, tau: Double): DataFrame = {
    require(tau == 0.5, "prefix length arithmetic below is specialized to tau=1/2")
    val sh = explodedShingles(docs)
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val ordered = sh.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh"))))
        .as("ordered"))
      // ceil(n/2) shared tokens needed ⇒ prefix = n − ceil(n/2) + 1
      .withColumn("pl",
        expr("size(ordered) - ((size(ordered) + 1) div 2) + 1"))
    val prefixes = ordered
      .select(col("doc_id"), size(col("ordered")).as("n_sh"),
        posexplode(expr("slice(transform(ordered, x -> x.sh), 1, pl)"))
          .as(Seq("pos0", "sh")))
      .select(col("doc_id"), col("n_sh"), (col("pos0") + 1).as("i"),
        col("sh"))
    // Two sound per-collision prunes (neither can drop a true pair):
    // - size filter (Arasu et al.): J ≥ τ ⇒ I ≥ τ·max(|a|,|b|) and
    //   I ≤ min, so min ≥ τ·max;
    // - positional filter: under the global token order, a common token
    //   at ordered positions (ia, ib) bounds the WHOLE overlap:
    //   I ≤ 1 + min(ia−1, ib−1) + min(na−ia, nb−ib). A true pair has
    //   I ≥ α = ⌈τ(na+nb)/(1+τ)⌉ (τ=1/2 ⇒ α = ⌈(na+nb)/3⌉), and every
    //   one of its collisions satisfies bound ≥ I ≥ α — so dropping
    //   collision ROWS below α keeps all of a true pair's rows.
    val cand = prefixes
      .select(col("sh"), col("doc_id").as("doc_a"), col("n_sh").as("na"),
        col("i").as("ia"))
      .join(prefixes
        .select(col("sh"), col("doc_id").as("doc_b"), col("n_sh").as("nb"),
          col("i").as("ib")),
        "sh")
      .filter(col("doc_a") < col("doc_b") &&
        least(col("na"), col("nb")) * 2 >= greatest(col("na"), col("nb")) &&
        lit(1) + least(col("ia") - 1, col("ib") - 1) +
          least(col("na") - col("ia"), col("nb") - col("ib")) >=
          expr("(na + nb + 2) div 3"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // Verify on 60-bit shingle hashes, not strings: the candidate volume
    // is prefix-collision-bound (this word-soup corpus leaves ~300k at
    // sf0.1), and each survivor intersects two ~|doc| arrays — longs cut
    // the shuffled payload ~3× and the intersect to integer equality.
    // Exactness: counts match the string-based oracle unless two distinct
    // shingles IN THE SAME PAIR'S UNION collide in 60 bits
    // (~|union|²/2⁶¹ ≈ 10⁻¹⁶ per pair — below any practical concern).
    // The repartition pins verify parallelism: AQE sees few shuffle BYTES
    // per candidate row but each row carries heavy compute, and would
    // otherwise coalesce the verify onto a handful of tasks.
    val hashedSets = shingleArrays(docs).select(col("doc_id"),
      array_distinct(transform(col("sh_arr"),
        s => graft.ops.TextOps.hash60(s))).as("sh_set"))
    val pinned = cand.repartition(32, col("doc_a"), col("doc_b"))
    pinned
      .join(hashedSets.select(col("doc_id").as("doc_a"),
        col("sh_set").as("set_a")), "doc_a")
      .join(hashedSets.select(col("doc_id").as("doc_b"),
        col("sh_set").as("set_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("union_sz",
        (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_sz"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"),
        col("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Edit-distance similarity self-join via segment partitioning (the
    * PassJoin scheme — Li/Deng/Feng, ICDE'11): exact `levenshtein ≤ k`
    * pairs WITHOUT the all-pairs product. Pigeonhole: an optimal alignment
    * spends ≤ k edits, so of a string's k+1 contiguous segments at least
    * one maps UNEDITED into the partner — it appears verbatim, shifted by
    * at most the net indels before it (≤ k). So: index every doc's k+1
    * segments; probe every doc's substrings of matching segment length at
    * positions within ±k of the segment start, for every partner length
    * in [len−k, len+k]; equi-join on (substring, seg_idx, partner_len);
    * verify only the candidates.
    *
    * Scale: index = k+1 rows/doc, probe ≤ (2k+1)²(k+1) rows/doc — both
    * narrow generates inside the scan stage; the join is an equi-join on
    * long content keys (segments are len/(k+1) chars — no hot keys), and
    * `levenshtein` (O(len·k) with banding, O(len²) here) runs on
    * candidates only. Never a cross join.
    *
    * Requires len ≥ k+1 on both sides (shorter strings have empty
    * segments); callers filter and the oracle mirrors the filter.
    * Returns (doc_a < doc_b, dist ≤ k). */
  def editDistancePairs(docs: DataFrame, k: Int): DataFrame = {
    val n = k + 1
    val base = docs
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= n)

    // Segment i of an m-char string: the first (n − m%n) segments get
    // floor(m/n) chars, the last m%n get one more (start/length fully
    // determined by (m, i) — the probe side recomputes them from ml).
    val segs = base
      .withColumn("si", explode(sequence(lit(0), lit(k))))
      .select(col("doc_id").as("id_a"), col("len").as("m"), col("si"),
        expr(s"""substring(text,
          1 + si * (len div $n) + greatest(0, si - ($n - len % $n)),
          (len div $n) + if(si >= $n - len % $n, 1, 0))""").as("seg"))

    val probe = base
      .withColumn("ml",
        explode(sequence(greatest(col("len") - k, lit(n)), col("len") + k)))
      .withColumn("pi", explode(sequence(lit(0), lit(k))))
      .withColumn("sl", expr(s"(ml div $n) + if(pi >= $n - ml % $n, 1, 0)"))
      .withColumn("p",
        expr(s"1 + pi * (ml div $n) + greatest(0, pi - ($n - ml % $n))"))
      .withColumn("lo", greatest(lit(1), col("p") - k))
      .withColumn("hi", least(col("len") - col("sl") + 1, col("p") + k))
      .filter(col("lo") <= col("hi"))
      .withColumn("q", explode(sequence(col("lo"), col("hi"))))
      .select(col("doc_id").as("id_b"), col("ml"), col("pi"),
        expr("substring(text, q, sl)").as("sub"))
      .distinct()

    val cand = segs.join(probe,
        col("seg") === col("sub") && col("si") === col("pi") &&
          col("m") === col("ml") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()

    val txt = base.select(col("doc_id"), col("text"))
    cand
      .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
      .filter(col("dist") <= k)
  }

  /** Distinct-token 60-bit hash array (materialize once — md5 per token is
    * the expensive part; SimHash reuses it). Compiled kernel, bit-identical
    * to `transform(array_distinct(toks), hash60)`. Order-insensitive
    * downstream, so Spark's first-occurrence `array_distinct` order vs
    * DuckDB's `list_distinct` order doesn't matter. */
  def tokenHashes(toks: Column): Column =
    graft.functions.TokenHashKernel.token_hashes(array_distinct(toks))

  /** Per-row 32-bit SimHash over a precomputed token-hash array — the
    * compiled one-pass kernel ([[graft.functions.SimHashKernel]]); no row
    * explosion, no shuffle. */
  def simhash32(hs: Column): Column =
    graft.functions.SimHashKernel.simhash_32(hs)

  /** SimHash byte-bands (4 × 8 bits) for candidate generation: pairs within
    * Hamming ≤ 3 are guaranteed to share a band (pigeonhole); the ≤ maxHamming
    * filter afterwards makes the candidate step the only recall loss.
    *
    * Ends in a keyed pinned exchange purely as a MATERIALIZATION BARRIER:
    * [[simhashPairs]] consumes these rows on both sides of a self-join whose
    * sides exchange on *different* salted keys, so without a shared upstream
    * exchange the md5-heavy tokenize+simhash pipeline would be evaluated
    * twice (once per side). With it, both sides read ONE ReusedExchange of
    * the tiny (doc_id, simhash, band) rows — 4 rows/doc of ~32 B, negligible
    * next to recomputing a sketch over every token. */
  def simhashBands(df: DataFrame, sh: Column): DataFrame =
    df.select(col("doc_id"), sh.as("simhash"))
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L))): _*))
          .as(Seq("band_idx", "band_val")))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("band_idx"), col("band_val"))

  /** SimHash candidate pairs with symmetric skew salting.
    *
    * A dense band bucket (many near-identical docs sharing a sketch byte)
    * would enumerate its n² pairs in ONE join task. Triangle partitioning
    * fixes that: each doc gets a cell `doc_id % salt`; the left side
    * replicates each row across the partner's possible cells and the join
    * key becomes (band, bucket, cell_a, cell_b) — every pair still matches
    * exactly once per shared band, but the hot bucket's pair space is spread
    * over salt² shuffle keys. Replication cost: 2·salt copies of the tiny
    * (doc_id, sketch) rows. Hamming filter runs BEFORE the distinct so only
    * qualifying pairs shuffle. */
  def simhashPairs(bands: DataFrame, maxHamming: Int, salt: Int = 8): DataFrame = {
    val cells = array((0 until salt).map(lit): _*)
    // Each side is exchanged on its FULL salted key with a pinned partition
    // count. Pinned because AQE sizes partitions from the (tiny) shuffle
    // input and would serialize the pair-expanding join onto one core; the
    // full (band, bucket, cell_a, cell_b) key because partitioning on
    // (band, bucket) alone would co-locate every salt cell of a hot bucket
    // on one partition — exactly the skew the salting exists to break.
    // (Both diagnosed via Perf's per-stage task-skew table.)
    val p = bands.sparkSession.sparkContext.defaultParallelism
    val l = bands
      .withColumn("cell_a", pmod(col("doc_id"), lit(salt)).cast("int"))
      .withColumn("cell_b", explode(cells))
      .select(col("band_idx"), col("band_val"), col("cell_a"), col("cell_b"),
        col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
      .repartition(p, col("band_idx"), col("band_val"), col("cell_a"), col("cell_b"))
    val r = bands
      .withColumn("rcell_b", pmod(col("doc_id"), lit(salt)).cast("int"))
      .withColumn("rcell_a", explode(cells))
      .select(col("band_idx").as("bi"), col("band_val").as("bv"),
        col("rcell_a"), col("rcell_b"),
        col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
      .repartition(p, col("bi"), col("bv"), col("rcell_a"), col("rcell_b"))
    // First-matching-band ownership: a near-identical pair collides in ~all
    // 4 bands; emitting it only from its smallest matching band makes pairs
    // unique BY CONSTRUCTION — no distinct, no 4× duplicated shuffle.
    val firstMatch = (0 until 4).foldRight(lit(-1): Column) { (b, rest) =>
      when(shiftright(col("sh_a"), b * 8).bitwiseAND(lit(255L)) ===
           shiftright(col("sh_b"), b * 8).bitwiseAND(lit(255L)), lit(b))
        .otherwise(rest)
    }
    l.join(r,
        col("band_idx") === col("bi") && col("band_val") === col("bv") &&
        col("cell_a") === col("rcell_a") && col("cell_b") === col("rcell_b") &&
        col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming && col("band_idx") === firstMatch)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Enforced scale contract for exact 2-hop / wedge expansions. The
    * intermediate row count of `adj ⋈ adj` is exactly Σ deg(v)² ("wedges"),
    * which explodes on dense near-dup graphs (the sf0.1 synthetic graph
    * measures ~4e9). This computes the wedge count with one cheap degree
    * aggregation (a single row reaches the driver) and refuses FAST when it
    * exceeds `budget`, naming the scale-safe alternatives — so the "collapse
    * components (d7) before running graph analytics" rule is code, not
    * advice. `adj` must carry the node key in a column named `u` (one row
    * per directed edge, both directions present).
    */
  def requireWedgeBudget(adj: DataFrame, budget: Long, op: String): Unit = {
    val wedges = adj.groupBy(col("u"))
      .agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * col("d")), lit(0L)).as("wedges"))
      .first().getLong(0)
    if (wedges > budget) throw new IllegalStateException(
      s"$op: exact 2-hop expansion would materialize $wedges intermediate " +
        s"rows (Sum deg^2), over the $budget budget. Collapse near-dup " +
        "components first (d7 / DedupOps.connectedComponents) or use the " +
        "sketched form (d9b_graph_stats_sketch: HLL ball-2 registers, " +
        "64*|E| rows).")
  }

  /** Term-frequency WEIGHTED Jaccard verify over given candidate pairs:
    * J_w(a,b) = Σ_t min(tf_a(t), tf_b(t)) / Σ_t max(tf_a(t), tf_b(t)),
    * the multiset generalization of d4's set Jaccard (a doc that repeats a
    * sentence 10× no longer looks identical to one containing it once —
    * the weighting near-dup papers use for templated/boilerplate-heavy
    * corpora). Only Σmin is joined: Σmax = |a| + |b| − Σmin, so the verify
    * reads each doc's total token count once. All arithmetic is integer
    * (score in basis points via `div`) — bit-exact across engines.
    *
    * Scale: `tf` is one map-side-combinable groupBy (one shuffle of
    * (doc, token, tf) triples — bounded by corpus token count, like any
    * inverted index); the Σmin join touches candidate pairs only, so cost
    * is candidate-bounded, never all-pairs. Returns doc_a, doc_b, wmin,
    * wunion, wjacc_bp. */
  def weightedJaccardVerify(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val sizes = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tok"))
    val a = tf.select(col("doc_id").as("doc_a"), col("tok"),
      col("tf").as("tf_a"))
    val b = tf.select(col("doc_id").as("id_b"), col("tok").as("tok_b"),
      col("tf").as("tf_b"))
    val wmin = pairs.join(a, "doc_a")
      .join(b, col("doc_b") === col("id_b") && col("tok") === col("tok_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("tf_a"), col("tf_b"))).as("wmin"))
    wmin
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_tok").as("n_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_tok").as("n_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("wmin"),
        (col("n_a") + col("n_b") - col("wmin")).as("wunion"),
        expr("wmin * 10000 div (n_a + n_b - wmin)").as("wjacc_bp"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected pair graph, deterministic form: every node simultaneously
    * adopts the most frequent label among its neighbors (ties → smallest
    * label; isolated nodes keep their own), for a FIXED number of rounds.
    * Fixed rounds + min-tie-break make the result partition-order-free, so
    * the DuckDB oracle is the same rounds unrolled as CTEs — community
    * detection's analog of d15's integer PageRank contract. Unlike
    * [[connectedComponents]] (reachability), LPA splits a weakly-bridged
    * component into densely-connected communities.
    *
    * Scale: each round is one edges⋈labels shuffle (|E| rows, 8-byte
    * payloads) + a map-side-combinable (node, label) count + a per-node
    * top-1 window — no quadratic term anywhere. The edge list is
    * localCheckpointed once; per-round labels are checkpointed to sever
    * the self-referential lineage (round k's plan would otherwise embed
    * k − 1 nested joins). */
  def labelPropagation(pairs: DataFrame, docs: DataFrame,
      rounds: Int, assumeDistinct: Boolean = false): DataFrame = {
    // distinct: neighbor-vote counts assume each undirected edge appears
    // exactly once per direction. d29 feeds canonical (doc_a < doc_b,
    // DISTINCT) pairs where this is a no-op, but a caller passing
    // duplicated or pre-symmetrized edges would silently double-count
    // votes and flip majority/tie outcomes — one narrow 16-byte-row
    // shuffle buys that invariant. Callers whose edge frame is distinct
    // BY CONSTRUCTION (the persisted DedupIndex pair artifacts — unique
    // canonical pairs by the simhashPairs first-matching-band contract,
    // re-checked in `DedupIndexSpec`) pass assumeDistinct = true and
    // skip that |E|-row shuffle: the symmetrized union of a distinct
    // a<b frame is disjoint, hence already distinct.
    val sym = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Pre-partition the staged edge list on the per-round join key: the
    // localCheckpoint preserves HashPartitioning(dst), so every round's
    // edges⋈labels join reuses it and only the (small) labels side
    // shuffles — one build-time |2E| exchange replaces `rounds` of them
    // (guide "two operations keyed the same way share one exchange").
    val edges = (if (assumeDistinct) sym else sym.distinct())
      .repartition(col("dst"))
      .transform(graft.Tables.stage)
    var labels = docs.select(col("doc_id"), col("doc_id").as("lbl"))
    for (_ <- 1 to rounds) {
      val counts = edges
        .join(labels.select(col("doc_id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("doc_id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // per-node argmax by (c DESC, lbl ASC) as a lexicographic min over
      // (-c, lbl) structs: map-side-combinable hash aggregation instead
      // of a sort-based row_number window — same unique winner
      // ((doc_id, lbl) is the grouping key, so no (c, lbl) ties exist),
      // no per-round sort of the full vote table. (A single-exchange
      // mode(lbl, deterministic=true) variant was tried and REVERTED
      // after measurement: same winner semantics, but the per-group
      // frequency-map ObjectHashAggregate ran ~2.2 s in one
      // AQE-coalesced task on d29's full doc graph — slower than the
      // two codegen'd columnar aggregations it replaced.)
      val top = counts.groupBy(col("doc_id"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("doc_id"), col("m.lbl").as("new_lbl"))
      labels = labels.join(top, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("new_lbl"), col("lbl")).as("lbl"))
        .transform(graft.Tables.stage)
    }
    labels
  }

  /** Contaminated-span surgery (Brown et al. 2020 appendix C): excise the
    * ±`margin`-token window around every positional 3-shingle of a train
    * doc that collides with the `benchPred` slice's shingle set, merging
    * overlapping/touching windows (gaps-and-islands over each doc's OWN
    * ordered span list), and reassemble the remainder in token order.
    * Returns one row per contaminated doc — hit/span/removal accounting,
    * a surgery-vs-drop disposition (>20 % removed = too shredded), and
    * md5 of the rebuilt text (NULL when nothing survives). The doc-level
    * complement of d14/d30: those GATE, this REWRITES.
    *
    * Scale shape: the bench shingle set broadcasts (train×bench, bench is
    * small — d14's argument); island merge windows are bounded by a doc's
    * own hit count; the excision join explodes islands to (doc_id, pos)
    * equi-keys (rows = tokens_removed, disjoint by construction); the
    * reassembly agg's state is one doc's kept tokens. */
  def spanSurgery(docsDf: DataFrame, benchPred: Column, margin: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = docsDf.select(col("doc_id"), tokens(col("text")).as("toks"))
    val posSh = ds.filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        posexplode(expr("transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
          .as(Seq("pos", "sh")))
    val benchSh = posSh.filter(benchPred).select(col("sh")).distinct()
    val nTok = ds.filter(!benchPred)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val spans = posSh.filter(!benchPred)
      .join(broadcast(benchSh), "sh")
      .join(nTok, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        greatest(col("pos") - lit(margin), lit(0)).cast("long").as("st"),
        least(col("pos") + lit(2 + margin), col("n_tokens") - 1)
          .cast("long").as("en"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("st"), col("en"))
    val prevMax = max(col("en")).over(
      wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val isl = spans
      .withColumn("new_isl",
        when(prevMax.isNull || col("st") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        min(col("st")).as("span_st"), max(col("en")).as("span_en"),
        count(lit(1)).as("n_hits_isl"))
      .transform(graft.Tables.stage) // feeds stats, the coverage explode, and excision
    val stats = isl.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_spans"),
        sum(col("n_hits_isl")).as("n_hits"),
        sum(col("span_en") - col("span_st") + 1).as("tokens_removed"))
    val covered = isl.select(col("doc_id"),
      explode(sequence(col("span_st"), col("span_en"))).as("pos"))
      .withColumn("cov", lit(1L))
    val rebuilt = ds.filter(!benchPred)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("tok"))
      .join(stats.select(col("doc_id")), "doc_id")
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(when(col("cov").isNull,
        struct(col("pos"), col("tok"))))).as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("kept_tokens"),
        when(size(col("kept")) === 0, lit(null).cast("string"))
          .otherwise(md5(array_join(transform(col("kept"),
            x => x.getField("tok")), " ").cast("binary")))
          .as("cleaned_md5"))
    stats.join(rebuilt, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_hits"),
        col("n_spans"), col("tokens_removed"),
        expr("tokens_removed * 1000000L div n_tokens").as("removed_ppm"),
        col("kept_tokens"),
        when(expr("tokens_removed * 1000000L div n_tokens") > 200000L,
          lit("drop")).otherwise(lit("surgery")).as("disposition"),
        col("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing's kernel arguments (doc_id, toks = tokens(text), t =
    * trim(text)), fanned out first: a single-file corpus would otherwise
    * tokenize and winnow on the one task that scans it. */
  def winnowTokens(ds: DataFrame): DataFrame =
    graft.Tables.fanout(ds)
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        trim(col("text")).as("t"))

  /** MOSS winnowing fingerprints at window w over [[winnowTokens]]: one
    * (doc_id, fp_hash, fp_pos) row per distinct window minimum
    * ([[graft.functions.WinnowKernel]]; per doc, so no shuffle). Staged:
    * consumers read it two or three times. */
  def winnowFps(toks: DataFrame, w: Int): DataFrame =
    toks.select(col("doc_id"),
        explode(graft.functions.WinnowKernel.winnow_keys(col("toks"),
          col("t"), w)).as("mk"))
      .select(col("doc_id"), expr("mk div 2097152").as("fp_hash"),
        expr("1048576 - (mk % 2097152)").as("fp_pos"))
      .transform(graft.Tables.stage)

  /** Fingerprint match pairs through the culled index: hashes in more
    * than `maxDocs` docs dropped first (MOSS's boilerplate cull — it
    * also BOUNDS each bucket's fan-out at C(cap,2) pairs, the d2
    * band-bucket argument). Returns (per-hash doc counts, grouped
    * (doc_a, doc_b, shared) pairs). */
  def winnowPairFrame(fp: DataFrame, maxDocs: Int): (DataFrame, DataFrame) = {
    val byHash = fp.groupBy(col("fp_hash"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val keep = byHash.filter(col("nd") <= maxDocs).select(col("fp_hash"))
    val pairs = fp.join(keep, Seq("fp_hash"), "left_semi").as("a")
      .join(fp.as("b"), col("b.fp_hash") === col("a.fp_hash")
        && col("b.doc_id") > col("a.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(countDistinct(col("a.fp_hash")).as("shared"))
    (byHash, pairs)
  }
}
