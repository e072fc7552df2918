package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed curation pipeline with its stage-boundary reconciliation
  * ledger — see [[graft.ops.CurationLedger]] for the chain and its
  * scale shape. The single query emits one row per stage with EXACT
  * integer (docs_in, docs_out, tokens_in, tokens_out); the DuckDB
  * oracle replays the entire chain (NB gate margins, MinHash-LSH
  * candidates, Jaccard verification, transitive-closure components,
  * Bloom decontamination, mixture rates, packing, chunking) and the
  * ledgers match bit-for-bit. The reconciliation contracts a reader
  * should check: normalize changes the token CURRENCY (raw→normalized)
  * but not the doc count (minus empty normal forms); pack conserves
  * tokens exactly; chunk inflates them by exactly the window overlap.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  /** p2: context-window token budget for the packed serve result. */
  val RagBudgetTok = 160L
  /** p2: diversified results per query (MMR steps). */
  val RagMmrK = 5

  val queries: Map[String, Q] = Map(
    // The composed SERVING pipeline — p1's dress-rehearsal discipline
    // applied to the read path a RAG deployment actually executes:
    // hybrid retrieve (n16: lexical rare-token leg + dense cosine leg,
    // reciprocal-rank fused) → MMR diversify (n20's greedy, relevance =
    // per-query-normalized RRF) → context-pack (prefix of the diversified
    // ranking whose running token sum fits the window budget). One row
    // per (query, diversified candidate) with the whole trace: fusion
    // score, normalized relevance, MMR score, token cost, running total,
    // and the kept/overflowed packing decision — the DuckDB oracle
    // replays the ENTIRE chain (n16's fused CTEs, 5 unrolled greedy
    // steps, window cumsum). Scale: composition adds NO shuffle beyond
    // its constituents — the fused shortlist is ≤K rows/query, so MMR's
    // pairwise leg and the pack window are bounded per query; at 100 TB
    // the dense leg swaps to n15's partition-pruned IVF serve (same
    // (qid, did, rank) contract the fusion consumes).
    "p2_rag_serve" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.ops.SimilarityOps.{toDouble, dot, norm2, cosine}
      val fused = SimilarityQueries.queries("n16_rrf_fusion")(s, d)
        .select(col("query_id").as("qid"), col("doc_id").as("cid"),
          col("rrf_ppm"))
      val wq = Window.partitionBy(col("qid"))
      val sh = fused.withColumn("rel",
        col("rrf_ppm").cast("double") /
          max(col("rrf_ppm")).over(wq).cast("double"))
      val v = Tables.fanout(Tables.embeddings(s, d))
        .select(col("vec_id").as("id"), toDouble(col("embedding")).as("emb"))
      val shv = sh.join(v, sh("cid") === v("id"))
        .select(col("qid"), col("cid"), col("rel"), col("rrf_ppm"),
          col("emb"), norm2(col("emb")).as("n2"))
        .transform(graft.Tables.stage) // both sides of the pairwise leg
      val a = shv.select(col("qid"), col("cid").as("i"),
        col("rel").as("rel_i"), col("rrf_ppm").as("rrf_i"),
        col("emb").as("emb_i"), col("n2").as("n2_i"))
      val b = shv.select(col("qid").as("qid_b"), col("cid").as("j"),
        col("emb").as("emb_j"), col("n2").as("n2_j"))
      // LEFT join: a query whose fused shortlist has exactly ONE
      // candidate produces no (i ≠ j) pair rows — an inner join would
      // drop the query entirely while the oracle still emits its
      // rank-1 row. The null-padded row keeps the group alive; its
      // sim map is simply empty (step 1 never consults it).
      val pw = a.join(b,
          col("qid") === col("qid_b") && col("i") =!= col("j"), "left")
        .select(col("qid"), col("i"), col("rel_i"), col("rrf_i"), col("j"),
          cosine(dot(col("emb_i"), col("emb_j")),
            col("n2_i"), col("n2_j")).as("sm"))
        .as[(Long, Long, Double, Long, Option[Long], Option[Double])]
      val mmr = pw.groupByKey(_._1)
        .flatMapGroups { (qid, it) =>
          val rows = it.toSeq
          val rel = rows.map(r => r._2 -> r._3).toMap
          val rrf = rows.map(r => r._2 -> r._4).toMap
          val sim = rows.flatMap(r =>
            r._5.map(j => (r._2, j) -> r._6.get)).toMap
          var selected = Vector.empty[Long]
          val out = Seq.newBuilder[(Long, Long, Long, Double, Double, Long)]
          var step = 1
          while (step <= RagMmrK && selected.size < rel.size) {
            var bestId = -1L
            var bestSc = Double.NegativeInfinity
            rel.keys.toSeq.sorted.foreach { c =>
              if (!selected.contains(c)) {
                val sc =
                  if (selected.isEmpty) 0.7 * rel(c)
                  else 0.7 * rel(c) -
                    0.3 * selected.map(s0 => sim((c, s0))).max
                if (sc > bestSc) { bestSc = sc; bestId = c }
              }
            }
            out += ((qid, step.toLong, bestId, bestSc, rel(bestId),
              rrf(bestId)))
            selected :+= bestId
            step += 1
          }
          out.result().iterator
        }
        .toDF("qid", "mmr_rank", "cid", "mmr", "rel", "rrf_ppm")
      val tok = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"),
          size(graft.ops.TextOps.tokens(col("text"))).cast("long")
            .as("n_tok"))
      val wc = Window.partitionBy(col("qid")).orderBy(col("mmr_rank"))
      mmr.join(tok, mmr("cid") === tok("doc_id"))
        .withColumn("cum_tok", sum(col("n_tok")).over(wc))
        .select(col("qid").as("query_id"), col("mmr_rank"),
          col("cid").as("doc_id"), col("rrf_ppm"),
          round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"),
          col("n_tok"), col("cum_tok"),
          (col("cum_tok") <= RagBudgetTok).as("kept"))
        .orderBy(col("query_id"), col("mmr_rank"))
    }),
    // Incremental curation REFRESH — p1 answers "what does the full run
    // produce"; p3 answers the question every periodic corpus drop asks:
    // "a delta batch arrived — what changes, and what does it COST?"
    // Base = the lower 4/5 of the id space (yesterday's corpus), delta =
    // the top fifth (today's drop). The delta flows through the pinned
    // front half (normalize + persisted-model gate — append-safe by
    // construction), then exact dedup as an anti-join against the base
    // hash dictionary (|Δ| work), then near-dup collapse as star-CC over
    // the base's persisted STAR FOREST ∪ delta-driven candidate edges
    // (d35's CC-IVM: delta bands probe base bands via
    // candidatePairsAcross — base×base pairs are never re-verified).
    // The ledger reports, per stage, the delta's funnel AND the base's
    // fate — including RETRACTIONS: a delta doc can bridge two base
    // components, merging them and demoting one base canonical (the
    // near-dup stage is NOT append-safe, and the ledger says exactly by
    // how much). The DuckDB oracle recomputes BOTH chains from scratch —
    // ledger equality proves incremental ≡ full recompute.
    "p3_delta_refresh" -> ((s, d) => {
      import graft.ops.{CurationIndex => CI, DedupOps}
      import graft.queries.DedupQueries.{NumHashes, Bands, RowsPerBand,
        JaccardTau}
      val cut = Tables.documents(s, d)
        .agg(expr("((max(doc_id) + 1) * 4) div 5").as("c")).head.getLong(0)
      // the front half (normalize + pinned-model gate) is per-doc, so
      // it COMMUTES with any id slice: both chains' fronts are status
      // filters on the ONE persisted curation record — the base front
      // is never recomputed, which is the whole point of a delta run
      val docsT = CI.docsDf(s, CI.ensure(s, d))
      def s1Of(df: DataFrame) =
        df.filter(col("status") =!= "dropped_empty_norm")
      def s2Of(df: DataFrame) = s1Of(df)
        .filter(col("status") =!= "dropped_gate")
      val rawB = docsT.filter(col("doc_id") < cut)
      val rawD = docsT.filter(col("doc_id") >= cut)
      val (s1B, s1D) = (s1Of(rawB), s1Of(rawD))
      val (s2B, s2D) = (s2Of(rawB), s2Of(rawD))
      // exact dedup: base keepers; delta keepers = min id per hash NOT
      // in the base dictionary (stored norm_md5 — no re-normalize)
      val hb = s2B.groupBy(col("norm_md5").as("h"))
        .agg(min(col("doc_id")).as("doc_id")).transform(graft.Tables.stage)
      val s3B = s2B.select(col("doc_id"))
        .join(hb.select(col("doc_id")), "doc_id").transform(graft.Tables.stage)
      val novel = s2D.select(col("norm_md5").as("h"), col("doc_id"))
        .join(hb.select(col("h")), Seq("h"), "left_anti")
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      val s3D = s2D.select(col("doc_id"))
        .join(novel.select(col("doc_id")), "doc_id").transform(graft.Tables.stage)
      // near-dup: the base run once (its forest is the persisted state),
      // then the union via forest ∪ delta-driven candidates only; the
      // shingle legs are the one place the corpus text is still read
      val txt = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))
      val arrB = DedupOps.shingleArrays(s3B.join(txt, "doc_id"))
        .transform(graft.Tables.stage)
      val arrD = DedupOps.shingleArrays(s3D.join(txt, "doc_id"))
        .transform(graft.Tables.stage)
      val bandsB = DedupOps.lshBands(
        DedupOps.minhashSignatureNarrow(arrB, NumHashes), Bands, RowsPerBand)
        .transform(graft.Tables.stage)
      val bandsD = DedupOps.lshBands(
        DedupOps.minhashSignatureNarrow(arrD, NumHashes), Bands, RowsPerBand)
        .transform(graft.Tables.stage)
      val pairsB = DedupOps.jaccardVerifyArrays(
          DedupOps.candidatePairs(bandsB), arrB)
        .filter(col("jaccard") >= JaccardTau)
        .select(col("doc_a"), col("doc_b"))
      val canonB = DedupOps.starComponents(pairsB, s3B.select(col("doc_id")))
        .transform(graft.Tables.stage)
      val s4B = canonB.filter(col("doc_id") === col("canon_id"))
        .select(col("doc_id")).transform(graft.Tables.stage)
      val candNew = DedupOps.candidatePairs(bandsD)
        .unionByName(DedupOps.candidatePairsAcross(bandsD, bandsB))
      val pairsNew = DedupOps.jaccardVerifyArrays(candNew,
          arrB.unionByName(arrD))
        .filter(col("jaccard") >= JaccardTau)
        .select(col("doc_a"), col("doc_b"))
      val forest = canonB.filter(col("doc_id") =!= col("canon_id"))
        .select(col("doc_id").as("doc_a"), col("canon_id").as("doc_b"))
      val s3Uids = s3B.select(col("doc_id"))
        .unionByName(s3D.select(col("doc_id")))
      val canonU = DedupOps.starComponents(
        forest.unionByName(pairsNew), s3Uids)
      val s4U = canonU.filter(col("doc_id") === col("canon_id"))
        .select(col("doc_id")).transform(graft.Tables.stage)
      // the ledger: exact integer counts, all computed declaratively
      def ct(df: DataFrame, n: String): DataFrame =
        df.agg(count(lit(1)).cast("long").as(n))
      def row(id: Long, name: String, di: DataFrame, dk: DataFrame,
          bb: DataFrame, ba: DataFrame,
          retr: Option[DataFrame]): DataFrame = {
        val base = ct(di, "delta_in")
          .crossJoin(ct(dk, "delta_kept"))
          .crossJoin(ct(bb, "base_before"))
          .crossJoin(ct(ba, "base_after"))
        val withR = retr match {
          case Some(rf) => base.crossJoin(ct(rf, "base_retracted"))
          case None => base.withColumn("base_retracted", lit(0L))
        }
        withR.select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("delta_in"), col("delta_kept"), col("base_before"),
          col("base_after"), col("base_retracted"))
      }
      Seq(
        row(0L, "normalize", rawD, s1D, s1B, s1B, None),
        row(1L, "nb_gate", s1D, s2D, s2B, s2B, None),
        row(2L, "exact_dedup", s2D, s3D, s3B, s3B, None),
        row(3L, "neardup_collapse", s3D,
          s4U.filter(col("doc_id") >= cut),
          s4B, s4U.filter(col("doc_id") < cut),
          Some(s4B.join(s4U, Seq("doc_id"), "left_anti")))
      ).reduce(_ unionByName _).orderBy(col("stage_id"))
    }),

    // Per-doc curation AUDIT TRAIL — p1's ledger says how many docs each
    // stage dropped; p4 says, for EVERY ingested doc, which stage
    // decided its fate and on what evidence: the hash-group keeper it
    // duplicated (exact dedup) or the component canonical it collapsed
    // into (near-dup). This is the lineage/governance table a 100 TB
    // curation run must be able to produce on demand ("why is doc X not
    // in the training set?") — and it costs nothing beyond p1's own
    // stages plus two evidence joins. Disposition precedence = stage
    // order; evidence NULL except where the semantics define one.
    // Served from the persisted per-doc curation record
    // ([[graft.ops.CurationIndex]] `docs/`): the chain runs once at
    // build, every "why is doc X not in the training set?" read after
    // that is a 3-column scan of the artifact. The DuckDB oracle still
    // replays the whole chain from scratch — persisted ≡ recomputed is
    // the row-for-row contract.
    "p4_disposition" -> ((s, d) => {
      val p = graft.ops.CurationIndex.ensure(s, d)
      graft.ops.CurationIndex.docsDf(s, p)
        .select(col("doc_id"), col("status"), col("canonical_id"))
        .orderBy(col("doc_id"))
    }),

    // Served from the persisted 9-row `ledger/` artifact — the chain
    // itself runs once inside [[graft.ops.CurationIndex.ensure]];
    // the oracle recomputes every stage and must match bit-for-bit.
    "p1_curation_ledger" -> ((s, d) => {
      val p = graft.ops.CurationIndex.ensure(s, d)
      graft.ops.CurationIndex.ledgerDf(s, p).orderBy(col("stage_id"))
    }),

    // Shard MANIFEST with integrity checksums — the artifact a 100 TB run
    // actually hands to the trainer: one row per packed shard (p1's t15
    // pack over the final mixture) carrying doc/token counts, the doc-id
    // range, and shard_md5 = md5 of the members' per-doc content md5s
    // concatenated in doc_id order. Chain-of-custody: a re-run (or a
    // restore from cold storage) re-derives the same manifest iff every
    // byte of every member is intact and the pack assignment is
    // reproducible — the cheap end-to-end answer to "did the export
    // change?" that diffing 100 TB cannot give. Scale shape: identical to
    // p1's pack (one lang-partitioned window over the mixture survivors)
    // plus a shard-keyed agg whose state is the shard's OWN member hash
    // list (ShardTokens-bounded); per-doc md5s are computed in the same
    // scan that packs.
    "p5_manifest" -> ((s, d) =>
      p5Manifest(s, d).orderBy(col("lang"), col("shard"))),

    // Incremental shard REPACK planner: a corpus drop arrived — which of
    // yesterday's packed shards are byte-identical today, and which must
    // be rewritten? Old corpus = the pre-drop slice (lower 4/5 of the id
    // space minus a sparse %97 backfill — appends plus the occasional
    // mid-order insertion, the realistic drop shape); both sides run the
    // SAME per-doc front (pinned model — the stages commute with any id
    // slice, so one front scan serves both; at 100 TB the old side is
    // yesterday's PERSISTED manifest, read not recomputed) and their own
    // exact-dedup keeper pass (min-id keepers do NOT commute: a backfill
    // doc with a smaller id steals keeper-ship — the retraction case).
    // The manifest diff IS the rewrite plan: 'clean' shards ship
    // untouched (md5-proven), 'rewritten'/'new'/'dropped' are the I/O
    // bill. Prefix packing means one mid-order insertion dirties every
    // later shard in its stratum — the clean set is a per-lang PREFIX
    // (spec-asserted), which is exactly why real exporters shard by
    // id-range fences instead of running prefixes; this operator
    // quantifies that design pressure with exact counts. Scale: one
    // front scan, two keeper aggs, two lang-partitioned pack windows,
    // one (lang,shard)-keyed outer join of two manifest aggregates.
    "p6_shard_repack" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.ops.{CurationLedger => CL}
      val cut = Tables.documents(s, d)
        .agg(expr("((max(doc_id) + 1) * 4) div 5").as("c")).head.getLong(0)
      // one persisted front serves both what-if slices: the per-doc
      // gate decisions and both content hashes are stored columns
      // (norm_md5 for keeper-ship, doc_md5 for shard integrity) — the
      // corpus is never re-read, re-normalized, or re-hashed
      val s2 = graft.ops.CurationIndex
        .docsDf(s, graft.ops.CurationIndex.ensure(s, d))
        .filter(!col("status").isin("dropped_empty_norm", "dropped_gate"))
        .select(col("doc_id"), col("lang"), col("ntok"),
          col("norm_md5"), col("doc_md5"))
      def survivors(df: DataFrame) = {
        val keep = df.groupBy(col("norm_md5").as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        df.join(keep.select(col("doc_id")), "doc_id")
      }
      def manifest(df: DataFrame, sfx: String) = {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        df.withColumn("prefix", coalesce(sum(col("ntok")).over(w), lit(0L)))
          .withColumn("shard",
            floor(col("prefix") / CL.ShardTokens).cast("long"))
          .groupBy(col("lang"), col("shard"))
          .agg(count(lit(1)).as(s"n_docs_$sfx"),
            sum(col("ntok")).as(s"tokens_$sfx"),
            md5(array_join(transform(sort_array(collect_list(
                struct(col("doc_id"), col("doc_md5")))),
                x => x.getField("doc_md5")),
              "").cast("binary")).as(s"md5_$sfx"))
      }
      val oldM = manifest(survivors(s2.filter(col("doc_id") < cut
        && col("doc_id") % 97 =!= 0)), "old")
      val newM = manifest(survivors(s2), "new")
      oldM.join(newM, Seq("lang", "shard"), "full_outer")
        .select(col("lang"), col("shard"),
          when(col("md5_old") === col("md5_new"), "clean")
            .when(col("md5_old").isNull, "new")
            .when(col("md5_new").isNull, "dropped")
            .otherwise("rewritten").as("status"),
          col("n_docs_old"), col("n_docs_new"),
          col("tokens_old"), col("tokens_new"),
          col("md5_old"), col("md5_new"))
        .orderBy(col("lang"), col("shard"))
    }),

    // Training-run readiness report: the one-page per-language summary a
    // run owner reads before pressing go — raw volume, gate survivors,
    // final curated mass (docs + tokens), packed shard count, and the
    // survivors' mean quality margin (served from the PERSISTED
    // classifier — third consumer of ClassifierIndex's serve path; a
    // lang whose mean margin hugs zero is being curated by coin-flip
    // and needs a model refresh before the run, which is exactly what
    // t41 then quantifies). Composes p1's stages, p5's pack, and the
    // t38 serve scan into 5 rows; every number reconciles against its
    // source query's oracle. Scale: the chain's own cost + three
    // lang-keyed aggs and one serve scan — nothing new above |docs|.
    // Served ENTIRELY from the persisted artifacts: every survivor set
    // is a status filter on `docs/`, the gate margin is the stored
    // per-doc score (identical to re-running the serve scan — the same
    // persisted model produced it at build), and the shard counts come
    // from `manifest/`. Five lang-keyed aggs over the record table; the
    // corpus is never read.
    "p7_run_report" -> ((s, d) => {
      val p = graft.ops.CurationIndex.ensure(s, d)
      val docs = graft.ops.CurationIndex.docsDf(s, p)
      val kept = docs.filter(col("status") === "kept")
      val raw = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_raw"))
      val gate = docs.filter(!col("status").isin(
          "dropped_empty_norm", "dropped_gate"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_gate"))
      val fin = kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_final"), sum(col("ntok")).as("tokens_out"))
      val shards = graft.ops.CurationIndex.manifestDf(s, p)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_shards"))
      val margins = kept.groupBy(col("lang"))
        .agg(sum(col("margin_ppm")).as("smargin"), count(lit(1)).as("nm"))
      raw.join(gate, "lang").join(fin, "lang").join(shards, "lang")
        .join(margins, "lang")
        .select(col("lang"), col("n_raw"), col("n_gate"), col("n_final"),
          col("tokens_out"), col("n_shards"),
          expr("smargin div nm").as("mean_margin_ppm"))
        .orderBy(col("lang"))
    }),

    // Training read-order planner: interleave the packed shards into ONE
    // global order whose every prefix tracks the target language mixture
    // (a run that reads lang-major drifts wildly — the model sees hours
    // of pure `en` before the first `zh` shard; curriculum and loss
    // stability both want the stream mixed from token one). Deterministic
    // smooth round-robin (Sainte-Laguë/Webster seat scheduling): lang L's
    // k-th shard gets priority (2k−1)·10¹²∕n_L and the global order is
    // (priority, lang, shard) — no RNG, re-runs bit-identical. Readout
    // per lang: the MAX prefix drift |realized − target| token share over
    // all steady prefixes (≥20% of the run — tiny prefixes are
    // degenerate: shard 1 is 100% one lang), side by side with the same
    // drift under naive lang-major order (the audit measures the
    // operator's own value: ~30–55k ppm interleaved vs 150–580k naive at
    // sf0.001). Scale: this plans over the shard MANIFEST (corpus
    // tokens ∕ ShardTokens rows — the artifact a run materializes
    // anyway), not the corpus; the global sort and the langs×positions
    // drift grid are manifest-sized, and the per-lang running sums are
    // 5-way-parallel lang-partitioned windows.
    "p8_train_order" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // plans over the persisted |shards| manifest — never the corpus
      val shards = p5Manifest(s, d)
        .select(col("lang"), col("shard"), col("shard_tokens").as("stoks"))
      val lc = shards.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_l"), sum(col("stoks")).as("tok_l"))
      val tot = shards.agg(sum(col("stoks")).as("t_all"))
      val ord = shards.join(broadcast(lc), "lang")
        .withColumn("k", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("shard"))))
        .withColumn("prio", expr("(2 * k - 1) * 1000000000000 div n_l"))
      def drifted(pos: DataFrame): DataFrame =
        pos.crossJoin(broadcast(lc.select(col("lang").as("l"),
            col("tok_l"))))
          .crossJoin(broadcast(tot))
          .withColumn("cum_l", sum(when(col("lang") === col("l"),
            col("stoks")).otherwise(0L)).over(
            Window.partitionBy(col("l")).orderBy(col("pos"))))
          .select(col("l").as("lang"), col("pos"),
            expr("abs(cum_l * 1000000 div cum_all" +
              " - tok_l * 1000000 div t_all)").as("drift"),
            (col("cum_all") * 5 >= col("t_all")).as("steady"))
      val gw = Window.orderBy(col("prio"), col("lang"), col("shard"))
      val gpos = ord.withColumn("pos", row_number().over(gw))
        .withColumn("cum_all", sum(col("stoks")).over(
          gw.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("lang"), col("shard"), col("stoks"), col("pos"),
          col("cum_all"))
        .transform(graft.Tables.stage)
      val nw = Window.orderBy(col("lang"), col("shard"))
      val npos = shards.withColumn("pos", row_number().over(nw))
        .withColumn("cum_all", sum(col("stoks")).over(
          nw.rowsBetween(Window.unboundedPreceding, 0)))
      val dr = drifted(gpos).filter(col("steady")).transform(graft.Tables.stage)
      val mx = dr.groupBy(col("lang")).agg(max(col("drift"))
        .as("steady_drift_ppm"))
      val nmx = drifted(npos).filter(col("steady"))
        .groupBy(col("lang")).agg(max(col("drift")).as("naive_drift_ppm"))
      val worst = dr.join(mx, "lang")
        .filter(col("drift") === col("steady_drift_ppm"))
        .groupBy(col("lang")).agg(min(col("pos")).as("worst_pos"))
      lc.crossJoin(broadcast(tot)).join(mx, "lang").join(nmx, "lang")
        .join(worst, "lang")
        .select(col("lang"), col("n_l").as("n_shards"),
          col("tok_l").as("tokens_out"),
          expr("tok_l * 1000000 div t_all").as("target_ppm"),
          col("steady_drift_ppm"), col("naive_drift_ppm"), col("worst_pos"))
        .orderBy(col("lang"))
    }),

    // Crash-resume planner — the restart question every preempted
    // 100 TB run answers before burning a second pass: which packed
    // shards are durable and where does each stratum resume? Prefix
    // packing (p1/p5) makes resume WELL-DEFINED: durable shards are a
    // per-lang shard-index prefix, so the lost work is exactly the pack
    // suffix and the resume point is the first doc of the first lost
    // shard. The crash itself is simulated with a deterministic
    // md5-decided cut per lang (h % (n_shards+1) durable shards — some
    // langs nearly complete, some barely started; the p6-delta honesty
    // pattern: the scenario is a knob, the arithmetic is the operator).
    // Per lang: planned/durable shard counts, docs+tokens done and
    // remaining, and the resume doc id (NULL = lang complete). Planner
    // grain is the |shards| manifest — at 100 TB this reads yesterday's
    // persisted manifest, never the corpus.
    "p9_resume_plan" -> ((s, d) => {
      val mfst = p5Manifest(s, d)
      val per = mfst.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_shards"),
          sum(col("n_docs")).as("docs_total"),
          sum(col("shard_tokens")).as("tokens_total"))
        .withColumn("h",
          graft.ops.TextOps.hash60(concat(lit("p9|"), col("lang"))))
        .withColumn("n_durable", expr("h % (n_shards + 1)"))
      val cut = broadcast(per.select(col("lang"), col("n_durable")))
      val done = mfst.join(cut, "lang")
        .filter(col("shard") < col("n_durable"))
        .groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("docs_done"),
          sum(col("shard_tokens")).as("tokens_done"))
      val resume = mfst.join(cut, "lang")
        .filter(col("shard") >= col("n_durable"))
        .groupBy(col("lang"))
        .agg(min(col("first_doc")).as("resume_doc_id"))
      per.join(done, Seq("lang"), "left").join(resume, Seq("lang"), "left")
        .select(col("lang"), col("n_shards"), col("n_durable"),
          coalesce(col("docs_done"), lit(0L)).as("docs_done"),
          (col("docs_total") - coalesce(col("docs_done"), lit(0L)))
            .as("docs_remaining"),
          coalesce(col("tokens_done"), lit(0L)).as("tokens_done"),
          (col("tokens_total") - coalesce(col("tokens_done"), lit(0L)))
            .as("tokens_remaining"),
          col("resume_doc_id"))
        .orderBy(col("lang"))
    }),

    // The measure → reweight → allocate mixture loop as ONE verified
    // composition (the p1/p2 dress-rehearsal discipline applied to
    // mixture design): t57 measures per-source LM loss on the persisted
    // LmIndex and emits DoReMi weights; those MEASURED weights — not
    // hand-set targets — drive q93's epoch-capped water-filling
    // allocator ([[graft.ops.MixtureOps.waterFill]]), yielding the
    // final per-source token budget a training run would consume.
    // Budget = 1.5× corpus tokens, per-source cap = 2 epochs of its own
    // mass; freed budget from capped sources re-fills the rest. Scale
    // shape: the corpus-scale work (LM scoring) is t57's one serve-only
    // pass; everything after is |sources|-row scalar arithmetic, so the
    // loop costs the same at 100 TB as at sf0.01.
    "p10_mixture_loop" -> ((s, d) => {
      val dw = TextQueries.queries("t57_doremi_weights")(s, d)
      val tot = dw.agg(sum(col("n_tokens")).as("total_tokens"))
      val st = graft.ops.MixtureOps.waterFill(
        dw.select(col("source"), col("n_tokens"),
            col("weight_ppm").as("target_ppm"))
          .crossJoin(broadcast(tot))
          .withColumn("budget", expr("(total_tokens * 3) DIV 2"))
          .withColumn("cap_tokens", col("n_tokens") * lit(2L)),
        rounds = 5)
      val ta = st.agg(sum(col("alloc_tokens")).as("total_alloc"))
      st.crossJoin(broadcast(ta))
        .select(col("source"), col("n_tokens"),
          col("target_ppm").as("weight_ppm"),
          col("cap_tokens"), col("capped_round"), col("alloc_tokens"),
          expr("(alloc_tokens * 10000) DIV n_tokens").as("epochs_bp"),
          expr("(alloc_tokens * 1000000) DIV total_alloc").as("realized_ppm"),
          col("budget").as("budget_tokens"),
          (col("budget") - col("total_alloc")).as("leftover_tokens"))
        .orderBy(col("source"))
    })
  )

  /** p5's per-shard integrity manifest (lang, shard, n_docs,
    * shard_tokens, first_doc, last_doc, shard_md5) — shared by p5 (the
    * manifest itself) and p9 (the crash-resume planner over it). Read
    * from the persisted `manifest/` artifact
    * ([[graft.ops.CurationIndex]]); the chain that derives it runs
    * once at build. */
  private def p5Manifest(s: SparkSession, d: String): DataFrame = {
    val p = graft.ops.CurationIndex.ensure(s, d)
    graft.ops.CurationIndex.manifestDf(s, p)
  }

  val oracles: Map[String, String] = Map(
    // n16's fused CTEs → per-query RRF normalization → 5 unrolled MMR
    // greedy steps (n20's oracle pattern, relevance = normalized RRF) →
    // token join + window cumsum + budget flag. The whole serve chain
    // replayed declaratively.
    "p2_rag_serve" -> {
      import SimilarityQueries.{dkRrfFusedCtes, dot2, n2of}
      val steps = (2 to RagMmrK).map { t =>
        s"""s$t AS (
           |  SELECT h.qid, h.did, h.rrf_ppm, h.rel,
           |         0.7 * h.rel - 0.3 * max(w.sm) AS sc
           |  FROM relq h
           |  JOIN pw w ON w.qid = h.qid AND w.i = h.did
           |  JOIN sel${t - 1} z ON z.qid = w.qid AND z.did = w.j
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} e
           |                    WHERE e.qid = h.qid AND e.did = h.did)
           |  GROUP BY h.qid, h.did, h.rrf_ppm, h.rel),
           |p$t AS (
           |  SELECT qid, did, rrf_ppm, rel, sc FROM (
           |    SELECT qid, did, rrf_ppm, rel, sc,
           |      ROW_NUMBER() OVER (PARTITION BY qid
           |                         ORDER BY sc DESC, did) AS r
           |    FROM s$t) WHERE r = 1),
           |sel$t AS (SELECT qid, did FROM sel${t - 1}
           |          UNION ALL SELECT qid, did FROM p$t)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to RagMmrK)
        .map(t => s"  SELECT qid, $t AS mmr_rank, did, rrf_ppm, rel, sc" +
          s" FROM p$t")
        .mkString("\n  UNION ALL\n")
      s"""WITH $dkRrfFusedCtes,
         |relq AS (
         |  SELECT qid, did, rrf_ppm,
         |    CAST(rrf_ppm AS DOUBLE) /
         |      CAST(max(rrf_ppm) OVER (PARTITION BY qid) AS DOUBLE) AS rel
         |  FROM fused),
         |pw AS (
         |  SELECT x.qid, x.did AS i, y.did AS j,
         |    ${dot2("a.emb", "b.emb")}
         |      / sqrt(${n2of("a.emb")} * ${n2of("b.emb")}) AS sm
         |  FROM relq x JOIN relq y ON y.qid = x.qid AND y.did <> x.did
         |  JOIN v a ON a.id = x.did JOIN v b ON b.id = y.did),
         |s1 AS (SELECT qid, did, rrf_ppm, rel, 0.7 * rel AS sc FROM relq),
         |p1 AS (
         |  SELECT qid, did, rrf_ppm, rel, sc FROM (
         |    SELECT qid, did, rrf_ppm, rel, sc,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |                         ORDER BY sc DESC, did) AS r
         |    FROM s1) WHERE r = 1),
         |sel1 AS (SELECT qid, did FROM p1),
         |$steps,
         |tokn AS (
         |  SELECT doc_id, len(string_split_regex(trim(text), '\\s+'))
         |    AS n_tok
         |  FROM documents),
         |out0 AS (
         |  SELECT u.qid, u.mmr_rank, u.did, u.rrf_ppm, u.rel, u.sc,
         |         CAST(t.n_tok AS BIGINT) AS n_tok
         |  FROM (
         |$unions) u
         |  JOIN tokn t ON t.doc_id = u.did),
         |outc AS (
         |  SELECT *, CAST(sum(n_tok) OVER (PARTITION BY qid
         |    ORDER BY mmr_rank) AS BIGINT) AS cum_tok
         |  FROM out0)
         |SELECT qid AS query_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
         |  did AS doc_id, rrf_ppm,
         |  round(rel, 6) AS rel, round(sc, 6) AS mmr,
         |  n_tok, cum_tok, (cum_tok <= $RagBudgetTok) AS kept
         |FROM outc ORDER BY query_id, mmr_rank""".stripMargin
    },
    // Full recompute of BOTH chains (base slice + union) — the ground
    // truth the engine's incremental path (hash-dict anti-join + star
    // forest ∪ delta edges) must match bit-for-bit.
    "p3_delta_refresh" -> {
      import graft.queries.DedupQueries.{JaccardTau, dkMinhashCandCtes}
      val tau = JaccardTau
      def chain(sfx: String, survivors: String) =
        s"""ped$sfx AS (SELECT p.doc_a, p.doc_b FROM prs p
           |  JOIN $survivors a3 ON a3.doc_id = p.doc_a
           |  JOIN $survivors b3 ON b3.doc_id = p.doc_b),
           |int$sfx AS (
           |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter FROM ped$sfx c
           |  JOIN shg a ON a.doc_id = c.doc_a
           |  JOIN shg b ON b.doc_id = c.doc_b AND b.sh = a.sh
           |  GROUP BY c.doc_a, c.doc_b),
           |jp$sfx AS (
           |  SELECT i.doc_a, i.doc_b FROM int$sfx i
           |  JOIN szs sa ON sa.doc_id = i.doc_a
           |  JOIN szs sb ON sb.doc_id = i.doc_b
           |  WHERE CAST(i.inter AS DOUBLE)
           |    / (sa.n_sh + sb.n_sh - i.inter) >= $tau),
           |edg$sfx AS (SELECT doc_a AS src, doc_b AS dst FROM jp$sfx
           |        UNION ALL SELECT doc_b, doc_a FROM jp$sfx),
           |reach$sfx AS (
           |  SELECT src, dst FROM edg$sfx
           |  UNION
           |  SELECT r.src, e.dst FROM reach$sfx r
           |  JOIN edg$sfx e ON r.dst = e.src),
           |st4$sfx AS MATERIALIZED (
           |  SELECT s3.doc_id FROM $survivors s3
           |  LEFT JOIN (SELECT src, min(dst) AS mn FROM reach$sfx
           |             GROUP BY src) r
           |    ON r.src = s3.doc_id
           |  WHERE least(s3.doc_id, coalesce(r.mn, s3.doc_id))
           |    = s3.doc_id)""".stripMargin
      def c(e: String, from: String) =
        s"(SELECT CAST($e AS BIGINT) FROM $from)"
      def br(id: Int, name: String, di: String, dk: String, bb: String,
          ba: String, retr: String) =
        s"""  SELECT CAST($id AS BIGINT) AS stage_id, '$name' AS stage,
           |    ${c("count(*)", di)} AS delta_in,
           |    ${c("count(*)", dk)} AS delta_kept,
           |    ${c("count(*)", bb)} AS base_before,
           |    ${c("count(*)", ba)} AS base_after,
           |    $retr AS base_retracted""".stripMargin
      val branches = Seq(
        br(0, "normalize",
          "documents, cutv WHERE doc_id >= cut",
          "st1, cutv WHERE doc_id >= cut",
          "st1, cutv WHERE doc_id < cut",
          "st1, cutv WHERE doc_id < cut",
          "CAST(0 AS BIGINT)"),
        br(1, "nb_gate",
          "st1, cutv WHERE doc_id >= cut",
          "st2, cutv WHERE doc_id >= cut",
          "st2, cutv WHERE doc_id < cut",
          "st2, cutv WHERE doc_id < cut",
          "CAST(0 AS BIGINT)"),
        br(2, "exact_dedup",
          "st2, cutv WHERE doc_id >= cut",
          "st3u, cutv WHERE doc_id >= cut",
          "st3b",
          "st3u, cutv WHERE doc_id < cut",
          s"${c("count(*)", "st3b")} - ${c("count(*)",
            "st3u, cutv WHERE doc_id < cut")}"),
        br(3, "neardup_collapse",
          "st3u, cutv WHERE doc_id >= cut",
          "st4u, cutv WHERE doc_id >= cut",
          "st4b",
          "st4u, cutv WHERE doc_id < cut",
          c("count(*)",
            "st4b WHERE doc_id NOT IN (SELECT doc_id FROM st4u)"))
      ).mkString("\n  UNION ALL\n")
      s"""WITH RECURSIVE ${TextQueries.dkNbMarginCtes("TRUE")},
         |$dkMinhashCandCtes,
         |mg AS MATERIALIZED (SELECT * FROM marg),
         |shg AS MATERIALIZED (SELECT * FROM shingled),
         |prs AS MATERIALIZED (SELECT * FROM pairs),
         |szs AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM shg
         |        GROUP BY doc_id),
         |cutv AS (SELECT ((max(doc_id) + 1) * 4) // 5 AS cut
         |         FROM documents),
         |nrm AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
         |        ' ', 'g'), ' +', ' ', 'g')) AS norm_text
         |  FROM documents),
         |st1 AS MATERIALIZED (SELECT doc_id, norm_text FROM nrm
         |  WHERE length(norm_text) > 0),
         |st2 AS MATERIALIZED (
         |  SELECT st1.* FROM st1 JOIN mg USING (doc_id)
         |  WHERE mg.margin > 0),
         |k3b AS (SELECT md5(norm_text) AS h, min(doc_id) AS doc_id
         |        FROM st2, cutv WHERE doc_id < cut GROUP BY 1),
         |st3b AS MATERIALIZED (SELECT st2.doc_id FROM st2
         |        JOIN k3b USING (doc_id)),
         |k3u AS (SELECT md5(norm_text) AS h, min(doc_id) AS doc_id
         |        FROM st2 GROUP BY 1),
         |st3u AS MATERIALIZED (SELECT st2.doc_id FROM st2
         |        JOIN k3u USING (doc_id)),
         |${chain("b", "st3b")},
         |${chain("u", "st3u")}
         |SELECT * FROM (
         |$branches
         |) ORDER BY stage_id""".stripMargin
    },
    "p1_curation_ledger" ->
      s"""$p1ChainSql
         |${ledgerSelect}
         |ORDER BY stage_id""".stripMargin,
    // p4: the per-doc form of p1's ledger — same chain, disposition CASE
    // + evidence joins appended.
    "p4_disposition" ->
      s"""$p1ChainSql,
         |kk AS (SELECT st2.doc_id, k3.doc_id AS keeper FROM st2
         |       JOIN k3 ON k3.h = md5(st2.norm_text)),
         |rr AS (SELECT src, min(dst) AS mn FROM reach GROUP BY src)
         |SELECT n.doc_id,
         |  CASE WHEN s1.doc_id IS NULL THEN 'dropped_empty_norm'
         |       WHEN s2.doc_id IS NULL THEN 'dropped_gate'
         |       WHEN s3.doc_id IS NULL THEN 'dropped_exact_dup'
         |       WHEN s4.doc_id IS NULL THEN 'collapsed_neardup'
         |       WHEN s5.doc_id IS NULL THEN 'dropped_contaminated'
         |       WHEN s6.doc_id IS NULL THEN 'dropped_mixture'
         |       ELSE 'kept' END AS status,
         |  CASE WHEN s2.doc_id IS NOT NULL AND s3.doc_id IS NULL
         |         THEN kk.keeper
         |       WHEN s3.doc_id IS NOT NULL AND s4.doc_id IS NULL
         |         THEN least(n.doc_id, coalesce(rr.mn, n.doc_id))
         |       ELSE NULL END AS canonical_id
         |FROM nrm n
         |LEFT JOIN st1 s1 ON s1.doc_id = n.doc_id
         |LEFT JOIN st2 s2 ON s2.doc_id = n.doc_id
         |LEFT JOIN st3 s3 ON s3.doc_id = n.doc_id
         |LEFT JOIN st4 s4 ON s4.doc_id = n.doc_id
         |LEFT JOIN st5 s5 ON s5.doc_id = n.doc_id
         |LEFT JOIN st6 s6 ON s6.doc_id = n.doc_id
         |LEFT JOIN kk ON kk.doc_id = n.doc_id
         |LEFT JOIN rr ON rr.src = n.doc_id
         |ORDER BY n.doc_id""".stripMargin,
    // p5: the manifest tail over p1's pack CTE — same chain, shard-keyed
    // checksum rollup appended.
    "p5_manifest" ->
      s"""$p1ChainSql,
         |mf AS (
         |  SELECT pk.lang, pk.prefix // ${graft.ops.CurationLedger.ShardTokens}
         |      AS shard,
         |    pk.doc_id, pk.ntok, md5(s6.text) AS h
         |  FROM pk JOIN st6 s6 USING (doc_id))
         |SELECT lang, CAST(shard AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS shard_tokens,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc,
         |  CAST(max(doc_id) AS BIGINT) AS last_doc,
         |  md5(string_agg(h, '' ORDER BY doc_id)) AS shard_md5
         |FROM mf GROUP BY lang, shard ORDER BY lang, shard""".stripMargin,
    // p5's manifest chain + the md5-decided crash cut + resume arithmetic
    "p9_resume_plan" ->
      s"""$p1ChainSql,
         |mf AS (
         |  SELECT pk.lang, pk.prefix // ${graft.ops.CurationLedger.ShardTokens}
         |      AS shard, pk.doc_id, pk.ntok
         |  FROM pk),
         |sh AS (
         |  SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ntok) AS BIGINT) AS shard_tokens,
         |    CAST(min(doc_id) AS BIGINT) AS first_doc
         |  FROM mf GROUP BY 1, 2),
         |per AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_shards,
         |    CAST(sum(n_docs) AS BIGINT) AS docs_total,
         |    CAST(sum(shard_tokens) AS BIGINT) AS tokens_total,
         |    ('0x' || substr(md5('p9|' || lang), 1, 15))::BIGINT AS h
         |  FROM sh GROUP BY lang),
         |pp AS (SELECT *, h % (n_shards + 1) AS n_durable FROM per),
         |dn AS (
         |  SELECT s.lang, CAST(sum(s.n_docs) AS BIGINT) AS docs_done,
         |    CAST(sum(s.shard_tokens) AS BIGINT) AS tokens_done
         |  FROM sh s JOIN pp ON pp.lang = s.lang
         |    AND s.shard < pp.n_durable
         |  GROUP BY 1),
         |rs AS (
         |  SELECT s.lang, CAST(min(s.first_doc) AS BIGINT) AS resume_doc_id
         |  FROM sh s JOIN pp ON pp.lang = s.lang
         |    AND s.shard >= pp.n_durable
         |  GROUP BY 1)
         |SELECT pp.lang, pp.n_shards,
         |  CAST(pp.n_durable AS BIGINT) AS n_durable,
         |  CAST(coalesce(dn.docs_done, 0) AS BIGINT) AS docs_done,
         |  CAST(pp.docs_total - coalesce(dn.docs_done, 0) AS BIGINT)
         |    AS docs_remaining,
         |  CAST(coalesce(dn.tokens_done, 0) AS BIGINT) AS tokens_done,
         |  CAST(pp.tokens_total - coalesce(dn.tokens_done, 0) AS BIGINT)
         |    AS tokens_remaining,
         |  rs.resume_doc_id
         |FROM pp LEFT JOIN dn USING (lang) LEFT JOIN rs USING (lang)
         |ORDER BY lang""".stripMargin,
    // the repack diff replayed declaratively: shared front through st2,
    // then per-population keeper passes, two prefix packs, and the
    // (lang, shard)-keyed manifest outer join
    "p6_shard_repack" -> {
      val sh = graft.ops.CurationLedger.ShardTokens
      def mfSql(src: String, pk: String, mf: String) =
        s"""$pk AS (SELECT lang, doc_id, ntok, md5(text) AS hh,
           |  coalesce(sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS prefix FROM $src),
           |$mf AS (SELECT lang, prefix // $sh AS shard,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(ntok) AS BIGINT) AS stoks,
           |  md5(string_agg(hh, '' ORDER BY doc_id)) AS smd5
           |FROM $pk GROUP BY 1, 2)""".stripMargin
      s"""WITH $frontChainSql,
         |k3n AS (SELECT md5(norm_text) AS h, min(doc_id) AS doc_id
         |        FROM st2 GROUP BY 1),
         |svn AS MATERIALIZED (SELECT st2.* FROM st2 JOIN k3n USING (doc_id)),
         |k3o AS (SELECT md5(norm_text) AS h, min(doc_id) AS doc_id
         |        FROM st2
         |        WHERE doc_id < (SELECT ((max(doc_id) + 1) * 4) // 5
         |                        FROM documents)
         |          AND doc_id % 97 <> 0
         |        GROUP BY 1),
         |svo AS MATERIALIZED (SELECT st2.* FROM st2 JOIN k3o USING (doc_id)),
         |${mfSql("svo", "pko", "mfo")},
         |${mfSql("svn", "pkn", "mfn")}
         |SELECT coalesce(o.lang, n.lang) AS lang,
         |  CAST(coalesce(o.shard, n.shard) AS BIGINT) AS shard,
         |  CASE WHEN o.smd5 = n.smd5 THEN 'clean'
         |       WHEN o.smd5 IS NULL THEN 'new'
         |       WHEN n.smd5 IS NULL THEN 'dropped'
         |       ELSE 'rewritten' END AS status,
         |  o.n_docs AS n_docs_old, n.n_docs AS n_docs_new,
         |  o.stoks AS tokens_old, n.stoks AS tokens_new,
         |  o.smd5 AS md5_old, n.smd5 AS md5_new
         |FROM mfo o FULL OUTER JOIN mfn n
         |  ON o.lang = n.lang AND o.shard = n.shard
         |ORDER BY lang, shard""".stripMargin
    },
    // the full chain + three lang-keyed tails + the margin join — every
    // column re-derivable from its source query's own oracle
    "p7_run_report" ->
      s"""$p1ChainSql,
         |rawc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_raw
         |         FROM documents GROUP BY 1),
         |g2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_gate
         |       FROM st2 GROUP BY 1),
         |f6 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_final,
         |         CAST(sum(ntok) AS BIGINT) AS tokens_out
         |       FROM st6 GROUP BY 1),
         |shc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_shards
         |        FROM shards GROUP BY 1),
         |mm AS (SELECT s6.lang, CAST(sum(m.margin) AS BIGINT) AS smargin,
         |         CAST(count(*) AS BIGINT) AS nm
         |       FROM st6 s6 JOIN mg m USING (doc_id) GROUP BY 1)
         |SELECT r.lang, n_raw, n_gate, n_final, tokens_out, n_shards,
         |  CAST(smargin // nm AS BIGINT) AS mean_margin_ppm
         |FROM rawc r JOIN g2 USING (lang) JOIN f6 USING (lang)
         |JOIN shc USING (lang) JOIN mm USING (lang)
         |ORDER BY lang""".stripMargin,
    // the chain's shard manifest + smooth round-robin priorities + the
    // steady-prefix drift grids for both orders
    "p8_train_order" ->
      s"""$p1ChainSql,
         |lcx AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l,
         |          CAST(sum(stoks) AS BIGINT) AS tok_l
         |        FROM shards GROUP BY 1),
         |totx AS (SELECT CAST(sum(stoks) AS BIGINT) AS t_all FROM shards),
         |ordx AS (
         |  SELECT s.lang, s.shard, s.stoks,
         |    (2 * (row_number() OVER (PARTITION BY s.lang
         |      ORDER BY s.shard)) - 1) * 1000000000000 // l.n_l AS prio
         |  FROM shards s JOIN lcx l USING (lang)),
         |gposx AS MATERIALIZED (
         |  SELECT lang, stoks,
         |    row_number() OVER (ORDER BY prio, lang, shard) AS pos,
         |    sum(stoks) OVER (ORDER BY prio, lang, shard) AS cum_all
         |  FROM ordx),
         |nposx AS MATERIALIZED (
         |  SELECT lang, stoks,
         |    row_number() OVER (ORDER BY lang, shard) AS pos,
         |    sum(stoks) OVER (ORDER BY lang, shard) AS cum_all
         |  FROM shards),
         |drx AS (
         |  SELECT l.lang, g.pos,
         |    abs(sum(CASE WHEN g.lang = l.lang THEN g.stoks ELSE 0 END)
         |        OVER (PARTITION BY l.lang ORDER BY g.pos)
         |      * 1000000 // g.cum_all
         |      - l.tok_l * 1000000 // t.t_all) AS drift,
         |    g.cum_all * 5 >= t.t_all AS steady
         |  FROM gposx g CROSS JOIN lcx l CROSS JOIN totx t),
         |ndrx AS (
         |  SELECT l.lang,
         |    abs(sum(CASE WHEN g.lang = l.lang THEN g.stoks ELSE 0 END)
         |        OVER (PARTITION BY l.lang ORDER BY g.pos)
         |      * 1000000 // g.cum_all
         |      - l.tok_l * 1000000 // t.t_all) AS drift,
         |    g.cum_all * 5 >= t.t_all AS steady
         |  FROM nposx g CROSS JOIN lcx l CROSS JOIN totx t),
         |mxx AS (SELECT lang, CAST(max(drift) AS BIGINT)
         |          AS steady_drift_ppm
         |        FROM drx WHERE steady GROUP BY lang),
         |nmxx AS (SELECT lang, CAST(max(drift) AS BIGINT)
         |           AS naive_drift_ppm
         |         FROM ndrx WHERE steady GROUP BY lang)
         |SELECT l.lang, l.n_l AS n_shards, l.tok_l AS tokens_out,
         |  CAST(l.tok_l * 1000000 // t.t_all AS BIGINT) AS target_ppm,
         |  m.steady_drift_ppm, n.naive_drift_ppm,
         |  CAST((SELECT min(pos) FROM drx d WHERE d.lang = l.lang
         |        AND d.steady AND d.drift = m.steady_drift_ppm) AS BIGINT)
         |    AS worst_pos
         |FROM lcx l CROSS JOIN totx t JOIN mxx m USING (lang)
         |JOIN nmxx n USING (lang)
         |ORDER BY lang""".stripMargin,
    // p10: t57's measured DoReMi weight chain (dw) seeds q93's unrolled
    // water-fill rounds — the measure → reweight → allocate loop as one
    // statement
    "p10_mixture_loop" ->
      s"""WITH ${TextQueries.dkDoremiCtes},
         |ptot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |         FROM dw),
         |s0 AS (
         |  SELECT source, n_tokens, weight_ppm AS target_ppm,
         |    (total_tokens * 3) // 2 AS budget,
         |    n_tokens * 2 AS cap_tokens,
         |    CAST(0 AS BIGINT) AS capped_round,
         |    CAST(0 AS BIGINT) AS alloc_tokens
         |  FROM dw, ptot),
         |${RelationalQueries.dkWaterfillRounds("source, n_tokens")},
         |ta AS (SELECT CAST(sum(alloc_tokens) AS BIGINT) AS total_alloc
         |       FROM s5)
         |SELECT source, n_tokens, target_ppm AS weight_ppm, cap_tokens,
         |  capped_round, alloc_tokens,
         |  (alloc_tokens * 10000) // n_tokens AS epochs_bp,
         |  (alloc_tokens * 1000000) // total_alloc AS realized_ppm,
         |  budget AS budget_tokens,
         |  budget - total_alloc AS leftover_tokens
         |FROM s5, ta ORDER BY source""".stripMargin
  )

  /** The chain's FRONT half (normalize + pinned-model gate, through
    * `st2`) as a WITH-fragment — shared by p1/p4's full chain and p6's
    * repack, whose old/new packs diverge only AFTER the per-doc front
    * (the append-safe stages commute with any id slice). */
  private lazy val frontChainSql: String = {
    val toksOf = (c: String) => s"len(string_split_regex(trim($c), '\\s+'))"
    s"""${TextQueries.dkNbMarginCtes("TRUE")},
       |mg AS MATERIALIZED (SELECT * FROM marg),
       |nrm AS MATERIALIZED (
       |  SELECT doc_id, text, lang, source,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
       |        ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
       |    ${toksOf("text")} AS ntok_raw
       |  FROM documents),
       |st1 AS MATERIALIZED (
       |  SELECT doc_id, text, lang, source, norm_text,
       |    ${toksOf("norm_text")} AS ntok
       |  FROM nrm WHERE length(norm_text) > 0),
       |st2 AS MATERIALIZED (
       |  SELECT st1.* FROM st1 JOIN mg USING (doc_id)
       |  WHERE mg.margin > 0)""".stripMargin
  }

  /** p1's full stage-chain WITH-prefix (through `ch`) — shared by the
    * p1 ledger and the p4 per-doc disposition oracle. */
  private lazy val p1ChainSql: String = {
      import graft.queries.DedupQueries.{JaccardTau, dkMinhashCandCtes}
      val tau = JaccardTau
      val salts = graft.ops.DedupOps.BloomSalts
      val bloomBits = graft.ops.DedupOps.BloomBits
      def bitsSel(src: String, cols: String) = salts.map { k =>
        s"""SELECT $cols,
           |  ('0x' || substr(md5('$k|' || sh), 1, 15))::BIGINT % $bloomBits AS b
           |FROM $src""".stripMargin
      }.mkString("\n  UNION ALL\n")
      // The mg/shg/prs MATERIALIZED wrappers (and the MATERIALIZED stage
      // CTEs below) are load-bearing: each stage references its
      // predecessor 3+ times (survivor join + ledger counts), and
      // without materialization DuckDB re-inlines the ENTIRE upstream
      // chain per reference — exponentially many documents.parquet
      // scans, which exhausts the fd limit before it exhausts patience.
      s"""WITH RECURSIVE $frontChainSql,
         |$dkMinhashCandCtes,
         |shg AS MATERIALIZED (SELECT * FROM shingled),
         |prs AS MATERIALIZED (SELECT * FROM pairs),
         |k3 AS (SELECT md5(norm_text) AS h, min(doc_id) AS doc_id
         |       FROM st2 GROUP BY 1),
         |st3 AS MATERIALIZED (SELECT st2.* FROM st2 JOIN k3 USING (doc_id)),
         |ped AS (
         |  SELECT p.doc_a, p.doc_b FROM prs p
         |  JOIN st3 a3 ON a3.doc_id = p.doc_a
         |  JOIN st3 b3 ON b3.doc_id = p.doc_b),
         |sz3 AS (SELECT doc_id, COUNT(*) AS n_sh FROM shg
         |        GROUP BY doc_id),
         |int3 AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter FROM ped c
         |  JOIN shg a ON a.doc_id = c.doc_a
         |  JOIN shg b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY c.doc_a, c.doc_b),
         |jp3 AS (
         |  SELECT i.doc_a, i.doc_b FROM int3 i
         |  JOIN sz3 sa ON sa.doc_id = i.doc_a
         |  JOIN sz3 sb ON sb.doc_id = i.doc_b
         |  WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter)
         |    >= $tau),
         |edg AS (SELECT doc_a AS src, doc_b AS dst FROM jp3
         |        UNION ALL SELECT doc_b, doc_a FROM jp3),
         |reach AS (
         |  SELECT src, dst FROM edg
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edg e ON r.dst = e.src),
         |st4 AS MATERIALIZED (
         |  SELECT s3.* FROM st3 s3
         |  LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) r
         |    ON r.src = s3.doc_id
         |  WHERE least(s3.doc_id, coalesce(r.mn, s3.doc_id)) = s3.doc_id),
         |besh AS MATERIALIZED (SELECT DISTINCT sh FROM shg WHERE doc_id % 50 = 0),
         |bb AS (
         |${bitsSel("besh", "sh")}),
         |bloomw AS (
         |  SELECT b // 32 AS word,
         |    bit_or(1::BIGINT << CAST(b % 32 AS INT)) AS bits
         |  FROM bb GROUP BY b // 32),
         |psh AS MATERIALIZED (SELECT sh4.doc_id, sh4.sh FROM shg sh4
         |        JOIN st4 ON st4.doc_id = sh4.doc_id),
         |pb AS (
         |${bitsSel("psh", "doc_id, sh")}),
         |pall AS (
         |  SELECT p.doc_id, p.sh,
         |    min(CASE WHEN (coalesce(w.bits, 0::BIGINT)
         |          & (1::BIGINT << CAST(p.b % 32 AS INT))) <> 0
         |        THEN 1 ELSE 0 END) AS all_set
         |  FROM pb p LEFT JOIN bloomw w ON w.word = p.b // 32
         |  GROUP BY p.doc_id, p.sh),
         |flagged AS (
         |  SELECT doc_id FROM pall WHERE all_set = 1
         |  GROUP BY doc_id HAVING count(*) >= 3),
         |st5 AS MATERIALIZED (SELECT * FROM st4
         |        WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |srcr AS (SELECT source, count(*) AS nds FROM st5 GROUP BY source),
         |stot AS (SELECT count(*) AS tot_docs,
         |         count(DISTINCT source) AS n_sources FROM st5),
         |rates AS (SELECT source,
         |          least(10000, tot_docs * 10000 // (n_sources * nds))
         |            AS rate_bp
         |          FROM srcr, stot),
         |st6 AS MATERIALIZED (
         |  SELECT s5.* FROM st5 s5 JOIN rates r USING (source)
         |  WHERE ('0x' || substr(md5('mix|' || s5.text), 1, 15))::BIGINT
         |    % 10000 < r.rate_bp),
         |pk AS (
         |  SELECT lang, doc_id, ntok,
         |    coalesce(sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS prefix
         |  FROM st6),
         |shards AS MATERIALIZED (
         |  SELECT lang, prefix // 512 AS shard,
         |    CAST(sum(ntok) AS BIGINT) AS stoks
         |  FROM pk GROUP BY 1, 2),
         |ch AS MATERIALIZED (
         |  SELECT doc_id, ntok,
         |    unnest(generate_series(0, ntok - 1, 96)) AS cs
         |  FROM st6)""".stripMargin
  }

  /** The 9-branch ledger readout: every count/sum CAST to BIGINT in
    * EVERY branch (DuckDB's sum(BIGINT) is HUGEINT, and UNION ALL
    * unifies to the widest type — one uncast branch flips the whole
    * column to decimal128 and kind-mismatches Spark's int64). */
  private def ledgerSelect: String = {
    def c(e: String) = s"(SELECT CAST($e AS BIGINT) FROM"
    def br(id: Int, name: String, din: String, dout: String,
        tin: String, tout: String) =
      s"""  SELECT CAST($id AS BIGINT) AS stage_id, '$name' AS stage,
         |    ${c("count(*)")} $din) AS docs_in,
         |    ${c("count(*)")} $dout) AS docs_out,
         |    ${c(s"coalesce(sum($tin), 0)")} $din) AS tokens_in,
         |    ${c(s"coalesce(sum($tout), 0)")} $dout) AS tokens_out""".stripMargin
    val rows = Seq(
      br(0, "ingest", "nrm", "nrm", "ntok_raw", "ntok_raw"),
      br(1, "normalize", "nrm", "st1", "ntok_raw", "ntok"),
      br(2, "nb_gate", "st1", "st2", "ntok", "ntok"),
      br(3, "exact_dedup", "st2", "st3", "ntok", "ntok"),
      br(4, "neardup_collapse", "st3", "st4", "ntok", "ntok"),
      br(5, "decontaminate", "st4", "st5", "ntok", "ntok"),
      br(6, "mixture", "st5", "st6", "ntok", "ntok"),
      br(7, "pack", "st6", "shards", "ntok", "stoks"),
      br(8, "chunk", "st6", "ch", "ntok", "least(128, ntok - cs)"))
    s"SELECT * FROM (\n${rows.mkString("\n  UNION ALL\n")}\n)"
  }
}
