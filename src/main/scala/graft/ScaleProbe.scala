package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe (non-oracle): generates a matched PAIR of
  * corpora from ONE hash-deterministic recipe — `g1x` (5k docs / 2k
  * vectors / 600k lineitem) and `g10x` (exactly 10× each) — and times
  * the graph/ANN/planner families on both, testing the linear-in-input
  * claims SURVEY §2.10 makes: 10× rows should be ~10× time (modulo
  * fixed overheads), never ~100×.
  *
  * Corpus design is the load-bearing part. A first attempt sampled the
  * sf0.1 unigram distribution i.i.d. — and OOM'd a 24 GB driver: 54-ish
  * tokens drawn uniformly from a 31-token vocabulary give every doc
  * nearly the SAME distinct-token set, SimHash collapses, and the
  * near-dup graph is Θ(n²) edges (1.25e9 pairs at 50k docs). That is a
  * corpus pathology, not an operator defect — but it makes 10×-scaling
  * ratios unreadable. The generator therefore plants TOPIC structure:
  * each doc draws from an 8-token topic-specific window of the vocab,
  * with docs-per-topic held CONSTANT across scales (50 topics at 1×,
  * 500 at 10×) — near-dup candidates concentrate within topics, so
  * |E| grows ~linearly with docs, the shape of a real crawl where
  * near-dup cluster sizes don't grow with corpus size. Both corpora
  * come from the same recipe, so the comparison is pure 10× scaling.
  *
  * Everything is md5-deterministic (no RNG): the same run always
  * produces the same corpora, so probe numbers are comparable across
  * rounds. Output: one JSON line (queries × {t1x, t10x, ratio}, plus the
  * `g100x` decade's queries100x unless `skip100x`) with the corpus
  * cardinalities. Every timed run is one [[Measure.run]].
  *
  * Usage: sbt "runMain graft.ScaleProbe [skip100x]"
  *        (or tools/run_scale_probe.sh)
  *        sbt "runMain graft.ScaleProbe diag <10|100> <query> [reps] [warm10x]"
  */
object ScaleProbe {

  /** Directory of the `scale`× corpus. */
  def corpusDir(scale: Int): String = s"target/scaleprobe/g${scale}x"

  /** The heaviest headline families get a SECOND decade (t10x → t100x:
    * 500k docs / 200k vectors / 60M lineitem) — two decades of evidence
    * for §2.10's 100 TB claims. Kept to the families whose cost model
    * is worth the extra corpus: winnowing (per-doc windows), the Gopher
    * battery (9× gram melt), the sketched graph family (registers
    * ∝ |E|), contrastive batches (the SemDeDup bucket-count knob
    * engages its TWO-LEVEL growth path at this scale — expected bucket
    * size stays ~2500 via coarse-Lloyd + LSH sign bits, so BOTH the
    * pair frame and the assignment stay linear; the first decade run
    * measured the single-level k∝N form at 20.8× and forced the fix),
    * and the composed curation chain (CurationIndex build + serve). */
  val DecadeQueries = Seq("d43_winnowing", "t52_gopher_rules",
    "d9b_graph_stats_sketch", "m8_batch_negatives", "p1_curation_ledger")
  val ProbeQueries = Seq("d9b_graph_stats_sketch", "d33r_star_residual",
    "d29r_lpa_residual", "d36_threshold_sweep", "n15_ivfpq_serve",
    "q91_range_plan", "p1_curation_ledger",
    // round-9 fourth-session additions: selection, surgery, repack,
    // trainer — each claims vocab-/bound-limited state in SURVEY §2.10
    "t44_dsir_select", "d38_contamination_curve", "p6_shard_repack",
    "t46_bpe_train", "q94_boundary_refresh",
    // fifth-session additions: winnowing (per-doc windows), read-order
    // planner (manifest-sized), index-served BM25 (pruned postings)
    "d43_winnowing", "p8_train_order", "t50_bm25_serve",
    "t51_ppl_buckets",
    // sixth-session additions: Gopher battery (9x gram melt, per-doc
    // windows), signal agreement (two serve scans). Excluded: n24
    // (reads 8 index-metadata rows), m8b (the exact all-pairs TRUTH
    // twin — quadratic by construction, measured 17.6x at 10x vecs
    // back when it was m8's headline leg; the validator-input shape
    // shared with n1/d8) and d44 (its d4 truth leg is the same class)
    "t52_gopher_rules", "t53_signal_agreement",
    // round-10: m8's headline pair frame is now the cluster-bucketed
    // path (the 17.6x all-pairs leg moved to m8b) — back in the
    // linear-claims list; t55 is serve-only joins + per-doc windows;
    // d45's four contamination signals are all small-bench-side joins
    "m8_batch_negatives", "t55_min_k_prob", "d45_contamination_agreement",
    // round-11: per-source cap (histogram selection — the sort is over
    // the |sources|×|q| histogram), DoReMi weights (serve joins +
    // |sources|-row windows), source-pair TV divergence (vocab-keyed
    // pair join; pairs-per-word bounded by |sources|²)
    "t56_source_cap", "t57_doremi_weights", "t58_source_divergence",
    // round-13: modality curriculum (m9's per-lang packing window + a
    // bounded reservoir — claims linear in items, §2.10)
    "m14_modality_curriculum",
    // round-15: the r14 verdict asked for 10× scale evidence over the
    // FULL driver slowest-20 set (the sf0.1 bench is driver-bound —
    // scaling ratios ≤1 — so these probe ratios are the real scale
    // signal). Additions beyond the families above, in slowest-20
    // order: the residual exact-graph pair, the in-query IVF-PQ
    // trainers, the SemDeDup self-join consumers, the delta/star
    // pipelines, LPA + modularity, the classifier serve family, and
    // the BPE fertility audit.
    "d9r_graph_stats_residual", "p3_delta_refresh", "n14_ivfpq",
    "n14b_ivfpq_residual", "n11b_pq_trained", "n25_twolevel_buckets",
    "d23b_semdedup_planted", "d46_dedup_index_stats",
    "d29_label_propagation", "d31_entity_resolution", "d34_modularity",
    "t38d_rank_fidelity", "t48_tokenizer_fertility",
    "d25r_kcore_residual")

  private def h(c: Column): Column = graft.ops.TextOps.hash60(c)

  /** Generate the `scale`× corpus iff absent (keyed by _SUCCESS markers)
    * and return its directory. `scale` multiplies docs/vectors/lineitem-
    * replicas AND topics — docs-per-topic stays constant, keeping near-dup
    * density linear. */
  def ensureCorpus(s: SparkSession, scale: Int): String = {
    val dir = corpusDir(scale)
    if (graft.ops.PersistedIndex.complete(s, Seq("documents.parquet",
        "embeddings.parquet", "lineitem.parquet").map(t => s"$dir/$t")))
      return dir

    // --- documents: disjoint-topic token sampling -----------------------
    // vocab = the corpus's empirical 31 tokens (sorted by frequency).
    // 70% of a doc's positions carry a TOPIC-SUFFIXED token (vocab word
    // + "x<topic>") — topic vocabularies are fully disjoint, so near-dup
    // similarity concentrates within a topic's constant-size doc
    // population and |E| grows linearly with docs. The other 30% are
    // PLAIN vocab tokens, so stopword density (the t38 teacher signal
    // and the p1 gate) still varies per doc; cross-topic overlap from
    // the plain minority stays far below the Jaccard/Hamming thresholds.
    val vocab: Seq[String] = Tables.documents(s, "/root/testdata/sf0.1")
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .collect().map(_.getString(0)).toSeq
    val v = vocab.size
    val vocabLit = typedLit(vocab)
    val nDocs = 5000L * scale
    val nTopics = 50L * scale
    def pick(i: Column, salt: String): Column = element_at(vocabLit,
      (pmod(h(concat(col("doc_id"), lit(s"|$salt|"), i)), lit(v.toLong))
        + 1).cast("int"))
    val docs = s.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("topic", pmod(h(concat(lit("top|"), col("doc_id"))),
        lit(nTopics)))
      .withColumn("n_toks", lit(10) + pmod(h(concat(lit("len|"),
        col("doc_id"))), lit(91L)).cast("int"))
      .withColumn("text", concat_ws(" ", transform(
        sequence(lit(1), col("n_toks")),
        i => when(pmod(h(concat(col("doc_id"), lit("|m|"), i)),
            lit(10L)) < 3, pick(i, "p"))
          .otherwise(concat(pick(i, "t"), lit("x"), col("topic"))))))
      .withColumn("lr", pmod(h(concat(lit("lang|"), col("doc_id"))),
        lit(100L)))
      .withColumn("lang", when(col("lr") < 60, "en")
        .when(col("lr") < 80, "de").otherwise("es"))
      .withColumn("source", concat(lit("src"),
        pmod(h(concat(lit("src|"), col("doc_id"))), lit(20L))))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    docs.repartition(4 * scale).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    // --- embeddings: 10 hash-seeded centers + per-vector noise ----------
    def unit(c: Column): Column =
      (pmod(h(c), lit(2001L)) - 1000L).cast("double") / 1000.0
    val emb = s.range(2000L * scale).select(col("id").as("vec_id"))
      .withColumn("label",
        pmod(h(concat(lit("lab|"), col("vec_id"))), lit(10L)).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), j =>
        (unit(concat(lit("c|"), col("label"), lit("|"), j))
          + unit(concat(lit("n|"), col("vec_id"), lit("|"), j)) * 0.3)
          .cast("float")))
      .select(col("vec_id"), col("embedding"), col("label"))
    emb.repartition(2 * scale).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    // --- lineitem: `scale` disjoint-key replicas of sf0.1 ---------------
    val li = Tables.lineitem(s, "/root/testdata/sf0.1")
    val rep = (0 until scale).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L))
    }.reduce(_ unionByName _)
    rep.repartition(8 * scale).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    dir
  }

  /** Runs `body` under the decade's sizing and restores the four confs
    * after. Every knob scales the per-task working set back to what the
    * operators were designed for at the 100× corpus — exactly what a
    * production cluster does by running more tasks:
    *  - 256 shuffle partitions: the engine's 32 put ~2M exploded gram rows
    *    in each task's aggregation map and 32 concurrent maps exceed the
    *    executor pool (observed as AGGREGATE_OUT_OF_MEMORY in the Gopher
    *    leg); AQE coalesces the small ones back.
    *  - 1 MB scan bins, open cost 128 KB so small files still pack: the
    *    decade corpus is 90 MB on disk across 400 small files, so the
    *    default 128 MB maxPartitionBytes bin-packs the scan into ~14 tasks
    *    of ~36k docs whose 9-way gram melt exhausts the pool before the
    *    spill sorter can allocate; 1 MB targets ~140 tasks of ~3.5k docs.
    *  - DISK_ONLY stage frames: t52's gram-instance stage alone is ~250M
    *    rows at 500k docs, and memory-and-disk staging occupies the
    *    unified pool's evict-protected storage share; see [[Tables.stage]].
    *  - 256-way fanout: `fanout()` repartitions to defaultParallelism (32)
    *    at every query head, so scan-side sizing alone cannot shrink
    *    anything downstream of it. The partition-override hook is the
    *    production knob; results are partition-invariant
    *    (OperatorPropertiesSpec pins exactly that). */
  private def decadeConfig[T](spark: SparkSession)(body: => T): T = {
    val confs = Seq("spark.sql.shuffle.partitions" -> "256",
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.files.openCostInBytes" -> "131072",
      "spark.graft.stageLevel" -> "DISK_ONLY")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try Tables.withFanoutParts(256)(body)
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def main(args: Array[String]): Unit = {
    // honor the harness core-count contract (the bench's second axis):
    // the verdict wants probe ratios at BOTH core counts, and a
    // hardcoded 32 made the 8-core probe silently identical
    val cpus = ClusterConfigs.localCores
    val spark = ClusterConfigs.local(
      SparkSession.builder().appName("graft-scale-probe")
        // RDD blocks (the DISK_ONLY stage frames at the decade — see
        // below) are NOT compressed by default, unlike shuffle files;
        // t52@100x's ~250M-row gram stage uncompressed filled the
        // probe host's disk (observed: "No space left on device" in
        // the gi stage write). lz4 on text-heavy rows is 3-5× — and
        // what a production block manager would be configured with.
        .config("spark.rdd.compress", "true"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    // Queries localCheckpoint intermediates that stay pinned until
    // unpersisted, and UnifiedMemoryManager protects in-use storage up
    // to storageFraction — at the 100× corpus one query's pinned
    // k-gram table (tens of GB) halves the execution pool the NEXT
    // query's aggregation maps need (observed as AGGREGATE_OUT_OF_
    // MEMORY / UNABLE_TO_ACQUIRE_MEMORY in the t52@100x leg). A real
    // deployment owns its checkpoint lifecycle per job; the probe
    // drops everything pinned after each timed measurement — BLOCKING,
    // so the next measurement's disk/memory accounting starts clean —
    // and nudges the ContextCleaner (shuffle files of finished stages
    // are only deleted when their dependency objects are GC'd; a
    // single-JVM probe accumulates every prior query's shuffle files
    // on the same 80 GB filesystem the decade stage frames need).
    def dropPinned(): Unit = {
      spark.sparkContext.getPersistentRDDs
        .values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // The probe's one timing loop: `n` timed runs of `name` over the
    // `scale`× corpus, pinned frames dropped after each; stops at the
    // first failure and yields its error text. The corpus is
    // hash-deterministic, so partition layout and AQE decisions are
    // identical across runs.
    def reps(name: String, scale: Int, n: Int): Either[String, Seq[Double]] =
      (1 to n).foldLeft[Either[String, Seq[Double]]](Right(Vector.empty)) { (acc, i) =>
        acc.flatMap { ts =>
          val run = Measure.run(qs(name)(spark, corpusDir(scale))).map(_.seconds)
          dropPinned()
          System.err.println(s"[scale-probe] $name @${scale}x run $i: " +
            run.fold(e => s"FAILED: $e", t => f"$t%.2f s"))
          run.map(ts :+ _)
        }
      }
    // Diagnostic mode: `runMain graft.ScaleProbe diag <10|100> <query>
    // [reps] [warm10x]` times ONE query `reps` times (default 3) at the
    // 10× or 100× corpus UNDER THE DECADE'S EXACT CONFIG and prints every
    // rep.
    //  - At 10× it is the matched-medium denominator that decomposes a
    //    t100x/t10x ratio into data-scale vs storage-medium components
    //    (the headline 10× readings stage through memory; the decade's
    //    DISK_ONLY frames pay write+read I/O the denominator never paid).
    //  - At 100× it separates a query's real decade cost from host state
    //    (page cache, dirty-page writeback from the preceding query, CPU
    //    contention): stable reps = the spread across probe RUNS was
    //    inter-query interference, not the operator.
    // `warm10x` first runs the query once at the 10× corpus (the full
    // probe's execution order) — separates per-JVM warmup shared across
    // scales (codegen/JIT of the same plan shapes) from genuinely
    // scale-specific first-run cost.
    if (args.length >= 3 && args(0) == "diag") {
      val scale = args(1).stripSuffix("x").toInt
      require(scale == 10 || scale == 100, s"diag corpus must be 10 or 100, got ${args(1)}")
      val name = args(2)
      val n = if (args.length >= 4) args(3).toInt else 3
      ensureCorpus(spark, scale)
      if (args.contains("warm10x")) ensureCorpus(spark, 10)
      val ts = decadeConfig(spark) {
        if (args.contains("warm10x")) reps(name, 10, 1)
        reps(name, scale, n)
      }
      val metric = if (scale == 10) "matched_medium" else "decade_reps"
      val fields = ts.fold(e => s""""error":${Measure.jsonString(e)}""", t =>
        s""""reps":[${t.map(x => f"$x%.2f").mkString(",")}],""" +
          f""""min":${t.min}%.2f,"max":${t.max}%.2f""" +
          (if (scale == 10) f""","t10x_decade_cfg":${t.min}%.2f""" else ""))
      println(s"""{"metric":"$metric","query":"$name",$fields}""")
      spark.stop()
      return
    }
    val scales = if (args.contains("skip100x")) Seq(1, 10) else Seq(1, 10, 100)
    scales.foreach(ensureCorpus(spark, _))
    // cardinality context so ratios are attributable
    val cards = scales.map { sc =>
      Seq(Tables.documents _, Tables.embeddings _, Tables.lineitem _)
        .map(_(spark, corpusDir(sc)).count())
    }.transpose.map(_.mkString("[", ",", "]"))
    // a probe query that refuses (e.g. a wedge-budget guard at the
    // generated corpus) records its error and the sweep continues —
    // one pathological query must not discard the other readings.
    // The first 1x run doubles as codegen warmup.
    val rows = ProbeQueries.distinct.flatMap { n =>
      val r = for (a <- reps(n, 1, 2); b <- reps(n, 10, 2)) yield (n, a.min, b.min)
      r.foreach { case (_, a, b) => System.err.println(f"[scale-probe] $n: $a%.2f s → $b%.2f s") }
      r.toOption
    }
    val qjson = rows.map { case (n, a, b) =>
      f""""$n":{"t1x":$a%.2f,"t10x":$b%.2f,"ratio":${b / a}%.2f}"""
    }.mkString(",")
    // second decade for the heaviest families (reuses each query's 10×
    // reading from the loop above as the denominator). `skip100x` keeps
    // a low-core-count probe run to the 1x/10x evidence the verdict
    // asked for without re-paying the ~15-min decade leg.
    val json100 = if (!scales.contains(100)) "" else {
      val t10 = rows.map { case (n, _, b) => n -> b }.toMap
      val rows100 = decadeConfig(spark) {
        DecadeQueries.flatMap(n => reps(n, 100, 2).toOption.map(ts => (n, ts.min)))
      }
      rows100.map { case (n, c) =>
        val b = t10.getOrElse(n, Double.NaN)
        System.err.println(f"[scale-probe] $n: $b%.2f s → $c%.2f s")
        f""""$n":{"t10x":$b%.2f,"t100x":$c%.2f,"ratio":${c / b}%.2f}"""
      }.mkString(""","queries100x":{""", ",", "}")
    }
    println(s"""{"metric":"scale_probe","cpus":$cpus,""" +
      s""""docs":${cards(0)},"embeddings":${cards(1)},""" +
      s""""lineitem":${cards(2)},"queries":{$qjson}$json100}""")
    spark.stop()
  }
}
