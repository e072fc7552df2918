package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * rounds. Output: one JSON line (queries × {t1x, t10x, ratio}) plus
  * the corpus cardinalities.
  *
  * Usage: sbt "runMain graft.ScaleProbe"     (or tools/run_scale_probe.sh)
  */
object ScaleProbe {

  val G1xDir = "target/scaleprobe/g1x"
  val G10xDir = "target/scaleprobe/g10x"
  val G100xDir = "target/scaleprobe/g100x"

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

  /** Generate a corpus dir iff absent (keyed by _SUCCESS markers).
    * `scale` multiplies docs/vectors/lineitem-replicas AND topics —
    * docs-per-topic stays constant, keeping near-dup density linear. */
  def ensureCorpus(s: SparkSession, dir: String, scale: Int): Unit = {
    if (graft.ops.PersistedIndex.complete(s, Seq("documents.parquet",
        "embeddings.parquet", "lineitem.parquet").map(t => s"$dir/$t")))
      return

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
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
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
    // Diagnostic mode: `runMain graft.ScaleProbe matched <query>` times
    // one decade query at the 10× corpus UNDER THE DECADE'S EXACT CONFIG
    // (DISK_ONLY staging, 256 shuffle partitions, 1 MB scan bins,
    // 256-way fanout) — the matched-medium denominator that decomposes
    // a t100x/t10x ratio into data-scale vs storage-medium components
    // (the headline 10× readings stage through memory; the decade's
    // DISK_ONLY frames pay write+read I/O the denominator never paid).
    // Diagnostic mode: `runMain graft.ScaleProbe decade <query> [reps]`
    // times ONE decade query at the 100× corpus under the decade's
    // exact config, `reps` times (default 3, each rep unpersisted and
    // GC'd) and prints every rep. The corpus is hash-deterministic, so
    // partition layout and AQE decisions are identical across reps —
    // the repeated-measurement harness that separates a query's real
    // decade cost from host state (page cache, dirty-page writeback
    // from the preceding query, CPU contention): stable reps = the
    // spread across probe RUNS was inter-query interference, not the
    // operator.
    if (args.length >= 2 && args(0) == "decade") {
      ensureCorpus(spark, G100xDir, 100)
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
      spark.conf.set("spark.sql.files.openCostInBytes", "131072")
      spark.conf.set("spark.graft.stageLevel", "DISK_ONLY")
      val reps = if (args.length >= 3) args(2).toInt else 3
      val q = SparkEntry.queries(args(1))
      // optional 4th arg "warm10x": run the query once at the 10× corpus
      // first (the full probe's execution order) — separates per-JVM
      // warmup shared across scales (codegen/JIT of the same plan
      // shapes) from genuinely scale-specific first-run cost.
      if (args.length >= 4 && args(3) == "warm10x") {
        ensureCorpus(spark, G10xDir, 10)
        Tables.withFanoutParts(256) {
          q(spark, G10xDir).write.format("noop").mode("overwrite").save()
        }
        dropPinned()
        System.err.println(s"[scale-probe] ${args(1)} warmed at 10x")
      }
      val ts = (1 to reps).map { i =>
        val t = Tables.withFanoutParts(256) {
          time(q(spark, G100xDir)
            .write.format("noop").mode("overwrite").save())
        }
        dropPinned()
        System.err.println(f"[scale-probe] ${args(1)} @100x rep $i: $t%.2f s")
        t
      }
      println(s"""{"metric":"decade_reps","query":"${args(1)}",""" +
        s""""reps":[${ts.map(t => f"$t%.2f").mkString(",")}],""" +
        f""""min":${ts.min}%.2f,"max":${ts.max}%.2f}""")
      spark.stop()
      return
    }
    if (args.length >= 2 && args(0) == "matched") {
      ensureCorpus(spark, G10xDir, 10)
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
      spark.conf.set("spark.sql.files.openCostInBytes", "131072")
      spark.conf.set("spark.graft.stageLevel", "DISK_ONLY")
      val q = SparkEntry.queries(args(1))
      val ts = (1 to 2).map { _ =>
        val t = Tables.withFanoutParts(256) {
          time(q(spark, G10xDir)
            .write.format("noop").mode("overwrite").save())
        }
        dropPinned()
        t
      }
      println(f"""{"metric":"matched_medium","query":"${args(1)}","t10x_decade_cfg":${ts.min}%.2f}""")
      spark.stop()
      return
    }
    ensureCorpus(spark, G1xDir, 1)
    ensureCorpus(spark, G10xDir, 10)
    val qs = SparkEntry.queries
    // cardinality context so ratios are attributable
    def card(d: String): (Long, Long, Long) = (
      Tables.documents(spark, d).count(),
      Tables.embeddings(spark, d).count(),
      Tables.lineitem(spark, d).count())
    val (d1, e1, l1) = card(G1xDir)
    val (d10, e10, l10) = card(G10xDir)
    val rows = ProbeQueries.distinct.flatMap { n =>
      def run(d: String): Double = {
        val ts = (1 to 2).map { _ =>
          val t = time(qs(n)(spark, d)
            .write.format("noop").mode("overwrite").save())
          dropPinned()
          t
        }
        ts.min
      }
      // a probe query that refuses (e.g. a wedge-budget guard at the
      // generated corpus) records its error and the sweep continues —
      // one pathological query must not discard the other ~35 readings
      try {
        System.err.println(s"[scale-probe] $n @1x ...")
        val a = run(G1xDir) // first 1x run doubles as codegen warmup
        System.err.println(s"[scale-probe] $n @10x ...")
        val b = run(G10xDir)
        System.err.println(f"[scale-probe] $n: $a%.2f s → $b%.2f s")
        Some((n, a, b, b / a))
      } catch {
        case e: Throwable =>
          dropPinned()
          System.err.println(s"[scale-probe] $n FAILED: ${e.getMessage}")
          None
      }
    }
    val qjson = rows.map { case (n, a, b, r) =>
      f""""$n":{"t1x":$a%.2f,"t10x":$b%.2f,"ratio":$r%.2f}"""
    }.mkString(",")
    // second decade for the heaviest families (reuses each query's 10×
    // reading from the loop above as the denominator). `skip100x` keeps
    // a low-core-count probe run to the 1x/10x evidence the verdict
    // asked for without re-paying the ~15-min decade leg.
    if (args.contains("skip100x")) {
      println(s"""{"metric":"scale_probe","cpus":$cpus,""" +
        s""""docs":[$d1,$d10],"embeddings":[$e1,$e10],""" +
        s""""lineitem":[$l1,$l10],"queries":{$qjson}}""")
      spark.stop()
      return
    }
    dropPinned()
    ensureCorpus(spark, G100xDir, 100)
    // Shuffle partitions must scale with input — the engine's 32 is the
    // sf0.1/1×/10× grain; at the 100× corpus 32 partitions put ~2M
    // exploded gram rows in each task's aggregation map and 32
    // concurrent maps exceed the executor pool (observed as
    // AGGREGATE_OUT_OF_MEMORY in the Gopher leg). 256 restores the
    // per-task working set the operators were designed for — exactly
    // what a production cluster does by running more tasks; AQE
    // coalesces the small ones back.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    // Scan-side twin of the same sizing rule: the decade corpus is 90 MB
    // ON DISK across 400 small files, so the default 128 MB
    // maxPartitionBytes bin-packs the whole scan into ~14 tasks of ~36k
    // docs whose 9-way gram melt builds ~6M-entry partial-agg maps —
    // 32 concurrent tasks of those exhaust the pool before the spill
    // sorter can even allocate (the brief's "size maxPartitionBytes so
    // partitions fit" rule, hit in practice). 1 MB (with openCost cut to
    // 128 KB so small files still pack) targets ~140 scan tasks of
    // ~3.5k docs each.
    val prevMaxPart = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpenCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    spark.conf.set("spark.sql.files.openCostInBytes", "131072")
    // Stage frames go to DISK at the decade grain: t52's gram-instance
    // stage alone is ~250M rows at 500k docs, and memory-and-disk
    // staging occupies the unified pool's evict-protected storage share
    // — the 32 concurrent partial-agg maps then can't get execution
    // memory (observed: AGGREGATE_OUT_OF_MEMORY in the t52 gc agg even
    // at 256 shuffle partitions). DISK_ONLY hands execution the whole
    // pool; see [[Tables.stage]].
    spark.conf.set("spark.graft.stageLevel", "DISK_ONLY")
    val (d100, e100, l100) = card(G100xDir)
    val t10 = rows.map { case (n, _, b, _) => n -> b }.toMap
    val rows100 = DecadeQueries.map { n =>
      // fanout() repartitions to defaultParallelism (32) at every
      // query head, so scan-side sizing alone cannot shrink the
      // per-task working set of anything downstream of it — at 500k
      // docs a 32-way gram melt is ~16k docs (~2.5M partial-agg
      // entries) per task and 32 concurrent maps exhaust the pool.
      // The partition-override hook the invariance spec uses
      // (withFanoutParts) IS the production knob: 256-way fanout puts
      // ~2k docs in each task. Results are partition-invariant
      // (OperatorPropertiesSpec pins exactly that).
      def run(d: String): Double = {
        val ts = (1 to 2).map { _ =>
          val t = Tables.withFanoutParts(256) {
            time(qs(n)(spark, d)
              .write.format("noop").mode("overwrite").save())
          }
          dropPinned()
          t
        }
        ts.min
      }
      System.err.println(s"[scale-probe] $n @100x ...")
      val c = run(G100xDir)
      val b = t10.getOrElse(n, Double.NaN)
      System.err.println(f"[scale-probe] $n: $b%.2f s → $c%.2f s")
      (n, b, c, c / b)
    }
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.conf.set("spark.sql.files.maxPartitionBytes", prevMaxPart)
    spark.conf.set("spark.sql.files.openCostInBytes", prevOpenCost)
    spark.conf.unset("spark.graft.stageLevel")
    val qjson100 = rows100.map { case (n, b, c, r) =>
      f""""$n":{"t10x":$b%.2f,"t100x":$c%.2f,"ratio":$r%.2f}"""
    }.mkString(",")
    println(s"""{"metric":"scale_probe","cpus":$cpus,""" +
      s""""docs":[$d1,$d10,$d100],""" +
      s""""embeddings":[$e1,$e10,$e100],"lineitem":[$l1,$l10,$l100],""" +
      s""""queries":{$qjson},"queries100x":{$qjson100}}""")
    spark.stop()
  }
}
