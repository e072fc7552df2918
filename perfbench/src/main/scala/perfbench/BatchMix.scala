package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `batch_mix`: a fixed set of `graft.SparkEntry.queries` over a generated
  * corpus. One cold pass (fresh index root, first compiles) runs during
  * set-up; warm passes in a seed-shuffled order run for the timed window.
  * Every result is checked against the digest recorded with the benchmark.
  */
object BatchMix {

  /** An iterative driver loop and a second consumer of the persisted
    * DedupIndex, an LmIndex consumer, two per-row kernels (MinHash-LSH and
    * winnowing) and four single-pass plans. The set is sized so a cold and
    * a warm pass fit the run's time budget. */
  val Queries: Seq[String] = Seq(
    "d29_label_propagation", "d21_dedup_savings", "t51_ppl_buckets",
    "d2_minhash_lsh", "d43_winnowing",
    "q1_pricing_summary", "q12_range_join", "q13_asof_join", "s8_decode_chain")

  /** Corpus scale and seed: fixed, so the recorded digests hold for every
    * run; the run seed only sets the query order. */
  val Sf = 0.005
  val DataSeed = 42L
  val DataDir = "data"
  val DigestFile = "batch_mix_digests.json"

  val IndexNames: Seq[String] = Seq("dedup", "curation", "ivf", "classifier", "bm25", "lm")

  /** The six persisted indexes, each with its `ensure`. */
  def indexes(d: String): Seq[(String, org.apache.spark.sql.SparkSession => Any)] = Seq(
    "dedup" -> (s => graft.ops.DedupIndex.ensure(s, d)),
    "curation" -> (s => graft.ops.CurationIndex.ensure(s, d)),
    "ivf" -> (s => graft.ops.IvfIndex.ensure(s, d)),
    "classifier" -> (s => graft.ops.ClassifierIndex.ensure(s, d, graft.ops.ClassifierIndex.Binary)),
    "bm25" -> (s => graft.ops.Bm25Index.ensure(s, d)),
    "lm" -> (s => graft.ops.LmIndex.ensure(s, d)))

  /** Directories under the cwd-relative index root `target/`. */
  def indexDirs(): Set[String] = {
    val root = Paths.get("target")
    if (!Files.isDirectory(root)) Set.empty
    else Files.list(root).iterator.asScala.filter(Files.isDirectory(_))
      .flatMap(k => Files.list(k).iterator.asScala.map(p => s"${k.getFileName}/${p.getFileName}"))
      .toSet
  }

  /** Recorded digests, bundled with the benchmark's classes. */
  lazy val expected: Map[String, String] = {
    val in = getClass.getResourceAsStream("/" + DigestFile)
    if (in == null) Map.empty else {
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    }
  }

  final case class Timing(name: String, buildS: Double, execS: Double, buildJobs: Long, digest: String)

  /** Build the query's DataFrame, then collect it; a failure is a timing
    * with a null digest. */
  def runQuery(ctx: Ctx, name: String): Timing = {
    val fn = SparkEntry.queries(name)
    val jobs0 = ctx.exec.map(_.jobs.get).getOrElse(0L)
    try {
      val t0 = System.nanoTime()
      val df = ctx.spans.span("build")(fn(ctx.spark, DataDir))
      val t1 = System.nanoTime()
      val jobs1 = ctx.exec.map(_.jobs.get).getOrElse(0L)
      val rows = ctx.spans.span("exec")(df.collect())
      val t2 = System.nanoTime()
      Timing(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, jobs1 - jobs0,
        Stats.digest(rows.map(Stats.rowText)))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        Timing(name, 0, 0, 0, null)
    }
  }

  def pass(ctx: Ctx, order: Seq[String], label: String): Seq[Timing] =
    ctx.spans.span(label)(order.map(n => ctx.spans.span(s"query.$n")(runQuery(ctx, n))))

  def ok(t: Timing): Boolean = t.digest != null && expected.get(t.name).contains(t.digest)

  val run: Ctx => Outcome = { ctx =>
    val spark = ctx.spark
    val g0 = System.nanoTime()
    ctx.spans.span("gen.tables")(Gen.writeTables(spark, DataDir, Sf, DataSeed))
    val genS = (System.nanoTime() - g0) / 1e9
    val order = new scala.util.Random(ctx.seed).shuffle(Queries)
    // Traced runs first time each index's build on the still-empty root,
    // then a second ensure that serves it.
    val indexProbe = if (!ctx.trace) Nil else indexes(DataDir).flatMap { case (name, ensure) =>
      def timed(label: String): (Double, Long) = {
        val j0 = ctx.exec.get.jobs.get; val t0 = System.nanoTime()
        ctx.spans.span(s"index.$name.$label")(ensure(spark))
        ((System.nanoTime() - t0) / 1e9, ctx.exec.get.jobs.get - j0)
      }
      val (b, bj) = timed("ensure-cold"); val (s, _) = timed("ensure-warm")
      Seq((s"index.$name.build_s", b, "s"), (s"index.$name.build_jobs", bj.toDouble, "count"),
        (s"index.$name.serve_s", s, "s"))
    }
    val cold = pass(ctx, order, "pass.cold")
    val built = indexDirs()
    val setupS = ctx.sinceStart(System.nanoTime())
    val warm = scala.collection.mutable.ArrayBuffer[(Double, Seq[Timing])]()
    val t0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val p0 = System.nanoTime()
      val ts = pass(ctx, order, s"pass.warm${warm.size}")
      warm += (((System.nanoTime() - p0) / 1e9, ts))
    }
    val served = indexDirs()
    val (gateBad, gateLayer) = if (ctx.trace) CurationGates.probe(ctx, DataDir) else (0L, Nil)
    val all = cold ++ warm.flatMap(_._2)
    val failed = all.count(!ok(_)).toLong + gateBad
    all.filterNot(ok).map(_.name).distinct.foreach(n =>
      System.err.println(s"[perfbench] $n: digest ${all.find(_.name == n).get.digest} != recorded ${expected.get(n)}"))
    // Whole passes, not single queries, are the unit of latency: a pass
    // sums nine queries, so one query's jitter moves it little.
    val passS = warm.map(_._1).toSeq
    val layer = if (!ctx.trace) Nil else {
      val last = warm.last._2
      last.flatMap(t => Seq((s"q.${t.name}.build_s", t.buildS, "s"),
        (s"q.${t.name}.build_jobs", t.buildJobs.toDouble, "count"),
        (s"q.${t.name}.exec_s", t.execS, "s"))) ++
        Seq(("q.pass_s", warm.last._1, "s"),
          ("q.remainder_s", warm.last._1 - last.map(t => t.buildS + t.execS).sum, "s"),
          ("gen.tables_s", genS, "s")) ++
        indexProbe ++ gateLayer
    }
    Outcome(all.size, failed,
      Seq(("setup_s", setupS, "s"),
        ("throughput", Queries.size * passS.size / passS.sum, "1/s"),
        ("latency_ms_p50", Stats.percentile(passS, 50) * 1000, "ms"),
        ("latency_ms_p90", Stats.percentile(passS, 90) * 1000, "ms")) ++ layer,
      Seq("warm_pass_s" -> passS.map(Main.num).mkString("[", ",", "]"),
        "batch_warm_s" -> Main.num(Stats.median(passS)),
        "cold_pass_s" -> Main.num(cold.map(t => t.buildS + t.execS).sum),
        "indexes_built" -> built.toSeq.sorted.map(Main.q).mkString("[", ",", "]"),
        "indexes_served_only" -> (served == built).toString,
        "query_order" -> order.map(Main.q).mkString("[", ",", "]")))
  }
}
