package graft.ops

import graft.SparkSpecBase
import graft.ReferenceForms._
import graft.ops.DedupOps._
import graft.ops.TextOps._
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup (1 token)
    (3L, "completely different words about spark catalyst optimizer and shuffles here"),
    (4L, "tiny doc")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
    val byKeeper = out.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byKeeper(0L) == 2)   // docs 0 and 1 collapse
    assert(byKeeper(2L) == 1)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val sh = explodedShingles(docs)
    val sig = minhashSignature(sh, 16)
    val pairs = candidatePairs(lshBands(sig, 4, 4))
    val verified = jaccardVerify(pairs, sh).filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((0L, 1L)), "exact dup must collide in every band")
    assert(verified.contains((0L, 2L)) == verified.contains((1L, 2L)))
    assert(!verified.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("identical docs have jaccard exactly 1.0") {
    val sh = explodedShingles(docs)
    val j = jaccardVerify(Seq((0L, 1L)).toDF("doc_a", "doc_b"), sh)
      .select("jaccard").as[Double].collect()
    assert(j.sameElements(Array(1.0)))
  }

  test("simhash: identical docs equal, near dups close, unrelated far") {
    val withSh = docs.withColumn("hs", tokenHashes(tokens(col("text"))))
      .select(col("doc_id"), simhash32(col("hs")).as("sh"))
    val m = withSh.as[(Long, Long)].collect().toMap
    assert(m(0L) == m(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(0L), m(2L)) < hamming(m(0L), m(3L)),
      "near dup must be closer in hamming space than unrelated doc")
    // sketch must stay within 32 bits
    assert(withSh.as[(Long, Long)].collect().forall(x => x._2 >= 0 && x._2 < (1L << 32)))
  }

  test("exact jaccard pairs at tau=0.5 = {(0,1),(0,2),(1,2)}") {
    val got = exactJaccardPairs(explodedShingles(docs), 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("TokenHashKernel equals hash60 HOF on corpus docs") {
    val diff = graft.Tables.documents(spark, sfDir)
      .select(tokenHashes(tokens(col("text"))).as("fast"),
        tokenHashesHof(tokens(col("text"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0, "compiled token hashing must match conv(substr(md5))")
  }

  test("SimHashKernel equals the HOF formulation on corpus docs") {
    val withHs = graft.Tables.documents(spark, sfDir)
      .withColumn("hs", tokenHashes(tokens(col("text"))))
    val diff = withHs.select(simhash32(col("hs")).as("fast"),
        simhash32Hof(col("hs")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0, "compiled simhash kernel must match HOF sketch")
  }

  test("MinHashKernel signature equals the HOF formulation on corpus docs") {
    val arr = shingleArrays(
      graft.Tables.documents(spark, sfDir).select("doc_id", "text"))
    val fast = minhashSignatureNarrow(arr, 16).orderBy("doc_id").collect()
    val ref = minhashSignatureHof(arr, 16).orderBy("doc_id").collect()
    assert(fast.sameElements(ref), "compiled kernel must match HOF minima")
  }

  test("connected components: chain of pairs collapses to min-id keeper") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val ds = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val canon = connectedComponents(pairs, ds)
      .as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, 9L -> 7L))
  }

  test("star components: chain, star, and isolated nodes collapse to min") {
    // a 4-chain (worst case for star rounds: maximal depth per edge) plus
    // an already-star pair plus an isolated node
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("doc_id")
    val canon = starComponents(pairs, ds).as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 7L -> 7L, 9L -> 7L))
  }

  test("star components ≡ label-propagation components on random graphs") {
    // the two CC algorithms share no code past the pair input; set
    // equality on seeded random multigraphs (duplicate edges, both
    // orientations, self-loops) checks orientation canonicalization and
    // fixpoint detection against the propagation implementation
    import scala.util.Random
    val rnd = new Random(20260814L)
    (1 to 3).foreach { trial =>
      val n = 30
      val pairs = (0 until 60).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val nodes = (0L until n.toLong).toDF("doc_id")
      val prop = connectedComponents(
        pairs.filter(p => p._1 != p._2).toDF("doc_a", "doc_b"), nodes)
        .as[(Long, Long)].collect().toMap
      val star = starComponents(pairs.toDF("doc_a", "doc_b"), nodes)
        .as[(Long, Long)].collect().toMap
      assert(star == prop, s"trial $trial: star != propagation")
    }
  }

  test("star components converge within budget on a 300-node path") {
    // adversarial depth: a path graph maximizes rounds-to-fixpoint for
    // edge-rewrite CC; 300 nodes must land well inside maxIters=30 (the
    // O(log² n) bound) AND on the right min — guards the iteration
    // budget against regressions in the star-round formulation
    val n = 300
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val nodes = (0L until n.toLong).toDF("doc_id")
    val canon = starComponents(pairs, nodes).as[(Long, Long)].collect()
    assert(canon.length == n && canon.forall(_._2 == 0L),
      "every path node must collapse to the min id")
  }

  test("star components: overlapping cliques (duplicate-heavy star rounds)") {
    // r15: the mid-round ls.distinct() was removed (sMin's min() is
    // duplicate-agnostic; the round's closing distinct() restores set
    // semantics before the count gate) — so large-star now emits one
    // (min, n) row per (center, larger-neighbor) pair. Cliques maximize
    // that duplicate multiplicity (every member shares one min), and the
    // shared node 16 forces a multi-round merge where round 2 consumes a
    // round-1 output built from duplicates.
    val cliques = Seq(10L to 16L, 16L to 22L, 30L to 34L)
    val pairs = cliques.flatMap(c => for (a <- c; b <- c if a < b) yield (a, b))
      .toDF("doc_a", "doc_b")
    val nodes = cliques.flatten.distinct.toDF("doc_id")
    val canon = starComponents(pairs, nodes).as[(Long, Long)].collect().toMap
    val expect = (10L to 22L).map(_ -> 10L).toMap ++
      (30L to 34L).map(_ -> 30L).toMap
    assert(canon == expect)
  }

  test("sweep components ≡ per-τ star components on weighted random graphs") {
    // the d36 contraction identity: labels at τ composed from τ-1's
    // labels along only the newly activated edges must equal a
    // from-scratch star-CC run over the full ≤τ edge set — every τ,
    // seeded random weighted multigraphs (self-loops, duplicates, both
    // orientations; weight 0 present AND absent in the first step)
    import scala.util.Random
    val rnd = new Random(20260816L)
    (1 to 3).foreach { trial =>
      val n = 30
      val minW = if (trial == 2) 2 else 0 // trial 2: empty first steps
      val edges = (0 until 70).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          (minW + rnd.nextInt(4 - minW)).toLong))
        .toDF("doc_a", "doc_b", "hamming")
      val nodes = (0L until n.toLong).toDF("doc_id")
      // trial 3 also exercises a NON-CONTIGUOUS tau list (the step
      // filter accumulates the full (prev, tau] weight window, so gaps
      // must not drop edges)
      val taus = if (trial == 3) Seq(1, 3) else (0 to 3).toSeq
      sweepComponents(edges, nodes, col("hamming"), taus).foreach { case (tau, labels) =>
        val direct = starComponents(
          edges.filter(col("hamming") <= tau)
            .select(col("doc_a"), col("doc_b")), nodes)
          .as[(Long, Long)].collect().toMap
        assert(labels.as[(Long, Long)].collect().toMap == direct,
          s"trial $trial τ=$tau: sweep != from-scratch star-CC")
      }
    }
  }

  test("sweep components: out-of-docs edge endpoints still carry connectivity") {
    // from-scratch star-CC builds its forest from the RAW edge set (docs
    // only scopes the emitted labels), so an edge endpoint absent from
    // docs still merges the components it touches. The sweep's
    // contraction step must match: nodes 100/101 are pure connectors —
    // absent from docs — and their edges land in DIFFERENT sweep steps,
    // so only a later contraction step (not the step-one from-scratch
    // run) sees them. An inner-join contraction would drop them.
    val nodes = (0L to 5L).toDF("doc_id")
    val edges = Seq(
      (0L, 100L, 0L), // τ=0 step: 0–connector
      (100L, 1L, 1L), // τ=1 step: connector 100 merges 0 and 1
      (2L, 101L, 1L),
      (101L, 3L, 2L), // τ=2 step: connector 101 merges 2 and 3
      (4L, 5L, 0L)
    ).toDF("doc_a", "doc_b", "hamming")
    sweepComponents(edges, nodes, col("hamming"), Seq(0, 1, 2))
      .foreach { case (tau, labels) =>
        val got = labels.as[(Long, Long)].collect().toMap
        val direct = starComponents(
          edges.filter(col("hamming") <= tau)
            .select(col("doc_a"), col("doc_b")), nodes)
          .as[(Long, Long)].collect().toMap
        assert(got == direct,
          s"τ=$tau: sweep != from-scratch with out-of-docs endpoints")
        assert(got.keySet == (0L to 5L).toSet,
          s"τ=$tau: emitted labels must cover exactly docs")
      }
  }

  test("incremental CC: star forest of old edges ∪ delta ≡ full recompute") {
    // the d35 identity on seeded random graphs: collapsing any subset of
    // the edges to its star forest before adding the rest must not
    // change the final component map
    import scala.util.Random
    val rnd = new Random(20260815L)
    (1 to 3).foreach { trial =>
      val n = 25
      val all = (0 until 50).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val nodes = (0L until n.toLong).toDF("doc_id")
      val (old, delta) = all.splitAt(all.length * 4 / 5)
      val full = starComponents(all.toDF("doc_a", "doc_b"), nodes)
        .as[(Long, Long)].collect().toMap
      val base = starComponents(old.toDF("doc_a", "doc_b"), nodes)
        .as[(Long, Long)].collect()
      val starEdges = base.filter(p => p._1 != p._2)
      val inc = starComponents(
        (starEdges.toSeq ++ delta).toDF("doc_a", "doc_b"), nodes)
        .as[(Long, Long)].collect().toMap
      assert(inc == full, s"trial $trial: incremental != full recompute")
    }
  }

  test("weighted jaccard: repetition breaks the set-score blindness") {
    // doc 10 = one copy of "a b c", doc 11 = the same three tokens with "a"
    // repeated 4×. SET Jaccard of their token sets is 1.0 (identical
    // support); the weighted score sees the multiset difference:
    // Σmin = 1+1+1 = 3, Σmax = |10| + |11| − Σmin = 3 + 6 − 3 = 6 → 5000 bp.
    // docs 12/13 are identical multisets → exactly 10000 bp.
    val wdocs = Seq(
      (10L, "a b c"),
      (11L, "a a a a b c"),
      (12L, "x y x"),
      (13L, "y x x")
    ).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L), (12L, 13L)).toDF("doc_a", "doc_b")
    val out = weightedJaccardVerify(pairs, wdocs)
      .select("doc_a", "doc_b", "wmin", "wunion", "wjacc_bp")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out((10L, 11L)) == ((3L, 6L, 5000L)),
      s"repetition must halve the score: $out")
    assert(out((12L, 13L)) == ((3L, 3L, 10000L)),
      "identical multisets score exactly 1.0")
  }

  test("label propagation: bridged triangles split; components would merge") {
    // Two triangles joined by one bridge edge (2,3): reachability (d6/d7)
    // collapses all six nodes into one component, but 3 rounds of
    // min-tie-break majority LPA keep two communities — the bridge is
    // outvoted by each triangle's internal majority. Isolated 6 keeps
    // its own label. (Hand-rolled rounds: [1,0,0,2,3,3] → [0,0,0,3,2,2]
    // → [0,0,0,2,2,2].)
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L)).toDF("doc_a", "doc_b")
    val ds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val out = labelPropagation(pairs, ds, 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 2L, 4L -> 2L, 5L -> 2L, 6L -> 6L),
      s"expected two communities plus the isolated node: $out")
    val comp = connectedComponents(pairs, ds).as[(Long, Long)].collect().toMap
    assert(comp.filterNot(_._1 == 6L).values.toSet == Set(0L),
      "sanity: reachability merges the bridged triangles that LPA splits")
  }

  test("central keeper: max-degree member represents each component") {
    // component {1,2,3,4}: 2 has degree 3 (hub), others 1; component {7,9}
    // tie at degree 1 → min id 7; isolated 5 keeps itself
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("doc_id")
    val out = centralCanonical(pairs, ds)
      .as[(Long, Long, Long)].collect()
      .map { case (id, deg, keeper) => id -> (deg, keeper) }.toMap
    assert(out(2L) == ((3L, 2L)) && out(1L) == ((1L, 2L)) &&
      out(3L) == ((1L, 2L)) && out(4L) == ((1L, 2L)),
      s"hub 2 must keep its component: $out")
    assert(out(7L) == ((1L, 7L)) && out(9L) == ((1L, 7L)),
      "degree tie resolves to min id")
    assert(out(5L) == ((0L, 5L)), "isolated node keeps itself")
  }

  test("repeated spans: planted passages produce exactly the planted geometry") {
    // filler tokens are globally unique → zero accidental window
    // collisions; every reported span must be a planted one
    def f(r: Range) = r.map(i => s"f$i")
    val passage = (0 until 40).map(i => s"p$i") // shared 40-token passage
    val phrase = (0 until 20).map(i => s"q$i")  // doubled 20-token phrase
    val corpus = Seq(
      (0L, (f(0 until 30) ++ passage ++ f(100 until 120)).mkString(" ")),
      (1L, (f(200 until 230) ++ passage ++ f(300 until 310)).mkString(" ")),
      (2L, (f(400 until 420) ++ phrase ++ f(500 until 520) ++ phrase ++
        f(600 until 605)).mkString(" ")),
      (3L, f(700 until 760).mkString(" ")) // clean doc: must not appear
    ).toDF("doc_id", "text")
    val out = repeatedSpans(corpus, 16)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, dw, ns, ls) => id -> ((dw, ns, ls)) }.toMap
    // 40-token passage: 40−16+1 = 25 consecutive dup starts, one span of
    // exactly 40 tokens (boundary-straddling windows mix in unique filler
    // and must NOT count)
    assert(out(0L) == ((25L, 1L, 40L)), s"doc 0: ${out.get(0L)}")
    assert(out(1L) == ((25L, 1L, 40L)), s"doc 1: ${out.get(1L)}")
    // doubled 20-token phrase: two runs of 20−16+1 = 5 starts each
    assert(out(2L) == ((10L, 2L, 20L)), s"doc 2: ${out.get(2L)}")
    assert(!out.contains(3L), "clean doc must produce no span row")
  }

  test("char spans: planted passages produce the geometry at char granularity") {
    // globally-unique filler blocks → zero accidental 50-char collisions;
    // a window collides iff it lies entirely inside a planted passage
    // one-char sentinels (A..H, unique corpus-wide) wrap every planted
    // occurrence: a window straddling a passage boundary contains its
    // sentinel and so can never collide — without them, filler blocks
    // sharing a few boundary digits ("x0001…" vs "x0003…") extend the
    // match past the planted span
    def fill(r: Range) = r.map(i => f"x$i%06d").mkString
    val passage = (0 until 10).map(i => f"P$i%07d").mkString // 80 chars
    val phrase = (0 until 10).map(i => f"Q$i%05d").mkString  // 60 chars
    val corpus = Seq(
      (0L, fill(0 until 10) + "A" + passage + "B" + fill(100 until 110)),
      (1L, fill(200 until 210) + "C" + passage + "D" + fill(300 until 305)),
      (2L, fill(400 until 410) + "E" + phrase + "F" + fill(500 until 510) +
        "G" + phrase + "H" + fill(600 until 603)),
      (3L, fill(700 until 720)) // clean doc: must not appear
    ).toDF("doc_id", "text")
    val out = repeatedCharSpans(corpus, 50)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, dw, ns, ls) => id -> ((dw, ns, ls)) }.toMap
    // 80-char passage: 80−50+1 = 31 consecutive dup starts, one span of
    // exactly 80 chars (boundary-straddling windows mix unique filler)
    assert(out(0L) == ((31L, 1L, 80L)), s"doc 0: ${out.get(0L)}")
    assert(out(1L) == ((31L, 1L, 80L)), s"doc 1: ${out.get(1L)}")
    // doubled 60-char phrase: two runs of 60−50+1 = 11 starts each
    assert(out(2L) == ((22L, 2L, 60L)), s"doc 2: ${out.get(2L)}")
    assert(!out.contains(3L), "clean doc must produce no span row")
  }

  test("char spans see whitespace-normalized overlap that token spans miss") {
    // same 30-token passage, but doc 1 doubles every inter-token space:
    // the token windows still match (the splitter collapses whitespace);
    // the 50-char windows must NOT (the raw bytes differ) — and vice
    // versa, an exact byte-identical passage is caught by both.
    val toks = (0 until 30).map(i => f"w$i%04d")
    val single = toks.mkString(" ")
    val double = toks.mkString("  ")
    val corpus = Seq(
      (0L, s"${fillTok(0)} $single ${fillTok(1)}"),
      (1L, s"${fillTok(2)} $double ${fillTok(3)}")
    ).toDF("doc_id", "text")
    val tokenHits = repeatedSpans(corpus, 16).count()
    val charHits = repeatedCharSpans(corpus, 50).count()
    assert(tokenHits == 2L,
      s"token spans normalize whitespace, must match: $tokenHits")
    assert(charHits == 0L,
      s"char spans see the raw text, must not match: $charHits")
  }

  private def fillTok(block: Int): String =
    (0 until 12).map(i => f"u$block%02d$i%04d").mkString(" ")

  test("kcore peel: triangle survives k=2, chain peels away; k monotone") {
    // triangle {1,2,3} + pendant chain 3-4-5: at k=2 the chain peels off
    // over successive rounds (4's degree drops to 1 only after 5 goes),
    // the triangle is its own 2-core; at k=3 nothing survives.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val core2 = kcoreResidual(pairs, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"triangle is the 2-core, every member at residual degree 2: $core2")
    val core3 = kcoreResidual(pairs, k = 3, rounds = 3)
    assert(core3.isEmpty, "no 3-core exists in a triangle+chain")
    // k=1 with any rounds is the identity on a graph with no repeats
    val core1 = kcoreResidual(pairs, k = 1, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(core1.keySet == Set(1L, 2L, 3L, 4L, 5L),
      "k=1 peels nothing on a connected graph")
  }

  test("pagerank: hubs outrank leaves, isolated nodes sit at 1-d") {
    // star 1..5 centered on 2, plus the 7-9 pair and isolated 5... keys:
    // star {1,2,3,4} hub 2; pair {7,9}; isolated {5}
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("doc_id")
    val pr = pageRank(pairs, ds, iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(pr(2L) > pr(1L) && pr(2L) > pr(3L) && pr(2L) > pr(4L),
      s"hub must outrank leaves: $pr")
    assert(math.abs(pr(5L) - 0.15) < 1e-12, "isolated node = 1-d teleport")
    assert(math.abs(pr(7L) - pr(9L)) < 1e-9, "symmetric pair ranks equal")
    assert(math.abs(pr(7L) - 1.0) < 1e-6,
      "a symmetric 2-cycle is a fixpoint at rank 1")
    // leaves of the star are symmetric
    assert(math.abs(pr(1L) - pr(3L)) < 1e-9 &&
      math.abs(pr(1L) - pr(4L)) < 1e-9)
  }

  test("pagerank fixed-point form tracks the double form within ppb floor loss") {
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("doc_id")
    val dbl = pageRank(pairs, ds, iters = 3).as[(Long, Double)].collect().toMap
    val fix = pageRankExact(pairs, ds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(fix.keySet == dbl.keySet)
    // each iteration floors once per division and once in the damping —
    // after 3 iterations the drift stays well under 100 ppb
    fix.foreach { case (id, ppb) =>
      assert(math.abs(ppb / 1e9 - dbl(id)) < 1e-7,
        s"node $id: $ppb ppb vs ${dbl(id)}")
    }
    assert(fix(5L) == 150000000L, "isolated node sits at exactly (1-d)·1e9")
    assert(fix(7L) == fix(9L), "symmetric pair ranks are bit-identical")
  }

  test("personalized pagerank confines mass to the seed-reachable component") {
    // star {1,2,3,4} hub 2; pair {7,9}; isolated {5}. Seed = node 1.
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("doc_id")
    val ppr = personalizedPageRankExact(pairs, ds, iters = 3,
        seed = col("doc_id") === 1L)
      .as[(Long, Long)].collect().toMap
    assert(ppr(7L) == 0L && ppr(9L) == 0L && ppr(5L) == 0L,
      s"no seed-side path ⇒ exactly zero mass: $ppr")
    assert(ppr(1L) > 0L && ppr(2L) > 0L, s"seed and its hub carry mass: $ppr")
    assert(ppr(2L) > ppr(3L) && ppr(3L) == ppr(4L),
      s"mass decays with distance from the seed, symmetrically: $ppr")
  }

  test("pagerank on the corpus near-dup graph: mass bounds and L1 contraction") {
    // NEXT.md open item: the double-form pageRank on the REAL near-dup
    // graph (sf0.001). Two math invariants that hold for any graph:
    //   mass: N(1-d) ≤ Σ rank ≤ N (dangling/isolated nodes leak, never add)
    //   contraction: ‖r_{k+1}−r_k‖₁ ≤ d·‖r_k−r_{k−1}‖₁ (power iteration
    //   through a substochastic transfer matrix contracts in L1 by ≥ d)
    val ds = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
    val df = graft.Tables.documents(spark, sfDir)
      .withColumn("hs", tokenHashes(tokens(col("text"))))
    val edges = simhashPairs(simhashBands(df, simhash32(col("hs"))), 3)
      .select(col("doc_a"), col("doc_b"))
    val n = ds.count().toDouble
    val d = 0.85
    val byIter = (1 to 3).map(k =>
      pageRank(edges, ds, iters = k).as[(Long, Double)].collect().toMap)
    byIter.foreach { r =>
      val mass = r.values.sum
      assert(mass <= n + 1e-6 && mass >= n * (1 - d) - 1e-6,
        s"rank mass $mass outside [${n * (1 - d)}, $n]")
    }
    val r0 = byIter.head.keys.map(_ -> 1.0).toMap
    def l1(a: Map[Long, Double], b: Map[Long, Double]): Double =
      a.keys.map(k => math.abs(a(k) - b(k))).sum
    val deltas = Seq(l1(byIter(0), r0), l1(byIter(1), byIter(0)),
      l1(byIter(2), byIter(1)))
    assert(deltas(1) <= d * deltas(0) + 1e-9 &&
      deltas(2) <= d * deltas(1) + 1e-9,
      s"L1 deltas must contract by ≥ d per iteration: $deltas")
  }

  test("ppjoin prefix-filtered pairs equal the exhaustive exact-Jaccard join") {
    import graft.Tables
    val docs = Tables.documents(spark, sfDir)
    val viaPrefix = ppJoinPairs(docs, 0.5)
      .select("doc_a", "doc_b", "inter", "union_sz")
      .as[(Long, Long, Long, Long)].collect().toSet
    val exhaustive = exactJaccardPairs(explodedShingles(docs), 0.5)
      .select("doc_a", "doc_b", "inter", "union_sz")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaPrefix == exhaustive,
      s"prefix filter must be complete and sound: " +
        s"missed ${exhaustive -- viaPrefix}, extra ${viaPrefix -- exhaustive}")
    assert(exhaustive.nonEmpty, "corpus must exercise the join")
  }

  test("passjoin edit-distance pairs equal brute force (complete AND sound)") {
    // crafted clusters: substitutions, an insertion, a deletion, a far
    // pair, and a length-mismatch pair — all around the k=2 boundary
    val texts = Seq(
      1L -> "the quick brown fox jumps over dogs",
      2L -> "the quick brown fox jumps over dogz",   // 1 sub of 1
      3L -> "the quick brewn fox jumps ever dogz",   // 2 subs of 2
      4L -> "the quick brown fox jumped over dogs",  // 1 ins of 1
      5L -> "the quick brown fox jump over dogs",    // 1 del of 1
      6L -> "a completely different sentence here!",
      7L -> "the quick brown fox jumps over dogs and cats")  // len diff > k
    val docs = texts.toDF("doc_id", "text")
    val k = 2
    val got = editDistancePairs(docs, k)
      .as[(Long, Long, Long)].collect().toSet
    val brute = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      d = levDist(ta, tb) if d <= k
    } yield (ia, ib, d.toLong)).toSet
    assert(got == brute, s"passjoin $got vs brute $brute")
    assert(brute.exists(_._3 == 2L), "fixture must exercise the boundary")
    assert(!brute.exists(p => p._1 == 1L && p._2 == 7L),
      "fixture must exercise a beyond-k pair")
  }

  private def levDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  test("doulion estimate tracks the exact triangle count on the corpus") {
    // deterministic hash-decided sample ⇒ the estimate is a FIXED number
    // for a fixed corpus — assert unbiasedness empirically (≤10% rel err
    // at sfDir; measured 2.5-3.0% at sf0.001/sf0.01) and run-to-run
    // equality (no RNG anywhere).
    def one(name: String): Map[String, Long] = {
      val row = graft.queries.DedupQueries.queries(name)(spark, sfDir)
        .collect().head
      row.schema.fieldNames.map(f => f -> row.getAs[Long](f)).toMap
    }
    val exact = one("d8b_triangle_degree")("n_triangles")
    val est = one("d8d_triangle_doulion")
    assert(est("n_sampled_edges") > 0, "sample must be non-empty at sfDir")
    val relErr = math.abs(est("est_triangles") - exact).toDouble / exact
    assert(relErr <= 0.10, s"estimate ${est("est_triangles")} vs exact $exact (rel err $relErr)")
    assert(one("d8d_triangle_doulion") == est, "estimate must be deterministic")
  }

  test("incremental dedup verdicts are consistent with the full-corpus view") {
    import org.apache.spark.sql.functions._
    val dir = sfDir
    val out = graft.queries.DedupQueries
      .queries("d12_incremental_dedup")(spark, dir)
      .as[(Long, String, Option[Long])].collect()
    val all = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .as[(Long, String)].collect()
    val deltaIds = all.collect { case (id, _) if id % 10 == 0 => id }.toSet
    // every delta doc gets exactly one verdict
    assert(out.map(_._1).toSet == deltaIds && out.length == deltaIds.size)
    // exact_dup ⟺ some corpus doc shares the content hash; match_id is one
    val corpusByHash = all.filter(_._1 % 10 != 0).groupBy(_._2)
    val hashOf = all.toMap
    out.foreach { case (id, status, m) =>
      val dup = corpusByHash.get(hashOf(id)).map(_.map(_._1).min)
      if (status == "exact_dup") assert(m == dup, s"doc $id: $m vs $dup")
      else assert(dup.isEmpty, s"doc $id should be exact_dup")
      if (status == "kept") assert(m.isEmpty)
      if (status == "near_dup") assert(m.exists(c => c % 10 != 0))
    }
  }

  test("shingles fall back to whole text for <3-token docs") {
    val sh = explodedShingles(docs.filter(col("doc_id") === 4))
      .select("sh").as[String].collect()
    assert(sh.sameElements(Array("tiny doc")))
  }

  test("wedge budget guard: refuses dense graphs fast, passes sparse ones") {
    import spark.implicits._
    // K_20 complete graph: Σdeg² = 20·19² = 7220 wedges.
    val dense = (for {
      a <- 0L until 20L; b <- 0L until 20L if a != b
    } yield (a, b)).toDF("u", "v")
    val e = intercept[IllegalStateException] {
      requireWedgeBudget(dense, budget = 1000L, op = "spec")
    }
    assert(e.getMessage.contains("d9b_graph_stats_sketch"),
      "refusal must name the scale-safe alternative")
    requireWedgeBudget(dense, budget = 10000L, op = "spec") // under budget: ok
    // path graph on 20 nodes: Σdeg² = 2·1 + 18·4 = 74.
    val path = (0L until 19L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("u", "v")
    requireWedgeBudget(path, budget = 100L, op = "spec")
  }

  test("d9b sketch: HLL ball-2 estimate tracks the exact 2-hop ball at sf0.01") {
    import spark.implicits._
    // sf0.01: the near-dup graph is dense enough (417 nodes, ~21k pairs)
    // that most balls sit in raw-HLL's reliable regime (≥ 2.5·m = 160).
    val dir = "/root/testdata/sf0.01"
    val est = graft.queries.DedupQueries
      .queries("d9b_graph_stats_sketch")(spark, dir)
      .select(col("doc_id"), col("ball2_est")).as[(Long, Long)]
      .collect().toMap
    // Exact |ball₂(u)| including self, from the same edge set.
    val df = graft.Tables.fanout(graft.Tables.documents(spark, dir))
      .withColumn("hs", tokenHashes(tokens(col("text"))))
    val edges = simhashPairs(simhashBands(df, simhash32(col("hs"))), 3)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val adj = edges
      .union(edges.select(col("doc_b"), col("doc_a"))).toDF("u", "v")
    val ball2 = adj.toDF("u", "mid").join(adj.toDF("mid", "v"), "mid")
      .select(col("u"), col("v"))
      .union(adj)  // exactly-1-hop nodes (2-paths alone miss non-triangle nbrs)
      .distinct()
      .groupBy(col("u")).agg(count(lit(1)).as("n"))  // v=u included once: self
      .as[(Long, Long)].collect().toMap
    val errs = ball2.toSeq.collect {
      case (u, exact) if exact >= 160 =>
        math.abs(est(u) - exact).toDouble / exact
    }
    assert(errs.nonEmpty, "expected some balls in the large regime")
    val sorted = errs.sorted
    val median = sorted(sorted.length / 2)
    assert(median <= 0.20, s"median rel err $median over ${errs.length} nodes")
    assert(sorted.last <= 0.60, s"max rel err ${sorted.last}")
  }

  test("d9b per-node triangle estimates sum to 3× the d8d global estimate") {
    // Both use the SAME deterministic p=1/8 edge sample; each sampled
    // triangle credits exactly its 3 vertices ⇒ the identity is exact.
    val perNode = graft.queries.DedupQueries
      .queries("d9b_graph_stats_sketch")(spark, sfDir)
      .agg(sum(col("est_tri"))).collect().head.getLong(0)
    val global = graft.queries.DedupQueries
      .queries("d8d_triangle_doulion")(spark, sfDir)
      .collect().head.getAs[Long]("est_triangles")
    assert(perNode == 3 * global, s"$perNode vs 3×$global")
  }

  test("d31 entity resolution recovers exactly the planted duplicate clusters") {
    val out = graft.queries.DedupQueries
      .queries("d31_entity_resolution")(spark, sfDir)
      .select(col("canon_id"), col("n_members"), col("max_acctbal"))
      .as[(Long, Long, Double)].collect()
    val nCust = graft.Tables.customer(spark, sfDir).count()
    // completeness: one cluster per planted dirty entity (every 10th key),
    // purity: every canon is a base record (variants carry ids ≥ 1e6)
    assert(out.length == (0L until nCust).count(_ % 10 == 0))
    assert(out.forall(_._1 < 1000000L), "cluster canon must be the base record")
    assert(out.map(_._1).distinct.length == out.length)
    // membership: base + deletion variant, plus the substitution variant
    // on every 20th key — and nothing else (no cross-entity merges)
    assert(out.forall { case (ck, n, _) =>
      n == (if (ck % 20 == 0) 3L else 2L) }, "unexpected cluster sizes")
    // survivorship: the deletion variant carries acctbal+50, so the
    // golden record's max_acctbal is exactly base acctbal + 50
    val bal = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
      .as[(Long, Double)].collect().toMap
    assert(out.forall { case (ck, _, mx) => mx == bal(ck) + 50.0 })
  }

  test("d32 cluster-aware split ships zero near-dup leakage by construction") {
    val row = graft.queries.DedupQueries
      .queries("d32_leakage_split")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(row.length == 1)
    val (nDocs, naiveTest, clusterTest, naiveCross, clusterCross) = row(0)
    assert(nDocs == graft.Tables.documents(spark, sfDir).count())
    assert(clusterCross == 0L,
      "component-hashed split must never separate a near-dup pair")
    assert(naiveCross >= 0L && naiveTest > 0L && clusterTest > 0L)
  }
}
