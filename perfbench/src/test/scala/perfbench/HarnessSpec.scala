package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def feed(seed: Long): String = {
    val cs = Gen.customers(300, seed)
    (Gen.redisLines(cs) ++ Gen.riskLines(cs, seed, 0, 2000)).mkString("\n")
  }

  test("the same seed gives a byte-identical STEDI feed; another seed does not") {
    assert(feed(7).getBytes("UTF-8").sameElements(feed(7).getBytes("UTF-8")))
    assert(feed(7) != feed(8))
  }

  test("the same seed gives identical corpus tables") {
    def rows(seed: Long) = Gen.tables(0.001, seed).map { case (n, _, it) => n -> it.toVector }
    assert(rows(42) == rows(42))
    assert(rows(42) != rows(43))
  }

  test("a release is a pure function of its sequence range") {
    val cs = Gen.customers(50, 3)
    assert(Gen.riskLines(cs, 3, 0, 100) == Gen.riskLines(cs, 3, 0, 60) ++ Gen.riskLines(cs, 3, 60, 100))
  }

  test("every risk event carries a unique score that maps back to its sequence number") {
    val lines = Gen.riskLines(Gen.customers(20, 1), 1, 0, 5000)
    val seqs = lines.map(StediStreams.seqOf)
    assert(seqs == (0 until 5000))
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("digests ignore row order but not multiplicity or content") {
    val rows = Seq("a|1", "b|2", "c|3")
    assert(Stats.digest(rows) == Stats.digest(rows.reverse))
    assert(Stats.digest(rows) != Stats.digest(rows :+ "a|1"))
    assert(Stats.digest(rows) != Stats.digest(Seq("a|1", "b|2", "c|4")))
    assert(Stats.digest(Nil).startsWith("0:"))
  }

  test("mismatches counts missing and extra rows") {
    assert(StediStreams.mismatches(Vector("a", "b", "b"), Vector("b", "a", "b")) == 0)
    assert(StediStreams.mismatches(Vector("a", "b", "b"), Vector("a", "b")) == 1)
    assert(StediStreams.mismatches(Vector("a"), Vector("a", "c", "d")) == 2)
  }
}
