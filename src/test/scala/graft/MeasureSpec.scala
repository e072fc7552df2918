package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The batch mains' shared timed run ([[Measure]]), `Bench`'s rerun
  * selection, and the JSON escaper both artifact writers use. */
class MeasureSpec extends SparkSpecBase {

  test("a failing query yields its error text and no time") {
    val atBuild = Measure.run(throw new IllegalStateException("no such table"))
    assert(atBuild == Left("IllegalStateException: no such table"))
    val atDrain = Measure.run(spark.range(3).selectExpr("raise_error('drain failed')"))
    assert(atDrain.isLeft)
    assert(atDrain.swap.exists(_.contains("drain failed")))
  }

  test("a passing query's time includes the eager work done while its frame is built") {
    val run = Measure.run {
      val staged = spark.range(100).toDF("id").localCheckpoint() // an eager job
      Thread.sleep(300)
      staged.selectExpr("id * 2 AS x")
    }
    assert(run.exists(_.seconds >= 0.3), run)
    assert(run.exists(_.frame.columns.toSeq == Seq("x")))
  }

  test("rerun selection picks only unstable queries, capped at 30, most-inflated first") {
    val firstPass = Seq(
      "stable" -> Seq(1.0, 1.9),
      "exactly_2x" -> Seq(1.0, 2.0),
      "one_run" -> Seq(0.1), // the other run failed: nothing to compare
      "no_run" -> Seq.empty[Double],
      "spiked" -> Seq(6.0, 2.0),
      "spiked_more" -> Seq(0.5, 5.0))
    assert(Bench.reruns(firstPass) == Seq("spiked_more" -> 0.5, "spiked" -> 2.0))
    val many = (1 to 40).map(i => s"q$i" -> Seq(1.0, 2.0 + i))
    val picked = Bench.reruns(many)
    assert(picked.size == 30)
    assert(picked.map(_._1) == (40 to 11 by -1).map(i => s"q$i"))
    assert(picked.forall(_._2 == 1.0))
  }

  test("the escaper round-trips every control character through a JSON parser") {
    val msg = "bad \u0001 byte \u001b[31m \"quoted\" back\\slash\ttab\r\nline"
    val om = new ObjectMapper()
    assert(om.readTree(Measure.jsonString(msg)).asText() == msg)
    val doc = om.readTree(s"{${Measure.jsonString("q\u0001")}:${Measure.jsonString(msg)}}")
    assert(doc.get("q\u0001").asText() == msg)
  }
}
