package graft.stedi

import java.nio.file.Files

import graft.SparkSpecBase
import graft.stedi.StediFixtures._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.Trigger

/** Streaming P3 (the keyed parity join, [[Transforms.joinRiskWithCustomerKeyed]])
  * against batch P3 (the plain join): after every micro-batch the stream's
  * output so far equals the batch join over the events so far, as
  * multisets, so each joined row comes out in the micro-batch that
  * completes it. Each case sits under its own email; every schedule spreads
  * the cases over 1, 2 or 3 micro-batches, each run as one `AvailableNow`
  * start on the same checkpoint, so a batch holds exactly what was added
  * for it. */
class P3KeyedJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private val HdfsStore = StateStoreProvider ->
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def cust(email: String, year: Int) =
    envelope(customerJson("N N", email, s"$year-01-02"))
  private def rawRisk(customer: String, score: String) =
    s"""{"customer":$customer,"score":$score,"riskDate":"2020-09-14T07:54:06.417Z"}"""

  /** (step 0–2, is a risk event, wire line). */
  private val events: Seq[(Int, Boolean, String)] = Seq(
    // a customer before its risk, after it, and in the same step
    (0, false, cust("before@test.com", 1950)), (1, true, riskJson("before@test.com", 1.5)),
    (0, true, riskJson("after@test.com", 2.5)), (2, false, cust("after@test.com", 1951)),
    (1, false, cust("same@test.com", 1952)), (1, true, riskJson("same@test.com", 3.5)),
    // repeated customer versions, one of them twice, between risks
    (0, false, cust("versions@test.com", 1960)), (1, true, riskJson("versions@test.com", 4.5)),
    (1, false, cust("versions@test.com", 1961)), (2, false, cust("versions@test.com", 1962)),
    (2, false, cust("versions@test.com", 1962)), (2, true, riskJson("versions@test.com", 5.5)),
    // several risks per key, one of them twice, and one with a null score
    (0, true, riskJson("many@test.com", 6.5)), (0, true, riskJson("many@test.com", 6.5)),
    (0, true, riskJson("many@test.com", 7.5)), (1, false, cust("many@test.com", 1970)),
    (1, true, rawRisk("\"many@test.com\"", "null")), (2, true, riskJson("many@test.com", 8.5)),
    // null keys on both sides: a null or missing customer, an unparsable
    // line, a customer record without an email
    (0, true, rawRisk("null", "9.5")), (1, true, """{"score":10.5}"""), (2, true, "not json"),
    (0, false, envelope("""{"customerName":"X","birthDay":"1980-01-01"}""")),
    // customers with no risk, and a risk with no customer
    (0, false, cust("lonely@test.com", 1990)), (2, false, cust("late-lonely@test.com", 1991)),
    (1, true, riskJson("ghost@test.com", 11.5)))

  private def lines(upTo: Int, risk: Boolean, split: Int) =
    events.collect { case (s, r, l) if r == risk && s * split / 3 <= upTo => l }

  /** Runs the stream over `events` in `split` micro-batches and returns the
    * stream's sorted output after each, next to batch P3's. */
  private def outputs(split: Int): Seq[(Seq[String], Seq[String])] = {
    implicit val ctx = spark.sqlContext
    val riskIn = MemoryStream[String]
    val redisIn = MemoryStream[String]
    val chk = Files.createTempDirectory("p3-keyed-chk").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (0 until split).map { b =>
      riskIn.addData(lines(b, risk = true, split).diff(lines(b - 1, risk = true, split)))
      redisIn.addData(lines(b, risk = false, split).diff(lines(b - 1, risk = false, split)))
      val q = Pipelines.p3JoinToJson(riskIn.toDF(), redisIn.toDF()).writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.as[String].collect().foreach(seen.add)
        }
        .option("checkpointLocation", chk).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 1, s"split $split: step $b is one batch")
      val expected = batchP3(lines(b, risk = true, split), lines(b, risk = false, split))
      (seen.toArray(Array.empty[String]).toSeq.sorted, expected)
    }
  }

  private def batchP3(risk: Seq[String], redis: Seq[String]): Seq[String] =
    Pipelines.p3JoinToJson(risk.toDF("value"), redis.toDF("value"))
      .as[String].collect().toSeq.sorted

  private def checkAllSplits(): Unit = {
    val all = batchP3(lines(2, risk = true, 3), lines(2, risk = false, 3))
    assert(all.size == 1 + 1 + 1 + 2 * 4 + 5 * 1,
      s"join rows of before, after, same, versions (2 risks × 4) and many (5 × 1): $all")
    for (split <- 1 to 3) {
      val steps = outputs(split)
      steps.zipWithIndex.foreach { case ((got, expected), b) =>
        assert(got == expected, s"split $split, after micro-batch $b")
      }
      assert(steps.last._1 == all, s"split $split: the whole stream")
    }
  }

  test("streaming P3 equals the batch join after every micro-batch, HDFS-backed store") {
    withConf(HdfsStore)(checkAllSplits())
  }

  test("streaming P3 equals the batch join after every micro-batch, RocksDB store") {
    withConf(RocksDb)(checkAllSplits())
  }

  test("streaming P3 plans one stateful operator and no stream-stream join") {
    implicit val ctx = spark.sqlContext
    val riskIn = MemoryStream[String]
    val redisIn = MemoryStream[String]
    riskIn.addData(riskJson("plan@test.com", 1.5))
    redisIn.addData(cust("plan@test.com", 1950))
    val q = Pipelines.memorySink(
      Pipelines.p3JoinToJson(riskIn.toDF(), redisIn.toDF()), "p3_keyed_plan").start()
    val plan = try {
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
    assert(spark.table("p3_keyed_plan").count() == 1)
    val stateful = plan.collect { case s: StatefulOperator => s.nodeName }
    assert(stateful.size == 1, s"stateful operators: $stateful\n$plan")
    assert(plan.collect { case j: StreamingSymmetricHashJoinExec => j }.isEmpty, plan.toString)
  }
}
