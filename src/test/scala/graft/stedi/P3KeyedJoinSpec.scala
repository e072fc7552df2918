package graft.stedi

import java.nio.file.Files

import graft.SparkSpecBase
import graft.stedi.StediFixtures._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
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
  * for it. Further specs pin the stream's plan (one stateful operator, one
  * parse per risk line) and that its micro-batches compile no code once
  * warm. */
class P3KeyedJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private val HdfsStore = StateStoreProvider ->
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def cust(email: String, year: Int) =
    envelope(customerJson("N N", email, s"$year-01-02"))
  private def rawRisk(customer: String, score: String) =
    s"""{"customer":$customer,"score":$score,"riskDate":"2020-09-14T07:54:06.417Z"}"""

  private def custDay(email: String, birthDay: String) =
    envelope(customerJson("N N", email, birthDay))

  private val LongHistory = 200

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
    (1, true, riskJson("ghost@test.com", 11.5)),
    // read back out of the packed state: a null score, then non-ASCII and
    // empty birthYears
    (0, true, rawRisk("\"nullscore@test.com\"", "null")), (0, true, riskJson("nullscore@test.com", 1.25)),
    (1, false, cust("nullscore@test.com", 1940)), (2, false, cust("nullscore@test.com", 1941)),
    (0, false, custDay("unicode@test.com", "١٩٥٣-01-02")), (1, true, riskJson("unicode@test.com", 2.0)),
    (2, false, custDay("unicode@test.com", "Jahr\u00fc😀-01-02")), (2, true, riskJson("unicode@test.com", 3.0)),
    (0, false, custDay("empty@test.com", "-01-02")), (1, true, riskJson("empty@test.com", 4.0))) ++
    // a long history of risks, then new customer versions
    (0 until LongHistory).map(i => (0, true, riskJson("long@test.com", i * 0.25 - 7))) ++ Seq(
    (1, false, cust("long@test.com", 1960)),
    (2, false, cust("long@test.com", 1961)), (2, true, riskJson("long@test.com", 1e30)))

  private def lines(upTo: Int, risk: Boolean, split: Int) =
    events.collect { case (s, r, l) if r == risk && s * split / 3 <= upTo => l }

  /** Runs `query` as `steps` micro-batches, each one `AvailableNow` start
    * on the same checkpoint after `add(b)` has added step `b`'s input, and
    * returns the query's sorted output so far after each. `query` yields
    * one string column. */
  private def streamSteps(steps: Int, query: => DataFrame)(add: Int => Unit): Seq[Seq[String]] = {
    val chk = Files.createTempDirectory("p3-keyed-chk").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (0 until steps).map { b =>
      add(b)
      val q = query.writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.as[String].collect().foreach(seen.add)
        }
        .option("checkpointLocation", chk).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 1, s"step $b is one batch")
      seen.toArray(Array.empty[String]).toSeq.sorted
    }
  }

  /** Runs the stream over `events` in `split` micro-batches and returns the
    * stream's sorted output after each, next to batch P3's. */
  private def outputs(split: Int): Seq[(Seq[String], Seq[String])] = {
    implicit val ctx = spark.sqlContext
    val riskIn = MemoryStream[String]
    val redisIn = MemoryStream[String]
    val got = streamSteps(split, Pipelines.p3JoinToJson(riskIn.toDF(), redisIn.toDF())) { b =>
      riskIn.addData(lines(b, risk = true, split).diff(lines(b - 1, risk = true, split)))
      redisIn.addData(lines(b, risk = false, split).diff(lines(b - 1, risk = false, split)))
    }
    got.zipWithIndex.map { case (g, b) =>
      (g, batchP3(lines(b, risk = true, split), lines(b, risk = false, split)))
    }
  }

  private def batchP3(risk: Seq[String], redis: Seq[String]): Seq[String] =
    Pipelines.p3JoinToJson(risk.toDF("value"), redis.toDF("value"))
      .as[String].collect().toSeq.sorted

  private def checkAllSplits(): Unit = {
    val all = batchP3(lines(2, risk = true, 3), lines(2, risk = false, 3))
    assert(all.size == 1 + 1 + 1 + 2 * 4 + 5 * 1 + 2 * 2 + 2 * 2 + 1 + (LongHistory + 1) * 2,
      "join rows of before, after, same, versions (2 risks × 4), many (5 × 1), nullscore" +
        s" (2 × 2), unicode (2 × 2), empty (1 × 1) and long (${LongHistory + 1} × 2): $all")
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

  /** A null birthYear cannot come through P1, which drops customers without
    * a birthDay, so these steps feed the keyed operator directly, together
    * with null keys on both sides; the reference is the plain join. */
  private def checkNullBirthYear(): Unit = {
    implicit val ctx = spark.sqlContext
    val risks = Seq(Seq(("nb@test.com", 1.5f), (null, 9.5f)), Seq(("nb@test.com", 2.5f)), Seq.empty)
    val custs = Seq(Seq(("nb@test.com", null), ("nb2@test.com", null)), Seq(("nb2@test.com", "1971")),
      Seq(("nb@test.com", "1970"), ("nb@test.com", null), (null, "1980")))
    val riskIn = MemoryStream[(String, Float)]
    val custIn = MemoryStream[(String, String)]
    def json(r: DataFrame, c: DataFrame, join: (DataFrame, DataFrame) => DataFrame) =
      Transforms.toJsonValue(join(r.toDF("customer", "score"), c.toDF("email", "birthYear")))
    val got = streamSteps(3, json(riskIn.toDF(), custIn.toDF(), Transforms.joinRiskWithCustomerKeyed)) { b =>
      riskIn.addData(risks(b))
      custIn.addData(custs(b))
    }
    got.zipWithIndex.foreach { case (g, b) =>
      val expected = json(risks.take(b + 1).flatten.toDF(), custs.take(b + 1).flatten.toDF(),
        Transforms.joinRiskWithCustomer).as[String].collect().toSeq.sorted
      assert(g == expected, s"after micro-batch $b")
    }
    assert(got.last.size == 2 * 3 && got.last.count(!_.contains("birthYear")) == 2 * 2, got.last)
  }

  test("packed state round-trips null birthYears and drops null keys, HDFS-backed store") {
    withConf(HdfsStore)(checkNullBirthYear())
  }

  test("packed state round-trips null birthYears and drops null keys, RocksDB store") {
    withConf(RocksDb)(checkNullBirthYear())
  }

  /** Runs streaming P3 over one risk event and its customer, into the
    * memory table `name`, and returns the batch's executed plan. */
  private def executedPlan(name: String, riskIn: MemoryStream[String]): SparkPlan = {
    implicit val ctx = spark.sqlContext
    val redisIn = MemoryStream[String]
    riskIn.addData(riskJson(s"$name@test.com", 1.5))
    redisIn.addData(cust(s"$name@test.com", 1950))
    val q = Pipelines.memorySink(
      Pipelines.p3JoinToJson(riskIn.toDF(), redisIn.toDF()), name).start()
    val plan = try {
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
    assert(spark.table(name).count() == 1)
    plan
  }

  test("streaming P3 plans one stateful operator and no stream-stream join") {
    implicit val ctx = spark.sqlContext
    val plan = executedPlan("p3_keyed_plan", MemoryStream[String])
    val stateful = plan.collect { case s: StatefulOperator => s.nodeName }
    assert(stateful.size == 1, s"stateful operators: $stateful\n$plan")
    assert(plan.collect { case j: StreamingSymmetricHashJoinExec => j }.isEmpty, plan.toString)
  }

  test("streaming P3 parses each risk line's JSON once") {
    implicit val ctx = spark.sqlContext
    val riskIn = MemoryStream[String]
    val plan = executedPlan("p3_keyed_parse", riskIn)
    val riskBranch = plan.collect { case u: UnionExec => u.children }.flatten.filter(_.exists {
      case s: MicroBatchScanExec => s.stream eq riskIn
      case _ => false
    })
    assert(riskBranch.size == 1, plan.toString)
    val parses = riskBranch.head.collect { case n => n.expressions.flatMap(_.collect {
      case j: JsonToStructs => j
    }) }.flatten
    assert(parses.size == 1, s"from_json in the risk branch: $parses\n$plan")
  }

  test("streaming P3 compiles no code after its second micro-batch") {
    implicit val ctx = spark.sqlContext
    // Both inputs read one MemoryStream of (line, is a risk event), so each
    // step lands whole in one micro-batch of the running query: a batch
    // with one side empty would plan that side differently, and compile.
    val in = MemoryStream[(String, Boolean)]
    val lines = in.toDF().toDF("value", "isRisk")
    val q = Pipelines.memorySink(Pipelines.p3JoinToJson(
      lines.where($"isRisk").select("value"), lines.where(!$"isRisk").select("value")),
      "p3_keyed_codegen").start()
    def key(b: Int, k: Int) = s"k$b.$k@test.com"
    // Batch b: four new keys with a customer and a risk each, a risk for
    // every earlier key, and a new customer version for the keys of every
    // even earlier batch, which already hold risks. The first batch writes
    // state and the second is the first to read it, so both may compile.
    val (risks, redis) = (0 until 6).map { b =>
      ((0 to b).flatMap(e => (0 until 4).map(k => riskJson(key(e, k), b + k))),
        (0 until 4).map(k => cust(key(b, k), 1950 + b)) ++
          (0 until b by 2).flatMap(e => (0 until 4).map(k => cust(key(e, k), 1960 + b))))
    }.unzip
    val compiles = try risks.indices.map { b =>
      in.addData(risks(b).map((_, true)) ++ redis(b).map((_, false)))
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == risks.size, "one micro-batch per step")
    assert(spark.table("p3_keyed_codegen").as[String].collect().toSeq.sorted ==
      batchP3(risks.flatten, redis.flatten))
    assert(compiles.drop(1).distinct.size == 1, s"compile count after each batch: $compiles")
  }
}
