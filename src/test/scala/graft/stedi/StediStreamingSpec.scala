package graft.stedi

import graft.SparkSpecBase
import graft.stedi.StediFixtures._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Structured-Streaming semantics of P1/P2/P3 over MemoryStream — the
  * streaming behaviors the DuckDB oracle can't check: per-micro-batch
  * append output, cross-batch join state retention (the reference's
  * unwatermarked join never drops state), the watermarked variant, and
  * P3's exactly-once restart from a checkpoint over file sources. */
class StediStreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("P1 streams envelopes to {email, birthYear} per micro-batch") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Pipelines.memorySink(
      Pipelines.p1CustomerDecode(in.toDF().withColumnRenamed("value", "value")),
      "p1_out").start()
    try {
      in.addData(envelope(customerJson("A B", "a@test.com", "1950-02-03")))
      q.processAllAvailable()
      val batch1 = spark.table("p1_out").as[(String, String)].collect().toSet
      assert(batch1 == Set(("a@test.com", "1950")))
      in.addData(envelope(customerJson("C D", "c@test.com", "1961-07-09")))
      q.processAllAvailable()
      val batch2 = spark.table("p1_out").as[(String, String)].collect().toSet
      assert(batch2 == Set(("a@test.com", "1950"), ("c@test.com", "1961")))
    } finally q.stop()
  }

  test("P3 unwatermarked stream-stream join retains state across batches") {
    implicit val ctx = spark.sqlContext
    val redisIn = MemoryStream[String]
    val riskIn = MemoryStream[String]
    val joined = Pipelines.p3JoinToJson(riskIn.toDF(), redisIn.toDF())
    val q = Pipelines.memorySink(joined, "p3_out").start()
    try {
      // customer arrives in batch 0 — no risk yet → no output
      redisIn.addData(envelope(customerJson("Santosh F", "s@test.com", "1963-01-03")))
      q.processAllAvailable()
      assert(spark.table("p3_out").count() == 0)
      // risk arrives in a LATER batch — unwatermarked state must still match
      riskIn.addData(riskJson("s@test.com", 28.5))
      q.processAllAvailable()
      val rows = spark.table("p3_out").as[String].collect()
      assert(rows.length == 1)
      assert(rows(0).contains(""""email":"s@test.com""""))
      assert(rows(0).contains(""""birthYear":"1963""""))
      // reference semantics: EVERY customer version ever seen still matches
      riskIn.addData(riskJson("s@test.com", 30.0))
      q.processAllAvailable()
      assert(spark.table("p3_out").count() == 2)
    } finally q.stop()
  }

  test("watermarked join variant still matches in-time data") {
    implicit val ctx = spark.sqlContext
    val redisIn = MemoryStream[String]
    val riskIn = MemoryStream[String]
    val cust = Pipelines.p1CustomerDecode(redisIn.toDF())
    val risk = Pipelines.p2RiskEvents(riskIn.toDF())
    val joined = Transforms.joinRiskWithCustomerWatermarked(
      risk, current_timestamp(), cust, current_timestamp(), "10 minutes")
    val q = Pipelines.memorySink(Transforms.toJsonValue(joined), "p3_wm_out").start()
    try {
      redisIn.addData(envelope(customerJson("Santosh F", "s@test.com", "1963-01-03")))
      riskIn.addData(riskJson("s@test.com", 28.5))
      q.processAllAvailable()
      assert(spark.table("p3_wm_out").count() == 1)
    } finally q.stop()
  }

  /** Golden replay of the reference's captured run
    * (`spark/logs/redis-kafka.log` batches 0-41): batch 0 replays the full
    * customer backlog from earliest offsets — 20 customers with birthYears
    * 1965..1945 (1960 absent in the log) — and the steady state is
    * near-empty. Log emails are console-truncated; the visible prefixes are
    * completed with the simulator's uniform `@test.com` domain. */
  test("golden: reference batch-0 customer backlog replays through P1") {
    val golden: Seq[(String, String)] = Seq(
      "Angie.Jefferson" -> "1965", "Trevor.Khatib" -> "1964",
      "Trevor.Howard" -> "1963", "Travis.Howard" -> "1962",
      "Bobby.Abram" -> "1961", "Sean.Howard" -> "1959",
      "Trevor.Anderson" -> "1958", "David.Lincoln" -> "1957",
      "Gail.Hansen" -> "1956", "David.Anderson" -> "1955",
      "Ben.Clark" -> "1954", "Larry.Howard" -> "1953",
      "Eric.Clark" -> "1952", "Edward.Khatib" -> "1951",
      "Suresh.Hansen" -> "1950", "Ashley.Smith" -> "1949",
      "Jerry.Hansen" -> "1948", "Dan.Ahmed" -> "1947",
      "Larry.Habschied" -> "1946", "Spencer.Harris" -> "1945"
    ).map { case (n, y) => (s"$n@test.com", y) }
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Pipelines.memorySink(
      Pipelines.p1CustomerDecode(in.toDF()), "p1_golden").start()
    try {
      // batch 0: the whole backlog (earliest offsets) + one non-Customer
      // Redis write that the null-filter must drop (sparkpykafkajoin.py:138)
      val backlog = golden.map { case (email, year) =>
        envelope(customerJson(email.takeWhile(_ != '@').replace('.', ' '),
          email, s"$year-01-03"))
      } :+ s"""{"key":"${b64("SortedSet")}","existType":"NONE","ch":false,"incr":false,"zSetEntries":[{"element":"${b64("""{"id":"x"}""")}","score":0.0}]}"""
      in.addData(backlog: _*)
      q.processAllAvailable()
      val batch0 = spark.table("p1_golden").as[(String, String)].collect().toSet
      assert(batch0 == golden.toSet,
        s"batch-0 replay must equal the log's 20 {email, birthYear} rows")
      // steady state (log batches 1-41): nothing new → output unchanged
      in.addData(s"""{"key":"${b64("SortedSet")}","existType":"NONE","ch":false,"incr":false,"zSetEntries":[{"element":"${b64("""{"id":"y"}""")}","score":0.0}]}""")
      q.processAllAvailable()
      assert(spark.table("p1_golden").count() == 20)
    } finally q.stop()
  }

  /** Golden replay of `spark/logs/eventstream.log` (batches 0-11): empty
    * batch 0, then exactly one risk event per micro-batch with the logged
    * scores — asserted per-batch (append mode: each batch contributes its
    * own row, earlier rows untouched). */
  test("golden: reference eventstream cadence replays through P2") {
    val golden: Seq[(String, Float)] = Seq(
      "Sean.Clayton" -> -1.5f, "Eric.Mitra" -> 18.5f,
      "Danny.Sanchez" -> 3.5f, "Senthil.Gonzalez" -> -2.0f,
      "David.Davis" -> -11.5f, "Jason.Sanchez" -> -6.0f,
      "Jason.Jefferson" -> -1.5f, "Edward.Phillips" -> -3.5f,
      "John.Olson" -> -2.0f, "Jane.Habschied" -> -4.5f,
      "Suresh.Jones" -> -5.0f
    ).map { case (n, s) => (s"$n@test.com", s) }
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Pipelines.memorySink(Pipelines.p2RiskEvents(in.toDF()), "p2_golden").start()
    try {
      q.processAllAvailable() // batch 0: empty
      assert(spark.table("p2_golden").count() == 0)
      golden.zipWithIndex.foreach { case ((customer, score), i) =>
        in.addData(riskJson(customer, score))
        q.processAllAvailable()
        val got = spark.table("p2_golden").as[(String, Float)].collect()
        assert(got.length == i + 1, s"batch ${i + 1} must append exactly one row")
        assert(got.toSet == golden.take(i + 1).toSet)
      }
    } finally q.stop()
  }

  test("watermark bounds join state; the parity join's state only grows") {
    implicit val ctx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    // --- watermarked: rows older than the delay are evicted ---
    val riskW = MemoryStream[(String, java.sql.Timestamp)]
    val custW = MemoryStream[(String, String, java.sql.Timestamp)]
    val joinedW = Transforms.joinRiskWithCustomerLeftOuter(
      riskW.toDF().toDF("customer", "rts"), col("rts"),
      custW.toDF().toDF("email", "birthYear", "cts"), col("cts"), "10 minutes")
    val qW = Pipelines.memorySink(joinedW, "state_wm").start()
    // --- parity (reference semantics): no watermark, state never evicts ---
    val riskP = MemoryStream[String]
    val custP = MemoryStream[String]
    val joinedP = Pipelines.p3JoinToJson(riskP.toDF(), custP.toDF())
    val qP = Pipelines.memorySink(joinedP, "state_parity").start()
    try {
      (0 until 6).foreach { i =>
        riskW.addData((s"u$i@test.com", ts(10 + i, 0)))
        custW.addData((s"u$i@test.com", "1950", ts(10 + i, 0)))
        riskP.addData(riskJson(s"u$i@test.com", 1.0))
        custP.addData(envelope(customerJson("U", s"u$i@test.com", "1950-01-01")))
        qW.processAllAvailable(); qP.processAllAvailable()
      }
      // force one more watermark-advancing batch so eviction is visible
      riskW.addData(("final@test.com", ts(20, 0)))
      custW.addData(("final@test.com", "1950", ts(20, 0)))
      qW.processAllAvailable()
      val wmState = stateRows(qW)
      // the watermarked join holds only rows inside the 10-minute window
      assert(wmState <= 4,
        s"only the newest event pair can be inside the watermark window: $wmState")
      // parity keeps every event ever seen on both sides: 12 events in one
      // state row per key, and every one of them must still match
      assert(stateRows(qP) == 6, s"one parity state row per key: ${stateRows(qP)}")
      def parityRows = spark.table("state_parity").select(
        get_json_object(col("value"), "$.email"), get_json_object(col("value"), "$.birthYear"))
        .as[(String, String)].collect().toSeq
      val seen0 = parityRows
      custP.addData((0 until 6).map(i => envelope(customerJson("U", s"u$i@test.com", "1951-01-01"))))
      qP.processAllAvailable()
      val seen1 = parityRows
      assert(seen1.diff(seen0).sorted == (0 until 6).map(i => (s"u$i@test.com", "1951")),
        "each key's retained risk event must match its new customer version")
      riskP.addData((0 until 6).map(i => riskJson(s"u$i@test.com", 2.0)))
      qP.processAllAvailable()
      assert(parityRows.diff(seen1).sorted ==
        (0 until 6).flatMap(i => Seq((s"u$i@test.com", "1950"), (s"u$i@test.com", "1951"))),
        "each key's new risk event must match both retained customer versions")
      assert(stateRows(qP) == 6, s"still one parity state row per key: ${stateRows(qP)}")
    } finally { qW.stop(); qP.stop() }
  }

  test("left-outer stream-stream join emits null-padded rows after watermark") {
    implicit val ctx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val riskIn = MemoryStream[(String, java.sql.Timestamp)]
    val custIn = MemoryStream[(String, String, java.sql.Timestamp)]
    val risk = riskIn.toDF().toDF("customer", "rts")
    val cust = custIn.toDF().toDF("email", "birthYear", "cts")
    val joined = Transforms.joinRiskWithCustomerLeftOuter(
      risk, col("rts"), cust, col("cts"), "10 minutes")
      .select(col("customer"), col("email"), col("birthYear"))
    val q = Pipelines.memorySink(joined, "p3_outer").start()
    try {
      // matched pair inside the time bound → joined row
      riskIn.addData(("match@test.com", ts(10, 0)))
      custIn.addData(("match@test.com", "1950", ts(10, 5)))
      // unmatched risk event — must wait for watermark proof
      riskIn.addData(("orphan@test.com", ts(10, 0)))
      q.processAllAvailable()
      val afterB1 = spark.table("p3_outer")
        .as[(String, Option[String], Option[String])].collect().toSet
      assert(afterB1 == Set(("match@test.com", Some("match@test.com"), Some("1950"))),
        s"orphan must NOT emit before its match window closes: $afterB1")
      // advance BOTH watermarks past orphan's bound (10:10), then one more
      // batch so the eviction micro-batch runs
      riskIn.addData(("late@test.com", ts(11, 0)))
      custIn.addData(("late@test.com", "1960", ts(11, 0)))
      q.processAllAvailable()
      riskIn.addData(("later@test.com", ts(12, 0)))
      custIn.addData(("later2@test.com", "1970", ts(12, 0)))
      q.processAllAvailable()
      val rows = spark.table("p3_outer")
        .as[(String, Option[String], Option[String])].collect().toSet
      assert(rows.contains(("orphan@test.com", None, None)),
        s"orphan must emit null-padded once the watermark passes: $rows")
    } finally q.stop()
  }

  test("full-outer stream-stream join surfaces unmatched rows from both sides") {
    implicit val ctx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val riskIn = MemoryStream[(String, java.sql.Timestamp)]
    val custIn = MemoryStream[(String, String, java.sql.Timestamp)]
    val joined = Transforms.joinRiskWithCustomerFullOuter(
      riskIn.toDF().toDF("customer", "rts"), col("rts"),
      custIn.toDF().toDF("email", "birthYear", "cts"), col("cts"), "10 minutes")
      .select(col("customer"), col("email"))
    val q = Pipelines.memorySink(joined, "p3_full").start()
    try {
      riskIn.addData(("orphan_risk@test.com", ts(10, 0)))
      custIn.addData(("orphan_cust@test.com", "1950", ts(10, 0)))
      q.processAllAvailable()
      // advance both watermarks well past 10:10, then one eviction batch
      riskIn.addData(("late@test.com", ts(11, 0)))
      custIn.addData(("late@test.com", "1960", ts(11, 0)))
      q.processAllAvailable()
      riskIn.addData(("later@test.com", ts(12, 0)))
      custIn.addData(("later2@test.com", "1970", ts(12, 0)))
      q.processAllAvailable()
      val rows = spark.table("p3_full")
        .as[(Option[String], Option[String])].collect().toSet
      assert(rows.contains((Some("orphan_risk@test.com"), None)),
        s"unmatched risk must emit: $rows")
      assert(rows.contains((None, Some("orphan_cust@test.com"))),
        s"unmatched customer must emit: $rows")
      assert(rows.contains((Some("late@test.com"), Some("late@test.com"))))
    } finally q.stop()
  }

  test("P2 streaming risk events parse per batch") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Pipelines.memorySink(Pipelines.p2RiskEvents(in.toDF()), "p2_out").start()
    try {
      in.addData(riskJson("x@test.com", -5.0), riskJson("y@test.com", 18.5))
      q.processAllAvailable()
      val got = spark.table("p2_out").as[(String, Float)].collect().toSet
      assert(got == Set(("x@test.com", -5.0f), ("y@test.com", 18.5f)))
    } finally q.stop()
  }

  /** Replays `nBatches` of `keysPerBatch` fresh key pairs (event time
    * advancing 60 s per batch) through `join`, then reads the LEFT join
    * store's row count at every committed batch via the offline statestore
    * reader. Returns the per-batch state sizes. */
  private def leftStateSizes(name: String, nBatches: Int, keysPerBatch: Int)(
      join: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)
      : Seq[Long] = {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory(s"$name-ckpt").toString
    val inL = MemoryStream[(String, Double, Long)]
    val inR = MemoryStream[(String, Long, Long)]
    val joined = join(
      inL.toDF().toDF("email", "score", "rsec"),
      inR.toDF().toDF("customer", "birthYear", "csec"))
    val q = joined.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName(s"${name}_sink")
      .option("checkpointLocation", ckpt).start()
    try {
      (0 until nBatches).foreach { b =>
        val sec = 1000L + b * 60L
        inL.addData((0 until keysPerBatch).map(k =>
          (s"u$b-$k@t.com", 9.5, sec)))
        inR.addData((0 until keysPerBatch).map(k =>
          (s"u$b-$k@t.com", 1960L + k, sec)))
        q.processAllAvailable()
      }
    } finally q.stop()
    // enumerate what actually committed (a MemoryStream may split one
    // logical round into several micro-batches) and audit each one
    val committed = new java.io.File(s"$ckpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).sorted
    committed.toSeq.map { b =>
      spark.read.format("statestore")
        .option("joinSide", "left").option("batchId", b).load(ckpt).count()
    }
  }

  test("state audit: watermark+time-bound join plateaus, parity join grows without bound") {
    // The production claim behind the hardened P3 variant, proven from the
    // checkpoint itself (round-6's offline statestore reader machinery):
    // per-batch LEFT join-store sizes. The parity (unwatermarked) join
    // retains every row ever seen — monotone growth, the documented
    // reference behavior. The watermarked variant ALSO carries an
    // event-time bound in its condition (watermarks alone can never evict
    // inner-join state), so closed match windows drop and the store
    // plateaus at ~2 batches of live keys regardless of stream length.
    val n = 6
    val k = 10
    val parity = leftStateSizes("parity", n, k) { (l, r) =>
      Transforms.joinRiskWithCustomer(l.drop("rsec"), r.drop("csec"))
    }
    assert(parity.zip(parity.tail).forall { case (a, b) => a <= b },
      s"parity join state must only grow: $parity")
    assert(parity.last == n.toLong * k,
      s"parity join must retain every row ever seen: $parity")
    val bounded = leftStateSizes("bounded", n, k) { (l, r) =>
      Transforms.joinRiskWithCustomerWatermarked(
        l, timestamp_seconds(col("rsec")),
        r, timestamp_seconds(col("csec")), "10 seconds")
    }
    // matches still produced (join works)…
    assert(spark.table("bounded_sink").count() == n.toLong * k)
    // …but state stops growing: by the last batch the store holds at most
    // the final two batches' keys, not the whole history
    assert(bounded.last <= 2L * k,
      s"bounded join state must plateau: $bounded")
    assert(bounded.last < parity.last,
      s"bounded ${bounded.last} must undercut parity ${parity.last}")
  }

  test("P3 over file sources restarts from its checkpoint with exactly-once output") {
    val root = Files.createTempDirectory("p3-restart")
    val feed = new P3Feed(root)
    def start(name: String) = feed.stream(spark).writeStream.format("text")
      .option("path", root.resolve(s"$name-out").toString)
      .option("checkpointLocation", root.resolve(s"$name-chk").toString)
      .start()
    def output(name: String) =
      spark.read.text(root.resolve(s"$name-out").toString).as[String].collect().sorted.toSeq

    val whole = start("whole")
    var cut = start("cut")
    try {
      feed.release(0); feed.release(1)
      whole.processAllAvailable(); cut.processAllAvailable()
      feed.release(2)
      cut.stop() // mid-stream: batch 2 may be unseen, planned or running
      feed.release(3) // lands while the query is down
      cut = start("cut")
      feed.release(4)
      whole.processAllAvailable(); cut.processAllAvailable()
    } finally { whole.stop(); cut.stop() }

    val expected = feed.batch(spark).as[String].collect().sorted.toSeq
    assert(expected.size == 31,
      "5 batches: 15 same-batch, 12 previous-batch and 4 next-batch matches")
    assert(output("whole") == expected, "uninterrupted stream must equal batch P3")
    assert(output("cut") == expected, "restarted stream: no duplicates, no losses")
  }

  test("P3 over 33+ release directories lists its files in the driver, not as a Spark job") {
    // Past spark.sql.sources.parallelPartitionDiscovery.threshold (32 by
    // default) paths, a file index lists through a Spark job; under
    // local[n] that job only adds scheduling to every micro-batch, so the
    // local profile lists in the driver whatever the glob matches.
    val root = Files.createTempDirectory("p3-listing")
    val feed = new P3Feed(root)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val marker = "p3-listing-marker"
    spark.sparkContext.addSparkListener(listener)
    val (got, expected) = try {
      (0 until 33).foreach(feed.release)
      val q = Pipelines.memorySink(feed.stream(spark), "p3_listing_out").start()
      try {
        q.processAllAvailable()
        feed.release(33)
        q.processAllAvailable()
      } finally q.stop()
      val out = (spark.table("p3_listing_out").as[String].collect().sorted.toSeq,
        feed.batch(spark).as[String].collect().sorted.toSeq)
      // the listener bus delivers in order: once the marker job has arrived,
      // so has every job before it
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      out
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(jobs.contains(marker), "listener bus did not deliver the marker job")
    val listing = jobs.toArray(Array.empty[String])
      .filter(_.startsWith("Listing leaf files and directories"))
    assert(listing.isEmpty, s"listing jobs fired:\n${listing.mkString("\n")}")
    assert(expected.size == 7 * 34 - 4,
      "34 batches: 102 same-batch, 99 previous-batch and 33 next-batch matches")
    assert(got == expected, "stream output must equal batch P3")
  }
}
