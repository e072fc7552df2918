package graft.streaming

import graft.SparkSpecBase
import graft.stedi.{Pipelines, Schemas, Transforms}
import graft.stedi.Schemas.RiskEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Stateful + windowed streaming semantics over MemoryStream: the ≥4-
  * assessments risk rule (flatMapGroupsWithState), tumbling event-time
  * windows with watermarks, and session windows. */
class StatefulOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def risk(customer: String, score: Float, day: Int): String =
    s"""{"customer":"$customer","score":$score,"riskDate":"2020-09-${f"$day%02d"}T07:00:00.000Z"}"""

  test("risk score appears only after 4 assessments and updates after") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val events = Transforms.parseRiskEvent(in.toDF())
      .withColumn("riskDate", lit(null).cast("date"))
      .as[RiskEvent]
    val out = StatefulOps.runningRiskScore(spark, events)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("risk_scores").start()
    try {
      in.addData(risk("a@t.com", 2.0f, 1), risk("a@t.com", 4.0f, 2),
        risk("a@t.com", 6.0f, 3))
      q.processAllAvailable()
      assert(spark.table("risk_scores").count() == 0,
        "below 4 assessments → no score (README.md:96 rule)")
      in.addData(risk("a@t.com", 8.0f, 4), risk("b@t.com", 1.0f, 4))
      q.processAllAvailable()
      val rows = spark.table("risk_scores")
        .as[StatefulOps.RiskScore].collect()
      assert(rows.length == 1)
      assert(rows(0).customer == "a@t.com")
      assert(rows(0).nAssessments == 4)
      assert(math.abs(rows(0).avgScore - 5.0) < 1e-9)
      in.addData(risk("a@t.com", 10.0f, 5))
      q.processAllAvailable()
      val rows2 = spark.table("risk_scores").as[StatefulOps.RiskScore]
        .collect().sortBy(_.nAssessments)
      assert(rows2.length == 2 && rows2(1).nAssessments == 5 &&
        math.abs(rows2(1).avgScore - 6.0) < 1e-9)
    } finally q.stop()
  }

  test("transformWithState processor matches the GroupState operator") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("tws-ckpt").toString
    // transformWithState requires the RocksDB provider
    withConf(RocksDb) {
      val in = MemoryStream[String]
      val events = Transforms.parseRiskEvent(in.toDF())
        .withColumn("riskDate", lit(null).cast("date"))
        .as[RiskEvent]
      val out = StatefulOps.runningRiskScoreTws(spark, events)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("risk_scores_tws")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        in.addData(risk("a@t.com", 2.0f, 1), risk("a@t.com", 4.0f, 2),
          risk("a@t.com", 6.0f, 3))
        q.processAllAvailable()
        assert(spark.table("risk_scores_tws").count() == 0,
          "ValueState must carry the sub-threshold count across batches")
        in.addData(risk("a@t.com", 8.0f, 4), risk("b@t.com", 1.0f, 4))
        q.processAllAvailable()
        val rows = spark.table("risk_scores_tws")
          .as[StatefulOps.RiskScore].collect()
        assert(rows.length == 1 && rows(0).customer == "a@t.com" &&
          rows(0).nAssessments == 4 && math.abs(rows(0).avgScore - 5.0) < 1e-9,
          rows.mkString(","))
      } finally q.stop()
    }
  }

  test("event-time timers close sessions when the watermark passes the gap") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("tws-sess-ckpt").toString
    withConf(RocksDb) {
      val in = MemoryStream[(String, java.sql.Timestamp)]
      def ts(h: Int, m: Int, s: Int = 0) =
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:$s%02d")
      val events = in.toDS()
        .map { case (u, t) => StatefulOps.UserEvent(u, t) }
        .withWatermark("ts", "0 seconds")
      val sessions = StatefulOps.sessionizeTws(spark, events, gapMs = 5 * 60 * 1000)
      val q = sessions.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("tws_sessions")
        .option("checkpointLocation", ckpt).start()
      try {
        // session 1: two events 30s apart
        in.addData(("a", ts(10, 0, 0)), ("a", ts(10, 0, 30)))
        q.processAllAvailable()
        assert(spark.table("tws_sessions").count() == 0,
          "open session must not emit before its gap passes the watermark")
        // watermark only reaches 10:00:30 here — timer at 10:05:30 still armed
        in.addData(("b", ts(10, 30, 0)))
        q.processAllAvailable()
        // now the watermark (10:30:00) passes 10:05:30 → a's session closes
        in.addData(("b", ts(10, 31, 0)))
        q.processAllAvailable()
        val rows = spark.table("tws_sessions")
          .as[StatefulOps.SessionOut].collect().filter(_.user == "a")
        assert(rows.length == 1, s"exactly one closed session for a: ${rows.toSeq}")
        assert(rows(0).nEvents == 2 &&
          rows(0).endMs - rows(0).startMs == 30000L,
          s"session spans the two events: ${rows(0)}")
      } finally q.stop()
    }
  }

  test("ListState + MapState + ValueState accumulate independently per key") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("tws-prof-ckpt").toString
    withConf(RocksDb) {
      val in = MemoryStream[(String, java.sql.Timestamp, String, Double)]
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      val events = in.toDS().map { case (u, t, ty, v) =>
        StatefulOps.TypedEvent(u, t, ty, v) }
      val out = StatefulOps.userProfileTws(spark, events, k = 4)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("tws_profiles")
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData(("a", ts(1), "click", 1.0), ("a", ts(2), "click", 2.0),
          ("a", ts(3), "view", 3.0), ("b", ts(1), "buy", 9.0))
        q.processAllAvailable()
        val b1 = spark.table("tws_profiles").as[StatefulOps.ProfileOut]
          .collect().map(p => p.user -> p).toMap
        assert(b1("a").totalEvents == 3 && b1("a").nTypes == 2 &&
          b1("a").topType == "click" &&
          math.abs(b1("a").recentMean - 2.0) < 1e-9, b1("a").toString)
        assert(b1("b").totalEvents == 1 && b1("b").topType == "buy")
        // batch 2: the MapState count flips the top type to view, the recent
        // ring drops to the last 4 values [3,4,5,6], the total keeps counting
        in.addData(("a", ts(4), "view", 4.0), ("a", ts(5), "view", 5.0),
          ("a", ts(6), "buy", 6.0))
        q.processAllAvailable()
        val a2 = spark.table("tws_profiles").as[StatefulOps.ProfileOut]
          .collect().filter(_.user == "a").maxBy(_.totalEvents)
        assert(a2.totalEvents == 6 && a2.nTypes == 3 && a2.topType == "view" &&
          math.abs(a2.recentMean - 4.5) < 1e-9, a2.toString)
      } finally q.stop()
    }
  }

  test("tumbling window aggregation with watermark over a stream") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = in.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("win_agg").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      in.addData((ts(1, 10), "click", 1.0), (ts(1, 20), "click", 2.0),
        (ts(1, 40), "view", 5.0))
      q.processAllAvailable()
      // append mode emits nothing until the watermark passes the window end
      in.addData((ts(3, 0), "click", 9.0)) // advances watermark past 01:59
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select(col("window.start").cast("string"), col("event_type"),
          col("n"), col("total"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 01:00:00", "click", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 01:00:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("session window: 30-minute gap closes a session") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_win").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      // two bursts 2h apart → two sessions for user 1
      in.addData((ts(1, 0), 1L), (ts(1, 10), 1L), (ts(3, 0), 1L))
      q.processAllAvailable()
      in.addData((ts(6, 0), 99L)) // push watermark far ahead to close all
      q.processAllAvailable()
      val rows = spark.table("sess_win")
        .filter(col("user_id") === 1L)
        .select(col("n")).as[Long].collect().sorted.toSeq
      assert(rows == Seq(1L, 2L),
        s"expected sessions of 2 and 1 events, got $rows")
    } finally q.stop()
  }

  test("streaming Misra-Gries: exact when capacity suffices, bounded when not") {
    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      // zipfish token stream across two batches: token "t<i>" appears 20-i
      // times total, split between the batches
      val b1 = (1 to 10).flatMap(i => Seq.fill(12 - i)(s"t$i"))
      val b2 = (1 to 10).flatMap(i => Seq.fill(8)(s"t$i"))
      val exact = (b1 ++ b2).groupBy(identity).view.mapValues(_.size.toLong).toMap

      def run(capacity: Int): Map[(Int, String), (Long, Long)] = {
        val in = MemoryStream[String]
        val out = StatefulOps.heavyHittersTws(spark, in.toDS(), capacity)
        val name = s"mg_$capacity"
        val q = out.writeStream.outputMode(OutputMode.Append)
          .format("memory").queryName(name).start()
        try {
          in.addData(b1: _*); q.processAllAvailable()
          in.addData(b2: _*); q.processAllAvailable()
          // append mode re-emits per batch: keep the LAST emission per token
          spark.table(name).as[StatefulOps.HeavyHitter].collect()
            .groupBy(h => (h.shard, h.token))
            .view.mapValues(hs => { val h = hs.last; (h.lo, h.hi) }).toMap
        } finally q.stop()
      }

      // capacity ≥ per-shard vocabulary → no decrements: counts are EXACT
      val roomy = run(16)
      assert(roomy.size == 10)
      roomy.foreach { case ((_, tok), (lo, hi)) =>
        assert(lo == exact(tok) && hi == exact(tok),
          s"$tok: ($lo,$hi) vs exact ${exact(tok)}")
      }
      // tight capacity → decrement rounds happen, but every survivor's
      // bounds bracket its true count, and state never exceeds capacity
      val tight = run(2)
      assert(tight.nonEmpty)
      tight.groupBy(_._1._1).foreach { case (shard, toks) =>
        assert(toks.size <= 2, s"shard $shard exceeded capacity: $toks")
      }
      tight.foreach { case ((_, tok), (lo, hi)) =>
        assert(lo <= exact(tok) && exact(tok) <= hi,
          s"$tok: bounds ($lo,$hi) must bracket exact ${exact(tok)}")
      }
      // deterministic: a re-run over the same batches reproduces the output
      assert(run(2) == tight)
    }
  }

  test("streaming funnel advances per user across batches, gated by windows") {
    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      def ev(u: Long, min: Int, t: String) = StatefulOps.FunnelEvent(
        u, java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), t)
      val in = MemoryStream[StatefulOps.FunnelEvent]
      val out = StatefulOps.funnelTws(spark, in.toDS(),
        stepWindowMs = 10 * 60 * 1000L) // 10-minute step window
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("funnel").start()
      def latest(): Map[Long, (Long, Long)] =
        spark.table("funnel").as[StatefulOps.FunnelOut].collect()
          .groupBy(_.user).view
          .mapValues(hs => { val h = hs.maxBy(_.stage); (h.stage, h.purchaseMs) })
          .toMap
      try {
        // batch 1: u1 views+clicks; u2 views; u3 purchases with NO view (noop);
        // u4 views then clicks OUTSIDE the 10-min window (stays at stage 1)
        in.addData(ev(1, 0, "view"), ev(1, 5, "click"),
          ev(2, 0, "view"), ev(3, 0, "purchase"),
          ev(4, 0, "view"), ev(4, 20, "click"))
        q.processAllAvailable()
        var l = latest()
        assert(l(1)._1 == 2L && l(2)._1 == 1L && !l.contains(3L) && l(4)._1 == 1L)
        // batch 2: u1 purchases in-window (cross-batch state continuation);
        // u2's click lands in-window; a LATER view for u1 must not reset
        in.addData(ev(1, 9, "purchase"), ev(1, 30, "view"), ev(2, 8, "click"))
        q.processAllAvailable()
        l = latest()
        assert(l(1)._1 == 3L, s"u1 must complete the funnel: $l")
        assert(l(1)._2 == ev(1, 9, "x").ts.getTime, "purchase ts recorded")
        assert(l(2)._1 == 2L)
        assert(l(4)._1 == 1L, "out-of-window click must not advance u4")
      } finally q.stop()
    }
  }

  test("streaming burst collapse keeps burst openers across batch boundaries") {
    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      def ev(u: Long, t: String, id: Long, sec: Int) = StatefulOps.BurstEvent(
        u, t, id, new java.sql.Timestamp(1704100000000L + sec * 1000L))
      val in = MemoryStream[StatefulOps.BurstEvent]
      val out = StatefulOps.burstCollapseTws(spark, in.toDS(), gapSec = 60)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("bursts").start()
      def kept(): Set[Long] =
        spark.table("bursts").as[StatefulOps.BurstKept].collect()
          .map(_.eventId).toSet
      try {
        // u1/A: burst opens at 0s, chains through 30s/50s; u1/B independent;
        // u2/A: boundary gap of exactly 60s joins (> is strict)
        in.addData(ev(1, "A", 1, 0), ev(1, "A", 2, 30),
          ev(1, "B", 5, 40), ev(2, "A", 6, 10), ev(2, "A", 7, 70))
        q.processAllAvailable()
        assert(kept() == Set(1L, 5L, 6L), s"got ${kept()}")
        // batch 2 splits u1/A's burst mid-chain: 50s is 20s after the
        // LAST batch-1 event (cross-batch state), so it's absorbed; 200s
        // opens a new burst; u2/A at 131s is 61s after 70s → new burst
        in.addData(ev(1, "A", 3, 50), ev(1, "A", 4, 200), ev(2, "A", 8, 131))
        q.processAllAvailable()
        assert(kept() == Set(1L, 5L, 6L, 4L, 8L), s"got ${kept()}")
      } finally q.stop()
    }
  }

  test("streaming domain-budget admission: greedy, persistent, batch-equivalent") {
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[StatefulOps.DocArrival]
      val out = StatefulOps.domainBudgetTws(spark, in.toDS(), budgetTokens = 100L)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("admits").start()
      def admits(): Map[Long, (Boolean, Long)] =
        spark.table("admits").as[StatefulOps.DocAdmit].collect()
          .map(a => a.docId -> (a.admitted, a.remaining)).toMap
      try {
        // batch 1, srcA: 40+40 admitted (spent 80), 30 denied (would exceed),
        // then 15 admitted (95) — greedy by docId, denial does NOT spend.
        // srcB keyed independently.
        in.addData(
          StatefulOps.DocArrival("A", 1, 40), StatefulOps.DocArrival("A", 2, 40),
          StatefulOps.DocArrival("A", 3, 30), StatefulOps.DocArrival("A", 4, 15),
          StatefulOps.DocArrival("B", 5, 90))
        q.processAllAvailable()
        var a = admits()
        assert(a(1) == (true, 60L) && a(2) == (true, 20L))
        assert(a(3) == (false, 20L), s"doc 3 must be denied without spending: $a")
        assert(a(4) == (true, 5L))
        assert(a(5) == (true, 10L))
        // batch 2: srcA has 5 left — a 5-token doc fits exactly (<=), then deny
        in.addData(StatefulOps.DocArrival("A", 6, 5),
          StatefulOps.DocArrival("A", 7, 1), StatefulOps.DocArrival("B", 8, 11))
        q.processAllAvailable()
        a = admits()
        assert(a(6) == (true, 0L), "exact-fit doc must be admitted")
        assert(a(7) == (false, 0L), "post-exhaustion doc must be denied")
        assert(a(8) == (false, 10L), "srcB over-budget doc denied")
        // batch equivalence: same greedy fold expressed as a batch query
        // (running admitted-sum in docId order per source)
        val arrivals = Seq(
          ("A", 1L, 40L), ("A", 2L, 40L), ("A", 3L, 30L), ("A", 4L, 15L),
          ("B", 5L, 90L), ("A", 6L, 5L), ("A", 7L, 1L), ("B", 8L, 11L))
        val expect = arrivals.groupBy(_._1).flatMap { case (_, ds) =>
          var s = 0L
          ds.sortBy(_._2).map { case (_, id, nt) =>
            val ok = s + nt <= 100L
            if (ok) s += nt
            id -> ok
          }
        }
        expect.foreach { case (id, ok) =>
          assert(a(id)._1 == ok, s"doc $id streaming/batch admission disagree")
        }
      } finally q.stop()
    }
  }

  test("streaming shift-decay score: exact fold, sandwiched by the closed form") {
    withConf(RocksDb) {
      // Every emission must equal the plain-Scala fold model exactly; the
      // final scores must satisfy closed ≤ fold ≤ closed + n_events, where
      // closed = Σ cents_i >> (w_last − w_i). The fold dominates because a
      // floor-shift of a sum keeps carry bits that summed floor-shifts
      // drop; each event contributes strictly less than one unit of gap.
      // Replay the REAL events table in two time-ordered batches.
      implicit val ctx = spark.sqlContext
      import org.apache.spark.sql.functions.{col, expr}
      val evs = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"),
          expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").as("epoch_day"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, Long, Long)].collect()
        .map { case (u, e, d, c) => StatefulOps.DecayEvent(u, e, d, c) }
        .sortBy(e => (e.epochDay, e.eventId))
      val in = MemoryStream[StatefulOps.DecayEvent]
      val q = StatefulOps.decayScoreTws(spark, in.toDS())
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("decay_scores").start()
      try {
        val (b1, b2) = evs.splitAt(evs.length / 2)
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
        val got = spark.table("decay_scores").as[StatefulOps.DecayScore]
          .collect().map(s => (s.userId, s.eventId) -> s.decayedCents).toMap
        // per-event model: the same fold, re-derived outside Spark
        val model = scala.collection.mutable.Map.empty[(Long, Long), Long]
        val finals = scala.collection.mutable.Map.empty[Long, Long]
        evs.groupBy(_.userId).foreach { case (u, es) =>
          var s = 0L; var lw = 0L; var has = false
          es.sortBy(e => (e.epochDay, e.eventId)).foreach { e =>
            val w = e.epochDay / 7
            val shift = if (has) math.max(0L, math.min(62L, w - lw)) else 0L
            s = (s >> shift.toInt) + e.cents; lw = w; has = true
            model((u, e.eventId)) = s
          }
          finals(u) = s
        }
        assert(got.size == model.size)
        model.foreach { case (k, v) =>
          assert(got(k) == v, s"emission $k: stream ${got(k)} != model $v") }
        // sandwich: closed ≤ fold ≤ closed + n_events
        evs.groupBy(_.userId).foreach { case (u, es) =>
          val wLast = es.map(_.epochDay / 7).max
          val closed = es.map(e =>
            e.cents >> math.min(62L, wLast - e.epochDay / 7).toInt).sum
          assert(closed <= finals(u) && finals(u) <= closed + es.length,
            s"user $u: fold ${finals(u)} outside [$closed, ${closed + es.length}]")
        }
      } finally q.stop()
    }
  }

  test("streaming CUSUM: fold equals Page's closed form across batch splits") {
    // The online recurrence s_i = max(0, s_{i-1} + (x_i − k)) must equal
    // the window closed form q80 computes, P_i − min(0, min_{j≤i} P_j),
    // observation by observation — replayed in two batches so state
    // carry-over is exercised. k and h are FIXED (the deployable form).
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    withConf(RocksDb) {
      val kCents = 500L
      val hCents = 2000L
      val obs = graft.Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("ts_us"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, Long, Long)].collect()
        .map { case (u, e, t, c) => StatefulOps.CusumObs(u, e, t, c) }
        .sortBy(o => (o.tsUs, o.eventId))
      assert(obs.nonEmpty)
      val in = MemoryStream[StatefulOps.CusumObs]
      val q = StatefulOps.cusumTws(spark, in.toDS(), kCents, hCents)
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("cusum_points").start()
      try {
        val (b1, b2) = obs.splitAt(obs.length / 2)
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
        val got = spark.table("cusum_points").as[StatefulOps.CusumPoint]
          .collect().map(p => (p.userId, p.eventId) -> p).toMap
        assert(got.size == obs.length)
        obs.groupBy(_.userId).foreach { case (u, es) =>
          var p = 0L; var minP = 0L; var i = 0L
          es.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            p += e.cents - kCents
            minP = math.min(minP, p)
            i += 1
            val closed = p - math.min(0L, minP)
            val pt = got((u, e.eventId))
            assert(pt.cusum == closed && pt.idx == i,
              s"user $u ev ${e.eventId}: stream ${pt.cusum} != closed $closed")
            assert(pt.alarm == (closed >= hCents))
          }
        }
      } finally q.stop()
    }
  }
}
