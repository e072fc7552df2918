package graft.streaming

import graft.stedi.Schemas.RiskEvent
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Custom stateful streaming operators (`flatMapGroupsWithState`) — the
  * surface the reference left as empty stubs
  * (`sparkpyoptionalriskcalculation.py:1-10` is import-only, so the risk-
  * score computation lives in the closed-source STEDI app,
  * `README.md:96`). This realizes that missing piece Spark-natively: the
  * documented rule "a customer gets a risk score once they have ≥4
  * completed assessments" becomes keyed state over the event stream.
  *
  * Scale: state is per-customer (a count + a sum — constant bytes/key),
  * hash-partitioned by group key; with the RocksDB state store provider this
  * holds billions of keys. Timeouts bound idle-key state.
  */
object StatefulOps {

  /** Per-customer running aggregate. */
  final case class RiskState(nAssessments: Long, totalScore: Double)

  /** Emitted when a customer crosses the ≥`minAssessments` threshold and on
    * every update after. */
  final case class RiskScore(customer: String, nAssessments: Long,
                             avgScore: Double)

  val MinAssessments = 4

  /** One key's step, shared by both operator forms: fold a batch's events
    * into `prior` and emit a score once the customer has ≥ minAssessments
    * (README.md:96 behavior). The fold runs in score order — event order
    * within a batch is not guaranteed by the source. A nested object, so
    * the operator closures reach it statically and do not capture the
    * (non-serializable) enclosing object. */
  private object RiskFold {
    def apply(customer: String, prior: RiskState, batch: Iterator[RiskEvent],
        minAssessments: Int): (RiskState, Iterator[RiskScore]) = {
      val s = batch.map(e => Option(e.score).map(_.toDouble).getOrElse(0.0)).toSeq.sorted
        .foldLeft(prior)((s, sc) => RiskState(s.nAssessments + 1, s.totalScore + sc))
      (s, if (s.nAssessments >= minAssessments)
        Iterator(RiskScore(customer, s.nAssessments, s.totalScore / s.nAssessments))
      else Iterator.empty)
    }
  }

  /** Fold risk events into per-customer state ([[RiskFold]]). Works on both
    * streaming and batch Datasets (batch: single invocation per key). */
  def runningRiskScore(spark: SparkSession, events: Dataset[RiskEvent],
      minAssessments: Int = MinAssessments): Dataset[RiskScore] = {
    import spark.implicits._
    def update(customer: String, batch: Iterator[RiskEvent],
        state: GroupState[RiskState]): Iterator[RiskScore] = {
      val (s, out) = RiskFold(customer,
        state.getOption.getOrElse(RiskState(0L, 0.0)), batch, minAssessments)
      state.update(s)
      out
    }
    events.groupByKey(_.customer)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** The same operator on the transformWithState API (Spark 4's arbitrary-
    * stateful processor model, the successor to [flatMap]GroupsWithState):
    * named typed state handles (here one ValueState; List/Map state and
    * timers are available for richer operators), explicit TimeMode, and
    * per-state TTL — the pieces a production 100 TB stateful pipeline
    * needs that GroupState can't express (state TTL without timeouts
    * hijacking the output path, multiple independent state variables,
    * state schema evolution). Requires the RocksDB state store provider. */
  final class RiskScoreProcessor(minAssessments: Int)
      extends StatefulProcessor[String, RiskEvent, RiskScore] {
    @transient private var state: ValueState[RiskState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RiskState]("risk",
        Encoders.product[RiskState], TTLConfig.NONE)

    override def handleInputRows(customer: String, rows: Iterator[RiskEvent],
        timerValues: TimerValues): Iterator[RiskScore] = {
      val (s, out) = RiskFold(customer,
        if (state.exists()) state.get() else RiskState(0L, 0.0), rows, minAssessments)
      state.update(s)
      out
    }
  }

  /** [[runningRiskScore]] via [[RiskScoreProcessor]] / transformWithState. */
  def runningRiskScoreTws(spark: SparkSession, events: Dataset[RiskEvent],
      minAssessments: Int = MinAssessments): Dataset[RiskScore] = {
    import spark.implicits._
    events.groupByKey(_.customer)
      .transformWithState(new RiskScoreProcessor(minAssessments),
        TimeMode.None(), OutputMode.Append())
  }

  /** A user event keyed by an event-time TIMESTAMP field — kept as a
    * timestamp (not epoch ms) so `withWatermark("ts", …)` attaches to it
    * and survives into the keyed transformWithState. */
  final case class UserEvent(user: String, ts: java.sql.Timestamp)
  final case class SessionAgg(startMs: Long, lastMs: Long, n: Long,
      timerMs: Long)
  final case class SessionOut(user: String, startMs: Long, endMs: Long,
      nEvents: Long)

  /** Event-time session closing on TIMERS: each new event extends the open
    * session and re-arms a timer at lastEvent + gap; when the WATERMARK
    * passes that instant, `handleExpiredTimer` emits the closed session and
    * clears state. This is the operator `session_window` aggregation can't
    * express when the per-session output needs custom logic, and the
    * GroupState API could only approximate with processing-time timeouts —
    * event-time timers close sessions by DATA time, reproducibly on replay.
    * State: one constant-size SessionAgg per open session per user. */
  final class SessionGapProcessor(gapMs: Long)
      extends StatefulProcessor[String, UserEvent, SessionOut] {
    @transient private var sess: ValueState[SessionAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionAgg]("sess",
        Encoders.product[SessionAgg], TTLConfig.NONE)

    override def handleInputRows(user: String, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[SessionOut] = {
      // intra-batch order is not guaranteed by the source — fold in ts order
      val evs = rows.toSeq.map(e => e.ts.getTime).sorted
      var out = List.empty[SessionOut]
      var s = if (sess.exists()) sess.get() else null
      evs.foreach { tsMs =>
        s match {
          case null =>
            s = SessionAgg(tsMs, tsMs, 1L, tsMs + gapMs)
          case prev if tsMs > prev.lastMs + gapMs =>
            // gap within one batch: close inline (its timer may be armed —
            // disarm), start fresh
            out ::= SessionOut(user, prev.startMs, prev.lastMs, prev.n)
            getHandle.deleteTimer(prev.timerMs)
            s = SessionAgg(tsMs, tsMs, 1L, tsMs + gapMs)
          case prev =>
            getHandle.deleteTimer(prev.timerMs)
            s = SessionAgg(prev.startMs, math.max(prev.lastMs, tsMs),
              prev.n + 1, math.max(prev.lastMs, tsMs) + gapMs)
        }
      }
      if (s != null) { sess.update(s); getHandle.registerTimer(s.timerMs) }
      out.reverseIterator
    }

    override def handleExpiredTimer(user: String, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] = {
      if (!sess.exists()) return Iterator.empty
      val s = sess.get()
      // a stale timer (superseded by a later event) must not close the
      // extended session — only the CURRENT session-end timer does
      if (expiredTimerInfo.getExpiryTimeInMs() != s.timerMs) Iterator.empty
      else {
        sess.clear()
        Iterator(SessionOut(user, s.startMs, s.lastMs, s.n))
      }
    }
  }

  /** Sessionize a (user, ts) stream by event-time gap; `events` must carry
    * a watermark (timers fire when it passes session-end + gap). */
  def sessionizeTws(spark: SparkSession, events: Dataset[UserEvent],
      gapMs: Long): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user)
      .transformWithState(new SessionGapProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TypedEvent(user: String, ts: java.sql.Timestamp,
      eventType: String, value: Double)
  final case class ProfileOut(user: String, totalEvents: Long, nTypes: Long,
      topType: String, recentMean: Double)

  /** Multi-variable state on one processor — the transformWithState surface
    * [flatMap]GroupsWithState's single state value can't express:
    *
    *  - `ListState` "recent": a bounded ring of the last `k` event values
    *    (per-entry rows in the state store — append is O(1), no
    *    read-modify-write of a whole buffer like a GroupState Seq field);
    *  - `MapState` "type_counts": per-event-type running counts (point
    *    lookup + update per distinct key — a GroupState Map field would
    *    rewrite the entire map every batch);
    *  - `ValueState` "total": one running counter.
    *
    * Emits one profile row per (user, batch): total events, distinct types,
    * deterministic top type (max count, ties → lexicographic min), mean of
    * the retained recent window. At 100 TB each state variable is its own
    * RocksDB column family keyed by user — billions of users hold, and TTL
    * can expire idle profiles per-variable. */
  final class UserProfileProcessor(k: Int)
      extends StatefulProcessor[String, TypedEvent, ProfileOut] {
    @transient private var recent: ListState[Double] = _
    @transient private var typeCounts: MapState[String, Long] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[Double]("recent",
        Encoders.scalaDouble, TTLConfig.NONE)
      typeCounts = getHandle.getMapState[String, Long]("type_counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: String, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[ProfileOut] = {
      // intra-batch order is not source-guaranteed — fold in (ts, type) order
      val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventType, e.value))
      evs.foreach { e =>
        val c = if (typeCounts.containsKey(e.eventType))
          typeCounts.getValue(e.eventType) else 0L
        typeCounts.updateValue(e.eventType, c + 1L)
        recent.appendValue(e.value)
      }
      // trim the ring to the last k entries (ListState has no tail-drop —
      // a put() of the retained suffix rewrites it; suffix length ≤ k)
      val vals = recent.get().toArray
      val kept = if (vals.length > k) {
        val tail = vals.takeRight(k); recent.put(tail); tail
      } else vals
      val t = (if (total.exists()) total.get() else 0L) + evs.length
      total.update(t)
      val top = typeCounts.iterator().toSeq
        .sortBy { case (ty, c) => (-c, ty) }.head
      Iterator(ProfileOut(user, t, typeCounts.keys().length.toLong, top._1,
        if (kept.isEmpty) 0.0 else kept.sum / kept.length))
    }
  }

  /** Per-user profile accumulation over [[UserProfileProcessor]]. */
  def userProfileTws(spark: SparkSession, events: Dataset[TypedEvent],
      k: Int): Dataset[ProfileOut] = {
    import spark.implicits._
    events.groupByKey(_.user)
      .transformWithState(new UserProfileProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** A heavy-hitter estimate: `lo ≤ true count ≤ hi` (Misra-Gries bounds:
    * lo = the surviving counter, hi = lo + decrement rounds). */
  final case class HeavyHitter(shard: Int, token: String, lo: Long, hi: Long)

  /** Streaming Misra-Gries heavy hitters — ingest-time top-token tracking
    * with HARD-bounded state: at most `capacity` counters per shard, ever,
    * regardless of stream length or vocabulary size (the batch form is
    * `FrequentItemsAggregator`; this is its transformWithState twin, closing
    * the streaming sketch family: HLL = distincts, CMS = point frequencies,
    * MG = top items). Per shard: a MapState of surviving counters plus one
    * ValueState counting decrement rounds `d`; the classic invariant
    * `c ≤ true ≤ c + d` holds for every surviving token, and a token with
    * true count > d is GUARANTEED to survive. After each batch the shard
    * re-emits its counters with [lo, hi] bounds (append mode: the latest
    * emission per (shard, token) supersedes earlier ones).
    *
    * Sharding is the scale lever: group by `hash(token) % shards` so each
    * shard tracks its own token subspace — counters for the SAME token
    * never split across shards, so per-shard bounds hold globally. */
  final class HeavyHittersProcessor(capacity: Int)
      extends StatefulProcessor[Int, (Int, String), HeavyHitter] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var decRounds: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("mg_counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      decRounds = getHandle.getValueState[Long]("mg_dec_rounds",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(shard: Int, rows: Iterator[(Int, String)],
        timerValues: TimerValues): Iterator[HeavyHitter] = {
      var d = if (decRounds.exists()) decRounds.get() else 0L
      // intra-batch arrival order is not source-guaranteed — fold sorted
      rows.toSeq.map(_._2).sorted.foreach { tok =>
        if (counts.containsKey(tok))
          counts.updateValue(tok, counts.getValue(tok) + 1L)
        else if (counts.keys().length < capacity)
          counts.updateValue(tok, 1L)
        else {
          // table full and token unseen: decrement EVERY counter (the new
          // token's implicit 0 absorbs its own +1) — one round, d += 1
          counts.iterator().toSeq.foreach { case (t, c) =>
            if (c <= 1L) counts.removeKey(t)
            else counts.updateValue(t, c - 1L)
          }
          d += 1L
        }
      }
      decRounds.update(d)
      counts.iterator().toSeq
        .sortBy { case (t, c) => (-c, t) }
        .iterator.map { case (t, c) => HeavyHitter(shard, t, c, c + d) }
    }
  }

  /** Shard-and-track heavy hitters over a token stream. */
  def heavyHittersTws(spark: SparkSession, tokens: Dataset[String],
      capacity: Int, shards: Int = 4): Dataset[HeavyHitter] = {
    import spark.implicits._
    tokens.map(t => (math.floorMod(t.hashCode, shards), t))
      .groupByKey(_._1)
      .transformWithState(new HeavyHittersProcessor(capacity),
        TimeMode.None(), OutputMode.Append())
  }

  final case class FunnelEvent(user: Long, ts: java.sql.Timestamp,
      etype: String)
  /** -1 marks an unreached step. */
  final case class FunnelProgress(viewMs: Long, clickMs: Long,
      purchaseMs: Long)
  final case class FunnelOut(user: Long, viewMs: Long, clickMs: Long,
      purchaseMs: Long, stage: Long)

  /** Streaming form of the q56 ordered funnel (view → click → purchase,
    * each step within `stepWindowMs` of the previous): per-user
    * constant-size progress state, updated as events arrive, a new
    * emission on every advance (append mode — the latest row per user is
    * the current funnel position). On an event-time-ordered replay the
    * final emissions equal the batch funnel: the first qualifying event
    * encountered in order IS the min-ts event batch q56 picks. Out-of-
    * order arrivals that would retroactively change a step are a
    * documented divergence — production pairs this with a watermark-sized
    * reorder buffer upstream.
    *
    * State: one 3-long struct per user — billions of users hold under
    * RocksDB, and TTL (not used here) can expire stale funnels. */
  final class FunnelProcessor(stepWindowMs: Long)
      extends StatefulProcessor[Long, FunnelEvent, FunnelOut] {
    @transient private var prog: ValueState[FunnelProgress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      prog = getHandle.getValueState[FunnelProgress]("funnel",
        Encoders.product[FunnelProgress], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      var s = if (prog.exists()) prog.get()
              else FunnelProgress(-1L, -1L, -1L)
      var advanced = false
      // intra-batch order is not source-guaranteed — fold in event order
      rows.toSeq.sortBy(e => (e.ts.getTime, e.etype)).foreach { e =>
        val t = e.ts.getTime
        e.etype match {
          case "view" if s.viewMs < 0 =>
            s = s.copy(viewMs = t); advanced = true
          case "click" if s.viewMs >= 0 && s.clickMs < 0 &&
              t >= s.viewMs && t <= s.viewMs + stepWindowMs =>
            s = s.copy(clickMs = t); advanced = true
          case "purchase" if s.clickMs >= 0 && s.purchaseMs < 0 &&
              t >= s.clickMs && t <= s.clickMs + stepWindowMs =>
            s = s.copy(purchaseMs = t); advanced = true
          case _ => ()
        }
      }
      if (!advanced) Iterator.empty
      else {
        prog.update(s)
        val stage = 1L + (if (s.clickMs >= 0) 1L else 0L) +
          (if (s.purchaseMs >= 0) 1L else 0L)
        Iterator(FunnelOut(user, s.viewMs, s.clickMs, s.purchaseMs, stage))
      }
    }
  }

  /** Per-user streaming funnel tracking over [[FunnelProcessor]]. */
  def funnelTws(spark: SparkSession, events: Dataset[FunnelEvent],
      stepWindowMs: Long): Dataset[FunnelOut] = {
    import spark.implicits._
    events.groupByKey(_.user)
      .transformWithState(new FunnelProcessor(stepWindowMs),
        TimeMode.None(), OutputMode.Append())
  }

  // ---- streaming burst collapse (q63's ingest-time form) ----

  final case class BurstEvent(user: Long, etype: String, eventId: Long,
    ts: java.sql.Timestamp)
  final case class BurstKept(user: Long, etype: String, eventId: Long,
    tsMs: Long)

  /** Streaming q63: within a (user, type) stream, an event whose gap to
    * the PREVIOUS event (kept or dropped — bursts chain) is ≤ `gapSec`
    * joins the burst and is suppressed; a larger gap opens a new burst and
    * the opener is emitted immediately. Gaps compare in truncated whole
    * seconds, mirroring the batch query's `unix_timestamp` arithmetic.
    * State is one 8-byte ValueState (last event's epoch millis) per live
    * (user, type) key. Equals batch q63's kept set on event-time-ordered
    * replay; out-of-order arrivals follow the [[FunnelProcessor]]
    * contract — pair with an upstream reorder buffer. */
  final class BurstCollapseProcessor(gapSec: Long)
      extends StatefulProcessor[(Long, String), BurstEvent, BurstKept] {
    @transient private var lastMs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastMs = getHandle.getValueState[Long]("lastMs",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Long, String),
        rows: Iterator[BurstEvent],
        timerValues: TimerValues): Iterator[BurstKept] = {
      var has = lastMs.exists()
      var last = if (has) lastMs.get() else 0L
      val kept = scala.collection.mutable.ArrayBuffer.empty[BurstKept]
      // intra-batch order is not source-guaranteed — fold in event order
      rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
        val t = e.ts.getTime
        if (!has || t / 1000 - last / 1000 > gapSec)
          kept += BurstKept(e.user, e.etype, e.eventId, t)
        last = t
        has = true
      }
      lastMs.update(last)
      kept.iterator
    }
  }

  /** Per-(user, type) streaming debounce over [[BurstCollapseProcessor]]. */
  def burstCollapseTws(spark: SparkSession, events: Dataset[BurstEvent],
      gapSec: Long): Dataset[BurstKept] = {
    import spark.implicits._
    events.groupByKey(e => (e.user, e.etype))
      .transformWithState(new BurstCollapseProcessor(gapSec),
        TimeMode.None(), OutputMode.Append())
  }

  /** One streamed document offered for ingestion. */
  case class DocArrival(source: String, docId: Long, nTokens: Long)
  /** Admission decision: admitted until the domain budget is spent. */
  case class DocAdmit(source: String, docId: Long, nTokens: Long,
      admitted: Boolean, remaining: Long)

  /** Streaming front half of q72's mixture plan: admit documents per
    * source domain until that domain's token budget is exhausted, then
    * deny — the online form of "stop ingesting domain X once its mixture
    * allocation is met". State is ONE long per domain (tokens spent);
    * decisions are greedy in docId order within a batch so replays are
    * deterministic, and cross-batch continuation comes from the persisted
    * counter, not event-time — TimeMode.None. A denied doc never charges
    * the budget (admission is all-or-nothing per doc, no partial spend).
    * At scale the key space is |domains| (tiny), so the stateful shuffle
    * is a rebalance by domain; skew equals domain-arrival skew, which is
    * exactly what the budget is throttling in the first place. */
  final class DomainBudgetProcessor(budgetTokens: Long)
      extends StatefulProcessor[String, DocArrival, DocAdmit] {
    @transient private var spent: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      spent = getHandle.getValueState[Long]("spent",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[DocArrival],
        timerValues: TimerValues): Iterator[DocAdmit] = {
      var s = if (spent.exists()) spent.get() else 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[DocAdmit]
      rows.toSeq.sortBy(_.docId).foreach { d =>
        val admit = s + d.nTokens <= budgetTokens
        if (admit) s += d.nTokens
        out += DocAdmit(d.source, d.docId, d.nTokens, admit, budgetTokens - s)
      }
      spent.update(s)
      out.iterator
    }
  }

  /** Per-source streaming budget admission over [[DomainBudgetProcessor]]. */
  def domainBudgetTws(spark: SparkSession, docs: Dataset[DocArrival],
      budgetTokens: Long): Dataset[DocAdmit] = {
    import spark.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new DomainBudgetProcessor(budgetTokens),
        TimeMode.None(), OutputMode.Append())
  }

  /** One scored engagement event (cents already floored, q76's encoding). */
  case class DecayEvent(userId: Long, eventId: Long, epochDay: Long, cents: Long)
  /** Running decayed score AFTER folding this event. */
  case class DecayScore(userId: Long, eventId: Long, decayedCents: Long)

  /** Streaming twin of q76's shift-decay score: the incremental fold
    * `score = (score >> Δweeks) + cents` with ages in EPOCH weeks
    * (epochDay div 7), whose differences telescope across arrivals —
    * the decay an online system can actually maintain with two longs of
    * state per user. The fold is NOT bit-equal to the batch closed form
    * Σ cents_i >> (w_last − w_i): a floor-shift of a sum keeps carry
    * bits that summed floor-shifts drop ((a+b)>>d ≥ a>>d + b>>d), so
    * the fold dominates, by strictly less than one unit per event. The
    * spec pins the exact fold (vs a plain-Scala model) AND the sandwich
    * closed ≤ fold ≤ closed + n_events on the real corpus. Events must
    * arrive non-decreasing in event time per user (enforced order inside
    * a batch; cross-batch regressions shift by a negative → guarded
    * to 0). */
  final class DecayScoreProcessor
      extends StatefulProcessor[Long, DecayEvent, DecayScore] {
    @transient private var lastWeek: ValueState[Long] = _
    @transient private var score: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastWeek = getHandle.getValueState[Long]("lastWeek",
        Encoders.scalaLong, TTLConfig.NONE)
      score = getHandle.getValueState[Long]("score",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[DecayEvent],
        timerValues: TimerValues): Iterator[DecayScore] = {
      var has = lastWeek.exists()
      var lw = if (has) lastWeek.get() else 0L
      var s = if (score.exists()) score.get() else 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[DecayScore]
      rows.toSeq.sortBy(e => (e.epochDay, e.eventId)).foreach { e =>
        val w = e.epochDay / 7
        val shift = if (has) math.max(0L, math.min(62L, w - lw)) else 0L
        s = (s >> shift.toInt) + e.cents
        lw = w
        has = true
        out += DecayScore(userId, e.eventId, s)
      }
      lastWeek.update(lw)
      score.update(s)
      out.iterator
    }
  }

  /** Per-user streaming shift-decay over [[DecayScoreProcessor]]. */
  def decayScoreTws(spark: SparkSession,
      events: Dataset[DecayEvent]): Dataset[DecayScore] = {
    import spark.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new DecayScoreProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One observation of a user's monitored metric (integer cents). */
  case class CusumObs(userId: Long, eventId: Long, tsUs: Long, cents: Long)
  /** One-sided CUSUM state AFTER folding this observation. */
  case class CusumPoint(userId: Long, eventId: Long, idx: Long, cusum: Long,
    alarm: Boolean)

  /** Streaming twin of q80's drift detector, in the form Page's CUSUM
    * (1954) is actually deployed online: the reference level k and alarm
    * threshold h are FIXED (calibrated on a reference window) rather than
    * derived from the whole series — batch q80 is inherently two-pass
    * (its k is the series mean), which no online monitor can be. State
    * per user is two longs (running one-sided sum + observation index);
    * the fold s_i = max(0, s_{i−1} + (x_i − k)) is EXACTLY the closed
    * form P_i − min(0, min_{j≤i} P_j) that q80 reads off window frames —
    * the spec asserts bit-equality of the fold against that closed form
    * on replay. Events must arrive time-ordered per key across batches
    * (the q63/q76 contract; within a batch the processor sorts). */
  final class CusumProcessor(kCents: Long, hCents: Long)
      extends StatefulProcessor[Long, CusumObs, CusumPoint] {
    @transient private var cusum: ValueState[Long] = _
    @transient private var idx: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cusum = getHandle.getValueState[Long]("cusum",
        Encoders.scalaLong, TTLConfig.NONE)
      idx = getHandle.getValueState[Long]("idx",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[CusumObs],
        timerValues: TimerValues): Iterator[CusumPoint] = {
      var s = if (cusum.exists()) cusum.get() else 0L
      var i = if (idx.exists()) idx.get() else 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[CusumPoint]
      rows.toSeq.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
        s = math.max(0L, s + (e.cents - kCents))
        i += 1
        out += CusumPoint(userId, e.eventId, i, s, s >= hCents)
      }
      cusum.update(s)
      idx.update(i)
      out.iterator
    }
  }

  /** Per-user streaming CUSUM over [[CusumProcessor]]. */
  def cusumTws(spark: SparkSession, obs: Dataset[CusumObs],
      kCents: Long, hCents: Long): Dataset[CusumPoint] = {
    import spark.implicits._
    obs.groupByKey(_.userId)
      .transformWithState(new CusumProcessor(kCents, hCents),
        TimeMode.None(), OutputMode.Append())
  }
}
