package graft.stedi

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.stedi.Schemas.RiskWithBirthYear
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Pure `DataFrame => DataFrame` transforms, one per operator of the STEDI
  * pipelines (SURVEY.md §2). Composable so the same logic runs over a Kafka
  * stream, a `MemoryStream`, or a batch fixture — the Catalyst plan is
  * identical either way (all built-in expressions, fully codegen'd, no UDFs).
  * The one exception is [[joinRiskWithCustomerKeyed]], the streaming form
  * of the parity join: a typed `flatMapGroupsWithState`, which P3 plans
  * only when both inputs are streams, next to the plain join
  * [[joinRiskWithCustomer]] it reproduces.
  *
  * Each function cites the reference call site it re-expresses.
  */
object Transforms {

  /** Kafka's binary `value` → UTF-8 string
    * (`sparkpykafkajoin.py:72`, `selectExpr("cast(value as string) value")`). */
  def castValueAsString(df: DataFrame): DataFrame =
    df.selectExpr("CAST(value AS STRING) value")

  /** Parse the Kafka-Connect Redis envelope and flatten it
    * (`sparkpykafkajoin.py:105-107`: `from_json` + `select(col("value.*"))`). */
  def parseRedisEnvelope(df: DataFrame): DataFrame =
    df.withColumn("value", from_json(col("value"), Schemas.redisSchema))
      .select(col("value.*"))

  /** `zSetEntries[0].element` → `encodedCustomer`
    * (`sparkpykafkajoin.py:111-113`, SQL array subscript + struct field). */
  def extractEncodedCustomer(df: DataFrame): DataFrame =
    df.select(col("key"), col("zSetEntries").getItem(0).getField("element")
      .as("encodedCustomer"))

  /** base64 → binary → UTF-8 string (`sparkpykafkajoin.py:121-123`). */
  def decodeBase64Json(df: DataFrame): DataFrame =
    df.withColumn("customer", unbase64(col("encodedCustomer")).cast("string"))

  /** Parse the inner Customer JSON and flatten
    * (`sparkpykafkajoin.py:133-135`). Missing wire fields parse to null —
    * including the always-null `customer` column (schema quirk, see
    * [[Schemas.customerSchema]]). */
  def parseCustomer(df: DataFrame): DataFrame =
    df.withColumn("customer", from_json(col("customer"), Schemas.customerSchema))
      .select(col("customer.*"))

  /** Drop non-Customer Redis events whose decoded JSON lacks email/birthDay
    * (`sparkpykafkajoin.py:138-149`, SQL `WHERE email IS NOT NULL AND
    * birthDay IS NOT NULL`). */
  def filterValidCustomers(df: DataFrame): DataFrame =
    df.filter(col("email").isNotNull && col("birthDay").isNotNull)

  /** `birthYear = split(birthDay, "-")[0]`, keep `{email, birthYear}`
    * (`sparkpykafkajoin.py:152-154`). */
  def extractBirthYear(df: DataFrame): DataFrame =
    df.select(col("email"),
      split(col("birthDay"), "-").getItem(0).as("birthYear"))

  /** Full P1 decode chain: raw Kafka `value` → `{email, birthYear}`
    * (`sparkpyrediskafkastreamtoconsole.py:63-155`). Stateless and narrow:
    * at any scale this pipelines into one whole-stage-codegen'd task per
    * source partition — no shuffle. */
  val customerPipeline: DataFrame => DataFrame =
    castValueAsString _ andThen parseRedisEnvelope andThen
      extractEncodedCustomer andThen decodeBase64Json andThen parseCustomer andThen
      filterValidCustomers andThen extractBirthYear

  /** P2: parse `stedi-events` risk events → `{customer, score}`
    * (`sparkpyeventskafkastreamtoconsole.py:38-61`). */
  def parseRiskEvent(df: DataFrame): DataFrame =
    castValueAsString(df)
      .withColumn("value", from_json(col("value"), Schemas.stediSchema))
      .select(col("value.customer"), col("value.score"))

  /** P3: stream-stream INNER equi-join on `email = customer`
    * (`sparkpykafkajoin.py:196-198`). Parity mode: no watermark — join state
    * grows unboundedly, late data never dropped (reference behavior).
    *
    * On two streams this is a `StreamingSymmetricHashJoinExec`: both sides
    * shuffle on the key; state lives per-partition. P3 plans the streaming
    * case as [[joinRiskWithCustomerKeyed]] instead and keeps this join for
    * batch inputs, where it is the independent form the stream is checked
    * against. For the 100 TB goal run with the RocksDB state store and the
    * watermarked variant below. */
  def joinRiskWithCustomer(risk: DataFrame, customer: DataFrame): DataFrame =
    risk.join(customer, expr("email = customer"))

  /** One input row of [[joinRiskWithCustomerKeyed]]: a risk event
    * (`score`) or a customer version (`birthYear`) under its email. */
  final case class ParityEvent(email: String, score: java.lang.Float,
                               birthYear: String, isRisk: Boolean)

  /** Every risk score and every birthYear seen so far under one email,
    * packed in arrival order: a score is a null flag and its float bits (5
    * bytes), a birthYear its UTF-8 byte length (-1 for null) and bytes. Two
    * binary fields keep the state's encoders free of `MapObjects`, whose
    * generated source differs each time the encoder is resolved: a
    * collection-typed state made every micro-batch compile its state
    * deserializer anew, with the other state tasks waiting on the compile. */
  final case class ParityState(scores: Array[Byte], birthYears: Array[Byte])

  /** [[joinRiskWithCustomer]] for two streams, as one keyed state operator:
    * a `flatMapGroupsWithState` keyed by email over the union of both
    * sides. Each micro-batch emits its new risk events × every customer
    * version of their key, plus the key's earlier risk events × its new
    * customer versions: the stream-stream join's rows, with its columns
    * `(customer, score, email, birthYear)`, in the same micro-batch. Null
    * keys are dropped, as `=` drops them, inside the operator: a filter
    * ahead of it would be pushed below the risk parse and parse each line
    * twice. State is one row per key, and it grows without bound like the
    * join's (the reference's parity mode); a batch appends its events' bytes
    * to it, and decodes the key's earlier scores only when it brings new
    * customer versions, its earlier birthYears only when it brings new risks.
    *
    * Why not Spark's join: each copy of `StreamingSymmetricHashJoinExec`
    * serializes and broadcasts the session's Hadoop conf, and every
    * micro-batch plans a streaming query three times (planning, plus the
    * two re-plans of the SQL execution-start events): in a paced P3
    * micro-batch that came to 27 broadcasts, against 4 with this operator.
    *
    * Divergences from the join: a checkpoint written by the join-based P3
    * does not resume here (different state operator and schema), nor does
    * one written before the state was packed ([[ParityState]] held two
    * lists then); and under RocksDB a touched key's whole history is
    * rewritten as one value, where the join appends one row per event. */
  def joinRiskWithCustomerKeyed(risk: DataFrame, customer: DataFrame): DataFrame = {
    val spark = risk.sparkSession
    import spark.implicits._
    val r = risk.select(col("customer").as("email"),
      col("score"), lit(null).cast("string").as("birthYear"), lit(true).as("isRisk"))
    val c = customer.select(col("email"),
      lit(null).cast("float").as("score"), col("birthYear"), lit(false).as("isRisk"))
    r.unionByName(c).groupBy("email").as[String, ParityEvent]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(parityStep)
      .toDF()
  }

  private def parityStep(email: String, events: Iterator[ParityEvent],
      state: GroupState[ParityState]): Iterator[RiskWithBirthYear] =
    if (email == null) Iterator.empty
    else {
      val (risks, custs) = events.toVector.partition(_.isRisk)
      val scores = risks.map(_.score)
      val years = custs.map(_.birthYear)
      val old = state.getOption.getOrElse(ParityState(Array.emptyByteArray, Array.emptyByteArray))
      val oldScores = if (years.isEmpty) Vector.empty else unpackScores(old.scores)
      val oldYears = if (scores.isEmpty) Vector.empty else unpackYears(old.birthYears)
      state.update(ParityState(old.scores ++ packScores(scores),
        old.birthYears ++ packYears(years)))
      def rows(ss: Seq[java.lang.Float], ys: Seq[String]) =
        ss.iterator.flatMap(s => ys.iterator.map(y => RiskWithBirthYear(email, s, email, y)))
      rows(scores, oldYears ++ years) ++ rows(oldScores, years)
    }

  private def packScores(ss: Seq[java.lang.Float]): Array[Byte] = {
    val b = ByteBuffer.allocate(5 * ss.size)
    ss.foreach(s => if (s == null) b.put(0: Byte).putFloat(0f) else b.put(1: Byte).putFloat(s))
    b.array
  }

  private def unpackScores(a: Array[Byte]): Vector[java.lang.Float] = {
    val b = ByteBuffer.wrap(a)
    Vector.fill(a.length / 5) {
      val present = b.get() != 0
      val s = b.getFloat
      if (present) java.lang.Float.valueOf(s) else null
    }
  }

  private def packYears(ys: Seq[String]): Array[Byte] = {
    val utf8 = ys.map(y => if (y == null) null else y.getBytes(UTF_8))
    val b = ByteBuffer.allocate(utf8.map(u => 4 + (if (u == null) 0 else u.length)).sum)
    utf8.foreach(u => if (u == null) b.putInt(-1) else b.putInt(u.length).put(u))
    b.array
  }

  private def unpackYears(a: Array[Byte]): Vector[String] = {
    val b = ByteBuffer.wrap(a)
    val out = Vector.newBuilder[String]
    while (b.hasRemaining) {
      val n = b.getInt
      out += (if (n < 0) null else new String(a, b.position(), n, UTF_8))
      b.position(b.position() + math.max(n, 0))
    }
    out.result()
  }

  /** Hardened variant: watermarks bound join state. Documented divergence
    * from the reference: customers/risk events arriving later than the
    * watermark delay are dropped (SURVEY.md §7 "what's hard").
    *
    * Watermarks ALONE never bound an inner equi-join's state — the engine
    * can't prove when a match stops being possible, so it retains every
    * row exactly like the unwatermarked parity join (StediStreamingSpec's
    * offline state-store audit demonstrates both behaviors). The `__cts
    * BETWEEN __ts ± delay` event-time constraint is what closes each
    * row's match window and lets its state evict; it also narrows
    * semantics to versions within `delay` of the event — the trade a
    * bounded-state production join makes. */
  def joinRiskWithCustomerWatermarked(
      risk: DataFrame, riskTs: Column, customer: DataFrame, custTs: Column,
      delay: String): DataFrame =
    watermarkedJoin(risk, riskTs, customer, custTs, delay, "inner")
      .drop("__ts", "__cts")

  /** LEFT OUTER stream-stream join (beyond the reference's inner join):
    * risk events with no matching customer are emitted null-padded once the
    * watermark guarantees no match can still arrive. Structured Streaming
    * requires BOTH watermarks AND an event-time bound in the condition for
    * outer joins — the bound is what lets the engine prove a row's match
    * window has closed and evict its state. */
  def joinRiskWithCustomerLeftOuter(
      risk: DataFrame, riskTs: Column, customer: DataFrame, custTs: Column,
      delay: String): DataFrame =
    watermarkedJoin(risk, riskTs, customer, custTs, delay, "left_outer")

  /** FULL OUTER stream-stream join: unmatched rows from EITHER side emit
    * null-padded once the watermark closes their match window — risk events
    * with no customer AND customers who never produced a risk event both
    * surface (the audit view of the feed). Same watermark + event-time
    * bound requirements as the left-outer variant. */
  def joinRiskWithCustomerFullOuter(
      risk: DataFrame, riskTs: Column, customer: DataFrame, custTs: Column,
      delay: String): DataFrame =
    watermarkedJoin(risk, riskTs, customer, custTs, delay, "full_outer")

  /** Both sides watermarked by `delay` on their event time (`__ts` for
    * risk, `__cts` for customer), joined on `email = customer` with
    * `__cts BETWEEN __ts ± delay`; the event-time columns stay in the
    * output. */
  private def watermarkedJoin(
      risk: DataFrame, riskTs: Column, customer: DataFrame, custTs: Column,
      delay: String, joinType: String): DataFrame = {
    val r = risk.withColumn("__ts", riskTs).withWatermark("__ts", delay)
    val c = customer.withColumn("__cts", custTs).withWatermark("__cts", delay)
    r.join(c,
      expr(s"email = customer AND __cts BETWEEN __ts - INTERVAL $delay" +
        s" AND __ts + INTERVAL $delay"),
      joinType)
  }

  /** Reserialize all columns as one JSON `value` for the Kafka sink
    * (`sparkpykafkajoin.py:212`, `TO_JSON(struct(*))`). */
  def toJsonValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))
}
