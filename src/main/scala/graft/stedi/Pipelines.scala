package graft.stedi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** The three STEDI streaming pipelines (SURVEY.md §0 P1/P2/P3), source- and
  * sink-agnostic: the transform chains are [[Transforms]] compositions, so
  * the same Catalyst plans run over Kafka in production, `MemoryStream` in
  * tests, or batch DataFrames for the oracle harness.
  *
  * Divergences from the reference, deliberate and documented:
  *  - P3's console query in the reference is dead code after a blocking
  *    `awaitTermination()` (`sparkpykafkajoin.py:218-221`); here multiple
  *    queries are started and awaited together (`awaitAnyTermination`).
  *  - Streaming P3 is not Spark's stream-stream join (the reference's
  *    `sparkpykafkajoin.py:196`) but one `flatMapGroupsWithState` keyed by
  *    email ([[Transforms.joinRiskWithCustomerKeyed]]) with the join's rows
  *    and columns in the same micro-batch; batch P3 stays the plain join.
  *    A checkpoint written by the join-based P3 does not resume on it, nor
  *    does one written before its state was packed into two byte arrays
  *    ([[Transforms.ParityState]]); and under RocksDB each touched key's
  *    history is rewritten as one value, where the join appends one row per
  *    event.
  *  - A hardened P3 variant adds watermarks so join state is bounded
  *    (the reference's join state grows forever, `sparkpykafkajoin.py:196`).
  *  - The 100 TB deployment ([[graft.ClusterConfigs.cluster]]) runs these
  *    on the RocksDB state store, so join/agg state lives off-heap.
  */
object Pipelines {

  /** Kafka streaming source with the reference's options
    * (`sparkpykafkajoin.py:63-69`: earliest offsets, one topic).
    *
    * Requires `spark-sql-kafka-0-10` on the cluster classpath (the reference
    * ships it via `--packages`, `submit-event-kafkajoin.sh:3-4`); the test
    * container has no connector/broker, so Kafka wiring is exercised
    * structurally and the transform chains behind it via MemoryStream. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** P1: redis-server envelope → {email, birthYear}
    * (`sparkpyrediskafkastreamtoconsole.py`). `raw` must have a string/binary
    * `value` column. */
  def p1CustomerDecode(raw: DataFrame): DataFrame =
    Transforms.customerPipeline(raw)

  /** P2: stedi-events → {customer, score}
    * (`sparkpyeventskafkastreamtoconsole.py`). */
  def p2RiskEvents(raw: DataFrame): DataFrame =
    Transforms.parseRiskEvent(raw)

  /** P3: join risk events with decoded customers → JSON `value`
    * (`sparkpykafkajoin.py:196-212`). Parity mode: unwatermarked. When both
    * inputs are streams the join is [[Transforms.joinRiskWithCustomerKeyed]],
    * one keyed state operator; otherwise it is the plain
    * [[Transforms.joinRiskWithCustomer]]. */
  def p3JoinToJson(riskRaw: DataFrame, redisRaw: DataFrame): DataFrame = {
    val risk = p2RiskEvents(riskRaw)
    val cust = p1CustomerDecode(redisRaw)
    Transforms.toJsonValue(
      if (risk.isStreaming && cust.isStreaming) Transforms.joinRiskWithCustomerKeyed(risk, cust)
      else Transforms.joinRiskWithCustomer(risk, cust))
  }

  /** Kafka sink with the reference's options (`sparkpykafkajoin.py:212-218`):
    * append mode, required checkpoint. */
  def kafkaSink(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Console sink (`truncate=false` as in P3's intended second query). */
  def consoleSink(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format("console")
      .option("truncate", "false")

  /** Memory sink for tests: query results land in table `name`. */
  def memorySink(df: DataFrame, name: String): DataStreamWriter[Row] =
    df.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name)

  /** Start the full production topology (P3 to Kafka + console mirror) and
    * block on ANY termination — the fix for the reference's unreachable
    * second query. */
  def runProduction(spark: SparkSession, bootstrap: String,
      redisTopic: String = "redis-server", riskTopic: String = "stedi-events",
      outTopic: String = "stedi-risk",
      checkpoint: String = "/tmp/stedi-risk-checkpoint",
      trigger: Option[Trigger] = None): Seq[StreamingQuery] = {
    val joined = p3JoinToJson(
      kafkaSource(spark, bootstrap, riskTopic),
      kafkaSource(spark, bootstrap, redisTopic))
    val w0 = kafkaSink(joined, bootstrap, outTopic, checkpoint)
    val w = trigger.map(w0.trigger).getOrElse(w0)
    val q1 = w.start()
    val q2 = consoleSink(joined).start()
    spark.streams.awaitAnyTermination()
    Seq(q1, q2)
  }
}
