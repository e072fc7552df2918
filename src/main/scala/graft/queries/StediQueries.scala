package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-expressible analogs of every STEDI operator (SURVEY.md §2.2-2.5),
  * phrased against the driver corpus so the DuckDB oracle can verify them.
  * The streaming forms of the same transforms are covered by
  * [[graft.stedi.Transforms]] + ScalaTest (`StediTransformsSpec`,
  * `StediStreamingSpec`).
  *
  * Every query ends with a deterministic ORDER BY matching its oracle, and
  * every computed column is aliased identically on both sides (driver
  * hash-compares after sorting columns by name).
  */
object StediQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // CAST(value AS STRING) projection (sparkpykafkajoin.py:72)
    "s1_cast_projection" -> ((s, d) => {
      Tables.events(s, d)
        .selectExpr("CAST(event_id AS STRING) AS event_id_str",
                    "event_type", "props")
        .orderBy(col("event_id_str"))
    }),

    // from_json + struct flatten + null-filter (sparkpykafkajoin.py:105-149):
    // events.props plays the JSON envelope role.
    //
    // The parse goes through explode(array(...)) as a pushdown barrier:
    // without it, PushDownPredicates copies `isnotnull(from_json(..).k)`
    // below BOTH the projection and the fanout exchange, so every row is
    // parsed twice — and the filter-side parse runs on the pre-fanout
    // (single-row-group ⇒ single-core) scan partition. A Generate node
    // blocks predicate pushdown, so from_json evaluates exactly once,
    // after the repartition, on all cores. Same trick a 100 TB pipeline
    // needs: never let the optimizer clone an expensive parse into a
    // pre-shuffle filter.
    "s2_json_extract_filter" -> ((s, d) => {
      Tables.fanout(Tables.events(s, d))
        .select(col("event_id"),
          explode(array(from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")))).as("parsed"))
        .select(col("event_id"), col("parsed.k").as("k"))
        .filter(col("k").isNotNull)
        .orderBy(col("event_id"))
    }),

    // base64 encode → unbase64 decode round-trip (sparkpykafkajoin.py:121-123)
    "s3_base64_roundtrip" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          base64(col("c_name").cast("binary")).as("enc"))
        .withColumn("decoded", unbase64(col("enc")).cast("string"))
        .orderBy(col("c_custkey"))
    }),

    // array subscript [0] on a split result (sparkpykafkajoin.py:111-113,152)
    "s4_array_index" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"),
          split(col("p_type"), " ").getItem(0).as("type_head"))
        .orderBy(col("p_partkey"))
    }),

    // birthYear extraction: split(dateString, "-")[0] (sparkpykafkajoin.py:152-154)
    "s5_split_year" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          split(col("o_orderdate").cast("date").cast("string"), "-")
            .getItem(0).as("order_year"))
        .orderBy(col("o_orderkey"))
    }),

    // flagship-shaped inner equi-join: events (risk) × customer on key
    // (sparkpykafkajoin.py:196-198). customer is the small dim → broadcast:
    // no shuffle of the big fact side at any scale.
    "s6_inner_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cust = Tables.customer(s, d)
      ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
        .select(col("event_id"), col("c_name").as("customer"),
          col("c_mktsegment").as("segment"),
          round(col("value"), 4).as("score"))
        .orderBy(col("event_id"))
    }),

    // TO_JSON(struct(...)) reserialization (sparkpykafkajoin.py:212)
    "s7_to_json" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"))).as("value"))
        .orderBy(col("event_id"))
    }),

    // The ENTIRE P1 decode chain end-to-end, oracle-checked: synthesize the
    // reference's Kafka-Connect envelope (base64 Customer JSON inside JSON,
    // README.md:56) from the customer table, then run the production
    // pipeline (cast → from_json → zSetEntries[0].element → unbase64 →
    // from_json → null-filter → split-year). The oracle computes the
    // IDENTITY result directly — passing proves the encode→decode chain is
    // lossless and the year extraction correct, not just each step alone.
    "s8_decode_chain" -> ((s, d) => {
      val customerJson = to_json(struct(
        col("c_name").as("customerName"),
        concat(col("c_name"), lit("@test.com")).as("email"),
        lit("8015551212").as("phone"),
        concat(lit("19"), lpad(pmod(col("c_custkey"), lit(100)).cast("string"), 2, "0"),
          lit("-01-03")).as("birthDay")))
      val envelopes = Tables.customer(s, d).select(to_json(struct(
        base64(lit("Customer").cast("binary")).as("key"),
        lit("NONE").as("existType"),
        lit("false").as("ch"),
        lit(false).as("incr"),
        array(struct(base64(customerJson.cast("binary")).as("element"),
          lit("0.0").as("score"))).as("zSetEntries"))).as("value"))
      graft.stedi.Pipelines.p1CustomerDecode(envelopes).orderBy(col("email"))
    }),

    // Semi-structured VARIANT ingestion (Spark 4's open-ended-schema path,
    // the modern answer to the reference's hand-declared StructTypes):
    // parse the props JSON into VariantType, shred `$.k` out with a typed
    // variant_get, aggregate exactly. At scale variant columns keep the
    // binary-encoded value columnar and push the shredding into the scan.
    "s9_variant_extract" -> ((s, d) => {
      Tables.events(s, d)
        .selectExpr("event_type",
          "variant_get(parse_json(props), '$.k', 'long') AS k")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // VARIANT depth beyond s9's single-path shred: variant_explode fans an
    // open-schema object into (pos, key, value) rows WITHOUT declaring its
    // fields up front — the generic-ingest form that replaces the
    // reference's hand-declared StructTypes entirely; try_variant_get gives
    // per-row NULL (not failure) on type mismatch or missing path; and
    // schema_of_variant reports the inferred physical schema.
    // variant_explode is a table-valued function (not a select-list
    // generator), so it joins in via LATERAL; the correlated generator
    // still runs rowwise in the scan stage — no shuffle.
    "s10_variant_explode" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("s10_events")
      s.sql(
        """SELECT event_id, ve.pos, ve.key,
          |       try_variant_get(ve.value, '$', 'long') AS v_long,
          |       try_variant_get(ve.value, '$', 'string') AS v_str,
          |       try_variant_get(parse_json(props), '$.missing', 'long') AS v_missing,
          |       schema_of_variant(parse_json(props)) AS v_schema
          |FROM s10_events, LATERAL variant_explode(parse_json(props)) AS ve
          |ORDER BY event_id, ve.pos""".stripMargin)
    }),

    // Error-tolerant ingestion: PERMISSIVE from_json with a corrupt-record
    // column — the production posture for a Kafka feed where a bad producer
    // must not kill the pipeline (the reference's FAILFAST-by-default parse
    // would). Rows are deterministically corrupted (event_id % 7 = 0 gets a
    // '{oops' prefix → invalid JSON): good rows shred normally, bad rows
    // land whole in the quarantine column for a dead-letter sink. Narrow,
    // one codegen'd stage.
    "s11_corrupt_records" -> ((s, d) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k INT, _corrupt STRING")
      Tables.events(s, d)
        .withColumn("mutated",
          when(col("event_id") % 7 === 0, concat(lit("{oops"), col("props")))
            .otherwise(col("props")))
        .withColumn("parsed", from_json(col("mutated"), schema,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt")))
        .select(col("event_id"), col("parsed.k").as("k"),
          col("parsed._corrupt").as("corrupt_payload"),
          col("parsed._corrupt").isNotNull.as("is_corrupt"))
        .orderBy(col("event_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "s1_cast_projection" ->
      """SELECT CAST(event_id AS VARCHAR) AS event_id_str, event_type, props
        |FROM events ORDER BY event_id_str""".stripMargin,
    "s2_json_extract_filter" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k
        |FROM events WHERE CAST(json_extract(props, '$.k') AS INT) IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "s3_base64_roundtrip" ->
      """SELECT c_custkey, base64(encode(c_name)) AS enc,
        |       decode(from_base64(base64(encode(c_name)))) AS decoded
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "s4_array_index" ->
      """SELECT p_partkey, split_part(p_type, ' ', 1) AS type_head
        |FROM part ORDER BY p_partkey""".stripMargin,
    "s5_split_year" ->
      """SELECT o_orderkey,
        |       split_part(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '-', 1) AS order_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "s6_inner_join" ->
      """SELECT e.event_id, c.c_name AS customer, c.c_mktsegment AS segment,
        |       round(e.value, 4) AS score
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "s7_to_json" ->
      """SELECT event_id,
        |       to_json(struct_pack(event_id := event_id, event_type := event_type)) AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "s8_decode_chain" ->
      """SELECT c_name || '@test.com' AS email,
        |       '19' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS birthYear
        |FROM customer ORDER BY email""".stripMargin,
    // DuckDB widens sum(BIGINT) to HUGEINT (int128); the driver hash-compares
    // TYPED arrow columns, so the sum must be cast back to BIGINT to match
    // Spark's LongType sum even though the values are identical.
    "s9_variant_extract" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // No json_each in this DuckDB build: unnest(json_keys(..)) + per-key
    // json_extract reproduces the (pos, key, value) fanout; pos mirrors
    // variant_explode's key-sorted field order. v_schema hardcodes the 'k'
    // field but derives its TYPE from the data (json_structure), so a
    // corpus change that alters the value type still fails loudly.
    "s10_variant_explode" ->
      """WITH kv AS (
        |  SELECT event_id, props, unnest(json_keys(props)) AS key FROM events)
        |SELECT event_id,
        |  CAST(row_number() OVER (PARTITION BY event_id ORDER BY key) - 1 AS INT) AS pos,
        |  key,
        |  TRY_CAST(json_extract(props, '$.' || key) AS BIGINT) AS v_long,
        |  CAST(json_extract(props, '$.' || key) AS VARCHAR) AS v_str,
        |  TRY_CAST(json_extract(props, '$.missing') AS BIGINT) AS v_missing,
        |  'OBJECT<k: ' || replace(CAST(json_structure(props)->>'$.k' AS VARCHAR),
        |                          'UBIGINT', 'BIGINT') || '>' AS v_schema
        |FROM kv ORDER BY event_id, pos""".stripMargin,
    "s11_corrupt_records" ->
      """WITH m AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 7 = 0 THEN '{oops' || props
        |              ELSE props END AS mutated
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN json_valid(mutated)
        |       THEN CAST(json_extract(mutated, '$.k') AS INT) END AS k,
        |  CASE WHEN NOT json_valid(mutated) THEN mutated END
        |    AS corrupt_payload,
        |  NOT json_valid(mutated) AS is_corrupt
        |FROM m ORDER BY event_id""".stripMargin
  )
}
