package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** File-format source/sink coverage beyond parquet (the reference uses no
  * file formats at all — SURVEY §2.1; a complete engine needs the standard
  * ones): CSV and JSON-lines round-trips with explicit schemas, plus
  * partitioned-parquet layout with partition pruning. */
class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val sample = Tables.lineitem(spark, sfDir)
    .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    .limit(500)

  test("CSV round-trip with explicit schema and header") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/data"
    sample.write.option("header", "true").csv(dir)
    val back = spark.read
      .schema("l_orderkey LONG, l_partkey LONG, l_quantity DOUBLE, l_returnflag STRING")
      .option("header", "true").csv(dir)
    assert(back.count() == 500)
    assert(back.schema.map(_.dataType) == sample.schema.map(_.dataType))
    val s1 = sample.agg(sum("l_quantity")).collect()(0).getDouble(0)
    val s2 = back.agg(sum("l_quantity")).collect()(0).getDouble(0)
    assert(math.abs(s1 - s2) < 1e-6)
  }

  test("JSON-lines round-trip preserves values") {
    val dir = Files.createTempDirectory("graft-json").toString + "/data"
    sample.write.json(dir)
    val back = spark.read.schema(sample.schema).json(dir)
    assert(back.count() == 500)
    assert(back.except(sample).count() == 0 && sample.except(back).count() == 0)
  }

  test("ORC round-trip with predicate pushdown into the scan") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/data"
    sample.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 500)
    assert(back.except(sample).count() == 0 && sample.except(back).count() == 0)
    val filtered = back.filter(col("l_orderkey") < 100)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]")
      || scan.toLowerCase.contains("lessthan(l_orderkey"),
      s"ORC scan must receive the pushed filter:\n$scan")
  }

  test("text source reads lines; text sink writes a single string column") {
    val dir = Files.createTempDirectory("graft-text").toString + "/data"
    sample.select(concat_ws("|", col("l_orderkey"), col("l_returnflag")).as("value"))
      .write.text(dir)
    val back = spark.read.text(dir)
    assert(back.count() == 500)
    assert(back.schema.fieldNames.toSeq == Seq("value"))
    assert(back.filter(col("value").rlike("^[0-9]+\\|[A-Z]$")).count() == 500)
  }

  test("binaryFile source ingests opaque blobs with file metadata") {
    // the multimodal ingestion front door: raw image/audio/video files land
    // as (path, modificationTime, length, content BINARY) rows that the
    // MultimodalOps decode pipeline consumes — no custom reader code
    val dir = Files.createTempDirectory("graft-bin").toString
    val payloads = Seq("img-a" -> Array[Byte](1, 2, 3, 4),
      "img-b" -> Array[Byte](9, 8, 7, 6, 5))
    payloads.foreach { case (name, bytes) =>
      Files.write(java.nio.file.Paths.get(dir, s"$name.jpg"), bytes)
    }
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg").load(dir)
    assert(blobs.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val got = blobs
      .select(regexp_extract(col("path"), "([^/]+)\\.jpg$", 1).as("name"),
        col("length"), md5(col("content")).as("content_md5"))
      .orderBy(col("name"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.map(g => (g._1, g._2)).toSeq == Seq(("img-a", 4L), ("img-b", 5L)))
    val wantMd5 = payloads.map { case (_, b) =>
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    }
    assert(got.map(_._3).toSeq == wantMd5, "content bytes must arrive intact")
  }

  test("statestore reader: streaming state is queryable offline") {
    // operations path at scale: inspect a live checkpoint's keyed state with
    // plain DataFrame queries (debug skew, audit keys, validate migrations)
    // — no replay, no instrumentation of the running job
    implicit val ctx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val ckpt = Files.createTempDirectory("state-read-ckpt").toString
    val agg = in.toDF().toDF("k", "v").groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    val q = agg.writeStream.outputMode(
        org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("state_src_agg")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
    // schema: key STRUCT (grouping cols), value STRUCT (the agg BUFFER —
    // internal field names `count`/`sum`, not output aliases), partition_id
    val rows = state
      .select(col("key.k").as("k"), col("value.count").as("n"),
        col("value.sum").as("total"))
      .orderBy(col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("a", 2L, 3.0), ("b", 1L, 5.0)),
      s"offline state read must see the aggregation state: ${rows.toSeq}")
  }

  test("statestore reader: dedup state exposes the suppressed keys") {
    // second store shape (the agg-store test above reads a groupBy buffer):
    // dropDuplicates keeps one entry per seen key with an EMPTY value — the
    // reader surfaces exactly the key set, i.e. what the stream has seen
    implicit val ctx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val ckpt = Files.createTempDirectory("dedup-state-ckpt").toString
    val deduped = in.toDF().toDF("k").dropDuplicates("k")
    val q = deduped.writeStream.outputMode(
        org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("dedup_state_src")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData("x", "y", "x")
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.read.format("statestore").load(ckpt)
      .select(col("key.k")).as[String].collect().sorted.toSeq
    assert(keys == Seq("x", "y"),
      s"dedup store must hold one entry per distinct key: $keys")
  }

  test("statestore reader: stream-stream join state, per side") {
    // the reference's flagship operator (P3's unwatermarked symmetric-hash
    // join, sparkpykafkajoin.py:196-198) buffers EVERY input row in its
    // per-side join stores — the reader is how operations answers "what is
    // that unbounded state actually holding" without stopping the query
    implicit val ctx = spark.sqlContext
    val inL = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val inR = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val ckpt = Files.createTempDirectory("join-state-ckpt").toString
    val joined = inL.toDF().toDF("email", "score")
      .join(inR.toDF().toDF("cust", "birthYear"),
        expr("email = cust"))
    val q = joined.writeStream.outputMode(
        org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("join_state_src")
      .option("checkpointLocation", ckpt).start()
    try {
      inL.addData(("a@t.com", 7.0), ("b@t.com", 3.0))
      inR.addData(("a@t.com", 1950L))
      q.processAllAvailable()
    } finally q.stop()
    // state-metadata catalogs the operator's stores; the join keeps 4 per
    // side (keyToNumValues/keyWithIndexToValue × left/right)
    val meta = spark.read.format("state-metadata").load(ckpt)
    val names = meta.select(col("stateStoreName")).as[String].collect().toSet
    assert(names.exists(_.contains("left-keyToNumValues")) &&
      names.exists(_.contains("right-keyToNumValues")),
      s"join must register per-side stores: $names")
    // the join-state key struct is positional (`field0`, …) — it is the
    // JOIN KEY EXPRESSION, not the input column, so no source name survives
    def sideKeys(side: String): Seq[String] =
      spark.read.format("statestore").option("joinSide", side).load(ckpt)
        .select(col("key.field0"))
        .as[String].collect().sorted.toSeq
    // both left rows buffered (b@t.com unmatched but retained — the
    // unwatermarked join never evicts); right holds its single row
    assert(sideKeys("left") == Seq("a@t.com", "b@t.com"), sideKeys("left"))
    assert(sideKeys("right") == Seq("a@t.com"), sideKeys("right"))
  }

  test("statestore reader: transformWithState ValueState is queryable offline") {
    // the 4th store shape (agg buffer / dedup keys / join sides covered
    // above): a custom processor's named state variable, addressed via
    // option("stateVarName") — operational visibility into the burst
    // gate's per-key watermark without stopping the stream
    implicit val ctx = spark.sqlContext
    withConf(RocksDb) {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        graft.streaming.StatefulOps.BurstEvent]
      val ckpt = Files.createTempDirectory("tws-state-ckpt").toString
      val out = graft.streaming.StatefulOps
        .burstCollapseTws(spark, in.toDS(), gapSec = 60)
      val q = out.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("tws_state_src")
        .option("checkpointLocation", ckpt).start()
      val t1 = new java.sql.Timestamp(1704100000000L)
      val t2 = new java.sql.Timestamp(1704100030000L)
      try {
        in.addData(
          graft.streaming.StatefulOps.BurstEvent(1L, "A", 1L, t1),
          graft.streaming.StatefulOps.BurstEvent(1L, "A", 2L, t2),
          graft.streaming.StatefulOps.BurstEvent(2L, "B", 3L, t1))
        q.processAllAvailable()
      } finally q.stop()
      val state = spark.read.format("statestore")
        .option("stateVarName", "lastMs").load(ckpt)
      val rows = state
        .select(col("key.*"), col("value.*"))
        .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
        .toMap
      assert(rows == Map((1L, "A") -> t2.getTime, (2L, "B") -> t1.getTime),
        s"per-key last-event state must be readable offline: $rows")
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft-part").toString + "/data"
    Tables.orders(spark, sfDir)
      .withColumn("status", col("o_orderstatus"))
      .write.partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "O")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan (no full-table read)
    assert(pruned.count() ==
      Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "O").count())
    assert(plan.contains("PartitionFilters: [isnotnull(status"),
      s"expected partition pruning in plan:\n$plan")
  }

  test("schema evolution: mergeSchema unions parquet file schemas, old rows null-fill") {
    // a production corpus accretes columns over time (a new quality score,
    // a new provenance field); readers must see the union schema with old
    // files null-filled, and writers of the old schema must stay readable
    val dir = Files.createTempDirectory("graft-evolve").toString + "/data"
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
      .write.parquet(dir + "/batch=1")
    Seq((3L, "gamma", 87L), (4L, "delta", 93L)).toDF("id", "name", "quality")
      .write.parquet(dir + "/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("batch", "id", "name", "quality"),
      s"union schema expected, got ${merged.columns.mkString(",")}")
    val rows = merged.select("id", "quality").as[(Long, Option[Long])]
      .collect().toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty,
      "pre-evolution rows must null-fill the new column")
    assert(rows(3L).contains(87L) && rows(4L).contains(93L))
    // WITHOUT mergeSchema the read picks one footer: quality may vanish —
    // the silent-footgun the option exists to close; assert the option is
    // what controls it (not data luck)
    val unmerged = spark.read.parquet(dir)
    assert(unmerged.columns.length <= merged.columns.length)
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    // the join key is only known at RUN time (it comes from a filtered
    // dimension), so static pruning can't fire — DPP injects the dim's
    // key set into the fact scan's partition filter instead of reading
    // every partition. At 100 TB on a date/tenant-partitioned fact this
    // is the difference between scanning one partition and all of them.
    val dir = Files.createTempDirectory("graft-dpp").toString + "/data"
    Tables.orders(spark, sfDir)
      .withColumn("status", col("o_orderstatus"))
      .write.partitionBy("status").parquet(dir)
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // the PRUNING rule keys on a selective filter on the build side — a
    // literal relation constant-folds its filter away, so the dim must be
    // a real source with a surviving Filter node
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toString + "/dim"
    Seq(("O", "open"), ("F", "filled"), ("P", "pending"))
      .toDF("st", "label").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("label") === "open")
    val joined = fact.join(dim, fact("status") === dim("st"))
    val n = joined.count()
    assert(n == Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "O").count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$plan")
  }

  test("corrupt-file tolerance: ignoreCorruptFiles skips a damaged split, keeps the rest") {
    // at 100 TB a handful of truncated/bit-rotted files per run is
    // routine; the batch analog of s11's corrupt-RECORD quarantine is
    // corrupt-FILE skipping — the job completes on the surviving splits
    // instead of dying on the first bad footer
    val dir = Files.createTempDirectory("graft-corrupt").toString + "/data"
    Tables.nation(spark, sfDir).repartition(4).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 4)
    // truncate one split mid-file: unreadable footer
    val victim = parts.head
    val ch = java.nio.channels.FileChannel.open(victim.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(math.max(8, victim.length() / 2)) finally ch.close()
    val total = Tables.nation(spark, sfDir).count()
    // fixed schema: inference would read every footer up front, outside
    // the scan path the skip option governs
    val schema = Tables.nation(spark, sfDir).schema
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).parquet(dir).count() // strict mode surfaces it
    }
    val survived = spark.read.schema(schema)
      .option("ignoreCorruptFiles", "true").parquet(dir).count()
    assert(survived > 0 && survived < total,
      s"expected partial rows from the 3 intact splits, got $survived/$total")
  }
}
