package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.stedi.Pipelines
import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Records every row the sink sees, with the time it saw it. Executors run
  * in this JVM (`local[n]`), so one queue collects all of them. */
object SeenRows {
  val rows = new ConcurrentLinkedQueue[(String, Long)]()
  def drain(): Vector[(String, Long)] = {
    val out = Vector.newBuilder[(String, Long)]
    var r = rows.poll()
    while (r != null) { out += r; r = rows.poll() }
    out.result()
  }
}

final class SeenRowsWriter extends ForeachWriter[Row] {
  def open(partitionId: Long, epochId: Long): Boolean = true
  def process(r: Row): Unit = SeenRows.rows.add((r.getString(0), System.nanoTime()))
  def close(e: Throwable): Unit = ()
}

/** The paper's P3 (`Pipelines.p3JoinToJson`, parity join) over two file
  * sources, `redis-server` and `stedi-events`, fed by the seeded
  * generator. A release is one directory of files made visible by one
  * atomic rename, so a micro-batch never sees half of one.
  *
  *  - Replay, a closed loop: the backlog is released one batch of
  *    [[ReplayFiles]] × [[ReplayRows]] events at a time, and the next
  *    release waits for the engine to drain the last one.
  *  - Paced, an open loop: one file of [[PacedRows]] events every
  *    [[PacedTickMs]], on schedule whatever the engine does; an event's
  *    latency runs from when its file was due to when the sink saw the
  *    joined row.
  */
object StediStreams {

  val Customers = 15000
  val ReplayFiles = 4
  val ReplayRows = 5000
  val PacedRows = 500
  val PacedTickMs = 250L
  /** Replay batches drained before timing starts, so the first timed
    * batches do not carry the JIT's warm-up. */
  val WarmupBatches = 3

  private val ScoreRe = "\"score\":([-0-9.E]+)".r

  def seqOf(json: String): Int =
    Gen.seqOfScore(ScoreRe.findFirstMatchIn(json).get.group(1).toDouble)

  final class Feed(root: Path, val seed: Long) {
    val cs: IndexedSeq[Gen.Customer] = Gen.customers(Customers, seed)
    val redisDir: Path = root.resolve("redis")
    val riskDir: Path = root.resolve("risk")
    private val stage = root.resolve("stage")
    Seq(redisDir, riskDir, stage).foreach(Files.createDirectories(_))
    private var nextSeq = 0
    private var released = 0

    /** Events written so far end before this sequence number. */
    def generated: Int = nextSeq

    /** Stage the next release: `files` files of `rows` events each. */
    def stageBatch(files: Int, rows: Int): Path = {
      val dir = stage.resolve(f"b$released%05d-${nextSeq}%08d")
      Files.createDirectories(dir)
      for (f <- 0 until files) {
        Gen.writeAtomically(dir.resolve(f"part-$f%02d.json"),
          Gen.riskLines(cs, seed, nextSeq, nextSeq + rows))
        nextSeq += rows
      }
      released += 1
      dir
    }

    /** Make a staged batch visible to the source in one rename. */
    def release(staged: Path): Unit =
      Files.move(staged, riskDir.resolve(staged.getFileName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    def writeCustomers(): Unit = {
      val lines = Gen.redisLines(cs)
      val dir = Files.createDirectories(redisDir.resolve("b0"))
      lines.grouped((lines.size + 3) / 4).zipWithIndex.foreach { case (ls, i) =>
        Gen.writeAtomically(dir.resolve(s"part-$i.json"), ls)
      }
    }
  }

  def source(spark: SparkSession, dir: Path): DataFrame =
    spark.readStream.format("text").load(s"$dir/*")

  def start(spark: SparkSession, feed: Feed, chk: String): StreamingQuery =
    Pipelines.p3JoinToJson(source(spark, feed.riskDir), source(spark, feed.redisDir))
      .writeStream.foreach(new SeenRowsWriter).option("checkpointLocation", chk).start()

  /** Batch P3 over everything released, as the multiset of output rows. */
  def expected(spark: SparkSession, feed: Feed): Vector[String] =
    Pipelines.p3JoinToJson(spark.read.text(s"${feed.riskDir}/*"),
      spark.read.text(s"${feed.redisDir}/*")).collect().map(_.getString(0)).toVector

  /** Rows missing from or extra in the stream output, as a count. */
  def mismatches(expect: Vector[String], got: Vector[String]): Long = {
    if (Stats.digest(expect) == Stats.digest(got)) 0L else {
      val e = expect.groupBy(identity).map { case (k, v) => k -> v.size }
      val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
      (e.keySet ++ g.keySet).toSeq.map(k => math.abs(e.getOrElse(k, 0) - g.getOrElse(k, 0))).sum.toLong
    }
  }

  /** Traced runs: each Pipelines stage as a batch call over the feed. */
  def stageTimes(ctx: Ctx, feed: Feed): Seq[(String, Double, String)] = {
    val s = ctx.spark
    def timed(name: String)(df: => DataFrame): (String, Double, String) = {
      val t0 = System.nanoTime()
      ctx.spans.span(name)(df.write.format("noop").mode("overwrite").save())
      (name, (System.nanoTime() - t0) / 1e9, "s")
    }
    val redis = s.read.text(s"${feed.redisDir}/*"); val risk = s.read.text(s"${feed.riskDir}/*")
    Seq(timed("stedi.p1_decode_s")(Pipelines.p1CustomerDecode(redis)),
      timed("stedi.p2_parse_s")(Pipelines.p2RiskEvents(risk)),
      timed("stedi.p3_join_s")(Pipelines.p3JoinToJson(risk, redis)))
  }

  /** Progress of the batches with ids in (`after`, `upTo`]. */
  def progressOf(q: StreamingQuery, after: Long, upTo: Long = Long.MaxValue) =
    q.recentProgress.toSeq.filter(p => p.batchId > after && p.batchId <= upTo)

  /** `stedi_p3`: after set-up (customers and [[WarmupBatches]] replay
    * batches drained), a replay phase then a paced phase, each
    * `seconds / 2` long, on one running query. Throughput comes from the replay phase, latency from
    * the paced one; the join state the replay built stays in place. */
  val p3: Ctx => Outcome = { ctx =>
    val spark = ctx.spark
    val phaseS = ctx.seconds / 2
    val feed = new Feed(Paths.get("feed"), ctx.seed)
    val (q, warmId) = ctx.spans.span("stream.warmup") {
      feed.writeCustomers()
      feed.release(feed.stageBatch(ReplayFiles, ReplayRows))
      val query = start(spark, feed, "chk")
      query.processAllAvailable()
      for (_ <- 1 until WarmupBatches) {
        feed.release(feed.stageBatch(ReplayFiles, ReplayRows)); query.processAllAvailable()
      }
      (query, query.lastProgress.batchId)
    }
    val warmRows = feed.generated
    // Staged ahead: the replay backlog holds 30k rows/s over its phase,
    // twice what the program drains today; then the paced ticks.
    val g0 = System.nanoTime()
    val (backlog, ticks, firstPaced) = ctx.spans.span("gen.feed") {
      val b = (0 until math.max(4, (phaseS * 30000 / (ReplayFiles * ReplayRows)).ceil.toInt))
        .map(_ => feed.stageBatch(ReplayFiles, ReplayRows))
      val first = feed.generated
      (b, (0 until math.max(1, (phaseS * 1000 / PacedTickMs).toInt)).map(_ => feed.stageBatch(1, PacedRows)), first)
    }
    val genS = (System.nanoTime() - g0) / 1e9
    val setupS = ctx.sinceStart(System.nanoTime())

    // Replay: release a batch, wait for the engine to drain it, repeat.
    val batchMs = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    val it = backlog.iterator
    while (it.hasNext && (System.nanoTime() - t0) / 1e9 < phaseS) {
      val b0 = System.nanoTime()
      ctx.spans.span("stream.release")(feed.release(it.next()))
      ctx.spans.span("stream.drain")(q.processAllAvailable())
      batchMs += (System.nanoTime() - b0) / 1e6
    }
    val replayRows = batchMs.size * ReplayFiles * ReplayRows
    // Rows per second of the median batch: one slow batch (a GC pause, a
    // noisy neighbour) does not move it.
    val rowsPerS = ReplayFiles * ReplayRows / (Stats.median(batchMs.toSeq) / 1000)
    val replayId = q.lastProgress.batchId
    val replaySeen = SeenRows.drain().map(_._1)

    // Paced: one file per tick, on schedule whatever the engine does.
    val p0 = System.nanoTime() + PacedTickMs * 1000000L
    val due = ticks.indices.map(k => p0 + k * PacedTickMs * 1000000L)
    var lateNs = 0L
    ctx.spans.span("stream.paced") {
      for (k <- ticks.indices) {
        val wait = due(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        feed.release(ticks(k))
        lateNs = math.max(lateNs, System.nanoTime() - due(k))
      }
      q.processAllAvailable()
    }
    q.stop()
    val pacedSeen = SeenRows.drain()
    val lat = pacedSeen.map { case (v, ns) => (ns - due((seqOf(v) - firstPaced) / PacedRows)) / 1e6 }
    val late = lateNs / 1e6

    // Check: the stream's output ≡ batch P3 over everything released.
    val expect = expected(spark, feed)
    val got = replaySeen ++ pacedSeen.map(_._1)
    val failed = mismatches(expect, got) + (if (late > PacedTickMs) 1 else 0)
    val layer = if (!ctx.trace) Nil else
      StreamLayer.metrics("stream", progressOf(q, warmId, replayId)) ++
        StreamLayer.metrics("stream.paced", progressOf(q, replayId)) ++
        stageTimes(ctx, feed) ++ Seq(("gen.feed_s", genS, "s"), ("gen.late_ms_max", late, "ms"))
    Outcome(feed.generated - (backlog.size - batchMs.size) * ReplayFiles * ReplayRows, failed,
      Seq(("setup_s", setupS, "s"), ("throughput", rowsPerS, "1/s"),
        ("latency_ms_p50", Stats.percentile(lat, 50), "ms"),
        ("latency_ms_p90", Stats.percentile(lat, 90), "ms")) ++ layer,
      Seq("p3_rows_per_s" -> Main.num(rowsPerS),
        "replay_batches" -> batchMs.size.toString,
        "replay_batch_ms" -> batchMs.map(Main.num).mkString("[", ",", "]"),
        "backlog_exhausted" -> (!it.hasNext).toString,
        "paced_rows_out" -> lat.size.toString, "gen_late_ms_max" -> Main.num(late),
        "output_rows" -> got.size.toString, "expected_rows" -> expect.size.toString))
  }
}
