package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Percentiles and result digests. */
object Stats {

  /** Nearest-rank percentile (`p` in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Order-insensitive digest of a multiset of rows: the count plus a
    * SHA-256 over the sorted row strings. */
  def digest(rows: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sorted = rows.toVector.sorted
    sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${sorted.size}:" + md.digest().map(b => f"$b%02x").mkString.take(32)
  }

  /** Canonical text of one result row: columns in name order, doubles and
    * floats rounded to 9 decimals (the oracle gate's normalisation), nested
    * values rendered recursively. */
  def rowText(r: org.apache.spark.sql.Row): String = {
    val names = r.schema.fieldNames
    names.indices.sortBy(names(_)).map(i => valueText(r.get(i))).mkString("|")
  }

  private def valueText(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
    case f: Float => valueText(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(valueText).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => valueText(k) + "→" + valueText(x) }.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => "(" + rowText(r) + ")"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case x => x.toString
  }
}

/** In-memory spans: name, start, end and parent, written out when the run
  * ends. With tracing off, [[span]] only runs its body. */
final class Spans(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val ids = new AtomicLong()

  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = ids.incrementAndGet().toInt
      val parent = open.get().headOption.getOrElse(0)
      open.set(id :: open.get())
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        open.set(open.get().tail)
        done.synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  def toJson: String = done.synchronized {
    done.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[\n", ",\n", "\n]")
  }
}

/** Executor-side counters for one workload: jobs, tasks, CPU, GC, shuffle
  * write and spill, summed over every task that ended. */
final class ExecListener extends SparkListener {
  val jobs, tasks, cpuNs, gcMs, shuffleWriteBytes, spillBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def metrics: Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.get.toDouble, "count"),
    ("spark.tasks", tasks.get.toDouble, "count"),
    ("spark.exec_cpu_s", cpuNs.get / 1e9, "s"),
    ("spark.gc_s", gcMs.get / 1e3, "s"),
    ("spark.shuffle_write_mb", shuffleWriteBytes.get / 1048576.0, "MB"),
    ("spark.spill_mb", spillBytes.get / 1048576.0, "MB"))
}

object StreamLayer {
  val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  /** Per-layer numbers of the micro-batch engine and its state store, over
    * the batches in `ps` that read input, named `<prefix>.…`. The remainder
    * is trigger time no named phase covers. */
  def metrics(prefix: String, ps: Seq[StreamingQueryProgress]): Seq[(String, Double, String)] = {
    val b = ps.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trig = b.map(dur(_, "triggerExecution"))
    val phases = Phases.map(ph => b.map(dur(_, ph)).sum)
    val last = b.lastOption.flatMap(_.stateOperators.headOption)
    val values = Seq(b.size.toDouble, b.map(_.numInputRows.toDouble).sum, trig.sum,
      if (trig.isEmpty) 0.0 else Stats.percentile(trig, 50),
      if (trig.isEmpty) 0.0 else Stats.percentile(trig, 90)) ++
      phases ++ Seq(trig.sum - phases.sum,
        last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        last.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        b.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum)
    names(prefix).zip(values).map { case ((n, u), v) => (n, v, u) }
  }

  def names(prefix: String): Seq[(String, String)] =
    (Seq("batches" -> "count", "input_rows" -> "count", "trigger_ms" -> "ms",
      "trigger_ms_p50" -> "ms", "trigger_ms_p90" -> "ms") ++
      (Phases :+ "remainder").map(p => s"phase.${p}_ms" -> "ms") ++
      Seq("state.rows" -> "count", "state.mem_mb" -> "MB", "state.commit_ms" -> "ms"))
      .map { case (n, u) => s"$prefix.$n" -> u }
}

/** Every per-layer metric, as (name, unit). A traced run reports all of
  * them; a layer its workload does not reach reads 0. */
object Layers {
  val all: Seq[(String, String)] =
    Seq("stedi.p1_decode_s", "stedi.p2_parse_s", "stedi.p3_join_s").map(_ -> "s") ++
      StreamLayer.names("stream") ++ StreamLayer.names("stream.paced") ++
      new ExecListener().metrics.map(m => m._1 -> m._3) ++
      BatchMix.Queries.flatMap(q => Seq(s"q.$q.build_s" -> "s", s"q.$q.build_jobs" -> "count",
        s"q.$q.exec_s" -> "s")) ++
      Seq("q.pass_s" -> "s", "q.remainder_s" -> "s") ++
      BatchMix.IndexNames.flatMap(i => Seq(s"index.$i.build_s" -> "s", s"index.$i.build_jobs" -> "count",
        s"index.$i.serve_s" -> "s")) ++
      Seq("gate.config_s" -> "s", "gate.battery_s" -> "s", "gate.chunk_dedup_s" -> "s",
        "gate.docs" -> "count", "gate.state.rows" -> "count",
        "gen.tables_s" -> "s", "gen.feed_s" -> "s", "gen.late_ms_max" -> "ms")
}
