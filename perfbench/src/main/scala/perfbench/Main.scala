package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run reports. `metrics` are (name, value, unit);
  * `notes` are extra facts about the run (which indexes were built, how
  * late the generator ran, …) printed on the line before the result. */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], notes: Seq[(String, String)] = Nil)

/** Everything a workload needs from the harness. `seconds` is the timed
  * window; `t0Ns` is process start on the `System.nanoTime` clock, so
  * `setup_s` runs from JVM start to the first timed operation. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val spans: Spans, val exec: Option[ExecListener], val t0Ns: Long) {
  def trace: Boolean = spans.on
  def sinceStart(ns: Long): Double = (ns - t0Ns) / 1e9
}

/** One benchmark run, in a fresh JVM whose working directory is empty:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints an environment line, a notes line and, last, the result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "stedi_p3" -> StediStreams.p3,
    "batch_mix" -> BatchMix.run)

  val EndToEnd: Seq[String] = Seq("setup_s", "throughput", "latency_ms_p50", "latency_ms_p90")

  def main(args: Array[String]): Unit = {
    val t0Ns = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    require(!Files.exists(Paths.get("target")),
      "working directory holds a target/ from an earlier run; indexes there would be served")
    val load0 = loadavg()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.ClusterConfigs.local(SparkSession.builder(), cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val spans = new Spans(opts("trace") == "1")
    val exec = if (spans.on) {
      val l = new ExecListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, spans, exec, t0Ns)
    System.err.println(f"[perfbench] session ready at ${(System.nanoTime() - t0Ns) / 1e9}%.1f s")
    val out = try spans.span(s"workload.$workload")(run(ctx)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
        sys.exit(3)
    }
    val env = Seq("workload" -> q(workload), "seed" -> opts("seed"),
      "nproc" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "loadavg_before" -> q(load0), "loadavg_after" -> q(loadavg()),
      "jdk" -> q(System.getProperty("java.version")), "spark" -> q(spark.version),
      "state_store" -> q(spark.conf.get("spark.sql.streaming.stateStore.providerClass")))
    println(obj(env))
    println(obj(out.notes))
    if (spans.on) {
      val dir = Paths.get(sys.props.getOrElse("perfbench.traceDir", "."))
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"spans-$workload-${opts("seed")}.json"), spans.toJson)
    }
    def json(ms: Seq[(String, Double, String)]) =
      obj(ms.map { case (n, v, u) => q(n) -> s"""{"value":${num(v)},"unit":${q(u)}}""" })
    val (endToEnd, layer) = (out.metrics ++ exec.toSeq.flatMap(_.metrics))
      .partition(m => EndToEnd.contains(m._1))
    val unknown = layer.map(_._1).toSet -- Layers.all.map(_._1)
    require(unknown.isEmpty, s"metrics missing from Layers.all: $unknown")
    val reported = if (!spans.on) endToEnd else {
      // Traced end-to-end numbers, for the tracing overhead only.
      println(s"""{"traced_end_to_end":${json(endToEnd)}}""")
      val byName = layer.map(m => m._1 -> m).toMap
      Layers.all.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) }
    }
    System.err.println(f"[perfbench] workload done at ${(System.nanoTime() - t0Ns) / 1e9}%.1f s")
    spark.stop()
    System.err.println(f"[perfbench] session stopped at ${(System.nanoTime() - t0Ns) / 1e9}%.1f s")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":${json(reported)}}""")
  }

  private def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).split(' ').take(3).mkString(" "))
      .getOrElse("unknown")

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => (if (k.startsWith("\"")) k else q(k)) + ":" + v }.mkString("{", ",", "}")
}
