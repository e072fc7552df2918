package graft

import org.apache.spark.sql.SparkSession

/** Perf probe: `runMain graft.Perf <sfDir> <query> [query...]` — times each
  * named query twice (cold/warm; each run is one [[Measure.run]]), dumps
  * a per-stage task-duration skew table for the warm run (tasks,
  * median/max ms, skew = max/median — a straggler shows up as skew >> 1 on
  * a stage with many tasks, the thing wall-clock alone can't distinguish
  * from uniform slowness), then prints the warm run's formatted physical
  * plan. */
object Perf {

  /** Collects (stageId, task duration ms) while attached; stage callsites
    * from the completion events so heavy stages can be attributed to an
    * operator line, and per-task executor CPU (ns) so wall inflation
    * (GC, co-tenant load, fetch wait) separates from real compute. */
  private final class TaskDurations extends org.apache.spark.scheduler.SparkListener {
    val byStage = scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]]()
    val names = scala.collection.mutable.Map[Int, String]()
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      synchronized {
        val buf = byStage.getOrElseUpdate(
          e.stageId, scala.collection.mutable.ArrayBuffer())
        val m = e.taskMetrics
        buf += ((e.taskInfo.duration,
          if (m == null) 0L else m.executorCpuTime / 1000000L,
          if (m == null) 0L else m.jvmGCTime))
      }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      synchronized {
        names(e.stageInfo.stageId) =
          e.stageInfo.name.takeWhile(_ != '(').trim + " @ " +
            e.stageInfo.details.linesIterator
              .find(l => l.contains("graft") && !l.contains("Perf") &&
                !l.contains("Measure"))
              .getOrElse("").trim.stripPrefix("at ").take(80)
      }
    def report(): String = synchronized {
      val rows = byStage.toSeq.sortBy(_._1).map { case (sid, ds) =>
        val s = ds.map(_._1).sorted
        val med = s(s.length / 2)
        val mx = s.last
        val cpu = ds.map(_._2).sum
        val gc = ds.map(_._3).sum
        f"  stage $sid%4d: ${s.length}%4d tasks  med ${med}%5d ms  max ${mx}%5d ms  skew ${mx.toDouble / math.max(med, 1)}%5.1f  cpu ${cpu}%6d ms  gc ${gc}%5d ms  ${names.getOrElse(sid, "?")}"
      }
      rows.mkString("\n")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q1_pricing_summary")
    val spark = ClusterConfigs.local(
      SparkSession.builder().appName("graft-perf"), ClusterConfigs.localCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"==== $name ====")
      // each run is one Measure.run, so run1 includes eager build work
      // (persisted-index builds, staged frames); the plan is printed only
      // after the timed runs
      val runs = (1 to 2).map { i =>
        val listener = if (i == 2) Some(new TaskDurations) else None
        listener.foreach(spark.sparkContext.addSparkListener)
        val run = Measure.run(fn(spark, sfDir))
        println(run.fold(e => s"[$name run$i] failed: $e",
          r => f"[$name run$i] ${r.seconds}%.3f s"))
        listener.foreach { l =>
          Thread.sleep(500) // listener bus drain (no public flush API)
          println(s"[$name task skew]\n${l.report()}")
          spark.sparkContext.removeSparkListener(l)
        }
        run
      }
      runs.last.foreach(r => println(r.frame.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }
}
