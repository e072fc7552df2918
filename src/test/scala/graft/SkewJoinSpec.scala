package graft

import org.apache.spark.sql.functions._

/** AQE skew handling: a deliberately skewed join fixture (one hot key
  * holding ~99% of the rows) must trigger OptimizeSkewedJoin — the adaptive
  * plan splits the oversized partition into parallel sub-joins instead of
  * serializing it onto one task. This is the runtime half of the skew story
  * (the authored half is the salted SimHash join in DedupOps): at 100 TB,
  * salting handles the skew you know about, AQE the skew you don't. */
class SkewJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join partition") {
    val confs = Map(
      // thresholds sized down so a ~MB-scale fixture counts as "skewed"
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // coalescing would merge the shuffle read before skew detection and
      // mask the outlier partition — disable it for a clean assertion
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs.toSeq: _*) {
      // hot key 0 carries 50k rows of INCOMPRESSIBLE padding (skew detection
      // reads compressed shuffle sizes — a constant pad would LZ4 away);
      // 100 cold keys carry 10 rows each
      val left = spark.range(50000)
        .select(lit(0L).as("k"),
          concat(md5(col("id").cast("string")),
            md5((col("id") + 1).cast("string"))).as("pad"))
        .union(spark.range(1000).select((col("id") % 100 + 1).as("k"),
          lit("y").as("pad")))
      val right = spark.range(200).select((col("id") % 101).as("rk"),
        col("id").as("rv"))
      val joined = left.join(right, col("k") === col("rk"))
      // execute through THIS Dataset's own QueryExecution — a sink write
      // plans a fresh one and would leave this adaptive plan unfinalized
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split sort-merge join in the adaptive plan:\n$plan")
    }
  }

  test("salted join equals the plain join and carries the salt through the shuffle") {
    // hot key 0 holds 90% of the fact; dim covers keys 0..99
    val fact = spark.range(10000).select(
      when(col("id") % 10 < 9, 0L).otherwise(col("id") % 100).as("k"),
      col("id").as("v"))
    val dim = spark.range(100).select(col("id").as("dk"),
      concat(lit("d"), col("id")).as("dv"))
    val salted = graft.ops.SkewOps
      .saltedJoin(fact, dim, "k", "dk", salts = 4, saltSrc = col("v"))
    val plain = fact.join(dim, col("k") === col("dk"))
    val key = Seq("k", "v", "dk", "dv").map(col)
    assert(salted.select(key: _*).as[(Long, Long, Long, String)]
        .collect().sorted.toSeq ==
      plain.select(key: _*).as[(Long, Long, Long, String)]
        .collect().sorted.toSeq,
      "salting must be result-invisible")
    salted.collect()
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("__salt"),
      s"expected a salt-keyed sort-merge join:\n$plan")
  }
}
