package graft.ops

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

/** Banded range join ([[RangeJoinOps.bandedRangeJoin]]): exactness against
  * the plain residual-range formulation, interval-spanning replication, and
  * the plan property the rewrite exists for — the join keys include the
  * bucket, so distribution no longer rides on the equi key alone. */
class RangeJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("banded join equals the plain range join on the corpus") {
    val plain = graft.queries.RelationalQueries
      .queries("q12_range_join")(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val banded = graft.queries.RelationalQueries
      .queries("q37_range_band")(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(banded == plain, "banding is an exact rewrite")
    assert(plain.nonEmpty, "fixture must exercise the join")
  }

  test("windows spanning bucket boundaries match in every covered bucket") {
    // window [95, 215] with width 100 covers buckets 0,1,2 — matches at 99
    // (bucket 0), 100 (bucket 1), 210 (bucket 2); misses 94 and 216
    val l = Seq((1L, 95L, 215L)).toDF("k", "lo", "hi")
    val r = Seq((1L, 94L), (1L, 99L), (1L, 100L), (1L, 210L), (1L, 216L),
      (2L, 100L)).toDF("rk", "ts")
    val got = RangeJoinOps.bandedRangeJoin(l, r, "k", "rk", "lo", "hi", "ts", 100L)
      .select(col("ts")).as[Long].collect().sorted.toSeq
    assert(got == Seq(99L, 100L, 210L), s"got $got")
  }

  test("auto width picks the ceil-mean span and reproduces the plain join") {
    val l = Seq((1L, 0L, 99L), (1L, 1000L, 1100L), (2L, 50L, 80L))
      .toDF("k", "lo", "hi")
    // spans 100, 101, 31 → mean 232/3 → ceil 78
    assert(RangeJoinOps.suggestBucketWidth(l, "lo", "hi") == 78L)
    // degenerate inputs: empty side and a floor
    assert(RangeJoinOps.suggestBucketWidth(l.limit(0), "lo", "hi", 7L) == 7L)
    assert(RangeJoinOps.suggestBucketWidth(l, "lo", "hi", 500L) == 500L)
    val r = Seq((1L, 0L), (1L, 99L), (1L, 100L), (1L, 1050L), (2L, 49L),
      (2L, 80L), (3L, 60L)).toDF("rk", "ts")
    val auto = RangeJoinOps.bandedRangeJoinAuto(l, r, "k", "rk", "lo", "hi", "ts")
      .select(col("k"), col("ts")).as[(Long, Long)].collect().sorted.toSeq
    assert(auto == Seq((1L, 0L), (1L, 99L), (1L, 1050L), (2L, 80L)), s"got $auto")
  }

  test("optimizer rule rewrites the residual range join to the banded shape") {
    graft.GraftExtensions.install(spark)
    val ev = Tables.events(spark, sfDir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su_user"), col("event_id").as("signup_id"),
        unix_micros(col("ts")).as("su_us"))
      .withColumn("lo", col("su_us") + 1)
      .withColumn("hi", col("su_us") + 3600L * 1000000L)
    val follows = ev.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ets"))
    def joined = signups.join(follows,
      col("su_user") === col("user_id") &&
        col("ets") >= col("lo") && col("ets") <= col("hi"))
      .select(col("signup_id"), col("event_id"))
    val residual = joined.as[(Long, Long)].collect().toSet
    assert(residual.nonEmpty, "fixture must exercise the join")
    withConf("spark.graft.rangeJoin.enabled" -> "true",
        "spark.graft.rangeJoin.bucketWidth" -> (3600L * 1000000L).toString) {
      val banded = joined
      val optimized = banded.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__band_bucket") &&
        optimized.contains("__band_pt"),
        s"rule must fire on the range join:\n${optimized.take(1500)}")
      assert(banded.as[(Long, Long)].collect().toSet == residual,
        "banded rewrite is exact")
      // idempotent under the fixed-point batch: one Generate, not nested
      assert("Generate explode".r.findAllIn(optimized).length == 1,
        s"rule must fire exactly once:\n${optimized.take(1500)}")
    }
  }

  test("join condition hashes on the bucket, not the key alone") {
    val ev = Tables.events(spark, sfDir)
    val l = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("lo"))
      .withColumn("hi", col("lo") + 3600000000L)
    val r = ev.select(col("user_id").as("rk"), unix_micros(col("ts")).as("ts"))
    val joined = RangeJoinOps.bandedRangeJoin(l, r, "k", "rk", "lo", "hi", "ts",
      3600000000L)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("__bucket"),
      s"bucket column must be part of the join keys:\n${plan.take(1200)}")
    // the range predicate is a post-join filter/condition, NOT the join's
    // partitioning — the hash join keys are (bucket, key)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(plan).isDefined, s"must plan an equi join:\n${plan.take(1200)}")
  }
}
