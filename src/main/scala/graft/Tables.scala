package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Parquet table loader for the driver-generated TPC-H-ish corpus
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * Scale notes: `spark.read.parquet` gives vectorized columnar scans with
  * predicate pushdown + column pruning for free; at 100 TB the same call
  * reads a partitioned directory tree and Catalyst prunes partitions from
  * the filter — nothing here is local-mode-specific.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Spread a narrow scan across all cores before CPU-heavy per-row work.
    *
    * The test corpus writes each table as ONE parquet row group, and parquet
    * can't split below a row group — so every scan is a single partition and
    * md5/higher-order-function pipelines would run on one core. A round-robin
    * repartition of the (small) raw bytes buys full parallelism. At 100 TB
    * inputs arrive as many files/row groups and this shuffle is a no-op
    * cost-wise relative to the compute it unblocks; results are unaffected
    * (everything downstream is per-row math or key aggregation). */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(fanoutPartsOverride.get
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism))

  /** Stage a multiply-consumed intermediate: an eager localCheckpoint at
    * the session-selected storage level. Unset (the bench/Verify grain)
    * this is exactly Spark's `localCheckpoint()` default
    * (memory-and-disk). Big-corpus harnesses — the scale probe's 100×
    * decade — set `spark.graft.stageLevel=DISK_ONLY` so corpus-sized
    * stage frames (e.g. t52's ~250M-row gram-instance table at 500k
    * docs) never occupy the unified pool's evict-protected storage
    * share: execution keeps the whole pool for its aggregation maps,
    * which is what killed the decade run when the stage frames lived in
    * RAM (AGGREGATE_OUT_OF_MEMORY). The local-mode twin of writing a
    * stage table to cluster storage instead of pinning executor RAM at
    * 100 TB. */
  def stage[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(true, stageLevel(ds.sparkSession))

  /** `spark.graft.stageLevel` if set, else `MEMORY_AND_DISK` (what an
    * unlevelled `localCheckpoint` uses); the graph loops' edge lists too. */
  def stageLevel(s: SparkSession): StorageLevel =
    s.conf.getOption("spark.graft.stageLevel").map(StorageLevel.fromString)
      .getOrElse(StorageLevel.MEMORY_AND_DISK)

  /** Test hook: pin the fanout partition count while `body` builds plans —
    * partition-invariance property tests run the same query under
    * different splits (`OperatorPropertiesSpec`). Thread-local because
    * the partition count is captured at plan-build time on the caller. */
  private val fanoutPartsOverride = new ThreadLocal[Option[Int]] {
    override def initialValue(): Option[Int] = None
  }
  def withFanoutParts[T](parts: Int)(body: => T): T = {
    fanoutPartsOverride.set(Some(parts))
    try body finally fanoutPartsOverride.set(None)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` arrives as parquet TIMESTAMP(MICROS, ntz) in current
    * corpus generations, and as TIMESTAMP(NANOS) in older ones — which
    * Spark 4 rejects by default (PARQUET_TYPE_ILLEGAL), hence the
    * `nanosAsLong` read + floor-convert fallback. Both paths yield a µs
    * TimestampType carrying the same instant DuckDB sees (session tz is
    * UTC everywhere, so the ntz→tz cast is wall-clock-identity; ns values
    * truncate to µs in both engines). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The MICROS path below casts TimestampNTZ → TimestampType, which is
    // instant-preserving ONLY under a UTC session zone. Every graft entry
    // point sets it, but a session built elsewhere would silently shift
    // all event timestamps — pin it here so the dependency can't drift.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
