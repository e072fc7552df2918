package graft

import org.apache.spark.sql.SparkSession

/** The engine's deployment configuration, stated as code instead of lore.
  *
  * [[local]] is what the test/bench harness runs (single JVM, `local[n]`);
  * [[cluster]] is the 1000-executor / 100 TB profile every operator in this
  * library is designed against. The same plans that pass the DuckDB oracle
  * here run unchanged on the cluster. The profiles differ in:
  *  - sizing: `local` uses one shuffle partition per core and Spark's default
  *    file split and broadcast threshold; `cluster` sets all three (see its
  *    per-setting rationale);
  *  - skew-join splitting, on in `cluster` only;
  *  - the streaming state store: `cluster` sets RocksDB, `local` keeps the
  *    default HDFS-backed (in-memory) provider;
  *  - serializer: `cluster` sets Kryo, `local` keeps Java serialization;
  *  - file listing: `local` always lists in the driver. Past
  *    `parallelPartitionDiscovery.threshold` (32 paths) Spark lists through
  *    a Spark job, which under `local[n]` runs in the same JVM on the same
  *    cores and adds only job scheduling: 236–461 ms per listing in a
  *    traced 4-core `stedi_p3` micro-batch over a 33+-directory glob,
  *    against microseconds per directory for a local `listStatus`.
  *    `cluster` keeps the job, which spreads object-store listing across
  *    executors;
  *  - `cluster` registers [[GraftExtensions]] and leaves the master and UI to
  *    the launcher; `local` sets `local[n]` and turns the UI off.
  * Both use AQE and a UTC session time zone, and both pass through
  * [[inProcessLocalFs]]: `file:` paths go through [[InProcessLocalFs]], so
  * checkpoints, state stores and file-source metadata are written without
  * forking `chmod`/`readlink` per file when `libhadoop` is absent.
  */
object ClusterConfigs {

  /** Cores for a harness's `local[n]`: `SPARK_GRAFT_CPUS` if set, else every
    * core the JVM sees. */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Harness profile — mirrors Verify/Bench: partitions = cores, AQE on,
    * UTC so timestamps match the oracle. */
  def local(builder: SparkSession.Builder, cores: Int): SparkSession.Builder =
    inProcessLocalFs(builder)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      .config("spark.ui.enabled", "false")

  /** 100 TB profile. Sizing rationale, per setting:
    *
    *  - shuffle.partitions ≈ 2-3× total executor cores (here 1000 execs ×
    *    8 cores): partitions small enough to sort/aggregate in executor
    *    memory without spilling, large enough that AQE can only COALESCE
    *    (cheap) rather than need splits (impossible for non-skew cases).
    *  - files.maxPartitionBytes 256 MB: with ~128 MB parquet row groups,
    *    two row groups per scan task amortizes task overhead at 100 TB
    *    (~400k tasks per full scan) without starving parallelism.
    *  - AQE on, plus skew-join splitting for the skew you didn't author
    *    around (the authored answer is salting — DedupOps.simhashPairs).
    *    Coalescing stays on: per-key exchanges that feed EXPANDING joins
    *    must pin their partition count explicitly (REPARTITION_BY_NUM, see
    *    DedupOps) — that contract is what makes coalescing safe globally.
    *  - autoBroadcastJoinThreshold 64 MB: every dimension table in the
    *    corpus schema broadcasts; fact-fact joins never do.
    *  - RocksDB state store: streaming join/aggregation state at billions
    *    of keys lives off-heap with incremental checkpoints; the unbounded
    *    parity join (reference semantics) REQUIRES this, the watermarked
    *    variants merely benefit.
    *  - Kryo + registration-free: internal rows dominate; Kryo covers the
    *    typed Aggregator buffers (TopK/VecCentroid/QuantileSketch).
    */
  def cluster(builder: SparkSession.Builder): SparkSession.Builder =
    inProcessLocalFs(builder)
      .config("spark.sql.shuffle.partitions", "20000")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** The `file:` scheme, for both the `FileSystem` and the `FileContext` API,
    * through the fork-free local filesystem. Checksums, atomic renames and
    * permission bits are stock; see [[InProcessRawLocalFileSystem]]. */
  private def inProcessLocalFs(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.hadoop.fs.file.impl", classOf[InProcessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[InProcessLocalFs].getName)
}
