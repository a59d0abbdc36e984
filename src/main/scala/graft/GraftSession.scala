package graft

import org.apache.spark.sql.SparkSession

/**
 * Canonical SparkSession configuration for the graft engine.
 *
 * All entrypoints (Verify, Bench, tests, user sessions) go through
 * [[configure]] so the semantics-bearing settings are applied uniformly:
 *
 *  - `spark.sql.session.timeZone=UTC` — oracle parity (DuckDB renders naive
 *    UTC timestamps).
 *  - `spark.sql.legacy.parquet.nanosAsLong=true` — an escape hatch for the
 *    INT64 TIMESTAMP(NANOS) events encoding (driver testdata through round
 *    7), which Spark otherwise refuses to read ([PARQUET_TYPE_ILLEGAL]); a
 *    no-op for the current `timestamp[us]` TIMESTAMP_NTZ encoding. Either
 *    way [[Tables.normalizeTs]] maps the column to the canonical µs
 *    TimestampType, matching DuckDB's own read of the same file.
 *  - AQE on — runtime re-planning (broadcast conversion, skew-join
 *    splitting, partition coalescing) is the scale story for the join/agg
 *    surface; at 100 TB these decisions must be made from runtime stats,
 *    not static estimates.
 */
object GraftSession {

  /** Apply graft's standard configs to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    // Streaming state store backend: HDFS-backed (default) keeps versioned
    // in-heap maps — right for the bounded replays here; RocksDB
    // (SPARK_GRAFT_STATESTORE=rocksdb) is the at-scale choice when state
    // outgrows executor heap (changelog checkpointing, off-heap).
    val withStore =
      if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
        b.config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else b
    withStore.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // bounded-replay checkpoint hygiene: retaining 100 batches is for
      // long-lived recovery, 2 covers a replay's restart. no-data
      // micro-batches stay ENABLED — append-mode windows need the final
      // no-data batch to emit windows past the watermark (WatermarkSpec
      // fails without it; disabling bought <10% anyway)
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      // checkpoint writes (offsets, commits, metadata, state-store deltas
      // and snapshots) through java.nio on local paths: Hadoop's local
      // filesystem forks a `chmod` per file created without libhadoop
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      // Replay-harness envelope: the verify/bench streaming replays drain
      // tail batches into a MEMORY sink (driver-resident by construction),
      // and at the factor-100 rehearsal one replay totals ~2 GiB of
      // serialized results — over the 1g core default even when the source
      // slices the batch into bounded tasks. Production sinks (parquet,
      // the offset log) never route rows through the driver, so this only
      // widens the harness path; it is NOT a license for collect() in
      // operators (PlanSpec pins the plans that must stay distributed).
      .config("spark.driver.maxResultSize", "8g")
      .config("spark.ui.enabled", "false")
  }

  /**
   * Local session for tests/tools. `cores` also sizes
   * `spark.sql.shuffle.partitions` — in local mode there is no reason for
   * shuffle parallelism to exceed thread count (the 200 default just
   * creates tiny-task overhead).
   */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession
        .builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
