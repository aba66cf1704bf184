package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: specs, Bench, Verify, Profile and graftbench.
  *
  * Tuned for the container's local[32] mode but with settings that hold on a
  * real cluster: AQE on (runtime re-plan, skew-join splitting), shuffle
  * partitions sized to the parallelism rather than the 200 default.
  */
object GraftSession {

  /** Cross-cutting performance settings of every graft session. Each is
    * measured (OPTIMIZATION_r10.md §C1) and chosen to hold beyond local mode:
    *
    *   - `bypassMergeThreshold = 1`: always use the sort-based shuffle
    *     writer. The bypass writer opens/creates R partition files per map
    *     task and concatenates them with mmap'd NIO copies — M×R file
    *     creations + maps per shuffle. Thread dumps of hot stages showed
    *     tasks pinned in `FileChannelImpl.map0` doing exactly this (tiny
    *     shuffles paying ~0.5 s/task of fixed syscall cost on this kernel);
    *     the sort writer emits ONE data+index file per map task whatever R
    *     is. At cluster scale this is the default code path anyway (bypass
    *     only ever applies at R ≤ 200 with no map-side combine), so forcing
    *     it trades nothing structural.
    *   - committer algorithm v2 + no _SUCCESS markers: every graft write is
    *     published by a snapshot-table manifest link or read back
    *     explicitly — job-level rename-on-commit and _SUCCESS files are
    *     pure per-commit overhead here (hundreds of commits per run).
    *   - `parallelPartitionDiscovery.threshold = 4096`: a snapshot read
    *     passes an explicit file list; above 32 paths Spark launches a
    *     LISTING JOB for what is a driver-side stat of known paths (~0.1-0.5
    *     s per read measured). Listing jobs only pay off on object stores
    *     with thousands of directories.
    */
  private def perfDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    // AQE partition coalescing for CACHED plans (off by default since 3.4
    // only to keep cache-hit partitioning byte-stable for exchange reuse):
    // every operator cache here (changeset winners, ETL delta cores, merge
    // pins) otherwise materializes at the full shuffle-partition count, and
    // EVERY consumer action then scans that many near-empty cached
    // partitions — measured as the dominant task count in the incremental-
    // ETL streaming gates (32-task stages over KB-sized cached deltas).
    // Scale-adaptive, not local-tuned: AQE sizes post-shuffle partitions by
    // bytes (advisoryPartitionSizeInBytes), so a corpus-sized cached frame
    // keeps its parallelism.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      sys.env.getOrElse("SPARK_GRAFT_CACHE_AQE", "true"))

  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = perfDefaults(SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is TIMESTAMP(NANOS) parquet; Spark 4 rejects it
      // unless read as raw nanos (Tables.events converts back to timestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
