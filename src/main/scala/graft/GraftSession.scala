package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's scale posture in one place.
  *
  * The same builder serves local[N] testing and a real cluster — only
  * master/memory change; the SQL-level posture (AQE with skew-join
  * splitting and partition coalescing, UTC determinism, shuffle
  * partitions sized to cores not the 200 default, bounded file
  * partitions, nanos-tolerant parquet reads) is the part that must hold
  * at 100 TB and is therefore centralized here.
  */
object GraftSession {

  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Reference cast semantics (SURVEY.md §7.4): text casts yield NULL on
      // malformed input (Spark 4 defaults ANSI on, which throws instead).
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Pin the v1 file output committer: job commit renames task
      // output into the destination only at commitJob, so a SINGLE-FILE
      // append job is an atomic all-or-nothing commit — the property
      // the append-only (non-op-log) streaming writers rely on for
      // replay idempotence. v2 commits per-task directly into the
      // destination, making partially-visible appends normal; never
      // run this engine with it.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "1")
      // Shuffle-writer crossover (default 200): reducer counts <= the
      // threshold take the bypass-merge writer (one stream per reducer
      // per map task), larger ones the serialized sort writer. Measured
      // at sf0.1 on local[32]: the 32-reducer gram-explode stages pay
      // ~3x their task CPU in per-reducer stream overhead under bypass
      // (q_span_remove 28.6 -> 8.2 s summed CPU on the sort writer)
      // while the stateful streaming twins' many tiny 8-reducer
      // micro-batch shuffles run ~2x FASTER under bypass than under the
      // sort writer's per-task page setup (q_ols_stream 3.2 -> 6.2 s
      // when forced to sort). 16 keeps every <=16-reducer shuffle on
      // the bypass writer (the replay/micro-batch posture) and moves
      // session-width batch shuffles to the sort writer the 100 TB
      // posture (>200 reducers) already uses. A writer choice, not a
      // plan change — results are identical either way.
      .config("spark.shuffle.sort.bypassMergeThreshold", "16")
      // Partition discovery of the bucketed index tables (64 hive dirs)
      // trips the default 32-path threshold and runs a DISTRIBUTED
      // listing job (~0.2 s of scheduler fixed cost) for what is a
      // handful of driver-side metadata calls; several such reads run
      // per index op. Driver-side listing stays the right call well
      // into the hundreds of directories on HDFS-like and local stores.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      // `file:` only (HDFS, S3A and every other scheme keep their own
      // classes): Hadoop's local filesystem without libhadoop forks
      // `chmod` per file or directory it creates and `readlink` per
      // link-status probe. One trip_batches run of the repo benchmark
      // (five set-ups and a pass) forked 1,035 chmods, one per task
      // output file, .crc file and commit-protocol directory; one
      // catalog_slice run forked 776 readlinks and 310 chmods, mostly
      // for stream checkpoint files written through FileContext. Both
      // Hadoop APIs get the same in-process raw class; checksums, the
      // committer and renames stay Hadoop's.
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.NioLocalFs].getName)

  /** Local session for tests/benchmarks. */
  def local(appName: String, cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(appName, cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
}
