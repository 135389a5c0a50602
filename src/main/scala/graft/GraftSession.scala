package graft

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * Local test runs use `local[N]`; on a real cluster the same builder
  * settings apply (AQE, skew-join handling, UTC). Shuffle partitions
  * default to the local core count — on a cluster AQE coalesces
  * post-shuffle partitions so the initial number only caps parallelism.
  */
object GraftSession {
  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE sizes post-shuffle partitions by BYTES, but several engine
      // stages are CPU-heavy per byte (shingle-set collect+sort, array
      // intersection verifies, regex chains): at the default 1 MB
      // minimum their few-MB shuffles coalesce to 1-2 tasks and the
      // stage runs serial on an idle cluster (measured: a 1.4 s 2-task
      // verify stage dominating t_split_safe_incr; 10-25% off the whole
      // PPJoin/cluster family at 128k, no regression on byte-heavy or
      // trivial queries). parallelismFirst (default true) still caps
      // the partition count at defaultParallelism, so this only splits
      // small-but-expensive shuffles, never multiplies large ones.
      // Parameterised for deployments whose shuffles are byte-bound
      // (export SPARK_GRAFT_MIN_COALESCED_PARTITION=1m restores the
      // stock minimum).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED_PARTITION", "128k"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // Partition discovery above this many paths becomes a distributed
      // LISTING JOB (one task per dir). Spark's default of 32 is tuned
      // for high-latency object stores; on local disk / HDFS a driver
      // listing of a few hundred month dirs is sub-millisecond while the
      // job costs ~0.15 s of pure scheduling — and every month-
      // partitioned snapshot read crosses 32 dirs. Parameterised for
      // deployments on S3-like stores where parallel listing wins
      // (export SPARK_GRAFT_LIST_PARALLEL_THRESHOLD=32).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "512"))
      // testdata generations have shipped events.ts as parquet
      // TIMESTAMP(NANOS), which Spark's reader rejects outright; this
      // legacy conf reads nanos as LONG (a no-op for MICROS files) and
      // Tables.eventsFromRaw normalizes either encoding. Session-level
      // BY DESIGN: the one place the choice is made, instead of a
      // loader mutating the conf of a session it doesn't own.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // SQL front door of the versioned snapshot store: path-addressed
      // identifiers (MERGE INTO graft.`/path` …) resolve to GraftTable
      .config("spark.sql.catalog.graft", classOf[sources.GraftCatalog].getName)
      .config("spark.ui.enabled", "false")
      // `file:` through graft's local filesystem (sources/LocalFs.scala),
      // for FileSystem and FileContext (Spark's streaming checkpoints)
      // alike. Without libhadoop, which Spark's jars do not ship, the
      // stock classes start a `chmod` process for every file, `.crc`
      // and directory a write creates (~1,000 per monthly_update run);
      // these set the same bits in-process and keep the checksums.
      .config("spark.hadoop.fs.file.impl", classOf[sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[sources.GraftLocalFs].getName)

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
