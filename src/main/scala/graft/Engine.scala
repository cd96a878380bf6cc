package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loaders for the graft engine.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized for the local[32]
  * harness but overridable for a real cluster, broadcast threshold
  * left at default so small dims (region/nation/seed-sized tables)
  * broadcast automatically.
  *
  * Deploying on a real cluster (1000-executor / 100 TB posture), keep
  * this factory and override per-deployment:
  *   - `spark.sql.shuffle.partitions` ≈ 2-3× total cores (AQE
  *     coalesces down, it never splits up — oversize, don't undersize);
  *   - `spark.sql.files.maxPartitionBytes` 256m for scan parallelism
  *     against large parquet row groups;
  *   - `spark.sql.adaptive.advisoryPartitionSizeInBytes` 128m so AQE
  *     coalesces toward executor-memory-friendly shuffle blocks;
  *   - leave `spark.sql.autoBroadcastJoinThreshold` at default unless
  *     dim tables exceed 10 MB compressed — every dim join in this
  *     engine is written broadcast-first;
  *   - state-store streaming queries: size
  *     `spark.sql.shuffle.partitions` at FIRST start (it is frozen
  *     into the checkpoint) and keep watermarks on every stateful op,
  *     as `streaming/Streams.scala` does.
  * Nothing in the engine assumes local mode: every operator's
  * partitioning contract is declared in its plan (PlanSpec pins), and
  * the only `.collect()` sites are constant bootstraps (centroids,
  * query vectors) that are cluster-safe by size.
  */
object Engine {

  def session(
      appName: String = "graft",
      master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // `file:` writes set permissions without forking `chmod`
      // (NioLocalFileSystem). Hadoop caches FileSystems by scheme and
      // user, not class: a `file:` instance made before this session
      // is the one its writes keep getting.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    // Deployment-specific overrides without a code change (the
    // scale-dependent-settings-stay-parameterised rule): semicolon-
    // separated key=value pairs, applied last so a cluster launcher
    // can size shuffle partitions / broadcast thresholds per
    // deployment while the local defaults above keep the driver's
    // bench methodology unchanged when the variable is unset.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(';').map(_.trim).filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one of the driver test tables from an sf directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize `events.ts` to a session-tz TIMESTAMP at microsecond
    * precision. The driver's testdata has shipped the column as both
    * Parquet TIMESTAMP(NANOS) — which Spark reads as long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong` — and TIMESTAMP(MICROS) —
    * which Spark reads as TIMESTAMP_NTZ — across generations, so the
    * loader dispatches on the observed type instead of assuming one.
    * Session tz is UTC (set in [[session]]), so the NTZ cast is a pure
    * type retag, not a wall-clock shift.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(
          "ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(
          "ts",
          org.apache.spark.sql.functions
            .col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
}
