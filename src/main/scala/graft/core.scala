package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** One registered query: a Spark implementation plus (when SQL-expressible)
  * an equivalent DuckDB oracle. Column names MUST match between the two —
  * the driver sorts columns by name before hashing values.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

/** Shared table access. All test tables are parquet files under an sf dir
  * (see TESTDATA.md). At 100 TB these reads become distributed scans over a
  * partitioned lake layout; nothing here assumes local paths beyond the dir
  * prefix, and every query is written so Catalyst can push filters/pruning
  * into the scan.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with a normalized epoch-second `ts_sec: Long` column.
    *
    * The events parquet has stored `ts` three ways across driver testdata
    * generations, and all must normalize to the same floor-seconds value —
    * the reference's uint64-seconds event time (reference:
    * src/fns_imported.h:5), which every oracle compares against
    * (`floor(epoch(ts))` in DuckDB):
    *   - INT64 TIMESTAMP(NANOS) → LongType under
    *     `spark.sql.legacy.parquet.nanosAsLong=true`: integer-divide.
    *   - timestamp[us] with tz → TimestampType: cast to long (seconds).
    *   - timestamp[us] without tz (pandas-written) → TimestampNTZType:
    *     Spark forbids a direct numeric cast, so hop through TimestampType
    *     first. The session is pinned to UTC, so the naive wall-clock
    *     reinterprets as the same epoch instant DuckDB's `epoch(ts)` sees.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = apply(spark, dir, "events")
    val tsSec = df.schema("ts").dataType match {
      case LongType => expr("ts div 1000000000")
      case _        => tsLong(df, "ts")
    }
    df.withColumn("ts_sec", tsSec)
  }

  /** Cast a user-named ts column to epoch-second Long, tolerating
    * TIMESTAMP_NTZ — Spark forbids the direct numeric cast on NTZ, so it
    * hops through TimestampType (the session is pinned UTC, making the
    * naive wall-clock the same epoch instant). Every other type keeps the
    * plain `cast("long")` this replaced: numeric columns pass through
    * unchanged, TimestampType yields floor-seconds. Used by every boundary
    * that accepts an arbitrary events frame (CLI `--ts-col`, streaming
    * faces, engine sort keys) so a pandas-written parquet doesn't fail
    * analysis.
    */
  def tsLong(df: DataFrame, c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case TimestampNTZType => col(c).cast(TimestampType).cast("long")
      case _                => col(c).cast("long")
    }
}

/** Scale-gated parallelism fix for CPU-heavy per-row stages (r21, guide
  * §2.5 "input skew: one huge unsplittable file … repartition immediately
  * after the read"): the bench corpora arrive as ONE parquet file with one
  * row group, so every scan is a single split, and AQE's partition
  * coalescing keeps tiny shuffles at one partition — which serializes the
  * expensive per-row kernels (md5 gram hashing, real image/audio codec
  * round-trips, shingle fingerprinting) onto one core of local[32]
  * (measured: jobs == stages == tasks for the whole mm_* family and the
  * md5 dedup faces; d_simhash_hamming ran 3.2 s with every stage
  * single-task).
  *
  * `Spread(df)` round-robin-repartitions to the session's default
  * parallelism ONLY when the frame's current scan parallelism is below it
  * — at lake scale the scan already carries more splits than cores and
  * the call is a no-op (no exchange added), so the fix is scale-adaptive
  * rather than a local[32] constant. The repartition pays one doc-scale
  * exchange (bytes = the rows the downstream kernel was going to read
  * anyway) to spread the kernel across every core; round-robin needs no
  * key and Spark's sort-before-repartition keeps the assignment
  * deterministic under retries (SPARK-23207). Apply it ONLY where the
  * downstream per-row work dominates — an extra stage costs ~50 ms at
  * bench scale, a regression for already-cheap map-only queries.
  */
object Spread {
  def apply(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val spark = df.sparkSession
      val target = spark.sparkContext.defaultParallelism.toLong
      // estimate each LEAF's scan parallelism from the already-listed file
      // metadata (`.rdd.getNumPartitions` would be exact, but under AQE it
      // eagerly executes upstream query stages — a plan inspection must
      // not run jobs). Non-file leaves conservatively report "wide
      // enough": only genuinely-small file scans (and already-materialized
      // checkpoint RDDs) ever take the exchange.
      val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
      val leafParts: Seq[Long] = df.queryExecution.analyzed.collectLeaves().map {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.sizeInBytes / maxSplit + 1
            case _ => Long.MaxValue
          }
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.getNumPartitions.toLong
        case _ => Long.MaxValue
      }
      val parts = if (leafParts.isEmpty) Long.MaxValue else leafParts.max
      if (parts < target) df.repartition(target.toInt) else df
    }
  }
}

/** Session factory used by Verify/Bench/tests AND the spark-submit mains.
  * Every setting is the one you'd want on a real cluster: AQE on (runtime
  * skew-join and partition coalescing), nanos-as-long so the ns-precision
  * events table round-trips losslessly, the extension registering the
  * native expressions.
  *
  * Master and shuffle-partition handling is deployment-aware: under
  * spark-submit (which injects `spark.master` into the driver JVM's system
  * properties) the submitted master and the cluster's own
  * shuffle-partition/AQE sizing win — forcing `local[n]` here would
  * silently turn a 1000-executor submission into a single-JVM run. Only
  * when no master was submitted (sbt runMain, tests) does the builder fall
  * back to `local[cpus]` with a matching modest shuffle partition count.
  */
object GraftSession {
  /** The builder every main uses: local cores from `SPARK_GRAFT_CPUS`,
    * else every available processor.
    */
  def builder(): SparkSession.Builder =
    builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))

  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    if (sys.props.contains("spark.master")) b
    else b.master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false") // local runs don't want the UI; a cluster does
  }
}
