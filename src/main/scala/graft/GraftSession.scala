package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.{AsOfRangePushdown, AsOfStrategy}

/** The one module that knows how a session is made ready for graft.
  *
  * [[build]] constructs the engine's own session: local[N] here; on a
  * cluster the same settings apply per-executor. AQE handles runtime
  * re-planning (partition coalescing, skew-join splitting), which is the
  * scale path for the audit feed's hot entities and for dedup blocks of
  * uneven size.
  *
  * [[prepare]] makes any session ready — one graft built, or one handed
  * in by a caller (the driver's session, `getOrCreate` returning an
  * existing one). Operators never touch session state themselves, so an
  * op sees the same posture whichever op ran before it.
  */
object GraftSession {

  /** The pinned session posture.
    *   - ANSI mode ON (Spark 4's default, pinned so a deployment default
    *     cannot flip arithmetic semantics under the oracle hashes):
    *     overflow, division by zero and invalid casts raise instead of
    *     wrapping or yielding NULL.
    *   - Parquet TIMESTAMP(NANOS) columns read as raw LONG epoch nanos,
    *     which Spark's vectorized reader otherwise rejects;
    *     [[graft.sources.FeedSources.normalize]] truncates them to the
    *     engine's native micros. */
  private val posture: Seq[(String, String)] = Seq(
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Idempotent: registers each [[GraftFunctions.descriptions]] function
    * the session lacks, adds the AS-OF planner strategy and range-pushdown
    * rule once each, and sets the posture. */
  def prepare(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val registry = classic.sessionState.functionRegistry
    GraftFunctions.descriptions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    val x = classic.experimental
    if (!x.extraStrategies.contains(AsOfStrategy))
      x.extraStrategies = x.extraStrategies :+ AsOfStrategy
    if (!x.extraOptimizations.contains(AsOfRangePushdown))
      x.extraOptimizations = x.extraOptimizations :+ AsOfRangePushdown
    posture.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  def build(appName: String, cpus: String): SparkSession = {
    // shuffle partitions default to the core count (local mode: one
    // healthy partition per core; AQE coalesces below that). The env
    // override exists for scale-leg experiments — e.g. probing whether a
    // 10x-data one-box run is partition-count-bound — without forking
    // the session recipe.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // Streaming state store provider. The deployment posture for a
    // 100 TB horizon is RocksDB (state lives off-heap/on-disk per
    // executor, bounded heap regardless of watermark horizon × key
    // cardinality); the local default stays Spark's in-memory
    // HDFS-backed provider so sandbox runs don't pay RocksDB's
    // per-micro-batch checkpoint overhead on tiny state. Output is
    // byte-identical either way (RocksDbStateSpec pins it for the
    // flatMapGroupsWithState sessionizer and
    // dropDuplicatesWithinWatermark — a provider is a KV layout, never
    // semantics).
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    // Input-split size — the second determinism axis (shuffle width is
    // the first): how many partitions a parquet SCAN fans out to, which
    // moves partial-agg grouping and scan-side merge order. The
    // determinism sweep runs Verify under 16m vs the 128m default and
    // diffs every op's result multiset (tools/determinism.py).
    val maxSplit = sys.env.getOrElse("SPARK_GRAFT_MAX_SPLIT", "128m")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.files.maxPartitionBytes", maxSplit)
      .config("spark.sql.streaming.stateStore.providerClass", stateStore)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    prepare(s)
    s
  }
}
