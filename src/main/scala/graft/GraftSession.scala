package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Settings chosen for correctness at local[N] and sanity at cluster
  * scale: AQE on (runtime coalescing + skew-join splitting), broadcast
  * threshold large enough that every dimension table in the star schema
  * broadcasts, shuffle partitions sized to the core budget (on a real
  * cluster this is overridden by AQE coalescing anyway).
  *
  * Parallelism defaults to the driver's SPARK_GRAFT_CPUS env var so the
  * harness, Bench and Verify all agree on the core budget.
  */
object GraftSession {

  /** Core budget: driver-pinned via SPARK_GRAFT_CPUS, else 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** JVM-wide codegen cache size (`spark.sql.codegen.cache.maxEntries`,
    * Spark's default 100). One streaming fan-out trigger needs ~130-145
    * generated classes (13 normalize projections, orderings, write
    * stages). The routes compile in the same order every trigger, so
    * at 100 the LRU evicted each class before the next trigger reused
    * it, and each recompiled class started interpreted and was
    * JIT-compiled again. StreamBench on a 4-vCPU VM, three 64-object
    * triggers after a warm-up stream: 389 compiles at 100 entries
    * (every trigger recompiled), 100 at 1024 (all in the query's first
    * trigger; its warm triggers compiled none, and their route writes
    * took ~2.5 s instead of ~4.2 s). 1024 holds the fan-out with
    * headroom for the query suite. A static conf, read once when
    * `CodeGenerator` initializes: a session not built here must set it
    * before its first query. */
  private val CodegenCacheEntries = 1024

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // set once at build time (not per-read): parquet TIMESTAMP(NANOS)
      // columns (events.ts in the driver testdata) are read as Long;
      // Tables.load converts back gated on the parquet logical type
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (events.ts in
      // newer driver testdata) must read as TIMESTAMP, not NTZ: the
      // session tz is UTC so values are identical, and the epoch fns
      // (unix_micros etc.) only accept TIMESTAMP
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // lake timestamps as INT64 TIMESTAMP(MICROS) instead of INT96:
      // parquet keeps no min/max for INT96, so a file's `time` bounds
      // (manifest stats, Spark's row-group filter) need this encoding;
      // 8 bytes a value instead of 12. Readers of either encoding get
      // the same values
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** Classes Spark's codegen has compiled in this JVM so far: each is
    * a codegen-cache miss. The benches print its delta per phase, so a
    * warm phase that recompiles shows as a count, not as seconds. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
