package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Local defaults target the test environment; on a cluster, master/memory
  * come from spark-submit and only the SQL confs below matter. AQE stays on
  * (runtime re-planning: shuffle coalescing, skew-join splitting, SMJ→BHJ
  * demotion) — it is the 100 TB safety net for every static choice here.
  */
object GraftSession {

  /** Bound on Spark's cache of generated classes
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    *
    * The cache maps generated source to its compiled class, so a re-run of
    * a plan shape skips Janino compilation and runs code the JIT has
    * already compiled. graft's plans generate about 50 classes per query.
    * Measured working set (Spark 4.1, sf0.1, local[4]): one pass of the
    * benchmark's `analytics` workload generates about 750 classes and one
    * pass of `lake_refresh` about 650. At 100 entries every query evicted
    * the classes of the ones before it, so every re-run compiled again.
    * 4096 holds several passes. A held entry costs about 6 KB of Metaspace
    * (after a full GC), so a full cache costs about 25 MB.
    *
    * The cache is JVM-wide and static. It is sized once, from the conf of
    * the first session that generates code in the JVM, which is in
    * practice the first SparkContext. A `getOrCreate` onto an existing
    * context keeps the bound that context set. On a cluster, each executor
    * sizes its own cache from the same conf.
    */
  val CodegenCacheEntries = 4096

  /** Cluster-facing tuning knobs, surfaced so a deployment sizes them to
    * its data instead of editing code:
    *
    * - `broadcastThresholdMb`: dims below this auto-broadcast. 10 MB is
    *   Spark's default; at 100 TB with large executors, 64–256 MB turns
    *   most dim joins into broadcast joins and removes their shuffles.
    * - `maxPartitionBytes`: scan split size. Bigger splits amortize task
    *   overhead on wide clusters; smaller splits help skewed file layouts.
    * - AQE stays on with skew-join splitting and partition coalescing
    *   explicit: skewed shuffle partitions split past
    *   `skewedPartitionThresholdInBytes`, tiny ones merge — the runtime
    *   safety net for every static estimate here.
    */
  def builder(
      appName: String = "graft",
      cores: Int = 32,
      broadcastThresholdMb: Int = 10,
      maxPartitionBytes: String = "128m"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${broadcastThresholdMb}m")
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      // the synthetic lake stores event timestamps as parquet TIMESTAMP(NANOS),
      // which Spark only reads as a long (see SparkEntry.evSec)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .withExtensions(new graft.plans.GraftExtensions)

  /** Local session for tests/benchmarks. */
  def local(appName: String = "graft", cores: Int = 32): SparkSession =
    builder(appName, cores).master(s"local[$cores]").getOrCreate()
}
