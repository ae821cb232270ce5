package graft

import org.apache.spark.sql.SparkSession

/**
 * SparkSession builder with the library's scale-tuned defaults — the one
 * place the 100 TB posture is spelled out as configuration:
 *
 *   - AQE on (runtime re-planning: partition coalescing, broadcast
 *     conversion, skew-join splitting) plus explicit skew-join enable.
 *   - `shuffle.partitions` sized from parallelism, not the 200 default —
 *     pass the real cluster core count; oversubscribe ×2 so AQE has
 *     partitions to coalesce rather than too few to split.
 *   - 256 MiB `files.maxPartitionBytes`: at 100 TB the scan task count
 *     dominates scheduler overhead, and columnar parquet scans of 256 MiB
 *     comfortably fit executor memory alongside a shuffle buffer.
 *   - UTC session timezone (engine-portable timestamp semantics — the
 *     DuckDB oracles assume it).
 *   - `GraftExtensions` installed: the library's SQL functions are
 *     available on every session (it adds no optimizer rule).
 *
 * Every session in the library, its tools (Bench, Verify, PlanProfile,
 * ScaleRehearsal, the CLI) and its test suites is built here.
 */
object GraftSession {

  def builder(appName: String = "graft",
      parallelism: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // cached plans keep AQE partition sizing (r16): iterative trainers
      // re-read persisted corpora every iteration; without this their
      // cache freezes `shuffle.partitions` near-empty partitions in
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.shuffle.partitions", math.max(parallelism * 2, 8).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** Cores for the local tools: `SPARK_GRAFT_CPUS`, or every core of the
    * host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local session for tests/tools: `local[n]` master on top of the same
    * tuned defaults. */
  def local(appName: String, cores: Int): SparkSession =
    builder(appName, cores).master(s"local[$cores]").getOrCreate()
}
