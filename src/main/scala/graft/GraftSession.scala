package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration this engine assumes.
  *
  * Scale notes (100 TB / 1000-executor design intent):
  *  - AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  *    shuffle partition counts when the data is orders of magnitude larger
  *    than the local test scale.
  *  - UTC session time zone: the reference engine renders all timestamps in
  *    UTC (chrono `Utc`, /root/reference/src/transforms.rs:243-281), and the
  *    DuckDB oracle compares rendered values.
  */
object GraftSession {
  def builder(appName: String = "graft", master: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      // graft_* SQL functions (GraftExtensions): the same Catalyst kernels
      // the Scala API builds, reachable from pure SQL. Static conf — on a
      // cluster, pass the same --conf; injection is additive and idempotent.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Parquet scans: vectorized reader + pushdown are defaults, pinned here
      // because the correctness/bench gates depend on them.
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Write timestamps as INT64 µs like the reference's Arrow writer —
      // Spark's INT96 legacy default has no footer stats (so add.stats
      // would lack timestamp min/max) and foreign readers see ns.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // MinHash signatures aggregate 128 min() columns in one hash agg;
      // the default maxFields=100 silently drops the whole operator out of
      // whole-stage codegen (measured 3× slower interpreted).
      .config("spark.sql.codegen.maxFields", "256")
      // Generated-class cache sized for a service that runs MANY distinct
      // queries per JVM (this engine's registry alone is 200+ plans; the
      // bench interleaves 36 × 4 iterations). The default 100-entry LRU
      // thrashes at that working set, so every iteration re-pays janino
      // compilation AND fresh-class JIT warmup for every query — measured
      // round 20: one full 36-query pass 66.2 s → 49.5 s,
      // graph_pagerank in-bench 6.9 s → 3.2 s, with identical results.
      // This caches compiled CODE keyed on generated source (Spark's own
      // mechanism, default-on), never data or results; entries are weakly
      // referenced, so memory is bounded by live plans. On a production
      // cluster the same value applies to the driver and executors alike.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // harness events table carries TIMESTAMP(NANOS); Spark 4 reads it as
      // long under this flag (Tables.events converts to µs timestamps)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master.foreach(b.master)
    b
  }

  /** Local session used by tests/bench; shuffle partitions sized to cores,
    * not the 200 default (local[N] = one JVM, N threads). */
  def local(appName: String = "graft", cores: Int = 4): SparkSession = {
    val s = builder(appName, Some(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
