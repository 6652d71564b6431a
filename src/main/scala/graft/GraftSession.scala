package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for correctness-reproducibility (UTC; Spark 4's default ANSI
  * mode is kept ON — errors over silent wraps/nulls, and every engine
  * expression is written to be overflow-free under it, e.g.
  * Sampling.bucketOf's split multiply) and for the local[32] harness
  * while keeping every knob meaningful on a real cluster: AQE handles
  * runtime re-planning (skew joins, shuffle coalescing) identically on
  * 32 local threads or 1000 executors; `shuffle.partitions` is only
  * the pre-AQE initial value.
  */
object GraftSession {
  def builder(master: String = s"local[${defaultCpus}]",
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // engine extensions (the per-key top-k strategy and the SQL names
      // vec_dot/vec_cosine of the native dot-product expression); also
      // reachable via the standard spark.sql.extensions=
      // graft.plans.GraftExtensions conf for sessions not built through
      // this factory
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", defaultCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // plan-string scan locations are truncated at this many chars; the
      // default 100 cuts the tail off deeper scratch paths (the
      // session-unique idx_serve dirs), which PlanSpec's loaded-index
      // pins and any human reading .explain() both need visible
      .config("spark.sql.maxMetadataStringLength", "256")
      // Early testdata generations stored events.ts as TIMESTAMP(NANOS),
      // which Spark's parquet reader otherwise rejects; harmless no-op on
      // µs-typed files. Declared once here rather than as a loader side
      // effect (Tables.events normalizes whichever form it finds).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table home (co-located joins); keep out of the repo tree
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
  // NOTE: spark.sql.parquet.outputTimestampType stays at its default.
  // TIMESTAMP_MICROS writes isAdjustedToUTC=true parquet, which external
  // readers (DuckDB oracle) surface as tz-AWARE values while oracle SQL
  // yields naive ones — hash mismatch on every timestamp column.

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.max(2, Runtime.getRuntime.availableProcessors()).toString)

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName = appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
