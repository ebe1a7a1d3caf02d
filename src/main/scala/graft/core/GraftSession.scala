package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local test harness runs `local[32]` in one JVM; the same settings are
  * what we would ship for a multi-executor cluster (AQE on, modest shuffle
  * partition count that AQE coalesces/expands at runtime).
  */
object GraftSession {

  /** Apply graft's standard config to any builder (used by mains/tests). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet is written with TIMESTAMP(NANOS); Spark has no nanos
      // timestamp type — read as long (nanoseconds since epoch) and convert
      // explicitly where needed.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // TypedImperativeAggregates (graft_dsum, hist/tdigest/HLL states)
      // run under ObjectHashAggregateExec, whose in-memory map flips to
      // a SORT-BASED fallback after 128 (!) distinct groups per task —
      // the r17 q174 profile showed numTasksFallBacked=32 on every
      // partial dsum aggregation (421k groups), i.e. the catalog's
      // high-cardinality decimal sums were silently sort-aggregating.
      // 256k entries of (key + fixed 32-byte dsum buffer + map overhead)
      // is ~32 MB per task — a sane hash-agg budget at ANY scale; tasks
      // past it still fall back gracefully, so this is a threshold fix,
      // not a memory bet.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      // Shuffle writer: never take the bypass-merge path. With P reduce
      // partitions the bypass writer opens P concurrent partition streams
      // PER MAP TASK (each with its own file + compression buffers); the
      // r17 profile measured that fixed cost at ~200 ms of CPU per task
      // on KILOBYTE-sized exchanges — e.g. q195's four sub-MB exchanges
      // carried 6-8 s of aggregate shuffleWriteTime each, and forcing the
      // serialized-sort writer cut the query's total CPU 21.7 s -> 2.0 s
      // (q174 12.4 -> 4.7, q148 13.4 -> 4.1). At production partition
      // counts (> 200) the serialized-sort writer is Spark's default
      // anyway, so this only changes the small-shuffle regime — in the
      // direction the measurements point.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // native expressions (graft_dot with codegen)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** Core count for a local session: `SPARK_GRAFT_CPUS` if set, else the
    * machine's processor count. The one place the environment picks it. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every graft main and spec runs on: `local[cores]`, one
    * shuffle partition per core, the [[configure]] settings, WARN logs.
    *
    * `maxTaskFailures > 1` enables local-mode task retry (the
    * `local[N,F]` master form) — a cluster has this by default
    * (spark.task.maxFailures=4); local mode fails the job on the first
    * task error unless asked. The chaos/recovery specs need one retry. */
  def local(cores: Int = defaultCores,
      maxTaskFailures: Int = 1): SparkSession = {
    val master =
      if (maxTaskFailures > 1) s"local[$cores,$maxTaskFailures]"
      else s"local[$cores]"
    val s = configure(
      SparkSession
        .builder()
        .master(master)
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
