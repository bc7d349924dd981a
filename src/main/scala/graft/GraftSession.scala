package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local mode is a stand-in for a real cluster: `spark.sql.shuffle.partitions`
  * tracks core count (not the 200 default), AQE is on everywhere so plans
  * re-partition/skew-split at runtime, and the session time zone is pinned to
  * UTC for oracle parity.
  */
object GraftSession {
  /** `value` of the environment variable `name` as a positive int, or
    * `default` when it is unset; anything else fails with a message that
    * names the variable.
    */
  def positiveInt(name: String, value: Option[String], default: Int): Int =
    value match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }

  /** The session's core budget, `SPARK_GRAFT_CPUS` (default 32): local
    * master width, shuffle partitions and driver-local thread count. A
    * bad value fails the first session build, and again on every later
    * use (a lazy val that throws is not cached).
    */
  lazy val cpus: Int =
    positiveInt("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"), 32)

  /** First-wave partition count of `limit` probes,
    * `SPARK_GRAFT_LIMIT_INITIAL` (default [[cpus]]).
    */
  lazy val limitInitial: Int = positiveInt("SPARK_GRAFT_LIMIT_INITIAL",
    sys.env.get("SPARK_GRAFT_LIMIT_INITIAL"), cpus)

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // testdata events.ts is parquet TIMESTAMP(NANOS). On Spark ≤4.0 this
    // flag reads it as raw long nanos; Spark ≥4.1 REMOVED the flag (it is
    // silently ignored) and infers TIMESTAMP_NTZ instead. Both shapes are
    // handled by Sources.normalizeTs — kept only for older-Spark compat.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // ObjectHashAggregate (TypedImperativeAggregate: topk/topkd, sketches,
    // collect_list) falls back to SORT-based aggregation after only 128
    // distinct groups per task by default — which silently reintroduces a
    // full sort of the pre-aggregation rows on exactly the stages the
    // bounded-buffer aggregates exist to keep sort-free (measured: the
    // k-NN join's 1.3×10⁸-pair candidate stage). Our aggregate buffers
    // are small and bounded (k-entry heaps, fixed-width sketches), so a
    // multi-million-group hash map is far cheaper than the sort. Caveat:
    // collect_list/collect_set also plan as ObjectHashAggregate and are
    // NOT bounded — a job whose collect groups are both huge-cardinality
    // AND long-listed should dial this back via SPARK_GRAFT_OHA_FALLBACK
    // (sort-based spills; the hash map holds every in-flight buffer).
    // A/B at sf1 showed no regression for this repo's collect sites.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      sys.env.getOrElse("SPARK_GRAFT_OHA_FALLBACK", (4 << 20).toString))
    // partition discovery goes DISTRIBUTED past 32 paths by default — for
    // the streaming stores (hundreds of small batch_id=N/bucket=M dirs)
    // that turns every per-batch probe read into an extra listing JOB
    // whose task overhead grows with uncompacted-tree count. Driver-side
    // listing of a few thousand dirs is microseconds on HDFS-like
    // metadata; raise the threshold so listing jobs only appear at
    // genuinely massive path counts.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "4096"))
    // Generated-code cache (r16, guide §1.2 step 3 — config only after
    // the algorithms): janino compilation is pure DRIVER-side latency
    // (~10-60 ms per fragment) and the default 100-entry LRU thrashes in
    // any session that executes more than a handful of distinct plans —
    // this 170-query catalog generates ~1.5k fragments, so every repeat
    // recompiles nearly everything; a production cluster session with
    // the same shape (Thrift server, scheduled ETL DAG, notebook) pays
    // identically, and the cache costs only driver memory (compiled
    // classes, ~tens of KB each — ~200 MB worst case at 4096). Nothing
    // about task execution changes, so this is not a local[32]-only
    // tweak. Static conf: must be set before the first session.
    .config("spark.sql.codegen.cache.maxEntries",
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
    // executeTake first-wave size (r16): every size-gate probe in the
    // engine is a `limit(gate+1).collect()` whose expected outcome is
    // either "the whole (small) result" or a fast overshoot — the
    // default first wave of 1 partition forces a 1 → 4 → 16 → … job-wave
    // ramp (spark.sql.limit.scaleUpFactor), each wave a sequential
    // driver round-trip, on EVERY probe at ANY cluster size. Size the
    // first wave to the session's parallelism instead: wave-1 cost is
    // bounded at one task per core, and a gate-sized result arrives in
    // one wave. Tracks core count, not a local constant.
    .config("spark.sql.limit.initialNumPartitions", limitInitial.toString)
    .config("spark.ui.enabled", "false")

  def local(appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().appName(appName).master(s"local[$cpus]"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
