package graft

import org.apache.spark.sql.SparkSession

/** Shared performance session defaults — ONE definition so the plan
  * the bench measures is the plan every consumer ships (round-16
  * verdict: the SHJ threshold lived only in the Bench/QProf builders,
  * so a library or Verify session silently ran without it).
  *
  * Each knob is runtime-gated or size-gated (never a local[32]-only
  * tune) and env-overridable; library users building their own session
  * should pass their builder through [[tuned]].
  */
object SessionDefaults {

  /** Apply the tuned confs to a session builder:
    *
    *  - AQE on (default since 3.2, pinned for clarity).
    *  - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`
    *    (guide §3.1): lets AQE rewrite a sort-merge join to a
    *    shuffled-hash join when every ACTUAL post-shuffle build-side
    *    partition is under the threshold — runtime-gated, not
    *    estimate-gated, so a partition that would not fit keeps the
    *    sort-merge plan; valid at any scale. Default 0 (off) upstream;
    *    64 MB per partition is modest for executors sized to
    *    128 MB-1 GB shuffle partitions (guide §2.2). Override with
    *    SPARK_GRAFT_SHJ_THRESHOLD.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))

  /** The harness session Bench, QProf and Verify run in: [[tuned]] on
    * `local[cpus]` with as many shuffle partitions, UTC, no UI, WARN.
    *  - 2 MB splits: test tables are single parquet files, and the
    *    default 128 MB split would scan each on ONE core.
    *  - full scan-metadata strings: they are truncated at 100 chars by
    *    default, and expression-id digit width shifts the cut run over
    *    run; PlanTelemetry's fingerprint needs the whole string.
    *  - shuffle/spill on a per-run tmpfs dir ([[LocalDirs]]): /tmp is
    *    ext4 with `discard`, and shuffle-block churn triggers TRIM
    *    storms that stall tail queries 3-6× (measured).
    */
  def local(app: String, cpus: Int): SparkSession = {
    val spark = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.local.dir", LocalDirs.scratch())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
