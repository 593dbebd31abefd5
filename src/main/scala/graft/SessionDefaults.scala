package graft

import org.apache.spark.sql.SparkSession

/** Shared performance session defaults — ONE definition so the plan
  * the bench measures is the plan every consumer ships (round-16
  * verdict: the SHJ threshold lived only in the Bench/QProf builders,
  * so a library or Verify session silently ran without it).
  *
  * Each knob is runtime-gated or size-gated (never a local[32]-only
  * tune); library users building their own session should pass their
  * builder through [[tuned]].
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
    *    128 MB-1 GB shuffle partitions (guide §2.2).
    *  - the [[codegen]] and [[catalogReads]] confs.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    catalogReads(codegen(b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64m")))

  /** The conf the query catalog's reads need, shared by [[tuned]] and
    * the test session: `spark.sql.legacy.parquet.nanosAsLong` = true,
    * so an events file stored as TIMESTAMP(NANOS) (which Spark 4
    * rejects by default) reads as longs for
    * [[graft.queries.Catalog.t]] to convert. Set on the builder: a
    * query leaves no session conf behind.
    */
  def catalogReads(b: SparkSession.Builder): SparkSession.Builder =
    b.config(NanosAsLongConf, "true")
  val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** The codegen confs, shared by [[tuned]] and the test session:
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
    *  - `spark.sql.codegen.useIdInClassName` = false. By default a
    *    whole-stage class is named after its codegen stage id, and the
    *    name is part of the source the cache is keyed on. AQE numbers
    *    stages in the order they become ready, so when two stages run
    *    side by side (m10's two orders shuffles) a rerun can swap their
    *    ids and recompile both classes.
    */
  def codegen(b: SparkSession.Builder): SparkSession.Builder =
    b.config(CodegenCacheConf, CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Size of Spark's generated-class cache: whole-stage codegen compiles
    * each generated source with Janino once and reuses the class only
    * while the source stays in this JVM-wide LRU. Spark's default of 100
    * is below this catalog's working set — the 9 etl_validate queries
    * generate about 185 classes and Bench's 31 headline queries about
    * 1,100 (counted at sf0.001) — so at 100 every class was evicted
    * before its reuse, and every pass recompiled all of them (175-178
    * classes per sf0.1 etl_validate pass, its CPU mostly compiler
    * threads). 2048 holds Bench's whole set with headroom. It caches
    * compiled code, not data: Bench's per-run `clearCache()` still
    * starts every run cold on data. A static conf, so it must be set on
    * the builder before the session (and the cache) exists.
    */
  val CodegenCacheEntries = 2048
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  /** The harness session Bench, QProf and Verify run in: [[tuned]] on
    * `local[cpus]` with as many shuffle partitions, UTC, no UI, WARN.
    *  - 2 MB splits: test tables are single parquet files, and the
    *    default 128 MB split gives each file one task. Splitting does
    *    not spread the scan, though: every test file holds ONE row
    *    group, and a split reads only the row groups whose midpoint it
    *    holds, so on 4 cores sf0.1 lineitem is still one reading task
    *    plus 5 empty ones (orders: 1 plus 3).
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
