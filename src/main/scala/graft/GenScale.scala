package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for scale-proof benchmarking: replicates an
  * existing sf directory `factor`× with disjoint key ranges per copy, so
  * join fan-outs and group cardinalities grow the way a larger TPC-H-ish
  * scale factor would (dimension tables region/nation stay fixed,
  * fact/entity keys are offset per copy). Used to validate that the
  * bench plans scale near-linearly beyond the largest driver-provided
  * sf — see SCALE.md.
  *
  * Scaled directories are BENCH-ONLY, not oracle inputs: events.ts is
  * read under `nanosAsLong=true` (a plain INT64), so the rewritten
  * parquet loses its TIMESTAMP(NANOS) logical annotation and DuckDB's
  * `cast(ts as timestamp)` oracle SQL no longer applies. Spark-side
  * queries are unaffected (they already treat ts as nanos-long via
  * Catalog.t).
  *
  * Usage: runMain graft.GenScale <srcSfDir> <dstDir> [factor]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // in-JVM reuse (tests): getOrCreate returns the live session — don't
    // stop a session this main didn't create
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-genscale")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame =
      graft.queries.Catalog.parquet(spark, s"$src/$t.parquet")

    /** max(key)+1 as Long regardless of the column's integral width
      * (INT32 parquet keys would make getLong throw), erroring clearly
      * on an empty table instead of an NPE.
      */
    def span(df: DataFrame, k: String): Long = {
      val row = df.agg(max(col(k).cast("long"))).head()
      require(!row.isNullAt(0), s"cannot scale empty table (key $k)")
      row.getLong(0) + 1L
    }

    /** `factor` copies of `df`, with each key column in `keys` offset by
      * copy × (max(key)+1) so copies reference within themselves only.
      */
    def replicate(df: DataFrame, keys: Seq[String]): DataFrame = {
      val spans = keys.map(k => k -> span(df, k))
      val copies = explode(sequence(lit(0L), lit(factor - 1L))).as("__copy")
      keys.foldLeft(df.select(copies, col("*"))) { case (acc, k) =>
        val span = spans.toMap.apply(k)
        acc.withColumn(k, col(k) + col("__copy") * span)
      }.drop("__copy")
    }

    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"wrote $t")
    }

    // fixed dimensions: copy as-is
    write(read("region"), "region")
    write(read("nation"), "nation")
    // entities/facts: disjoint key ranges per copy; foreign keys offset
    // by the SAME span as their parent so referential joins stay intact
    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    val orders = read("orders")
    val custSpan = span(read("customer"), "c_custkey")
    val ordSpan = span(orders, "o_orderkey")
    write(read("orders")
      .select(explode(sequence(lit(0L), lit(factor - 1L))).as("__copy"), col("*"))
      .withColumn("o_orderkey", col("o_orderkey") + col("__copy") * ordSpan)
      .withColumn("o_custkey", col("o_custkey") + col("__copy") * custSpan)
      .drop("__copy"), "orders")
    val li = read("lineitem")
    val partSpan = span(read("part"), "p_partkey")
    val suppSpan = span(read("supplier"), "s_suppkey")
    write(li
      .select(explode(sequence(lit(0L), lit(factor - 1L))).as("__copy"), col("*"))
      .withColumn("l_orderkey", col("l_orderkey") + col("__copy") * ordSpan)
      .withColumn("l_partkey", col("l_partkey") + col("__copy") * partSpan)
      .withColumn("l_suppkey", col("l_suppkey") + col("__copy") * suppSpan)
      .drop("__copy"), "lineitem")
    // events: new ids/users, same time range (density grows with sf)
    write(replicate(read("events"), Seq("event_id", "user_id")), "events")
    // documents: disjoint doc_id ranges AND per-copy text perturbation
    // (copy 0 stays bit-identical). Verbatim text copies would give
    // every doc `factor` exact duplicates, so dedup candidate pairs —
    // and with them every MinHash/posting/dup-span decade — grow
    // QUADRATICALLY in the factor (measured: d03 125× at ×100), which
    // measures the synthetic clone structure, not the engine: a real
    // 100× corpus keeps its duplicate-pair density roughly linear.
    // Tagging every WORD with the copy id zeroes cross-copy shingle/
    // n-gram overlap while replicating each copy's INTERNAL near-dup
    // structure exactly — duplicate pairs scale ×factor, the honest
    // shape. (Bench-only data, per the scaladoc; token counts per doc
    // are preserved, vocabulary grows ×factor — acceptable for the
    // scan/shuffle-volume questions these directories exist to answer.)
    val docSpan = span(read("documents"), "doc_id")
    write(read("documents")
      .select(explode(sequence(lit(0L), lit(factor - 1L))).as("__copy"),
        col("*"))
      .withColumn("doc_id", col("doc_id") + col("__copy") * docSpan)
      .withColumn("text",
        when(col("__copy") === 0, col("text"))
          .otherwise(array_join(
            transform(split(regexp_replace(col("text"),
                "^\\s+|\\s+$", ""), "\\s+"),
              w => concat(w, lit("~"), col("__copy"))), " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__copy"), "documents")
    // embeddings: disjoint vec_id ranges AND a per-copy deterministic
    // perturbation (h60-derived, ±0.05 per dimension; copy 0 stays
    // bit-identical to the source) so the scaled corpus is DISTINCT
    // vectors. Verbatim copies would leave every ANN decade measuring
    // orchestration overhead — identical vectors collapse into the
    // same LSH buckets / IVF cells and tie every top-k — instead of
    // the vector scan the decade exists to measure. Perturbation
    // rides PortableHash.h60 like all synthetic randomness here.
    val emb = read("embeddings")
    val embSpan = span(emb, "vec_id")
    write(emb
      .select(explode(sequence(lit(0L), lit(factor - 1L))).as("__copy"),
        col("*"))
      .withColumn("vec_id", col("vec_id") + col("__copy") * embSpan)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + when(col("__copy") === 0, lit(0.0))
            .otherwise((pmod(graft.functions.PortableHash.h60col(
                concat_ws("_", lit("embp"), col("vec_id"), i)),
              lit(101)).cast("double") - 50.0) / 1000.0))
            .cast("float")))
      .drop("__copy"), "embeddings")
    if (!preExisting) spark.stop()
  }
}
