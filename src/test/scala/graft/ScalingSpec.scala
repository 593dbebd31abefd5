package graft

import graft.queries.Catalog
import org.apache.spark.sql.functions._

/** Scale-up invariance: aggregates built on the decimal-exact helpers
  * must be *exactly* linear in data volume and invariant to
  * partitioning — the property that makes results stable when the same
  * query runs on 32 local threads or 1000 executors. (Raw double sums
  * would drift in the last bits under every repartitioning; these must
  * not drift at all.)
  */
class ScalingSpec extends SparkFunSuite {

  test("8x-duplicated data yields exactly 8x decimal-exact sums, any partitioning") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
    val li8 = (1 to 8).map(_ => li).reduce(_ union _)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("l_returnflag"))
        .agg(Catalog.dsum(col("l_quantity")).as("q"),
          Catalog.dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("rev"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
    val base = agg(li)
    val scaled = agg(li8)
    val scaledWeird = agg(li8.repartition(13)) // adversarial partitioning
    base.foreach { case (flag, (q, rev)) =>
      assert(scaled(flag)._1 == q * 8, s"$flag qty not exactly 8x")
      assert(scaled(flag)._2 == rev * 8, s"$flag revenue not exactly 8x")
    }
    assert(scaled == scaledWeird, "partitioning changed aggregate values")
  }

  test("GenScale replication preserves referential integrity at Nx rows") {
    val dst = java.nio.file.Files
      .createTempDirectory("graft-genscale").toString
    GenScale.main(Array(sf0001, dst, "3"))
    def cnt(t: String) = spark.read.parquet(s"$dst/$t.parquet").count()
    val src = (t: String) =>
      spark.read.parquet(s"$sf0001/$t.parquet").count()
    Seq("customer", "part", "supplier", "orders", "lineitem",
      "documents", "embeddings").foreach { t =>
      assert(cnt(t) == 3 * src(t), t)
    }
    assert(cnt("nation") == src("nation")) // dimensions stay fixed
    // no orphaned foreign keys after per-copy offsetting
    val orders = spark.read.parquet(s"$dst/orders.parquet")
    val cust = spark.read.parquet(s"$dst/customer.parquet")
    assert(orders.join(cust,
      orders("o_custkey") === cust("c_custkey"), "left_anti").count() == 0)
    val li = spark.read.parquet(s"$dst/lineitem.parquet")
    assert(li.join(orders,
      li("l_orderkey") === orders("o_orderkey"), "left_anti").count() == 0)
    // copies are disjoint: key cardinality scales with rows
    assert(orders.select("o_orderkey").distinct().count() == cnt("orders"))
  }

  test("continuation-session censuses are partitioning-invariant: " +
      "bit-identical results under an adversarial shuffle-partition " +
      "count (the 32-threads-vs-1000-executors stability property; " +
      "all five are pure-integer censuses by construction)") {
    val qs = Seq("g19_neighborhood_kmv", "e37_hilbert_layout",
      "e36_pattern_match", "d28_fuzzy_er_join", "q95_compaction_plan",
      // round-14 additions: integer censuses + the sqrt-frozen x54
      "s24_ivf_stored_index", "d29_span_length_census",
      "d30_pair_max_span", "x54_temperature_mixture",
      "g20_common_neighbor_recs", "e39_preference_pairs",
      "x55_lm_quality_filter", "x56_leakage_free_split",
      "q102_dynamic_overwrite", "q103_schema_evolution",
      // round-16 additions: the metadata/file-stats censuses (q110
      // commits task-count-many files, so the layout itself must not
      // depend on shuffle partitioning) + x57's gram census
      "q110_optimize_expire", "q111_zone_map_skipping",
      "q112_metadata_agg", "q113_runtime_file_pruning",
      "x57_eval_decontamination")
    val catalog = Catalog.all.toMap
    for (q <- qs) {
      def run(parts: String): Seq[Seq[Any]] = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try catalog(q).fn(spark, sf0001).collect().map(_.toSeq).toSeq
        finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
      assert(run("4") == run("13"), s"$q drifted under repartitioning")
    }
  }
}
