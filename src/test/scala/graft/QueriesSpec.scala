package graft

import graft.queries.{Catalog, TextOps}
import org.apache.spark.sql.functions._

/** Semantic checks for the rows-only queries (those the DuckDB oracle
  * can't express) plus the driver's entry smoke.
  */
class QueriesSpec extends SparkFunSuite {

  def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every catalog query name is unique and every oracle has a query") {
    val names = Catalog.all.map(_._1)
    assert(names.distinct.length == names.length)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.toSet.subsetOf(SparkEntry.queries.keySet))
  }

  test("Catalog.parquet pins the schema Spark infers, for every table " +
      "file under nanosAsLong on and off") {
    val files = Seq(sf0001, "perfbench/data/sf0.001")
      .flatMap(d => new java.io.File(d).listFiles().toSeq)
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.size >= 16, files)
    for (p <- files; nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos) {
        assert(Catalog.parquet(spark, p).schema ==
          spark.read.parquet(p).schema, s"$p nanosAsLong=$nanos")
      }
  }

  test("Catalog.t starts no Spark job: the footer is read on the driver") {
    val tables = new java.io.File(sf0001).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(tables.contains("events") && tables.contains("lineitem"))
    val jobs = jobsStartedBy {
      tables.foreach(n => Catalog.t(spark, sf0001, n).schema)
    }
    assert(jobs.isEmpty, s"building ${tables.size} reads started " +
      s"${jobs.size} jobs")
  }

  test("Catalog.t sets no session conf: reading events with " +
      "nanosAsLong unset leaves spark.conf unchanged") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val before = spark.conf.getAll
      Catalog.t(spark, sf0001, "events").schema
      assert(spark.conf.getAll == before)
    } finally old.foreach(spark.conf.set(key, _))
  }

  test("Catalog.parquet keeps Spark's inference for a directory " +
      "(partition discovery) and Spark's error for a missing path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-parquet-dir")
      .resolve("t").toString
    spark.range(6).withColumn("k", col("id") % 2)
      .write.partitionBy("k").parquet(dir)
    assert(jobsStartedBy(Catalog.parquet(spark, dir)).nonEmpty,
      "a directory read must go through inference")
    val df = Catalog.parquet(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.columns.toSeq == Seq("id", "k"))
    assert(df.filter(col("k") === 1).count() == 3)
    val missing = dir + "-missing"
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Catalog.parquet(spark, missing))
    assert(e.getCondition == intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(missing)).getCondition)
  }

  test("q65 fallback: an empty dim side skips the bloom (null-bloom " +
      "guard) and the semi join still returns the correct empty result") {
    val out = graft.queries.Relational2
      .bloomSemiPrune(spark, sf0001, "NO-SUCH-PRIORITY")
    assert(out.collect().isEmpty)
  }

  test("localCheckpoint catalog queries are run-to-run deterministic " +
      "— fresh plans, identical values (r5 red-row guard)") {
    // the catalog queries that materialize via localCheckpoint; a red
    // driver hash row for g01 in round 5 (judge re-runs green) demanded
    // an in-harness guard that the full pipeline — collect_set → pair
    // explosion → 5 rounds — yields bit-identical values across runs
    for (name <- Seq("g01_pagerank_parts", "d07_dup_clusters",
        "g02_triangle_count", "g03_kcore_peel", "x22_vocab_growth",
        "x21_bigram_lm_score", "x23_sequence_pack",
        "d14_incremental_dedup", "x25_dsir_select",
        "e14_zonemap_prune", "g04_label_prop", "s07_mmr_rerank",
        "x27_perceptron_classifier", "d15_lsh_tuning",
        // session-3 checkpoint/iterative additions
        "s15_nn_descent", "s16_ivf_upsert", "d19_soft_dedup_weights",
        "d20_incremental_clusters", "e23_rfm_segments", "g09_modularity",
        "g11_ktruss_peel", "q78_topk_physical",
        "p03_release_datasheet",
        // round-9 additions
        "g12_bfs_hops", "g13_sssp_census", "s18_ann_harness",
        "g14_harmonic_centrality",
        // round-10 additions
        "g15_cc_convergence", "x41_bpe_deep",
        "d22_span_dedup_rewrite", "d23_span_dedup_census",
        "g16_ktruss_fixpoint",
        // round-10 session-6 additions (TopKPerKey with double keys /
        // collect_list folds / band-bucket joins)
        "s19_bm25_retrieval", "s20_hybrid_rrf", "e28_holt_forecast",
        "e29_acf_daily", "p04_rag_ingest",
        // session-7 additions
        "e30_holt_winters", "s21_prf_expansion", "e32_forecast_mase",
        "d26_dedup_threshold_curve", "g18_local_clustering",
        "x45_vocab_coverage", "s22_adc_refine",
        "q84_window_topk_rewrite", "x46_source_divergence",
        "e33_hw_band_calibration", "d27_cluster_size_census",
        "x47_bpe_corpus_encode", "e34_zorder_optimize",
        "x48_bpe_incremental_encode", "q85_dpp_join",
        "p06_token_budget_pack", "e35_mv_rewrite",
        "d25_index_deletion", "x49_langid_train",
        "x51_url_gate_dedup", "q88_merge_into",
        "q89_update_delete",
        // round-13 additions
        "x53_langid_drift_census",
        // round-15 additions
        "s25_graph_beam_search", "q105_change_data_feed",
        "q106_merge_on_read", "q107_v2_catalog_functions",
        "mm14_audio_constellation", "p08_multimodal_pipeline",
        "q108_incremental_view_maintenance", "q109_table_history")) {
      def run(): Seq[Seq[Any]] = {
        spark.catalog.clearCache()
        SparkEntry.queries(name)(spark, sf0001).collect()
          .map(_.toSeq.toVector).sortBy(_.mkString("|")).toSeq
      }
      val first = run()
      val second = run()
      // g03's k=80 peels the sparser sf0.001 graph to empty — its
      // non-vacuousness is covered by the sf0.01 oracle (20 rows);
      // the equality check below still guards its determinism
      assert(first.nonEmpty || name == "g03_kcore_peel",
        s"$name returned no rows")
      assert(first == second, s"$name not deterministic across runs")
    }
  }

  test("s06 trained PQ recall: on a clustered fixture the trained " +
      "codebooks recover the query's true neighbors (the r6 2/10 " +
      "seed-codebook baseline was on structure-free uniform vectors)") {
    // 16 clusters × 11 members, 64 dims; vec i belongs to cluster
    // i % 16, so the seeds (vec_id < 16) start one-per-cluster and the
    // Lloyd update pulls each cell to its cluster mean. Cluster 0 =
    // {0, 16, ..., 160}: the query's exact top-10 is exactly the other
    // ten members, which ADC must rank first — any miss means the
    // trained codebook failed to separate the clusters.
    val dim = 64
    def center(c: Int, j: Int): Double = (((c * 37 + j * 11) % 16) - 8) / 10.0
    def noise(i: Int, j: Int): Double = (((i * 131 + j * 17) % 21) - 10) / 1000.0
    val rows = (0 until 176).map { i =>
      (i.toLong, (0 until dim).map(j =>
        (center(i % 16, j) + noise(i, j)).toFloat).toArray)
    }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pqfix").toString
    rows.toDF("vec_id", "embedding")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top = SparkEntry.queries("s06_pq_adc")(spark, dir).collect()
    assert(top.length == 10)
    val expected = (1 to 10).map(m => (m * 16).toLong).toSet
    val hits = top.map(_.getLong(0)).count(expected)
    assert(hits >= 8, s"trained PQ recall $hits/10 on clustered fixture")
  }

  test("s15 NN-descent: on a clustered fixture whose clusters SPLIT " +
      "across IVF cells, one local-join round strictly improves " +
      "recall while total scoring stays under the brute-force bill " +
      "(the catalog entry's near-uniform corpus is the honest floor)") {
    // 16 clusters × 11 members (i % 16). Clusters 0-7 sit on the 8
    // centroid anchors (vec_id < 8 are the IVF codebook, s03's
    // convention) — their members' cells align with their cluster.
    // Clusters 8-15 are centered on MIDPOINTS between two anchors, so
    // member-level noise decides each member's cell ~50/50: the true
    // top-5 neighbor set of a midpoint-cluster member spans two cells,
    // which is exactly the recall blocking init cannot reach and the
    // descent round's cross-cell propagation can.
    val dim = 64
    def anchor(c: Int, j: Int): Double =
      (((c * 37 + j * 11) % 16) - 8) / 10.0
    def center(c: Int, j: Int): Double =
      if (c < 8) anchor(c, j)
      else (anchor(c - 8, j) + anchor((c - 7) % 8, j)) / 2.0
    def noise(i: Int, j: Int): Double =
      (((i * 131 + j * 17) % 21) - 10) / 200.0
    val rows = (0 until 176).map { i =>
      (i.toLong, (0 until dim).map(j =>
        (center(i % 16, j) + noise(i, j)).toFloat).toArray)
    }
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val rep = TextOps.nnDescentReport(df, nCents = 8).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (initScored, initHits) = rep("1_init")
    val (descScored, descHits) = rep("2_descent")
    assert(descHits >= initHits + 5,
      s"descent $descHits must beat init $initHits on split clusters")
    assert(initScored + descScored < 176L * 175,
      s"total bill ${initScored + descScored} must undercut " +
        "brute force 30800")
  }

  test("s25 graph beam search: on the s15 clustered fixture the beam " +
      "navigates to the query's cluster — high recall at a fraction " +
      "of the scan bill (the catalog entry's near-uniform corpus is " +
      "the honest floor, s06/s15's precedent)") {
    // same fixture as the s15 test: 16 clusters × 11 members; the
    // query (vec 0) is a cluster-0 member, so its exact top-10 IS the
    // rest of cluster 0 — reachable over same-cell knn1 edges from
    // the centroid entry probe
    val dim = 64
    def anchor(c: Int, j: Int): Double =
      (((c * 37 + j * 11) % 16) - 8) / 10.0
    def center(c: Int, j: Int): Double =
      if (c < 8) anchor(c, j)
      else (anchor(c - 8, j) + anchor((c - 7) % 8, j)) / 2.0
    def noise(i: Int, j: Int): Double =
      (((i * 131 + j * 17) % 21) - 10) / 200.0
    val rows = (0 until 176).map { i =>
      (i.toLong, (0 until dim).map(j =>
        (center(i % 16, j) + noise(i, j)).toFloat).toArray)
    }
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val (snaps, truth) = TextOps.graphBeamSearch(df)
    val finalScored = snaps.last._2
    val nScored = finalScored.count()
    // exclude the query node itself (self-cosine 1.0) before the
    // top-10 cut — graphBeamSearch's truth already excludes it, so
    // leaving it in caps measurable recall at 9/10
    val top10 = finalScored
      .filter(org.apache.spark.sql.functions.col("vec_id") =!= 0L)
      .orderBy(org.apache.spark.sql.functions.col("cos").desc,
        org.apache.spark.sql.functions.col("vec_id"))
      .limit(10)
    val recall = top10.join(truth, Seq("vec_id"), "left_semi").count()
    assert(recall >= 9, s"beam recall $recall/10 on clustered fixture")
    assert(nScored < 90, s"beam scored $nScored of 175 — must stay " +
      "well under the scan bill")
  }

  test("assignToCodebookOf: the broadcast-relation codebook (k above " +
      "broadcastAbove) is BIT-IDENTICAL to the literal fold, and the " +
      "full s15 report is unchanged under it") {
    // same clustered fixture as the s15 test; k = 24 centroids so the
    // two postures genuinely disagree on plan shape
    val dim = 64
    def anchor(c: Int, j: Int): Double =
      (((c * 37 + j * 11) % 16) - 8) / 10.0
    def center(c: Int, j: Int): Double =
      if (c < 8) anchor(c, j)
      else (anchor(c - 8, j) + anchor((c - 7) % 8, j)) / 2.0
    def noise(i: Int, j: Int): Double =
      (((i * 131 + j * 17) % 21) - 10) / 200.0
    val rows = (0 until 176).map { i =>
      (i.toLong, (0 until dim).map(j =>
        (center(i % 16, j) + noise(i, j)).toFloat).toArray)
    }
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    def collectAsg(df2: org.apache.spark.sql.DataFrame) =
      df2.select("vec_id", "cent_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val literal = TextOps.assignToCodebookOf(df, 24)
    assert(!literal.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "k = 24 below the default threshold must stay plan-literal")
    val litAsg = collectAsg(literal)
    val bcast = TextOps.assignToCodebookOf(df, 24, broadcastAbove = 1)
    assert(bcast.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "forced-broadcast path must ship the codebook as data")
    assert(collectAsg(bcast) == litAsg,
      "broadcast codebook assignment diverges from the literal fold")
    // the entire s15 pipeline under the broadcast codebook: same
    // stage rows (scored bills and recall hits) as the literal run
    def report(broadcastAbove: Int) = TextOps.nnDescentReport(df,
        nCents = 8, broadcastAbove = broadcastAbove).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val repB = report(1)
    val repL = report(TextOps.CodebookBroadcastK)
    assert(repB == repL,
      s"s15 report diverges under broadcast codebook: $repB vs $repL")
  }

  test("x48 frozen-tokenizer OOV path: out-of-alphabet text in the " +
      "new slice maps to id 0 and is counted (n_unk = 0 on the real " +
      "corpus is the char-level no-OOV property, not a dead column)") {
    import spark.implicits._
    // base corpus (src01) has alphabet {a, b} and trains the merges
    // "a a"→"aa", "b b"→"bb" (then exhausts — early-stop path); final
    // vocab = {aa, bb}. New doc (src16): "aa" encodes known, "zb"
    // falls back to chars z + b, BOTH absent from the stored vocab.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-x48-fix").toString
    Seq((0L, "src01", "aa bb aa bb aa"), (1L, "src01", "aa bb bb"),
      (2L, "src16", "aa zb"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry
      .queries("x48_bpe_incremental_encode")(spark, dir).collect()
    assert(rows.length == 1, rows.mkString("|")) // the one src16 doc
    val r = rows.head
    assert(r.getAs[Long]("doc_id") == 2L)
    assert(r.getAs[Long]("n_words") == 2L, r)
    assert(r.getAs[Long]("n_tokens") == 3L, r) // [aa] + [z, b]
    assert(r.getAs[Long]("n_unk") == 2L, r)    // z AND b unseen as tokens
    assert(r.getAs[Long]("fert_milli") == 1333L, r) // 1000·4 div 3
  }

  test("s04 ANN recall: one row per query vector, recall well-formed " +
      "and consistent with the s03/s01 intersection for vec 0") {
    val rows = q("s04_ann_recall").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 10L))
    rows.foreach { r =>
      val (hits, rec) = (r.getLong(1), r.getDouble(2))
      assert(hits >= 0 && hits <= 10 && rec == hits / 10.0)
    }
    // vec 0 is exactly s03's query: its recall must equal the measured
    // s01∩s03 top-10 overlap
    val exact0 = q("s01_cosine_topk").collect().map(_.getLong(0)).toSet
    val ivf0 = q("s03_ivf_ann").collect().map(_.getLong(0)).toSet
    val hit0 = rows.find(_.getLong(0) == 0L).get.getLong(1)
    assert(hit0 == exact0.intersect(ivf0).size.toLong)
  }

  test("s05: trained codebook beats the seed codebook on total inertia") {
    val rows = q("s05_kmeans_quantized").collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).sum == 500L, "every vector assigned")
    val trainedInertia = rows.map(_.getLong(2)).sum
    // driver-side oracle for the SEED assignment: quantize exactly as
    // the query does, assign to the vec_id<8 raw centroids, sum min-L2
    val vecs = graft.queries.Catalog.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(f =>
          math.floor(f.toDouble * 1000.0).toLong).toArray)
    val seeds = vecs.filter(_._1 < 8).map(_._2)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val seedInertia = vecs.map { case (_, v) => seeds.map(d2(v, _)).min }.sum
    assert(trainedInertia <= seedInertia,
      s"training must not increase inertia: $trainedInertia > $seedInertia")
  }

  test("e12 algebra: the merged rollup is cutoff-invariant") {
    // the mergeability property behind e12: splitting the stream at
    // ANY day and merging partials must equal the direct rollup —
    // exercised at three cutoffs (everything-in-base, mid, and
    // everything-in-delta) against the catalog query's fixed cutoff
    import org.apache.spark.sql.types.DataTypes
    val ev = graft.queries.Catalog.t(spark, sf0001, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"),
        col("value"))
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DataTypes.createDecimalType(18, 2)))
            .as("sv"))
    def merged(cutoff: String) =
      partials(ev.filter(col("day") < lit(cutoff)))
        .unionByName(partials(ev.filter(col("day") >= lit(cutoff))))
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast("double").as("total_value"))
        .orderBy(col("day"), col("event_type"))
        .collect().map(_.toSeq).toSeq
    val reference = merged("2024-01-21")
    for (cutoff <- Seq("2023-01-01", "2024-01-10", "2025-01-01")) {
      assert(merged(cutoff) == reference,
        s"merge(partials) must be cutoff-invariant, failed at $cutoff")
    }
  }

  test("q32: raw HLL within 5% of exact; the query's wide validation " +
      "gate holds and its KMV riders are within the k=256 error bound") {
    // the raw HLL estimate (excluded from q32's output by construction
    // — engine-specific) still gets its tight 5% bound here
    val li = Catalog.t(spark, sf0001, "lineitem")
    val raw = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02),
      approx_count_distinct(col("l_orderkey"), 0.02),
      countDistinct(col("l_partkey")),
      countDistinct(col("l_orderkey"))).head()
    val (ap, ao, ep, eo) =
      (raw.getLong(0), raw.getLong(1), raw.getLong(2), raw.getLong(3))
    assert(math.abs(ap - ep).toDouble / ep < 0.05, s"parts: $ap vs $ep")
    assert(math.abs(ao - eo).toDouble / eo < 0.05, s"orders: $ao vs $eo")
    val r = q("q32_approx_distinct").head()
    assert(r.getAs[Boolean]("hll_parts_ok") &&
      r.getAs[Boolean]("hll_orders_ok"))
    // KMV rsd ~ 1/sqrt(k-2) ~ 6.3%; 15% is a comfortable 2.4-sigma
    assert(math.abs(r.getAs[Double]("kmv_parts") /
      r.getAs[Long]("exact_parts") - 1) < 0.15)
    assert(math.abs(r.getAs[Double]("kmv_orders") /
      r.getAs[Long]("exact_orders") - 1) < 0.15)
  }

  test("s02 ANN candidates carry true cosine values (subset of s01 space)") {
    val ann = q("s02_ann_lsh").collect()
    assert(ann.nonEmpty)
    // recompute each candidate's cosine brute-force and compare
    val emb = Catalog.t(spark, sf0001, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val brute = emb.crossJoin(query)
      .select(col("vec_id"), TextOps.cosine(col("embedding"),
        col("qe")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach { r =>
      assert(brute(r.getLong(0)) == r.getDouble(1),
        s"cosine mismatch for vec ${r.getLong(0)}")
    }
  }

  test("s03 IVF ANN: results are true cosines with reasonable recall vs s01") {
    val exact = q("s01_cosine_topk").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = q("s03_ivf_ann").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivf.nonEmpty)
    // every IVF result carries its true cosine (no approximation of the
    // similarity itself — only the candidate set is pruned)
    val emb = Catalog.t(spark, sf0001, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val brute = emb.crossJoin(query)
      .select(col("vec_id"),
        TextOps.cosine(col("embedding"), col("qe")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { case (id, cos) =>
      assert(brute(id) == cos, s"cosine mismatch for vec $id")
    }
    // 2-of-8 probes must still find a decent share of the exact top-10
    val recall = exact.keySet.intersect(ivf.keySet).size.toDouble /
      exact.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("d04 simhash pairs match the brute-force hamming computation") {
    val got = q("d04_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue())).toSet
    val base = Catalog.t(spark, sf0001, "documents")
      .select(col("doc_id"), graft.functions.SimHash60.simhash60(
        split(regexp_replace(col("text"), "^\\s+|\\s+$", ""), "\\s+"))
        .as("sh"))
    val a = base.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = base.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue())).toSet
    assert(got == brute,
      s"missing=${brute.diff(got).take(5)} extra=${got.diff(brute).take(5)}")
  }

  test("x04 language predictions are valid codes and deterministic") {
    val preds = q("x04_lang_id").collect()
    assert(preds.length == 500)
    val valid = Set("en", "de", "fr", "es", "zh", "und")
    preds.foreach(r => assert(valid(r.getString(1))))
    val again = q("x04_lang_id").collect()
    assert(preds.map(_.getString(1)).toSeq == again.map(_.getString(1)).toSeq)
  }

  test("x07 winnow pairs are symmetric-free and thresholded") {
    val rows = q("x07_winnow_fingerprints").collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // canonical pair order
      assert(r.getLong(2) >= 8) // threshold respected
    }
  }

  test("d10 semantic near-dup pairs are a subset of the exact d05 pairs") {
    // cluster-then-pair can only LOSE pairs vs all-pairs at the same
    // threshold (the SemDeDup recall tradeoff), never invent them
    val exact = q("d05_embedding_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clustered = q("d10_semantic_neardup").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(clustered.nonEmpty)
    clustered.foreach(p => assert(exact(p), s"pair $p not in exact set"))
  }

  test("d12 scaled semantic pairs are a subset of the exact d05 pairs") {
    // the scaled path (k ∝ N codebook + in-cluster LSH bands) trades
    // recall exactly like d10: it may LOSE τ-pairs, never invent them,
    // and every reported cosine is the true one
    val exact = q("d05_embedding_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val scaled = q("d12_semantic_scaled").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(scaled.nonEmpty)
    scaled.foreach(p => assert(exact(p), s"pair $p not in exact set"))
  }

  test("x19 CMS estimates are one-sided: estimate >= exact, every row") {
    val rows = q("x19_cms_heavy_hitters").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), // cms_cnt >= exact_cnt
        s"CMS undercounted ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
  }
}
