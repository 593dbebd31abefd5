package graft

import graft.queries.Catalog

/** Automated plan lint over the ENTIRE query catalog: no query may plan
  * a CartesianProduct or BroadcastNestedLoopJoin unless it is on the
  * explicit allowlist (cross/theta joins by design, or all-pairs oracle
  * variants that are bounded to a fixed window and documented as
  * verification twins of the LSH/IVF scale paths). A new query that
  * accidentally introduces an unbounded data×data nested-loop join —
  * THE scale killer at 100 TB — fails this suite instead of shipping.
  */
class PlanAuditSpec extends SparkFunSuite {

  /** Queries allowed to contain a nested-loop/cartesian operator, and
    * why. Everything else must plan hash/merge joins only.
    */
  val nlAllowlist: Map[String, String] = Map(
    "q87_lateral_chain" -> ("decorrelated chained laterals against "
      + "the 25-row nation dimension: the aggregate lateral and the "
      + "90%-of-ceiling theta predicate join a broadcast-able dim "
      + "side (q10's dim×dim class); the customer side stays "
      + "key-partitioned at any scale"),
    "x52_bpe_byte_level" -> ("1-row stat × 1-row vocab × 1-row "
      + "word-total frames crossed per tokenizer leg; both training "
      + "runs are vocabulary-scale and the corpus pays two tokenize "
      + "passes only"),
    "x49_langid_train" -> ("5-row language-list broadcast crossed "
      + "onto the vocabulary-scale gram table to mint the dense "
      + "(gram × lang) weight matrix; corpus-scale joins are hash "
      + "only and the model ships as a vocabulary-scale broadcast"),
    "x53_langid_drift_census" -> ("x49's dataflow (same 5-row "
      + "language-list cross onto the vocabulary-scale gram table) "
      + "plus a 1-row corpus-total broadcast crossed onto the two "
      + "5-row mixture-plan frames"),
    "q92_observe_metrics" -> ("1-row observed-metrics frame crossed "
      + "onto the 3-row answer (pipeline-observability join; both "
      + "sides driver-side metadata by construction)"),
    "e36_pattern_match" -> ("4-row pattern-frame broadcast crossed "
      + "onto the per-user sequence census; the corpus-scale side ends "
      + "at the per-user groupBy — hash aggregation only"),
    "q09_cross_join" -> "cross join by definition (dim×dim, 25 rows)",
    "q10_theta_join" -> "non-equi theta join (dim×dim by design rule)",
    "q26_scalar_subquery" -> "uncorrelated scalar broadcast (1 row)",
    "d02_jaccard_pairs" -> "bounded all-pairs oracle twin of d03 LSH",
    "d05_embedding_neardup" -> "bounded all-pairs oracle twin of s02",
    "d06_containment" -> "bounded all-pairs oracle twin of d03 LSH",
    "d07_dup_clusters" -> ("bounded all-pairs pair-gen (d02 oracle twin); "
      + "the CC label-propagation loop itself is the scale path"),
    "d09_dedup_keeplist" -> ("same bounded pair-gen as d07; keep-list "
      + "join + CC loop are the scale path"),
    "s01_cosine_topk" -> "1-row query vector broadcast",
    "s23_mips_transform" -> ("1-row query-vector broadcast (s01's "
      + "shape) on the scored frame; the M² scalar is a 1-row "
      + "metadata head()"),
    "s17_sq_int8" -> ("1-row query vector broadcast on both the "
      + "reconstructed and full-precision legs (s01's shape)"),
    "s18_ann_harness" -> ("1-row query-vector broadcasts (one per "
      + "leg, s01/s02/s03/s17's shapes) + 1-row scalar count frames "
      + "cross-joined into the 5-row comparison table (incl. the "
      + "e_graph beam-search leg's entry-probe/arrival scoring)"),
    "d29_span_length_census" -> ("1-row uncapped-census totals "
      + "crossed with 1-row capped totals for the zz_coverage "
      + "price-tag row; span generation is dupSpans both times "
      + "(gram-keyed shuffles + doc-keyed island windows, no "
      + "all-pairs)"),
    "s25_graph_beam_search" -> ("1-row query-vector broadcast "
      + "(s01's shape) crossed onto each beam-scale scoring frame "
      + "(entry probe + ≤beamW·k arrivals per round) and the 1-row "
      + "census count frames; the corpus-scale work is the one-time "
      + "s15 graph build — the search itself never rescans the "
      + "corpus (that's the point)"),
    "x11_tfidf_topterms" -> "1-row corpus-size (N) broadcast",
    "s20_hybrid_rrf" -> ("5-row query-vector-batch broadcast on the "
      + "vector leg (s04's pattern) + s19's 1-row corpus-totals "
      + "broadcast on the BM25 leg; corpus-scale joins are hash only"),
    "s19_bm25_retrieval" -> ("1-row corpus-totals (N, Σdl) broadcast "
      + "(x11's pattern); candidates come from the ≤25-row query-term "
      + "broadcast onto the posting list — hash joins only at corpus "
      + "scale"),
    "s21_prf_expansion" -> ("s19's 1-row corpus-totals broadcast, "
      + "TWICE (round-1 and expanded round-2 scoring); query/feedback/"
      + "expansion frames are ≤40-row broadcasts — hash joins only at "
      + "corpus scale"),
    "d26_dedup_threshold_curve" -> ("8-row threshold-ladder broadcast "
      + "theta-joined onto the BOUNDED d08 candidate-pair set + 1-row "
      + "corpus-total broadcast; pair generation itself is the "
      + "df-capped posting pipeline, never all-pairs"),
    "x45_vocab_coverage" -> ("7-row k-ladder theta-joined onto the "
      + "64-row global top-k frame + 1-row totals broadcast; the "
      + "corpus-scale side ends at the vocab census groupBy"),
    "x57_eval_decontamination" -> ("1-row train-total × 1-row "
      + "eval-count crosses minting the census header/decision rows; "
      + "the corpus-scale work is one tokenize pass + a gram-keyed "
      + "hash join against the distinct eval probe set (2% of corpus "
      + "bytes), never all-pairs"),
    "x46_source_divergence" -> ("1-row corpus-token-total broadcast "
      + "(x11's pattern) onto the 20-row per-source fold frame; the "
      + "corpus-scale side ends at the (source, word) census"),
    "d27_cluster_size_census" -> ("1-row corpus-total × 1-row "
      + "clustered-count broadcast for the singleton row; pair "
      + "generation is the df-capped posting pipeline and CC is the "
      + "d07 loop — hash joins only at corpus scale"),
    "x16_mixture_plan" -> "1-row corpus-total broadcast",
    "x54_temperature_mixture" -> ("1-row (n_total, w_total) totals "
      + "broadcast crossed onto the 5-row per-language plan frame "
      + "(x16's pattern); the corpus-scale side is two hash "
      + "aggregations and the row-local h60 rate-gate scan"),
    "g01_pagerank_parts" -> "1-row graph-size (N) broadcast per iteration",
    "x20_mixture_apply" -> "1-row corpus-total broadcast (x16's plan, applied)",
    "s02_ann_lsh" -> "1-row query vector broadcast",
    "s03_ivf_ann" -> "codebook (8 rows) + query vector broadcasts",
    "s04_ann_recall" -> ("10-row query-batch broadcast on both the "
      + "ground-truth and probe sides; corpus side stays hash-joined"),
    "q71_kmv_setops" -> ("three 1-row frames (two sketches + exact "
      + "counts) cross-joined; the data-sized work is the bounded "
      + "KmvMinSet aggregation"),
    "g03_kcore_peel" -> ("1-row convergence-census broadcast onto the "
      + "20-row top-k; peeling rounds are node-keyed joins"),
    "e06_asof_join" -> ("as-of union+window plan (no NL; listed for the "
      + "scalar-subquery guard only)"),
    "e08_late_data" -> ("global arrival-order audit window (documented "
      + "sequential batch twin; streaming watermark is the scale path)"),
    "d12_semantic_scaled" -> ("1-row broadcast codebook + metadata-scale "
      + "fine×coarse centroid argmax (k×√k rows); the corpus-sized side "
      + "is row-local folds + hash joins only"),
    "p01_curation_pipeline" -> ("x20's 1-row corpus-total broadcast; "
      + "dedup candidates come from d08's posting index (no all-pairs)"),
    "q72_kmv_quantiles" -> ("1-row merged-sketch and corpus-count "
      + "frames crossed with the 4-row quantile table; the data-sized "
      + "work is bounded KmvMinSet buffers + the census aggregate"),
    "q75_census_quantiles" -> ("per-seg census rows (≤ segments·k "
      + "sketch side / distinct-cents exact side) crossed with the "
      + "4-row quantile-pct literal — q72's pattern; the data-sized "
      + "work is the bounded KmvValueCensusRaw aggregation"),
    "e23_rfm_segments" -> ("two 1-row broadcasts (anchor ts, 9-value "
      + "quartile boundaries) crossed onto the users frame; the "
      + "corpus-scale work is one user-keyed aggregation"),
    "s15_nn_descent" -> ("20-row probe-batch broadcast for the exact "
      + "ground truth (s04's pattern) + 1-row stage-count crosses; "
      + "graph work is cell-/node-keyed hash joins only"),
    "s16_ivf_upsert" -> ("1-row cell-total broadcast for the drift "
      + "test; the corpus side is one zero-shuffle assignment scan"),
    "g09_modularity" -> ("1-row m and 1-row q_num_total broadcasts; "
      + "m_c/d_c come from key-partitioned hash joins"),
    "x35_neyman_allocation" -> ("1-row total-weight broadcast (the "
      + "ordered-fold Σ over the strata-scale list) crossed onto the "
      + "5-row strata frame; corpus work is one lang-keyed agg"),
    "m08_schema_match" -> ("4×4 candidate matrix of per-column KMV "
      + "sketches (metadata rows); the data-sized work is the two "
      + "scan-once multi-column sketch aggregations"),
    "e19_ab_test" -> ("1-row significance-test result crossed onto "
      + "the 2-row arm report; the data-sized work is two "
      + "distinct-user aggregations"),
    "s07_mmr_rerank" -> ("1-row query-vector broadcast (s01's stage) + "
      + "the 20-candidate a≠b pairwise-sim join; the greedy loop is "
      + "metadata-scale by construction — the corpus work is the "
      + "top-20 TakeOrdered scan"),
    "s08_jl_recall" -> ("two 1-row query-vector broadcasts (projected "
      + "and full-dim legs; the exact leg is the s04-style recall "
      + "harness — production scans only the projected column)"),
    "q73_join_cardinality" -> ("two 1-row frames (per-side sketches, "
      + "exact count) cross-joined; the data-sized work is two "
      + "bounded KmvMinSet aggregations + the ground-truth join"),
    "q81_join_cms" -> ("four 1-row frames (counts, CMS inner-product "
      + "min, exact count) cross-joined; data-sized work is two "
      + "bounded 4x65536-counter CMS aggregations + the ground-truth "
      + "join"),
    "q83_equidepth_histogram" -> ("1-row boundary-array broadcast "
      + "(7 octiles from one agg) against the scan — the bucket "
      + "assignment is row-local"),
    "s09_knn_classify" -> ("20-row labeled query-batch broadcast "
      + "(s04's pattern); the corpus side stays one scan"),
    "d15_lsh_tuning" -> ("bounded all-pairs exact ground truth (the "
      + "d02-class harness twin; a sample at cluster scale) + a "
      + "1-row truth-count broadcast; the candidate generation side "
      + "is band-keyed hash joins only"),
    "d18_source_overlap" -> ("n_sources² matrix of per-source KMV "
      + "sketches (20 metadata rows — m08's pattern); the data-sized "
      + "work is one scan-once bounded sketch aggregation"),
    "s12_sq8_recall" -> ("two 1-row query broadcasts (SQ-code and "
      + "quantized-long legs — s08's recall-harness shape); the "
      + "corpus side is zero-shuffle row-local folds + TakeOrdered"),
    "s13_filtered_ann" -> ("1-row query-vector broadcast on both the "
      + "filtered and unfiltered-harness legs (s01's shape); the "
      + "filtered leg's label predicate reaches the parquet scan"),
    "x31_vocab_drift" -> ("1-row corpus-totals broadcast (e19's "
      + "pattern); the data-sized work is one tokenize + one "
      + "word-keyed count aggregation"),
    "s14_ivf_tuning" -> ("1-row query / 8-row centroid-rank / 1-row "
      + "per-budget count broadcasts (the d15-for-IVF harness); the "
      + "corpus work is one cell-pruned cosine scan, checkpointed and "
      + "filtered per probe budget"),
    "x43_chunk_vectors" -> ("1-row query-chunk-vector broadcast (s01's "
      + "shape at chunk granularity); the corpus side is one scan to "
      + "16-dim integer vectors + TakeOrdered"),
    "m11_plan_impact_estimate" -> ("q83-style 1-row histogram-boundary "
      + "broadcast + 1-row estimate/exact/null-count frames crossed "
      + "onto the 4-row findings table; data-sized work is one "
      + "histogram aggregate and two counting scans"),
    "x47_bpe_corpus_encode" -> ("1-row token→id map broadcast (d12's "
      + "codebook-as-data posture) onto the VOCABULARY-scale census + "
      + "1-row corpus-token-mass broadcast; the corpus-scale side is "
      + "one tokenize pass and one word-keyed hash join"),
    "x48_bpe_incremental_encode" -> ("x47's 1-row stored-vocab map "
      + "broadcast onto the NEW-slice word census; the data-scale "
      + "side is one tokenize pass over the arriving slice and one "
      + "word-keyed hash join — the frozen base corpus is never "
      + "re-read"))

  test("no query plans an unlisted CartesianProduct / nested-loop join") {
    val offenders = offendersOf(v =>
      v.nestedLoop && !nlAllowlist.contains(v.name))
    assert(offenders.isEmpty,
      s"queries with unlisted nested-loop plans: ${offenders.mkString(", ")}")
  }

  /** Queries allowed to plan a Window/WindowGroupLimit with NO
    * partition spec (single-partition global sort — the other
    * scale-killer class beside nested loops), and why each is safe:
    * metadata-scale input by construction, or a documented sequential
    * twin whose scale path is elsewhere. Caveat: a query returning a
    * localCheckpoint (q95) truncates its lineage before the lint sees
    * it — q95's window is a manually-audited 16-row frame.
    */
  val globalWindowAllowlist: Map[String, String] = Map(
    "q72_kmv_quantiles" -> ("cumulative window over the merged KMV "
      + "sketch's value list — bounded at k=256 rows by the sketch "
      + "itself; the data-sized work is the KmvMinSet aggregation"),
    "q80_skyline" -> ("block-level sweep window over the per-BLOCK max "
      + "frame (one row per price-decade block); the per-price leg is "
      + "block-PARTITIONED — the documented two-level skyline sweep"),
    "s23_mips_transform" -> ("row_number over the 10 surviving rows of "
      + "an orderBy+limit(10) TakeOrdered — the rank census input is "
      + "bounded by construction"),
    "x08_len_histogram" -> ("share-of-total window over histogram "
      + "buckets (n_chars div 200 — the bucket domain, dozens of "
      + "rows); the corpus reduces in the groupBy below it"),
    "x22_vocab_growth" -> ("streamOffsets two-level block prefix sum: "
      + "the only SinglePartition window runs over ONE ROW PER BLOCK "
      + "(docs/512); within-block prefixes are blk-partitioned. The "
      + "curve census window is per-bucket (curve resolution)"),
    "x23_sequence_pack" -> ("streamOffsets block prefix sum — same "
      + "one-row-per-block SinglePartition step as x22"),
    "x38_curriculum_schedule" -> ("cumulative token budget over the "
      + "curriculum PHASE frame (a handful of phases); corpus work "
      + "ends at the phase aggregation"),
    "x45_vocab_coverage" -> ("rank window over the 64-row global "
      + "top-k frame (orderBy+limit upstream — TakeOrdered)"),
    "x47_bpe_corpus_encode" -> ("dense-id assignment rank over the "
      + "DISTINCT token vocabulary — metadata-sized by Heaps' law; "
      + "ids then apply as one broadcast map, never a corpus window"),
    "p06_token_budget_pack" -> ("streamOffsets block prefix sum (x23's "
      + "pattern) — SinglePartition only over one row per block"),
    "p07_preference_pipeline" -> ("streamOffsets block prefix sum over "
      + "the surviving PAIR frame (p06's billing machinery) — "
      + "SinglePartition only over one row per 512-pair block"),
    "e08_late_data" -> ("global arrival-order audit window — the "
      + "documented sequential batch twin (same entry as the NL "
      + "allowlist); the streaming watermark path is the scale plan"))

  test("no query plans an unlisted un-partitioned Window (global sort)") {
    val offenders = offendersOf(v =>
      v.globalWindow && !globalWindowAllowlist.contains(v.name))
    assert(offenders.isEmpty,
      s"queries with unlisted global windows: ${offenders.mkString(", ")}")
  }

  /** Queries that legitimately project the full lineitem row: q51-q53
    * roundtrips and q59's bucketed write materialize every column.
    */
  val fullScanAllowed = Set("q51_csv_roundtrip", "q52_json_roundtrip",
    "q53_orc_roundtrip", "q57_partition_pruned", "q59_bucketed_join")

  test("every fact-table scan prunes its read schema (no SELECT *)") {
    val offenders = offendersOf(v =>
      v.fullLineitemScan && !fullScanAllowed.contains(v.name))
    assert(offenders.isEmpty,
      s"queries scanning all lineitem columns: ${offenders.mkString(", ")}")
  }

  /** One query's lint verdicts; `failure` is set when it did not plan. */
  private case class Verdicts(name: String, nestedLoop: Boolean,
      globalWindow: Boolean, fullLineitemScan: Boolean,
      failure: Option[String])

  /** Offending names under `bad`, plus every query that failed to plan
    * (a plan failure never passes a lint).
    */
  private def offendersOf(bad: Verdicts => Boolean): Seq[String] =
    verdicts.flatMap {
      case Verdicts(name, _, _, _, Some(e)) => Some(s"$name (plan failed: $e)")
      case v if bad(v) => Some(v.name)
      case _ => None
    }

  /** The one catalog traversal: each query is built once at sf0.001 and
    * all three lints read its QueryExecution — global windows from the
    * optimized plan, nested loops and the lineitem read schema from the
    * executed plan. Only the verdicts are kept.
    */
  private lazy val verdicts: Seq[Verdicts] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window, WindowGroupLimit}
    // lineitem has 11 columns; a scan listing every one of them means
    // pruning failed
    val lineitemCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    Catalog.all.map { case (name, q) =>
      try {
        val qe = q.fn(spark, sf0001).queryExecution
        val globalWindow = qe.optimizedPlan.exists {
          case w: Window => w.partitionSpec.isEmpty
          case w: WindowGroupLimit => w.partitionSpec.isEmpty
          case _ => false
        }
        val plan = qe.executedPlan.toString
        Verdicts(name,
          nestedLoop = plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin"),
          globalWindow = globalWindow,
          fullLineitemScan = lineitemCols.forall(plan.contains),
          failure = None)
      } catch {
        case e: Throwable => Verdicts(name, false, false, false,
          Some(String.valueOf(e.getMessage)))
      }
    }
  }
}
