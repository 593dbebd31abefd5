package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._
import Catalog._

/** Graph analytics over relationship structures mined from the
  * relational tables: the co-purchase graph (parts appearing in the
  * same order) ranked with the integer-exact
  * [[graft.operators.PageRank]]. Companion to the dup-cluster
  * connected-components surface (d07/d09) — together they cover the
  * two iterative-graph shapes a curation pipeline leans on: transitive
  * grouping and authority scoring.
  */
object GraphOps {

  /** THE co-purchase edge builder, shared by all four graph queries
    * (one definition so an edge-semantics fix cannot drift across
    * g01-g04). Nodes are parts; two parts are adjacent iff some order
    * contains both. Pair expansion is ROW-LOCAL over each order's
    * `collect_set` (a TPC-H order has ≤7 lines ⇒ ≤42 directed pairs
    * per row), so the only shuffles are the orderkey groupBy and the
    * closing distinct — never a fact×fact self-join, at any scale.
    * `canonical = false` → one DIRECTED (src, dst) row per ordered
    * pair (g01/g04, where per-node in-neighborhoods matter);
    * `canonical = true` → each undirected edge once as (a, b) with
    * a < b (g02/g03, where edges are unordered). Callers materialize
    * (localCheckpoint / DISK_ONLY dial) per their own fan-out.
    */
  private[queries] def coPurchaseEdges(
      s: SparkSession, d: String, canonical: Boolean = false): DataFrame = {
    val (x, y) = if (canonical) ("a", "b") else ("src", "dst")
    val orderParts = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
    val pairs = orderParts
      .select(explode(col("ps")).as(x), col("ps"))
      .select(col(x), explode(col("ps")).as(y))
    (if (canonical) pairs.filter(col(x) < col(y))
     else pairs.filter(col(x) =!= col(y))).distinct()
  }

  /** DuckDB twin of [[coPurchaseEdges]]: CTEs `li` (distinct
    * order-part rows) and `edges(src, dst)`, or `canon(a, b)` with
    * a < b when `canonical`.
    */
  private[queries] def sqlCoPurchaseEdges(canonical: Boolean = false): String =
    """li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        """ + (if (canonical) """canon AS MATERIALIZED (
          SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          FROM li x JOIN li y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)"""
    else """edges AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)""")

  /** DuckDB twin of one `graft.operators.PageRank` round: `it$k` from
    * `it${k-1}` over `nodes`, `edges` and `deg(src, outdeg)`, with the
    * caller's teleport term `tele` (an expression over `n0.id`).
    */
  private[queries] def sqlPageRankRound(k: Int, tele: String): String =
    s"""it$k AS MATERIALIZED (
          SELECT n0.id,
            cast($tele
              + (85 * coalesce(s.contrib, 0)) // 100 as bigint) AS r
          FROM nodes n0
          LEFT JOIN (
            SELECT e.dst AS id, sum(r.r // d.outdeg) AS contrib
            FROM edges e JOIN it${k - 1} r ON r.id = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s ON s.id = n0.id)"""

  /** THE thresholded weighted co-purchase edge builder shared by
    * g12/g13/g14 (the coPurchaseEdges precedent — one definition so
    * the threshold semantics cannot drift): directed (src, dst, w)
    * where w = #orders containing both parts (row-local pair
    * expansion over each order's collect_set, one groupBy), kept iff
    * w ≥ 2 — the unthresholded graph has diameter 2 and every
    * distance census collapses.
    */
  private def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val orderParts = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
    orderParts
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
  }

  /** DuckDB twin of [[weightedEdges]]: CTEs `li` and
    * `edges(src, dst, w)` with w ≥ 2.
    */
  private[queries] val sqlWeightedEdges: String = """li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
          SELECT a.l_partkey AS src, b.l_partkey AS dst,
            cast(count(*) as bigint) AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2)"""

  /** Synchronous label propagation over a directed edge frame, one
    * definition for g04/g09 (the coPurchaseEdges precedent — a
    * semantics fix cannot drift between the census and the modularity
    * score). Per round each node adopts the most frequent in-neighbor
    * label, ties to the smallest label via max_by over the unique
    * (count, -lbl) struct key. shuffle_hash on the LABELS side, not
    * broadcast() and not unhinted: a forced broadcast ships every
    * node's label to every executor per round and caps at 8 GB on a
    * big graph; unhinted, Catalyst's garbage stats for checkpointed
    * RDDs made it broadcast the EDGE-scale side (measured 11.2 s vs
    * 3.0 at sf0.1). The hint names a STRATEGY, not a size assumption:
    * both sides hash-shuffle on dst and each partition builds from 1/N
    * of the node table — valid at any scale, measured at parity with
    * the broadcast variant locally (2.00 vs 2.03 s warm, 3 rounds).
    */
  private def labelProp(edges0: DataFrame, rounds: Int): DataFrame = {
    // round 16 (guide §2.4 — remove shuffles outright): the per-round
    // shuffle_hash join is keyed on dst, so partition the edge list by
    // dst ONCE and persist — ConnectedComponents' edge-cache
    // discipline. persist(), NOT localCheckpoint: a checkpoint rewrites
    // the plan to a LogicalRDD whose outputPartitioning Catalyst no
    // longer knows, so every round re-exchanged the edge-scale side
    // anyway (measured: an upfront repartition BEFORE the caller's
    // checkpoint left the 3-round listener shuffle at 160 MB; through
    // the persisted plan the rounds exchange only the node-scale label
    // side). Safe to unpersist before returning: the final EAGER
    // materialize below has already consumed the cache.
    // explicit count: REPARTITION_BY_COL alone is still subject to
    // AQE partition coalescing (1-3 partitions for this frame at
    // sf0.1), which would starve the per-round join of cores.
    val nPart = Catalog.sessionShufflePartitions(edges0)
    val edges = edges0.repartition(nPart, col("dst")).persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    // round 17: each round references the previous label frame exactly
    // once, so rounds chain lazily THREE per eager materialization —
    // the measured knee (g04 BENCH_ONLY bisect: per-round materialize
    // 4.31 s, every-2 4.5-5.1 s, every-3 ≡ fully-lazy-3-rounds
    // 3.28-3.89 s; PageRank's 5-round bisect pins the other side —
    // depth-5 chains regress to 7.1 s on AQE replanning). Every edge
    // reference is the same persisted cache, so chaining never
    // re-executes the edge side.
    val cadence = 3
    for (i <- 1 to rounds) {
      labels = edges
        .join(labels.select(col("id").as("dst"), col("lbl"))
          .hint("shuffle_hash"), "dst")
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max_by(col("lbl"),
          struct(col("c"), (-col("lbl")).as("nl"))).as("lbl"))
        .select(col("src").as("id"), col("lbl"))
      if (i % cadence == 0 && i < rounds) labels = labels.pipe(mat)
    }
    val out = labels.pipe(mat)
    edges.unpersist()
    out
  }

  /** DuckDB twin of [[labelProp]]'s three rounds (g04, g09) over
    * `edges(src, dst)`: `l0` (every source labels itself), then per
    * round r the label counts `c$r` and `l$r(id, lbl)` (the most
    * frequent in-neighbor label, ties to the smallest).
    */
  private[queries] val sqlLabelProp: String =
    "l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges)" +
      (1 to 3).map(r => s""",
        c$r AS (SELECT e.src, l.lbl, count(*) AS c
          FROM edges e JOIN l${r - 1} l ON l.id = e.dst GROUP BY 1, 2),
        l$r AS MATERIALIZED (SELECT src AS id, lbl FROM (
          SELECT src, lbl, row_number()
            OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
          FROM c$r) x WHERE rn = 1)""").mkString

  /** Degree-ordered triangle enumeration (g02's core, factored so the
    * per-node census and g10's per-edge support cannot drift): orient
    * each canonical edge low-degree → high-degree, enumerate wedges
    * from each node's ordered out-neighborhood (O(m^1.5) total wedge
    * output — Latapy's compact-forward bound), close against the
    * oriented edge list. One row per triangle (u, v, w).
    */
  private def orientedTriangles(s: SparkSession, d: String): DataFrame =
    orientedTrianglesOf(coPurchaseEdges(s, d, canonical = true))

  /** Same enumeration over an arbitrary canonical (a < b) edge frame —
    * g11's peel re-runs it per round on the surviving edges.
    */
  private[graft] def orientedTrianglesOf(canon0: DataFrame): DataFrame = {
    val canon = canon0.pipe(mat)
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val lowerA = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    // round 16, fix 1 (guide §2.5 corollary): AQE coalesces the join
    // exchanges feeding this metadata-scale frame to the 64 MB
    // advisory (3 partitions at sf0.1) and the checkpoint freezes
    // that — but the DOWNSTREAM wedge stage does O(m^1.5) work per
    // input row, so its parallelism need is probes, not bytes.
    // Re-spread to the session's shuffle parallelism before
    // checkpointing (explicit count pins the exchange against AQE
    // re-coalescing; src is skew-safe — orientation bounds out-degree
    // at O(sqrt m)); scale-adaptive via spark.sql.shuffle.partitions.
    val nPart = Catalog.sessionShufflePartitions(canon)
    val oriented = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(lowerA, col("a")).otherwise(col("b")).as("src"),
        when(lowerA, col("b")).otherwise(col("a")).as("dst"),
        when(lowerA, col("db")).otherwise(col("da")).as("ddst"))
      .repartition(nPart, col("src"))
      .pipe(mat)
    val w1 = oriented.select(col("src"), col("dst").as("v"),
      col("ddst").as("dv"))
    val w2 = oriented.select(col("src"), col("dst").as("w"),
      col("ddst").as("dw"))
    val wedges = w1.join(w2, Seq("src"))
      .filter((col("dv") < col("dw")) ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    // round 16, fix 2 (guide §2.3 "narrower types", applied to a join
    // KEY): the triangle-closing probe pays one hash lookup per wedge
    // (41 M at sf0.1), and a two-long key forces the generic
    // UnsafeHashedRelation — measured ~6× slower per probe than the
    // dense single-long LongHashedRelation. When every node id fits
    // 31 bits, (v << 32) | w is a collision-free single-long key and
    // the SAME join runs off the fast relation (measured 5.9 s →
    // 0.8 s for the wedge+closing stage at sf0.1). Packability is
    // checked at runtime on the materialized canon frame (one
    // metadata-scale agg); the unpackable case keeps the two-key
    // join — identical results either way: plan adaptivity, not
    // semantics (g02/g10/g11 oracles re-⊕ after this change).
    val closing = oriented.select(col("src").as("v"),
      col("dst").as("w"))
    val bounds = canon.agg(
      max(greatest(col("a"), col("b"))).as("mx"),
      min(least(col("a"), col("b"))).as("mn")).head()
    val packable = !bounds.isNullAt(0) &&
      bounds.getLong(0) < (1L << 31) && bounds.getLong(1) >= 0L
    if (packable) {
      wedges
        .withColumn("vw", shiftleft(col("v"), 32).bitwiseOR(col("w")))
        .join(closing.select(
          shiftleft(col("v"), 32).bitwiseOR(col("w")).as("vw")), "vw")
        .select(col("u"), col("v"), col("w"))
    } else wedges.join(closing, Seq("v", "w"))
  }

  /** DuckDB twin of [[orientedTrianglesOf]] over a canonical (a < b)
    * edge relation `canon`: CTEs `deg$k(id, deg)`, `o$k(src, dst,
    * ddst)` (each edge oriented low-degree → high-degree) and
    * `tri$k(u, v, w)` (one row per triangle). `k` keeps apart the
    * edge sets of one query (the peel rounds of g11 and g16).
    */
  private[queries] def sqlOrientedTriangles(canon: String,
      k: String = ""): String = s"""deg$k AS MATERIALIZED (
          SELECT id, cast(count(*) as bigint) AS deg
          FROM (SELECT a AS id FROM $canon
                UNION ALL SELECT b FROM $canon) u GROUP BY 1),
        o$k AS MATERIALIZED (
          SELECT CASE WHEN da.deg < db.deg
                   OR (da.deg = db.deg AND c.a < c.b)
                 THEN c.a ELSE c.b END AS src,
               CASE WHEN da.deg < db.deg
                   OR (da.deg = db.deg AND c.a < c.b)
                 THEN c.b ELSE c.a END AS dst,
               CASE WHEN da.deg < db.deg
                   OR (da.deg = db.deg AND c.a < c.b)
                 THEN db.deg ELSE da.deg END AS ddst
          FROM $canon c JOIN deg$k da ON da.id = c.a
          JOIN deg$k db ON db.id = c.b),
        tri$k AS MATERIALIZED (
          SELECT p.src AS u, p.dst AS v, q.dst AS w FROM o$k p
          JOIN o$k q ON p.src = q.src AND (p.ddst < q.ddst
            OR (p.ddst = q.ddst AND p.dst < q.dst))
          JOIN o$k r ON r.src = p.dst AND r.dst = q.dst)"""

  /** One k-truss peel round of g11 and g16 (k = 10): the triangles of
    * `cur${r-1}`, each edge's support `s$r`, and the surviving edges
    * `cur$r` (support ≥ 8).
    */
  private[queries] def sqlTrussRound(r: Int): String = {
    val prev = s"cur${r - 1}"
    sqlOrientedTriangles(prev, r.toString) + s""",
        s$r AS (SELECT a, b, count(*) AS sup FROM (
          SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri$r
          UNION ALL SELECT least(u, w), greatest(u, w) FROM tri$r
          UNION ALL SELECT least(v, w), greatest(v, w) FROM tri$r) e
          GROUP BY 1, 2),
        cur$r AS MATERIALIZED (
          SELECT c.a, c.b FROM $prev c
          JOIN s$r ON s$r.a = c.a AND s$r.b = c.b AND s$r.sup >= 8)"""
  }

  def queries: Seq[(String, Q)] = Seq(

    // ------------------------------------------------------------------
    // PageRank over the part co-purchase graph: nodes are parts, with
    // an edge between two parts whenever some order contains both.
    // Edge generation groups lineitem by l_orderkey and expands each
    // order's part set to ordered pairs ROW-LOCALLY (the
    // winnowCandidatePairs shape — a TPC-H order has ≤7 lines, so ≤42
    // directed pairs per row): one groupBy shuffle + one distinct, no
    // fact×fact self-join. Then 5 rounds of the fixed-point integer
    // PageRank. Both engines run the identical floor-div arithmetic, so
    // the scaled ranks — not just the ordering — hash-match
    // bit-for-bit; see the PageRank scaladoc for why double-precision
    // PageRank could never be oracle-checked.
    // ------------------------------------------------------------------
    "g01_pagerank_parts" -> Q(
      (s, d) => {
        val edges = coPurchaseEdges(s, d)
        graft.operators.PageRank.run(edges, iterations = 5)
          .orderBy(col("r").desc, col("id"))
          .limit(20)
          .select(col("id").as("part_id"), col("r").as("rank_scaled"))
      },
      // MATERIALIZED pins DuckDB to evaluate the shared CTEs once (the
      // default inlines them per reference: 29 s -> 0.7 s at sf0.01)
      Some("""WITH """ + sqlCoPurchaseEdges() + """,
        nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
        deg AS MATERIALIZED (
          SELECT src, cast(count(*) as bigint) AS outdeg
          FROM edges GROUP BY src),
        tele AS MATERIALIZED (
          SELECT (15 * (1000000000000 // cast(count(*) as bigint))) // 100
              AS t,
            (1000000000000 // cast(count(*) as bigint)) AS r_init
          FROM nodes),
        it0 AS (SELECT id, (SELECT r_init FROM tele) AS r FROM nodes),
        """ + (1 to 5).map(sqlPageRankRound(_, "(SELECT t FROM tele)"))
          .mkString(",\n        ") + """
        SELECT id AS part_id, r AS rank_scaled FROM it5
        ORDER BY r DESC, id LIMIT 20"""),
      bench = true),

    // ------------------------------------------------------------------
    // Per-node triangle counts over the same co-purchase graph, by
    // degree-ordered edge orientation — the algorithm that makes
    // triangle counting survive scale. Counting wedges on the RAW
    // graph explodes as sum(deg²) (one hot hub = one dead executor);
    // orienting every edge from its lower-(degree, id) endpoint to the
    // higher one turns the graph into a DAG whose max out-degree is
    // O(sqrt(m)), so wedge generation is bounded O(m^1.5) TOTAL and the
    // hot hub's work is spread across its neighbors' partitions. Each
    // triangle then has exactly one vertex with two outgoing edges, so
    // every triangle is found exactly once: no /3 correction, no
    // double counting — integer-exact and oracle-hashable. Shuffles:
    // canonical-edge distinct, degree agg, two degree joins, the wedge
    // self-join on src, and the closing equi-join on (v, w) — all hash
    // joins on bounded-skew keys. `canon` and `oriented` each feed
    // THREE consumers (degree/union/join; w1/w2/closing), and
    // non-identical exchanges don't reuse — without materialization the
    // edge-generation subtree executes ~6× (12.3 s warm at sf0.1; 5.9 s
    // with the two localCheckpoints + the single-Generate fan-out of
    // triangle corners below — at parity with DuckDB's 6.2 s on the
    // same 41M-wedge graph). The edge list is node-metadata-scale, not
    // corpus-scale; at cluster scale the same role is
    // persist(DISK_ONLY).
    // ------------------------------------------------------------------
    "g02_triangle_count" -> Q(
      (s, d) => {
        // one Generate, not a 3-way union: each union branch would
        // re-execute the wedge join (3× the dominant cost)
        orientedTriangles(s, d)
          .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
          .orderBy(col("triangles").desc, col("id"))
          .limit(20)
          .select(col("id").as("part_id"), col("triangles"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges(canonical = true) + ",\n        " +
          sqlOrientedTriangles("canon") + """
        SELECT id AS part_id, cast(count(*) as bigint) AS triangles
        FROM (
          SELECT u AS id FROM tri
          UNION ALL SELECT v AS id FROM tri
          UNION ALL SELECT w AS id FROM tri) z
        GROUP BY id
        ORDER BY triangles DESC, id LIMIT 20"""),
      bench = true),

    // ------------------------------------------------------------------
    // k-core peeling (k = 80, 3 synchronous rounds) over the
    // co-purchase graph — the degeneracy-based filter link-graph
    // pipelines use to separate a corpus's well-connected core from
    // peripheral noise. Semantics are FIXED-ROUND synchronous peeling
    // (each round drops every node whose degree in the CURRENT
    // subgraph is < k, then the edges touching them), not
    // run-to-fixpoint — bounded rounds are what a scheduled job runs,
    // and the emitted n_below_k column reports exactly how
    // unconverged the result still is (7 nodes at sf0.01, after
    // rounds that bite 97/25/13). Each round is one degree
    // aggregation + two semi-join-shaped edge filters; edges shrink
    // monotonically, and the per-round localCheckpoint keeps the plan
    // constant-size across rounds (the g01 lesson). At 100 TB: k-core
    // rounds are the same degree-agg + filter the CC/PageRank loops
    // already run — node-keyed shuffles, no pair explosion anywhere.
    // ------------------------------------------------------------------
    "g03_kcore_peel" -> Q(
      (s, d) => {
        val k = 80
        val canon = coPurchaseEdges(s, d, canonical = true)
          .pipe(mat)
        def degOf(e: org.apache.spark.sql.DataFrame) =
          e.select(col("a").as("id"))
            .union(e.select(col("b").as("id")))
            .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        def peel(e: org.apache.spark.sql.DataFrame) = {
          val keep = degOf(e).filter(col("deg") >= k).select(col("id"))
          e.join(keep.select(col("id").as("a")), "a")
            .join(keep.select(col("id").as("b")), "b")
            .select(col("a"), col("b"))
            .pipe(mat)
        }
        val core = peel(peel(peel(canon)))
        val degF = mat(degOf(core))
        val below = degF
          .agg(count(when(col("deg") < k, 1)).as("n_below_k"))
        degF.orderBy(col("deg").desc, col("id")).limit(20)
          .crossJoin(below)
          .select(col("id").as("part_id"), col("deg").as("core_deg"),
            col("n_below_k"))
          .orderBy(col("core_deg").desc, col("part_id"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges(canonical = true) + """,
        d0 AS (SELECT id, count(*) AS d FROM (
            SELECT a AS id FROM canon UNION ALL SELECT b AS id FROM canon
          ) u GROUP BY id),
        k1 AS (SELECT id FROM d0 WHERE d >= 80),
        e1 AS MATERIALIZED (SELECT a, b FROM canon
          JOIN k1 x ON x.id = canon.a JOIN k1 y ON y.id = canon.b),
        d1 AS (SELECT id, count(*) AS d FROM (
            SELECT a AS id FROM e1 UNION ALL SELECT b AS id FROM e1
          ) u GROUP BY id),
        k2 AS (SELECT id FROM d1 WHERE d >= 80),
        e2 AS MATERIALIZED (SELECT a, b FROM e1
          JOIN k2 x ON x.id = e1.a JOIN k2 y ON y.id = e1.b),
        d2 AS (SELECT id, count(*) AS d FROM (
            SELECT a AS id FROM e2 UNION ALL SELECT b AS id FROM e2
          ) u GROUP BY id),
        k3 AS (SELECT id FROM d2 WHERE d >= 80),
        e3 AS MATERIALIZED (SELECT a, b FROM e2
          JOIN k3 x ON x.id = e2.a JOIN k3 y ON y.id = e2.b),
        df AS MATERIALIZED (SELECT id, cast(count(*) as bigint) AS d
          FROM (
            SELECT a AS id FROM e3 UNION ALL SELECT b AS id FROM e3
          ) u GROUP BY id),
        below AS (SELECT cast(count(*) FILTER (WHERE d < 80) as bigint)
            AS n_below_k FROM df)
        SELECT t.id AS part_id, t.d AS core_deg, below.n_below_k
        FROM (SELECT id, d FROM df ORDER BY d DESC, id LIMIT 20) t, below
        ORDER BY core_deg DESC, part_id""")),

    // ------------------------------------------------------------------
    // Community detection by synchronous label propagation (Raghavan
    // et al. 2007) — the fourth iterative-graph shape after authority
    // (g01), closure (g02), and coreness (g03): transitive grouping
    // WITH majority structure, where connected components (d07) would
    // collapse everything touching into one blob. Determinism comes
    // from the synchronous update + total tie-break: every node
    // simultaneously adopts the most frequent label among its
    // neighbors, ties broken by smallest label — so unlike the
    // classic randomized-order LPA, three rounds here are a pure
    // function of the graph and both engines replay them exactly.
    // Scale shape per round: the label frame joins the edge list as a
    // dst-keyed SHUFFLE HASH join (hint) — labels is one row per NODE
    // and grows with the graph, so a forced broadcast would ship every
    // node's label to every executor three times per run and hit
    // Spark's 8 GB broadcast cap (and the driver) long before the
    // edge shuffle is the bottleneck; and it can't be left to join
    // selection, whose size estimates for checkpointed RDDs picked the
    // EDGE-scale side as the broadcast build here. Shuffle-hash is the
    // 1000-executor shape: both sides hash-partition on dst, each
    // partition builds a hash map from 1/N of the node table — no
    // size-capped artifact anywhere. Then one (src, lbl)
    // count agg and a per-node argmax as a max_by aggregate over
    // ≤ degree DISTINCT labels — two-phase with map-side partials,
    // where a row_number window would sort-shuffle every (src, lbl)
    // row (measured at sf0.1: 14.8 s window → 6.3 s max_by,
    // in line with g01's 5 rounds on the same graph). max_by's
    // tie key (c, -lbl) is unique per src row, so the argmax is
    // deterministic. Per-round materialization cuts lineage exactly
    // like PageRank's rounds. Output: the 20 largest communities'
    // census.
    // ------------------------------------------------------------------
    "g04_label_prop" -> Q(
      (s, d) => {
        val edges = coPurchaseEdges(s, d)
          .pipe(mat)
        labelProp(edges, 3).groupBy(col("lbl"))
          .agg(count(lit(1)).as("n_members"),
            min(col("id")).as("min_member"))
          .orderBy(col("n_members").desc, col("lbl"))
          .limit(20)
          .select(col("lbl").as("community"), col("n_members"),
            col("min_member"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges() + ",\n        " +
          sqlLabelProp + """
        SELECT lbl AS community, cast(count(*) as bigint) AS n_members,
          min(id) AS min_member
        FROM l3 GROUP BY lbl
        ORDER BY n_members DESC, community LIMIT 20"""),
      bench = true),

    // ------------------------------------------------------------------
    // Link prediction via the Resource-Allocation index (Zhou, Lü &
    // Zhang, EPJ B 2009) — "which parts are NOT yet co-purchased but
    // should be": for each non-adjacent pair (x, y), score =
    // Σ_{w ∈ Γ(x)∩Γ(y)} 1/deg(w). The per-neighbor weight is computed
    // as the scaled integer 10^12 div deg(w), so the score sum is
    // exact, order-independent, and hash-matchable in both engines —
    // RA's 1/deg needs no log/float (vs Adamic-Adar's 1/ln deg, which
    // could never hash-match). Wedge enumeration is the g02 cost
    // class, with the standard production guard made explicit: only
    // nodes with deg ≤ 64 act as wedge CENTERS (a hub's quadratic
    // pair-fanout buys ~zero RA weight — 10^12/deg vanishes exactly
    // when the blowup explodes), so wedge output is bounded by
    // cap × m rows, not Σ deg². Existing edges leave via one keyed
    // anti-join. Every join is an unhinted equi-join: at local sizes
    // AQE broadcasts the genuinely-small sides (QProf shows it), and
    // the same stats-driven selection demotes them to shuffle joins
    // when a side outgrows the threshold — the posture the g04 fix
    // established (no forced hint in either direction; the one hinted
    // exception, g04's shuffle_hash, exists because checkpointed-RDD
    // stats misled Catalyst there, which does not happen on this
    // uncheckpointed aggregate chain).
    // ------------------------------------------------------------------
    "g05_link_predict" -> Q(
      (s, d) => {
        val edges = coPurchaseEdges(s, d, canonical = true)
          .pipe(mat)
        val adj = edges.select(col("a").as("u"), col("b").as("v"))
          .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
        val centers = adj.groupBy(col("u"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") <= 64)
          .select(col("u"), expr("1000000000000L div deg").as("w8"))
        val cadj = adj.join(centers, Seq("u"))
        val l = cadj.select(col("u"), col("v").as("x"), col("w8"))
        val r = cadj.select(col("u"), col("v").as("y"))
        val scored = l.join(r, Seq("u"))
          .filter(col("x") < col("y"))
          .groupBy(col("x"), col("y"))
          .agg(sum(col("w8")).as("ra_scaled"),
            count(lit(1)).as("n_common"))
        scored.join(edges,
            scored("x") === edges("a") && scored("y") === edges("b"),
            "left_anti")
          .orderBy(col("ra_scaled").desc, col("x"), col("y"))
          .limit(20)
          .select(col("x").as("part_a"), col("y").as("part_b"),
            col("ra_scaled"), col("n_common"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges(canonical = true) + """,
        adj AS (
          SELECT a AS u, b AS v FROM canon
          UNION ALL SELECT b, a FROM canon),
        centers AS (
          SELECT u, 1000000000000 // cast(count(*) as bigint) AS w8
          FROM adj GROUP BY u
          HAVING count(*) <= 64),
        cadj AS MATERIALIZED (
          SELECT adj.u, adj.v, centers.w8
          FROM adj JOIN centers USING (u)),
        scored AS (
          SELECT l.v AS x, r.v AS y,
            cast(sum(l.w8) as bigint) AS ra_scaled,
            cast(count(*) as bigint) AS n_common
          FROM cadj l JOIN cadj r ON l.u = r.u AND l.v < r.v
          GROUP BY 1, 2)
        SELECT s.x AS part_a, s.y AS part_b, s.ra_scaled, s.n_common
        FROM scored s ANTI JOIN canon e ON s.x = e.a AND s.y = e.b
        ORDER BY s.ra_scaled DESC, s.x, s.y LIMIT 20""")),

    // ------------------------------------------------------------------
    // Personalized PageRank from a seed part (Haveliwala, WWW 2002) —
    // "parts most related to THIS part" by random-walk-with-restart
    // proximity, the recommendation query a co-purchase graph exists
    // for (g01 answers global authority; this answers locality). All
    // teleport mass returns to the seed (min part id — a deterministic
    // 1-row metadata aggregate), so rank concentrates in the seed's
    // neighborhood and decays with walk distance. 3 rounds of the
    // integer-exact floor-div recurrence (g01's arithmetic with the
    // teleport term conditional on the seed), so the oracle re-derives
    // every iteration bit-for-bit; per-round plans are constant-size
    // over 16-byte node state, the g01 scale argument unchanged.
    // ------------------------------------------------------------------
    "g06_personalized_pr" -> Q(
      (s, d) => {
        val edges = coPurchaseEdges(s, d).pipe(mat)
        val seed = edges.agg(min(col("src"))).head().getLong(0)
        graft.operators.PageRank.runPersonalized(edges, seed,
            iterations = 3)
          .filter(col("r") > 0)
          .orderBy(col("r").desc, col("id"))
          .limit(20)
          .select(col("id").as("part_id"), col("r").as("ppr_scaled"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges() + """,
        nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
        deg AS MATERIALIZED (
          SELECT src, cast(count(*) as bigint) AS outdeg
          FROM edges GROUP BY src),
        seed AS (SELECT min(src) AS sid FROM edges),
        it0 AS MATERIALIZED (
          SELECT id, cast(CASE WHEN id = (SELECT sid FROM seed)
            THEN 1000000000000 ELSE 0 END as bigint) AS r
          FROM nodes),
        """ + (1 to 3).map(sqlPageRankRound(_, "CASE WHEN n0.id = (SELECT sid FROM seed)\n              THEN 150000000000 ELSE 0 END")).mkString(",\n        ") + """
        SELECT id AS part_id, r AS ppr_scaled
        FROM it3 WHERE r > 0
        ORDER BY r DESC, id LIMIT 20""")),

    // ------------------------------------------------------------------
    // Market-basket LIFT (association-rule mining, the Apriori family)
    // — the co-purchase statistic g01/g05 don't answer: not "are a and
    // b connected" but "do a and b co-occur MORE than their
    // popularities predict". lift(a,b) = N·n_ab / (n_a·n_b), computed
    // as the scaled integer (N·n_ab·10^6) div (n_a·n_b) — exact,
    // order-independent, hash-matchable (float lift would not be).
    // Support counts are basket-level (an order contributes once per
    // pair regardless of line duplication); the min-support gate
    // (n_ab ≥ 3) is Apriori's own pruning and kills the noise pairs
    // whose lift explodes on tiny denominators. Scale shape: the pair
    // expansion is coPurchaseEdges' row-local ≤42-pairs-per-order
    // fold (never a fact×fact join); item and pair supports are two
    // hash aggregations; N is one metadata count; the final join is
    // pair-keyed. At 100 TB this is exactly the two-pass shape
    // distributed frequent-itemset miners run for k=2.
    // ------------------------------------------------------------------
    "g07_basket_lift" -> Q(
      (s, d) => {
        val orderParts = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(collect_set(col("l_partkey")).as("ps"))
          .pipe(mat)
        val itemCnt = orderParts.select(explode(col("ps")).as("p"))
          .groupBy(col("p")).agg(count(lit(1)).as("n_item"))
        val pairCnt = orderParts
          .select(explode(col("ps")).as("a"), col("ps"))
          .select(col("a"), explode(col("ps")).as("b"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_pair"))
          .filter(col("n_pair") >= 3)
        val nOrders = orderParts.count()
        pairCnt
          .join(itemCnt.select(col("p").as("a"),
            col("n_item").as("n_a")), Seq("a"))
          .join(itemCnt.select(col("p").as("b"),
            col("n_item").as("n_b")), Seq("b"))
          .withColumn("lift_scaled",
            expr(s"(${nOrders}L * n_pair * 1000000L) div (n_a * n_b)"))
          .select(col("a").as("part_a"), col("b").as("part_b"),
            col("n_pair"), col("n_a"), col("n_b"), col("lift_scaled"))
          .orderBy(col("lift_scaled").desc, col("part_a"), col("part_b"))
          .limit(20)
      },
      Some("""WITH li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT cast(count(DISTINCT l_orderkey) as bigint)
          AS n_orders FROM li),
        item AS (SELECT l_partkey AS p,
            cast(count(*) as bigint) AS n_item
          FROM li GROUP BY 1),
        pairs AS (
          SELECT a.l_partkey AS a, b.l_partkey AS b,
            cast(count(*) as bigint) AS n_pair
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT p.a AS part_a, p.b AS part_b, p.n_pair,
          x.n_item AS n_a, y.n_item AS n_b,
          cast((n.n_orders * p.n_pair * 1000000) //
            (x.n_item * y.n_item) as bigint) AS lift_scaled
        FROM pairs p
        JOIN item x ON x.p = p.a
        JOIN item y ON y.p = p.b, n
        ORDER BY lift_scaled DESC, part_a, part_b LIMIT 20""")),

    // ------------------------------------------------------------------
    // Degree distribution — the first diagnostic run on ANY graph
    // before an iterative algorithm: a log2-binned degree histogram
    // (bin = bit length of the degree — length of the binary string,
    // integer-exact in both engines, no floating log near a power-of-2
    // boundary) plus per-bin min/max/edge mass. The histogram answers
    // the questions that size a graph job: is the degree sequence
    // heavy-tailed (skew-salt the hot keys?), what is max-degree (the
    // hub guard threshold g05 uses), and which bins carry the edge
    // mass (Σ deg = 2m check rides along). One degree aggregation over
    // the shared edge builder, then a bins-scale (≤ ~40 rows) census —
    // the output is metadata at any graph size.
    // ------------------------------------------------------------------
    "g08_degree_stats" -> Q(
      (s, d) => {
        val deg = coPurchaseEdges(s, d)
          .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        deg
          .withColumn("bin", length(conv(col("deg"), 10, 2)).cast("int"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("deg")).as("min_deg"),
            max(col("deg")).as("max_deg"),
            sum(col("deg")).as("edge_endpoints"))
          .orderBy(col("bin"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges() + """,
        deg AS (
          SELECT src, cast(count(*) as bigint) AS deg
          FROM edges GROUP BY 1)
        SELECT cast(length(bin(deg)) as integer) AS bin,
          cast(count(*) as bigint) AS n_nodes,
          min(deg) AS min_deg, max(deg) AS max_deg,
          cast(sum(deg) as bigint) AS edge_endpoints
        FROM deg GROUP BY 1 ORDER BY bin""")),

    // ------------------------------------------------------------------
    // Modularity of the label-propagation partition (Newman & Girvan)
    // — the number that says whether g04's communities MEAN anything:
    // Q = Σ_c [m_c/m − (d_c/2m)²]. Computed entirely in integers via
    // 4m²·Q = Σ_c (4·m·m_c − d_c²): per community the report carries
    // the exact contribution q_num = 4·m·m_c − d_c² (negative when
    // the community holds fewer intra-edges than its degree mass
    // predicts), plus the global Σ over ALL communities and m as
    // ride-alongs, so Q itself is one division away — no float enters
    // either engine. m_c comes from one canonical-edge double join
    // against the label table (both key-partitioned); d_c from the
    // node-keyed degree join; magnitudes: d_c ≤ 2m so q_num ≤ 4m² —
    // a 100×-edges graph stays within int64 until m ~ 1.5e9 (then the
    // DECIMAL38 widening d38 pattern applies).
    // ------------------------------------------------------------------
    "g09_modularity" -> Q(
      (s, d) => {
        val edges = coPurchaseEdges(s, d).pipe(mat)
        val labels = labelProp(edges, 3)
        val canon = edges.filter(col("src") < col("dst"))
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val mRow = canon.agg(count(lit(1)).as("m"))
        val intra = canon
          .join(labels.select(col("id").as("src"),
            col("lbl").as("la")), "src")
          .join(labels.select(col("id").as("dst"),
            col("lbl").as("lb")), "dst")
          .filter(col("la") === col("lb"))
          .groupBy(col("la"))
          .agg(count(lit(1)).as("m_c"))
          .select(col("la").as("lbl"), col("m_c"))
        val per = labels.join(deg, col("id") === col("src"))
          .groupBy(col("lbl"))
          .agg(sum(col("deg")).as("d_c"),
            count(lit(1)).as("n_members"))
          .join(intra, Seq("lbl"), "left")
          .withColumn("m_c", coalesce(col("m_c"), lit(0L)))
          .crossJoin(broadcast(mRow))
          .withColumn("q_num",
            lit(4) * col("m") * col("m_c") - col("d_c") * col("d_c"))
        val tot = per.agg(sum(col("q_num")).as("q_num_total"))
        per.crossJoin(broadcast(tot))
          .select(col("lbl").as("community"), col("n_members"),
            col("m_c"), col("d_c"), col("q_num"), col("m"),
            col("q_num_total"))
          .orderBy(col("n_members").desc, col("community"))
          .limit(10)
      },
      Some("""WITH """ + sqlCoPurchaseEdges() + ",\n        " +
          sqlLabelProp + """,
        canon AS (SELECT src, dst FROM edges WHERE src < dst),
        m AS (SELECT cast(count(*) as bigint) AS m FROM canon),
        deg AS (SELECT src, cast(count(*) as bigint) AS deg
          FROM edges GROUP BY 1),
        intra AS (
          SELECT x.lbl, cast(count(*) as bigint) AS m_c
          FROM canon c
          JOIN l3 x ON x.id = c.src
          JOIN l3 y ON y.id = c.dst
          WHERE x.lbl = y.lbl GROUP BY 1),
        per AS (
          SELECT l.lbl, cast(sum(g.deg) as bigint) AS d_c,
            cast(count(*) as bigint) AS n_members
          FROM l3 l JOIN deg g ON g.src = l.id GROUP BY 1),
        scored AS (
          SELECT p.lbl, p.n_members,
            coalesce(i.m_c, 0) AS m_c, p.d_c,
            4 * m.m * coalesce(i.m_c, 0) - p.d_c * p.d_c AS q_num,
            m.m
          FROM per p LEFT JOIN intra i ON i.lbl = p.lbl, m),
        tot AS (SELECT cast(sum(q_num) as bigint) AS q_num_total
          FROM scored)
        SELECT s.lbl AS community, s.n_members, s.m_c, s.d_c,
          cast(s.q_num as bigint) AS q_num, s.m, t.q_num_total
        FROM scored s, tot t
        ORDER BY s.n_members DESC, community LIMIT 10""")),

    // ------------------------------------------------------------------
    // Edge triangle SUPPORT — the k-truss substrate (Cohen 2008): an
    // edge's support is the number of triangles through it, and every
    // edge of a k-truss needs support ≥ k−2, so this table IS the
    // first peel decision (filter support < k−2, recount, iterate —
    // g03's peel loop, on edges). Triangles come from the shared
    // degree-oriented enumeration (one definition with g02 — the
    // census and the support cannot drift); each triangle explodes to
    // its three id-canonical edges in ONE Generate, then an edge-keyed
    // count. Top-20 strongest ties reported — the maximally-embedded
    // co-purchase pairs, the opposite end of the spectrum from g05's
    // predicted-but-absent links.
    // ------------------------------------------------------------------
    "g10_edge_support" -> Q(
      (s, d) => {
        orientedTriangles(s, d)
          .select(explode(array(
            struct(least(col("u"), col("v")).as("a"),
              greatest(col("u"), col("v")).as("b")),
            struct(least(col("u"), col("w")).as("a"),
              greatest(col("u"), col("w")).as("b")),
            struct(least(col("v"), col("w")).as("a"),
              greatest(col("v"), col("w")).as("b")))).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH """ + sqlCoPurchaseEdges(canonical = true) + ",\n        " +
          sqlOrientedTriangles("canon") + """,
        edges3 AS (
          SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
          UNION ALL SELECT least(u, w), greatest(u, w) FROM tri
          UNION ALL SELECT least(v, w), greatest(v, w) FROM tri)
        SELECT a, b, cast(count(*) as bigint) AS support
        FROM edges3 GROUP BY 1, 2
        ORDER BY support DESC, a, b LIMIT 20""")),

    // ------------------------------------------------------------------
    // k-TRUSS peel trajectory (Cohen 2008; k = 10): iteratively drop
    // every edge with support < k−2 and recount — g03's k-core peel,
    // on edges, with g10's support table as each round's input. Three
    // rounds reported as (round, edges_before, edges_after); on this
    // near-random co-purchase graph the peel keeps biting (115.7k →
    // 93.2k → 67.4k → 39.4k at sf0.01) and full convergence would run
    // many more rounds — the trajectory, not a converged truss, is
    // the deliverable, and it is exactly what sizes the remaining
    // rounds' bill before committing to them. Each round: one
    // O(m^1.5) wedge pass + an edge-keyed semi join; per-round counts
    // are driver scalars (g01's iterative-action convention);
    // surviving edge frames are materialized per round so plans stay
    // constant-size.
    // ------------------------------------------------------------------
    "g11_ktruss_peel" -> Q(
      (s, d) => {
        val kk = 10
        var cur = coPurchaseEdges(s, d, canonical = true)
          .pipe(mat)
        val traj = scala.collection.mutable.ArrayBuffer.empty[
          (Int, Long, Long)]
        for (r <- 1 to 3) {
          val support = orientedTrianglesOf(cur)
            .select(explode(array(
              struct(least(col("u"), col("v")).as("a"),
                greatest(col("u"), col("v")).as("b")),
              struct(least(col("u"), col("w")).as("a"),
                greatest(col("u"), col("w")).as("b")),
              struct(least(col("v"), col("w")).as("a"),
                greatest(col("v"), col("w")).as("b")))).as("e"))
            .select(col("e.a").as("a"), col("e.b").as("b"))
            .groupBy(col("a"), col("b"))
            .agg(count(lit(1)).as("sup"))
          val nxt = cur.join(
            support.filter(col("sup") >= kk - 2)
              .select(col("a"), col("b")),
            Seq("a", "b"), "left_semi")
            .pipe(mat)
          traj += ((r, cur.count(), nxt.count()))
          cur = nxt
        }
        import s.implicits._
        traj.toSeq.toDF("round", "edges_before", "edges_after")
          .orderBy(col("round"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges(canonical = true) + """,
        cur0 AS MATERIALIZED (SELECT a, b FROM canon),
        """ + (1 to 3).map(sqlTrussRound).mkString(",\n        ") + """
        SELECT * FROM (
          SELECT 1 AS round,
            (SELECT cast(count(*) as bigint) FROM cur0) AS edges_before,
            (SELECT cast(count(*) as bigint) FROM cur1) AS edges_after
          UNION ALL SELECT 2,
            (SELECT cast(count(*) as bigint) FROM cur1),
            (SELECT cast(count(*) as bigint) FROM cur2)
          UNION ALL SELECT 3,
            (SELECT cast(count(*) as bigint) FROM cur2),
            (SELECT cast(count(*) as bigint) FROM cur3)) x
        ORDER BY round""")),

    // ------------------------------------------------------------------
    // Multi-source BFS hop census — the reachability/distance primitive
    // the graph surface lacked (g01-g11 cover ranking, cohesion, and
    // communities; nothing measured DISTANCE). Graph: co-purchase edges
    // THRESHOLDED at weight ≥ 2 (parts co-bought in at least two
    // orders) — the unthresholded graph has diameter 2 (every census
    // trivially flat), the weighted one spreads 9 hops at sf0.01.
    // Seeds: the 10 smallest node ids. Six synchronous frontier rounds,
    // then one census row per hop plus hop = -1 for nodes unreached
    // within the horizon.
    //
    // Scale posture: DELTA-frontier BFS (Pregel's canonical form) —
    // each round joins ONLY the newly-reached frontier against the
    // edge list (total work across all rounds = one pass over E, not
    // rounds × E), and the visited set is a per-round-materialized
    // (id, hop) frame (12 B/node — Catalog.mat, so the disk dial
    // applies) probed with a left-anti join. No node-scale broadcast
    // anywhere (the g04 lesson): frontier and edges shuffle on the
    // join key, AQE free to broadcast a genuinely small frontier.
    // DuckDB oracle: recursive CTE with UNION-dedup on (id, d) rows —
    // bounded by V × hops — then min(d) per node; same thresholded
    // edges, same seeds, same horizon.
    // ------------------------------------------------------------------
    "g12_bfs_hops" -> Q(
      (s, d) => {
        val hops = 6
        val edges = mat(
          weightedEdges(s, d).select(col("src"), col("dst")))
        val nodes = edges.select(col("src").as("id")).distinct()
        val seeds = nodes.orderBy(col("id")).limit(10)
        val dist0 = mat(
          seeds.select(col("id"), lit(0).as("hop")))
        // Round 17 (guide §1.2 — cut per-round job latency): the six
        // per-hop EAGER materializations were six jobs of pure
        // scheduling (measured: the 8-core bench total equals the
        // 32-core total — latency-bound, not data-bound). Unroll TWO
        // hops per materialization — the knee the PageRank r17 cadence
        // bisect measured (per-round jobs pay latency; deeper lazy
        // chains pay superlinear AQE replanning, and an all-6-hop
        // persist() chain measured SLOWER than the r16 shape). The
        // odd hop's frontier inside a window is referenced three times
        // (the even hop's join, its anti-join, the union), so persist()
        // it for the window and release it once the window's
        // materialization has consumed it. Dataflow per hop — and its
        // one-pass-over-E total work — is unchanged.
        var dist = dist0.select(col("id"), col("hop"))
        var frontier = dist0.select(col("id"))
        var windowCache: Option[DataFrame] = None
        for (h <- 1 to hops) {
          val closeWindow = h % 2 == 0 || h == hops
          val next0 = frontier
            .join(edges, frontier("id") === edges("src"))
            .select(col("dst").as("id")).distinct()
            .join(dist, Seq("id"), "left_anti")
            .select(col("id"), lit(h).as("hop"))
          val next = if (closeWindow) next0 else next0.persist()
          dist = dist.select(col("id"), col("hop")).unionAll(fresh(next))
          if (closeWindow) {
            dist = mat(dist)
            windowCache.foreach(_.unpersist())
            windowCache = None
            frontier = dist.filter(col("hop") === h).select(col("id"))
          } else {
            windowCache = Some(next)
            frontier = next.select(col("id"))
          }
        }
        val census = dist.groupBy(col("hop"))
          .agg(count(lit(1)).as("n_nodes"))
        val unreached = nodes
          .join(dist.select(col("id")), Seq("id"), "left_anti")
          .agg(lit(-1).as("hop"), count(lit(1)).as("n_nodes"))
        // fresh exprIds on both union inputs (the self-derived-frame
        // Union lesson)
        def realias(df: DataFrame) = df.select(
          col("hop").cast("int").as("hop"), col("n_nodes").as("n_nodes"))
        realias(census).unionAll(realias(unreached))
          .orderBy(col("hop"))
      },
      Some("""WITH """ + sqlWeightedEdges + """,
        nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
        seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 10),
        reach AS MATERIALIZED (
          WITH RECURSIVE r(id, d) AS (
            SELECT id, 0 FROM seeds
            UNION
            SELECT e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.id
            WHERE r.d < 6)
          SELECT id, min(d) AS hop FROM r GROUP BY id)
        SELECT cast(hop as integer) AS hop,
          cast(count(*) as bigint) AS n_nodes
        FROM reach GROUP BY hop
        UNION ALL
        SELECT cast(-1 as integer),
          (SELECT cast(count(*) as bigint) FROM nodes) -
          (SELECT cast(count(*) as bigint) FROM reach)
        ORDER BY hop"""),
      bench = true),

    // ------------------------------------------------------------------
    // WEIGHTED shortest paths (SSSP) — g12 measures reachability in
    // HOPS; this measures COST: edge cost = 1000 div w over the same
    // weight ≥ 2 co-purchase graph (stronger ties are cheaper — the
    // association-distance convention), four synchronous Bellman-Ford
    // rounds of min-plus relaxation from the same 10 seeds, then the
    // distance-census (d, n_nodes, min_id) plus the d = -1 unreached
    // row. The census exposes genuinely WEIGHTED structure: d = 833 =
    // 500 + 333 (a 2-hop through a w=3 tie) beats the 1000 of two
    // weak hops — an ordering hop counts cannot see.
    //
    // Scale: classic Bellman-Ford — each round joins the FULL dist
    // frame (16 B/node, Catalog.mat per round, disk dial applies)
    // against edges, O(E) per round with R fixed; integer costs make
    // the fixpoint oracle-exact. (Delta-stepping — relaxing only
    // nodes whose d improved, g12's frontier idea generalized — is
    // the documented optimization once rounds × E dominates; at R = 4
    // the simple form IS the scale plan.) The oracle unrolls the four
    // rounds as explicit CTEs, g01's fixed-iteration pattern.
    // ------------------------------------------------------------------
    "g13_sssp_census" -> Q(
      (s, d) => {
        val rounds = 4
        val edges = mat(weightedEdges(s, d)
          .select(col("src"), col("dst"), expr("1000 div w").as("cost")))
        val nodes = edges.select(col("src").as("id")).distinct()
        val seeds = nodes.orderBy(col("id")).limit(10)
        var dist = mat(
          seeds.select(col("id"), lit(0L).as("d")))
        for (_ <- 1 to rounds) {
          val relaxed = dist
            .join(edges, dist("id") === edges("src"))
            .select(col("dst").as("id"), (dist("d") + col("cost")).as("d"))
          dist = mat(fresh(dist).unionAll(fresh(relaxed))
            .groupBy(col("id")).agg(min(col("d")).as("d")))
        }
        val census = dist.groupBy(col("d"))
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
        val unreached = nodes
          .join(dist.select(col("id")), Seq("id"), "left_anti")
          .agg(lit(-1L).as("d"), count(lit(1)).as("n_nodes"),
            min(col("id")).as("min_id"))
        fresh(census).unionAll(fresh(unreached))
          .orderBy(col("d"))
      },
      Some("""WITH """ + sqlWeightedEdges + """,
        nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
        seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 10),
        it0 AS (SELECT id, cast(0 as bigint) AS d FROM seeds),
        it1 AS MATERIALIZED (SELECT id, min(d) AS d FROM (
          SELECT * FROM it0 UNION ALL
          SELECT e.dst, it0.d + 1000 // e.w FROM it0
          JOIN edges e ON e.src = it0.id) GROUP BY id),
        it2 AS MATERIALIZED (SELECT id, min(d) AS d FROM (
          SELECT * FROM it1 UNION ALL
          SELECT e.dst, it1.d + 1000 // e.w FROM it1
          JOIN edges e ON e.src = it1.id) GROUP BY id),
        it3 AS MATERIALIZED (SELECT id, min(d) AS d FROM (
          SELECT * FROM it2 UNION ALL
          SELECT e.dst, it2.d + 1000 // e.w FROM it2
          JOIN edges e ON e.src = it2.id) GROUP BY id),
        it4 AS MATERIALIZED (SELECT id, min(d) AS d FROM (
          SELECT * FROM it3 UNION ALL
          SELECT e.dst, it3.d + 1000 // e.w FROM it3
          JOIN edges e ON e.src = it3.id) GROUP BY id)
        SELECT d, cast(count(*) as bigint) AS n_nodes,
          min(id) AS min_id
        FROM it4 GROUP BY d
        UNION ALL
        SELECT cast(-1 as bigint),
          (SELECT cast(count(*) as bigint) FROM nodes) -
            (SELECT cast(count(*) as bigint) FROM it4),
          (SELECT min(id) FROM nodes n
           WHERE NOT EXISTS (SELECT 1 FROM it4 r WHERE r.id = n.id))
        ORDER BY d""")),

    // ------------------------------------------------------------------
    // Harmonic centrality of the top-degree hubs — the centrality
    // family's THIRD member here (PageRank = eigenvector-flavor
    // authority, degree = local volume; harmonic = global REACH:
    // Σ 1/d(hub, v), the closeness variant that handles disconnection
    // gracefully, Boldi & Vigna's recommendation). Five hubs (top
    // out-degree, id tiebreak), one LABELED multi-source BFS — the
    // frontier carries (hub, node), so all five searches share each
    // round's single edge join instead of running five sequential
    // BFS loops; visited state is (hub, id, d), ≤ 5× node scale. The
    // 1/d harmonic sum enters as integer micro-units (1000000 div d,
    // summed as bigint) — exact in both engines, no float harmonics.
    // 4-hop horizon, matching g12's census domain.
    // ------------------------------------------------------------------
    "g14_harmonic_centrality" -> Q(
      (s, d) => {
        val rounds = 4
        val edges = mat(
          weightedEdges(s, d).select(col("src"), col("dst")))
        val deg = edges.groupBy(col("src"))
          .agg(count(lit(1)).as("deg"))
        val hubs = deg.orderBy(col("deg").desc, col("src")).limit(5)
          .select(col("src").as("hub"))
        var dist = mat(hubs.select(col("hub"),
          col("hub").as("id"), lit(0).as("d")))
        var frontier = dist.select(col("hub"), col("id"))
        for (h <- 1 to rounds) {
          val next = frontier
            .join(edges, frontier("id") === edges("src"))
            .select(col("hub"), col("dst").as("id")).distinct()
            .join(dist.select(col("hub"), col("id")),
              Seq("hub", "id"), "left_anti")
            .select(col("hub"), col("id"), lit(h).as("d"))
          dist = mat(fresh(dist).unionAll(fresh(next)))
          frontier = dist.filter(col("d") === h)
            .select(col("hub"), col("id"))
        }
        dist.groupBy(col("hub"))
          .agg(count(when(col("d") > 0, 1)).as("n_reached"),
            coalesce(sum(when(col("d") > 0, expr("1000000 div d"))),
              lit(0L)).as("harmonic_pm"))
          .orderBy(col("hub"))
      },
      Some("""WITH """ + sqlWeightedEdges + """,
        deg AS (SELECT src, cast(count(*) as bigint) AS deg
          FROM edges GROUP BY src),
        hubs AS (SELECT src AS hub FROM deg
          ORDER BY deg DESC, src LIMIT 5),
        reach AS MATERIALIZED (
          WITH RECURSIVE r(hub, id, d) AS (
            SELECT hub, hub, 0 FROM hubs
            UNION
            SELECT r.hub, e.dst, r.d + 1 FROM r
            JOIN edges e ON e.src = r.id WHERE r.d < 4)
          SELECT hub, id, min(d) AS d FROM r GROUP BY hub, id)
        SELECT hub,
          cast(count(*) FILTER (WHERE d > 0) as bigint) AS n_reached,
          cast(coalesce(sum(1000000 // d) FILTER (WHERE d > 0), 0)
            as bigint) AS harmonic_pm
        FROM reach GROUP BY hub ORDER BY hub""")),

    // ------------------------------------------------------------------
    // RUN-TO-CONVERGENCE connected components with a convergence
    // CERTIFICATE: pure one-hop min-label propagation (no pointer
    // jumping) iterated to an actual fixpoint, emitting one census row
    // per round — (round, n_changed, n_components) — whose LAST row
    // proves convergence with n_changed = 0. This retires the
    // trajectory caveat of the fixed-round iterative ops (g11): the
    // result is round-count independent, so a production run can trust
    // it without knowing the iteration budget, and the census is the
    // auditable proof (monotone-shrinking component count, delta
    // reaching zero).
    //
    // Pure propagation is chosen deliberately over d07's
    // pointer-jumping loop: after r rounds a node's label is EXACTLY
    // min{u : dist(u, v) <= r}, a pure graph-distance fact, so DuckDB
    // re-derives the ENTIRE census — every round's delta and component
    // count, not just the fixpoint — from an all-pairs BFS closure
    // (running-min over distance = label trajectory; change rounds and
    // step intervals fall out of two window functions). The graph is
    // the w >= 2 co-purchase graph restricted to the bottom-30%
    // partkey window (cut = max_partkey * 3 / 10, scale-relative so
    // the subgraph is non-vacuous at every sf; same role as d07's
    // doc_id window: it bounds the ORACLE's quadratic closure, not the
    // Spark plan). At sf0.01 the windowed graph has 359 nodes and
    // genuinely long chains: 20 rounds to fixpoint, 190 -> 71
    // components.
    //
    // Scale posture: per round one co-partitioned edges-by-dst x
    // labels-by-id join + a label-sized groupBy — O(E) per round,
    // labels materialized per round (Catalog.mat, disk dial applies),
    // plans constant-size; the per-round (changed, components) pair is
    // a 1-row driver scalar (g01's iterative-action convention). Pure
    // propagation converges in O(diameter) rounds — the price of the
    // hop-exact certificate; when O(log d) rounds matter more than
    // census auditability, d07's pointer-jumping
    // ConnectedComponents.components IS the production path (it
    // reaches the same fixpoint and already hard-fails on
    // non-convergence). maxIter = 60 guards pathological diameters.
    // ------------------------------------------------------------------
    "g15_cc_convergence" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        // metadata-scale driver scalar: the window cut
        val cut = li.agg(expr("max(l_partkey) * 3 div 10"))
          .collect()(0).getLong(0)
        val edges = mat(
          li.filter(col("l_partkey") < cut)
            .groupBy(col("l_orderkey"))
            .agg(collect_set(col("l_partkey")).as("ps"))
            .select(explode(col("ps")).as("src"), col("ps"))
            .select(col("src"), explode(col("ps")).as("dst"))
            .filter(col("src") =!= col("dst"))
            .groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("w"))
            .filter(col("w") >= 2)
            .select(col("src"), col("dst"))
            .repartition(col("dst")))
        var labels = mat(
          edges.select(col("src").as("id")).distinct()
            .withColumn("label", col("id"))
            .repartition(col("id")))
        val census =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val maxIter = 60
        var round = 0L
        var delta = -1L
        while (delta != 0L && round < maxIter) {
          round += 1
          val nbr = edges.join(labels, edges("dst") === labels("id"))
            .groupBy(edges("src").as("nid"))
            .agg(min(col("label")).as("nl"))
          val updated = mat(
            labels.as("l")
              .join(nbr, col("l.id") === col("nid"), "left")
              .select(col("l.id").as("id"),
                least(col("l.label"),
                  coalesce(col("nl"), col("l.label"))).as("label"))
              .repartition(col("id")))
          val stats = updated.as("n")
            .join(labels.as("p"), Seq("id"))
            .agg(
              coalesce(sum(when(col("n.label") =!= col("p.label"), 1L)
                .otherwise(0L)), lit(0L)).as("chg"),
              countDistinct(col("n.label")).as("nc"))
            .collect()(0)
          delta = stats.getLong(0)
          census += ((round, delta, stats.getLong(1)))
          labels = updated
        }
        if (delta != 0L)
          throw new IllegalStateException(
            s"g15 did not converge within $maxIter rounds")
        import s.implicits._
        census.toSeq.toDF("round", "n_changed", "n_components")
          .orderBy(col("round"))
      },
      Some("""WITH RECURSIVE li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        cut AS (SELECT max(l_partkey) * 3 // 10 AS c FROM li),
        edges AS MATERIALIZED (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
          WHERE a.l_partkey < (SELECT c FROM cut)
            AND b.l_partkey < (SELECT c FROM cut)
          GROUP BY 1, 2 HAVING count(*) >= 2),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        r(u, v, d) AS (
          SELECT id, id, 0 FROM nodes
          UNION
          SELECT r.u, e.dst, r.d + 1 FROM r
          JOIN edges e ON e.src = r.v WHERE r.d < 60),
        dist AS MATERIALIZED (SELECT u, v, min(d) AS d FROM r GROUP BY u, v),
        mk AS (SELECT v, d AS k, min(u) AS mu FROM dist GROUP BY v, d),
        run AS (SELECT v, k,
            min(mu) OVER (PARTITION BY v ORDER BY k) AS label FROM mk),
        lab AS (SELECT v, k, label,
            lag(label) OVER (PARTITION BY v ORDER BY k) AS prev FROM run),
        chg AS (SELECT v, k, label FROM lab
          WHERE k > 0 AND label < coalesce(prev, v)),
        rmax AS (SELECT coalesce(max(k), 0) AS r FROM chg),
        rounds AS (SELECT unnest(range(1, (SELECT r FROM rmax) + 2))
          AS round),
        census AS (
          SELECT round, coalesce(cnt, 0) AS n_changed FROM rounds
          LEFT JOIN (SELECT k, count(*) AS cnt FROM chg GROUP BY k) c
            ON c.k = round),
        steps AS (
          SELECT v, k AS k_from,
            coalesce(lead(k) OVER (PARTITION BY v ORDER BY k), 1000000)
              AS k_to, label
          FROM lab WHERE prev IS NULL OR label < prev),
        comp AS (
          SELECT round, count(distinct s.label) AS n_components
          FROM rounds JOIN steps s
            ON s.k_from <= round AND round < s.k_to
          GROUP BY round)
        SELECT cast(c.round as bigint) AS round,
          cast(c.n_changed as bigint) AS n_changed,
          cast(p.n_components as bigint) AS n_components
        FROM census c JOIN comp p USING (round)
        ORDER BY c.round""")),

    // ------------------------------------------------------------------
    // k-TRUSS peeled to an ACTUAL FIXPOINT with certificate — g11's
    // trajectory caveat fully retired: the same per-round peel (one
    // degree-ordered O(m^1.5) wedge pass + edge-keyed semi join, k=10)
    // iterated until no edge drops, emitting the full census (round,
    // edges_before, edges_after) whose LAST row has before == after —
    // the converged 10-truss a production run can trust without
    // knowing the iteration budget. sf0.01: 8 rounds, 115.7k → 4974
    // edges, a real non-empty truss; sf0.1: 3 rounds to a 62k-edge
    // truss (the denser graph peels faster). Fixpoints are
    // round-count independent, so the oracle unrolls a FIXED 12
    // levels (margin over the measured 8) and emits rows only up to
    // the first no-change round — identical to the run-to-fixpoint
    // loop whenever convergence lands within the unroll, and an
    // empty-result loud failure (never a silent wrong answer) if the
    // data ever shifts convergence past it. Per-round edge frames are
    // materialized (Catalog.mat, disk dial); counts are driver
    // scalars (g01's convention); rounds past convergence cost
    // nothing — the loop stops at the certificate.
    // ------------------------------------------------------------------
    "g16_ktruss_fixpoint" -> Q(
      (s, d) => {
        val kk = 10
        var cur = coPurchaseEdges(s, d, canonical = true)
          .pipe(mat)
        var before = cur.count()
        val census = scala.collection.mutable.ArrayBuffer.empty[
          (Int, Long, Long)]
        val maxIter = 30
        var r = 0
        var converged = false
        while (!converged && r < maxIter) {
          r += 1
          val support = orientedTrianglesOf(cur)
            .select(explode(array(
              struct(least(col("u"), col("v")).as("a"),
                greatest(col("u"), col("v")).as("b")),
              struct(least(col("u"), col("w")).as("a"),
                greatest(col("u"), col("w")).as("b")),
              struct(least(col("v"), col("w")).as("a"),
                greatest(col("v"), col("w")).as("b")))).as("e"))
            .select(col("e.a").as("a"), col("e.b").as("b"))
            .groupBy(col("a"), col("b"))
            .agg(count(lit(1)).as("sup"))
          val nxt = cur.join(
            support.filter(col("sup") >= kk - 2)
              .select(col("a"), col("b")),
            Seq("a", "b"), "left_semi")
            .pipe(mat)
          val after = nxt.count()
          census += ((r, before, after))
          converged = after == before
          cur = nxt
          before = after
        }
        if (!converged)
          throw new IllegalStateException(
            s"g16 did not reach a truss fixpoint within $maxIter rounds")
        import s.implicits._
        census.toSeq.toDF("round", "edges_before", "edges_after")
          .orderBy(col("round"))
      },
      Some {
        val maxUnroll = 12
        val levels = (1 to maxUnroll).map(sqlTrussRound)
          .mkString(",\n        ")
        val cnts = (0 to maxUnroll).map(k =>
          s"SELECT $k AS r, cast(count(*) as bigint) AS n FROM cur$k")
          .mkString("\n          UNION ALL ")
        s"""WITH ${sqlCoPurchaseEdges(canonical = true)},
        cur0 AS MATERIALIZED (SELECT a, b FROM canon),
        $levels,
        cnts AS (
          $cnts),
        pairs AS (
          SELECT a.r AS round, b.n AS edges_before, a.n AS edges_after
          FROM cnts a JOIN cnts b ON b.r = a.r - 1 WHERE a.r >= 1),
        conv AS (SELECT min(round) AS cr FROM pairs
          WHERE edges_before = edges_after)
        SELECT cast(round as int) AS round, edges_before, edges_after
        FROM pairs WHERE round <= (SELECT cr FROM conv)
        ORDER BY round"""
      }),


    // ------------------------------------------------------------------
    // Degree assortativity (Newman 2002) — the structural diagnostic
    // the degree family still lacked: do hubs attach to hubs (r > 0,
    // social-network-like) or to leaves (r < 0, hub-and-spoke /
    // internet-like)? r is the Pearson correlation of endpoint degrees
    // over the 2m DIRECTED pairs of the shared co-purchase graph
    // (both orientations present in the non-canonical builder, which
    // symmetrizes the correlation for free). Everything data-scale is
    // integer-exact: degrees from one edge aggregation, the four
    // Pearson sums (n, Σda, Σda², Σda·db) as exact BIGINTs via two
    // node-keyed degree joins (hash joins at any scale — never a
    // node-scale broadcast), r itself one identical-op-order double
    // expression over the four exact scalars (symmetry makes
    // Sy = Sx, Syy = Sxx, so the textbook five-sum formula collapses).
    // Magnitudes: n·Sxy ≤ 2m·2m·dmax² — int64-safe to m ~ 10⁷ at this
    // graph's dmax, double-exact far beyond (each product is ONE IEEE
    // op on exact inputs).
    // ------------------------------------------------------------------
    "g17_assortativity" -> Q(
      (s, d) => {
        val edges = coPurchaseEdges(s, d)
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val pairs = edges
          .join(deg.select(col("src"), col("deg").as("da")), "src")
          .join(deg.select(col("src").as("dst"), col("deg").as("db")),
            "dst")
        pairs
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("da")).as("sx"),
            sum(col("da") * col("da")).as("sxx"),
            sum(col("da") * col("db")).as("sxy"))
          .select(col("n_pairs"), col("sx"), col("sxx"), col("sxy"),
            ((col("n_pairs").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
              (col("n_pairs").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")))
              .as("assortativity"))
          .orderBy(col("n_pairs"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges() + """,
        deg AS (
          SELECT src, cast(count(*) as bigint) AS deg
          FROM edges GROUP BY 1),
        p AS (
          SELECT da.deg AS da, db.deg AS db
          FROM edges e JOIN deg da ON da.src = e.src
          JOIN deg db ON db.src = e.dst),
        sums AS (
          SELECT cast(count(*) as bigint) AS n_pairs,
            cast(sum(da) as bigint) AS sx,
            cast(sum(da * da) as bigint) AS sxx,
            cast(sum(da * db) as bigint) AS sxy
          FROM p)
        SELECT n_pairs, sx, sxx, sxy,
          (cast(n_pairs as double) * cast(sxy as double) -
            cast(sx as double) * cast(sx as double)) /
          (cast(n_pairs as double) * cast(sxx as double) -
            cast(sx as double) * cast(sx as double)) AS assortativity
        FROM sums ORDER BY n_pairs""")),


    // ------------------------------------------------------------------
    // Local clustering coefficient, top-20 densest ego-nets — the
    // NODE-level face of g02's global triangle count (Watts-Strogatz
    // c_v = 2·tri(v) / (deg(v)·(deg(v)−1)); a recommender reads it as
    // "parts whose co-purchase neighborhoods are themselves cliques").
    // Per-node triangle attribution reuses the degree-ordered oriented
    // enumeration (one Generate over the triangle rows — the g02
    // shape), joined to the undirected degree census; c_v is ONE
    // double ratio of exact integers, so the ranking (c DESC, deg
    // DESC, id) is deterministic and the oracle replays it verbatim.
    // deg ≥ 2 filters the undefined denominator. Scale shape: g02's
    // O(m^1.5) wedge bound + one node-keyed join — nothing new
    // shuffles at data scale.
    // ------------------------------------------------------------------
    "g18_local_clustering" -> Q(
      (s, d) => {
        val tri = orientedTriangles(s, d)
          .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("tri"))
        val canon = coPurchaseEdges(s, d, canonical = true)
        val deg = canon.select(col("a").as("id"))
          .union(canon.select(col("b").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        deg.join(tri, Seq("id"), "left")
          .select(col("id"), col("deg"),
            coalesce(col("tri"), lit(0L)).as("tri"))
          .filter(col("deg") >= 2)
          .withColumn("clustering",
            (lit(2.0) * col("tri").cast("double")) /
              (col("deg") * (col("deg") - 1)).cast("double"))
          .orderBy(col("clustering").desc, col("deg").desc, col("id"))
          .limit(20)
          .select(col("id").as("part_id"), col("deg"), col("tri"),
            col("clustering"))
      },
      Some("""WITH """ + sqlCoPurchaseEdges(canonical = true) + ",\n        " +
          sqlOrientedTriangles("canon") + """,
        tric AS (
          SELECT id, cast(count(*) as bigint) AS tri FROM (
            SELECT u AS id FROM tri
            UNION ALL SELECT v AS id FROM tri
            UNION ALL SELECT w AS id FROM tri) z
          GROUP BY id)
        SELECT d.id AS part_id, d.deg,
          cast(coalesce(t.tri, 0) as bigint) AS tri,
          (2.0 * cast(coalesce(t.tri, 0) as double)) /
            cast(d.deg * (d.deg - 1) as double) AS clustering
        FROM deg d LEFT JOIN tric t ON t.id = d.id
        WHERE d.deg >= 2
        ORDER BY clustering DESC, d.deg DESC, d.id LIMIT 20""")),

    // ------------------------------------------------------------------
    // g19: NEIGHBORHOOD FUNCTION via KMV sketches — the HyperBall/ANF
    // class: N(t) = Σ_v |ball(v, t)| estimated for EVERY node at once
    // by iterating tiny per-node sketches instead of materializing
    // balls. Sketch(v, t) = the k smallest 1+(h60 mod (P-1)) hashes
    // (range [1, P-1] — never 0, so the estimator's div is total)
    // over ball(v, t); one union round per hop: each node folds its own
    // sketch with its out-neighbors' (k·(deg+1) values through a hash
    // agg — edge-linear, node-state k·8 B, NO ball materialization,
    // which is what makes the curve computable at 100 TB where exact
    // balls are quadratic). Estimate per node: exact size below k,
    // else (k−1)·P div kth-min — pure INTEGER math so the census sums
    // deterministically (a double estimate sum would be
    // partition-order-dependent). The oracle pays the quadratic price
    // the sketch avoids: recursive ball expansion (g12's CTE), k-th
    // smallest per (t, node) by window rank, same integer formula —
    // exact at every t where balls stay under k, estimate-identical
    // above it (same hashes, same kth-min). 32212254705 = (k−1)·P =
    // 15 · (2^31 − 1).
    // ------------------------------------------------------------------
    "g19_neighborhood_kmv" -> Q(
      (s, d) => {
        val k = 16
        val hops = 3
        val p = 2147483647L
        val edges = mat(
          weightedEdges(s, d).select(col("src"), col("dst")))
        val nodes = edges.select(col("src").as("id")).distinct()
        // hashes live in [1, P-1]: 1 + (h60 mod (P-1)) — a raw
        // h60 mod P could be 0, and a zero kth-min would make the
        // estimator's integer div NULL in Spark (non-ANSI) but ERROR
        // in DuckDB, a latent engine divergence
        var sk = mat(nodes.select(col("id"),
          array(lit(1L) + pmod(graft.functions.PortableHash.h60col(
            concat(lit("nf_"), col("id"))), lit(p - 1))).as("sk")))
        def census(t: Int, skT: DataFrame): DataFrame = skT
          .select(expr(s"case when size(sk) < $k then " +
            s"cast(size(sk) as bigint) else " +
            s"32212254705 div element_at(sk, $k) end").as("est"),
            (size(col("sk")) === k).as("sat"))
          .agg(lit(t).as("t"), count(lit(1)).as("n_nodes"),
            count(when(col("sat"), 1)).as("n_saturated"),
            sum(col("est")).as("nf_est"))
        var out = census(0, sk)
        for (t <- 1 to hops) {
          val neighbor = edges.join(sk, edges("dst") === sk("id"))
            .select(edges("src").as("id"), col("sk"))
          sk = mat(neighbor.unionAll(sk)
            .select(col("id"), explode(col("sk")).as("h"))
            .groupBy(col("id"))
            .agg(slice(array_sort(collect_set(col("h"))), 1, k)
              .as("sk")))
          out = out.unionAll(census(t, sk))
        }
        out.orderBy(col("t"))
      },
      Some(s"""WITH $sqlWeightedEdges,
        nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
        r AS MATERIALIZED (
          WITH RECURSIVE r(v, id, dd) AS (
            SELECT id, id, 0 FROM nodes
            UNION
            SELECT r.v, e.dst, r.dd + 1 FROM r JOIN edges e
              ON e.src = r.id WHERE r.dd < 3)
          SELECT v, id, min(dd) AS dd FROM r GROUP BY 1, 2),
        hashes AS (
          SELECT v, dd,
            1 + ${graft.functions.PortableHash.h60Sql("'nf_' || id")}
              % 2147483646 AS h
          FROM r),
        exp AS (
          SELECT t.t, b.v, b.h
          FROM hashes b JOIN (VALUES (0), (1), (2), (3)) t(t)
            ON b.dd <= t.t),
        rk AS (
          SELECT t, v, h,
            row_number() OVER (PARTITION BY t, v ORDER BY h) AS rn,
            count(*) OVER (PARTITION BY t, v) AS nb
          FROM (SELECT DISTINCT t, v, h FROM exp)),
        est AS (
          SELECT t, v, max(nb) AS nb,
            max(CASE WHEN rn = 16 THEN h END) AS hk
          FROM rk GROUP BY 1, 2)
        SELECT cast(t as int) AS t,
          cast(count(*) as bigint) AS n_nodes,
          cast(count(*) FILTER (WHERE nb >= 16) as bigint)
            AS n_saturated,
          cast(sum(CASE WHEN nb < 16 THEN nb
            ELSE 32212254705 // hk END) as bigint) AS nf_est
        FROM est GROUP BY 1
        ORDER BY t""")),

    // ------------------------------------------------------------------
    // g20: common-neighbor RECOMMENDATION ("customers who bought this
    // also bought") — for part pairs NOT directly co-purchased, count
    // shared co-purchase neighbors; the top pairs are the classic
    // link-prediction recommendations. The naive form is all-2-hop-
    // pairs (quadratic in hub degree — the scale killer); the shipped
    // shape caps each node's adjacency to its TOP-8 neighbors by
    // (weight desc, dst) BEFORE wedge generation, so the wedge count
    // is ≤ 64·nodes (edge-linear) and hub fan-out is bounded by
    // construction — the degree-capped candidate generation every
    // production item-to-item recommender runs (Amazon's item-CF
    // paper's shape). Wedges (a —m— b) group to common-neighbor
    // counts, an anti-join drops already-connected pairs, and the
    // top-20 by (cn desc, a, b) is the deterministic answer frame.
    // TopKPerKey's window rewrite handles the per-node cap (rank ≤ 8
    // over a node-partitioned window — key-partitioned, never
    // global).
    // ------------------------------------------------------------------
    "g20_common_neighbor_recs" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val M = 8
        val edges = mat(
          weightedEdges(s, d).select(col("src"), col("dst"), col("w")))
        val capped = edges
          .withColumn("rk", row_number().over(Window
            .partitionBy(col("src"))
            .orderBy(col("w").desc, col("dst"))))
          .filter(col("rk") <= M)
          .select(col("src"), col("dst"))
        val wedges = capped.select(col("src").as("a"), col("dst").as("m"))
          .join(capped.select(col("src").as("m"), col("dst").as("b")),
            Seq("m"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("cn"))
        wedges
          .join(edges.select(col("src").as("a"), col("dst").as("b")),
            Seq("a", "b"), "left_anti")
          .orderBy(col("cn").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH """ + sqlWeightedEdges + """,
        capped AS (
          SELECT src, dst FROM (
            SELECT src, dst,
              row_number() OVER (PARTITION BY src
                ORDER BY w DESC, dst) AS rk
            FROM edges)
          WHERE rk <= 8),
        wedges AS (
          SELECT x.src AS a, y.dst AS b, cast(count(*) as bigint) AS cn
          FROM capped x JOIN capped y ON x.dst = y.src
          WHERE x.src < y.dst
          GROUP BY 1, 2)
        SELECT w.a, w.b, w.cn
        FROM wedges w
        WHERE NOT EXISTS (
          SELECT 1 FROM edges e WHERE e.src = w.a AND e.dst = w.b)
        ORDER BY w.cn DESC, w.a, w.b
        LIMIT 20"""))
  )
}
