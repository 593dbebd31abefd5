package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Catalog._

/** Training-data pipeline operators over `documents` and `embeddings`:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding cosine), similarity search (brute-force + LSH-bucketed
  * ANN), and text analysis (token stats, quality scoring, language ID,
  * fingerprinting).
  *
  * Scale posture: everything row-local runs as codegen'd higher-order
  * functions (transform/aggregate/filter) — no UDFs, no driver loops.
  * Pairwise stages never do data × data cross joins at scale: MinHash/
  * SimHash/LSH band-bucket joins produce candidates first; the exact
  * all-pairs variants exist for oracle verification on the bounded
  * document corpus (500 docs — the corpus does not grow with sf).
  */
object TextOps {

  /** Whitespace-token array (both-engine-reproducible normalization). */
  private[graft] def words(c: Column): Column =
    split(regexp_replace(c, "^\\s+|\\s+$", ""), "\\s+")

  /** Distinct 3-word shingles — the dedup feature set. Word *sets* are
    * useless on a small vocabulary (every doc shares most words);
    * position-bearing shingles discriminate real near-duplicates.
    */
  def shingles3(wordsCol: Column): Column =
    // guard: sequence(0, n-3) on n<3 DESCENDS ([0,-1]) instead of being
    // empty, driving element_at to index 0 → error. Short docs get an
    // empty shingle set.
    when(size(wordsCol) >= 3,
      array_distinct(transform(sequence(lit(0), size(wordsCol) - 3), i =>
        concat_ws(" ", element_at(wordsCol, i + 1),
          element_at(wordsCol, i + 2), element_at(wordsCol, i + 3)))))
      .otherwise(array().cast("array<string>"))

  private[queries] def docs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")

  /** x57's deterministic 10% eval holdout over a doc-id column — ONE
    * definition shared by the batch census and
    * [[graft.streaming.DecontamStream]] (h60 doc-hash,
    * DuckDB-rederivable).
    */
  private[graft] def evalHoldout(docId: Column): Column =
    pmod(graft.functions.PortableHash.h60col(
      concat(lit("x57_"), docId)), lit(100L)) >= 90

  /** The contamination fingerprints of x15, x57, p01, p02 and
    * [[graft.streaming.DecontamStream]]: the DISTINCT 8-word-grams of a
    * pre-tokenized word array, empty when it holds fewer than 8 words
    * (pass an ALIASED toks column — the expression references it
    * repeatedly).
    */
  private[graft] def grams8(toks: Column): Column =
    when(size(toks) >= 8,
      array_distinct(transform(sequence(lit(0), size(toks) - 8), i =>
        concat_ws(" ", (0 until 8).map(o =>
          element_at(toks, i + o + 1)): _*))))
      .otherwise(array().cast("array<string>"))

  /** documents with the shingle set materialized as a column.
    *
    * The intermediate `toks` projection is load-bearing: without it the
    * `split()` expression inlines into every `element_at` of shingles3
    * and the regex tokenization re-runs per shingle element — O(n²·regex)
    * per row (observed as a 100× slowdown). A multiply-referenced,
    * non-cheap alias survives CollapseProject, so `toks` is evaluated
    * once per row.
    */
  /** (doc_id, w=shingle set) for any (doc_id, text) frame — the
    * document-frame-agnostic form ([[graft.streaming.DedupStream]]
    * shingles per-micro-batch frames through the same definition).
    */
  private[graft] def shinglesOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"), words(col("text")).as("toks"))
      .select(col("doc_id"), shingles3(col("toks")).as("w"))

  private[queries] def docShingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(docs(s, d))

  /** DuckDB twin of the bounded all-pairs Jaccard over [[docShingles]]
    * (d02, d07, d09: the first 1000 docs): CTEs `t0(doc_id, w)`,
    * `sh(doc_id, w)` and `prs(doc_a, doc_b, jaccard)` with
    * jaccard ≥ 0.4.
    */
  private[queries] val sqlAllPairsJaccard: String = """t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents WHERE doc_id < 1000),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0),
        prs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            cast(len(list_intersect(a.w, b.w)) as double) /
              cast(len(list_distinct(list_concat(a.w, b.w))) as double) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE cast(len(list_intersect(a.w, b.w)) as double) /
                cast(len(list_distinct(list_concat(a.w, b.w))) as double) >= 0.4)"""

  private[queries] def emb(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")

  // --- incremental-dedup shared pieces (d14 in-session / d16 stored) ---

  /** LSH band hashes of a MinHash signature: band i folds its
    * rowsPerBand signature rows with the portable acc·FoldBase+v mod P
    * fold (DuckDB-rederivable). One definition for d14/d16 so the two
    * incremental-dedup postures cannot drift.
    */
  private[queries] def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), bi =>
      aggregate(
        slice(sig, bi * rowsPerBand + 1, lit(rowsPerBand)),
        lit(0L),
        (acc, v) => pmod(
          acc * graft.functions.PortableHash.FoldBase + v,
          lit(graft.functions.PortableHash.P))))

  /** (doc_id, band, band_hash) rows for a document frame — the LSH
    * band-index representation (16 rows × 16 bytes per doc). Docs with
    * <3 tokens have no shingles (identical empty signatures would
    * collide everywhere) and are excluded, exactly as d03.
    */
  private[graft] def bandIndex(df: DataFrame, bands: Int, rowsPerBand: Int)
      : DataFrame = df
    .select(col("doc_id"), words(col("text")).as("toks"))
    .filter(size(col("toks")) >= 3)
    .withColumn("sig",
      graft.functions.ShingleMinHash.shingleMinhash(col("toks")))
    .select(col("doc_id"),
      posexplode(bandHashes(col("sig"), bands, rowsPerBand)))
    .select(col("doc_id"), col("pos").as("band"), col("col").as("band_hash"))

  /** The candidate→verdict tail shared by d14/d16: exact Jaccard over
    * shingles of CANDIDATE docs only (LSH-bounded; the semi-join +
    * checkpoint keeps the tokenize+shingle scan single — the x21/d08
    * multi-consumer class), per-incoming-doc argmax (jaccard desc,
    * doc_id tiebreak), and an admit/drop verdict row for EVERY
    * incoming doc (n_matches = 0 ⇒ genuinely new).
    */
  private[queries] def lshIncrementalVerdicts(
      s: SparkSession, d: String, cand: DataFrame,
      incoming: Column): DataFrame =
    lshVerdictTail(docShingles(s, d),
      docs(s, d).filter(incoming).select(col("doc_id").as("doc_new")),
      cand)

  /** The frame-agnostic core of the verdict tail: `allShingles` is any
    * (doc_id, w) source covering both candidate sides, `incomingIds`
    * the (doc_new) universe that must each get a verdict row.
    */
  private[graft] def lshVerdictTail(allShingles: DataFrame,
      incomingIds: DataFrame, cand: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val candIds = cand
      .select(explode(array(col("doc_new"), col("doc_idx")))
        .as("doc_id"))
      .distinct()
    val sh = allShingles
      .join(candIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val best = cand
      .join(sh.select(col("doc_id").as("doc_new"), col("w").as("wa")),
        Seq("doc_new"))
      .join(sh.select(col("doc_id").as("doc_idx"), col("w").as("wb")),
        Seq("doc_idx"))
      .withColumn("jaccard",
        size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb"))).cast("double"))
      .filter(col("jaccard") >= 0.4)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_new"))
          .orderBy(col("jaccard").desc, col("doc_idx"))))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy(col("doc_new"))))
      .filter(col("rn") === 1)
      .select(col("doc_new"), col("n_matches"),
        col("doc_idx").as("best_idx"), col("jaccard").as("best_jaccard"))
    incomingIds
      .join(best, Seq("doc_new"), "left")
      .select(col("doc_new"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_idx"), col("best_jaccard"))
      .orderBy(col("doc_new"))
  }

  /** One DuckDB oracle for BOTH incremental-dedup postures — d14 and
    * d16 differ only in where the history band index lives (session
    * checkpoint vs parquet on disk), never in semantics, so the same
    * SQL re-derives signatures, bands, candidates, and verdicts for
    * each.
    */
  private[queries] val incrementalDedupOracle: String =
    """WITH t0 AS (
          SELECT doc_id,
            source IN ('src16','src17','src18','src19') AS inc,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, inc,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3),
        """ + sqlMinhashBands("doc_id, inc") + """,
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_new, r.doc_id AS doc_idx
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_hash = r.band_hash
          WHERE l.inc AND NOT r.inc),
        verified AS (
          SELECT c.doc_new, c.doc_idx,
            cast(len(list_intersect(x.w, y.w)) as double) /
              cast(len(list_distinct(list_concat(x.w, y.w))) as double)
              AS jaccard
          FROM cand c
          JOIN sh x ON x.doc_id = c.doc_new
          JOIN sh y ON y.doc_id = c.doc_idx
          WHERE cast(len(list_intersect(x.w, y.w)) as double) /
                cast(len(list_distinct(list_concat(x.w, y.w))) as double)
                >= 0.4),
        m AS (
          SELECT doc_new, doc_idx, jaccard,
            row_number() OVER (PARTITION BY doc_new
              ORDER BY jaccard DESC, doc_idx) AS rn,
            cast(count(*) OVER (PARTITION BY doc_new) as bigint)
              AS n_matches
          FROM verified),
        inc0 AS (
          SELECT doc_id AS doc_new FROM documents
          WHERE source IN ('src16','src17','src18','src19'))
        SELECT i.doc_new,
          cast(coalesce(m.n_matches, 0) as bigint) AS n_matches,
          m.doc_idx AS best_idx, m.jaccard AS best_jaccard
        FROM inc0 i LEFT JOIN m ON m.doc_new = i.doc_new AND m.rn = 1
        ORDER BY i.doc_new"""

  /** Every embedding with its nearest codebook centroid:
    * `(vec_id, embedding, cent_id)`. The codebook is the deterministic
    * k-vector "training" set (vec_id < k, default 8) collected to a
    * LITERAL array, so assignment is a row-local argmax fold in one
    * projection: zero shuffle, zero row blowup. (The alternative —
    * crossJoin(broadcast) + row_number over Window.partitionBy(vec_id)
    * — shuffles the k×-inflated corpus by vec_id; at 100 TB that
    * exchange IS the job.)
    * Fold iterates cent_id ascending with strict `>`, so ties pick the
    * smallest cent_id — the same selection as a row_number over
    * (csim DESC, cent_id ASC), with bit-identical cosines. Shared by
    * s03 (IVF probe) and d10 (semantic near-dup clustering).
    * Above [[CodebookBroadcastK]] centroids the codebook automatically
    * rides as a one-row BROADCAST relation (data, not plan literals) —
    * same fold, same output, O(1) plan size; see assignToCodebookOf.
    */
  private[queries] def assignToCodebook(s: SparkSession, d: String,
      k: Int = 8): DataFrame = assignToCodebookOf(emb(s, d), k)

  /** DuckDB twin of [[emb]] with norms: CTEs `e(vec_id, v)` (the
    * embedding as doubles) and `n(vec_id, v, nrm)`.
    */
  private[queries] val sqlEmbNorms: String = """e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)"""

  /** DuckDB twin of [[assignToCodebook]] over [[sqlEmbNorms]]: CTEs
    * `c(cent_id, cv, cnrm)` (the vectors with vec_id < `k`, a SQL
    * expression), `asgn` and `assigned(vec_id, v, nrm, cent_id)`: each
    * vector's nearest centroid by cosine, ties to the smaller cent_id.
    */
  private[queries] def sqlAssignToCodebook(k: String = "8"): String =
    s"""c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $k),
        asgn AS (
          SELECT vec_id, v, nrm, cent_id,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY list_dot_product(v, cv) / nrm / cnrm DESC, cent_id)
              AS rn
          FROM n, c),
        assigned AS (SELECT vec_id, v, nrm, cent_id FROM asgn WHERE rn = 1)"""

  /** DuckDB twin of [[nnDescentGraph]]: [[sqlEmbNorms]], `nv(cnt)` and
    * [[sqlAssignToCodebook]] over [[nnDescentReport]]'s cell count
    * (cells of ~64 vectors while cheap, capped at the n^1.5 balance
    * point ceil(sqrt(4n)), never fewer than 8); the init graph
    * `knn0(a, b, cos)` (each node's best 5 of its cell pairs and 3
    * h60-random picks, through `cellpairs`, `rnd0`, `rndsc`, `cellknn`,
    * `pool`, `und`); one descent round to `knn1(a, b, cos)` (through
    * `props` and `nonscored`).
    */
  private[queries] val sqlNnDescentGraph: String = sqlEmbNorms + """,
        nv AS (SELECT count(*) AS cnt FROM n),
        """ + sqlAssignToCodebook(
          "(SELECT greatest(8, least((cnt + 63) // 64, cast(ceil(sqrt(4 * cnt)) as bigint))) FROM nv)") + """,
        cellpairs AS (
          SELECT x.vec_id AS a, y.vec_id AS b,
            list_dot_product(x.v, y.v) / x.nrm / y.nrm AS cos
          FROM assigned x JOIN assigned y ON x.cent_id = y.cent_id
            AND x.vec_id <> y.vec_id),
        rnd0 AS (
          SELECT x.vec_id AS a,
            (x.vec_id + 1 +
             (('0x' || substr(md5('nn_init_' || x.vec_id || '_' || j),
               1, 15))::BIGINT % (nv.cnt - 1))) % nv.cnt AS b
          FROM n x, nv, (SELECT unnest([0, 1, 2]) AS j)),
        rndsc AS (
          SELECT r.a, r.b,
            list_dot_product(x.v, y.v) / x.nrm / y.nrm AS cos
          FROM (SELECT DISTINCT a, b FROM rnd0 WHERE a <> b) r
          JOIN n x ON x.vec_id = r.a
          JOIN n y ON y.vec_id = r.b),
        cellknn AS (
          SELECT a, b, cos FROM (
            SELECT a, b, cos, row_number() OVER (PARTITION BY a
              ORDER BY cos DESC, b) AS rn
            FROM cellpairs) t WHERE rn <= 5),
        pool AS (SELECT a, b FROM cellknn
          UNION SELECT a, b FROM rndsc),
        und AS (SELECT a AS m, b AS x FROM pool
          UNION SELECT b, a FROM pool),
        knn0 AS (
          SELECT a, b, cos FROM (
            SELECT a, b, cos, row_number() OVER (PARTITION BY a
              ORDER BY cos DESC, b) AS rn
            FROM (SELECT * FROM cellpairs UNION ALL
                  SELECT * FROM rndsc) u0) t WHERE rn <= 5),
        props AS (
          SELECT DISTINCT p.x AS a, q.x AS b
          FROM und p JOIN und q ON p.m = q.m AND p.x <> q.x
          JOIN assigned ax ON ax.vec_id = p.x
          JOIN assigned ay ON ay.vec_id = q.x
          WHERE ax.cent_id <> ay.cent_id
            AND NOT EXISTS (SELECT 1 FROM rndsc k
              WHERE k.a = p.x AND k.b = q.x)),
        nonscored AS (
          SELECT p.a, p.b,
            list_dot_product(x.v, y.v) / x.nrm / y.nrm AS cos
          FROM props p
          JOIN n x ON x.vec_id = p.a
          JOIN n y ON y.vec_id = p.b),
        knn1 AS (
          SELECT a, b, cos FROM (
            SELECT a, b, cos, row_number() OVER (PARTITION BY a
              ORDER BY cos DESC, b) AS rn
            FROM (SELECT * FROM knn0 UNION ALL
                  SELECT * FROM nonscored) u) t
          WHERE rn <= 5)"""

  /** Default centroid count above which [[assignToCodebookOf]] ships
    * the codebook as a one-row BROADCAST relation instead of plan
    * literals (its `broadcastAbove`). Below it the literal fold wins
    * (no broadcast exchange, constant-folded centroids); above it the
    * plan would carry k·dim literal nodes — at s15's corpus-sized
    * kCells = ⌈n/64⌉ that is ~78 k literals at 100× sf0.1 and the
    * PLAN itself (analysis, codegen source) becomes the driver
    * bottleneck. 2048 ≈ 65 k literal leaves at dim 32, the last
    * comfortable size; the ×100 century corpus (kCells ≈ 3125)
    * crosses it and takes the broadcast path in anger.
    */
  final val CodebookBroadcastK = 2048

  /** Frame-agnostic form of the row-local codebook cell assignment
    * (centroids = the first k vec_ids, s03's convention) — s15's spec
    * runs it on a clustered fixture frame.
    *
    * Two plan shapes, ONE semantics (bit-identical output, proved in
    * QueriesSpec): the fold iterates cent_id ascending with strict
    * `>`, ties pick the smallest cent_id, and the per-row work is a
    * zero-shuffle argmax either way. Small k bakes the codebook into
    * the plan as a literal array; k > `broadcastAbove` ships it
    * as DATA — one array_sort'd collect_list row, crossJoin(broadcast)
    * — so plan size stays O(1) in k. (d12 goes one step further with
    * a two-level coarse→fine broadcast codebook, O(√k) dots per row;
    * that changes the assignment to an approximation, so here — where
    * s15's oracle replays the exact argmax — the broadcast form keeps
    * the flat fold.)
    */
  private[graft] def assignToCodebookOf(base: DataFrame, k: Int,
      broadcastAbove: Int = CodebookBroadcastK): DataFrame = {
    val cents = base.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
    def fold(cb: Column): Column =
      aggregate(cb,
        struct(lit(-2.0).as("sim"), lit(-1L).as("cent_id")),
        (acc, c) => {
          val sim = cosine(col("embedding"), c.getField("ce"))
          when(sim > acc.getField("sim"),
            struct(sim.as("sim"),
              c.getField("cent_id").as("cent_id")))
            .otherwise(acc)
        }).getField("cent_id").as("cent_id")
    if (k <= broadcastAbove) {
      val centArr = array(
        cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Any](1)))
          .sortBy(_._1)
          .map { case (id, v) =>
            // lit() on the runtime element type: the codebook frame
            // may carry float (parquet) or double (derived) embeddings
            struct(lit(id).as("cent_id"),
              array(v.map(x => lit(x)).toIndexedSeq: _*).as("ce"))
          }.toIndexedSeq: _*)
      base.select(col("vec_id"), col("embedding"), fold(centArr))
    } else {
      // codebook as data: array_sort on (unique cent_id, ce) structs
      // restores the literal path's ascending-cent_id fold order
      // regardless of collect_list's arrival order
      val codebook = cents
        .agg(array_sort(collect_list(struct(col("cent_id"), col("ce"))))
          .as("cb"))
      base.crossJoin(broadcast(codebook))
        .select(col("vec_id"), col("embedding"), fold(col("cb")))
    }
  }

  /** NN-descent k-NN-graph stage report (s15; Dong, Moses & Li, WWW
    * 2011). Init = within-IVF-cell top-k UNION `nRand` deterministic
    * pseudo-random cross-corpus edges per node (h60-derived, DuckDB-
    * rederivable — random init is what lets descent ESCAPE the cell
    * blocking: a cell-local graph's neighbors-of-neighbors never leave
    * the cell). One descent round runs the paper's LOCAL JOIN — every
    * node introduces all pairs of its undirected B∪R pool
    * neighborhood — scores only cross-cell proposals not already paid
    * for, and re-selects top-k from everything scored. Output: one
    * row per stage with the pair-scoring bill and recall@k hits on the
    * first `nProbes` nodes vs exact ground truth (bounded scan).
    * Requires contiguous vec_ids 0..n-1 (the random-edge modulus); at
    * scale an id-assignment pass (zipWithIndex) provides this.
    */
  /** The NN-descent graph stages, factored from [[nnDescentReport]] so
    * the graph-SEARCH operator (s25) traverses the same k-NN graph the
    * report grades: `knn1` is the post-descent directed top-k edge
    * list (a, b, cos); the earlier stages ride along for the report's
    * scoring bill.
    */
  private[graft] final case class NnGraph(asg: DataFrame,
      cellPairs: DataFrame, rndScored: DataFrame, knn0: DataFrame,
      nonScored: DataFrame, knn1: DataFrame, kCells: Int, k: Int)

  private[graft] def nnDescentGraph(base: DataFrame, nCents: Int,
      nRand: Int = 3, k: Int = 5,
      broadcastAbove: Int = CodebookBroadcastK): NnGraph = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableHash.h60col
    // metadata-scale driver scalar (g01's iterative-action convention)
    val n = base.count()
    // cells sized to the corpus, floored at nCents, with BOTH failure
    // modes bounded: a FIXED cell count makes within-cell pairs n²/k
    // (measured 26× on a ×10 decade at k=8), while ⌈n/64⌉ cells make
    // the flat argmax ASSIGNMENT n·k = n²/64 (measured: century s15
    // 434 s, 32× on ×10 — assignment-dominated). min(⌈n/64⌉, ⌈√(4n)⌉)
    // takes ~64-vector cells while they're cheap and pins the total
    // init work at the n^1.5 balance point beyond (assignment n·2√n,
    // pairs n·√n/2 — the "production sizes cells ~√n" posture run for
    // real). Identical formula in the oracle; at every oracle-checked
    // sf it still evaluates to the old value. Past `broadcastAbove`
    // centroids assignToCodebookOf additionally switches to the
    // broadcast-relation codebook so the PLAN stays O(1) in k.
    val kCells = math.max(nCents, math.min((n + 63) / 64,
      math.ceil(math.sqrt(4.0 * n)).toLong).toInt)
    // Round 17 (guide §1.2 — cut per-stage job latency): four of the
    // five localCheckpoints here were EAGER jobs of scheduling
    // overhead (the bench's 8-core total matched its 32-core total —
    // latency-bound); converting them to lazy persist() keeps the
    // compute-once sharing (every reference is an InMemoryTableScan)
    // while the whole graph build executes inside ONE consuming job.
    // asg KEEPS the eager row-block checkpoint: it carries the
    // embedding ARRAY column to 6+ consumers, and persist()'s columnar
    // cache pays array encode/decode per reference (measured: an
    // all-persist variant regressed 3.1 → 4.5 s). The downstream
    // frames are scalar-only — columnar caching of those is cheap.
    val asg = assignToCodebookOf(base, kCells, broadcastAbove)
      .localCheckpoint()
    val ea = asg.select(col("cent_id"), col("vec_id").as("a"),
      col("embedding").as("va"))
    val eb = asg.select(col("cent_id"), col("vec_id").as("b"),
      col("embedding").as("vb"))
    val emb2 = asg.select(col("vec_id"), col("embedding"))
    def score(pairs: DataFrame): DataFrame = pairs
      .join(emb2.select(col("vec_id").as("a"),
        col("embedding").as("va")), Seq("a"))
      .join(emb2.select(col("vec_id").as("b"),
        col("embedding").as("vb")), Seq("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .select(col("a"), col("b"), col("cos"))
    val cellPairs = ea.join(eb, Seq("cent_id"))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .select(col("a"), col("b"), col("cos"))
      // three consumers (knn0's union, pool's topK, the report's
      // scoring bill) — share one computation of the n^1.5 pair set
      .persist()
    val rndScored = score(
      asg.select(col("vec_id").as("a"))
        .select(col("a"), explode(sequence(lit(0), lit(nRand - 1)))
          .as("j"))
        .select(col("a"), pmod(col("a") + 1 +
          pmod(h60col(concat(lit("nn_init_"), col("a"), lit("_"),
            col("j"))), lit(n - 1)), lit(n)).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      .persist()
    val w = Window.partitionBy(col("a"))
      .orderBy(col("cos").desc, col("b"))
    def topK(scored: DataFrame): DataFrame = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("a"), col("b"), col("cos"))
    // both union inputs descend from the same checkpointed asg
    val knn0 = topK(fresh(cellPairs).union(fresh(rndScored)))
      .persist()
    // Dong et al.'s LOCAL JOIN: the candidate pool keeps the random
    // edges even though their cosine is poor (selecting top-k BEFORE
    // propagating kills exploration — measured 0 recall gain), and
    // every node m introduces all pairs of its UNDIRECTED pool
    // neighborhood (B ∪ R) to each other. Same-cell proposals are
    // already scored by init (cellpairs is exactly the same-cell pair
    // set), so only cross-cell proposals minus the random-scored
    // pairs pay for scoring.
    val pool = fresh(topK(cellPairs).select(col("a"), col("b")))
      .union(fresh(rndScored.select(col("a"), col("b")))).distinct()
      .persist()
    val und = fresh(pool.select(col("a").as("m"), col("b").as("x")))
      .union(fresh(pool.select(col("b").as("m"), col("a").as("x"))))
      .distinct()
    val cells = asg.select(col("vec_id"), col("cent_id"))
    val proposals = und.select(col("m"), col("x").as("a"))
      .join(und.select(col("m").as("m2"), col("x").as("b")),
        col("m") === col("m2"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"))
      .distinct()
      .join(cells.select(col("vec_id").as("a"),
        col("cent_id").as("ca")), Seq("a"))
      .join(cells.select(col("vec_id").as("b"),
        col("cent_id").as("cb")), Seq("b"))
      .filter(col("ca") =!= col("cb"))
      .select(col("a"), col("b"))
      .join(rndScored.select(col("a"), col("b")), Seq("a", "b"),
        "left_anti")
    val nonScored = score(proposals).persist()
    val knn1 = topK(fresh(knn0).union(fresh(nonScored)))
    NnGraph(asg, cellPairs, rndScored, knn0, nonScored, knn1,
      kCells, k)
  }

  private[graft] def nnDescentReport(base: DataFrame, nCents: Int,
      nRand: Int = 3, k: Int = 5, nProbes: Int = 20,
      broadcastAbove: Int = CodebookBroadcastK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = nnDescentGraph(base, nCents, nRand, k, broadcastAbove)
    val emb2 = g.asg.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("cos").desc, col("b"))
    val probes = emb2.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("a"), col("embedding").as("va"))
    val exactK = emb2.select(col("vec_id").as("b"),
        col("embedding").as("vb"))
      .crossJoin(broadcast(probes))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("a"), col("b"))
    def stageRow(stage: String, knn: DataFrame, scoredA: DataFrame,
        scoredB: Option[DataFrame]): DataFrame = {
      val nSc = scoredB match {
        case Some(sb) => scoredA.agg(count(lit(1)).as("na")).crossJoin(
          sb.agg(count(lit(1)).as("nb")))
          .select((col("na") + col("nb")).as("n_scored"))
        case None => scoredA.agg(count(lit(1)).as("n_scored"))
      }
      nSc.crossJoin(
          knn.filter(col("a") < nProbes).join(exactK, Seq("a", "b"))
            .agg(count(lit(1)).as("hits5")))
        .select(lit(stage).as("stage"), col("n_scored"), col("hits5"))
    }
    stageRow("1_init", g.knn0, g.cellPairs, Some(g.rndScored))
      .unionByName(stageRow("2_descent", g.knn1, g.nonScored, None))
      .orderBy(col("stage"))
  }

  /** Greedy beam search over the [[nnDescentGraph]] k-NN graph (s25;
    * the HNSW/DiskANN retrieval posture — navigate the stored graph,
    * don't scan the corpus). Query = vec_id 0. Round 0 scores the
    * kCells IVF centroids (the fixed deterministic entry probe); each
    * of `rounds` rounds picks the beam — the top-`beamW`
    * scored-but-unexpanded nodes (ties by vec_id) — expands their
    * undirected graph neighbors, and scores only never-scored
    * arrivals against the query. Returns the per-round CUMULATIVE
    * scored sets ((round, (vec_id, cos)) — round r's count is the
    * cosine bill so far) plus the exact top-10 ids for recall.
    *
    * Every frame in the loop is beam-scale (≤ beamW·k rows/round):
    * the corpus-scale work is the one-time graph build; the search
    * itself touches O(beamW·k·rounds) vectors via point joins — at
    * 100 TB that is the difference between a query costing an index
    * probe and a query costing a scan.
    */
  private[graft] def graphBeamSearch(base: DataFrame, beamW: Int = 4,
      rounds: Int = 3): (Seq[(Int, DataFrame)], DataFrame) = {
    val g = nnDescentGraph(base, nCents = 8)
    // undirected adjacency of the stored graph (both directions of
    // every knn1 edge), checkpointed once — rounds probe it by
    // broadcast-joining a ≤beamW-row frontier, never rescanning corpus
    val und = fresh(g.knn1.select(col("a").as("m"), col("b").as("x")))
      .union(fresh(g.knn1.select(col("b").as("m"), col("a").as("x"))))
      .distinct().localCheckpoint()
    val emb2 = g.asg.select(col("vec_id"), col("embedding"))
    val q1 = emb2.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    def scoreIds(ids: DataFrame): DataFrame = ids
      .join(emb2, Seq("vec_id"))
      .crossJoin(broadcast(q1))
      .withColumn("cos", cosine(col("embedding"), col("qe")))
      .select(col("vec_id"), col("cos"))
    // round 0: the entry probe — ALL kCells centroids scored (the
    // honest bill: they ARE cosine evaluations). The query node
    // itself stays TRAVERSABLE (its graph neighbors are exactly the
    // region the search must reach — excluding it from the probe sent
    // the beam into the wrong cluster, recall 0 on the clustered
    // fixture); it is excluded from the RESULTS, never the walk.
    var scored = scoreIds(emb2
      .filter(col("vec_id") < g.kCells)
      .select(col("vec_id"))).localCheckpoint()
    var expanded = emb2.select(col("vec_id")).filter(lit(false))
      .localCheckpoint()
    val snaps =
      scala.collection.mutable.ArrayBuffer[(Int, DataFrame)]((0, scored))
    for (r <- 1 to rounds) {
      val frontier = scored
        .join(expanded, Seq("vec_id"), "left_anti")
        .orderBy(col("cos").desc, col("vec_id")).limit(beamW)
        .select(col("vec_id")).localCheckpoint()
      val neigh = und
        .join(broadcast(frontier), col("m") === col("vec_id"))
        .select(col("x").as("vec_id")).distinct()
      val arrivals = neigh
        .join(scored.select(col("vec_id")), Seq("vec_id"), "left_anti")
      scored = fresh(scored).union(fresh(scoreIds(arrivals)))
        .localCheckpoint()
      expanded = fresh(expanded).union(fresh(frontier))
        .localCheckpoint()
      snaps += ((r, scored))
    }
    val truth = scoreIds(emb2.filter(col("vec_id") =!= 0)
      .select(col("vec_id")))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
      .select(col("vec_id")).localCheckpoint()
    (snaps.toSeq, truth)
  }

  /** Fingerprint-sharing candidate pairs from exploded (doc_id, fp)
    * rows, WITHOUT a self-join: group the doc list per fingerprint,
    * prune hot fingerprints, and expand each surviving list's ordered
    * pairs row-locally. One shuffle on fp + one on the pair key; the
    * expensive fingerprint computation runs exactly once (a self-join
    * re-evaluates the input subtree per side once AQE broadcasts one of
    * them — non-identical exchanges don't reuse).
    *
    * A fingerprint shared by k documents yields k² candidate pairs, and
    * boilerplate (license headers, templates) makes hot fingerprints
    * common in real corpora — so fingerprints with document frequency
    * > `maxDf` are dropped (df-style pruning: a near-universal
    * fingerprint carries no near-dup signal anyway), which also bounds
    * the expansion blowup and the pair-skew a single hot key would
    * otherwise concentrate on one reducer.
    */
  def winnowCandidatePairs(exploded: DataFrame, minShared: Int = 8,
      maxDf: Int = 1000): DataFrame =
    exploded
      .groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
      // ordered-pair expansion as two chained Generates + a filter —
      // all whole-stage codegen. (The nested transform/filter/struct
      // lambda tower produced the same df² rows but ran interpreted:
      // ~10 s of pure lambda-frame overhead at sf0.1; this form is
      // sub-second for the same output.)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_b") > col("doc_a"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  // round 16: the trailing .orderBy(doc_a, doc_b) was dropped — every
  // catalog query ends in its OWN deterministic ORDER BY (the repo
  // invariant), so the helper's sort was a pure range-exchange + sort
  // paid by all 10+ callers and then re-sorted (or ignored by CC /
  // keep-list aggregation) downstream. No consumer is order-sensitive:
  // collect_list callers all array_sort (grep-audited), the rest are
  // joins/aggregates. Full-catalog oracle sweep re-verified.

  /** d08's inverted-index exact near-dup pipeline, factored for reuse
    * (d08 = these pairs ordered; d11 = these pairs joined with the x17
    * split): (doc_a, doc_b, jaccard) with jaccard ≥ 0.4 over the
    * df-pruned shingle universe.
    *
    * Shapes that matter at 100 TB (measured rationale in the scaladoc
    * of winnowCandidatePairs and the d08 query comment):
    * - FAST generate shape — explode of the shingle EXPRESSION over a
    *   once-aliased token array; exploding an aliased expensive array
    *   column re-evaluates the array per OUTPUT ELEMENT (~50× here,
    *   35 s vs 0.6 s at sf0.1).
    * - df-cap as a count over a window BY fp, not a groupBy+join-back:
    *   AQE broadcasts the small df side of that join, so the two posts
    *   subtrees get non-identical exchanges and the expensive shingle
    *   generate runs once per side. The window form gives BOTH
    *   downstream consumers (sizes, pair expansion) the same
    *   hash-partitioning-by-fp exchange over the same subtree, which
    *   ReuseExchange dedupes — the tokenize+shingle scan runs exactly
    *   once (verified in the final adaptive plan).
    * - jaccard from COUNTS alone: |A∩B| = shared-posting count,
    *   |A∪B| = |A'|+|B'|−|A∩B| — no shingle ARRAY ever rides a
    *   shuffle and there is no verify join carrying sets.
    */
  private[queries] def postingJaccardPairs(s: SparkSession, d: String,
      minJaccard: Double = 0.4): DataFrame =
    postingJaccardPairsFrom(docs(s, d)
      .select(col("doc_id"), words(col("text")).as("toks")), minJaccard)

  /** [[postingJaccardPairs]] over an arbitrary tokenized corpus slice
    * (`doc_id`, `toks`) — what lets p01 run the detector on a
    * PIPELINE STAGE's survivors instead of the raw table. The df≤50
    * cap is then a frequency semantic of the corpus being deduped,
    * which is the composition a real run wants.
    */
  private[queries] def postingJaccardPairsFrom(tokd: DataFrame,
      minJaccard: Double = 0.4): DataFrame = {
    val posts = tokd
      .select(col("doc_id"), explode(shingles3(col("toks"))).as("fp"))
    val okPosts = posts
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("df") <= 50)
      .select(col("doc_id"), col("fp"))
    // |A'|: the doc's shingle count within the df-pruned universe
    val sizes = okPosts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"))
    val shared = winnowCandidatePairs(okPosts, minShared = 1, maxDf = 50)
    shared
      .join(sizes.select(col("doc_id").as("doc_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"),
        col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", col("shared_fps").cast("double") /
        (col("sz_a") + col("sz_b") - col("shared_fps")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** DuckDB twin of [[postingJaccardPairsFrom]], as CTEs over the
    * caller's `from(doc_id, w)` (w = the token array): `sh` (shingle
    * sets), `posts`, `dfc`, `okposts` (df ≤ 50), `sizes`,
    * `shared(doc_a, doc_b, shared_fps)` and `prs(doc_a, doc_b, jaccard)`
    * with jaccard ≥ minJaccard.
    */
  private[queries] def sqlPostingJaccardPairs(from: String = "t0",
      minJaccard: Double = 0.4): String = s"""sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM $from WHERE len(w) >= 3),
        posts AS (SELECT doc_id, unnest(w) AS fp FROM sh),
        dfc AS (SELECT fp, count(*) AS df FROM posts GROUP BY fp),
        okposts AS (
          SELECT p.doc_id, p.fp FROM posts p
          JOIN dfc ON dfc.fp = p.fp AND dfc.df <= 50),
        sizes AS (
          SELECT doc_id, cast(count(*) as bigint) AS sz
          FROM okposts GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            cast(count(*) as bigint) AS shared_fps
          FROM okposts a
          JOIN okposts b ON b.fp = a.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        prs AS (
          SELECT s.doc_a, s.doc_b,
            cast(s.shared_fps as double) /
              cast(x.sz + y.sz - s.shared_fps as double) AS jaccard
          FROM shared s
          JOIN sizes x ON x.doc_id = s.doc_a
          JOIN sizes y ON y.doc_id = s.doc_b
          WHERE cast(s.shared_fps as double) /
                cast(x.sz + y.sz - s.shared_fps as double) >= $minJaccard)"""

  /** DuckDB twin of `ConnectedComponents.components` over the pair
    * relation `prs(doc_a, doc_b)` of [[sqlPostingJaccardPairs]] or
    * [[sqlAllPairsJaccard]]: CTEs `edges`, the recursive transitive
    * closure `reach`, and `ccx(doc_id, cluster)` (cluster = the
    * component's min id; only docs with an edge). Needs
    * `WITH RECURSIVE`.
    */
  private[queries] val sqlDupClusters: String = """edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        ccx AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster
          FROM reach GROUP BY src)"""

  /** Global exclusive prefix offsets over a (doc_id, n) frame — the
    * TWO-LEVEL BLOCK PREFIX SUM that replaces an unpartitioned
    * `Window.orderBy(doc_id)` (a corpus-wide single task) for
    * stream-position arithmetic (x22 vocab growth, x23 sequence
    * packing). Within-block exclusive prefix via a window PARTITIONED
    * by `blk = doc_id div docsPerBlock` (parallel, bounded rows per
    * task); block totals get the global prefix in a second window over
    * ONE ROW PER BLOCK (N/docsPerBlock rows — the only SinglePartition
    * step, metadata-scale by construction); the two add up to the
    * global offset. The caller must pass a CHECKPOINTED metadata-scale
    * counts frame (two prefix consumers would otherwise re-derive it).
    * Returns (doc_id, off).
    */
  private[queries] def streamOffsets(counts0: DataFrame,
      docsPerBlock: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = counts0
      .withColumn("blk", expr(s"doc_id div $docsPerBlock"))
    val blkW = Window.orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkOffs = counts.groupBy(col("blk"))
      .agg(sum(col("n")).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(blkW), lit(0L)))
      .select(col("blk"), col("boff"))
    val inW = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("inoff", coalesce(sum(col("n")).over(inW), lit(0L)))
      .join(broadcast(blkOffs), Seq("blk"))
      .select(col("doc_id"), (col("boff") + col("inoff")).as("off"))
  }

  /** One integer-exact Lloyd update of the per-subspace PQ codebooks:
    * s05's fixed-point k-means applied independently in each of the
    * nSub subDim-wide slices, in ONE distributed pass (not one job per
    * subspace — that would scan the embeddings nSub times). Rows
    * posexplode to (sub, slice); assignment is a row-local argmin
    * against the nSub×k LITERAL seed slices (zero shuffle, ties to the
    * smallest cid — the s05/s06 oracle convention); the update is one
    * (sub, cid, pos)-keyed aggregation whose collect is nSub·k·subDim
    * longs (codebook metadata, the PageRank-style per-round action).
    * Centroid means are `sum div count` — both engines truncate
    * integer division toward zero, so the trained cells are
    * bit-identical to the oracle's `//` re-derivation. Empty cells
    * keep their seed centroid.
    */
  private[queries] def trainPqCodebooks(base: DataFrame, nSub: Int, subDim: Int,
      seeds: Seq[(Long, Seq[Long])])
      : IndexedSeq[IndexedSeq[(Long, IndexedSeq[Long])]] = {
    val seedSlices = IndexedSeq.tabulate(nSub) { sub =>
      seeds.map { case (cid, v) =>
        (cid, IndexedSeq.tabulate(subDim)(j => v(sub * subDim + j)))
      }.toIndexedSeq
    }
    val centsBySub = array(seedSlices.map { subCents =>
      array(subCents.map { case (cid, cv) =>
        struct(lit(cid).as("cid"), array(cv.map(lit(_)): _*).as("cv"))
      }: _*)
    }: _*)
    val rows = base
      .select(col("qv"), explode(sequence(lit(0), lit(nSub - 1))).as("sub"))
      .select(col("sub"),
        slice(col("qv"), col("sub") * lit(subDim) + lit(1),
          lit(subDim)).as("sv"))
    val assigned = rows.select(col("sub"), col("sv"),
      aggregate(element_at(centsBySub, col("sub") + 1),
        struct(lit(Long.MaxValue).as("dist"), lit(-1L).as("cid")),
        (acc, c) => {
          val dist = aggregate(zip_with(col("sv"), c.getField("cv"),
            (a, b) => (a - b) * (a - b)), lit(0L), (s2, x) => s2 + x)
          when(dist < acc.getField("dist"),
            struct(dist.as("dist"), c.getField("cid").as("cid")))
            .otherwise(acc)
        }).getField("cid").as("cid"))
    val means = assigned
      .select(col("sub"), col("cid"),
        posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("c"))
      .collect()
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getInt(2), r.getLong(3))))
      .groupBy(_._1)
      .map { case (key, rs) =>
        key -> rs.map(_._2).sortBy(_._1).map(_._2).toIndexedSeq
      }
    IndexedSeq.tabulate(nSub) { sub =>
      seedSlices(sub).map { case (cid, cv) =>
        cid -> means.getOrElse((sub, cid), cv)
      }
    }
  }

  /** DuckDB twin of [[trainPqCodebooks]] (8 subspaces of 8 dims): one
    * integer Lloyd update of the seed codebooks `cb0(sub, cid, cv)`
    * over the relation `vecs` (vec_id and the 64-dim integer list
    * column `v`): `a1` (each vector's nearest seed per subspace),
    * `s1`, `c1l`, and the trained `cb(sub, cid, cv)`, where a seed
    * with no members keeps its slice.
    */
  private[queries] def sqlTrainPqCodebooks(vecs: String, v: String): String =
    s"""a1 AS MATERIALIZED (
          SELECT vec_id, sub, cid FROM (
            SELECT x.vec_id, c.sub, c.cid,
              row_number() OVER (PARTITION BY x.vec_id, c.sub ORDER BY
                list_sum(list_transform(range(1, 9), j ->
                  (x.$v[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]) *
                  (x.$v[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]))),
                c.cid) AS rn
            FROM $vecs x, cb0 c) x WHERE rn = 1),
        s1 AS (
          SELECT a.sub, a.cid, p.pos,
            cast(sum(x.$v[cast(a.sub * 8 + p.pos as int)]) as bigint)
              // cast(count(*) as bigint) AS c
          FROM a1 a JOIN $vecs x ON x.vec_id = a.vec_id,
            (SELECT unnest(range(1, 9)) AS pos) p
          GROUP BY a.sub, a.cid, p.pos),
        c1l AS (SELECT sub, cid, list(c ORDER BY pos) AS cv
          FROM s1 GROUP BY sub, cid),
        cb AS MATERIALIZED (
          SELECT cb0.sub, cb0.cid, coalesce(l.cv, cb0.cv) AS cv
          FROM cb0 LEFT JOIN c1l l
            ON l.sub = cb0.sub AND l.cid = cb0.cid)"""

  /** PII pattern classes, deliberately restricted to syntax shared by
    * Java regex and RE2 (the oracle engine): character classes, bounded
    * repetition, `\b`/`\d` — no lookarounds, no backrefs. Redaction
    * applies them in THIS order (later patterns see earlier
    * replacements), so both engines transform identically.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b")

  /** `text` with every [[piiPatterns]] match replaced by its class tag
    * (`<email>`, …). Row-local codegen'd regexp_replace chain.
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (name, pat)) =>
      regexp_replace(acc, pat, s"<$name>")
    }

  /** Cosine similarity of two float-array columns, computed in double
    * over [[graft.functions.VectorDot]] (a fused codegen'd loop — no
    * UDF, no interpreted lambda frames).
    */
  def cosine(a: Column, b: Column): Column =
    // ONE fused codegen'd loop for all three accumulators — bit-
    // identical to dot(a,b)/sqrt(dot(a,a))/sqrt(dot(b,b)) (parity in
    // FunctionsSpec), but each array element is read once instead of
    // three times (and the broadcast query vector is no longer
    // re-walked twice per corpus row for its constant norm)
    graft.functions.VectorCosine.cosine(a, b)

  /** 64-permutation MinHash signature of a word array with the
    * portable arithmetic of [[graft.functions.PortableHash]]: for
    * permutation i, min over words of (A(i)·(h60(w) mod P)+B(i)) mod P.
    * This is the composable higher-order twin of the fast
    * ShingleMinHash expression (parity-tested in FunctionsSpec) and
    * the exact formula the DuckDB oracles re-derive.
    */
  def minhashSig(wordsCol: Column, k: Int = 64): Column = {
    import graft.functions.PortableHash.{P, h60col, permA, permB}
    val as = typedLit((0 until k).map(permA))
    val bs = typedLit((0 until k).map(permB))
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(wordsCol, w =>
        pmod(element_at(as, i + 1) * pmod(h60col(w), lit(P)) +
          element_at(bs, i + 1), lit(P)))))
  }

  /** DuckDB twin of [[minhashSig]] plus 16×4 [[bandHashes]], as CTEs
    * over the caller's `sh(<keys>, w)` (w = the shingle set): `perms`,
    * `hs`, `sig(<keys>, sig)` and `banded(<keys>, band, band_hash)`.
    * `keys` is the comma list of columns carried through.
    */
  private[queries] def sqlMinhashBands(keys: String): String = s"""perms AS (
          SELECT
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_a_' || i), 1, 15))::BIGINT % 2147483646 + 1) AS pa,
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_b_' || i), 1, 15))::BIGINT % 2147483647) AS pb),
        hs AS (
          SELECT $keys,
            list_transform(w, s ->
              ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h
          FROM sh),
        sig AS (
          SELECT $keys,
            list_transform(range(0, 64), i ->
              list_min(list_transform(h, x ->
                (pa[i+1] * x + pb[i+1]) % 2147483647))) AS sig
          FROM hs, perms),
        banded AS (
          SELECT $keys, b AS band,
            list_reduce(list_prepend(0::BIGINT, sig[b*4+1 : b*4+4]),
              (acc, v) -> (acc * 1000003 + v) % 2147483647) AS band_hash
          FROM sig, range(0, 16) t(b))"""

  /** Column-bits variants of shiftleft/shiftright (the Scala API only
    * accepts literal Int bit counts; the SQL functions accept columns).
    */
  private[queries] def shl(x: Column, bits: Column): Column =
    call_function("shiftleft", x, bits)
  private[queries] def shr(x: Column, bits: Column): Column =
    call_function("shiftright", x, bits)

  /** 60-bit SimHash of a word array: bit b is set iff the sum over
    * words of sign(bit b of h60(word)) is positive — the composable
    * twin of the fast SimHash60 expression and the DuckDB oracle
    * formula (60 portable bits; see SimHash60 docs for why not 64).
    */
  def simhash60(wordsCol: Column): Column =
    aggregate(
      sequence(lit(0), lit(59)),
      lit(0L),
      (acc, b) => {
        val bitSum = aggregate(wordsCol, lit(0),
          (s2, w) => s2 + when(shr(graft.functions.PortableHash.h60col(w), b)
            .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        acc.bitwiseOR(when(bitSum > 0, shl(lit(1L), b)).otherwise(0L))
      })

  /** Shared pipeline of d22/d23: per-doc rewritten corpus after cutting
    * every maximal span covered by a cross-doc 20-gram (Lee et al.'s
    * substring-level dedup, applied rather than just measured as d13
    * does). Returns one row per document with the normalized text `t`,
    * span/char accounting, and the rewritten text `ctext`.
    *
    * Interval merge without an interval self-join: covering intervals
    * all have length L and arrive sorted by start, so two intervals
    * overlap-or-abut iff their starts differ by <= L — the island
    * break is a lag-window flag, the island id a running sum, and the
    * merged span [min start, max start + L - 1] a per-island agg.
    * Kept segments are the complement: a lag window over spans yields
    * the segment BEFORE each span, plus one trailing segment per doc.
    * The rebuild concatenates doc-scale segment arrays row-locally —
    * per-doc state is bounded by document length, never corpus size.
    */
  /** The maximal cross-doc duplicated spans (doc_id, isl, s, e) over a
    * materialized normalized-docs frame — the islands step of
    * [[spanCleanedDocs]], factored out so d29's span-length census
    * shares the one definition (spans cannot drift between the
    * rewrite and the census). Returns a MATERIALIZED frame: it is
    * consumed multiple times by every caller, and unmaterialized the
    * whole gram-posting pipeline (explode + two shuffles + windows)
    * re-executes per consumer (measured 3× in the r10 drain-semantics
    * plan read). Islands-per-doc scale (≪ corpus), so the
    * materialization is cheap at any sf; Catalog.mat honors the
    * DISK_ONLY dial.
    */
  /** `maxDf` (default unbounded) is d30's posting-list cap applied to
    * the span census: a gram shared by more than maxDf docs stops
    * admitting positions. Uncapped, a clone-saturated corpus admits
    * essentially every gram (d29's measured century leg ran char-bound
    * ×140); capped, the census is bounded by construction at the cost
    * of missing spans whose EVERY gram is ultra-common — d29 reports
    * that coverage loss beside the capped census so a 100 TB run
    * chooses with open eyes.
    */
  private[graft] def dupSpans(norm: DataFrame, L: Int = 20,
      maxDf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posts = norm
      .select(col("doc_id"), col("t"),
        posexplode(graft.functions.Winnow.gramHashes(col("t"), L)))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("pos"),
        col("col").as("g"))
    // Round-16 optimization (guide §2.4 — remove shuffles outright).
    // The old shape paid THREE char-scale passes over `posts`: a
    // (doc_id, g) distinct exchange feeding the df census, then a
    // second full exchange of posts by g for the dup-join back. For
    // the default uncapped call (d13/d22/d23), "gram appears in ≥ 2
    // distinct docs" ⟺ min(doc_id) ≠ max(doc_id) over the gram's
    // postings — computable in ONE window over ONE exchange of posts
    // by g (the d08 window-over-fp discipline: both census and filter
    // ride the same exchange, so the gram explode runs exactly once
    // and nothing is joined back). The df-capped path (d29/d30's
    // maxDf) still needs the true distinct-doc count, so it keeps the
    // census + join shape. Both shapes emit identical (doc_id, pos)
    // sets; plan-only change, hashes unchanged (d13/d22/d23 re-⊕).
    // A (doc_id, pos) distinct also vanished from both branches:
    // posexplode emits each position exactly once and the g-census
    // join matches each post row at most once, so the distinct was a
    // pure dedup-of-nothing exchange.
    val dup =
      if (maxDf == Long.MaxValue) {
        val wG = Window.partitionBy(col("g"))
        posts
          .withColumn("mn", min(col("doc_id")).over(wG))
          .withColumn("mx", max(col("doc_id")).over(wG))
          .filter(col("mn") =!= col("mx"))
          .select(col("doc_id"), col("pos"))
      } else {
        val crossg = posts.select(col("doc_id"), col("g")).distinct()
          .groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= maxDf).select(col("g"))
        posts.join(crossg, "g").select(col("doc_id"), col("pos"))
      }
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(wDoc)
    Catalog.mat(dup
      .withColumn("brk",
        when(prev.isNull || col("pos") - prev > L, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(wDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (L - 1)).as("e")))
  }

  /** d29's two span sets (uncapped, df-capped) from ONE gram-df
    * census: the char-scale posting explode feeds a single
    * distinct+count census (materialized at duplicate-gram scale —
    * only df ≥ 2 grams survive the filter, so the cached frame is the
    * duplicate-gram set, not the corpus vocabulary), and both legs
    * derive their admitted-gram list from it. [[dupSpans]] run twice
    * paid the census shuffle twice (SCALE.md priced the second pass
    * at 2.4×); here only the cheap dup-join + per-doc islands differ
    * per leg. The islands logic is dupSpans's verbatim (same L-gap
    * break, same [min, max+L−1] merge), so the uncapped leg stays
    * hash-identical to a plain dupSpans call.
    */
  private[queries] def dupSpansBoth(norm: DataFrame, L: Int,
      maxDf: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val posts = norm
      .select(col("doc_id"), col("t"),
        posexplode(graft.functions.Winnow.gramHashes(col("t"), L)))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("pos"),
        col("col").as("g"))
    val census = Catalog.mat(posts.select(col("doc_id"), col("g"))
      .distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2))
    def spansOf(crossg: DataFrame): DataFrame = {
      val dup = posts.join(crossg, "g")
        .select(col("doc_id"), col("pos")).distinct()
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val prev = lag(col("pos"), 1).over(wDoc)
      Catalog.mat(dup
        .withColumn("brk",
          when(prev.isNull || col("pos") - prev > L, 1).otherwise(0))
        .withColumn("isl", sum(col("brk")).over(wDoc))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("pos")).as("s"),
          (max(col("pos")) + (L - 1)).as("e")))
    }
    (spansOf(census.select(col("g"))),
      spansOf(census.filter(col("df") <= maxDf).select(col("g"))))
  }

  /** The normalized-docs frame [[dupSpans]] and [[spanCleanedDocs]]
    * run over, materialized (consumed by posts + segment joins +
    * the final join — four consumers in the rewrite).
    */
  private[queries] def normDocs(s: SparkSession, d: String): DataFrame =
    Catalog.mat(docs(s, d).select(col("doc_id"),
      regexp_replace(lower(col("text")), "\\s+", " ").as("t")))

  private[queries] def spanCleanedDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 20
    val norm = normDocs(s, d)
    val spans = dupSpans(norm, L)
    val spanAgg = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("removed_chars"),
        max(col("e")).as("last_e"))
    val wS = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    // re-alias union inputs: both sides derive from the same lineage
    // and Union rejects shared exprIds across children
    val segBefore = spans
      .select(col("doc_id"),
        coalesce(lag(col("e"), 1).over(wS) + 1, lit(1L)).as("ks"),
        (col("s") - 1).as("ke"))
      .select(col("doc_id").as("doc_id"), col("ks").as("ks"),
        col("ke").as("ke"))
    val segTail = spanAgg.join(norm, "doc_id")
      .select(col("doc_id").as("doc_id"),
        (col("last_e") + 1).as("ks"),
        length(col("t")).cast("bigint").as("ke"))
    val cleanedDup = segBefore.unionByName(segTail)
      .filter(col("ke") >= col("ks"))
      .join(norm, "doc_id")
      .select(col("doc_id"), col("ks"),
        substring(col("t"), col("ks").cast("int"),
          (col("ke") - col("ks") + 1).cast("int")).as("seg"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("ks"), col("seg")))),
          x => x.getField("seg")), "").as("ct"))
    norm
      .join(spanAgg, Seq("doc_id"), "left")
      .join(cleanedDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        length(col("t")).cast("bigint").as("orig_len"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        when(col("n_spans").isNull, col("t"))
          .otherwise(coalesce(col("ct"), lit(""))).as("ctext"))
      .withColumn("cleaned_len", length(col("ctext")).cast("bigint"))
  }

  /** DuckDB CTE chain re-deriving [[spanCleanedDocs]] ending in a
    * `percleaned` relation (doc_id, t, orig_len, n_spans,
    * removed_chars, ctext, cleaned_len) — shared by d22/d23 oracles.
    */
  private[queries] val spanCleanedSqlCtes: String = """WITH norm AS (
      SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
      FROM documents),
    posts AS (
      SELECT doc_id, i AS pos,
        ('0x' || substr(md5(substr(t, i, 20)), 1, 15))::BIGINT AS g
      FROM norm, LATERAL (SELECT unnest(range(1, length(t) - 20 + 2)) AS i) r
      WHERE length(t) >= 20),
    crossg AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM posts)
      GROUP BY g HAVING count(*) >= 2),
    dup AS (SELECT DISTINCT p.doc_id, p.pos
      FROM posts p JOIN crossg USING (g)),
    isl0 AS (
      SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER w IS NULL
               OR pos - lag(pos) OVER w > 20 THEN 1 ELSE 0 END AS brk
      FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    isl1 AS (
      SELECT doc_id, pos,
        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM isl0),
    spans AS (
      SELECT doc_id, isl, min(pos) AS s, max(pos) + 19 AS e
      FROM isl1 GROUP BY doc_id, isl),
    spanagg AS (
      SELECT doc_id, cast(count(*) as bigint) AS n_spans,
        cast(sum(e - s + 1) as bigint) AS removed_chars,
        max(e) AS last_e
      FROM spans GROUP BY doc_id),
    seg AS (
      SELECT doc_id,
        coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
        s - 1 AS ke
      FROM spans
      UNION ALL
      SELECT sa.doc_id, sa.last_e + 1 AS ks, length(n.t) AS ke
      FROM spanagg sa JOIN norm n USING (doc_id)),
    cleanedagg AS (
      SELECT sg.doc_id,
        string_agg(substr(n.t, sg.ks::INT, (sg.ke - sg.ks + 1)::INT),
          '' ORDER BY sg.ks) AS ct
      FROM seg sg JOIN norm n USING (doc_id)
      WHERE sg.ke >= sg.ks
      GROUP BY sg.doc_id),
    percleaned AS (
      SELECT n.doc_id, n.t,
        cast(length(n.t) as bigint) AS orig_len,
        cast(coalesce(sa.n_spans, 0) as bigint) AS n_spans,
        cast(coalesce(sa.removed_chars, 0) as bigint) AS removed_chars,
        CASE WHEN sa.doc_id IS NULL THEN n.t
             ELSE coalesce(c.ct, '') END AS ctext,
        cast(length(CASE WHEN sa.doc_id IS NULL THEN n.t
             ELSE coalesce(c.ct, '') END) as bigint) AS cleaned_len
      FROM norm n
      LEFT JOIN spanagg sa USING (doc_id)
      LEFT JOIN cleanedagg c USING (doc_id))"""

  /** Catalog entries, regrouped by family (round-10 split of the
    * single 8k-line file): dedup (d*), ANN (s*), curation +
    * pipelines (x*, p*). Concatenation order defines catalog order.
    */
  def queries: Seq[(String, Q)] =
    TextDedupOps.queries ++ TextAnnOps.queries ++
      TextCurationOps.queries

  /** Synthetic-PII fixture rows for x14: one per pattern class, mixed
    * and multi-match cases, and near-miss negatives that probe exactly
    * where Java regex and RE2 could diverge (`\b` adjacency, dot
    * semantics inside classes, bounded repetition).
    */
  val piiFixture: Seq[(Long, String)] = Seq(
    1L -> "contact alice.smith+tag@ex-ample.co.uk or bob@x.io today",
    2L -> "call 555-123-4567 or 555.987.6543 now",
    3L -> "hosts 192.168.0.1 10.0.255.13 and 8.8.8.8",
    4L -> "ssn 123-45-6789 on file",
    5L -> "mixed: a@b.co, 111-222-3333, 1.2.3.4, 999-88-7777 done",
    6L -> "near misses: not@an@email 12-345-6789 1234-56-7890 1.2.3 555-12-34567",
    7L -> "boundaries:x123-45-6789y 123-45-6789. (555-123-4567)",
    8L -> "no pii here, just words and 42")
}
