package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Catalog._
import TextOps._

/** Similarity-search / ANN operators (s01-s18) over `embeddings`:
  * brute-force cosine top-k, LSH and IVF variants, recall harnesses,
  * PQ/SQ8 quantization, JL projection, MMR, k-NN, NN-descent, index
  * upsert, and the cross-method harness. Split out of [[TextOps]] by
  * family (round 10); shared helpers (cosine, codebook assignment, PQ
  * training, NN-descent report) live in TextOps and are imported
  * wholesale — behavior is unchanged.
  */
object TextAnnOps {

  // Okapi BM25 (k1 = 1.2, b = 0.75) over the bigram inverted index —
  // the shared engine of s19 (ranked retrieval), s20 (hybrid RRF
  // fusion) and s21 (pseudo-relevance feedback). Queries are the x15
  // benchmark picks (doc_id % 97 = 0, qid = doc_id/97 ≤ 4), terms =
  // each query doc's first 5 distinct bigrams, the query doc excluded
  // from its own candidates. See s19's scaladoc for the 100 TB plan
  // shape.

  /** The BM25 index frames shared by s19/s20/s21: tokenized docs,
    * per-(doc, bigram) tf, per-bigram df, doc lengths, corpus totals,
    * and the x15-pick query-term frame. One corpus tokenize feeds
    * everything.
    */
  private final case class Bm25Parts(based: DataFrame, tf: DataFrame,
      dfc: DataFrame, dlf: DataFrame, tot: DataFrame, qterms: DataFrame)

  private def bm25Parts(s: SparkSession, d: String,
      matIndex: Boolean = false): Bm25Parts = {
    // x13's fast generate shape: explode(<bigram expression>) directly
    // over once-aliased toks (an aliased array column would
    // re-evaluate the build per exploded element)
    val bigrams =
      when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))
    // Round 16 materialized this tokenize pass (mat(based)) because
    // its consumers re-ran words(); the r16 driver measured that
    // 11-16% SLOWER locally — the corpus-scale checkpoint of the toks
    // ARRAY costs more than the saved passes, which run as parallel
    // independent stages anyway. Round 17 resolves the r16 verdict
    // item 4 by shape, not by dial: `based` stays lazy everywhere
    // (qterms' doc_id filter pushes to the scan, so that consumer
    // tokenizes ~5 docs), and the matIndex path derives dlf/tot from
    // the checkpointed tf so the s21 index fills with ONE tokenize
    // pass and ONE materialization (see the shape note below).
    val based = docs(s, d)
      .select(col("doc_id"), words(col("text")).as("toks"))
    val posts = based.select(col("doc_id"), explode(bigrams).as("term"))
    val tfRaw = posts.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // s21 consumes the index THREE times (round-1 scores, expansion
    // stats, round-2 scores): materialize tf once so the corpus never
    // re-tokenizes (the spanCleanedDocs multi-consumer lesson). The
    // single-query consumers (s19/s20) persist() it LAZILY instead:
    // column pruning makes each consumer's copy of the tf exchange
    // canonically different (ReuseExchange never fires — measured 15
    // tokenize copies in s19's plan without the cache), and persist
    // shares one computation inside the one consuming job with no
    // eager-job cost. dlf and tot below are index-scale aggregations
    // over the cached tf, cheap per consumer.
    // Shape decision, measured in r17 ABAB sessions (see
    // OPTIMIZATION_r17.md): WITHOUT matIndex (s19/s20, single-pass
    // consumers) the r16-lazy shape wins — dlf/tot as independent
    // subtrees off `based` re-tokenize redundantly but those passes
    // run as PARALLEL stages (s20: 2.0 s vs 3.1 s for a tf-derived
    // dlf, which serializes everything behind the tf aggregate and
    // its broadcast). WITH matIndex (s21) dlf/tot derive from the
    // CHECKPOINTED tf — no tokenize, no second mat job (r16 paid
    // mat(tf) + mat(dlf)): dl ≡ Σtf per doc (each bigram position
    // contributes one (doc, term) count; docs without bigrams never
    // score — the scoring join on tf is inner), n_docs is a
    // tokenize-free documents row count, sum_dl ≡ Σtf. Exact integer
    // identities — values bit-identical, oracles unchanged, re-⊕.
    val tf = if (matIndex) mat(tfRaw) else tfRaw
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dlf =
      if (matIndex) tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      else based.select(col("doc_id"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("dl"))
    val tot =
      if (matIndex) docs(s, d).agg(count(lit(1)).as("n_docs"))
        .crossJoin(tf.agg(coalesce(sum(col("tf")), lit(0L)).as("sum_dl")))
      else dlf.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = based
      .filter(col("doc_id") % 97 === 0 && expr("doc_id div 97") <= 4)
      .select(expr("doc_id div 97").as("qid"),
        col("doc_id").as("qdoc"),
        explode(array_distinct(slice(bigrams, 1, 5))).as("term"))
    Bm25Parts(based, tf, dfc, dlf, tot, qterms)
  }

  /** BM25 scores for a WEIGHTED query-term frame (qid, qdoc, term, w):
    * per-(query, doc) score = term-sorted ordered fold of sc·w (the
    * x35 discipline). With w = 1.0 everywhere this is bit-identical to
    * the unweighted engine (IEEE ×1.0 is exact), which keeps s19/s20
    * on the same oracle.
    */
  private def bm25ScoreTerms(p: Bm25Parts, wqterms: DataFrame): DataFrame = {
    val qdf = wqterms.join(p.dfc, "term") // ≤40 rows, df attached
    val scored = p.tf.join(broadcast(qdf), "term")
      .join(p.dlf, "doc_id")
      .crossJoin(broadcast(p.tot))
      .filter(col("doc_id") =!= col("qdoc"))
      .withColumn("sc",
        log(lit(1.0) +
          ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
              lit(0.75) * (col("dl").cast("double") /
                (col("sum_dl").cast("double") /
                  col("n_docs").cast("double")))))) * col("w"))
    scored.groupBy(col("qid"), col("doc_id"))
      .agg(collect_list(struct(col("term"), col("sc"))).as("tsl"),
        count(lit(1)).as("n_terms"))
      .withColumn("score",
        aggregate(transform(array_sort(col("tsl")),
          x => x.getField("sc")), lit(0.0), (a, b) => a + b))
      .select(col("qid"), col("doc_id"), col("score"), col("n_terms"))
  }

  private def bm25Agg(s: SparkSession, d: String): DataFrame = {
    val p = bm25Parts(s, d)
    bm25ScoreTerms(p, p.qterms.withColumn("w", lit(1.0)))
  }

  /** DuckDB twin of [[bm25Parts]]: CTEs `t(doc_id, toks)`, `bg` (adds
    * the bigram list `bgs`), `tok`, `tf(doc_id, term, tf)`,
    * `dl(doc_id, dl)`, `dfc(term, df)`, `tot(n_docs, sum_dl)` and
    * `qterms(qid, qdoc, term, w)` (the x15 picks, w = 1.0).
    */
  private val sqlBm25Parts: String = """t AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
          FROM documents),
        bg AS (
          SELECT doc_id, toks,
            CASE WHEN len(toks) >= 2 THEN
              list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
            ELSE [] END AS bgs
          FROM t),
        tok AS (SELECT doc_id, unnest(bgs) AS term FROM bg),
        tf AS (
          SELECT doc_id, term, cast(count(*) as bigint) AS tf
          FROM tok GROUP BY doc_id, term),
        dl AS (SELECT doc_id, cast(len(bgs) as bigint) AS dl FROM bg),
        dfc AS (
          SELECT term, cast(count(*) as bigint) AS df FROM tf GROUP BY term),
        tot AS (
          SELECT cast(count(*) as bigint) AS n_docs,
            cast(sum(dl) as bigint) AS sum_dl FROM dl),
        qterms AS (
          SELECT (doc_id // 97) AS qid, doc_id AS qdoc,
            unnest(list_distinct(bgs[1:5])) AS term,
            cast(1.0 as double) AS w
          FROM bg WHERE doc_id % 97 = 0 AND doc_id // 97 <= 4)"""

  /** DuckDB twin of [[bm25ScoreTerms]]: a SELECT of (qid, doc_id,
    * score, n_terms) over [[sqlBm25Parts]]'s CTEs for a weighted term
    * relation `terms(qid, qdoc, term, w)`.
    */
  private def sqlBm25Scores(terms: String): String = s"""SELECT qid, doc_id,
            list_reduce(list_prepend(0.0, list(sc ORDER BY term)),
              (a, b) -> a + b) AS score,
            cast(count(*) as bigint) AS n_terms
          FROM (
            SELECT q.qid, q.term, tf.doc_id,
              (ln(1.0 + (cast(t.n_docs - dfc.df as double) + 0.5) /
                  (cast(dfc.df as double) + 0.5))
                * ((cast(tf.tf as double) * 2.2) /
                   (cast(tf.tf as double) + 1.2 * (0.25 + 0.75 *
                     (cast(dl.dl as double) /
                      (cast(t.sum_dl as double) / cast(t.n_docs as double)))))))
                * q.w AS sc
            FROM $terms q
            JOIN tf ON tf.term = q.term
            JOIN dl ON dl.doc_id = tf.doc_id
            JOIN dfc ON dfc.term = q.term, tot t
            WHERE tf.doc_id <> q.qdoc)
          GROUP BY qid, doc_id"""

  /** Per-document 16-dim feature-hashed integer vector + its squared
    * norm — x43's hashing-trick embedding at DOCUMENT granularity
    * (each token md5-hashed once, the 16 per-dim modular sums unrolled
    * as single-level codegen'd aggregates). Returns (doc_id, v, n2).
    */
  private def docVectors(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableHash.{P, h60col, permA, permB}
    val dims = 16
    val vecs = docs(s, d)
      .select(col("doc_id"), words(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(col("toks"), t => pmod(h60col(t), lit(P))).as("ht"))
      .select(Seq(col("doc_id")) ++
        (0 until dims).map { j =>
          aggregate(col("ht"), lit(0L), (acc, x) =>
            acc + (pmod(lit(permA(j)) * x + lit(permB(j)), lit(P))
              % 2001 - 1000)).as(s"v$j")
        }: _*)
      .select(col("doc_id"),
        array((0 until dims).map(j => col(s"v$j")): _*).as("v"))
    vecs.withColumn("n2",
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0L),
        (acc, x) => acc + x))
  }

  /** DuckDB twin of [[pqAdcScored]]: CTEs from `e` (the quantized
    * embeddings) through `codes`, `lut`, `ad` and `ex`, ending in
    * `scored(vec_id, approx_dist, exact_dist)` over every vector but
    * the query (vec_id 0).
    */
  private val sqlPqAdcScored: String = """e AS MATERIALIZED (
          SELECT vec_id,
            list_transform(embedding, x ->
              cast(floor(cast(x as double) * 1000) as bigint)) AS qv
          FROM embeddings),
        q AS (SELECT qv AS quv FROM e WHERE vec_id = 0),
        subs AS (SELECT unnest(range(0, 8)) AS sub),
        cb0 AS MATERIALIZED (
          SELECT s.sub, c.vec_id AS cid,
            list_transform(range(1, 9), j ->
              c.qv[cast(s.sub * 8 + j as int)]) AS cv
          FROM e c, subs s WHERE c.vec_id < 16),
        """ + sqlTrainPqCodebooks("e", "qv") + """,
        codes AS MATERIALIZED (
          SELECT vec_id, sub, cid AS code FROM (
            SELECT e.vec_id, c.sub, c.cid,
              row_number() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
                list_sum(list_transform(range(1, 9), j ->
                  (e.qv[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]) *
                  (e.qv[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]))),
                c.cid) AS rn
            FROM e, cb c) x WHERE rn = 1),
        lut AS MATERIALIZED (
          SELECT c.sub, c.cid,
            list_sum(list_transform(range(1, 9), j ->
              (q.quv[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]) *
              (q.quv[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)])))
              AS d
          FROM cb c, q),
        ad AS (
          SELECT codes.vec_id, cast(sum(l.d) as bigint) AS approx_dist
          FROM codes JOIN lut l
            ON l.sub = codes.sub AND l.cid = codes.code
          GROUP BY codes.vec_id),
        ex AS (
          SELECT e.vec_id,
            cast(list_sum(list_transform(range(1, 65), p ->
              (e.qv[p] - q.quv[p]) * (e.qv[p] - q.quv[p]))) as bigint)
              AS exact_dist
          FROM e, q),
        scored AS (
          SELECT a.vec_id, a.approx_dist, x.exact_dist
          FROM ad a JOIN ex x ON x.vec_id = a.vec_id
          WHERE a.vec_id <> 0)"""

  /** s06's PQ-ADC scored frame, factored for reuse (s06 = its ADC
    * top-10; s22 = the two-stage refine): (vec_id, approx_dist,
    * exact_dist) for every non-query vector, integer-exact throughout
    * (trained codebooks, per-query literal LUT, row-local ADC fold —
    * see the s06 scaladoc for the 100 TB rationale).
    */
  private def pqAdcScored(s: SparkSession, d: String): DataFrame = {
    val nSub = 8; val subDim = 8; val kCent = 16
    val quant = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val base = emb(s, d).select(col("vec_id"), quant.as("qv"))
    val seeds = base.filter(col("vec_id") < kCent)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1).toSeq
    val qVec = base.filter(col("vec_id") === 0)
      .head().getSeq[Long](1)
    val trained = trainPqCodebooks(base, nSub, subDim, seeds)
    def sliceD2(sub: Int, cv: IndexedSeq[Long]): Long = {
      var s2 = 0L; var j = 0
      while (j < subDim) {
        val dd = qVec(sub * subDim + j) - cv(j)
        s2 += dd * dd; j += 1
      }
      s2
    }
    // per-query LUT: lut(sub)(cid) = |q_sub - trained_cid_sub|²,
    // driver-side integers straight into the plan as literals
    val lut = Array.tabulate(nSub, kCent)((sub, c) =>
      sliceD2(sub, trained(sub)(c)._2))
    // per-row: for each subspace, argmin over the 16 literal
    // centroid slices (ties → smallest cid), then ADC = Σ lut[sub][code]
    val approxDist = (0 until nSub).map { sub =>
      val centSlices = array(trained(sub).map { case (cid, cv) =>
        struct(lit(cid).as("cid"),
          array(cv.map(lit(_)): _*).as("cv"))
      }: _*)
      val qSlice = array((0 until subDim).map(j =>
        col("qv").getItem(sub * subDim + j)).toIndexedSeq: _*)
      val code = aggregate(centSlices,
        struct(lit(Long.MaxValue).as("dist"), lit(-1L).as("cid")),
        (acc, c) => {
          val dist = aggregate(
            zip_with(qSlice, c.getField("cv"),
              (a, b) => (a - b) * (a - b)),
            lit(0L), (s2, x) => s2 + x)
          when(dist < acc.getField("dist"),
            struct(dist.as("dist"), c.getField("cid").as("cid")))
            .otherwise(acc)
        }).getField("cid")
      element_at(
        array(lut(sub).map(lit(_)).toIndexedSeq: _*),
        (code + 1).cast("int"))
    }.reduce(_ + _)
    val qLit = array(qVec.map(lit(_)).toIndexedSeq: _*)
    val exactDist = aggregate(
      zip_with(col("qv"), qLit, (a, b) => (a - b) * (a - b)),
      lit(0L), (s2, x) => s2 + x)
    base.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), approxDist.as("approx_dist"),
        exactDist.as("exact_dist"))
  }

  /** s02's LSH bucket of a vector: bit p is set when `v` lies on the
    * positive side of hyperplane p, over `planes` deterministic
    * hyperplanes in `dim` dimensions. Component (p, i) is
    * (h60("p_i") mod 1000)/500 - 1, a driver-side literal matrix the
    * oracle re-derives with md5(). s18's b_lsh6 leg shares it.
    */
  private def lshBucket(v: Column, planes: Int, dim: Int): Column = {
    val m: Seq[Seq[Double]] = (0 until planes).map(p =>
      (0 until dim).map(i =>
        (graft.functions.PortableHash.h60(s"${p}_${i}") % 1000L)
          .toDouble / 500.0 - 1.0))
    val matC = typedLit(m)
    aggregate(sequence(lit(0), lit(planes - 1)), lit(0L), (acc, p) => {
      val proj = graft.functions.VectorDot.dot(v, element_at(matC, p + 1))
      acc.bitwiseOR(when(proj > 0, shl(lit(1L), p)).otherwise(0L))
    })
  }

  def queries: Seq[(String, Q)] = Seq(

    // ------------------------------------------------------------------
    // Brute-force cosine top-k: 10 nearest neighbors of vec_id 0.
    // ------------------------------------------------------------------
    "s01_cosine_topk" -> Q(
      (s, d) => {
        val base = emb(s, d)
        val query = base.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        base.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(query))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .select(col("vec_id"), col("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0)
        SELECT n.vec_id,
          list_dot_product(n.v, q.qv) / n.nrm / q.qnrm AS cos
        FROM n, q
        WHERE n.vec_id <> 0
        ORDER BY list_dot_product(n.v, q.qv) / n.nrm / q.qnrm DESC, n.vec_id
        LIMIT 10"""),
      bench = true),


    // ------------------------------------------------------------------
    // LSH-bucketed ANN (the 100 TB scale path): 6 deterministic random
    // hyperplanes → 64-bucket partitioning; search the query's bucket
    // only. Hyperplane component (p,i) = (h60("p_i") mod 1000)/500 - 1
    // — the portable PortableHash formula, materialized driver-side as
    // a literal matrix (the dimension comes from one metadata-scale
    // head(); the matrix is data-independent, so this costs one row).
    // Hash-verified: the oracle re-derives the same planes with md5()
    // and replays bucketing + cosine top-k from scratch.
    // ------------------------------------------------------------------
    "s02_ann_lsh" -> Q(
      (s, d) => {
        val dim = emb(s, d).select(size(col("embedding"))).head.getInt(0)
        val base = emb(s, d)
          .withColumn("bkt", lshBucket(col("embedding"), 6, dim))
        val query = base.filter(col("vec_id") === 0)
          .select(col("bkt").as("qbkt"), col("embedding").as("qe"))
        base.join(broadcast(query), col("bkt") === col("qbkt"))
          .filter(col("vec_id") =!= 0)
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .select(col("vec_id"), col("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
        dim AS (SELECT max(len(v)) AS d FROM e),
        planes AS (
          SELECT p, list_transform(range(0, d), i ->
            cast(('0x' || substr(md5(p || '_' || i), 1, 15))::BIGINT % 1000
              as double) / 500.0 - 1.0) AS pv
          FROM range(0, 6) t(p), dim),
        pl AS (SELECT list(pv ORDER BY p) AS pvs FROM planes),
        b AS (
          SELECT vec_id, v,
            cast(list_sum(list_transform(range(0, 6), p ->
              CASE WHEN list_dot_product(v, pvs[p+1]) > 0
                THEN (1::BIGINT << p) ELSE 0::BIGINT END)) as bigint) AS bkt
          FROM e, pl),
        n AS (
          SELECT vec_id, v, bkt,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM b),
        q AS (SELECT bkt AS qbkt, v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0)
        SELECT n.vec_id,
          list_dot_product(n.v, q.qv) / n.nrm / q.qnrm AS cos
        FROM n, q
        WHERE n.bkt = q.qbkt AND n.vec_id <> 0
        ORDER BY list_dot_product(n.v, q.qv) / n.nrm / q.qnrm DESC, n.vec_id
        LIMIT 10""")),


    // ------------------------------------------------------------------
    // IVF-style ANN (the scale path for similarity search): assign every
    // vector to its nearest of 8 deterministic centroids (vec_id 0-7 as
    // the "trained" codebook), then search only the 2 centroids nearest
    // the query. At 100 TB the assignment is one broadcast-join pass and
    // each probe touches ~2/8 of the corpus; recall is tested in
    // TextOpsSpec against s01's exact top-k.
    // ------------------------------------------------------------------
    "s03_ivf_ann" -> Q(
      (s, d) => {
        val base = emb(s, d)
        val cents = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
        // row-local literal-codebook argmax (see assignToCodebook)
        val assigned = assignToCodebook(s, d)
        // the query's 2 nearest centroids
        val q = base.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val probe = cents.crossJoin(broadcast(q))
          .withColumn("qsim", cosine(col("ce"), col("qe")))
          .orderBy(col("qsim").desc, col("cent_id"))
          .limit(2)
          .select(col("cent_id").as("probe_cent"))
        assigned
          .join(broadcast(probe), col("cent_id") === col("probe_cent"))
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .select(col("vec_id"), col("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH """ + sqlEmbNorms + ",\n        " +
          sqlAssignToCodebook() + """,
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        probe AS (
          SELECT cent_id FROM c, q
          ORDER BY list_dot_product(cv, qv) / cnrm / qnrm DESC, cent_id
          LIMIT 2)
        SELECT a.vec_id,
          list_dot_product(a.v, q.qv) / a.nrm / q.qnrm AS cos
        FROM assigned a JOIN probe p ON a.cent_id = p.cent_id, q
        WHERE a.vec_id <> 0
        ORDER BY cos DESC, a.vec_id
        LIMIT 10"""),
      bench = true),


    // ------------------------------------------------------------------
    // IVF nprobe tuning curve — d15's role, for the vector index:
    // recall@10 AND rows-scanned at probe budgets 1/2/4, from ONE
    // shared assignment + scoring pass (checkpointed; each budget is a
    // FILTER on centroid rank, never a re-scan). n_scanned is the cost
    // axis a capacity plan prices; recall10 is the quality axis —
    // together they are the "how many probes do I need" answer every
    // IVF deployment must produce before trusting s03's nprobe=2
    // default. All broadcasts are the 1-row query / 8-row centroid
    // rank table; the corpus-side work is the one cell-pruned cosine
    // scan.
    // ------------------------------------------------------------------
    "s14_ivf_tuning" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = emb(s, d)
        val q = base.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val cents = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
        val ranked = cents.crossJoin(broadcast(q))
          .withColumn("qsim", cosine(col("ce"), col("qe")))
          .withColumn("crk", row_number().over(
            Window.orderBy(col("qsim").desc, col("cent_id"))))
          .select(col("cent_id"), col("crk"))
        val exact10 = base.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select(col("vec_id")).withColumn("hit", lit(1L))
        val scored = assignToCodebook(s, d)
          .filter(col("vec_id") =!= 0)
          .join(broadcast(ranked), Seq("cent_id"))
          .crossJoin(broadcast(q))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .select(col("vec_id"), col("crk"), col("cos"))
          .localCheckpoint()
        Seq(1, 2, 4).map { np =>
          val probed = scored.filter(col("crk") <= np)
          probed.orderBy(col("cos").desc, col("vec_id")).limit(10)
            .join(exact10, Seq("vec_id"), "left")
            .agg(count(lit(1)).as("k_returned"),
              coalesce(sum(col("hit")), lit(0L)).as("recall10"))
            .crossJoin(probed.agg(count(lit(1)).as("n_scanned")))
            .select(lit(np).as("nprobe"), col("n_scanned"),
              col("k_returned"), col("recall10"))
        }.reduce(_ unionAll _).orderBy(col("nprobe"))
      },
      Some("""WITH """ + sqlEmbNorms + ",\n        " +
          sqlAssignToCodebook() + """,
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        ranked AS (
          SELECT cent_id, row_number() OVER (
            ORDER BY list_dot_product(cv, qv) / cnrm / qnrm DESC,
              cent_id) AS crk
          FROM c, q),
        ex10 AS (
          SELECT n.vec_id FROM n, q WHERE n.vec_id <> 0
          ORDER BY list_dot_product(n.v, q.qv) / n.nrm / q.qnrm DESC,
            n.vec_id
          LIMIT 10),
        scored AS MATERIALIZED (
          SELECT a.vec_id, r.crk,
            list_dot_product(a.v, q.qv) / a.nrm / q.qnrm AS cos
          FROM assigned a JOIN ranked r ON r.cent_id = a.cent_id, q
          WHERE a.vec_id <> 0),
        t1 AS (SELECT vec_id FROM scored WHERE crk <= 1
          ORDER BY cos DESC, vec_id LIMIT 10),
        s1 AS (SELECT cast(1 as int) AS nprobe,
          (SELECT cast(count(*) as bigint) FROM scored WHERE crk <= 1)
            AS n_scanned,
          cast(count(*) as bigint) AS k_returned,
          cast(count(*) FILTER (WHERE vec_id IN
            (SELECT vec_id FROM ex10)) as bigint) AS recall10
          FROM t1),
        t2 AS (SELECT vec_id FROM scored WHERE crk <= 2
          ORDER BY cos DESC, vec_id LIMIT 10),
        s2 AS (SELECT cast(2 as int),
          (SELECT cast(count(*) as bigint) FROM scored WHERE crk <= 2),
          cast(count(*) as bigint),
          cast(count(*) FILTER (WHERE vec_id IN
            (SELECT vec_id FROM ex10)) as bigint)
          FROM t2),
        t4 AS (SELECT vec_id FROM scored WHERE crk <= 4
          ORDER BY cos DESC, vec_id LIMIT 10),
        s4 AS (SELECT cast(4 as int),
          (SELECT cast(count(*) as bigint) FROM scored WHERE crk <= 4),
          cast(count(*) as bigint),
          cast(count(*) FILTER (WHERE vec_id IN
            (SELECT vec_id FROM ex10)) as bigint)
          FROM t4)
        SELECT * FROM (
          SELECT * FROM s1 UNION ALL SELECT * FROM s2
          UNION ALL SELECT * FROM s4) u
        ORDER BY nprobe""")),


    // ------------------------------------------------------------------
    // NN-DESCENT k-NN GRAPH construction (Dong, Moses & Li, WWW 2011)
    // — the all-nodes face of ANN: build every vector's top-5 neighbor
    // list, not one query's. Init = within-IVF-cell top-5 (s03's
    // row-local literal-codebook assignment; quadratic only in cell
    // size — production sizes cells ~sqrt(n)) UNION 3 deterministic
    // h60-derived pseudo-random cross-corpus edges per node. The
    // random edges are load-bearing: a purely cell-blocked graph's
    // neighbors-of-neighbors NEVER leave the cell (measured: descent
    // gains exactly 0 hits without them), which is why the paper
    // initializes randomly. One LOCAL-JOIN round (each node
    // introduces all pairs of its undirected B∪R pool neighborhood),
    // scoring only cross-cell proposals not already paid for, then
    // re-selects top-5 from everything scored. The report carries
    // recall@5 on 20 probe nodes vs exact ground truth (bounded,
    // s04's convention) AND n_scored, the scoring bill per stage:
    // here init 32.6k + descent 42.7k pairs lift recall 52 → 61 of
    // 100 where brute force would score 250k — and the QueriesSpec
    // clustered fixture shows the same code jumping 77 → 85 when the
    // data has the local structure descent exploits (near-uniform
    // vectors are its honest floor). Every join is key-partitioned
    // (cell, then node id); nothing all-pairs the corpus.
    // ------------------------------------------------------------------
    "s15_nn_descent" -> Q(
      (s, d) => nnDescentReport(emb(s, d), nCents = 8),
      bench = true,
      oracle = Some("""WITH """ + sqlNnDescentGraph + """,
        exact5 AS (
          SELECT a, b FROM (
            -- division order mirrors Spark's cosine(probe, corpus):
            -- dot / probe_nrm / corpus_nrm (a/n1/n2 vs a/n2/n1 can
            -- differ in the last ULP and flip a near-tie rank)
            SELECT q.vec_id AS a, x.vec_id AS b,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_dot_product(q.v, x.v) / q.nrm / x.nrm
                  DESC, x.vec_id) AS rn
            FROM n x, (SELECT vec_id, v, nrm FROM n
              WHERE vec_id < 20) q
            WHERE x.vec_id <> q.vec_id) t
          WHERE rn <= 5),
        s1 AS (SELECT '1_init' AS stage,
          (SELECT cast(count(*) as bigint) FROM cellpairs) +
          (SELECT cast(count(*) as bigint) FROM rndsc) AS n_scored,
          (SELECT cast(count(*) as bigint) FROM knn0
            JOIN exact5 USING (a, b) WHERE a < 20) AS hits5),
        s2 AS (SELECT '2_descent' AS stage,
          (SELECT cast(count(*) as bigint) FROM nonscored) AS n_scored,
          (SELECT cast(count(*) as bigint) FROM knn1
            JOIN exact5 USING (a, b) WHERE a < 20) AS hits5)
        SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) u
        ORDER BY stage""")),


    // ------------------------------------------------------------------
    // IVF index UPSERT monitoring — p02's question, for the vector
    // index: a new drop of vectors (h60 hash-split 20%, x17's
    // convention; the 8 codebook rows are day-0 by construction) is
    // assigned to the STORED day-0 cells with the same zero-shuffle
    // literal-codebook argmax — centroids never retrain on ingest. To
    // make the monitor's alarm PROVABLE (m10's convention: an
    // all-green report proves nothing), the drop's content skews by
    // construction: each incoming vector is pulled toward centroid 2
    // (v' = v + 0.1·c2, double-exact in both engines — d17's
    // inject-the-defect move; 0.1 is tuned so the skew DISCRIMINATES:
    // cell 2 flags on over-share, cell 4 on starvation, six cells
    // stay green), the way a new crawl source skews toward one
    // content type. The per-cell report prices the
    // decision the index operator actually faces: growth_ppm (integer
    // 1e6·new div old) says which cells the drop inflates, and
    // `drifted` runs x31's exact two-proportion z-test
    // (cross-multiplied DECIMAL38/HUGEINT integers, z > 2) on each
    // cell's share-of-new vs share-of-old — when it fires, the stored
    // centroids no longer describe the data and a retrain (s06's
    // training pass) is due. ONE corpus scan + one 8-row aggregate;
    // totals ride a 1-row broadcast.
    // ------------------------------------------------------------------
    "s16_ivf_upsert" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        import graft.functions.PortableHash.h60col
        val base = emb(s, d)
        val c2 = base.filter(col("vec_id") === 2)
          .select(col("embedding")).collect()(0).getSeq[Float](0)
        val c2lit = array(c2.map(x => lit(x.toDouble)).toIndexedSeq: _*)
        val isNew = pmod(h60col(concat(lit("ivf_new_"), col("vec_id"))),
          lit(5)) === 0 && col("vec_id") >= 8
        val vd = transform(col("embedding"), x => x.cast("double"))
        val frame = base.select(col("vec_id"),
          when(isNew, zip_with(vd, c2lit,
            (x, y) => x + lit(0.1) * y)).otherwise(vd).as("embedding"))
        val per = assignToCodebookOf(frame, 8)
          .select(col("cent_id"), isNew.as("is_new"))
          .groupBy(col("cent_id"))
          .agg(count(when(!col("is_new"), 1)).as("n_old"),
            count(when(col("is_new"), 1)).as("n_new"))
        val tot = per.agg(sum(col("n_old")).as("t_old"),
          sum(col("n_new")).as("t_new"))
        def d38(c: Column) = c.cast(DecimalType(38, 0))
        val diff = col("n_new") * col("t_old") -
          col("n_old") * col("t_new")
        per.crossJoin(broadcast(tot))
          .select(col("cent_id"), col("n_old"), col("n_new"),
            expr("1000000 * n_new div n_old").as("growth_ppm"),
            (d38(diff) * d38(diff) * d38(col("t_old") + col("t_new")) >
              lit(4) * d38(col("t_old")) * d38(col("t_new")) *
                d38(col("n_old") + col("n_new")) *
                (d38(col("t_old") + col("t_new")) -
                  d38(col("n_old") + col("n_new")))).as("drifted"))
          .orderBy(col("cent_id"))
      },
      Some("""WITH e0 AS (SELECT vec_id,
            list_transform(embedding, x -> cast(x as double)) AS v,
            ('0x' || substr(md5('ivf_new_' || vec_id), 1, 15))::BIGINT
              % 5 = 0 AND vec_id >= 8 AS is_new
          FROM embeddings),
        c2 AS (SELECT v AS c2v FROM e0 WHERE vec_id = 2),
        e AS (SELECT vec_id, is_new,
            CASE WHEN is_new THEN
              list_transform(range(1, len(v) + 1), i ->
                v[i] + 0.1 * c2.c2v[i])
            ELSE v END AS v
          FROM e0, c2),
        n AS (SELECT vec_id, is_new, v,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
        c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
          FROM n WHERE vec_id < 8),
        asgn AS (
          SELECT vec_id, is_new, cent_id,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY list_dot_product(v, cv) / nrm / cnrm DESC,
                cent_id) AS rn
          FROM n, c),
        tagged AS (
          SELECT cent_id, is_new FROM asgn WHERE rn = 1),
        per AS (
          SELECT cent_id,
            cast(count(*) FILTER (WHERE NOT is_new) as bigint) AS n_old,
            cast(count(*) FILTER (WHERE is_new) as bigint) AS n_new
          FROM tagged GROUP BY 1),
        tot AS (
          SELECT cast(sum(n_old) as bigint) AS t_old,
            cast(sum(n_new) as bigint) AS t_new
          FROM per)
        SELECT p.cent_id, p.n_old, p.n_new,
          cast(1000000 * p.n_new // p.n_old as bigint) AS growth_ppm,
          (cast(p.n_new * t.t_old - p.n_old * t.t_new as hugeint) *
           cast(p.n_new * t.t_old - p.n_old * t.t_new as hugeint) *
           cast(t.t_old + t.t_new as hugeint)) >
          (4 * cast(t.t_old as hugeint) * cast(t.t_new as hugeint) *
           cast(p.n_old + p.n_new as hugeint) *
           cast(t.t_old + t.t_new - p.n_old - p.n_new as hugeint))
            AS drifted
        FROM per p, tot t ORDER BY p.cent_id""")),


    // ------------------------------------------------------------------
    // ANN quality evaluation: recall@10 of the IVF 2-probe path (s03's
    // index shape) against exact brute-force ground truth, batched over
    // the 10 query vectors vec_id < 10 — the measurement a production
    // similarity-search deployment runs before trusting an index. The
    // ground-truth side is the expensive one and is bounded by the
    // query batch (10 × corpus row-local cosines, one broadcast of the
    // 10-vector batch — no shuffle grows with the corpus); the IVF side
    // reuses the same row-local literal-codebook argmax as s03. Exact
    // and approximate top-10 sets are intersected per query; ties
    // broken by vec_id on BOTH sides and in the oracle, so recall is
    // hash-stable, not approximately-equal.
    // ------------------------------------------------------------------
    "s04_ann_recall" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = emb(s, d)
        val queries = base.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        // exact ground truth: top-10 per query by cosine
        val exact = base.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("vec_id"))
        // IVF side: each query probes its 2 nearest centroids
        val cents = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
        val probes = cents.crossJoin(broadcast(queries))
          .withColumn("qsim", cosine(col("ce"), col("qe")))
          .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
            .orderBy(col("qsim").desc, col("cent_id"))))
          .filter(col("rn") <= 2)
          .select(col("q_id").as("pq_id"), col("cent_id").as("probe_cent"))
        val approx = assignToCodebook(s, d)
          .join(broadcast(probes), col("cent_id") === col("probe_cent"))
          .join(broadcast(queries), col("pq_id") === col("q_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("q_id").as("aq_id"), col("vec_id").as("a_vec"))
        exact.join(approx,
            col("q_id") === col("aq_id") && col("vec_id") === col("a_vec"),
            "left")
          .groupBy(col("q_id"))
          .agg(count(col("a_vec")).as("n_hits"))
          .withColumn("recall", col("n_hits").cast("double") / lit(10.0))
          .orderBy(col("q_id"))
      },
      Some("""WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, v,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n
              WHERE vec_id < 10),
        exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, n.vec_id,
              row_number() OVER (PARTITION BY q.q_id
                ORDER BY list_dot_product(n.v, q.qv) / n.nrm / q.qnrm DESC,
                  n.vec_id) AS rn
            FROM n, q WHERE n.vec_id <> q.q_id)
          WHERE rn <= 10),
        c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
              WHERE vec_id < 8),
        asgn AS (
          SELECT vec_id, cent_id FROM (
            SELECT n.vec_id, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id
                ORDER BY list_dot_product(n.v, c.cv) / n.nrm / c.cnrm DESC,
                  c.cent_id) AS rn
            FROM n, c)
          WHERE rn = 1),
        probes AS (
          SELECT q_id, cent_id FROM (
            SELECT q.q_id, c.cent_id,
              row_number() OVER (PARTITION BY q.q_id
                ORDER BY list_dot_product(c.cv, q.qv) / c.cnrm / q.qnrm DESC,
                  c.cent_id) AS rn
            FROM c, q)
          WHERE rn <= 2),
        approx AS (
          SELECT q_id, vec_id FROM (
            SELECT p.q_id, a.vec_id,
              row_number() OVER (PARTITION BY p.q_id
                ORDER BY list_dot_product(n.v, q.qv) / n.nrm / q.qnrm DESC,
                  a.vec_id) AS rn
            FROM asgn a
            JOIN probes p ON a.cent_id = p.cent_id
            JOIN n ON n.vec_id = a.vec_id
            JOIN q ON q.q_id = p.q_id
            WHERE a.vec_id <> p.q_id)
          WHERE rn <= 10)
        SELECT e.q_id, cast(count(a.vec_id) as bigint) AS n_hits,
          cast(count(a.vec_id) as double) / 10.0 AS recall
        FROM exact e
        LEFT JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
        GROUP BY e.q_id
        ORDER BY e.q_id""")),


    // ------------------------------------------------------------------
    // TRAINED codebook: 2 unrolled Lloyd iterations of k-means over
    // QUANTIZED embeddings — the training step the IVF/semantic
    // operators' codebooks come from (s03/d10 seed from raw vectors;
    // d12 scales k; this TRAINS the centroids). Float k-means can never
    // hash-match across engines (mean = order-dependent float sums), so
    // the state is integer fixed-point — the same portability trick as
    // PageRank: vectors quantize to floor(x·1000) (a float's 24-bit
    // mantissa times 1000 is exact in a double, so quantization is
    // bit-identical in both engines), distances are integer L2,
    // centroid updates are per-dimension floor-div means, ties argmin
    // to the smallest cent_id. Empty clusters keep their previous
    // centroid (both engines).
    //
    // Scale shape per iteration: assignment is a row-local fold over k
    // LITERAL centroids (zero shuffle — d10's codebook shape); the
    // update is one (cid, pos)-keyed aggregation of k·dim rows; the
    // driver-side collect is k·dim longs (metadata, the PageRank-style
    // per-round action). At large k the assignment swaps to d12's
    // broadcast-relation two-level argmax — the dial is the same.
    // Output: per-cluster size, inertia (sum of round-2 assignment
    // distances), and the trained-centroid checksum.
    // ------------------------------------------------------------------
    "s05_kmeans_quantized" -> Q(
      (s, d) => {
        val k = 8
        val quant = transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000.0)).cast("long"))
        val base = emb(s, d).select(col("vec_id"), quant.as("qv"))
        def centArray(cents: Seq[(Long, Seq[Long])]): Column =
          array(cents.sortBy(_._1).map { case (id, v) =>
            struct(lit(id).as("cid"),
              array(v.map(lit(_)).toIndexedSeq: _*).as("cv"))
          }.toIndexedSeq: _*)
        // nearest centroid by integer L2; fold ascends cid with strict
        // <, so ties pick the smallest cid (= row_number over
        // (dist, cid) in the oracle)
        def assign(cents: Seq[(Long, Seq[Long])]) =
          base.select(col("vec_id"), col("qv"),
            aggregate(centArray(cents),
              struct(lit(Long.MaxValue).as("dist"), lit(-1L).as("cid")),
              (acc, c) => {
                val dist = aggregate(
                  zip_with(col("qv"), c.getField("cv"),
                    (a, b) => (a - b) * (a - b)),
                  lit(0L), (s2, x) => s2 + x)
                when(dist < acc.getField("dist"),
                  struct(dist.as("dist"), c.getField("cid").as("cid")))
                  .otherwise(acc)
              }).as("best"))
            .select(col("vec_id"), col("qv"),
              col("best.cid").as("cid"), col("best.dist").as("dist"))
        def step(prev: Seq[(Long, Seq[Long])]): Seq[(Long, Seq[Long])] = {
          val sums = assign(prev)
            .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
            .groupBy(col("cid"), col("pos"))
            .agg(expr("sum(v) div count(1)").as("c"))
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          val byCid = sums.groupBy(_._1).map { case (cid, rs) =>
            cid -> rs.sortBy(_._2).map(_._3).toSeq
          }
          prev.map { case (cid, old) => cid -> byCid.getOrElse(cid, old) }
        }
        val init = base.filter(col("vec_id") < k)
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
          .sortBy(_._1).toSeq
        val trained = step(init)
        val centDf = s.createDataFrame(
          trained.map { case (cid, v) => (cid, v.sum) })
          .toDF("cid", "centroid_sum")
        centDf
          .join(assign(trained).groupBy(col("cid"))
              .agg(count(lit(1)).as("n_vectors"),
                sum(col("dist")).as("inertia")),
            Seq("cid"), "left")
          .select(col("cid"),
            coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
            coalesce(col("inertia"), lit(0L)).as("inertia"),
            col("centroid_sum"))
          .orderBy(col("cid"))
      },
      Some("""WITH e AS MATERIALIZED (
          SELECT vec_id,
            list_transform(embedding, x ->
              cast(floor(cast(x as double) * 1000) as bigint)) AS qv
          FROM embeddings),
        c0 AS MATERIALIZED (
          SELECT vec_id AS cid, qv AS cv FROM e WHERE vec_id < 8),
        a1 AS MATERIALIZED (
          SELECT vec_id, qv, cid, dist FROM (
            SELECT e.vec_id, e.qv, c.cid,
              list_sum(list_transform(range(1, 65), p ->
                (e.qv[p] - c.cv[p]) * (e.qv[p] - c.cv[p]))) AS dist,
              row_number() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(range(1, 65), p ->
                  (e.qv[p] - c.cv[p]) * (e.qv[p] - c.cv[p]))), c.cid)
                AS rn
            FROM e, c0 c) x WHERE rn = 1),
        s1 AS (
          SELECT cid, pos, sum(v) // count(*) AS c FROM (
            SELECT a.cid, p.pos, a.qv[p.pos] AS v
            FROM a1 a, (SELECT unnest(range(1, 65)) AS pos) p) y
          GROUP BY cid, pos),
        c1l AS (SELECT cid, list(c ORDER BY pos) AS cv
          FROM s1 GROUP BY cid),
        c1 AS MATERIALIZED (
          SELECT c0.cid, coalesce(l.cv, c0.cv) AS cv
          FROM c0 LEFT JOIN c1l l ON l.cid = c0.cid),
        a2 AS MATERIALIZED (
          SELECT vec_id, cid, dist FROM (
            SELECT e.vec_id, c.cid,
              list_sum(list_transform(range(1, 65), p ->
                (e.qv[p] - c.cv[p]) * (e.qv[p] - c.cv[p]))) AS dist,
              row_number() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(range(1, 65), p ->
                  (e.qv[p] - c.cv[p]) * (e.qv[p] - c.cv[p]))), c.cid)
                AS rn
            FROM e, c1 c) x WHERE rn = 1),
        agg AS (
          SELECT cid, cast(count(*) as bigint) AS n_vectors,
            cast(sum(dist) as bigint) AS inertia
          FROM a2 GROUP BY cid),
        csum AS (
          SELECT cid, cast(list_sum(cv) as bigint) AS centroid_sum
          FROM c1)
        SELECT s.cid, coalesce(a.n_vectors, 0) AS n_vectors,
          coalesce(a.inertia, 0) AS inertia, s.centroid_sum
        FROM csum s LEFT JOIN agg a USING (cid)
        ORDER BY s.cid""")),


    // ------------------------------------------------------------------
    // Product quantization + asymmetric-distance scan (the
    // Jégou/Douze/Schmid PQ-ADC scheme) — the memory side of
    // production ANN: a 64-dim vector compresses to 8 subspace codes
    // (one 4-bit-ish code per 8-dim slice against a 16-entry subspace
    // codebook), and query-time distance is 8 LOOKUPS into a
    // per-query table instead of 64 multiplies against raw floats. At
    // 100 TB the raw embeddings don't fit hot storage; the codes do
    // (64 dims × 4 bytes → 8 bytes/vector), and the scan touches only
    // them. Integer-exact throughout (s05's floor(x·1000)
    // quantization), so assignment, LUT, and the ADC sum are all
    // bit-reproducible: codebook = the vec_id<16 seed slices put
    // through ONE Lloyd update of [[trainPqCodebooks]] (s05's
    // fixed-point trainer, per subspace, one distributed pass — the
    // r6 "wire the trainer in" ask); the query's 8×16 lookup table is
    // computed driver-side and enters the plan as LITERALS — the
    // whole scan is one row-local fold, zero shuffle, TakeOrdered
    // top-10. exact_dist rides along to show the approximation
    // against ground truth on the same rows. Measured honestly: on
    // the near-uniform synthetic embeddings training lifts top-10
    // overlap vs exact only marginally (random vectors have little
    // cluster structure for 16 cells to exploit); on a CLUSTERED
    // fixture the trained codebooks recover the true neighbors where
    // seeds don't — measured in QueriesSpec ("s06 trained PQ
    // recall"), which is the honest recall claim. The oracle verifies
    // the MECHANISM bit-for-bit (training update, codes, LUT, ADC
    // sums).
    // ------------------------------------------------------------------
    "s06_pq_adc" -> Q(
      (s, d) => pqAdcScored(s, d)
        .orderBy(col("approx_dist"), col("vec_id"))
        .limit(10),
      Some("""WITH """ + sqlPqAdcScored + """
        SELECT vec_id, approx_dist, exact_dist FROM scored
        ORDER BY approx_dist, vec_id LIMIT 10""")),


    // ------------------------------------------------------------------
    // k-NN classification eval — the first consumer of the embeddings
    // table's `label` column: 20 held-out query vectors, each
    // predicted as the majority label of its k=5 nearest labeled
    // neighbors (cosine), scored against the true label per class.
    // This is the eval loop a labeled-embedding pipeline runs after
    // every index build (s02/s03/s06/s08 all change the neighbor set;
    // this measures whether they change the DECISION). Scale shape:
    // the 20-query batch broadcasts (s04's pattern), the corpus side
    // is one scan; per-query top-k is a 20-partition window (bounded
    // by queries, not corpus); the vote argmax is max_by with a
    // unique (c, −label) tie key — the g04 lesson, no sort shuffle.
    // ------------------------------------------------------------------
    "s09_knn_classify" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nq = 20
        val k = 5
        val base = emb(s, d)
        val queries = base.filter(col("vec_id") < nq)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
            col("label").as("true_label"))
        val top = base.filter(col("vec_id") >= nq)
          .crossJoin(broadcast(queries))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rn") <= k)
        val pred = top
          .groupBy(col("q_id"), col("true_label"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("q_id"), col("true_label"))
          .agg(max_by(col("label"),
            struct(col("c"), (-col("label")).as("nl"))).as("pred"))
        pred.groupBy(col("true_label").as("label"))
          .agg(count(lit(1)).as("n_queries"),
            count(when(col("pred") === col("true_label"), 1))
              .as("n_correct"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS MATERIALIZED (
          SELECT vec_id, label,
            list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, label, v,
          sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv,
          nrm AS qnrm FROM n WHERE vec_id < 20),
        top AS (
          SELECT q.q_id, q.true_label, c.label
          FROM n c, q WHERE c.vec_id >= 20
          QUALIFY row_number() OVER (PARTITION BY q.q_id
            ORDER BY list_dot_product(c.v, q.qv) / c.nrm / q.qnrm DESC,
              c.vec_id) <= 5),
        votes AS (
          SELECT q_id, true_label, label, count(*) AS c
          FROM top GROUP BY 1, 2, 3),
        pred AS (
          SELECT q_id, true_label, label AS pred FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY c DESC, label) AS rn
            FROM votes) x WHERE rn = 1)
        SELECT true_label AS label, cast(count(*) as bigint) AS n_queries,
          cast(count(*) FILTER (WHERE pred = true_label) as bigint)
            AS n_correct
        FROM pred GROUP BY 1
        ORDER BY label""")),


    // ------------------------------------------------------------------
    // Diversity-aware retrieval: Maximal Marginal Relevance (Carbonell
    // & Goldstein, SIGIR'98) — what a RAG / eval-set builder actually
    // wants from "top-k": not the 5 MOST similar docs (often 5 copies
    // of the same thing) but 5 similar-yet-mutually-different ones.
    // Two stages with very different scale shapes, deliberately split:
    // stage 1 is s01's distributed top-20 cosine scan (the corpus-
    // sized work, one pass, TakeOrdered); stage 2 is the greedy MMR
    // loop over those 20 candidates — metadata-scale by construction
    // (20 rows, 380 pairwise sims), which is WHY greedy reranking is
    // affordable at 100 TB: the sequential part never touches the
    // corpus. score(d) = 0.7·rel(q,d) − 0.3·max_{s∈S} sim(d,s), five
    // rounds, ties by vec_id. Every double comes from the same
    // sequential fold both engines use (s01's ⊕ convention), so the
    // greedy argmax — and therefore the SELECTION — hash-matches.
    // ------------------------------------------------------------------
    "s07_mmr_rerank" -> Q(
      (s, d) => {
        val base = emb(s, d)
        val query = base.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val cand = base.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(query))
          .withColumn("rel", cosine(col("embedding"), col("qe")))
          .select(col("vec_id"), col("embedding"), col("rel"))
          .orderBy(col("rel").desc, col("vec_id"))
          .limit(20)
          .localCheckpoint()
        val sims = cand.select(col("vec_id").as("a"),
            col("embedding").as("ea"))
          .join(cand.select(col("vec_id").as("b"),
            col("embedding").as("eb")), col("a") =!= col("b"))
          .select(col("a"), col("b"),
            cosine(col("ea"), col("eb")).as("sim"))
          .localCheckpoint()
        def pickNext(selected: org.apache.spark.sql.DataFrame, rank: Int) = {
          val pen = sims
            .join(selected.select(col("vec_id").as("b")), "b")
            .groupBy(col("a")).agg(max(col("sim")).as("pen"))
            .withColumnRenamed("a", "vec_id")
          cand.join(selected.select(col("vec_id")), Seq("vec_id"),
              "left_anti")
            .join(pen, "vec_id")
            .withColumn("score",
              lit(0.7) * col("rel") - lit(0.3) * col("pen"))
            .orderBy(col("score").desc, col("vec_id"))
            .limit(1)
            .select(lit(rank).as("rank"), col("vec_id"),
              col("score").as("mmr_score"))
        }
        var sel = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
          .select(lit(1).as("rank"), col("vec_id"),
            (lit(0.7) * col("rel")).as("mmr_score"))
          .localCheckpoint()
        for (r <- 2 to 5)
          sel = sel.unionAll(pickNext(sel, r)).localCheckpoint()
        sel.orderBy(col("rank"))
      },
      Some("""WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> cast(x as double))
            AS v FROM embeddings),
        n AS (SELECT vec_id, v,
          sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        cand AS MATERIALIZED (
          SELECT n.vec_id, n.v, n.nrm,
            list_dot_product(n.v, q.qv) / n.nrm / q.qnrm AS rel
          FROM n, q WHERE n.vec_id <> 0
          ORDER BY rel DESC, n.vec_id LIMIT 20),
        sims AS MATERIALIZED (
          SELECT a.vec_id AS a, b.vec_id AS b,
            list_dot_product(a.v, b.v) / a.nrm / b.nrm AS sim
          FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        s1 AS (SELECT 1 AS rank, vec_id,
            cast(0.7 as double) * rel AS mmr_score
          FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
        sel1 AS (SELECT vec_id FROM s1),
        s2 AS (SELECT 2 AS rank, c.vec_id,
            cast(0.7 as double) * c.rel - cast(0.3 as double) * p.pen
              AS mmr_score
          FROM cand c JOIN (SELECT a, max(sim) AS pen FROM sims
            JOIN sel1 ON sims.b = sel1.vec_id GROUP BY a) p
            ON p.a = c.vec_id
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
          ORDER BY mmr_score DESC, c.vec_id LIMIT 1),
        sel2 AS (SELECT vec_id FROM sel1
          UNION ALL SELECT vec_id FROM s2),
        s3 AS (SELECT 3 AS rank, c.vec_id,
            cast(0.7 as double) * c.rel - cast(0.3 as double) * p.pen
              AS mmr_score
          FROM cand c JOIN (SELECT a, max(sim) AS pen FROM sims
            JOIN sel2 ON sims.b = sel2.vec_id GROUP BY a) p
            ON p.a = c.vec_id
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
          ORDER BY mmr_score DESC, c.vec_id LIMIT 1),
        sel3 AS (SELECT vec_id FROM sel2
          UNION ALL SELECT vec_id FROM s3),
        s4 AS (SELECT 4 AS rank, c.vec_id,
            cast(0.7 as double) * c.rel - cast(0.3 as double) * p.pen
              AS mmr_score
          FROM cand c JOIN (SELECT a, max(sim) AS pen FROM sims
            JOIN sel3 ON sims.b = sel3.vec_id GROUP BY a) p
            ON p.a = c.vec_id
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
          ORDER BY mmr_score DESC, c.vec_id LIMIT 1),
        sel4 AS (SELECT vec_id FROM sel3
          UNION ALL SELECT vec_id FROM s4),
        s5 AS (SELECT 5 AS rank, c.vec_id,
            cast(0.7 as double) * c.rel - cast(0.3 as double) * p.pen
              AS mmr_score
          FROM cand c JOIN (SELECT a, max(sim) AS pen FROM sims
            JOIN sel4 ON sims.b = sel4.vec_id GROUP BY a) p
            ON p.a = c.vec_id
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
          ORDER BY mmr_score DESC, c.vec_id LIMIT 1)
        SELECT * FROM (
          SELECT * FROM s1 UNION ALL SELECT * FROM s2
          UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
          UNION ALL SELECT * FROM s5) u
        ORDER BY rank""")),


    // ------------------------------------------------------------------
    // Johnson-Lindenstrauss random projection — embedding COMPRESSION
    // for the ANN stack (s02 buckets, s03 partitions, s06 quantizes;
    // this shrinks the vectors themselves): 64 dims → 16 via the
    // sparse Achlioptas projection (entries +1/−1/0 w.p. 1/6, 1/6,
    // 2/3 — "Database-friendly random projections", PODS'01), with
    // the matrix derived from h60 so both engines build the IDENTICAL
    // projection from nothing but the seed strings. The constant
    // sqrt(3/16) scale factor is dropped deliberately: cosine is
    // scale-invariant, so it cancels. Output: the projected-space
    // top-10 with an in_exact flag against the full-dimension top-10
    // — the recall readout (s04's harness pattern). Scale shape: the
    // 16×64 matrix is a driver literal (data-independent); projection
    // is one row-local map (4× smaller vectors = 4× less ANN memory
    // and shuffle); the exact full-dim leg exists for evaluation, as
    // in s04 — production scans only the projected column.
    // ------------------------------------------------------------------
    "s08_jl_recall" -> Q(
      (s, d) => {
        val target = 16
        val base0 = emb(s, d)
        val dim = base0.select(size(col("embedding"))).head.getInt(0)
        val signs: Seq[Seq[Double]] = (0 until target).map(j =>
          (0 until dim).map { i =>
            graft.functions.PortableHash.h60(s"jl_${j}_${i}") % 6L match {
              case 0L => 1.0
              case 1L => -1.0
              case _ => 0.0
            }
          })
        val signsC = typedLit(signs)
        val proj = base0.withColumn("pv",
          transform(sequence(lit(0), lit(target - 1)), j =>
            graft.functions.VectorDot.dot(col("embedding"),
              element_at(signsC, j + 1))))
          .select(col("vec_id"), col("pv"))
        val q = proj.filter(col("vec_id") === 0)
          .select(col("pv").as("qpv"))
        val proj10 = proj.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("cos_proj", cosine(col("pv"), col("qpv")))
          .select(col("vec_id"), col("cos_proj"))
          .orderBy(col("cos_proj").desc, col("vec_id"))
          .limit(10)
        val qe = base0.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val ex10 = base0.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qe))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"), lit(true).as("in_exact"))
        proj10.join(ex10, Seq("vec_id"), "left")
          .withColumn("in_exact", coalesce(col("in_exact"), lit(false)))
          .orderBy(col("cos_proj").desc, col("vec_id"))
      },
      Some("""WITH e AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x -> cast(x as double))
            AS v FROM embeddings),
        dim AS (SELECT max(len(v)) AS d FROM e),
        signs AS (
          SELECT j, list_transform(range(0, d), i ->
            CASE ('0x' || substr(md5('jl_' || j || '_' || i), 1, 15))
                ::BIGINT % 6
              WHEN 0 THEN cast(1 as double)
              WHEN 1 THEN cast(-1 as double)
              ELSE cast(0 as double) END) AS sv
          FROM range(0, 16) t(j), dim),
        sg AS (SELECT list(sv ORDER BY j) AS svs FROM signs),
        p AS (SELECT vec_id,
            list_transform(range(0, 16), j -> list_dot_product(v, svs[j+1]))
              AS pv
          FROM e, sg),
        np AS (SELECT vec_id, pv,
          sqrt(list_sum(list_transform(pv, x -> x * x))) AS nrm FROM p),
        q AS (SELECT pv AS qpv, nrm AS qnrm FROM np WHERE vec_id = 0),
        proj10 AS (
          SELECT np.vec_id,
            list_dot_product(np.pv, q.qpv) / np.nrm / q.qnrm AS cos_proj
          FROM np, q WHERE np.vec_id <> 0
          ORDER BY cos_proj DESC, np.vec_id LIMIT 10),
        n2 AS (SELECT vec_id, v,
          sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        q2 AS (SELECT v AS qv, nrm AS qnrm FROM n2 WHERE vec_id = 0),
        ex10 AS (
          SELECT n2.vec_id FROM n2, q2 WHERE n2.vec_id <> 0
          ORDER BY list_dot_product(n2.v, q2.qv) / n2.nrm / q2.qnrm DESC,
            n2.vec_id
          LIMIT 10)
        SELECT p.vec_id, p.cos_proj,
          p.vec_id IN (SELECT vec_id FROM ex10) AS in_exact
        FROM proj10 p
        ORDER BY p.cos_proj DESC, p.vec_id""")),


    // ------------------------------------------------------------------
    // IVF-PQ hybrid ANN — the production index layout (FAISS IVFPQ;
    // Jégou et al. TPAMI 2011): coarse inverted-file cells prune the
    // scan, product quantization on the RESIDUAL (v − cell centroid)
    // compresses what remains. Composition of proven pieces: s03's
    // literal-codebook cell argmin, s05's ·1000 integer quantization
    // (residuals of quantized longs are exact integers — the whole
    // query is integer arithmetic until nothing), s06's trained-PQ ADC
    // scan — but trained on the residual frame, which is WHY IVF-PQ
    // beats flat PQ: residuals concentrate near zero, so the same 16
    // codewords spend their resolution on a much smaller ball. The
    // residual identity also gives exact distances for free: within a
    // probed cell, v − q = rv − rq(cell) (the centroid cancels), so
    // the ride-along exact column never needs the original vectors.
    // Scale shape: assignment/residual/codes are row-local folds over
    // literals (zero shuffle); training is s06's one distributed pass;
    // the ADC scan touches only the 2 probed cells' rows and the
    // per-query LUT is 8×16 driver integers.
    // ------------------------------------------------------------------
    "s11_ivfpq_ann" -> Q(
      (s, d) => {
        val nSub = 8; val subDim = 8; val kCent = 16; val kCells = 8
        val dim = nSub * subDim
        val quant = transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000.0)).cast("long"))
        val base = emb(s, d).select(col("vec_id"), quant.as("qv"))
        val cellVecs = base.filter(col("vec_id") < kCells)
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq))
          .sortBy(_._1).toIndexedSeq
        val qVec = base.filter(col("vec_id") === 0)
          .head().getSeq[Long](1).toIndexedSeq
        def l2(a: IndexedSeq[Long], b: IndexedSeq[Long]): Long = {
          var s2 = 0L; var j = 0
          while (j < dim) { val d0 = a(j) - b(j); s2 += d0 * d0; j += 1 }
          s2
        }
        // strict < keeps the first (smallest cid) on ties — the same
        // rule as the column-side fold and the oracle's row_number
        def assignLocal(v: IndexedSeq[Long]): Int = {
          var bd = Long.MaxValue; var bc = -1
          cellVecs.foreach { case (cid, cv) =>
            val s2 = l2(v, cv)
            if (s2 < bd) { bd = s2; bc = cid.toInt }
          }
          bc
        }
        val cellArr = array(cellVecs.map { case (id, v) =>
          struct(lit(id).as("cid"),
            array(v.map(lit(_)): _*).as("cv"))
        }: _*)
        val cellCvArr = array(cellVecs.map { case (_, v) =>
          array(v.map(lit(_)): _*)
        }: _*)
        val cellOf = aggregate(cellArr,
          struct(lit(Long.MaxValue).as("dist"), lit(-1L).as("cid")),
          (acc, c) => {
            val dist = aggregate(zip_with(col("qv"), c.getField("cv"),
              (a, b) => (a - b) * (a - b)), lit(0L), (s2, x) => s2 + x)
            when(dist < acc.getField("dist"),
              struct(dist.as("dist"), c.getField("cid").as("cid")))
              .otherwise(acc)
          }).getField("cid")
        val resid = base.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("qv"), cellOf.as("cell"))
          .select(col("vec_id"), col("cell"),
            zip_with(col("qv"),
              element_at(cellCvArr, (col("cell") + 1).cast("int")),
              (a, b) => a - b).as("rv"))
          .localCheckpoint()
        // PQ seeds = residuals of vectors 8..23 (driver-derived, cid
        // = vec_id − 8); trained one Lloyd step on the residual frame
        val seeds = base
          .filter(col("vec_id") >= kCells &&
            col("vec_id") < kCells + kCent)
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq))
          .sortBy(_._1).toIndexedSeq
          .map { case (id, v) =>
            val c = assignLocal(v)
            (id - kCells,
              IndexedSeq.tabulate(dim)(j => v(j) - cellVecs(c)._2(j)): Seq[Long])
          }
        val trained = trainPqCodebooks(
          resid.select(col("rv").as("qv")), nSub, subDim, seeds)
        // the query's 2 nearest cells + its residual in each
        val probes = cellVecs.map { case (cid, cv) => (l2(qVec, cv), cid) }
          .sorted.take(2).map(_._2)
        val rq: Map[Long, IndexedSeq[Long]] = probes.map { cid =>
          cid -> IndexedSeq.tabulate(dim)(j =>
            qVec(j) - cellVecs(cid.toInt)._2(j))
        }.toMap
        def lutFor(cid: Long): IndexedSeq[IndexedSeq[Long]] =
          IndexedSeq.tabulate(nSub) { sub =>
            trained(sub).map { case (_, cv) =>
              var s2 = 0L; var j = 0
              while (j < subDim) {
                val d0 = rq(cid)(sub * subDim + j) - cv(j)
                s2 += d0 * d0; j += 1
              }
              s2
            }.toIndexedSeq
          }
        val luts = probes.map(cid => cid -> lutFor(cid)).toMap
        val codeCols = (0 until nSub).map { sub =>
          val centSlices = array(trained(sub).map { case (cid, cv) =>
            struct(lit(cid).as("cid"),
              array(cv.map(lit(_)): _*).as("cv"))
          }: _*)
          val rSlice = array((0 until subDim).map(j =>
            col("rv").getItem(sub * subDim + j)).toIndexedSeq: _*)
          aggregate(centSlices,
            struct(lit(Long.MaxValue).as("dist"), lit(-1L).as("cid")),
            (acc, c) => {
              val dist = aggregate(zip_with(rSlice, c.getField("cv"),
                (a, b) => (a - b) * (a - b)), lit(0L), (s2, x) => s2 + x)
              when(dist < acc.getField("dist"),
                struct(dist.as("dist"), c.getField("cid").as("cid")))
                .otherwise(acc)
            }).getField("cid").as(s"code$sub")
        }
        def approxFor(cid: Long): Column = (0 until nSub).map { sub =>
          element_at(array(luts(cid)(sub).map(lit(_)): _*),
            (col(s"code$sub") + 1).cast("int"))
        }.reduce(_ + _)
        def exactFor(cid: Long): Column = {
          val rqArr = array(rq(cid).map(lit(_)): _*)
          aggregate(zip_with(col("rv"), rqArr,
            (a, b) => (a - b) * (a - b)), lit(0L), (s2, x) => s2 + x)
        }
        resid.filter(col("cell").isin(probes: _*))
          .select(col("vec_id") +: col("cell") +: col("rv") +:
            codeCols: _*)
          .select(col("vec_id"), col("cell"),
            when(col("cell") === probes(0), approxFor(probes(0)))
              .otherwise(approxFor(probes(1))).as("approx_dist"),
            when(col("cell") === probes(0), exactFor(probes(0)))
              .otherwise(exactFor(probes(1))).as("exact_dist"))
          .orderBy(col("approx_dist"), col("vec_id"))
          .limit(10)
      },
      Some("""WITH e AS MATERIALIZED (
          SELECT vec_id,
            list_transform(embedding, x ->
              cast(floor(cast(x as double) * 1000) as bigint)) AS qv
          FROM embeddings),
        cells AS MATERIALIZED (
          SELECT vec_id AS ccid, qv AS ccv FROM e WHERE vec_id < 8),
        asgn AS (
          SELECT vec_id, ccid AS cell FROM (
            SELECT e.vec_id, c.ccid,
              row_number() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(range(1, 65), j ->
                  (e.qv[cast(j as int)] - c.ccv[cast(j as int)]) *
                  (e.qv[cast(j as int)] - c.ccv[cast(j as int)]))),
                c.ccid) AS rn
            FROM e, cells c WHERE e.vec_id <> 0) x WHERE rn = 1),
        resid AS MATERIALIZED (
          SELECT e.vec_id, a.cell,
            list_transform(range(1, 65), j ->
              e.qv[cast(j as int)] - c.ccv[cast(j as int)]) AS rv
          FROM e JOIN asgn a ON a.vec_id = e.vec_id
          JOIN cells c ON c.ccid = a.cell),
        q AS (SELECT qv AS quv FROM e WHERE vec_id = 0),
        qp AS (
          SELECT c.ccid AS pcell,
            list_transform(range(1, 65), j ->
              q.quv[cast(j as int)] - c.ccv[cast(j as int)]) AS rq,
            row_number() OVER (ORDER BY
              list_sum(list_transform(range(1, 65), j ->
                (q.quv[cast(j as int)] - c.ccv[cast(j as int)]) *
                (q.quv[cast(j as int)] - c.ccv[cast(j as int)]))),
              c.ccid) AS prn
          FROM cells c, q),
        probes AS MATERIALIZED (SELECT pcell, rq FROM qp WHERE prn <= 2),
        subs AS (SELECT unnest(range(0, 8)) AS sub),
        sa AS (
          SELECT e.vec_id AS sid, a.cell, e.qv
          FROM e JOIN asgn a ON a.vec_id = e.vec_id
          WHERE e.vec_id >= 8 AND e.vec_id < 24),
        cb0 AS MATERIALIZED (
          SELECT s.sub, sa.sid - 8 AS cid,
            list_transform(range(1, 9), j ->
              (sa.qv[cast(s.sub * 8 + j as int)] -
               c.ccv[cast(s.sub * 8 + j as int)])) AS cv
          FROM sa JOIN cells c ON c.ccid = sa.cell, subs s),
        """ + sqlTrainPqCodebooks("resid", "rv") + """,
        codes AS MATERIALIZED (
          SELECT vec_id, cell, sub, cid AS code FROM (
            SELECT r.vec_id, r.cell, c.sub, c.cid,
              row_number() OVER (PARTITION BY r.vec_id, c.sub ORDER BY
                list_sum(list_transform(range(1, 9), j ->
                  (r.rv[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]) *
                  (r.rv[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]))),
                c.cid) AS rn
            FROM resid r, cb c
            WHERE r.cell IN (SELECT pcell FROM probes)) x WHERE rn = 1),
        lut AS MATERIALIZED (
          SELECT p.pcell, c.sub, c.cid,
            list_sum(list_transform(range(1, 9), j ->
              (p.rq[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)]) *
              (p.rq[cast(c.sub * 8 + j as int)] - c.cv[cast(j as int)])))
              AS d
          FROM cb c, probes p),
        ad AS (
          SELECT codes.vec_id, codes.cell,
            cast(sum(l.d) as bigint) AS approx_dist
          FROM codes JOIN lut l ON l.pcell = codes.cell
            AND l.sub = codes.sub AND l.cid = codes.code
          GROUP BY 1, 2),
        ex AS (
          SELECT r.vec_id,
            cast(list_sum(list_transform(range(1, 65), j ->
              (r.rv[cast(j as int)] - p.rq[cast(j as int)]) *
              (r.rv[cast(j as int)] - p.rq[cast(j as int)])))
              as bigint) AS exact_dist
          FROM resid r JOIN probes p ON p.pcell = r.cell)
        SELECT ad.vec_id, ad.cell, ad.approx_dist, ex.exact_dist
        FROM ad JOIN ex ON ex.vec_id = ad.vec_id
        ORDER BY ad.approx_dist, ad.vec_id LIMIT 10""")),


    // ------------------------------------------------------------------
    // Scalar quantization (SQ8) ANN — FAISS's other compression family
    // (per-DIMENSION affine int8, vs PQ's per-SUBSPACE codebooks):
    // train = ONE distributed per-dim min/max pass (map-side partial
    // min/max, a dim-keyed shuffle of 64 rows per partition); encode =
    // row-local c_i = ((x_i − mn_i)·255) div rg_i against the 2×64
    // literal arrays — integer-exact in both engines via the
    // (a − a mod b)/b identity (no float rounding anywhere near the
    // codes). 4× compression (64 bytes/vector vs 256 as float32,
    // codes are 0..255), distance = Σ Δcode² in pure int arithmetic.
    // Recall harness is s08's: SQ top-10 vs full-precision (quantized-
    // long) L2 top-10 with in_exact flags. Scale shape: the scan is
    // zero-shuffle row-local folds + TakeOrdered; SQ8 is what you use
    // when PQ's codebook training is not worth it but the index must
    // fit in memory.
    // ------------------------------------------------------------------
    "s12_sq8_recall" -> Q(
      (s, d) => {
        val base0 = emb(s, d)
        val quant = transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000.0)).cast("long"))
        val base = base0.select(col("vec_id"), quant.as("qv"))
          .localCheckpoint()
        val mm = base
          .select(posexplode(col("qv")))
          .groupBy(col("pos"))
          .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        val mnArr = array(mm.map(t => lit(t._2)).toIndexedSeq: _*)
        val rgArr = array(mm.map(t =>
          lit(math.max(t._3 - t._2, 1L))).toIndexedSeq: _*)
        val codes = base.select(col("vec_id"),
          transform(col("qv"), (x, i) => {
            val num = (x - element_at(mnArr, i + 1)) * 255
            val rg = element_at(rgArr, i + 1)
            ((num - pmod(num, rg)) / rg).cast("long")
          }).as("c"))
        val sqd = aggregate(
          zip_with(col("c"), col("qc"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v)
        val q = codes.filter(col("vec_id") === 0).select(col("c").as("qc"))
        val sq10 = codes.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("sq_dist", sqd)
          .select(col("vec_id"), col("sq_dist"))
          .orderBy(col("sq_dist"), col("vec_id")).limit(10)
        val exd = aggregate(
          zip_with(col("qv"), col("qq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v)
        val qe = base.filter(col("vec_id") === 0).select(col("qv").as("qq"))
        val ex10 = base.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qe))
          .withColumn("d2", exd)
          .orderBy(col("d2"), col("vec_id")).limit(10)
          .select(col("vec_id"), lit(true).as("in_exact"))
        sq10.join(ex10, Seq("vec_id"), "left")
          .withColumn("in_exact", coalesce(col("in_exact"), lit(false)))
          .orderBy(col("sq_dist"), col("vec_id"))
      },
      Some("""WITH e AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x ->
            cast(floor(cast(x as double) * 1000.0) as bigint)) AS qv
          FROM embeddings),
        dims AS (SELECT unnest(range(0,
            (SELECT max(len(qv)) FROM e))) AS i),
        mm AS (
          SELECT i, min(qv[cast(i + 1 as int)]) AS mn,
            greatest(max(qv[cast(i + 1 as int)]) -
              min(qv[cast(i + 1 as int)]), 1) AS rg
          FROM e, dims GROUP BY i),
        mml AS (SELECT list(mn ORDER BY i) AS mns,
            list(rg ORDER BY i) AS rgs FROM mm),
        c AS MATERIALIZED (
          SELECT vec_id, list_transform(range(0, len(qv)), i ->
              ((qv[i + 1] - mns[i + 1]) * 255) // rgs[i + 1]) AS c
          FROM e, mml),
        q AS (SELECT c AS qc FROM c WHERE vec_id = 0),
        sq AS (
          SELECT c.vec_id,
            cast(list_sum(list_transform(range(0, len(c.c)), i ->
              (c.c[i + 1] - q.qc[i + 1]) * (c.c[i + 1] - q.qc[i + 1])))
              as bigint) AS sq_dist
          FROM c, q WHERE c.vec_id <> 0),
        top10 AS (SELECT vec_id, sq_dist FROM sq
          ORDER BY sq_dist, vec_id LIMIT 10),
        qe AS (SELECT qv AS qq FROM e WHERE vec_id = 0),
        ex AS (
          SELECT e.vec_id,
            list_sum(list_transform(range(0, len(e.qv)), i ->
              (e.qv[i + 1] - qe.qq[i + 1]) * (e.qv[i + 1] - qe.qq[i + 1])))
              AS d2
          FROM e, qe WHERE e.vec_id <> 0),
        ex10 AS (SELECT vec_id FROM ex ORDER BY d2, vec_id LIMIT 10)
        SELECT t.vec_id, t.sq_dist,
          t.vec_id IN (SELECT vec_id FROM ex10) AS in_exact
        FROM top10 t ORDER BY t.sq_dist, t.vec_id""")),


    // ------------------------------------------------------------------
    // FILTERED vector search (hybrid search) — the production ANN
    // problem every vector store actually faces: top-k under a
    // metadata predicate (label = 1 here). The scale-correct shape is
    // PRE-filtering: the predicate reaches the parquet scan
    // (PushedFilters in QProf), so the distance pass touches only
    // qualifying rows — at 100 TB with a 10% selective predicate
    // that is 10× less scan AND a guaranteed-full result. The
    // in_unfiltered_topk ride-along quantifies why the tempting
    // alternative — post-filtering a plain top-k — is WRONG: only the
    // flagged rows would survive post-filtering a k=10 unfiltered
    // search, the rest starve (you'd need k/selectivity ≈ 100 to fill
    // 10). Same argument drives IVF probing: cells × selectivity
    // decides probes, which is why real systems store per-cell label
    // histograms (s03's cells compose with this filter unchanged).
    // ------------------------------------------------------------------
    "s13_filtered_ann" -> Q(
      (s, d) => {
        val base = emb(s, d)
        val q = base.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        def scored = base.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
        val filtered10 = scored.filter(col("label") === 1)
          .select(col("vec_id"), col("label"), col("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
        val plain10 = scored
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select(col("vec_id"), lit(true).as("in_unfiltered_topk"))
        filtered10.join(plain10, Seq("vec_id"), "left")
          .withColumn("in_unfiltered_topk",
            coalesce(col("in_unfiltered_topk"), lit(false)))
          .orderBy(col("cos").desc, col("vec_id"))
      },
      Some("""WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, label, v,
          sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        f10 AS (
          SELECT n.vec_id, n.label,
            list_dot_product(n.v, q.qv) / n.nrm / q.qnrm AS cos
          FROM n, q
          WHERE n.vec_id <> 0 AND n.label = 1
          ORDER BY cos DESC, n.vec_id LIMIT 10),
        p10 AS (
          SELECT n.vec_id
          FROM n, q WHERE n.vec_id <> 0
          ORDER BY list_dot_product(n.v, q.qv) / n.nrm / q.qnrm DESC,
            n.vec_id
          LIMIT 10)
        SELECT f.vec_id, f.label, f.cos,
          f.vec_id IN (SELECT vec_id FROM p10) AS in_unfiltered_topk
        FROM f10 f
        ORDER BY f.cos DESC, f.vec_id""")),


    // ------------------------------------------------------------------
    // Cluster-balanced sample selection (the SemDeDup / cluster-pruning
    // family, Abbas et al. 2023): pick a fixed-size per-CLUSTER sample
    // instead of a global one, so the subset preserves the corpus's
    // semantic diversity — a global top-k or uniform sample
    // over-represents the dense clusters that dedup exists to thin.
    // Composition of two proven bounded shapes: s03's row-local
    // literal-codebook argmax assigns every vector to its nearest of
    // k=8 centroids with ZERO shuffle, then x24's KMV min-set trick
    // takes the per-cluster k-sample as the k smallest h60 hashes —
    // bounded ≤k·8-byte map-side buffers per cluster, never a
    // per-cluster row_number sort over the corpus. At 100 TB the only
    // data-scale work is one scan (assignment is row-local, the
    // sample aggregation is additive); the rank window below runs over
    // ≤ k·n_clusters survivors.
    // ------------------------------------------------------------------
    "s10_cluster_sample" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val kSample = 10
        val kmvset = udaf(new graft.functions.KmvMinSet(kSample),
          org.apache.spark.sql.Encoders.scalaLong)
        val assigned = assignToCodebook(s, d)
          .select(col("vec_id"), col("cent_id"),
            graft.functions.PortableHash.h60col(
              concat(lit("cbs_"), col("vec_id"))).as("h"))
        val cells = assigned.groupBy(col("cent_id"))
          .agg(count(lit(1)).as("n_members"),
            kmvset(col("h")).as("mins"))
        assigned.join(broadcast(cells), Seq("cent_id"))
          .filter(array_contains(col("mins"), col("h")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("cent_id"))
              .orderBy(col("h"), col("vec_id"))))
          // x24's collision guard: the k DISTINCT min-hashes could
          // admit k+1 vectors; the rank cut pins identical rows
          .filter(col("rnk") <= kSample)
          .select(col("cent_id").as("cluster"), col("n_members"),
            col("rnk"), col("vec_id"))
          .orderBy(col("cluster"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, v,
          sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
          FROM n WHERE vec_id < 8),
        asgn AS (
          SELECT vec_id, cent_id FROM (
            SELECT n.vec_id, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id
                ORDER BY list_dot_product(n.v, c.cv) / n.nrm / c.cnrm
                  DESC, c.cent_id) AS rn
            FROM n, c) x WHERE rn = 1),
        h AS (SELECT cent_id, vec_id,
            ('0x' || substr(md5('cbs_' || vec_id), 1, 15))::BIGINT AS h
          FROM asgn),
        sz AS (SELECT cent_id, cast(count(*) as bigint) AS n_members
          FROM h GROUP BY 1),
        r AS (SELECT cent_id, vec_id, h,
            cast(row_number() OVER (PARTITION BY cent_id
              ORDER BY h, vec_id) as integer) AS rnk
          FROM h)
        SELECT r.cent_id AS cluster, sz.n_members, r.rnk, r.vec_id
        FROM r JOIN sz USING (cent_id) WHERE rnk <= 10
        ORDER BY cluster, rnk""")),


    // ------------------------------------------------------------------
    // Scalar quantization (SQ8, the FAISS ScalarQuantizer shape) — the
    // third vector-compression posture next to s06's PQ and the
    // full-precision scan: per-DIMENSION affine [min, max] → uint8
    // codes (4× memory vs float32, 8× vs the double working set;
    // at 100 TB the scan's byte volume IS the query cost, so SQ is
    // the first dial a vector store turns). Scoring follows the
    // production recipe: RECONSTRUCT each code to its cell midpoint
    // (mn + (q + 0.5)·span/255) and rank by reconstructed cosine —
    // NOT by raw integer dot, whose affine shift destroys the ranking
    // (measured: 0/10 recall vs 10/10 for reconstruct-and-score on
    // this corpus; the delta is the whole point of the midpoint
    // dequantization step).
    //
    // The 64 (mn, span) pairs are one posexplode agg collected to
    // LITERAL arrays (metadata-scale, the codebook precedent), so
    // quantize→reconstruct→cosine is a row-local zero-shuffle
    // projection over the corpus; top-10 + recall flag against the
    // full-precision ranking (s01's formulation) in one output.
    // Every double expression is written with identical operation
    // order in both engines — floor/quantize/reconstruct/cosine all
    // hash-match bit-for-bit.
    // ------------------------------------------------------------------
    "s17_sq_int8" -> Q(
      (s, d) => {
        val base = emb(s, d).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        val stats = base
          .select(posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("i"))
          .agg(min(col("x")).as("mn"),
            (max(col("x")) - min(col("x"))).as("span"))
          .orderBy(col("i")).collect()
        val mns = array(stats.map(r =>
          lit(r.getDouble(1))).toIndexedSeq: _*)
        val sps = array(stats.map(r =>
          lit(r.getDouble(2))).toIndexedSeq: _*)
        def quantize(v: Column): Column =
          transform(v, (x, j) =>
            when(element_at(sps, j + 1) === 0d, lit(0L))
              .otherwise(floor((x - element_at(mns, j + 1)) * lit(255.0) /
                element_at(sps, j + 1))))
        def reconstruct(qv: Column): Column =
          transform(qv, (q, j) =>
            element_at(mns, j + 1) + (q.cast("double") + lit(0.5)) *
              element_at(sps, j + 1) / lit(255.0))
        val rec = base.select(col("vec_id"),
          reconstruct(quantize(col("v"))).as("rv"))
        val qrow = rec.filter(col("vec_id") === 0)
          .select(col("rv").as("qrv"))
        val topQ = rec.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qrow))
          .withColumn("qcos", cosine(col("rv"), col("qrv")))
          .select(col("vec_id"), col("qcos"))
          .orderBy(col("qcos").desc, col("vec_id")).limit(10)
        val qx = base.filter(col("vec_id") === 0)
          .select(col("v").as("qe"))
        val topE = base.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qx))
          .withColumn("cos", cosine(col("v"), col("qe")))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select(col("vec_id"), lit(true).as("flag"))
        topQ.join(topE, Seq("vec_id"), "left")
          .select(col("vec_id"), col("qcos"),
            coalesce(col("flag"), lit(false)).as("in_exact"))
          .orderBy(col("qcos").desc, col("vec_id"))
      },
      Some("""WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
        st AS (
          SELECT j.i, min(v[j.i + 1]) AS mn,
            max(v[j.i + 1]) - min(v[j.i + 1]) AS span
          FROM e, LATERAL (SELECT unnest(range(0, len(v))) AS i) j
          GROUP BY j.i),
        arrs AS (
          SELECT list(mn ORDER BY i) AS mns,
            list(span ORDER BY i) AS sps FROM st),
        q0 AS (
          SELECT vec_id,
            list_transform(range(0, len(v)), j ->
              CASE WHEN sps[j+1] = 0 THEN cast(0 as bigint)
                ELSE cast(floor((v[j+1] - mns[j+1]) * 255.0 / sps[j+1])
                  as bigint)
              END) AS qv
          FROM e, arrs),
        rec AS (
          SELECT vec_id,
            list_transform(range(0, len(qv)), j ->
              mns[j+1] + (cast(qv[j+1] as double) + 0.5) * sps[j+1]
                / 255.0) AS rv
          FROM q0, arrs),
        rn AS (SELECT vec_id, rv,
            sqrt(list_sum(list_transform(rv, x -> x * x))) AS nrm
          FROM rec),
        rq AS (SELECT rv AS qrv, nrm AS qnrm FROM rn WHERE vec_id = 0),
        top_q AS (
          SELECT rn.vec_id,
            list_dot_product(rn.rv, rq.qrv) / rn.nrm / rq.qnrm AS qcos
          FROM rn, rq WHERE rn.vec_id <> 0
          ORDER BY qcos DESC, rn.vec_id LIMIT 10),
        n AS (SELECT vec_id, v,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
        qx AS (SELECT v AS qv2, nrm AS qnrm FROM n WHERE vec_id = 0),
        top_e AS (
          SELECT n.vec_id FROM n, qx WHERE n.vec_id <> 0
          ORDER BY list_dot_product(n.v, qx.qv2) / n.nrm / qx.qnrm DESC,
            n.vec_id LIMIT 10)
        SELECT t.vec_id, t.qcos,
          t.vec_id IN (SELECT vec_id FROM top_e) AS in_exact
        FROM top_q t ORDER BY t.qcos DESC, t.vec_id""")),


    // ------------------------------------------------------------------
    // ANN method-comparison harness — d15's role for the VECTOR index
    // family: the same query (vec 0, k = 10) through all four retrieval
    // postures, each leg the EXACT formulation of its sibling query,
    // with the two axes a deployment prices side by side: candidates
    // scored (cost) and recall@10 vs exact (quality).
    //   a_exact — s01's full scan: n−1 candidates, recall 10 by def.
    //   b_lsh6  — s02's 6-hyperplane 64-bucket probe: 8 candidates,
    //             recall 0/10 here — the honest "this config is too
    //             aggressive for this corpus" readout (64 buckets over
    //             near-uniform vectors leave ~n/64 per bucket and the
    //             true neighbors elsewhere), exactly what the harness
    //             exists to catch BEFORE a production rollout.
    //   c_ivf2  — s03's 8-cell codebook, 2 probes: ~n/4 candidates,
    //             recall 10/10.
    //   d_sq8   — s17's reconstructed-SQ8 full scan: all candidates at
    //             a quarter the bytes, recall 10/10.
    // One exact top-10 (localCheckpointed — 10 rows) serves as ground
    // truth for every leg; counts are in-plan scalar aggregates
    // (1-row frames, allowlisted), never driver loops.
    // ------------------------------------------------------------------
    "s18_ann_harness" -> Q(
      (s, d) => {
        val base = emb(s, d)
        val q1 = base.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        def top10(cands: DataFrame): DataFrame = cands
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q1))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10).select(col("vec_id"))
        val truth = top10(base).localCheckpoint()
        def legRow(tag: String, nCand: DataFrame,
            top: DataFrame): DataFrame =
          nCand.crossJoin(
            top.join(truth, Seq("vec_id"), "left_semi")
              .agg(count(lit(1)).as("recall_10")))
            .select(lit(tag).as("method"), col("n_candidates"),
              col("recall_10"))
        // a_exact
        val nAll = base.filter(col("vec_id") =!= 0)
          .agg(count(lit(1)).as("n_candidates"))
        // b_lsh6 — s02's bucket expression
        val dim = base.select(size(col("embedding"))).head.getInt(0)
        val bkts = base.withColumn("bkt", lshBucket(col("embedding"), 6, dim))
        val qbkt = bkts.filter(col("vec_id") === 0)
          .select(col("bkt").as("qbkt"))
        val lshCand = bkts.join(broadcast(qbkt),
            col("bkt") === col("qbkt"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"))
        // c_ivf2 — s03's probe verbatim
        val cents = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
        val probe = cents.crossJoin(broadcast(q1))
          .withColumn("qsim", cosine(col("ce"), col("qe")))
          .orderBy(col("qsim").desc, col("cent_id"))
          .limit(2)
          .select(col("cent_id").as("probe_cent"))
        val ivfCand = assignToCodebook(s, d)
          .join(broadcast(probe), col("cent_id") === col("probe_cent"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"))
        // d_sq8 — s17's reconstruct path verbatim (double arrays)
        val dbl = base.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        val stats = dbl
          .select(posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("i"))
          .agg(min(col("x")).as("mn"),
            (max(col("x")) - min(col("x"))).as("span"))
          .orderBy(col("i")).collect()
        val mns = array(stats.map(r =>
          lit(r.getDouble(1))).toIndexedSeq: _*)
        val sps = array(stats.map(r =>
          lit(r.getDouble(2))).toIndexedSeq: _*)
        val rec = dbl.select(col("vec_id"),
          transform(
            transform(col("v"), (x, j) =>
              when(element_at(sps, j + 1) === 0d, lit(0L))
                .otherwise(floor((x - element_at(mns, j + 1)) *
                  lit(255.0) / element_at(sps, j + 1)))),
            (qv, j) =>
              element_at(mns, j + 1) + (qv.cast("double") + lit(0.5)) *
                element_at(sps, j + 1) / lit(255.0)).as("embedding"))
        val rq = rec.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val sqTop = rec.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(rq))
          .withColumn("cos", cosine(col("embedding"), col("qe")))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10).select(col("vec_id"))
        // e_graph — s25's beam search over the s15 k-NN graph (shared
        // graphBeamSearch machinery): candidates = every node the
        // search SCORED (the honest rows-scanned bill of the
        // navigate-don't-scan posture); its top-10 ranks by the same
        // cosine the other legs use
        val (snaps, _) = graphBeamSearch(base)
        val graphScored = snaps.last._2
        val graphTop = graphScored.filter(col("vec_id") =!= 0)
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10).select(col("vec_id"))
        legRow("a_exact", nAll, truth)
          .unionAll(legRow("b_lsh6",
            lshCand.agg(count(lit(1)).as("n_candidates")),
            top10(lshCand)))
          .unionAll(legRow("c_ivf2",
            ivfCand.agg(count(lit(1)).as("n_candidates")),
            top10(ivfCand)))
          .unionAll(legRow("d_sq8", nAll, sqTop))
          .unionAll(legRow("e_graph",
            graphScored.agg(count(lit(1)).as("n_candidates")),
            graphTop))
          .orderBy(col("method"))
      },
      Some("""WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, v,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        truth AS MATERIALIZED (
          SELECT n.vec_id FROM n, q WHERE n.vec_id <> 0
          ORDER BY list_dot_product(n.v, q.qv) / n.nrm / q.qnrm DESC,
            n.vec_id LIMIT 10),
        dim AS (SELECT max(len(v)) AS d FROM e),
        planes AS (
          SELECT p, list_transform(range(0, d), i ->
            cast(('0x' || substr(md5(p || '_' || i), 1, 15))::BIGINT
              % 1000 as double) / 500.0 - 1.0) AS pv
          FROM range(0, 6) t(p), dim),
        pl AS (SELECT list(pv ORDER BY p) AS pvs FROM planes),
        b AS (
          SELECT vec_id, v, nrm,
            cast(list_sum(list_transform(range(0, 6), p ->
              CASE WHEN list_dot_product(v, pvs[p+1]) > 0
                THEN (1::BIGINT << p) ELSE 0::BIGINT END)) as bigint)
              AS bkt
          FROM n, pl),
        qb AS (SELECT bkt AS qbkt FROM b WHERE vec_id = 0),
        lsh_cand AS MATERIALIZED (
          SELECT b.vec_id, b.v, b.nrm FROM b, qb
          WHERE b.bkt = qb.qbkt AND b.vec_id <> 0),
        lsh_top AS MATERIALIZED (
          SELECT c.vec_id FROM lsh_cand c, q
          ORDER BY list_dot_product(c.v, q.qv) / c.nrm / q.qnrm DESC,
            c.vec_id LIMIT 10),
        """ + sqlAssignToCodebook() + """,
        probe AS (
          SELECT cent_id FROM c, q
          ORDER BY list_dot_product(cv, qv) / cnrm / qnrm DESC, cent_id
          LIMIT 2),
        ivf_cand AS MATERIALIZED (
          SELECT a.vec_id, a.v, a.nrm FROM assigned a
          JOIN probe p ON a.cent_id = p.cent_id
          WHERE a.vec_id <> 0),
        ivf_top AS MATERIALIZED (
          SELECT c2.vec_id FROM ivf_cand c2, q
          ORDER BY list_dot_product(c2.v, q.qv) / c2.nrm / q.qnrm DESC,
            c2.vec_id LIMIT 10),
        st AS (
          SELECT j.i, min(v[j.i + 1]) AS mn,
            max(v[j.i + 1]) - min(v[j.i + 1]) AS span
          FROM e, LATERAL (SELECT unnest(range(0, len(v))) AS i) j
          GROUP BY j.i),
        arrs AS (SELECT list(mn ORDER BY i) AS mns,
          list(span ORDER BY i) AS sps FROM st),
        q0 AS (
          SELECT vec_id,
            list_transform(range(0, len(v)), j ->
              CASE WHEN sps[j+1] = 0 THEN cast(0 as bigint)
                ELSE cast(floor((v[j+1] - mns[j+1]) * 255.0 / sps[j+1])
                  as bigint) END) AS qv
          FROM e, arrs),
        rec AS (
          SELECT vec_id, list_transform(range(0, len(qv)), j ->
            mns[j+1] + (cast(qv[j+1] as double) + 0.5) * sps[j+1]
              / 255.0) AS rv
          FROM q0, arrs),
        rn2 AS (SELECT vec_id, rv,
            sqrt(list_sum(list_transform(rv, x -> x * x))) AS nrm
          FROM rec),
        rq AS (SELECT rv AS qrv, nrm AS qnrm FROM rn2 WHERE vec_id = 0),
        sq_top AS MATERIALIZED (
          SELECT rn2.vec_id FROM rn2, rq WHERE rn2.vec_id <> 0
          ORDER BY list_dot_product(rn2.rv, rq.qrv) / rn2.nrm / rq.qnrm
            DESC, rn2.vec_id LIMIT 10),
        -- e_graph: s25's beam search over the s15 k-NN graph (the 'g'
        -- CTEs mirror s25's oracle; kCells-sized codebook, NOT the
        -- 8-cent probe codebook above)
        nv AS (SELECT count(*) AS cnt FROM n),
        cg AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
          FROM n, nv WHERE vec_id < greatest(8, least(
            (nv.cnt + 63) // 64,
            cast(ceil(sqrt(4 * nv.cnt)) as bigint)))),
        asgng AS (
          SELECT vec_id, v, nrm, cent_id,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY list_dot_product(v, cv) / nrm / cnrm DESC,
                cent_id) AS rn
          FROM n, cg),
        assignedg AS (SELECT vec_id, v, nrm, cent_id
          FROM asgng WHERE rn = 1),
        cellpairsg AS (
          SELECT x.vec_id AS a, y.vec_id AS b,
            list_dot_product(x.v, y.v) / x.nrm / y.nrm AS cos
          FROM assignedg x JOIN assignedg y ON x.cent_id = y.cent_id
            AND x.vec_id <> y.vec_id),
        rnd0g AS (
          SELECT x.vec_id AS a,
            (x.vec_id + 1 +
             (('0x' || substr(md5('nn_init_' || x.vec_id || '_' || j),
               1, 15))::BIGINT % (nv.cnt - 1))) % nv.cnt AS b
          FROM n x, nv, (SELECT unnest([0, 1, 2]) AS j)),
        rndscg AS (
          SELECT r.a, r.b,
            list_dot_product(x.v, y.v) / x.nrm / y.nrm AS cos
          FROM (SELECT DISTINCT a, b FROM rnd0g WHERE a <> b) r
          JOIN n x ON x.vec_id = r.a
          JOIN n y ON y.vec_id = r.b),
        cellknng AS (
          SELECT a, b, cos FROM (
            SELECT a, b, cos, row_number() OVER (PARTITION BY a
              ORDER BY cos DESC, b) AS rn
            FROM cellpairsg) t WHERE rn <= 5),
        poolg AS (SELECT a, b FROM cellknng
          UNION SELECT a, b FROM rndscg),
        undg AS (SELECT a AS m, b AS x FROM poolg
          UNION SELECT b, a FROM poolg),
        knn0g AS (
          SELECT a, b, cos FROM (
            SELECT a, b, cos, row_number() OVER (PARTITION BY a
              ORDER BY cos DESC, b) AS rn
            FROM (SELECT * FROM cellpairsg UNION ALL
                  SELECT * FROM rndscg) u0) t WHERE rn <= 5),
        propsg AS (
          SELECT DISTINCT p.x AS a, w.x AS b
          FROM undg p JOIN undg w ON p.m = w.m AND p.x <> w.x
          JOIN assignedg ax ON ax.vec_id = p.x
          JOIN assignedg ay ON ay.vec_id = w.x
          WHERE ax.cent_id <> ay.cent_id
            AND NOT EXISTS (SELECT 1 FROM rndscg k
              WHERE k.a = p.x AND k.b = w.x)),
        nonscoredg AS (
          SELECT p.a, p.b,
            list_dot_product(x.v, y.v) / x.nrm / y.nrm AS cos
          FROM propsg p
          JOIN n x ON x.vec_id = p.a
          JOIN n y ON y.vec_id = p.b),
        knn1g AS (
          SELECT a, b, cos FROM (
            SELECT a, b, cos, row_number() OVER (PARTITION BY a
              ORDER BY cos DESC, b) AS rn
            FROM (SELECT * FROM knn0g UNION ALL
                  SELECT * FROM nonscoredg) u) t
          WHERE rn <= 5),
        und2g AS (SELECT a AS m, b AS x FROM knn1g
          UNION SELECT b, a FROM knn1g),
        sc0g AS MATERIALIZED (
          SELECT cg.cent_id AS vec_id,
            list_dot_product(cg.cv, q.qv) / cg.cnrm / q.qnrm AS cos
          FROM cg, q),
        f1g AS (SELECT vec_id FROM sc0g
          ORDER BY cos DESC, vec_id LIMIT 4),
        nb1g AS (SELECT DISTINCT u.x AS vec_id
          FROM und2g u JOIN f1g ON u.m = f1g.vec_id),
        new1g AS (
          SELECT x.vec_id,
            list_dot_product(x.v, q.qv) / x.nrm / q.qnrm AS cos
          FROM nb1g nb JOIN n x ON x.vec_id = nb.vec_id, q
          WHERE nb.vec_id NOT IN (SELECT vec_id FROM sc0g)),
        sc1g AS MATERIALIZED (
          SELECT * FROM sc0g UNION ALL SELECT * FROM new1g),
        exp1g AS (SELECT vec_id FROM f1g),
        f2g AS (SELECT vec_id FROM sc1g
          WHERE vec_id NOT IN (SELECT vec_id FROM exp1g)
          ORDER BY cos DESC, vec_id LIMIT 4),
        nb2g AS (SELECT DISTINCT u.x AS vec_id
          FROM und2g u JOIN f2g ON u.m = f2g.vec_id),
        new2g AS (
          SELECT x.vec_id,
            list_dot_product(x.v, q.qv) / x.nrm / q.qnrm AS cos
          FROM nb2g nb JOIN n x ON x.vec_id = nb.vec_id, q
          WHERE nb.vec_id NOT IN (SELECT vec_id FROM sc1g)),
        sc2g AS MATERIALIZED (
          SELECT * FROM sc1g UNION ALL SELECT * FROM new2g),
        exp2g AS (SELECT vec_id FROM exp1g
          UNION SELECT vec_id FROM f2g),
        f3g AS (SELECT vec_id FROM sc2g
          WHERE vec_id NOT IN (SELECT vec_id FROM exp2g)
          ORDER BY cos DESC, vec_id LIMIT 4),
        nb3g AS (SELECT DISTINCT u.x AS vec_id
          FROM und2g u JOIN f3g ON u.m = f3g.vec_id),
        new3g AS (
          SELECT x.vec_id,
            list_dot_product(x.v, q.qv) / x.nrm / q.qnrm AS cos
          FROM nb3g nb JOIN n x ON x.vec_id = nb.vec_id, q
          WHERE nb.vec_id NOT IN (SELECT vec_id FROM sc2g)),
        sc3g AS MATERIALIZED (
          SELECT * FROM sc2g UNION ALL SELECT * FROM new3g),
        gr_top AS MATERIALIZED (
          SELECT vec_id FROM sc3g WHERE vec_id <> 0
          ORDER BY cos DESC, vec_id LIMIT 10),
        tot AS (SELECT cast(count(*) as bigint) - 1 AS nall FROM e)
        SELECT * FROM (
          SELECT 'a_exact' AS method,
            (SELECT nall FROM tot) AS n_candidates,
            cast(10 as bigint) AS recall_10
          UNION ALL
          SELECT 'b_lsh6',
            (SELECT cast(count(*) as bigint) FROM lsh_cand),
            (SELECT cast(count(*) as bigint) FROM lsh_top
             WHERE vec_id IN (SELECT vec_id FROM truth))
          UNION ALL
          SELECT 'c_ivf2',
            (SELECT cast(count(*) as bigint) FROM ivf_cand),
            (SELECT cast(count(*) as bigint) FROM ivf_top
             WHERE vec_id IN (SELECT vec_id FROM truth))
          UNION ALL
          SELECT 'd_sq8', (SELECT nall FROM tot),
            (SELECT cast(count(*) as bigint) FROM sq_top
             WHERE vec_id IN (SELECT vec_id FROM truth))
          UNION ALL
          SELECT 'e_graph',
            (SELECT cast(count(*) as bigint) FROM sc3g),
            (SELECT cast(count(*) as bigint) FROM gr_top
             WHERE vec_id IN (SELECT vec_id FROM truth))
        ) ORDER BY method""")),


    // ------------------------------------------------------------------
    // Okapi BM25 text retrieval (k1=1.2, b=0.75) over a BIGRAM
    // inverted index — the lexical-retrieval rung the ANN family
    // lacked (s01-s18 are all vector-side; RAG stacks pair them with
    // a BM25 leg for hybrid retrieval). The index unit is the bigram,
    // not the unigram: on this corpus's ~31-type vocabulary every
    // unigram occurs in every document (df = N, zero selectivity);
    // bigram df varies 1..N, so posting lists actually select (~125
    // candidates of 500 docs per query at sf0.01, match counts 2-4).
    //
    // Five queries: the x15 benchmark picks (doc_id % 97 = 0, qid =
    // doc_id/97 ≤ 4), query terms = the doc's first 5 distinct
    // bigrams; the query doc itself is excluded from candidates.
    // Plan shape at 100 TB: ONE corpus tokenize feeds postings,
    // doc-length, and df aggregates (term-/doc-keyed shuffles, both
    // well-distributed); the ≤25-row query-term frame picks up df by
    // a term join, then BROADCASTS onto the posting list — candidate
    // generation is a broadcast semi-pattern, never a corpus × query
    // shuffle; N/avgdl ride in as a 1-row broadcast (x11's pattern).
    // Per-(query, doc) scores sum by the x35 ordered-fold discipline
    // (term-sorted left fold — a raw double SUM would not be
    // bit-reproducible), and idf's ln() is bit-portable on identical
    // inputs (the x39 precedent). Top-10 per query runs through the
    // custom TopKPerKey physical operator (third catalog consumer;
    // map-side bounded heaps ship ≤10 rows per partition per query —
    // the window formulation would sort all candidates), which the
    // oracle's row_number formulation independently verifies.
    // ------------------------------------------------------------------
    "s19_bm25_retrieval" -> Q(
      (s, d) => {
        graft.plans.TopKPerKey.install(s)
        graft.plans.TopKPerKey(bm25Agg(s, d), Seq("qid"),
          Seq(("score", true), ("doc_id", false)), 10)
          .orderBy(col("qid"), col("score").desc, col("doc_id"))
      },
      Some("""WITH """ + sqlBm25Parts + """,
        agg AS (""" + sqlBm25Scores("qterms") + """),
        top AS (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, doc_id) AS rn
          FROM agg)
        SELECT qid, doc_id, score, n_terms FROM top WHERE rn <= 10
        ORDER BY qid, score DESC, doc_id"""),
      bench = true),


    // ------------------------------------------------------------------
    // Hybrid retrieval with Reciprocal-Rank Fusion (Cormack et al.,
    // k = 60) — what RAG stacks actually ship: a lexical BM25 leg and
    // a vector leg answering the same queries, fused by
    // rrf = Σ_legs 1/(60 + rank). Legs: s19's bigram BM25 (shared
    // bm25Agg engine) top-20 per query, and brute cosine over x43's
    // feature-hashed embedding at DOCUMENT granularity top-20 per
    // query (the 5-row query-vector frame broadcasts; the s-family's
    // IVF/LSH legs are the documented scale path for the vector side).
    // A doc absent from a leg contributes 0 to rrf and reports rank 0.
    // Cross-engine exactness: ranks are integers, 1/(60 + rank) is an
    // identical two-op expression, and the two-term rrf sum has one
    // fixed association — no fold needed. Top-10 per query by
    // (rrf DESC, doc_id); at sf0.01 both legs agree on ~7 of 50
    // emitted rows (the fusion visibly re-orders single-leg ranks).
    // ------------------------------------------------------------------
    "s20_hybrid_rrf" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val brank = bm25Agg(s, d)
          .withColumn("rank_bm25", row_number().over(Window
            .partitionBy(col("qid"))
            .orderBy(col("score").desc, col("doc_id"))).cast("long"))
          .filter(col("rank_bm25") <= 20)
          .select(col("qid"), col("doc_id"), col("rank_bm25"))
        val wn = docVectors(s, d)
        val qv = wn
          .filter(col("doc_id") % 97 === 0 && expr("doc_id div 97") <= 4)
          .select(expr("doc_id div 97").as("qid"),
            col("doc_id").as("qdoc"),
            col("v").as("qv"), col("n2").as("qn2"))
        val dot = (a: Column, b: Column) =>
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L),
            (acc, x) => acc + x)
        val vrank = wn.crossJoin(broadcast(qv))
          .filter(col("doc_id") =!= col("qdoc"))
          .withColumn("cosine", dot(col("v"), col("qv")).cast("double") /
            (sqrt(col("n2").cast("double")) *
              sqrt(col("qn2").cast("double"))))
          .withColumn("rank_vec", row_number().over(Window
            .partitionBy(col("qid"))
            .orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
          .filter(col("rank_vec") <= 20)
          .select(col("qid"), col("doc_id"), col("rank_vec"))
        val fused = brank.join(vrank, Seq("qid", "doc_id"), "full_outer")
          .select(col("qid"), col("doc_id"),
            coalesce(col("rank_bm25"), lit(0L)).as("rank_bm25"),
            coalesce(col("rank_vec"), lit(0L)).as("rank_vec"),
            (when(col("rank_bm25").isNull, lit(0.0))
              .otherwise(lit(1.0) /
                (lit(60.0) + col("rank_bm25").cast("double"))) +
              when(col("rank_vec").isNull, lit(0.0))
                .otherwise(lit(1.0) /
                  (lit(60.0) + col("rank_vec").cast("double"))))
              .as("rrf"))
        fused
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("qid"))
            .orderBy(col("rrf").desc, col("doc_id"))))
          .filter(col("rn") <= 10)
          .select(col("qid"), col("doc_id"), col("rank_bm25"),
            col("rank_vec"), col("rrf"))
          .orderBy(col("qid"), col("rrf").desc, col("doc_id"))
      },
      Some("""WITH """ + sqlBm25Parts + """,
        qsel AS (
          SELECT (doc_id // 97) AS qid, doc_id AS qdoc, bgs FROM bg
          WHERE doc_id % 97 = 0 AND doc_id // 97 <= 4),
        bagg AS (""" + sqlBm25Scores("qterms") + """),
        brank AS (
          SELECT qid, doc_id,
            cast(row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, doc_id) as bigint) AS rank_bm25
          FROM bagg QUALIFY rank_bm25 <= 20),
        perms AS (
          SELECT
            list_transform(range(0, 16), i ->
              ('0x' || substr(md5('perm_a_' || i), 1, 15))::BIGINT % 2147483646 + 1) AS pa,
            list_transform(range(0, 16), i ->
              ('0x' || substr(md5('perm_b_' || i), 1, 15))::BIGINT % 2147483647) AS pb),
        hd AS (
          SELECT doc_id,
            list_transform(toks, w ->
              ('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647) AS ht
          FROM t),
        vecs AS (
          SELECT doc_id,
            list_transform(range(0, 16), j ->
              coalesce(list_sum(list_transform(ht, x ->
                ((pa[j+1] * x + pb[j+1]) % 2147483647 % 2001) - 1000)),
                0)) AS v
          FROM hd, perms),
        wn AS (
          SELECT doc_id, v,
            cast(list_sum(list_transform(v, x -> x * x)) as bigint) AS n2
          FROM vecs),
        qv AS (
          SELECT s.qid, s.qdoc, wn.v AS qv, wn.n2 AS qn2
          FROM (SELECT DISTINCT qid, qdoc FROM qsel) s
          JOIN wn ON wn.doc_id = s.qdoc),
        vrank AS (
          SELECT q.qid, wn.doc_id,
            cast(row_number() OVER (PARTITION BY q.qid ORDER BY
              cast(list_dot_product(wn.v, q.qv) as double) /
                (sqrt(cast(wn.n2 as double)) * sqrt(cast(q.qn2 as double)))
                DESC, wn.doc_id) as bigint) AS rank_vec
          FROM qv q, wn WHERE wn.doc_id <> q.qdoc
          QUALIFY rank_vec <= 20),
        fused AS (
          SELECT coalesce(b.qid, v.qid) AS qid,
            coalesce(b.doc_id, v.doc_id) AS doc_id,
            coalesce(b.rank_bm25, 0) AS rank_bm25,
            coalesce(v.rank_vec, 0) AS rank_vec,
            (CASE WHEN b.rank_bm25 IS NULL THEN 0.0
              ELSE 1.0 / (60.0 + cast(b.rank_bm25 as double)) END) +
            (CASE WHEN v.rank_vec IS NULL THEN 0.0
              ELSE 1.0 / (60.0 + cast(v.rank_vec as double)) END) AS rrf
          FROM brank b FULL OUTER JOIN vrank v
            ON b.qid = v.qid AND b.doc_id = v.doc_id),
        top AS (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY rrf DESC, doc_id) AS rn
          FROM fused)
        SELECT qid, doc_id, rank_bm25, rank_vec, rrf
        FROM top WHERE rn <= 10
        ORDER BY qid, rrf DESC, doc_id"""),
      bench = true),


    // ------------------------------------------------------------------
    // Pseudo-relevance feedback (RM3-lite): the classic two-round
    // retrieval loop above s19. Round 1 ranks with plain BM25; the
    // top-3 docs per query become the feedback set; from their bigram
    // vocabulary the top-3 NEW terms (not already query terms) join
    // the query at weight 0.5; round 2 re-scores with the expanded,
    // weighted term set and reports top-10 with each doc's round-1
    // rank attached (0 = promoted from outside the round-1 top-10 —
    // the honest readout of what feedback changed). Expansion ranking
    // is INTEGER-exact (Σtf over feedback docs DESC, df ASC — rarer
    // wins ties — then term ASC), so no double aggregation enters the
    // term choice; round-2 scores fold term-sorted with sc·w (w = 1.0
    // exact identity, 0.5 exact halving). Scale shape: the s19 plan
    // run twice over a ONCE-materialized tf/dlf index (the corpus
    // tokenizes once); feedback/expansion frames are ≤15/≤15 rows and
    // broadcast; top-10 per query through TopKPerKey (4th consumer).
    // ------------------------------------------------------------------
    "s21_prf_expansion" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val p = bm25Parts(s, d, matIndex = true)
        val r1 = bm25ScoreTerms(p, p.qterms.withColumn("w", lit(1.0)))
        val w1 = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))
        val r1rk = r1.select(col("qid"), col("doc_id"),
          row_number().over(w1).cast("long").as("rn"))
        val fb = r1rk.filter(col("rn") <= 3)
          .select(col("qid"), col("doc_id"))
        val fbt = p.tf.join(broadcast(fb), "doc_id")
          .groupBy(col("qid"), col("term"))
          .agg(sum(col("tf")).as("stf"))
          .join(p.qterms.select(col("qid"), col("term")),
            Seq("qid", "term"), "left_anti")
          .join(p.dfc, "term")
        val wx = Window.partitionBy(col("qid"))
          .orderBy(col("stf").desc, col("df").asc, col("term").asc)
        val qdocs = p.qterms.select(col("qid"), col("qdoc")).distinct()
        val expTerms = fbt
          .select(col("qid"), col("term"), row_number().over(wx).as("xr"))
          .filter(col("xr") <= 3)
          .join(broadcast(qdocs), "qid")
          .select(col("qid"), col("qdoc"), col("term"),
            lit(0.5).as("w"))
        // fresh exprIds on both union inputs (both derive from the
        // same tokenized base)
        val q2 = fresh(p.qterms.withColumn("w", lit(1.0))
            .select(col("qid"), col("qdoc"), col("term"), col("w")))
          .union(fresh(expTerms))
        val r2 = bm25ScoreTerms(p, q2)
        graft.plans.TopKPerKey.install(s)
        val top = graft.plans.TopKPerKey(r2, Seq("qid"),
          Seq(("score", true), ("doc_id", false)), 10)
        val r1top = r1rk.filter(col("rn") <= 10)
          .select(col("qid"), col("doc_id"), col("rn").as("r1r"))
        top.join(r1top, Seq("qid", "doc_id"), "left")
          .select(col("qid"), col("doc_id"), col("score"), col("n_terms"),
            coalesce(col("r1r"), lit(0L)).as("r1_rank"))
          .orderBy(col("qid"), col("score").desc, col("doc_id"))
      },
      Some("""WITH """ + sqlBm25Parts + """,
        r1agg AS (""" + sqlBm25Scores("qterms") + """),
        r1rk AS (
          SELECT qid, doc_id,
            cast(row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, doc_id) as bigint) AS rn
          FROM r1agg),
        fb AS (SELECT qid, doc_id FROM r1rk WHERE rn <= 3),
        fbt AS (
          SELECT fb.qid, tf.term, cast(sum(tf.tf) as bigint) AS stf
          FROM fb JOIN tf ON tf.doc_id = fb.doc_id
          GROUP BY fb.qid, tf.term),
        fbx AS (
          SELECT f.qid, f.term, f.stf, d.df
          FROM fbt f JOIN dfc d ON d.term = f.term
          WHERE NOT EXISTS (SELECT 1 FROM qterms q
            WHERE q.qid = f.qid AND q.term = f.term)),
        expt AS (
          SELECT qid, term FROM (
            SELECT qid, term, row_number() OVER (PARTITION BY qid
              ORDER BY stf DESC, df ASC, term ASC) AS xr
            FROM fbx) WHERE xr <= 3),
        qdocs AS (SELECT DISTINCT qid, qdoc FROM qterms),
        q2 AS (
          SELECT qid, qdoc, term, w FROM qterms
          UNION ALL
          SELECT e.qid, qd.qdoc, e.term, cast(0.5 as double) AS w
          FROM expt e JOIN qdocs qd USING (qid)),
        r2agg AS (""" + sqlBm25Scores("q2") + """),
        r2rk AS (
          SELECT qid, doc_id, score, n_terms,
            row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, doc_id) AS rn2
          FROM r2agg)
        SELECT r.qid, r.doc_id, r.score, r.n_terms,
          cast(coalesce((SELECT r1.rn FROM r1rk r1
            WHERE r1.qid = r.qid AND r1.doc_id = r.doc_id
              AND r1.rn <= 10), 0) as bigint) AS r1_rank
        FROM r2rk r WHERE rn2 <= 10
        ORDER BY qid, score DESC, doc_id"""),
      bench = true),


    // ------------------------------------------------------------------
    // Two-stage RETRIEVE-then-REFINE — what production PQ deployments
    // actually run (Jégou et al. §V): the compressed-domain ADC scan
    // proposes a WIDE candidate set (top-50), exact distances re-rank
    // only those 50 to the final top-10. Legs report recall@10 vs the
    // exact ground truth: ADC-alone top-10 recalls 3/10 at sf0.01
    // (1/10 at sf0.1 — compressed distances are coarse on these
    // near-uniform vectors), the refined pipeline recovers 7/10
    // (5/10) while paying exact distances on 50 rows instead of N.
    // Reuses s06's scored frame (trained codebooks + literal LUT),
    // materialized once for the four bounded consumers; every ranking
    // is integer-exact so the oracle replays legs verbatim. At
    // 100 TB: the ADC scan touches 8 B/vector codes, the refine
    // touches 50 raw vectors — the entire point of the pattern.
    // ------------------------------------------------------------------
    "s22_adc_refine" -> Q(
      (s, d) => {
        val sc = mat(pqAdcScored(s, d))
        val truth10 = fresh(sc.orderBy(col("exact_dist"), col("vec_id"))
          .limit(10).select(col("vec_id")))
        val adc10 = fresh(sc.orderBy(col("approx_dist"), col("vec_id"))
          .limit(10).select(col("vec_id")))
        val ref10 = fresh(sc.orderBy(col("approx_dist"), col("vec_id"))
          .limit(50).orderBy(col("exact_dist"), col("vec_id"))
          .limit(10).select(col("vec_id")))
        def recallOf(df: DataFrame) = df.join(truth10, "vec_id")
          .agg(count(lit(1)).as("recall_10"))
        val rowA = fresh(sc.agg(count(lit(1)).as("n_candidates"))
          .select(lit("a_exact").as("method"), col("n_candidates"),
            lit(10L).as("recall_10")))
        val rowB = fresh(recallOf(adc10)
          .select(lit("b_adc_top10").as("method"),
            lit(10L).as("n_candidates"), col("recall_10")))
        val rowC = fresh(recallOf(ref10)
          .select(lit("c_adc50_refined").as("method"),
            lit(50L).as("n_candidates"), col("recall_10")))
        rowA.union(rowB).union(rowC).orderBy(col("method"))
      },
      Some("""WITH """ + sqlPqAdcScored + """,
        truth10 AS (
          SELECT vec_id FROM scored ORDER BY exact_dist, vec_id LIMIT 10),
        adc10 AS (
          SELECT vec_id FROM scored ORDER BY approx_dist, vec_id LIMIT 10),
        cand50 AS (
          SELECT vec_id, exact_dist FROM scored
          ORDER BY approx_dist, vec_id LIMIT 50),
        ref10 AS (
          SELECT vec_id FROM cand50 ORDER BY exact_dist, vec_id LIMIT 10)
        SELECT * FROM (
          SELECT 'a_exact' AS method,
            (SELECT cast(count(*) as bigint) FROM scored) AS n_candidates,
            cast(10 as bigint) AS recall_10
          UNION ALL
          SELECT 'b_adc_top10', cast(10 as bigint),
            (SELECT cast(count(*) as bigint) FROM adc10
             WHERE vec_id IN (SELECT vec_id FROM truth10))
          UNION ALL
          SELECT 'c_adc50_refined', cast(50 as bigint),
            (SELECT cast(count(*) as bigint) FROM ref10
             WHERE vec_id IN (SELECT vec_id FROM truth10))
        ) ORDER BY method""")),

    // ------------------------------------------------------------------
    // s23: MIPS → cosine REDUCTION — maximum-inner-product search is
    // not cosine search (norms vary), but the classic augmentation
    // (append sqrt(M² − |x|²) to every data vector, 0 to the query,
    // M = max norm) makes cosine over the augmented space rank by
    // inner product EXACTLY: cos(va, qa) = (q·x) / (|q|·M), monotone
    // in q·x. The census ranks candidates both ways — exact dot
    // top-10 vs augmented-cosine top-10 — and reports per-rank
    // agreement; the transform is MATERIALIZED (real augmented
    // arrays through the cosine expression), not algebraically
    // shortcut, so the reduction itself is what's verified. M² is a
    // 1-row metadata scalar (s02's head() precedent). This is the
    // bridge that lets every cosine-only ANN structure in the family
    // (LSH s02, IVF s03, SQ8 s12) serve inner-product queries —
    // recommender retrieval — unchanged.
    // ------------------------------------------------------------------
    "s23_mips_transform" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.VectorDot.dot
        val base = emb(s, d).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        val m2 = base.agg(max(dot(col("v"), col("v"))))
          .head().getDouble(0)
        val aug = base.select(col("vec_id"), col("v"),
          concat(col("v"),
            array(sqrt(lit(m2) - dot(col("v"), col("v"))))).as("va"))
        val q = aug.filter(col("vec_id") === 0)
          .select(col("v").as("qv"),
            concat(col("v"), array(lit(0.0))).as("qa"))
        val scored = aug.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            dot(col("v"), col("qv")).as("ip"),
            cosine(col("va"), col("qa")).as("ac"))
          .localCheckpoint() // two top-k consumers
        def ranked(sc: Column, idAlias: String) = {
          val top = scored.orderBy(sc.desc, col("vec_id")).limit(10)
          // the window runs over the 10 surviving rows only
          top.withColumn("rank",
            row_number().over(Window.orderBy(sc.desc, col("vec_id"))))
            .select(col("rank"), col("vec_id").as(idAlias))
        }
        ranked(col("ip"), "ip_id")
          .join(ranked(col("ac"), "aug_id"), Seq("rank"))
          .withColumn("agree", col("ip_id") === col("aug_id"))
          .orderBy(col("rank"))
      },
      Some("""WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings),
        m AS (SELECT max(list_dot_product(v, v)) AS m2 FROM e),
        aug AS (
          SELECT vec_id, v,
            list_append(v, sqrt(m.m2 - list_dot_product(v, v))) AS va
          FROM e, m),
        q AS (
          SELECT v AS qv, list_append(v, cast(0.0 as double)) AS qa
          FROM e WHERE vec_id = 0),
        sc AS (
          SELECT a.vec_id,
            list_dot_product(a.v, q.qv) AS ip,
            list_dot_product(a.va, q.qa)
              / sqrt(list_dot_product(a.va, a.va))
              / sqrt(list_dot_product(q.qa, q.qa)) AS ac
          FROM aug a, q WHERE a.vec_id <> 0),
        ri AS (SELECT vec_id AS ip_id,
            row_number() OVER (ORDER BY ip DESC, vec_id) AS rank
          FROM sc),
        ra AS (SELECT vec_id AS aug_id,
            row_number() OVER (ORDER BY ac DESC, vec_id) AS rank
          FROM sc)
        SELECT cast(rank as int) AS rank, ip_id, aug_id,
          (ip_id = aug_id) AS agree
        FROM ri JOIN ra USING (rank)
        WHERE rank <= 10
        ORDER BY rank""")),

    // ------------------------------------------------------------------
    // s24: STORED IVF index with SUFFICIENT-STATISTICS incremental
    // maintenance — the d14/d16 stored-index discipline, for the ANN
    // family (s16 monitors distribution drift but re-derives its index
    // in-session; a 100 TB embedding store runs this daily instead):
    // day-0 writes codebook + assignments + per-cell (n, per-dim sum)
    // statistics to parquet; day-N reads the 8-row stats and codebook
    // back, assigns ONLY the arriving vectors (broadcast-argmin, zero
    // shuffle), appends their assignments as a second generation, and
    // updates the statistics ADDITIVELY — the base corpus is never
    // rescanned (ingest cost O(new·dim + k·dim)). The census prices
    // the retrain decision: centroid drift² = Σ_dims (updated-mean −
    // stored-mean)², all in bit-portable integer math (floor(x·1024)
    // quantization — ·2^10 and floor are exact in both engines;
    // `div` truncates toward zero in both). The drop is skewed toward
    // centroid 2 by construction (v' = v + c2 div 4 — x44/s16's
    // inject-the-defect move: an all-green alarm proves nothing), so
    // `retrain` discriminates (sf0.01: cell 2 drift² 19 949 and its
    // absorption neighbor cell 1 at 6 018 fire the >5000 alarm; the
    // other six sit at 1 000-3 000 quantization-noise baseline and
    // stay green). n_index comes from READING BACK the two
    // stored assignment generations — its equality with the oracle's
    // n_old + n_new proves the store/load roundtrip lossless. The
    // oracle re-derives everything from the source table, so the hash
    // match proves stored-incremental ≡ from-scratch.
    // ------------------------------------------------------------------
    "s24_ivf_stored_index" -> Q(
      (s, d) => {
        val k = 8
        val idxPath = indexPath(s, d, "s24-ivf")
        val quant = (c: Column) => transform(c, x =>
          floor(x.cast("double") * 1024).cast("long"))
        val all = emb(s, d).select(col("vec_id"),
          quant(col("embedding")).as("li"))
        val cb = all.filter(col("vec_id") < k)
          .select(col("vec_id").as("cent_id"), col("li").as("ci"))
        // codebook metadata: k·dim longs (the PageRank-style per-round
        // driver action class)
        val cents: Seq[(Long, Seq[Long])] = cb.collect().map(r =>
          (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
        val dim = cents.head._2.length
        def dist2(ci: Seq[Long]): Column =
          aggregate(zip_with(col("li"), array(ci.map(lit): _*),
            (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
        // row-local literal-codebook argmin, ties to smallest cent_id
        // (least over (d2, cent_id) structs — zero shuffle)
        def assign(df: DataFrame): DataFrame = df.withColumn("cent_id",
          least(cents.map { case (cid, ci) =>
            struct(dist2(ci).as("d2"), lit(cid).as("cent_id"))
          }: _*).getField("cent_id"))
        def cellStats(df: DataFrame): DataFrame = {
          val sums = df
            .select(col("cent_id"), posexplode(col("li")).as(Seq("pos", "v")))
            .groupBy(col("cent_id"), col("pos"))
            .agg(sum(col("v")).as("sv"))
            .groupBy(col("cent_id"))
            .agg(transform(array_sort(collect_list(
              struct(col("pos"), col("sv")))), x => x.getField("sv"))
              .as("sums"))
          df.groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
            .join(sums, Seq("cent_id"))
        }
        val rest = all.filter(col("vec_id") >= k)
          .withColumn("isnew",
            pmod(graft.functions.PortableHash.h60col(
              concat(lit("s24_"), col("vec_id"))), lit(5L)) === 0)
        // ---- day-0: build + STORE the index ----
        val base = assign(rest.filter(!col("isnew"))
          .select(col("vec_id"), col("li")))
        base.select(col("vec_id"), col("cent_id"))
          .write.mode("overwrite").parquet(s"$idxPath/assign")
        cb.write.mode("overwrite").parquet(s"$idxPath/codebook")
        cellStats(base).write.mode("overwrite").parquet(s"$idxPath/stats")
        // ---- day-N: stored stats + codebook + ONLY the new slice ----
        val storedStats = s.read.parquet(s"$idxPath/stats")
          .select(col("cent_id"), col("n").as("n_old"),
            col("sums").as("osums"))
        val shift: Seq[Long] = cents.find(_._1 == 2L).get._2.map(_ / 4)
        val newv = rest.filter(col("isnew"))
          .select(col("vec_id"), zip_with(col("li"),
            array(shift.map(lit): _*), (x, y) => x + y).as("li"))
        val newAssigned = assign(newv)
        newAssigned.select(col("vec_id"), col("cent_id"))
          .write.mode("overwrite").parquet(s"$idxPath/assign_day1")
        val newStats = cellStats(newAssigned)
          .select(col("cent_id"), col("n").as("n_new"),
            col("sums").as("nsums"))
        // roundtrip proof: both stored generations read back
        val nIdx = s.read.parquet(s"$idxPath/assign")
          .unionByName(s.read.parquet(s"$idxPath/assign_day1"))
          .groupBy(col("cent_id")).agg(count(lit(1)).as("n_index"))
        val zeros = array_repeat(lit(0L), dim)
        s.read.parquet(s"$idxPath/codebook").select(col("cent_id"))
          .join(storedStats, Seq("cent_id"), "left")
          .join(newStats, Seq("cent_id"), "left")
          .join(nIdx, Seq("cent_id"), "left")
          .select(col("cent_id"),
            coalesce(col("n_old"), lit(0L)).as("n_old"),
            coalesce(col("n_new"), lit(0L)).as("n_new"),
            coalesce(col("n_index"), lit(0L)).as("n_index"),
            coalesce(col("osums"), zeros).as("osums"),
            coalesce(col("nsums"), zeros).as("nsums"))
          .withColumn("growth_ppm",
            expr("1000000 * n_new div greatest(n_old, 1)"))
          .withColumn("drift2", expr(
            "aggregate(zip_with(osums, nsums, (o, w) -> " +
            "((o + w) div greatest(n_old + n_new, 1)) - " +
            "(o div greatest(n_old, 1))), 0L, " +
            "(acc, x) -> acc + x * x)"))
          .withColumn("retrain", col("drift2") > 5000L)
          .select(col("cent_id"), col("n_old"), col("n_new"),
            col("n_index"), col("growth_ppm"), col("drift2"),
            col("retrain"))
          .orderBy(col("cent_id"))
      },
      Some(s"""WITH e AS (
          SELECT vec_id, list_transform(embedding, x ->
            cast(floor(cast(x as double) * 1024) as bigint)) AS li
          FROM embeddings),
        c AS (SELECT vec_id AS cent_id, li AS ci FROM e WHERE vec_id < 8),
        dim AS (SELECT max(len(li)) AS dm FROM e),
        rest AS (
          SELECT vec_id, li,
            (${graft.functions.PortableHash.h60Sql("'s24_' || vec_id")}
              % 5 = 0) AS isnew
          FROM e WHERE vec_id >= 8),
        c2 AS (SELECT list_transform(ci, x -> x // 4) AS sh
          FROM c WHERE cent_id = 2),
        vecs AS (
          SELECT vec_id, li, FALSE AS isnew FROM rest WHERE NOT isnew
          UNION ALL
          SELECT r.vec_id,
            list_transform(range(0, dm), i -> r.li[i+1] + c2.sh[i+1]),
            TRUE
          FROM rest r, c2, dim WHERE r.isnew),
        asgn AS (
          SELECT vec_id, li, isnew, cent_id FROM (
            SELECT v.vec_id, v.li, v.isnew, c.cent_id,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                cast(list_sum(list_transform(range(0, dm), i ->
                  (v.li[i+1] - c.ci[i+1]) * (v.li[i+1] - c.ci[i+1])))
                  as bigint),
                c.cent_id) AS rn
            FROM vecs v, c, dim)
          WHERE rn = 1),
        el AS (
          SELECT cent_id, isnew, unnest(li) AS v,
            generate_subscripts(li, 1) AS pos
          FROM asgn),
        ps AS (
          SELECT cent_id, isnew, pos, cast(sum(v) as bigint) AS sv
          FROM el GROUP BY 1, 2, 3),
        arr AS (
          SELECT cent_id, isnew, list(sv ORDER BY pos) AS sums
          FROM ps GROUP BY 1, 2),
        cnt AS (
          SELECT cent_id, isnew, cast(count(*) as bigint) AS n
          FROM asgn GROUP BY 1, 2),
        zs AS (
          SELECT list_transform(range(0, dm), i -> 0::BIGINT) AS z
          FROM dim),
        cz AS (SELECT c.cent_id, zs.z FROM c, zs),
        merged AS (
          SELECT cz.cent_id,
            coalesce(no.n, 0) AS n_old, coalesce(nn.n, 0) AS n_new,
            coalesce(no.n, 0) + coalesce(nn.n, 0) AS n_index,
            coalesce(ao.sums, cz.z) AS osums,
            coalesce(an.sums, cz.z) AS nsums
          FROM cz
          LEFT JOIN cnt no ON no.cent_id = cz.cent_id AND NOT no.isnew
          LEFT JOIN cnt nn ON nn.cent_id = cz.cent_id AND nn.isnew
          LEFT JOIN arr ao ON ao.cent_id = cz.cent_id AND NOT ao.isnew
          LEFT JOIN arr an ON an.cent_id = cz.cent_id AND an.isnew)
        SELECT cent_id, n_old, n_new, n_index, growth_ppm, drift2,
          drift2 > 5000 AS retrain
        FROM (
          SELECT cent_id, n_old, n_new, n_index,
            1000000 * n_new // greatest(n_old, 1) AS growth_ppm,
            cast(list_sum(list_transform(range(0, len(osums)), i ->
              (((osums[i+1] + nsums[i+1]) // greatest(n_old + n_new, 1))
                - (osums[i+1] // greatest(n_old, 1))) *
              (((osums[i+1] + nsums[i+1]) // greatest(n_old + n_new, 1))
                - (osums[i+1] // greatest(n_old, 1)))))
              as bigint) AS drift2
          FROM merged)
        ORDER BY cent_id""")),

    // ------------------------------------------------------------------
    // GRAPH-BASED ANN SEARCH (s25) — the family's retrieval gap
    // closed: s15 BUILDS a k-NN graph, this SEARCHES one. Greedy beam
    // search in the HNSW/DiskANN style over the stored s15 NN-descent
    // graph (same nnDescentGraph machinery — knn1's directed top-5
    // edges, traversed undirected): entry = score the kCells IVF
    // centroids (the fixed, deterministic entry probe HNSW's top
    // layer plays), then R=3 rounds of: pick the beam (top-4 scored-
    // but-unexpanded, ties by vec_id), expand their graph neighbors,
    // score only NEVER-SCORED arrivals against the query. Everything
    // is deterministic — fixed entry, bounded frontier, fixed rounds,
    // total tie-breaks — so the oracle replays the rounds as unrolled
    // CTEs (g12's delta-frontier discipline, query-side). The census
    // prices the posture per round: n_scored is the cumulative cosine
    // bill (the rows-scanned leg), recall10 the quality leg vs the
    // exact top-10 — the beam reaches recall comparable to scanning
    // the corpus while scoring ~a tenth of it. At 100 TB the graph is
    // the stored artifact (s15 built it once); a query's search
    // touches O(beam·k·rounds) vectors via point lookups — the
    // navigate-don't-scan posture production vector stores ship.
    // ------------------------------------------------------------------
    "s25_graph_beam_search" -> Q(
      (s, d) => {
        val (snaps, truth) = graphBeamSearch(emb(s, d))
        def censusRow(r: Int, sc: DataFrame): DataFrame = {
          // the query node rides the WALK (its neighbors are the
          // target region) but never the ANSWER
          val top10 = sc.filter(col("vec_id") =!= 0)
            .orderBy(col("cos").desc, col("vec_id"))
            .limit(10).select(col("vec_id"))
          sc.agg(count(lit(1)).as("n_scored")).crossJoin(
            top10.join(truth, Seq("vec_id"), "left_semi")
              .agg(count(lit(1)).as("recall10")))
            .select(lit(r).as("step"), col("n_scored"), col("recall10"))
        }
        snaps.map { case (r, sc) => censusRow(r, sc) }
          .reduce(_ unionByName _)
          .orderBy(col("step"))
      },
      Some(s"""WITH $sqlNnDescentGraph,
        -- the stored graph, traversed undirected
        und2 AS (SELECT a AS m, b AS x FROM knn1
          UNION SELECT b, a FROM knn1),
        qv AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        -- round 0: score ALL kCells centroids (the entry probe);
        -- the query node stays traversable, excluded from RESULTS only
        sc0 AS MATERIALIZED (
          SELECT c.cent_id AS vec_id,
            list_dot_product(c.cv, q.qv) / c.cnrm / q.qnrm AS cos
          FROM c, qv q),
        f1 AS (SELECT vec_id FROM sc0
          ORDER BY cos DESC, vec_id LIMIT 4),
        nb1 AS (SELECT DISTINCT u.x AS vec_id
          FROM und2 u JOIN f1 ON u.m = f1.vec_id),
        new1 AS (
          SELECT x.vec_id,
            list_dot_product(x.v, q.qv) / x.nrm / q.qnrm AS cos
          FROM nb1 b JOIN n x ON x.vec_id = b.vec_id, qv q
          WHERE b.vec_id NOT IN (SELECT vec_id FROM sc0)),
        sc1 AS MATERIALIZED (
          SELECT * FROM sc0 UNION ALL SELECT * FROM new1),
        exp1 AS (SELECT vec_id FROM f1),
        f2 AS (SELECT vec_id FROM sc1
          WHERE vec_id NOT IN (SELECT vec_id FROM exp1)
          ORDER BY cos DESC, vec_id LIMIT 4),
        nb2 AS (SELECT DISTINCT u.x AS vec_id
          FROM und2 u JOIN f2 ON u.m = f2.vec_id),
        new2 AS (
          SELECT x.vec_id,
            list_dot_product(x.v, q.qv) / x.nrm / q.qnrm AS cos
          FROM nb2 b JOIN n x ON x.vec_id = b.vec_id, qv q
          WHERE b.vec_id NOT IN (SELECT vec_id FROM sc1)),
        sc2 AS MATERIALIZED (
          SELECT * FROM sc1 UNION ALL SELECT * FROM new2),
        exp2 AS (SELECT vec_id FROM exp1
          UNION SELECT vec_id FROM f2),
        f3 AS (SELECT vec_id FROM sc2
          WHERE vec_id NOT IN (SELECT vec_id FROM exp2)
          ORDER BY cos DESC, vec_id LIMIT 4),
        nb3 AS (SELECT DISTINCT u.x AS vec_id
          FROM und2 u JOIN f3 ON u.m = f3.vec_id),
        new3 AS (
          SELECT x.vec_id,
            list_dot_product(x.v, q.qv) / x.nrm / q.qnrm AS cos
          FROM nb3 b JOIN n x ON x.vec_id = b.vec_id, qv q
          WHERE b.vec_id NOT IN (SELECT vec_id FROM sc2)),
        sc3 AS MATERIALIZED (
          SELECT * FROM sc2 UNION ALL SELECT * FROM new3),
        truth AS MATERIALIZED (
          SELECT x.vec_id FROM n x, qv q WHERE x.vec_id <> 0
          ORDER BY list_dot_product(x.v, q.qv) / x.nrm / q.qnrm DESC,
            x.vec_id LIMIT 10),
        t0 AS (SELECT vec_id FROM sc0 WHERE vec_id <> 0
          ORDER BY cos DESC, vec_id LIMIT 10),
        t1 AS (SELECT vec_id FROM sc1 WHERE vec_id <> 0
          ORDER BY cos DESC, vec_id LIMIT 10),
        t2 AS (SELECT vec_id FROM sc2 WHERE vec_id <> 0
          ORDER BY cos DESC, vec_id LIMIT 10),
        t3 AS (SELECT vec_id FROM sc3 WHERE vec_id <> 0
          ORDER BY cos DESC, vec_id LIMIT 10)
        SELECT * FROM (
          SELECT cast(0 as int) AS step,
            (SELECT cast(count(*) as bigint) FROM sc0) AS n_scored,
            (SELECT cast(count(*) as bigint) FROM t0
              WHERE vec_id IN (SELECT vec_id FROM truth)) AS recall10
          UNION ALL
          SELECT cast(1 as int),
            (SELECT cast(count(*) as bigint) FROM sc1),
            (SELECT cast(count(*) as bigint) FROM t1
              WHERE vec_id IN (SELECT vec_id FROM truth))
          UNION ALL
          SELECT cast(2 as int),
            (SELECT cast(count(*) as bigint) FROM sc2),
            (SELECT cast(count(*) as bigint) FROM t2
              WHERE vec_id IN (SELECT vec_id FROM truth))
          UNION ALL
          SELECT cast(3 as int),
            (SELECT cast(count(*) as bigint) FROM sc3),
            (SELECT cast(count(*) as bigint) FROM t3
              WHERE vec_id IN (SELECT vec_id FROM truth))
        ) u ORDER BY step"""))
  )
}
