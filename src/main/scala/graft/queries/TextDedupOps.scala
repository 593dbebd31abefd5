package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Catalog._
import TextOps._

/** Deduplication operators (d01-d24) over `documents`: exact, MinHash
  * +LSH, SimHash, n-gram Jaccard, containment, embedding near-dup,
  * clustering, keep-lists, incremental/streaming postures, semantic
  * dedup, substring-span rewrite, and chunk-level near-dup. Split out
  * of [[TextOps]] by family (round 10); all shared helpers (shingles,
  * MinHash, band index, posting pairs, span rewrite) live in TextOps
  * and are imported wholesale — behavior is unchanged and the scale
  * notes on each entry still hold.
  */
object TextDedupOps {

  /** x42's chunk table with `source` attached: (doc_id, source, cid,
    * ct) — 16-token chunks, stride 12, rerun-stable h60(doc:idx) ids.
    * Shared by d24 (near-dup pairs) and p04 (ingestion census).
    */
  private[queries] def docChunksTok(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("source"), words(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), col("toks"),
        explode(sequence(lit(0L),
          greatest(lit(1L), expr("(size(toks) + 7) div 12")) - 1))
          .as("k"))
      .select(col("doc_id"), col("source"),
        graft.functions.PortableHash.h60col(
          concat(col("doc_id").cast("string"), lit(":"),
            col("k").cast("string"))).as("cid"),
        slice(col("toks"), (col("k") * 12 + 1).cast("int"), lit(16))
          .as("ct"))

  /** Verified cross-document chunk near-dup pairs (chunk_a < chunk_b,
    * exact Jaccard ≥ 0.8 over 3-shingles) via the d03 band pipeline at
    * chunk granularity — the engine of d24, reused by p04's drop rule.
    * Chunks under 3 tokens cannot shingle and are out of scope.
    */
  private[queries] def chunkNeardupPairs(s: SparkSession, d: String)
      : DataFrame = {
    def chunks = docChunksTok(s, d).filter(size(col("ct")) >= 3)
    val banded = chunks
      .withColumn("sig",
        graft.functions.ShingleMinHash.shingleMinhash(col("ct")))
      .select(col("doc_id"), col("cid"),
        posexplode(bandHashes(col("sig"), 16, 4)))
      .select(col("doc_id"), col("cid"), col("pos").as("band"),
        col("col").as("band_hash"))
    val cand = banded.as("l")
      .join(banded.as("r"), Seq("band", "band_hash"))
      .filter(col("l.cid") < col("r.cid") &&
        col("l.doc_id") =!= col("r.doc_id"))
      .select(col("l.cid").as("chunk_a"), col("r.cid").as("chunk_b"),
        col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val sh = chunks.select(col("cid"), shingles3(col("ct")).as("w"))
    cand
      .join(sh.select(col("cid").as("chunk_a"), col("w").as("wa")),
        Seq("chunk_a"))
      .join(sh.select(col("cid").as("chunk_b"), col("w").as("wb")),
        Seq("chunk_b"))
      .withColumn("jaccard",
        size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb"))).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select(col("chunk_a"), col("chunk_b"), col("doc_a"),
        col("doc_b"), col("jaccard"))
  }

  def queries: Seq[(String, Q)] = Seq(

    // ------------------------------------------------------------------
    // Per-doc duplicated-span coverage — the "deduplicate SUBSTRINGS,
    // not documents" signal (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better"): what fraction of a document's
    // character positions sit inside a 20-gram that also occurs in
    // ANOTHER document. x07 finds the near-dup pairs; this is the
    // per-document coverage number a curation run thresholds on (or
    // uses to strip the duplicated spans). Cross-doc-ness is
    // df ≥ 2 over DISTINCT documents, so within-doc repetition (x18's
    // signal) does not count. Shapes: one gram-keyed shuffle for df
    // (the per-(doc, gram) pre-dedup spreads hot template grams across
    // their docs' partitions first), then gdf as a COUNT OVER A WINDOW
    // BY g — not a groupBy+join-back, whose two consumers of the
    // tokenize+pre-agg subtree got non-identical exchanges and ran the
    // expensive gram scan twice (the d08 lesson, re-flagged by the r6
    // plan audit); the window form makes the plan LINEAR, so the scan
    // runs once by construction. One per-doc agg closes it — the
    // d08/x13 posting-index family at character level.
    // ------------------------------------------------------------------
    "d13_dup_span_fraction" -> Q(
      (s, d) => {
        val L = 20
        // gram-hash array fed straight to explode over the once-aliased
        // normalized text (the d08/x13 fast generate shape); GramHashes
        // is the tight-loop Catalyst expression — the composable
        // transform+h60col tower pays an interpreted lambda frame and
        // an md5→hex→conv parse per gram (bit-parity in FunctionsSpec)
        val grams = graft.functions.Winnow.gramHashes(col("t"), L)
        val posts = docs(s, d)
          .select(col("doc_id"),
            regexp_replace(lower(col("text")), "\\s+", " ").as("t"))
          .select(col("doc_id"), explode(grams).as("g"))
        val perDocGram = posts.groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("n"))
        perDocGram
          .withColumn("gdf", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
          .groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_grams"),
            sum(when(col("gdf") >= 2, col("n"))
              .otherwise(lit(0L))).as("n_shared"))
          .withColumn("dup_frac", col("n_shared").cast("double") /
            col("n_grams").cast("double"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH norm AS (
          SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
          FROM documents),
        posts AS (
          SELECT doc_id,
            unnest(list_transform(range(1, length(t) - 20 + 2), i ->
              ('0x' || substr(md5(substr(t, i, 20)), 1, 15))::BIGINT))
              AS g
          FROM norm WHERE length(t) >= 20),
        pdg AS (
          SELECT doc_id, g, cast(count(*) as bigint) AS n
          FROM posts GROUP BY doc_id, g),
        df AS (
          SELECT g, cast(count(*) as bigint) AS gdf
          FROM pdg GROUP BY g)
        SELECT p.doc_id,
          cast(sum(p.n) as bigint) AS n_grams,
          cast(sum(CASE WHEN d.gdf >= 2 THEN p.n ELSE 0 END) as bigint)
            AS n_shared,
          cast(sum(CASE WHEN d.gdf >= 2 THEN p.n ELSE 0 END) as double) /
            cast(sum(p.n) as double) AS dup_frac
        FROM pdg p JOIN df d USING (g)
        GROUP BY p.doc_id
        ORDER BY p.doc_id"""),
      bench = true),


    // ------------------------------------------------------------------
    // Exact dedup: group by normalized-content fingerprint, keep the
    // lowest doc_id as representative (hash-groupBy; one shuffle on the
    // fingerprint — the 100 TB-safe exact-dedup shape).
    // ------------------------------------------------------------------
    "d01_exact_dedup" -> Q(
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"),
            md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("rep_doc_id"),
            count(lit(1)).as("n_copies"))
          .orderBy(col("fp")),
      Some("""SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        min(doc_id) AS rep_doc_id, count(*) AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY fp""")),


    // ------------------------------------------------------------------
    // N-gram (word-set) Jaccard near-dup pairs, exact all-pairs variant
    // for oracle verification (the corpus is bounded; the scale path is
    // d03's MinHash+LSH banding).
    // ------------------------------------------------------------------
    "d02_jaccard_pairs" -> Q(
      (s, d) => {
        // exact all-pairs is the ORACLE variant: bounded to a fixed doc
        // window so its O(n^2) cost stays constant at any sf (identical
        // results at sf<=0.01 where all doc_ids < 1000); d03's LSH is
        // the full-corpus scale path
        val base = docShingles(s, d).filter(col("doc_id") < 1000)
        val a = base.select(col("doc_id").as("doc_a"), col("w").as("wa"))
        val b = base.select(col("doc_id").as("doc_b"), col("w").as("wb"))
        a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("jaccard",
            size(array_intersect(col("wa"), col("wb"))).cast("double") /
              size(array_union(col("wa"), col("wb"))).cast("double"))
          .filter(col("jaccard") >= 0.4)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents WHERE doc_id < 1000),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          cast(len(list_intersect(a.w, b.w)) as double) /
                cast(len(list_distinct(list_concat(a.w, b.w))) as double) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.w, b.w)) as double) /
              cast(len(list_distinct(list_concat(a.w, b.w))) as double) >= 0.4
        ORDER BY doc_a, doc_b""")),


    // ------------------------------------------------------------------
    // Dup CLUSTERS from dup pairs: connected components over the d02
    // near-dup graph via iterative min-label propagation (the step that
    // turns pairwise candidates into "keep one per cluster" dedup).
    // DuckDB re-derives components independently with a recursive
    // transitive-closure CTE — tractable on the bounded oracle window,
    // while the Spark loop is the shape that scales.
    // ------------------------------------------------------------------
    "d07_dup_clusters" -> Q(
      (s, d) => {
        val base = docShingles(s, d).filter(col("doc_id") < 1000)
        val a = base.select(col("doc_id").as("doc_a"), col("w").as("wa"))
        val b = base.select(col("doc_id").as("doc_b"), col("w").as("wb"))
        val pairs = a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("jaccard",
            size(array_intersect(col("wa"), col("wb"))).cast("double") /
              size(array_union(col("wa"), col("wb"))).cast("double"))
          .filter(col("jaccard") >= 0.4)
          .select(col("doc_a"), col("doc_b"))
        graft.operators.ConnectedComponents.components(pairs)
          .select(col("id").as("doc_id"), col("cluster"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents WHERE doc_id < 1000),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE cast(len(list_intersect(a.w, b.w)) as double) /
                cast(len(list_distinct(list_concat(a.w, b.w))) as double) >= 0.4),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, least(src, min(dst)) AS cluster
        FROM reach GROUP BY src
        ORDER BY doc_id""")),


    // ------------------------------------------------------------------
    // MinHash + LSH banded near-dup: 64-perm signatures, 16 bands × 4
    // rows, band-bucket join produces candidates, exact Jaccard
    // verifies. This is the linear-shuffle scale path (no all-pairs).
    // Hash-verified: signatures/bands use PortableHash's mod-p
    // arithmetic, which the DuckDB oracle re-derives from scratch.
    // ------------------------------------------------------------------
    "d03_minhash_lsh" -> Q(
      (s, d) => {
        val bands = 16
        val rowsPerBand = 4
        val base = docShingles(s, d)
        // banded rows carry ONLY (band, band_hash, doc_id): the shingle
        // arrays must not ride through the band shuffle, and candidate
        // dedup happens on bare (doc_a, doc_b) id pairs — array-typed
        // shuffle keys were a 20× slowdown here.
        // custom Catalyst expression: one-pass shingle+signature loop,
        // bit-identical to minhashSig(shingles) but ~50× faster (nested
        // higher-order lambdas don't codegen; see ShingleMinHash docs).
        // It consumes raw tokens, so band hashing reads docs directly.
        // docs with <3 words have an EMPTY shingle set → all-identical
        // signatures → they collide with each other in every band (n²
        // candidate pairs) yet their Jaccard is 0/0 = NaN and never
        // passes the threshold. Prune them before banding: semantics
        // identical, and the degenerate-key blowup disappears at scale.
        val banded = docs(s, d)
          .select(col("doc_id"), words(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .withColumn("sig",
            graft.functions.ShingleMinHash.shingleMinhash(col("toks")))
          .select(col("doc_id"),
            // band hash = mod-p polynomial fold of the band's 4 sig
            // values (acc*FoldBase+v mod P, acc0=0) — portable to the
            // oracle; a band collision only creates a false candidate
            // that the exact-Jaccard verification below discards.
            posexplode(transform(sequence(lit(0), lit(bands - 1)), bi =>
              aggregate(
                slice(col("sig"), bi * rowsPerBand + 1, lit(rowsPerBand)),
                lit(0L),
                (acc, v) => pmod(
                  acc * graft.functions.PortableHash.FoldBase + v,
                  lit(graft.functions.PortableHash.P))))))
          .select(col("doc_id"), col("pos").as("band"),
            col("col").as("band_hash"))
        // candidate pairs: banded self-join on (band, band_hash). Both
        // join inputs are the same canonical subplan shuffled on the
        // same keys, so ReuseExchange materializes the scan+minhash
        // once (verified in the formatted plan). A groupBy+collect_list
        // pair-expansion variant was tried and is ~1.7× slower — the
        // nested pair-enumeration lambda doesn't codegen.
        val cand = banded.as("l")
          .join(banded.as("r"), Seq("band", "band_hash"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
          .filter(col("doc_a") < col("doc_b"))
          .distinct()
        // verification: join the candidate pairs straight back to the
        // shingle table on each side. (An earlier semi-join "prune"
        // computed candDocs = union of two selects of cand, which made
        // Catalyst evaluate the whole scan+minhash+join subtree three
        // times — the prune cost more than the shingling it saved. The
        // small candidate side broadcasts, so no shingle arrays ride a
        // shuffle.)
        cand
          .join(base.select(col("doc_id").as("doc_a"),
            col("w").as("wa")), Seq("doc_a"))
          .join(base.select(col("doc_id").as("doc_b"),
            col("w").as("wb")), Seq("doc_b"))
          .withColumn("jaccard",
            size(array_intersect(col("wa"), col("wb"))).cast("double") /
              size(array_union(col("wa"), col("wb"))).cast("double"))
          .filter(col("jaccard") >= 0.4)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH perms AS (
          SELECT
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_a_' || i), 1, 15))::BIGINT % 2147483646 + 1) AS pa,
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_b_' || i), 1, 15))::BIGINT % 2147483647) AS pb),
        t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3),
        hs AS (
          SELECT doc_id,
            list_transform(w, s ->
              ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h
          FROM sh),
        sig AS (
          SELECT doc_id,
            list_transform(range(0, 64), i ->
              list_min(list_transform(h, x ->
                (pa[i+1] * x + pb[i+1]) % 2147483647))) AS sig
          FROM hs, perms),
        banded AS (
          SELECT doc_id, b AS band,
            list_reduce(list_prepend(0::BIGINT, sig[b*4+1 : b*4+4]),
              (acc, v) -> (acc * 1000003 + v) % 2147483647) AS band_hash
          FROM sig, range(0, 16) t(b)),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id)
        SELECT c.doc_a, c.doc_b,
          cast(len(list_intersect(x.w, y.w)) as double) /
            cast(len(list_distinct(list_concat(x.w, y.w))) as double)
            AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
        WHERE cast(len(list_intersect(x.w, y.w)) as double) /
              cast(len(list_distinct(list_concat(x.w, y.w))) as double)
              >= 0.4
        ORDER BY doc_a, doc_b"""),
      bench = true),


    // ------------------------------------------------------------------
    // SimHash near-dup: 60-bit signatures, candidates via 4×15-bit
    // band equality (a doc pair within Hamming distance 3 shares at
    // least one exact 15-bit quarter — pigeonhole over 4 bands),
    // verified by bit_count(xor). Hash-verified: the signature is
    // portable h60 bit arithmetic the oracle re-derives.
    // ------------------------------------------------------------------
    "d04_simhash" -> Q(
      (s, d) => {
        val base = docs(s, d)
          .select(col("doc_id"),
            graft.functions.SimHash60.simhash60(words(col("text"))).as("sh"))
        val banded = base.select(col("doc_id"), col("sh"),
          posexplode(transform(sequence(lit(0), lit(3)), q =>
            shr(col("sh"), q * 15).bitwiseAND(lit(0x7FFFL)))))
          .withColumnRenamed("pos", "quarter")
          .withColumnRenamed("col", "qhash")
        val l = banded.select(col("quarter"), col("qhash"),
          col("doc_id").as("doc_a"), col("sh").as("sha"))
        val r = banded.select(col("quarter"), col("qhash"),
          col("doc_id").as("doc_b"), col("sh").as("shb"))
        l.join(r, Seq("quarter", "qhash"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        hs AS (
          SELECT doc_id,
            list_transform(w, x ->
              ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
          FROM t0),
        sig AS (
          SELECT doc_id,
            cast(list_sum(list_transform(range(0, 60), b ->
              CASE WHEN cast(list_sum(list_transform(h, v ->
                  CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) as bigint) > 0
                THEN 1::BIGINT << b ELSE 0::BIGINT END)) as bigint) AS sh
          FROM hs),
        banded AS (
          SELECT doc_id, sh, q AS quarter,
            (sh >> cast(q*15 as int)) & 32767 AS qhash
          FROM sig, range(0, 4) t(q)),
        pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
            cast(bit_count(xor(l.sh, r.sh)) as int) AS hamming
          FROM banded l JOIN banded r
            ON l.quarter = r.quarter AND l.qhash = r.qhash
              AND l.doc_id < r.doc_id)
        SELECT doc_a, doc_b, hamming
        FROM pairs
        WHERE hamming <= 3
        ORDER BY doc_a, doc_b""")),


    // ------------------------------------------------------------------
    // Embedding cosine near-dup pairs (exact; double-precision dot).
    // ------------------------------------------------------------------
    "d05_embedding_neardup" -> Q(
      (s, d) => {
        // bounded exact variant (oracle); the scale path is LSH/IVF
        // bucketing as in s02
        val base = emb(s, d).filter(col("vec_id") < 1000)
        val a = base.select(col("vec_id").as("vec_a"),
          col("embedding").as("ea"))
        val b = base.select(col("vec_id").as("vec_b"),
          col("embedding").as("eb"))
        a.join(b, col("vec_a") < col("vec_b"))
          .withColumn("cos", cosine(col("ea"), col("eb")))
          .filter(col("cos") >= 0.4)
          .select(col("vec_a"), col("vec_b"), col("cos"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings WHERE vec_id < 1000),
        n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_dot_product(a.v, b.v) / a.nrm / b.nrm AS cos
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / a.nrm / b.nrm >= 0.4
        ORDER BY vec_a, vec_b""")),


    // ------------------------------------------------------------------
    // Shingle containment (asymmetric near-dup: how much of the SMALLER
    // doc is inside the pair): |A∩B| / min(|A|,|B|). Catches
    // subset/quotation duplication that symmetric Jaccard dilutes.
    // Bounded exact variant (oracle); the scale path is d03's LSH.
    // ------------------------------------------------------------------
    "d06_containment" -> Q(
      (s, d) => {
        val base = docShingles(s, d)
          .filter(col("doc_id") < 1000 && size(col("w")) > 0)
        val a = base.select(col("doc_id").as("doc_a"), col("w").as("wa"))
        val b = base.select(col("doc_id").as("doc_b"), col("w").as("wb"))
        a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("containment",
            size(array_intersect(col("wa"), col("wb"))).cast("double") /
              least(size(col("wa")), size(col("wb"))).cast("double"))
          .filter(col("containment") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("containment"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents WHERE doc_id < 1000),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          cast(len(list_intersect(a.w, b.w)) as double) /
            cast(least(len(a.w), len(b.w)) as double) AS containment
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.w, b.w)) as double) /
              cast(least(len(a.w), len(b.w)) as double) >= 0.5
        ORDER BY doc_a, doc_b""")),


    // ------------------------------------------------------------------
    // Full-corpus EXACT near-dup via an inverted shingle index — the
    // scalable exact middle path between d02 (all-pairs, bounded to an
    // oracle window) and d03 (probabilistic LSH). Explode shingles,
    // drop hot shingles (df > 50 — boilerplate carries no near-dup
    // signal and a hot key would concentrate df² pair rows on one
    // reducer), expand each surviving posting list's pairs row-locally,
    // and compute Jaccard over the df-pruned shingle universe FROM
    // COUNTS alone: |A∩B| is the pair's shared-posting count and
    // |A∪B| = |A'| + |B'| − |A∩B| — so after the one data-sized
    // shuffle on shingle, everything downstream is count arithmetic
    // joined against a per-doc size table; no shingle ARRAY ever rides
    // a shuffle and there is no verify join carrying sets. (An earlier
    // version verified against the full shingle sets via an array
    // join — inconsistent with the df-pruned candidate universe AND
    // the dominant cost at sf0.1: 1.1M candidate pairs × 300-string
    // array intersections.) The df cap is part of the operator's
    // semantics and is mirrored exactly in the oracle.
    // ------------------------------------------------------------------
    "d08_posting_jaccard" -> Q(
      (s, d) => postingJaccardPairs(s, d)
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""WITH t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3),
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
          GROUP BY a.doc_id, b.doc_id)
        SELECT s.doc_a, s.doc_b,
          cast(s.shared_fps as double) /
            cast(x.sz + y.sz - s.shared_fps as double) AS jaccard
        FROM shared s
        JOIN sizes x ON x.doc_id = s.doc_a
        JOIN sizes y ON y.doc_id = s.doc_b
        WHERE cast(s.shared_fps as double) /
              cast(x.sz + y.sz - s.shared_fps as double) >= 0.4
        ORDER BY doc_a, doc_b"""),
      bench = true),


    // ------------------------------------------------------------------
    // Dedup KEEP-LIST — the end product a curation pipeline actually
    // consumes: every document with its cluster representative and a
    // keep/drop verdict (keep = the cluster's min doc_id; singletons
    // keep themselves). Composes d07's clustering with a left join back
    // to the corpus. Pair-gen is the bounded all-pairs oracle twin
    // (window doc_id < 1000, same as d07); at scale candidates come
    // from d03/d08 and the rest of this plan is unchanged.
    // ------------------------------------------------------------------
    "d09_dedup_keeplist" -> Q(
      (s, d) => {
        val base = docShingles(s, d).filter(col("doc_id") < 1000)
        val a = base.select(col("doc_id").as("doc_a"), col("w").as("wa"))
        val b = base.select(col("doc_id").as("doc_b"), col("w").as("wb"))
        val pairs = a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("jaccard",
            size(array_intersect(col("wa"), col("wb"))).cast("double") /
              size(array_union(col("wa"), col("wb"))).cast("double"))
          .filter(col("jaccard") >= 0.4)
          .select(col("doc_a"), col("doc_b"))
        val cc = graft.operators.ConnectedComponents.components(pairs)
        docs(s, d).filter(col("doc_id") < 1000).select(col("doc_id"))
          .join(cc, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .withColumn("keep", col("doc_id") === col("cluster"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents WHERE doc_id < 1000),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE cast(len(list_intersect(a.w, b.w)) as double) /
                cast(len(list_distinct(list_concat(a.w, b.w))) as double) >= 0.4),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        cc AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster
          FROM reach GROUP BY src)
        SELECT d.doc_id,
          coalesce(cc.cluster, d.doc_id) AS cluster,
          d.doc_id = coalesce(cc.cluster, d.doc_id) AS keep
        FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
        LEFT JOIN cc ON cc.doc_id = d.doc_id
        ORDER BY d.doc_id""")),


    // ------------------------------------------------------------------
    // SOFT dedup — weight, don't delete: each document keeps a
    // training weight of 1e6 div cluster_size ppm (singletons 1e6), so
    // a 4-copy cluster contributes ~one document's worth of gradient
    // instead of 4× (the repetition-hurts result of Lee et al. 2022
    // without hard deletion's coverage risk). Clusters come from the
    // AT-SCALE path (x30's df-capped posting index → Jaccard verify →
    // connected components — no all-pairs); cluster size is a count
    // over a cluster-keyed window (doc-scale keys, never a global
    // sort), and the weight is integer div — exact in both engines.
    // Output: the cluster-size histogram with raw vs weighted token
    // mass — the "what does soft dedup cost me" readout next to x30's
    // hard-delete savings.
    // ------------------------------------------------------------------
    "d19_soft_dedup_weights" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toked = docs(s, d)
          .select(col("doc_id"), words(col("text")).as("w"))
          .withColumn("n_toks", size(col("w")).cast("long"))
        val pairs = postingJaccardPairsFrom(
          toked.filter(size(col("w")) >= 3)
            .select(col("doc_id"), col("w").as("toks")))
          .select(col("doc_a"), col("doc_b"))
        val cc = graft.operators.ConnectedComponents.components(pairs)
        toked.join(cc, col("doc_id") === col("id"), "left")
          .select(col("doc_id"), col("n_toks"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .withColumn("cl_size",
            count(lit(1)).over(Window.partitionBy(col("cluster"))))
          .withColumn("w_ppm", expr("1000000 div cl_size"))
          .groupBy(col("cl_size"))
          .agg(countDistinct(col("cluster")).as("n_clusters"),
            count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("tokens"),
            sum(col("n_toks") * col("w_ppm")).as("weighted_tokens_ppm"))
          .orderBy(col("cl_size"))
      },
      Some("""WITH RECURSIVE t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'),
              '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sw
          FROM t0 WHERE len(w) >= 3),
        dposts AS (SELECT doc_id, unnest(sw) AS fp FROM sh),
        dfc AS (SELECT fp, count(*) AS df FROM dposts GROUP BY fp),
        okposts AS (
          SELECT p.doc_id, p.fp FROM dposts p
          JOIN dfc ON dfc.fp = p.fp AND dfc.df <= 50),
        dsizes AS (
          SELECT doc_id, cast(count(*) as bigint) AS sz
          FROM okposts GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            cast(count(*) as bigint) AS shared_fps
          FROM okposts a
          JOIN okposts b ON b.fp = a.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        prs AS (
          SELECT s.doc_a, s.doc_b
          FROM shared s
          JOIN dsizes x ON x.doc_id = s.doc_a
          JOIN dsizes y ON y.doc_id = s.doc_b
          WHERE cast(s.shared_fps as double) /
                cast(x.sz + y.sz - s.shared_fps as double) >= 0.4),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        ccx AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster
          FROM reach GROUP BY src),
        wc AS (
          SELECT t0.doc_id, cast(len(t0.w) as bigint) AS n_toks,
            coalesce(ccx.cluster, t0.doc_id) AS cluster
          FROM t0 LEFT JOIN ccx ON ccx.doc_id = t0.doc_id),
        ws AS (
          SELECT doc_id, n_toks, cluster,
            cast(count(*) OVER (PARTITION BY cluster) as bigint) AS cl_size
          FROM wc)
        SELECT cl_size,
          cast(count(DISTINCT cluster) as bigint) AS n_clusters,
          cast(count(*) as bigint) AS n_docs,
          cast(sum(n_toks) as bigint) AS tokens,
          cast(sum(n_toks * (1000000 // cl_size)) as bigint)
            AS weighted_tokens_ppm
        FROM ws GROUP BY cl_size ORDER BY cl_size""")),


    // ------------------------------------------------------------------
    // INCREMENTAL cluster maintenance — when a new drop arrives, do
    // NOT re-cluster the corpus: run connected components on the
    // CONTRACTED graph. Day-0 (sources src0-15) clusters once; the
    // incremental step maps every new-vs-old candidate pair's old
    // endpoint to its stored cluster REP and runs CC over (rep, new)
    // ∪ (new, new) edges only — a graph of reps + new docs, not of
    // documents. Because each rep is the MIN of its members, the
    // contracted component's min equals the true global min, so the
    // merged labels are exactly the from-scratch labels. THE ORACLE IS
    // THE PROOF: DuckDB re-clusters the FULL corpus from scratch
    // (transitive closure over all pairs), and the hash match IS the
    // merge ≡ recompute theorem (q76's pattern, for graphs). Pair
    // generation uses the full-corpus df-capped posting index on both
    // paths (df stats are maintainable incrementally; recomputed here)
    // so the two pair sets coincide by construction. Output: the final
    // multi-doc cluster census with each cluster's new-doc count.
    // ------------------------------------------------------------------
    "d20_incremental_clusters" -> Q(
      (s, d) => {
        val isNew = col("source")
          .isin("src16", "src17", "src18", "src19")
        val toked = docs(s, d)
          .select(col("doc_id"), isNew.as("is_new"),
            words(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
        val pairs = postingJaccardPairsFrom(
          toked.select(col("doc_id"), col("toks")))
          .select(col("doc_a"), col("doc_b")).localCheckpoint()
        val newIds = docs(s, d).filter(isNew)
          .select(col("doc_id")).localCheckpoint()
        // day-0: components over old-old pairs only
        val oldPairs = pairs
          .join(newIds.select(col("doc_id").as("doc_a")), Seq("doc_a"),
            "left_anti")
          .join(newIds.select(col("doc_id").as("doc_b")), Seq("doc_b"),
            "left_anti")
        val day0 = graft.operators.ConnectedComponents
          .components(oldPairs.select(col("doc_a"), col("doc_b")))
          .select(col("id"), col("cluster")).localCheckpoint()
        // incremental: pairs touching a new doc, old side contracted
        // to its stored rep
        val incPairs = pairs
          .join(newIds.select(col("doc_id").as("doc_a"))
            .withColumn("a_new", lit(true)), Seq("doc_a"), "left")
          .join(newIds.select(col("doc_id").as("doc_b"))
            .withColumn("b_new", lit(true)), Seq("doc_b"), "left")
          .filter(col("a_new").isNotNull || col("b_new").isNotNull)
          .join(day0.select(col("id").as("doc_a"),
            col("cluster").as("ra")), Seq("doc_a"), "left")
          .join(day0.select(col("id").as("doc_b"),
            col("cluster").as("rb")), Seq("doc_b"), "left")
          .select(coalesce(col("ra"), col("doc_a")).as("na"),
            coalesce(col("rb"), col("doc_b")).as("nb"))
          .filter(col("na") =!= col("nb"))
        val merged = graft.operators.ConnectedComponents
          .components(incPairs.select(col("na"), col("nb")))
          .select(col("id").as("node"), col("cluster").as("mlbl"))
          .localCheckpoint()
        // final label per doc: old docs go day-0 rep → merged label of
        // that rep; new docs take their merged label; untouched keep
        // themselves
        val assigned = docs(s, d).select(col("doc_id"), isNew.as("nw"))
          .join(day0.select(col("id").as("doc_id"),
            col("cluster").as("r0")), Seq("doc_id"), "left")
          .withColumn("pre", coalesce(col("r0"), col("doc_id")))
          .join(merged.select(col("node").as("pre"), col("mlbl")),
            Seq("pre"), "left")
          .select(col("doc_id"), col("nw"),
            coalesce(col("mlbl"), col("pre")).as("cluster"))
        assigned.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("nw"), 1)).as("n_new"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("cluster"))
      },
      Some("""WITH RECURSIVE t0 AS (
          SELECT doc_id,
            source IN ('src16','src17','src18','src19') AS is_new,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'),
              '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sw
          FROM t0 WHERE len(w) >= 3),
        dposts AS (SELECT doc_id, unnest(sw) AS fp FROM sh),
        dfc AS (SELECT fp, count(*) AS df FROM dposts GROUP BY fp),
        okposts AS (
          SELECT p.doc_id, p.fp FROM dposts p
          JOIN dfc ON dfc.fp = p.fp AND dfc.df <= 50),
        dsizes AS (
          SELECT doc_id, cast(count(*) as bigint) AS sz
          FROM okposts GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            cast(count(*) as bigint) AS shared_fps
          FROM okposts a
          JOIN okposts b ON b.fp = a.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        prs AS (
          SELECT s.doc_a, s.doc_b
          FROM shared s
          JOIN dsizes x ON x.doc_id = s.doc_a
          JOIN dsizes y ON y.doc_id = s.doc_b
          WHERE cast(s.shared_fps as double) /
                cast(x.sz + y.sz - s.shared_fps as double) >= 0.4),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        ccx AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster
          FROM reach GROUP BY src),
        assigned AS (
          SELECT t0.doc_id, t0.is_new,
            coalesce(ccx.cluster, t0.doc_id) AS cluster
          FROM t0 LEFT JOIN ccx ON ccx.doc_id = t0.doc_id)
        SELECT cluster, cast(count(*) as bigint) AS n_docs,
          cast(count(*) FILTER (WHERE is_new) as bigint) AS n_new
        FROM assigned GROUP BY cluster HAVING count(*) >= 2
        ORDER BY cluster""")),


    // ------------------------------------------------------------------
    // Containment at SCALE — closes d06's documented gap ("the scale
    // path is LSH"): the same df-capped posting index d08 runs for
    // Jaccard, with the asymmetric formula shared / min(|A'|, |B'|)
    // over the PRUNED shingle universe (primes stay primed: a doc
    // whose shingles are all ubiquitous has no indexed shingles and
    // correctly produces no candidates — the pruned-universe semantic,
    // stated as such; d06 remains the bounded exact-universe twin).
    // Catches quotation/subset duplication that symmetric Jaccard
    // dilutes, without an all-pairs join at any scale.
    // ------------------------------------------------------------------
    "d21_containment_scaled" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tokd = docs(s, d)
          .select(col("doc_id"), words(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
        val posts = tokd.select(col("doc_id"),
          explode(shingles3(col("toks"))).as("fp"))
        val okPosts = posts
          .withColumn("df",
            count(lit(1)).over(Window.partitionBy(col("fp"))))
          .filter(col("df") <= 50)
          .select(col("doc_id"), col("fp"))
        val sizes = okPosts.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("sz"))
        winnowCandidatePairs(okPosts, minShared = 1, maxDf = 50)
          .join(sizes.select(col("doc_id").as("doc_a"),
            col("sz").as("sz_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"),
            col("sz").as("sz_b")), "doc_b")
          .withColumn("containment", col("shared_fps").cast("double") /
            least(col("sz_a"), col("sz_b")).cast("double"))
          .filter(col("containment") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("containment"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'),
              '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sw
          FROM t0 WHERE len(w) >= 3),
        dposts AS (SELECT doc_id, unnest(sw) AS fp FROM sh),
        dfc AS (SELECT fp, count(*) AS df FROM dposts GROUP BY fp),
        okposts AS (
          SELECT p.doc_id, p.fp FROM dposts p
          JOIN dfc ON dfc.fp = p.fp AND dfc.df <= 50),
        dsizes AS (
          SELECT doc_id, cast(count(*) as bigint) AS sz
          FROM okposts GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            cast(count(*) as bigint) AS shared_fps
          FROM okposts a
          JOIN okposts b ON b.fp = a.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT s.doc_a, s.doc_b,
          cast(s.shared_fps as double) /
            cast(least(x.sz, y.sz) as double) AS containment
        FROM shared s
        JOIN dsizes x ON x.doc_id = s.doc_a
        JOIN dsizes y ON y.doc_id = s.doc_b
        WHERE cast(s.shared_fps as double) /
              cast(least(x.sz, y.sz) as double) >= 0.5
        ORDER BY doc_a, doc_b""")),


    // ------------------------------------------------------------------
    // Substring-span dedup that EMITS the cleaned corpus (Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better" — the
    // operator d13 measures toward): positions covered by a cross-doc
    // 20-gram (df >= 2 over distinct docs, d13's definition) are merged
    // into maximal spans (two covering grams whose starts differ by
    // <= L overlap/abut, so islands break exactly where the start gap
    // exceeds L — a lag-window flag + running sum, no interval
    // self-join), the spans are CUT, and each document is rewritten as
    // the ordered concatenation of its kept segments. Output is the
    // full rewrite audit: span count, removed chars, cleaned length
    // (orig_len = cleaned_len + removed_chars by construction), the
    // md5 of the WHOLE rewritten text (the oracle hash-verifies every
    // byte of the emitted corpus, not a statistic of it) and an 80-char
    // sample. Scale shape: char-scale explode (same cost class as d13),
    // one gram-keyed distinct + df filter, one gram-keyed join back,
    // then everything is doc-keyed windows/aggs whose per-doc state is
    // bounded by document length — the same bound as holding the text
    // column itself. No all-pairs anywhere.
    // ------------------------------------------------------------------
    "d22_span_dedup_rewrite" -> Q(
      (s, d) => spanCleanedDocs(s, d)
        .select(col("doc_id"), col("orig_len"), col("n_spans"),
          col("removed_chars"), col("cleaned_len"),
          md5(col("ctext")).as("cleaned_md5"),
          substring(col("ctext"), 1, 80).as("cleaned_head"))
        .orderBy(col("doc_id")),
      Some(spanCleanedSqlCtes + """
        SELECT doc_id, orig_len, n_spans, removed_chars, cleaned_len,
          md5(ctext) AS cleaned_md5,
          substr(ctext, 1, 80) AS cleaned_head
        FROM percleaned
        ORDER BY doc_id"""),
      bench = true),


    // ------------------------------------------------------------------
    // Before/after census of the d22 rewrite — the corpus-level
    // token-mass accounting a curation run reports after the cut:
    // docs affected, spans cut, char mass removed, and whitespace-token
    // mass before vs after (cut points can fuse adjacent tokens, so
    // token mass is NOT derivable from char counts — it is recomputed
    // on the rewritten text). Fractions are double divisions of exact
    // integers < 2^53 — bit-identical across engines.
    // ------------------------------------------------------------------
    "d23_span_dedup_census" -> Q(
      (s, d) => {
        def toks(c: Column): Column = {
          val trimmed = regexp_replace(c, "^\\s+|\\s+$", "")
          when(length(trimmed) === 0, lit(0L))
            .otherwise(size(split(trimmed, "\\s+")).cast("bigint"))
        }
        spanCleanedDocs(s, d)
          .select(col("orig_len"), col("n_spans"), col("removed_chars"),
            col("cleaned_len"), toks(col("t")).as("tb"),
            toks(col("ctext")).as("ta"))
          .agg(count(lit(1)).as("docs_total"),
            sum(when(col("n_spans") > 0, 1L).otherwise(0L))
              .as("docs_affected"),
            sum(col("n_spans")).as("spans_total"),
            sum(col("orig_len")).as("chars_total"),
            sum(col("removed_chars")).as("chars_removed"),
            sum(col("tb")).as("tokens_before"),
            sum(col("ta")).as("tokens_after"))
          .withColumn("char_frac_removed",
            col("chars_removed").cast("double") /
              col("chars_total").cast("double"))
          .withColumn("token_frac_removed",
            (col("tokens_before") - col("tokens_after")).cast("double") /
              col("tokens_before").cast("double"))
          .orderBy(col("docs_total"))
      },
      Some(spanCleanedSqlCtes + """,
        toked AS (
          SELECT orig_len, n_spans, removed_chars, cleaned_len,
            CASE WHEN length(regexp_replace(t, '^\s+|\s+$', '', 'g')) = 0
              THEN 0 ELSE len(string_split_regex(
                regexp_replace(t, '^\s+|\s+$', '', 'g'), '\s+')) END AS tb,
            CASE WHEN length(regexp_replace(ctext, '^\s+|\s+$', '', 'g')) = 0
              THEN 0 ELSE len(string_split_regex(
                regexp_replace(ctext, '^\s+|\s+$', '', 'g'), '\s+')) END AS ta
          FROM percleaned),
        census AS (
          SELECT cast(count(*) as bigint) AS docs_total,
            cast(sum(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END) as bigint)
              AS docs_affected,
            cast(sum(n_spans) as bigint) AS spans_total,
            cast(sum(orig_len) as bigint) AS chars_total,
            cast(sum(removed_chars) as bigint) AS chars_removed,
            cast(sum(tb) as bigint) AS tokens_before,
            cast(sum(ta) as bigint) AS tokens_after
          FROM toked)
        SELECT docs_total, docs_affected, spans_total, chars_total,
          chars_removed, tokens_before, tokens_after,
          cast(chars_removed as double) / cast(chars_total as double)
            AS char_frac_removed,
          cast(tokens_before - tokens_after as double) /
            cast(tokens_before as double) AS token_frac_removed
        FROM census
        ORDER BY docs_total""")),


    // ------------------------------------------------------------------
    // SEMANTIC near-dup (SemDeDup-style): assign every embedding to its
    // nearest codebook centroid — the row-local zero-shuffle argmax of
    // assignToCodebook — then exact pairwise cosine ONLY within a
    // cluster. Clustering shrinks the pair space ~k-fold (15.5k of the
    // 125k all-pairs at sf0.01) at a measurable recall cost against the
    // exact d05 (20 of its 59 τ=0.4 pairs here — random centroids over
    // near-uniform synthetic vectors; real embedding spaces cluster far
    // tighter, and recall rises with k). The equi-join on cent_id keeps
    // the plan free of any data×data cross join; at 100 TB each cluster
    // sub-buckets again with s02's hyperplane LSH before pairing.
    // ------------------------------------------------------------------
    "d10_semantic_neardup" -> Q(
      (s, d) => {
        def dot(x: Column, y: Column): Column =
          graft.functions.VectorDot.dot(x, y)
        // norm hoisted to once-per-VECTOR (the oracle's own shape:
        // dot/nrm_a/nrm_b) — computing cosine(ea, eb) per pair would
        // re-derive both norms per PAIR, tripling the dominant
        // per-pair dot cost (measured 7.0 s → 3.6 s at sf0.1 in the
        // interpreted-HOF era; VectorDot keeps the same shape fused)
        val assigned = assignToCodebook(s, d)
          .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        val a = assigned.select(col("cent_id"), col("vec_id").as("vec_a"),
          col("embedding").as("ea"), col("nrm").as("nrm_a"))
        val b = assigned.select(col("cent_id"), col("vec_id").as("vec_b"),
          col("embedding").as("eb"), col("nrm").as("nrm_b"))
        a.join(b, Seq("cent_id"))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("cos",
            dot(col("ea"), col("eb")) / col("nrm_a") / col("nrm_b"))
          .filter(col("cos") >= 0.4)
          .select(col("cent_id"), col("vec_a"), col("vec_b"), col("cos"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 8),
        asgn AS (
          SELECT vec_id, v, nrm, cent_id,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY list_dot_product(v, cv) / nrm / cnrm DESC, cent_id)
              AS rn
          FROM n, c),
        assigned AS (SELECT vec_id, v, nrm, cent_id FROM asgn WHERE rn = 1),
        pairs AS (
          SELECT a.cent_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
            list_dot_product(a.v, b.v) / a.nrm / b.nrm AS cos
          FROM assigned a
          JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
        SELECT cent_id, vec_a, vec_b, cos FROM pairs
        WHERE cos >= 0.4
        ORDER BY vec_a, vec_b"""),
      bench = true),


    // ------------------------------------------------------------------
    // Train/test SPLIT-LEAKAGE audit — the eval-integrity check a
    // curation pipeline must run: near-duplicate pairs (d08's exact
    // posting-index detector) that straddle x17's deterministic hash
    // split. A test document with a train near-twin inflates eval —
    // the fix is dedup-BEFORE-split (d09's keep-list), and this query
    // is the regression check that proves it happened. Adds only two
    // row-local h60 projections and a filter on top of d08's plan.
    // ------------------------------------------------------------------
    "d11_split_leakage" -> Q(
      (s, d) => {
        def split(c: Column): Column = {
          val bucket = pmod(graft.functions.PortableHash.h60col(
            concat(lit("split_"), c)), lit(100L))
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test")
        }
        postingJaccardPairs(s, d)
          .withColumn("split_a", split(col("doc_a")))
          .withColumn("split_b", split(col("doc_b")))
          .filter(col("split_a") =!= col("split_b"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3),
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
        pairs AS (
          SELECT s.doc_a, s.doc_b,
            cast(s.shared_fps as double) /
              cast(x.sz + y.sz - s.shared_fps as double) AS jaccard
          FROM shared s
          JOIN sizes x ON x.doc_id = s.doc_a
          JOIN sizes y ON y.doc_id = s.doc_b
          WHERE cast(s.shared_fps as double) /
                cast(x.sz + y.sz - s.shared_fps as double) >= 0.4),
        tagged AS (
          SELECT doc_a, doc_b, jaccard,
            CASE WHEN ('0x' || substr(md5('split_' || doc_a), 1, 15))::BIGINT % 100 < 90 THEN 'train'
                 WHEN ('0x' || substr(md5('split_' || doc_a), 1, 15))::BIGINT % 100 < 95 THEN 'val'
                 ELSE 'test' END AS split_a,
            CASE WHEN ('0x' || substr(md5('split_' || doc_b), 1, 15))::BIGINT % 100 < 90 THEN 'train'
                 WHEN ('0x' || substr(md5('split_' || doc_b), 1, 15))::BIGINT % 100 < 95 THEN 'val'
                 ELSE 'test' END AS split_b
          FROM pairs)
        SELECT doc_a, doc_b, jaccard, split_a, split_b
        FROM tagged
        WHERE split_a <> split_b
        ORDER BY doc_a, doc_b""")),


    // ------------------------------------------------------------------
    // SEMANTIC near-dup, SCALED (d10's dial turned): the fix for d10's
    // fixed-k quadratic (sf1 decade 55× — k=8 means in-cluster
    // all-pairs is O(N²/8)). Three changes, each mirrored exactly in
    // the oracle so the whole scaled path stays hash-verified:
    //   1. k ∝ corpus: k = max(16, N/64) centroids (the first k
    //      vectors), so expected cluster size is a CONSTANT ~64 and
    //      total in-cluster pair work is linear in N.
    //   2. The codebook is a one-row BROADCAST relation, not plan
    //      literals (assignToCodebook's literal array carries k·dim
    //      literals — fine at k=8, plan-explosion at k=300+), and
    //      assignment is two-level: argmax over √k coarse centroids,
    //      then argmax over the picked cell's fine centroids — O(√k)
    //      dot products per row instead of O(k). The per-row fold is
    //      still zero-shuffle; the only data movement for assignment
    //      is one broadcast of the codebook row.
    //   3. Inside each cluster, candidates sub-bucket with h60-derived
    //      hyperplane LSH (4 tables × 4 planes, OR-construction like
    //      d03's bands): pairing joins on (cent_id, table, band), so
    //      bucket population — not cluster population — bounds the
    //      per-doc pair work. Candidate pairs then dedup on bare ids
    //      and join back to the plain scan for the exact cosine (no
    //      arrays ride the pair shuffle; d03's discipline).
    // Recall vs the exact d05 is the LSH tradeoff (a τ=0.4 pair crosses
    // 4 random hyperplanes with p≈0.16 per table → ~0.5 for 4 tables;
    // tight near-dups ≥0.9 are caught with p→1), the same contract as
    // s02/d03. Centroid derivation (fine×coarse argmax) is a
    // metadata-scale k×√k cross join — allowlisted in PlanAuditSpec.
    // ------------------------------------------------------------------
    "d12_semantic_scaled" -> Q(
      (s, d) => {
        def dot(x: Column, y: Column): Column =
          graft.functions.VectorDot.dot(x, y)
        val bandTables = 4
        val planes = 4
        val nVecs = emb(s, d).count() // metadata-scale scalar, like g01's N
        val k = math.max(16L, nVecs / 64L)
        val kc = math.ceil(math.sqrt(k.toDouble)).toLong
        val dim = emb(s, d).select(size(col("embedding"))).head.getInt(0)

        val base = emb(s, d)
          .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        val fine = base.filter(col("vec_id") < k)
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
            col("nrm").as("cnrm"))
        val coarse = fine.filter(col("cent_id") < kc)
          .select(col("cent_id").as("coarse_id"), col("ce").as("cce"),
            col("cnrm").as("ccnrm"))

        // fine centroid -> coarse cell: argmax cosine, tie -> smallest
        // coarse_id (row_number mirrors the folds' strict-> semantics)
        val wf = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cent_id"))
          .orderBy(col("fc_cos").desc, col("coarse_id"))
        val f2c = fine.crossJoin(coarse)
          .withColumn("fc_cos",
            dot(col("ce"), col("cce")) / col("cnrm") / col("ccnrm"))
          .withColumn("rn", row_number().over(wf))
          .filter(col("rn") === 1)
          .select(col("coarse_id"), col("cent_id"), col("ce"), col("cnrm"))

        // ONE codebook row: sorted coarse array + map coarse_id -> its
        // cell's sorted fine centroids. collect_list order is
        // nondeterministic but array_sort on (unique id, ...) structs
        // restores a canonical order, and map lookup is order-blind.
        val cellsAgg = f2c
          .groupBy(col("coarse_id"))
          .agg(array_sort(collect_list(struct(col("cent_id"), col("ce"),
            col("cnrm")))).as("cell"))
          .agg(map_from_entries(collect_list(struct(col("coarse_id"),
            col("cell")))).as("cells"))
        val coarseAgg = coarse
          .agg(array_sort(collect_list(struct(col("coarse_id"),
            col("cce"), col("ccnrm")))).as("coarse_arr"))
        val codebook = coarseAgg.crossJoin(cellsAgg)

        // two-level row-local assignment over the broadcast codebook
        val assigned = base.crossJoin(broadcast(codebook))
          .withColumn("coarse_pick",
            aggregate(col("coarse_arr"),
              struct(lit(-2.0).as("sim"), lit(-1L).as("id")),
              (acc, c) => {
                val sim = dot(col("embedding"), c.getField("cce")) /
                  col("nrm") / c.getField("ccnrm")
                when(sim > acc.getField("sim"),
                  struct(sim.as("sim"), c.getField("coarse_id").as("id")))
                  .otherwise(acc)
              }).getField("id"))
          .withColumn("cent_id",
            aggregate(element_at(col("cells"), col("coarse_pick")),
              struct(lit(-2.0).as("sim"), lit(-1L).as("id")),
              (acc, c) => {
                val sim = dot(col("embedding"), c.getField("ce")) /
                  col("nrm") / c.getField("cnrm")
                when(sim > acc.getField("sim"),
                  struct(sim.as("sim"), c.getField("cent_id").as("id")))
                  .otherwise(acc)
              }).getField("id"))
          .select(col("vec_id"), col("cent_id"), col("embedding"))

        // in-cluster LSH sub-buckets: per band table, r sign bits of
        // h60-derived hyperplane projections (s02's construction, one
        // matrix per table). Banded rows carry ONLY ids + band key.
        val mat: Seq[Seq[Seq[Double]]] = (0 until bandTables).map(bt =>
          (0 until planes).map(p =>
            (0 until dim).map(i =>
              (graft.functions.PortableHash.h60(s"d12_${bt}_${p}_${i}")
                % 1000L).toDouble / 500.0 - 1.0)))
        val matC = typedLit(mat)
        val banded = assigned
          .select(col("vec_id"), col("cent_id"),
            posexplode(transform(sequence(lit(0), lit(bandTables - 1)),
              bt => {
                val tmat = element_at(matC, bt + 1)
                aggregate(sequence(lit(0), lit(planes - 1)), lit(0L),
                  (acc, p) => {
                    val proj = graft.functions.VectorDot.dot(
                      col("embedding"), element_at(tmat, p + 1))
                    acc.bitwiseOR(
                      when(proj > 0, shl(lit(1L), p)).otherwise(0L))
                  })
              })))
          .select(col("vec_id"), col("cent_id"), col("pos").as("btab"),
            col("col").as("bkt"))
        val cand = banded.as("l")
          .join(banded.as("r"), Seq("cent_id", "btab", "bkt"))
          .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
          .filter(col("vec_a") < col("vec_b"))
          .distinct()

        // exact cosine only for the deduped candidates, vectors fetched
        // from the plain scan (never through the pair shuffle)
        val vecs = base.select(col("vec_id"), col("embedding"), col("nrm"))
        cand
          .join(vecs.select(col("vec_id").as("vec_a"),
            col("embedding").as("ea"), col("nrm").as("nrm_a")), Seq("vec_a"))
          .join(vecs.select(col("vec_id").as("vec_b"),
            col("embedding").as("eb"), col("nrm").as("nrm_b")), Seq("vec_b"))
          .withColumn("cos",
            dot(col("ea"), col("eb")) / col("nrm_a") / col("nrm_b"))
          .filter(col("cos") >= 0.4)
          .select(col("vec_a"), col("vec_b"), col("cos"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        params AS (SELECT greatest(16, count(*) // 64) AS k,
            cast(ceil(sqrt(greatest(16, count(*) // 64))) as bigint) AS kc
          FROM embeddings),
        dim AS (SELECT max(len(v)) AS d FROM e),
        fine AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
          FROM n, params WHERE vec_id < k),
        coarse AS (SELECT cent_id AS coarse_id, cv AS ccv, cnrm AS ccnrm
          FROM fine, params WHERE cent_id < kc),
        f2c AS (
          SELECT coarse_id, cent_id, cv, cnrm FROM (
            SELECT c.coarse_id, f.cent_id, f.cv, f.cnrm,
              row_number() OVER (PARTITION BY f.cent_id
                ORDER BY list_dot_product(f.cv, c.ccv) / f.cnrm / c.ccnrm
                  DESC, c.coarse_id) AS rn
            FROM fine f, coarse c) WHERE rn = 1),
        ac AS (
          SELECT vec_id, coarse_id FROM (
            SELECT n.vec_id, c.coarse_id,
              row_number() OVER (PARTITION BY n.vec_id
                ORDER BY list_dot_product(n.v, c.ccv) / n.nrm / c.ccnrm
                  DESC, c.coarse_id) AS rn
            FROM n, coarse c) WHERE rn = 1),
        assigned AS (
          SELECT vec_id, cent_id FROM (
            SELECT n.vec_id, f.cent_id,
              row_number() OVER (PARTITION BY n.vec_id
                ORDER BY list_dot_product(n.v, f.cv) / n.nrm / f.cnrm
                  DESC, f.cent_id) AS rn
            FROM n JOIN ac ON ac.vec_id = n.vec_id
            JOIN f2c f ON f.coarse_id = ac.coarse_id) WHERE rn = 1),
        mat AS (
          SELECT t, p, list_transform(range(0, d), i ->
            cast(('0x' || substr(md5('d12_' || t || '_' || p || '_' || i), 1, 15))::BIGINT % 1000
              as double) / 500.0 - 1.0) AS pv
          FROM range(0, 4) tt(t), range(0, 4) pp(p), dim),
        pl AS (SELECT t, list(pv ORDER BY p) AS pvs FROM mat GROUP BY t),
        bnd AS (
          SELECT a.vec_id, a.cent_id, pl.t,
            cast(list_sum(list_transform(range(0, 4), p ->
              CASE WHEN list_dot_product(n.v, pvs[p+1]) > 0
                THEN (1::BIGINT << p) ELSE 0::BIGINT END)) as bigint) AS bkt
          FROM assigned a JOIN n ON n.vec_id = a.vec_id, pl),
        cand AS (
          SELECT DISTINCT la.vec_id AS vec_a, lb.vec_id AS vec_b
          FROM bnd la JOIN bnd lb
            ON la.cent_id = lb.cent_id AND la.t = lb.t
              AND la.bkt = lb.bkt AND la.vec_id < lb.vec_id)
        SELECT c.vec_a, c.vec_b,
          list_dot_product(a.v, b.v) / a.nrm / b.nrm AS cos
        FROM cand c
        JOIN n a ON a.vec_id = c.vec_a
        JOIN n b ON b.vec_id = c.vec_b
        WHERE list_dot_product(a.v, b.v) / a.nrm / b.nrm >= 0.4
        ORDER BY vec_a, vec_b"""),
      bench = true),


    // ------------------------------------------------------------------
    // Incremental dedup (d14: in-session index; d16: index persisted
    // to parquet and probed from DISK) — the shape a recurring crawl
    // actually runs: dedup TODAY'S batch (sources src16-19) against
    // the HISTORICAL index (src0-15), not the whole corpus against
    // itself. The
    // mechanism is d03's MinHash-LSH band table, recast as a persisted
    // INDEX: at 100 TB the (band, band_hash, doc_id) table for history
    // is stored once (16 rows × 16 bytes per doc — it never re-scans
    // or re-shingles old text), and each day's batch probes it with a
    // band-keyed join whose left side is only the new docs. Here both
    // sides derive from one localCheckpointed band frame (computing
    // the signatures once, standing in for the stored index); the
    // probe join is candidates-only, and exact Jaccard over shingles
    // verifies, exactly as d03. Output is the admit/drop verdict per
    // incoming doc: n_matches = 0 means genuinely new; otherwise
    // best_idx/best_jaccard name the historical duplicate (argmax by
    // jaccard, doc_id tiebreak — a window over the ≤ |candidates|
    // verified pairs, metadata-scale). Hash-verified end to end: the
    // oracle re-derives signatures, bands, candidates, and verdicts.
    // ------------------------------------------------------------------
    "d14_incremental_dedup" -> Q(
      (s, d) => {
        val bands = 16
        val rowsPerBand = 4
        val incomingSrcs = Seq("src16", "src17", "src18", "src19")
        val incoming = col("source").isin(incomingSrcs: _*)
        // one signature pass over the corpus, checkpointed = the
        // stored band index (history side) + the day's probe rows
        val banded = Catalog.mat(docs(s, d)
          .select(col("doc_id"), incoming.as("inc"),
            words(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .withColumn("sig",
            graft.functions.ShingleMinHash.shingleMinhash(col("toks")))
          .select(col("doc_id"), col("inc"),
            posexplode(bandHashes(col("sig"), bands, rowsPerBand)))
          .select(col("doc_id"), col("inc"), col("pos").as("band"),
            col("col").as("band_hash"))
          // corpus-scale multi-consumer frame → the shared disk dial
          // (Catalog.mat), not a bare MEMORY_AND_DISK checkpoint
          )
        val cand = banded.filter(col("inc"))
          .select(col("band"), col("band_hash"), col("doc_id").as("doc_new"))
          .join(banded.filter(!col("inc"))
              .select(col("band"), col("band_hash"),
                col("doc_id").as("doc_idx")),
            Seq("band", "band_hash"))
          .select(col("doc_new"), col("doc_idx"))
          .distinct()
        lshIncrementalVerdicts(s, d, cand, incoming)
      },
      Some(incrementalDedupOracle),
      bench = true),


    // ------------------------------------------------------------------
    // d14's day-N production posture, END-TO-END: the history band
    // index is WRITTEN TO PARQUET in a day-0 step (one shingle pass
    // over src0-15, never repeated) and the day's batch probes the
    // STORED table read back from disk — proving the 16 rows × 16 B
    // per-doc storage claim with a real write/read boundary instead of
    // a session checkpoint. Day-0 cost is the index build + one
    // columnar write; day-N cost is shingling ONLY the new docs plus a
    // band-keyed join against a parquet scan of the index (at 100 TB:
    // partition the stored index BY BAND and the probe join prunes to
    // matching band partitions — partitionBy("band") below writes
    // exactly that layout, and the filter pushdown is visible in the
    // scan). Semantics are identical to d14 by construction (shared
    // bandIndex + verdict tail), so the same oracle hash-verifies both
    // postures; the overwrite-mode write keeps the query idempotent
    // (run-twice safe).
    // ------------------------------------------------------------------
    "d16_stored_index_dedup" -> Q(
      (s, d) => {
        val bands = 16
        val rowsPerBand = 4
        val incomingSrcs = Seq("src16", "src17", "src18", "src19")
        val incoming = col("source").isin(incomingSrcs: _*)
        val idxPath = indexPath(s, d, "d16-band-index")
        // day-0: build + store the history index (band-partitioned:
        // the layout that lets a day-N probe prune to its bands)
        bandIndex(docs(s, d).filter(!incoming), bands, rowsPerBand)
          .write.mode("overwrite").partitionBy("band").parquet(idxPath)
        // day-N: ONLY the new docs shingle themselves; history comes
        // back as a columnar scan of the stored (band, hash, id) table
        val stored = s.read.parquet(idxPath)
          .select(col("band"), col("band_hash"),
            col("doc_id").as("doc_idx"))
        val cand = bandIndex(docs(s, d).filter(incoming), bands,
            rowsPerBand)
          .select(col("band"), col("band_hash"),
            col("doc_id").as("doc_new"))
          .join(stored, Seq("band", "band_hash"))
          .select(col("doc_new"), col("doc_idx"))
          .distinct()
        lshIncrementalVerdicts(s, d, cand, incoming)
      },
      Some(incrementalDedupOracle),
      bench = true),


    // ------------------------------------------------------------------
    // Compliance DELETION from the stored similarity index (the d-series
    // numbering gap, filled with the operation the d14/d16/d20
    // incremental story was missing: the right-to-be-forgotten path).
    // Sources src12/src6 must be purged — chosen because they HOLD
    // best-match entries in d16's verdicts, so the purge visibly
    // changes answers (no vacuous twin). The purge touches ONLY the
    // stored (band, band_hash, doc_id) table: one metadata-scale
    // anti-join and a rewrite of the compacted index — purged text is
    // never re-read, surviving docs never re-shingle (at 100 TB the
    // compaction is 16 rows × 16 B per purged doc against a
    // band-partitioned columnar table). Day-N probes then run against
    // the compacted index; the oracle re-derives verdicts from the
    // surviving corpus directly, so the hash match PROVES compacted ≡
    // rebuilt-from-scratch — deletion left no ghost candidates and
    // dropped no survivor.
    // ------------------------------------------------------------------
    "d25_index_deletion" -> Q(
      (s, d) => {
        val bands = 16
        val rowsPerBand = 4
        val incomingSrcs = Seq("src16", "src17", "src18", "src19")
        val purgeSrcs = Seq("src12", "src6")
        val incoming = col("source").isin(incomingSrcs: _*)
        val base = indexPath(s, d, "d25-band-index")
        // day-0: the full history index stored (d16's layout)
        bandIndex(docs(s, d).filter(!incoming), bands, rowsPerBand)
          .write.mode("overwrite").partitionBy("band").parquet(base)
        // the purge: metadata-only anti-join on the STORED rows
        val purgeIds = docs(s, d)
          .filter(col("source").isin(purgeSrcs: _*))
          .select(col("doc_id").as("pid"))
        s.read.parquet(base)
          .join(purgeIds, col("doc_id") === col("pid"), "left_anti")
          .write.mode("overwrite").partitionBy("band")
          .parquet(s"$base-compacted")
        // day-N probe against the compacted index
        val stored = s.read.parquet(s"$base-compacted")
          .select(col("band"), col("band_hash"),
            col("doc_id").as("doc_idx"))
        val cand = bandIndex(docs(s, d).filter(incoming), bands,
            rowsPerBand)
          .select(col("band"), col("band_hash"),
            col("doc_id").as("doc_new"))
          .join(stored, Seq("band", "band_hash"))
          .select(col("doc_new"), col("doc_idx"))
          .distinct()
        lshIncrementalVerdicts(s, d, cand, incoming)
      },
      // the shared incremental oracle, with the purged docs excluded
      // from the INDEX side — re-derived from the surviving corpus, so
      // it verifies the compaction, not just the probe
      Some {
        val anchor = "WHERE l.inc AND NOT r.inc)"
        require(incrementalDedupOracle.contains(anchor),
          s"d25 oracle anchor '$anchor' no longer present in " +
            "incrementalDedupOracle — update the exclusion surgery")
        incrementalDedupOracle.replace(anchor,
          """WHERE l.inc AND NOT r.inc
            AND r.doc_id NOT IN (SELECT doc_id FROM documents
              WHERE source IN ('src12', 'src6')))""")
      }),


    // ------------------------------------------------------------------
    // LSH band-config tuning harness — s04's role, for dedup: measure
    // the precision/recall of two banding schemes against exact
    // ground truth instead of trusting the S-curve folklore. Both
    // configs derive from ONE 64-perm signature pass (checkpointed):
    // 16 bands × 4 rows (collision threshold ≈ (1/16)^(1/4) ≈ 0.45),
    // 8 bands × 8 rows (≈ 0.77, precision-leaning), and a
    // deliberately too-loose 32 bands × 2 rows (≈ 0.18) — which on
    // this corpus buys ZERO extra recall while multiplying the
    // candidate (verification) bill 2.6× (65 vs 25 candidates;
    // background collisions grow quadratically with corpus size, so
    // the gap widens at scale): exactly the waste the harness
    // exists to expose before a 100 TB run. Ground truth is
    // the bounded
    // all-pairs exact-Jaccard set (the d02-class harness twin — at
    // 100 TB you'd ground-truth a SAMPLE, same harness). Output per
    // config: candidates, true pairs, tp, integer-permille precision
    // and recall — the numbers that pick a config for a given
    // dedup-quality SLA.
    // ------------------------------------------------------------------
    "d15_lsh_tuning" -> Q(
      (s, d) => {
        val base = docs(s, d)
          .select(col("doc_id"), words(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .withColumn("sig",
            graft.functions.ShingleMinHash.shingleMinhash(col("toks")))
          .select(col("doc_id"), col("sig"))
          .localCheckpoint()
        def candsOf(bands: Int, rowsPerBand: Int, tag: String) = {
          val banded = base.select(col("doc_id"),
            posexplode(transform(sequence(lit(0), lit(bands - 1)), bi =>
              aggregate(
                slice(col("sig"), bi * rowsPerBand + 1, lit(rowsPerBand)),
                lit(0L),
                (acc, v) => pmod(
                  acc * graft.functions.PortableHash.FoldBase + v,
                  lit(graft.functions.PortableHash.P))))))
            .select(col("doc_id"), col("pos").as("band"),
              col("col").as("band_hash"))
          banded.as("l").join(banded.as("r"), Seq("band", "band_hash"))
            .select(col("l.doc_id").as("doc_a"),
              col("r.doc_id").as("doc_b"))
            .filter(col("doc_a") < col("doc_b"))
            .distinct()
            .select(lit(tag).as("config"), col("doc_a"), col("doc_b"))
        }
        val cands = candsOf(16, 4, "b16r4")
          .unionAll(candsOf(8, 8, "b8r8"))
          .unionAll(candsOf(32, 2, "b32r2"))
        val sh = docShingles(s, d)
        val truth = sh.select(col("doc_id").as("doc_a"), col("w").as("wa"))
          .join(sh.select(col("doc_id").as("doc_b"), col("w").as("wb")),
            col("doc_a") < col("doc_b"))
          .filter(size(array_intersect(col("wa"), col("wb")))
            .cast("double") /
            size(array_union(col("wa"), col("wb"))).cast("double")
            >= 0.5)
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint()
        cands
          .join(truth.withColumn("is_tp", lit(true)),
            Seq("doc_a", "doc_b"), "left")
          .groupBy(col("config"))
          .agg(count(lit(1)).as("n_cand"),
            count(when(col("is_tp"), 1)).as("tp"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .select(col("config"), col("n_cand"), col("n_truth"), col("tp"),
            expr("tp * 1000 div n_cand").as("precision_pm"),
            expr("tp * 1000 div n_truth").as("recall_pm"))
          .orderBy(col("config"))
      },
      Some("""WITH perms AS (
          SELECT
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_a_' || i), 1, 15))::BIGINT
                % 2147483646 + 1) AS pa,
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_b_' || i), 1, 15))::BIGINT
                % 2147483647) AS pb),
        t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'),
              '\s+') AS w
          FROM documents),
        sh AS MATERIALIZED (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3),
        hs AS (
          SELECT doc_id,
            list_transform(w, s ->
              ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h
          FROM sh),
        sig AS MATERIALIZED (
          SELECT doc_id,
            list_transform(range(0, 64), i ->
              list_min(list_transform(h, x ->
                (pa[i+1] * x + pb[i+1]) % 2147483647))) AS sig
          FROM hs, perms),
        b16 AS (
          SELECT doc_id, b AS band,
            list_reduce(list_prepend(0::BIGINT, sig[b*4+1 : b*4+4]),
              (acc, v) -> (acc * 1000003 + v) % 2147483647) AS band_hash
          FROM sig, range(0, 16) t(b)),
        b8 AS (
          SELECT doc_id, b AS band,
            list_reduce(list_prepend(0::BIGINT, sig[b*8+1 : b*8+8]),
              (acc, v) -> (acc * 1000003 + v) % 2147483647) AS band_hash
          FROM sig, range(0, 8) t(b)),
        b32 AS (
          SELECT doc_id, b AS band,
            list_reduce(list_prepend(0::BIGINT, sig[b*2+1 : b*2+2]),
              (acc, v) -> (acc * 1000003 + v) % 2147483647) AS band_hash
          FROM sig, range(0, 32) t(b)),
        cand AS (
          SELECT DISTINCT 'b16r4' AS config, l.doc_id AS doc_a,
            r.doc_id AS doc_b
          FROM b16 l JOIN b16 r
            ON l.band = r.band AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id
          UNION ALL
          SELECT DISTINCT 'b8r8', l.doc_id, r.doc_id
          FROM b8 l JOIN b8 r
            ON l.band = r.band AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id
          UNION ALL
          SELECT DISTINCT 'b32r2', l.doc_id, r.doc_id
          FROM b32 l JOIN b32 r
            ON l.band = r.band AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id),
        truth AS MATERIALIZED (
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM sh x JOIN sh y ON x.doc_id < y.doc_id
          WHERE cast(len(list_intersect(x.w, y.w)) as double) /
                cast(len(list_distinct(list_concat(x.w, y.w))) as double)
                >= 0.5),
        nt AS (SELECT cast(count(*) as bigint) AS n_truth FROM truth),
        agg AS (
          SELECT config, cast(count(*) as bigint) AS n_cand,
            cast(count(t.doc_a) as bigint) AS tp
          FROM cand LEFT JOIN truth t
            ON t.doc_a = cand.doc_a AND t.doc_b = cand.doc_b
          GROUP BY 1)
        SELECT config, n_cand, nt.n_truth, tp,
          cast(tp * 1000 // n_cand as bigint) AS precision_pm,
          cast(tp * 1000 // nt.n_truth as bigint) AS recall_pm
        FROM agg, nt ORDER BY config""")),


    // ------------------------------------------------------------------
    // Semantic decontamination — the embedding-level twin of x15's
    // n-gram benchmark-overlap gate (the check that catches PARAPHRASED
    // benchmark leakage an n-gram match misses). The benchmark set is
    // vec_id < 20 — FIXED-SIZE by construction at any corpus scale (a
    // real benchmark is a constant, not a corpus fraction) — and is
    // collected into a row-local literal batch exactly like s03's
    // codebook, so the corpus side is ONE zero-shuffle scan computing
    // max-cosine-vs-any-benchmark per vector; no join, no broadcast
    // exchange, nothing that grows with the corpus. Because the
    // synthetic vectors are near-uniform (corpus-vs-benchmark cosines
    // top out ~0.49), five PLANTED leak rows — benchmark vectors
    // shifted +0.02 per component, the m07 inject-the-defect
    // convention — make the gate provably bite: each leak must come
    // back flagged at the 0.95 threshold AND attributed to its true
    // source benchmark (best_bench recovers b_id). Output is the
    // top-30 most-benchmark-similar corpus vectors (a fixed top-k
    // report is robust to testdata regeneration).
    // ------------------------------------------------------------------
    "d17_semantic_decontam" -> Q(
      (s, d) => {
        val nb = 20
        val base = emb(s, d)
        // everything in array<double> from the scan: the planted
        // perturbation must be the same IEEE op in both engines, and
        // (cast to double) + 0.02 is exactly DuckDB's
        // list_transform(v, x -> cast(x as double) + 0.02)
        val corpus = base.filter(col("vec_id") >= nb)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .unionAll(base.filter(col("vec_id") < 5)
            .select((col("vec_id") + 100000L).as("vec_id"),
              transform(col("embedding"),
                x => x.cast("double") + lit(0.02)).as("v")))
        val benchArr = array(
          base.filter(col("vec_id") < nb)
            .select(col("vec_id"), col("embedding")).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1)))
            .sortBy(_._1)
            .map { case (id, v) =>
              struct(lit(id).as("b_id"),
                array(v.map(lit(_)).toIndexedSeq: _*).as("be"))
            }.toIndexedSeq: _*)
        corpus
          .select(col("vec_id"),
            aggregate(benchArr,
              struct(lit(-2.0).as("sim"), lit(-1L).as("b_id")),
              (acc, b) => {
                val sim = cosine(col("v"), b.getField("be"))
                // strict > keeps the FIRST (smallest b_id) on a tie —
                // matching the oracle's (cos DESC, b_id) row_number
                when(sim > acc.getField("sim"),
                  struct(sim.as("sim"), b.getField("b_id").as("b_id")))
                  .otherwise(acc)
              }).as("best"))
          .select(col("vec_id"), col("best.b_id").as("best_bench"),
            col("best.sim").as("max_cos"))
          .withColumn("contaminated", col("max_cos") >= 0.95)
          .orderBy(col("max_cos").desc, col("vec_id"))
          .limit(30)
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
        corpus AS (
          SELECT vec_id, v FROM e WHERE vec_id >= 20
          UNION ALL
          SELECT vec_id + 100000, list_transform(v, x -> x + 0.02)
          FROM e WHERE vec_id < 5),
        n AS (SELECT vec_id, v,
          sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM corpus),
        b AS (SELECT vec_id AS b_id, v AS bv,
          sqrt(list_sum(list_transform(v, x -> x * x))) AS bnrm
          FROM e WHERE vec_id < 20),
        best AS (
          SELECT vec_id, b_id AS best_bench, cos AS max_cos FROM (
            SELECT c.vec_id, b.b_id,
              list_dot_product(c.v, b.bv) / c.nrm / b.bnrm AS cos,
              row_number() OVER (PARTITION BY c.vec_id
                ORDER BY list_dot_product(c.v, b.bv) / c.nrm / b.bnrm
                  DESC, b.b_id) AS rn
            FROM n c, b) x WHERE rn = 1)
        SELECT vec_id, best_bench, max_cos, max_cos >= 0.95 AS contaminated
        FROM best ORDER BY max_cos DESC, vec_id LIMIT 30""")),


    // ------------------------------------------------------------------
    // Cross-source corpus-overlap audit — m08's sketch-matrix idea
    // applied to CONTENT: per SOURCE, one bounded KMV min-set sketch
    // over the h60s of every document's distinct 3-shingles (k·8 bytes
    // of additive state per source, map-side partials — the hot source
    // never ships its shingles), then the n_sources² overlap matrix is
    // pure list arithmetic over 20 metadata rows (Beyer et al.
    // shared-fraction Jaccard, q71/m08's estimator). This is the audit
    // a mixture plan (x16) runs FIRST at 100 TB: two sources with high
    // shingle overlap are double-counting the same content, and
    // weighting them independently over-samples it — the corpus-level
    // complement of d03's doc-level dedup, at sketch cost instead of
    // pair cost. Top-20 source pairs by estimated Jaccard.
    // ------------------------------------------------------------------
    "d18_source_overlap" -> Q(
      (s, d) => {
        val k = 128
        val kmvset = udaf(new graft.functions.KmvMinSet(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val sh = docs(s, d)
          .select(col("source"), words(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("source"), explode(shingles3(col("toks"))).as("sgl"))
          .select(col("source"), graft.functions.PortableHash.h60col(
            concat(lit("sov_"), col("sgl"))).as("h"))
        val sk = sh.groupBy(col("source")).agg(kmvset(col("h")).as("sk"))
        val a = sk.select(col("source").as("src_a"), col("sk").as("ska"))
        val b = sk.select(col("source").as("src_b"), col("sk").as("skb"))
        a.crossJoin(b).filter(col("src_a") < col("src_b"))
          .withColumn("m", slice(
            array_sort(array_distinct(concat(col("ska"), col("skb")))),
            1, k))
          .withColumn("shared", size(filter(col("m"), x =>
            array_contains(col("ska"), x) &&
              array_contains(col("skb"), x))))
          .withColumn("jacc_est", col("shared").cast("double") /
            size(col("m")).cast("double"))
          .select(col("src_a"), col("src_b"),
            col("shared").cast("bigint").as("n_shared"), col("jacc_est"))
          .orderBy(col("jacc_est").desc, col("src_a"), col("src_b"))
          .limit(20)
      },
      Some("""WITH t0 AS (
          SELECT source, string_split_regex(
            regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT source, unnest(list_distinct(list_transform(
            range(1, len(w) - 1),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sgl
          FROM t0 WHERE len(w) >= 3),
        hs AS (
          SELECT DISTINCT source,
            ('0x' || substr(md5('sov_' || sgl), 1, 15))::BIGINT AS h
          FROM sh),
        rk AS (
          SELECT source, h,
            row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM hs),
        sk AS (
          SELECT source, list(h ORDER BY h) AS sk
          FROM rk WHERE rn <= 128 GROUP BY source),
        pairs AS (
          SELECT a.source AS src_a, b.source AS src_b,
            a.sk AS ska, b.sk AS skb,
            list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:128] AS m
          FROM sk a, sk b WHERE a.source < b.source),
        scored AS (
          SELECT src_a, src_b,
            len(list_filter(m, x -> list_contains(ska, x)
              AND list_contains(skb, x))) AS shared,
            cast(len(list_filter(m, x -> list_contains(ska, x)
              AND list_contains(skb, x))) as double) /
              cast(len(m) as double) AS jacc_est
          FROM pairs)
        SELECT src_a, src_b, cast(shared as bigint) AS n_shared,
          jacc_est
        FROM scored
        ORDER BY jacc_est DESC, src_a, src_b LIMIT 20""")),


    // ------------------------------------------------------------------
    // CHUNK-level near-dup — x42's chunks through the d03 band
    // pipeline: per-chunk 3-shingle MinHash (the fast ShingleMinHash
    // expression over the chunk's token slice), 16 bands × 4 rows,
    // band-bucket candidate join restricted to CROSS-document pairs
    // (same-doc neighbors share only the 4-token overlap, Jaccard
    // ~0.14, and are excluded outright — they are the chunking's
    // design, not duplication), exact-Jaccard verification at 0.8
    // (chunks are 16 tokens, so near-dup means near-identical). This
    // is what dedup looks like at RETRIEVAL granularity: two documents
    // sharing one boilerplate paragraph collide chunk-to-chunk without
    // being document-level near-dups. Same linear-shuffle posture as
    // d03 — candidates come from band buckets, never all-pairs.
    // ------------------------------------------------------------------
    "d24_chunk_neardup" -> Q(
      (s, d) => chunkNeardupPairs(s, d)
        .select(col("chunk_a"), col("chunk_b"), col("doc_a"),
          col("doc_b"), col("jaccard"))
        .orderBy(col("chunk_a"), col("chunk_b")),
      Some("""WITH perms AS (
          SELECT
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_a_' || i), 1, 15))::BIGINT % 2147483646 + 1) AS pa,
            list_transform(range(0, 64), i ->
              ('0x' || substr(md5('perm_b_' || i), 1, 15))::BIGINT % 2147483647) AS pb),
        t0 AS (
          SELECT doc_id, string_split_regex(
            regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        ck AS (
          SELECT doc_id,
            ('0x' || substr(md5(doc_id || ':' || u.k), 1, 15))::BIGINT
              AS cid,
            w[(u.k*12+1):(u.k*12+16)] AS ct
          FROM t0, unnest(generate_series(0,
            greatest(1, (len(w) + 7) // 12) - 1)) AS u(k)
          WHERE len(w[(u.k*12+1):(u.k*12+16)]) >= 3),
        sh AS (
          SELECT doc_id, cid,
            list_distinct(list_transform(range(1, len(ct) - 1),
              i -> ct[i] || ' ' || ct[i+1] || ' ' || ct[i+2])) AS w
          FROM ck),
        hs AS (
          SELECT doc_id, cid,
            list_transform(w, s ->
              ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h
          FROM sh),
        sig AS (
          SELECT doc_id, cid,
            list_transform(range(0, 64), i ->
              list_min(list_transform(h, x ->
                (pa[i+1] * x + pb[i+1]) % 2147483647))) AS sig
          FROM hs, perms),
        banded AS (
          SELECT doc_id, cid, b AS band,
            list_reduce(list_prepend(0::BIGINT, sig[b*4+1 : b*4+4]),
              (acc, v) -> (acc * 1000003 + v) % 2147483647) AS band_hash
          FROM sig, range(0, 16) t(b)),
        cand AS (
          SELECT DISTINCT l.cid AS chunk_a, r.cid AS chunk_b,
            l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_hash = r.band_hash
              AND l.cid < r.cid AND l.doc_id <> r.doc_id)
        SELECT c.chunk_a, c.chunk_b, c.doc_a, c.doc_b,
          cast(len(list_intersect(x.w, y.w)) as double) /
            cast(len(list_distinct(list_concat(x.w, y.w))) as double)
            AS jaccard
        FROM cand c
        JOIN sh x ON x.cid = c.chunk_a
        JOIN sh y ON y.cid = c.chunk_b
        WHERE cast(len(list_intersect(x.w, y.w)) as double) /
              cast(len(list_distinct(list_concat(x.w, y.w))) as double)
              >= 0.8
        ORDER BY chunk_a, chunk_b""")),


    // ------------------------------------------------------------------
    // Dedup THRESHOLD SENSITIVITY curve — the dial-setting census run
    // before committing a near-dup cutoff: ONE posting-index Jaccard
    // computation (d08's pipeline, floor lowered to 0.02), swept over
    // a geometric threshold ladder {.02 .05 .10 .30 .50 .80 .95 .98};
    // per threshold it reports surviving pairs, docs dropped by the
    // larger-id rule, kept docs, and the dropped token mass (permille
    // of the corpus). The honest readout on this corpus is a CLIFF:
    // everything in [0.1, 0.8] removes the same 24 near-exact dups,
    // the .02/.05 legs show the noise floor, and .95/.98 show where
    // real dups start escaping — i.e. the threshold is a free choice
    // across an order of magnitude, which is exactly what the census
    // exists to reveal. Scale shape: pair generation is the d08
    // band/df-capped pipeline (never all-pairs), materialized ONCE;
    // the ladder is an 8-row broadcast over the bounded pair set; the
    // corpus-total is a 1-row broadcast.
    // ------------------------------------------------------------------
    "d26_dedup_threshold_curve" -> Q(
      (s, d) => {
        import s.implicits._
        def fresh(df: org.apache.spark.sql.DataFrame) =
          df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)
        val pairs = mat(postingJaccardPairs(s, d, minJaccard = 0.02))
        val tk = docs(s, d).select(col("doc_id"),
          size(words(col("text"))).cast("long").as("ntok"))
        val tot = tk.agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("total_tokens"))
        val ths = Seq(2, 5, 10, 30, 50, 80, 95, 98).toDF("k")
          .select((col("k").cast("double") / lit(100.0)).as("th"))
        val hits = pairs.join(broadcast(ths), col("jaccard") >= col("th"))
        val pc = fresh(hits.groupBy(col("th"))
          .agg(count(lit(1)).as("n_pairs")))
        val dr = fresh(hits.select(col("th"), col("doc_b")).distinct()
          .join(tk, col("doc_b") === col("doc_id"))
          .groupBy(col("th"))
          .agg(count(lit(1)).as("n_dropped"),
            sum(col("ntok")).as("tokens_dropped")))
        ths.join(pc, Seq("th"), "left").join(dr, Seq("th"), "left")
          .crossJoin(broadcast(tot))
          .select(col("th").as("threshold"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
            (col("n_docs") - coalesce(col("n_dropped"), lit(0L)))
              .as("n_kept"),
            coalesce(col("tokens_dropped"), lit(0L)).as("tokens_dropped"),
            expr("(1000 * coalesce(tokens_dropped, 0L)) div total_tokens")
              .as("drop_permille"))
          .orderBy(col("threshold"))
      },
      Some("""WITH t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3),
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
        pairs AS (
          SELECT s.doc_a, s.doc_b,
            cast(s.shared_fps as double) /
              cast(x.sz + y.sz - s.shared_fps as double) AS j
          FROM shared s
          JOIN sizes x ON x.doc_id = s.doc_a
          JOIN sizes y ON y.doc_id = s.doc_b
          WHERE cast(s.shared_fps as double) /
                cast(x.sz + y.sz - s.shared_fps as double) >= 0.02),
        ths AS (SELECT cast(k as double) / 100.0 AS th
                FROM (SELECT unnest([2, 5, 10, 30, 50, 80, 95, 98]) AS k)),
        hits AS (
          SELECT t.th, p.doc_a, p.doc_b
          FROM pairs p JOIN ths t ON p.j >= t.th),
        pc AS (
          SELECT th, cast(count(*) as bigint) AS n_pairs
          FROM hits GROUP BY th),
        tk AS (SELECT doc_id, cast(len(w) as bigint) AS ntok FROM t0),
        tot AS (SELECT cast(count(*) as bigint) AS n_docs,
                cast(sum(ntok) as bigint) AS total_tokens FROM tk),
        dr AS (SELECT th, doc_b FROM hits GROUP BY th, doc_b),
        drc AS (
          SELECT dr.th, cast(count(*) as bigint) AS n_dropped,
            cast(sum(tk.ntok) as bigint) AS tokens_dropped
          FROM dr JOIN tk ON tk.doc_id = dr.doc_b GROUP BY dr.th)
        SELECT t.th AS threshold,
          cast(coalesce(pc.n_pairs, 0) as bigint) AS n_pairs,
          cast(coalesce(drc.n_dropped, 0) as bigint) AS n_dropped,
          cast(tot.n_docs - coalesce(drc.n_dropped, 0) as bigint) AS n_kept,
          cast(coalesce(drc.tokens_dropped, 0) as bigint) AS tokens_dropped,
          cast((1000 * coalesce(drc.tokens_dropped, 0)) // tot.total_tokens
            as bigint) AS drop_permille
        FROM ths t LEFT JOIN pc ON pc.th = t.th
        LEFT JOIN drc ON drc.th = t.th, tot
        ORDER BY threshold""")),


    // ------------------------------------------------------------------
    // Duplicate-cluster SIZE census — the one-page dedup report a
    // corpus owner reads before applying a keep-list: how many
    // clusters of each size exist, how many docs they absorb, and how
    // much of the corpus is singleton. Unlike d07 (the bounded
    // all-pairs oracle twin), the pair source here is the SCALE PATH —
    // the df-capped posting-index detector (d08's pipeline) — and the
    // components run the same pointer-jumping CC loop as d07/d09/d20;
    // the census itself is two metadata-scale aggregations over
    // cluster labels plus a singleton row derived from the corpus
    // total (1-row broadcast). Every emitted field is an exact
    // integer; the oracle replays CC as d07's recursive closure over
    // the posting pairs.
    // ------------------------------------------------------------------
    "d27_cluster_size_census" -> Q(
      (s, d) => {
        def fresh(df: org.apache.spark.sql.DataFrame) =
          df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)
        val pairs = postingJaccardPairs(s, d)
          .select(col("doc_a"), col("doc_b"))
        val cc = mat(graft.operators.ConnectedComponents.components(pairs))
        val census = cc.groupBy(col("cluster"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("size"))
          .agg(count(lit(1)).as("n_clusters"))
          .withColumn("n_docs", col("size") * col("n_clusters"))
        val singles = docs(s, d).agg(count(lit(1)).as("n_total"))
          .crossJoin(broadcast(cc.agg(count(lit(1)).as("n_clustered"))))
          .select(lit(1L).as("size"),
            (col("n_total") - col("n_clustered")).as("n_clusters"),
            (col("n_total") - col("n_clustered")).as("n_docs"))
        fresh(census.select(col("size"), col("n_clusters"), col("n_docs")))
          .union(fresh(singles))
          .orderBy(col("size"))
      },
      Some("""WITH RECURSIVE t0 AS (
          SELECT doc_id,
            string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM t0 WHERE len(w) >= 3),
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
        pairs AS (
          SELECT s.doc_a, s.doc_b
          FROM shared s
          JOIN sizes x ON x.doc_id = s.doc_a
          JOIN sizes y ON y.doc_id = s.doc_b
          WHERE cast(s.shared_fps as double) /
                cast(x.sz + y.sz - s.shared_fps as double) >= 0.4),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        cl AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster
          FROM reach GROUP BY src),
        szs AS (
          SELECT cluster, cast(count(*) as bigint) AS sz
          FROM cl GROUP BY cluster),
        cen AS (
          SELECT sz AS size, cast(count(*) as bigint) AS n_clusters,
            cast(sz * count(*) as bigint) AS n_docs
          FROM szs GROUP BY sz),
        tot AS (SELECT cast(count(*) as bigint) AS n_total FROM documents),
        cls AS (SELECT cast(count(*) as bigint) AS n_clustered FROM cl)
        SELECT * FROM (
          SELECT size, n_clusters, n_docs FROM cen
          UNION ALL
          SELECT cast(1 as bigint), n_total - n_clustered,
            n_total - n_clustered
          FROM tot, cls)
        ORDER BY size""")),

    // ------------------------------------------------------------------
    // d28: FUZZY ENTITY-RESOLUTION JOIN — blocked edit-distance
    // matching of dirty records against a clean dimension (the
    // record-linkage step an ingestion pipeline runs before dedup can
    // key on an entity). The dirty side is synthesized
    // deterministically (x44's synthesize→detect discipline): every
    // lineitem row carries its part's name with ONE h60-positioned
    // adjacent-character swap. Matching: block on (first character,
    // |length diff| ≤ 1) — an EQUI-join on the block key with cheap
    // residuals, never all-pairs — then verify levenshtein ≤ 3 inside
    // the block (at ≤ 2 the 64-name universe never multi-matches —
    // measured; 3 admits sibling names one word-edit away, so all
    // three census classes are live). The census classifies records unique/multi/none and
    // counts how often the TRUE entity is among the matches —
    // including the honest blocking-recall loss (a swap at position 1
    // changes the first character and escapes the block entirely).
    // Scale: the dirty side is fact-scale but every block is
    // entity-scale; cost = fact rows × block width, broadcast clean
    // dim, one hash agg.
    // ------------------------------------------------------------------
    "d28_fuzzy_er_join" -> Q(
      (s, d) => {
        import graft.functions.PortableHash
        val clean = t(s, d, "part").select(col("p_name")).distinct()
          .withColumn("cb", substring(col("p_name"), 1, 1))
        // record key = the DISTINCT (orderkey, linenumber, partkey)
        // triple: the synthetic lineitem repeats (orderkey, linenumber)
        // pairs across partkeys, so no two-column key is unique
        val rk = Seq("l_orderkey", "l_linenumber", "l_partkey")
        val dirty = t(s, d, "lineitem")
          .select(rk.map(col): _*).distinct()
          .join(broadcast(t(s, d, "part")
            .select(col("p_partkey"), col("p_name").as("true_name"))),
            col("l_partkey") === col("p_partkey"))
          .withColumn("p",
            pmod(PortableHash.h60col(concat(lit("typo_"),
              col("l_orderkey"), lit("_"), col("l_linenumber"),
              lit("_"), col("l_partkey"))),
              length(col("true_name")) - 1) + 1)
          .select(rk.map(col) :+ col("true_name") :+
            concat(
              col("true_name").substr(lit(1), col("p") - 1),
              col("true_name").substr(col("p") + 1, lit(1)),
              col("true_name").substr(col("p"), lit(1)),
              col("true_name").substr(col("p") + 2, lit(100)))
              .as("dirty"): _*)
        // block key = (first char, EXACT length): the |Δlen| ≤ 1
        // residual becomes three equi-keys by expanding the
        // entity-scale clean side 3× (len−1, len, len+1) — same
        // candidate set, ~3× narrower probe blocks, fully equi-joined.
        // LEFT join with the verify INSIDE the join condition keeps
        // the whole census ONE pass over the fact-scale side (no
        // second anti-join consumer, nothing cached): unmatched
        // records surface as null-candidate groups. The threshold
        // form levenshtein(a, b, 3) is the banded DP that bails once
        // the distance provably exceeds 3 (returning -1, the only
        // possible negative — so ONE `>= 0` comparison; a between()
        // duplicates the call verbatim in the join condition,
        // measured 2× the per-candidate cost).
        val clean3 = clean.select(col("p_name"), col("cb"),
            explode(array(lit(-1), lit(0), lit(1))).as("dl"))
          .select(col("p_name"), col("cb"),
            (length(col("p_name")) + col("dl")).as("plen"))
        val per = dirty
          .withColumn("db", substring(col("dirty"), 1, 1))
          .withColumn("dlen", length(col("dirty")))
          .join(broadcast(clean3),
            col("db") === col("cb") && col("dlen") === col("plen") &&
              levenshtein(col("dirty"), col("p_name"), 3) >= 0,
            "left_outer")
          .groupBy(rk.map(col): _*)
          .agg(count(col("p_name")).as("n_cand"),
            max(when(col("p_name") === col("true_name"), 1L)
              .otherwise(0L)).as("hit"))
        per
          .select(when(col("n_cand") === 0, "none")
            .when(col("n_cand") === 1, "unique").otherwise("multi")
            .as("match_class"), col("hit"))
          .groupBy(col("match_class"))
          .agg(count(lit(1)).as("n_records"),
            sum(col("hit")).as("n_true_hit"))
          .orderBy(col("match_class"))
      },
      Some(s"""WITH cb AS (
          SELECT p_name, substr(p_name, 1, 1) AS cb
          FROM (SELECT DISTINCT p_name FROM part)),
        recs AS (
          SELECT DISTINCT l_orderkey, l_linenumber, l_partkey
          FROM lineitem),
        dirty0 AS (
          SELECT r.l_orderkey, r.l_linenumber, r.l_partkey,
            p.p_name AS true_name,
            1 + (${graft.functions.PortableHash.h60Sql(
              "'typo_' || r.l_orderkey || '_' || r.l_linenumber || " +
                "'_' || r.l_partkey")}
              % (length(p.p_name) - 1)) AS p
          FROM recs r JOIN part p ON r.l_partkey = p.p_partkey),
        dirty AS (
          SELECT l_orderkey, l_linenumber, l_partkey, true_name,
            substr(true_name, 1, p - 1) || substr(true_name, p + 1, 1) ||
            substr(true_name, p, 1) || substr(true_name, p + 2, 100)
              AS dirty
          FROM dirty0),
        per AS (
          SELECT l_orderkey, l_linenumber, l_partkey,
            cast(count(*) as bigint) AS n_cand,
            max(CASE WHEN c.p_name = d.true_name THEN 1 ELSE 0 END)
              AS hit
          FROM dirty d JOIN cb c ON substr(d.dirty, 1, 1) = c.cb
            AND abs(length(d.dirty) - length(c.p_name)) <= 1
          WHERE levenshtein(d.dirty, c.p_name) <= 3
          GROUP BY 1, 2, 3)
        SELECT * FROM (
          SELECT CASE WHEN n_cand = 1 THEN 'unique' ELSE 'multi' END
              AS match_class,
            cast(count(*) as bigint) AS n_records,
            cast(sum(hit) as bigint) AS n_true_hit
          FROM per GROUP BY 1
          UNION ALL
          SELECT 'none', cast(count(*) as bigint), cast(0 as bigint)
          FROM dirty d LEFT JOIN per USING
            (l_orderkey, l_linenumber, l_partkey)
          WHERE per.n_cand IS NULL)
        ORDER BY match_class""")),

    // ------------------------------------------------------------------
    // d29: MAXIMAL duplicated-span LENGTH census — the second input to
    // the Lee et al. substring-dedup decision. d13 thresholds on
    // coverage FRACTION; equally load-bearing is the LONGEST shared
    // run: a doc that is 5% duplicated in one 400-char block is a
    // template-boilerplate case (cut the span), while 5% spread over
    // twenty 20-gram hits is natural phrase reuse (keep). The census
    // consolidates the cross-doc 20-gram hits into maximal runs via
    // the shared dupSpans islands pass (gaps-and-islands over start
    // positions — ONE definition with d22's rewrite, so the census
    // can never disagree with what the cut would remove) and reports
    // the span-length distribution twice: over ALL spans and over
    // each doc's LONGEST span (the per-doc decision variable).
    // Scale: the islands pass stays gram-linear — char-scale explode,
    // one gram-keyed df shuffle, one gram-keyed join back, then
    // doc-keyed windows; the census itself aggregates the
    // islands-scale spans frame. No all-pairs anywhere.
    // ------------------------------------------------------------------
    "d29_span_length_census" -> Q(
      (s, d) => {
        // ONE gram-df census feeds both legs (dupSpansBoth): running
        // dupSpans twice re-paid the char-scale explode + census
        // shuffle for the capped leg (priced at 2.4× in SCALE.md r15)
        val (spans, spansC) = graft.queries.TextOps.dupSpansBoth(
          graft.queries.TextOps.normDocs(s, d), 20, maxDf = 8L)
        val sl = spans.select(col("doc_id"),
          (col("e") - col("s") + 1).as("len"))
        val alls = sl.groupBy(expr("len div 20").as("bucket"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("len")).as("chars_total"),
            max(col("len")).as("max_len"))
          .select(lit("all_spans").as("kind"), col("bucket"), col("n"),
            col("n_docs"), col("chars_total"), col("max_len"))
        val longest = sl.groupBy(col("doc_id"))
          .agg(max(col("len")).as("mlen"))
          .groupBy(expr("mlen div 20").as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("mlen")).as("chars_total"),
            max(col("mlen")).as("max_len"))
          .select(lit("doc_longest").as("kind"), col("bucket"),
            col("n"), col("n").as("n_docs"), col("chars_total"),
            col("max_len"))
        // the df-cap knob (d30's posting discipline as an OPTION): the
        // same census with grams capped at df ≤ 8, plus one coverage
        // row pricing what the cap costs — zz_coverage carries
        // (bucket=the cap, n=uncapped spans, n_docs=capped spans,
        // chars_total=span chars LOST to the cap, max_len=loss ppm).
        // Uncapped d29 ran char-bound ×140 on the clone corpus's
        // worst case; the capped plan is bounded by construction —
        // this row is the price tag for choosing it.
        val slC = spansC
          .select(col("doc_id"), (col("e") - col("s") + 1).as("len"))
        val capped = slC.groupBy(expr("len div 20").as("bucket"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("len")).as("chars_total"),
            max(col("len")).as("max_len"))
          .select(lit("capped_spans").as("kind"), col("bucket"),
            col("n"), col("n_docs"), col("chars_total"), col("max_len"))
        val coverage = sl
          .agg(count(lit(1)).as("nu"),
            coalesce(sum(col("len")), lit(0L)).as("cu"))
          .crossJoin(slC.agg(count(lit(1)).as("nc"),
            coalesce(sum(col("len")), lit(0L)).as("cc")))
          .select(lit("zz_coverage").as("kind"), lit(8L).as("bucket"),
            col("nu").as("n"), col("nc").as("n_docs"),
            (col("cu") - col("cc")).as("chars_total"),
            expr("1000000 * (cu - cc) div greatest(cu, 1)")
              .as("max_len"))
        alls.unionByName(longest).unionByName(capped)
          .unionByName(coverage)
          .orderBy(col("kind"), col("bucket"))
      },
      Some(graft.queries.TextOps.spanCleanedSqlCtes + """,
        crossg_c AS (
          SELECT g FROM (SELECT DISTINCT doc_id, g FROM posts)
          GROUP BY g HAVING count(*) BETWEEN 2 AND 8),
        dup_c AS (SELECT DISTINCT p.doc_id, p.pos
          FROM posts p JOIN crossg_c USING (g)),
        isl0_c AS (
          SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > 20 THEN 1 ELSE 0 END AS brk
          FROM dup_c WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl1_c AS (
          SELECT doc_id, pos,
            sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM isl0_c),
        spans_c AS (
          SELECT doc_id, isl, min(pos) AS s, max(pos) + 19 AS e
          FROM isl1_c GROUP BY doc_id, isl),
        sl_c AS (SELECT doc_id, e - s + 1 AS len FROM spans_c),
        sl AS (SELECT doc_id, e - s + 1 AS len FROM spans),
        alls AS (
          SELECT 'all_spans' AS kind,
            cast(len // 20 as bigint) AS bucket,
            cast(count(*) as bigint) AS n,
            cast(count(DISTINCT doc_id) as bigint) AS n_docs,
            cast(sum(len) as bigint) AS chars_total,
            cast(max(len) as bigint) AS max_len
          FROM sl GROUP BY 2),
        dl AS (SELECT doc_id, max(len) AS mlen FROM sl GROUP BY 1),
        longest AS (
          SELECT 'doc_longest' AS kind,
            cast(mlen // 20 as bigint) AS bucket,
            cast(count(*) as bigint) AS n,
            cast(count(*) as bigint) AS n_docs,
            cast(sum(mlen) as bigint) AS chars_total,
            cast(max(mlen) as bigint) AS max_len
          FROM dl GROUP BY 2),
        capped AS (
          SELECT 'capped_spans' AS kind,
            cast(len // 20 as bigint) AS bucket,
            cast(count(*) as bigint) AS n,
            cast(count(DISTINCT doc_id) as bigint) AS n_docs,
            cast(sum(len) as bigint) AS chars_total,
            cast(max(len) as bigint) AS max_len
          FROM sl_c GROUP BY 2),
        cova AS (SELECT cast(count(*) as bigint) AS nu,
            cast(coalesce(sum(len), 0) as bigint) AS cu FROM sl),
        covb AS (SELECT cast(count(*) as bigint) AS nc,
            cast(coalesce(sum(len), 0) as bigint) AS cc FROM sl_c),
        cov AS (
          SELECT 'zz_coverage' AS kind, cast(8 as bigint) AS bucket,
            nu AS n, nc AS n_docs, cu - cc AS chars_total,
            1000000 * (cu - cc) // greatest(cu, 1) AS max_len
          FROM cova, covb)
        SELECT * FROM (
          SELECT * FROM alls UNION ALL SELECT * FROM longest
          UNION ALL SELECT * FROM capped UNION ALL SELECT * FROM cov)
        ORDER BY kind, bucket""")),

    // ------------------------------------------------------------------
    // d30: longest shared span PER PAIR — d29 censuses per-doc spans
    // against "anywhere else in the corpus"; the attribution question
    // ("which two docs share the 400-char block, and how long is it
    // exactly") needs the pair. Matched gram positions (pa, pb) of a
    // pair lie on DIAGONALS (dg = pa − pb): two matches on one
    // diagonal with start gap ≤ L overlap/abut into one common
    // substring, so the maximal shared span is a gaps-and-islands pass
    // over pa within (doc_a, doc_b, dg) — d22's island move rotated
    // 45°. Pair generation is df-capped (2 ≤ distinct-doc df ≤ 8, the
    // d08 posting-list discipline): ultra-common boilerplate grams
    // never generate pairs (their spans surface via rarer anchor grams
    // or d29's corpus-level census), which bounds the per-gram join
    // fan-out at 28 pairs — gram-linear, no all-pairs. Output: top-20
    // offending pairs by exact longest-common-span length (full
    // tiebreak), the actionable artifact a dedup operator inspects.
    // ------------------------------------------------------------------
    "d30_pair_max_span" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val L = 20
        val norm = graft.queries.TextOps.normDocs(s, d)
        val posts = norm
          .select(col("doc_id"),
            posexplode(graft.functions.Winnow.gramHashes(col("t"), L)))
          .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("pos"),
            col("col").as("g"))
        val rare = posts.select(col("doc_id"), col("g")).distinct()
          .groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= 8).select(col("g"))
        val hits = Catalog.mat(posts.join(rare, "g"))
        val matched = hits.select(col("doc_id").as("doc_a"),
            col("pos").as("pa"), col("g"))
          .join(hits.select(col("doc_id").as("doc_b"),
            col("pos").as("pb"), col("g")), Seq("g"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
            (col("pa") - col("pb")).as("dg"))
          .distinct()
        val wDiag = Window.partitionBy(col("doc_a"), col("doc_b"),
          col("dg")).orderBy(col("pa"))
        val prev = lag(col("pa"), 1).over(wDiag)
        val runs = matched
          .withColumn("brk",
            when(prev.isNull || col("pa") - prev > L, 1).otherwise(0))
          .withColumn("isl", sum(col("brk")).over(wDiag))
          .groupBy(col("doc_a"), col("doc_b"), col("dg"), col("isl"))
          .agg((max(col("pa")) - min(col("pa")) + L).as("run_len"))
        runs.groupBy(col("doc_a"), col("doc_b"))
          .agg(max(col("run_len")).as("max_span"),
            count(lit(1)).as("n_runs"),
            sum(col("run_len")).as("shared_chars"))
          .orderBy(col("max_span").desc, col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some("""WITH norm AS (
          SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
          FROM documents),
        posts AS (
          SELECT doc_id, i AS pos,
            ('0x' || substr(md5(substr(t, i, 20)), 1, 15))::BIGINT AS g
          FROM norm, LATERAL (
            SELECT unnest(range(1, length(t) - 20 + 2)) AS i) r
          WHERE length(t) >= 20),
        rare AS (
          SELECT g FROM (SELECT DISTINCT doc_id, g FROM posts)
          GROUP BY g HAVING count(*) BETWEEN 2 AND 8),
        hits AS (SELECT doc_id, pos, g FROM posts JOIN rare USING (g)),
        matched AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            a.pos AS pa, b.pos AS pb, a.pos - b.pos AS dg
          FROM hits a JOIN hits b USING (g)
          WHERE a.doc_id < b.doc_id),
        isl0 AS (
          SELECT doc_a, doc_b, dg, pa,
            CASE WHEN lag(pa) OVER w IS NULL
                   OR pa - lag(pa) OVER w > 20 THEN 1 ELSE 0 END AS brk
          FROM matched
          WINDOW w AS (PARTITION BY doc_a, doc_b, dg ORDER BY pa)),
        isl1 AS (
          SELECT doc_a, doc_b, dg, pa,
            sum(brk) OVER (PARTITION BY doc_a, doc_b, dg
              ORDER BY pa) AS isl
          FROM isl0),
        runs AS (
          SELECT doc_a, doc_b, dg, isl,
            max(pa) - min(pa) + 20 AS run_len
          FROM isl1 GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b,
          cast(max(run_len) as bigint) AS max_span,
          cast(count(*) as bigint) AS n_runs,
          cast(sum(run_len) as bigint) AS shared_chars
        FROM runs GROUP BY 1, 2
        ORDER BY max_span DESC, doc_a, doc_b
        LIMIT 20""")))
}
