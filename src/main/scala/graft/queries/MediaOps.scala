package graft.queries

import graft.mm.Multimodal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column queries: the binary-payload plumbing (synthesize →
  * batched partition-local decode) exposed in the declared inventory.
  * The stub codec's header fields are pure functions of doc_id, and the
  * payload is the document's UTF-8 bytes — so the END-TO-END pipeline
  * (Dataset.map synthesis, 16-byte header pack, mapPartitions batched
  * decode) is hash-verifiable against a DuckDB oracle that recomputes
  * the same fields arithmetically. A real codec swaps into StubCodec
  * without touching the verified plumbing.
  */
object MediaOps {

  /** DuckDB twin of `Multimodal.synthesizeBmp`'s gray plane and
    * `Multimodal.imageOtsu`'s candidate splits: CTEs `p` (per-image
    * size and payload), `ix` (one row per pixel index i), `gr(doc_id,
    * w, h, i, gray)`, `hist`, `cum` (cumulative class sums per gray
    * level) and `cand` (each non-degenerate split's HUGEINT numerator
    * `a` and denominator `d` of the between-class separation).
    */
  private val sqlOtsuCandidates: String = """p AS (
          SELECT doc_id, cast(8 + doc_id % 24 as int) AS w,
            cast(8 + (doc_id * 7) % 24 as int) AS h,
            length(text) AS n, text
          FROM documents),
        ix AS (
          SELECT doc_id, w, h, n, text, unnest(range(0, w * h)) AS i
          FROM p),
        gr AS MATERIALIZED (
          SELECT doc_id, w, h, i,
            ((CASE WHEN n = 0 THEN 0 ELSE
                unicode(substr(text, cast(i % n as int) + 1, 1)) % 256 END)
             + cast((i * 31 + doc_id) % 256 as bigint)
             + cast((i + (CASE WHEN n = 0 THEN 0 ELSE
                 unicode(substr(text, cast(i % n as int) + 1, 1)) % 256
                 END)) % 256 as bigint)) // 3 AS gray
          FROM ix),
        hist AS (
          SELECT doc_id, w, h, gray, cast(count(*) as bigint) AS c
          FROM gr GROUP BY 1, 2, 3, 4),
        cum AS (
          SELECT doc_id, w, h, gray,
            sum(c) OVER (PARTITION BY doc_id ORDER BY gray) AS w0,
            sum(gray * c) OVER (PARTITION BY doc_id ORDER BY gray) AS s0,
            sum(c) OVER (PARTITION BY doc_id) AS n_px,
            sum(gray * c) OVER (PARTITION BY doc_id) AS s_all
          FROM hist),
        cand AS (
          SELECT doc_id, w, h, n_px, s_all, gray,
            cast(s0 * (n_px - w0) - (s_all - s0) * w0 as hugeint) AS a,
            cast(w0 * (n_px - w0) as hugeint) AS d,
            cast(w0 as hugeint) AS w0h, cast(s0 as hugeint) AS s0h
          FROM cum WHERE w0 < n_px)"""

  /** [[sqlOtsuCandidates]] plus `th(doc_id, t)`: each image's Otsu
    * threshold (largest a^2/d, compared as the HUGEINT floor of
    * a^2 * 10^12 / d; ties to the smallest gray).
    */
  private val sqlOtsuThreshold: String = sqlOtsuCandidates + """,
        th AS MATERIALIZED (
          SELECT doc_id, gray AS t FROM (
            SELECT doc_id, gray, row_number() OVER (PARTITION BY doc_id
              ORDER BY (a * a * cast(1000000000000 as hugeint)) // d DESC,
                gray ASC) AS rn
            FROM cand) WHERE rn = 1)"""

  def queries: Seq[(String, Q)] = Seq(

    "mm01_media_meta" -> Q(
      (s, d) =>
        Multimodal.decodeMeta(Multimodal.synthesizeMedia(s, d))
          .toDF()
          .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id,
          CASE doc_id % 3 WHEN 0 THEN 'image/png'
                          WHEN 1 THEN 'audio/wav'
                          ELSE 'video/mp4' END AS mime,
          cast(64 + doc_id % 192 as int) AS width,
          cast(64 + (doc_id * 7) % 192 as int) AS height,
          cast(1 + doc_id % 30 as int) AS n_frames,
          cast(16 + octet_length(encode(text)) as bigint) AS content_len
        FROM documents ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // REAL-codec pixel statistics: text → 24-bit BMP encode → decode →
    // per-channel integer sums, through the batched mapPartitions
    // plumbing. The oracle recomputes the sums analytically from the
    // pixel formula (see Multimodal.synthesizeBmp docs) — it never sees
    // the image bytes, so a stride/BGR/row-order codec bug is a hash
    // mismatch, not a silent pass.
    // ------------------------------------------------------------------
    "mm02_bmp_pixel_stats" -> Q(
      (s, d) =>
        Multimodal.pixelStats(Multimodal.synthesizeBmp(s, d))
          .toDF()
          .orderBy(col("media_id")),
      Some("""WITH p AS (
          SELECT doc_id,
            cast(8 + doc_id % 24 as int) AS width,
            cast(8 + (doc_id * 7) % 24 as int) AS height,
            length(text) AS n, text
          FROM documents)
        SELECT doc_id AS media_id, width, height,
          cast(list_sum(list_transform(range(0, width*height), idx ->
            CASE WHEN n = 0 THEN 0
                 ELSE unicode(substr(text, cast(idx % n as int) + 1, 1)) % 256
            END)) as bigint) AS sum_r,
          cast(list_sum(list_transform(range(0, width*height), idx ->
            (idx * 31 + doc_id) % 256)) as bigint) AS sum_g,
          cast(list_sum(list_transform(range(0, width*height), idx ->
            (idx + CASE WHEN n = 0 THEN 0
                        ELSE unicode(substr(text, cast(idx % n as int) + 1, 1)) % 256
                   END) % 256)) as bigint) AS sum_b
        FROM p ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // REAL-codec resize: decode → nearest-neighbor 2× downsample →
    // re-encode → decode → stats, all through the batched plumbing.
    // Each output pixel keeps its source pixel's channels, so the
    // oracle evaluates the synthesis formula at the subsampled indices
    // idx = 2y·w + 2x — verifying the whole 4-stage codec chain
    // (including the second encode's stride padding and row order)
    // without seeing a byte of either image.
    // ------------------------------------------------------------------
    "mm03_bmp_resize_stats" -> Q(
      (s, d) =>
        Multimodal.pixelStats(
          Multimodal.resizeBmpHalf(Multimodal.synthesizeBmp(s, d)))
          .toDF()
          .orderBy(col("media_id")),
      Some("""WITH p AS (
          SELECT doc_id,
            cast(8 + doc_id % 24 as int) AS w,
            cast(8 + (doc_id * 7) % 24 as int) AS h,
            length(text) AS n, text
          FROM documents),
        q AS (
          SELECT doc_id, w, h, n, text,
            cast((w + 1) // 2 as int) AS wo,
            cast((h + 1) // 2 as int) AS ho
          FROM p),
        s AS (
          SELECT doc_id, wo, ho,
            list_transform(range(0, wo*ho), i ->
              (2 * (i // wo)) * w + 2 * (i % wo)) AS src
          FROM q),
        c AS (
          SELECT s.doc_id, s.wo, s.ho,
            list_transform(s.src, idx ->
              CASE WHEN q.n = 0 THEN 0
                   ELSE unicode(substr(q.text, cast(idx % q.n as int) + 1, 1)) % 256
              END) AS rs,
            list_transform(s.src, idx -> (idx * 31 + s.doc_id) % 256) AS gs,
            list_transform(s.src, idx ->
              (idx + CASE WHEN q.n = 0 THEN 0
                          ELSE unicode(substr(q.text, cast(idx % q.n as int) + 1, 1)) % 256
                     END) % 256) AS bs
          FROM s JOIN q ON q.doc_id = s.doc_id)
        SELECT doc_id AS media_id, wo AS width, ho AS height,
          cast(list_sum(rs) as bigint) AS sum_r,
          cast(list_sum(gs) as bigint) AS sum_g,
          cast(list_sum(bs) as bigint) AS sum_b
        FROM c ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // REAL-codec audio: text → 16-bit PCM WAV encode → chunk-walk
    // decode → even-frame decimation → re-encode → decode → integer
    // sample stats, all through the batched mapPartitions plumbing —
    // the audio twin of mm03's image chain. The oracle evaluates the
    // synthesis formula at the decimated interleaved indices
    // i = 2·(j div ch)·ch + (j mod ch); an endianness, chunk-offset,
    // channel-interleave, or pad-byte bug anywhere in the two
    // encode/decode round trips is a hash mismatch.
    // ------------------------------------------------------------------
    "mm04_wav_audio_stats" -> Q(
      (s, d) =>
        Multimodal.audioStats(
          Multimodal.decimateWavHalf(Multimodal.synthesizeWav(s, d)))
          .toDF()
          .orderBy(col("media_id")),
      Some("""WITH p AS (
          SELECT doc_id,
            cast(1 + doc_id % 2 as int) AS ch,
            cast(8000 + (doc_id % 4) * 4000 as int) AS sr,
            cast(32 + doc_id % 96 as int) AS fr,
            length(text) AS n, text
          FROM documents),
        q AS (
          SELECT doc_id, ch, sr, n, text,
            cast((fr + 1) // 2 as int) AS fo
          FROM p),
        s AS (
          SELECT doc_id, ch, sr, fo,
            list_transform(range(0, fo*ch), j ->
              2 * (j // ch) * ch + (j % ch)) AS src
          FROM q),
        c AS (
          SELECT s.doc_id, s.ch, s.sr, s.fo,
            list_transform(s.src, i ->
              ((CASE WHEN q.n = 0 THEN 0
                     ELSE unicode(substr(q.text, cast(i % q.n as int) + 1, 1)) % 256
                END * 131 + i * 7 + s.doc_id) % 65536) - 32768) AS vs
          FROM s JOIN q ON q.doc_id = s.doc_id)
        SELECT doc_id AS media_id, sr AS sample_rate, ch AS channels,
          fo AS n_frames,
          cast(list_sum(vs) as bigint) AS sum_samples,
          cast(list_sum(list_transform(vs, v -> v * v)) as bigint)
            AS sum_squares
        FROM c ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // REAL-container video frame sampling: per-doc multi-frame video
    // (real BMP frames muxed into a packetized container) → demux →
    // keep every 3rd frame → decode ONLY the kept frames → channel
    // sums. The oracle evaluates the per-frame pixel formula at the
    // sampled frame indices (0, 3, 6, …) — a packet-length walk bug,
    // off-by-one in the sampling stride, or any BMP decode fault is a
    // hash mismatch, and it never sees a byte of the container.
    // ------------------------------------------------------------------
    "mm05_video_frame_sample" -> Q(
      (s, d) =>
        Multimodal.sampleFrameStats(Multimodal.synthesizeVideo(s, d))
          .toDF()
          .orderBy(col("media_id")),
      Some("""WITH p AS (
          SELECT doc_id,
            cast(4 + doc_id % 8 as int) AS w,
            cast(4 + (doc_id * 3) % 8 as int) AS h,
            cast(2 + doc_id % 10 as int) AS nf,
            length(text) AS n, text
          FROM documents),
        f AS (
          SELECT doc_id, w, h, nf, n, text,
            unnest(range(0, nf, 3)) AS fr
          FROM p),
        c AS (
          SELECT doc_id, w, h, nf,
            list_sum(list_transform(range(0, w*h), idx ->
              CASE WHEN n = 0 THEN 0
                   ELSE unicode(substr(text, cast((fr + idx) % n as int) + 1, 1)) % 256
              END)) AS sr,
            list_sum(list_transform(range(0, w*h), idx ->
              (idx * 31 + fr * 7 + doc_id) % 256)) AS sg,
            list_sum(list_transform(range(0, w*h), idx ->
              (idx + fr +
               CASE WHEN n = 0 THEN 0
                    ELSE unicode(substr(text, cast((fr + idx) % n as int) + 1, 1)) % 256
               END) % 256)) AS sb
          FROM f)
        SELECT doc_id AS media_id, w AS width, h AS height,
          nf AS n_frames,
          cast(count(*) as int) AS n_sampled,
          cast(sum(sr) as bigint) AS sum_r,
          cast(sum(sg) as bigint) AS sum_g,
          cast(sum(sb) as bigint) AS sum_b
        FROM c
        GROUP BY doc_id, w, h, nf
        ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // IMAGE near-dup via perceptual hashing — dedup for the multimodal
    // half of a 100 TB lake. Real decode → 8×8 NN aHash (batched
    // partition-local, see Multimodal.aHash64) → the SAME band-bucketed
    // candidate pipeline as text SimHash (d04): 4×16-bit bands through
    // winnowCandidatePairs (groupBy expansion, df-capped — never an
    // image×image join), then exact hamming ≤ 12 on the candidates.
    // The pairs found are VISUALLY similar images (same raster dims +
    // template-similar pixel content); note they are deliberately not
    // d08's shingle near-dups — two near-identical texts synthesize to
    // different-sized rasters, and a resized raster reads different
    // text characters per cell, so image-space similarity is a
    // different (complementary) signal from shingle-space similarity.
    // The oracle re-derives every hash analytically from the synthesis
    // formula — resample indices, integer grayscale, mean threshold,
    // band split, xor popcount — without decoding a byte.
    // ------------------------------------------------------------------
    "mm06_image_phash_neardup" -> Q(
      (s, d) => {
        val hashes = Multimodal.aHash64(Multimodal.synthesizeBmp(s, d))
          .toDF()
        val bands = hashes.select(col("media_id").as("doc_id"),
          explode(array((0 until 4).map { j =>
            (shiftright(col("ahash"), 16 * j).bitwiseAND(lit(65535L)) +
              lit(j * 65536L)).cast("long")
          }: _*)).as("fp"))
        val cand = TextOps.winnowCandidatePairs(bands, minShared = 1,
            maxDf = 1000)
          .select(col("doc_a"), col("doc_b"))
        cand
          .join(hashes.select(col("media_id").as("doc_a"),
            col("ahash").as("ha")), "doc_a")
          .join(hashes.select(col("media_id").as("doc_b"),
            col("ahash").as("hb")), "doc_b")
          .withColumn("hamming", expr("bit_count(ha ^ hb)"))
          .filter(col("hamming") <= 12)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH p AS (
          SELECT doc_id, length(text) AS n, text,
            cast(8 + doc_id % 24 as bigint) AS w,
            cast(8 + (doc_id * 7) % 24 as bigint) AS h
          FROM documents),
        s AS (
          SELECT doc_id, n, text,
            list_transform(range(0, 64), i ->
              ((i % 8) * w // 8) + (((i // 8) * h // 8) * w)) AS src
          FROM p),
        g AS (
          SELECT doc_id,
            list_transform(src, si ->
              ((CASE WHEN n = 0 THEN 0
                  ELSE unicode(substr(text, cast(si % n as int) + 1, 1))
                    % 256 END)
               + ((si * 31 + doc_id) % 256)
               + ((si + (CASE WHEN n = 0 THEN 0
                    ELSE unicode(substr(text, cast(si % n as int) + 1, 1))
                      % 256 END)) % 256)) // 3) AS grays
          FROM s),
        m AS (SELECT doc_id, grays,
            cast(list_sum(grays) as bigint) // 64 AS mean FROM g),
        hsh AS (SELECT doc_id,
            cast(list_sum(list_transform(range(0, 64), i ->
              CASE WHEN grays[cast(i as int) + 1] > mean
                THEN CASE WHEN i = 63 THEN -9223372036854775807 - 1
                     ELSE 1::BIGINT << cast(i as int) END
                ELSE 0 END)) as bigint) AS ahash
          FROM m),
        bands AS (
          SELECT doc_id,
            j * 65536 + ((ahash >> cast(16 * j as int)) & 65535) AS fp
          FROM hsh, (SELECT unnest(range(0, 4)) AS j) jj),
        fpok AS (
          SELECT fp FROM bands GROUP BY fp
          HAVING count(*) BETWEEN 2 AND 1000),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a
          JOIN fpok f ON f.fp = a.fp
          JOIN bands b ON b.fp = a.fp AND a.doc_id < b.doc_id)
        SELECT c.doc_a, c.doc_b,
          cast(bit_count(xor(x.ahash, y.ahash)) as int) AS hamming
        FROM cand c
        JOIN hsh x ON x.doc_id = c.doc_a
        JOIN hsh y ON y.doc_id = c.doc_b
        WHERE bit_count(xor(x.ahash, y.ahash)) <= 12
        ORDER BY doc_a, doc_b""")),

    // ------------------------------------------------------------------
    // Voice-activity segmentation over real decoded WAVs — the audio
    // curation op that decides WHICH SPANS of a clip are worth
    // transcribing/training on (silence trimming, speech-span
    // extraction). Per clip: 8-frame block energies (exact integer
    // Σv², folded inside the batched decode so only blocks-scale rows
    // leave the partition), an ADAPTIVE activity gate — a block is
    // active iff energy·n_blocks > total_energy, i.e. above the
    // clip's own mean, an integer rearrangement with no division —
    // then gaps-and-islands (blk − row_number, e13's trick) turns
    // consecutive active blocks into segments. Everything after the
    // decode is clip-bounded windows + one segment aggregation; the
    // oracle re-derives the sample values analytically through the
    // same synthesis formula mm04 pins, so a codec, blocking,
    // channel-interleave, or islands bug is a hash mismatch.
    // ------------------------------------------------------------------
    "mm07_audio_vad" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val be = Multimodal
          .audioBlockEnergies(Multimodal.synthesizeWav(s, d)).toDF()
        val w = Window.partitionBy(col("media_id"))
        val act = be
          .withColumn("te", sum(col("energy")).over(w))
          .withColumn("nb", count(lit(1)).over(w))
          .filter(col("energy") * col("nb") > col("te"))
        act
          .withColumn("grp", col("blk") - row_number().over(
            Window.partitionBy(col("media_id")).orderBy(col("blk"))))
          .groupBy(col("media_id"), col("grp"))
          .agg(min(col("blk")).as("seg_start"),
            max(col("blk")).as("seg_end"),
            count(lit(1)).as("n_blocks"),
            sum(col("energy")).as("seg_energy"))
          .select(col("media_id"), col("seg_start"), col("seg_end"),
            col("n_blocks"), col("seg_energy"))
          .orderBy(col("media_id"), col("seg_start"))
      },
      Some("""WITH p AS (
          SELECT doc_id, cast(1 + doc_id % 2 as int) AS ch,
            cast(32 + doc_id % 96 as int) AS fr,
            length(text) AS n, text
          FROM documents),
        sv AS (
          SELECT doc_id, ch, n, text,
            unnest(range(0, fr * ch)) AS i
          FROM p),
        vals AS (
          SELECT doc_id,
            cast((i // ch) // 8 as int) AS blk,
            ((CASE WHEN n = 0 THEN 0
                   ELSE unicode(substr(text, cast(i % n as int) + 1, 1))
                        % 256
              END * 131 + i * 7 + doc_id) % 65536) - 32768 AS v
          FROM sv),
        be AS (SELECT doc_id, blk, cast(sum(v * v) as bigint) AS energy
          FROM vals GROUP BY 1, 2),
        tot AS (SELECT doc_id, cast(sum(energy) as bigint) AS te,
            cast(count(*) as bigint) AS nb
          FROM be GROUP BY 1),
        act AS (SELECT be.doc_id, be.blk, be.energy
          FROM be JOIN tot USING (doc_id)
          WHERE be.energy * tot.nb > tot.te),
        isl AS (SELECT doc_id, blk, energy,
            blk - row_number() OVER (PARTITION BY doc_id ORDER BY blk)
              AS grp
          FROM act)
        SELECT doc_id AS media_id,
          cast(min(blk) as int) AS seg_start,
          cast(max(blk) as int) AS seg_end,
          cast(count(*) as bigint) AS n_blocks,
          cast(sum(energy) as bigint) AS seg_energy
        FROM isl GROUP BY doc_id, grp
        ORDER BY media_id, seg_start""")),

    // ------------------------------------------------------------------
    // Shot-boundary detection over the real video container — the
    // video curation op that decides where a clip CUTS (scene
    // segmentation before frame dedup / captioning / sampling). Per
    // clip: every frame decodes to one integer channel-sum energy row
    // (frame-scale rows leave the decode partition, never pixels —
    // videoFrameEnergies), consecutive-frame jumps |E(f) − E(f−1)|
    // come from one lag window, and a jump is a CUT iff
    // jump · n_gaps > total_jump — strictly above the clip's own mean
    // jump, mm07's adaptive integer gate with no division or
    // threshold constant. Everything past the decode is clip-bounded
    // windows + one per-clip aggregate. The oracle re-derives every
    // frame energy analytically through mm05's pinned synthesis
    // formula, so a demux, decode, channel, or window bug is a hash
    // mismatch.
    // ------------------------------------------------------------------
    "mm08_shot_boundary" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val fe = Multimodal
          .videoFrameEnergies(Multimodal.synthesizeVideo(s, d)).toDF()
        val wOrd = Window.partitionBy(col("media_id")).orderBy(col("fr"))
        val wAll = Window.partitionBy(col("media_id"))
        fe.withColumn("jump",
            abs(col("energy") - lag(col("energy"), 1).over(wOrd)))
          .withColumn("tj", sum(col("jump")).over(wAll))
          .withColumn("nf", count(lit(1)).over(wAll))
          .groupBy(col("media_id"))
          .agg(max(col("nf")).cast("int").as("n_frames"),
            count(when(col("jump") * (col("nf") - 1) > col("tj"), 1))
              .as("n_cuts"),
            max(col("jump")).as("max_jump"))
          .orderBy(col("media_id"))
      },
      Some("""WITH p AS (
          SELECT doc_id,
            cast(4 + doc_id % 8 as int) AS w,
            cast(4 + (doc_id * 3) % 8 as int) AS h,
            cast(2 + doc_id % 10 as int) AS nf,
            length(text) AS n, text
          FROM documents),
        f AS (
          SELECT doc_id, w, h, nf, n, text,
            unnest(range(0, nf)) AS fr
          FROM p),
        c AS (
          SELECT doc_id, nf, fr,
            cast(list_sum(list_transform(range(0, w*h), idx ->
              CASE WHEN n = 0 THEN 0
                   ELSE unicode(substr(text,
                     cast((fr + idx) % n as int) + 1, 1)) % 256 END
              + (idx * 31 + fr * 7 + doc_id) % 256
              + (idx + fr +
                 CASE WHEN n = 0 THEN 0
                      ELSE unicode(substr(text,
                        cast((fr + idx) % n as int) + 1, 1)) % 256 END
                ) % 256)) as bigint) AS e
          FROM f),
        j AS (
          SELECT doc_id, nf, fr, e,
            abs(e - lag(e) OVER (PARTITION BY doc_id ORDER BY fr))
              AS jump
          FROM c),
        t AS (
          SELECT doc_id, nf, jump,
            sum(jump) OVER (PARTITION BY doc_id) AS tj
          FROM j)
        SELECT doc_id AS media_id, cast(max(nf) as int) AS n_frames,
          cast(count(*) FILTER (WHERE jump * (nf - 1) > tj) as bigint)
            AS n_cuts,
          cast(max(jump) as bigint) AS max_jump
        FROM t GROUP BY doc_id
        ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // Integer Goertzel band energies per VAD segment — mm07's consumer
    // and the multimodal family's feature-extraction rung beyond raw
    // energy: for each active-speech segment, the Goertzel power
    // |X(ω)|² of the segment's first 32 channel-0 frames at the five
    // frequencies whose coefficient 2·cos(ω) is an exact integer (DC,
    // fs/6, fs/4, fs/3, Nyquist) — making recurrence and power exact
    // 64-bit integer arithmetic both engines re-derive bit-for-bit
    // through mm04's pinned synthesis (see audioSegmentGoertzel's
    // docs for the fixed-N dynamic-range bound). The whole
    // segment+feature derivation folds inside the batched decode:
    // segments × 5 rows leave the partition, never samples. DuckDB
    // re-runs the recurrence with list_reduce over a [s1, s2] BIGINT
    // state list (struct-typed reduce states miscompute their second
    // field in DuckDB 1.0 — measured; list state is exact).
    // ------------------------------------------------------------------
    "mm09_goertzel_bands" -> Q(
      (s, d) => {
        Multimodal
          .audioSegmentGoertzel(Multimodal.synthesizeWav(s, d)).toDF()
          .orderBy(col("media_id"), col("seg_start"), col("band"))
      },
      Some("""WITH p AS (
          SELECT doc_id, cast(1 + doc_id % 2 as int) AS ch,
            cast(32 + doc_id % 96 as int) AS fr,
            length(text) AS n, text
          FROM documents),
        sv AS (
          SELECT doc_id, ch, n, text, unnest(range(0, fr * ch)) AS i
          FROM p),
        vals AS (
          SELECT doc_id, cast((i // ch) // 8 as int) AS blk,
            ((CASE WHEN n = 0 THEN 0
                   ELSE unicode(substr(text, cast(i % n as int) + 1, 1))
                        % 256
              END * 131 + i * 7 + doc_id) % 65536) - 32768 AS v
          FROM sv),
        be AS (SELECT doc_id, blk, cast(sum(v * v) as bigint) AS energy
          FROM vals GROUP BY 1, 2),
        tot AS (SELECT doc_id, cast(sum(energy) as bigint) AS te,
            cast(count(*) as bigint) AS nb
          FROM be GROUP BY 1),
        act AS (SELECT be.doc_id, be.blk FROM be JOIN tot USING (doc_id)
          WHERE be.energy * tot.nb > tot.te),
        isl AS (SELECT doc_id, blk,
            blk - row_number() OVER (PARTITION BY doc_id ORDER BY blk)
              AS grp
          FROM act),
        segs AS (
          SELECT doc_id, cast(min(blk) as int) AS seg_start,
            cast(max(blk) as int) AS seg_end
          FROM isl GROUP BY doc_id, grp),
        bands AS (SELECT * FROM (VALUES ('dc', 2), ('fs6', 1),
          ('fs4', 0), ('fs3', -1), ('nyq', -2)) b(band, c)),
        seg_g AS (
          SELECT s.doc_id, s.seg_start, s.seg_end, b.band, b.c,
            list_reduce(
              list_prepend([cast(0 as bigint), cast(0 as bigint)],
                list_transform(range(s.seg_start * 8,
                    least(s.seg_start * 8 + 32,
                      least((s.seg_end + 1) * 8, p.fr))), f ->
                  [cast(((CASE WHEN p.n = 0 THEN 0
                      ELSE unicode(substr(p.text,
                        cast((f * p.ch) % p.n as int) + 1, 1)) % 256 END
                    * 131 + (f * p.ch) * 7 + s.doc_id) % 65536) - 32768
                    as bigint), cast(0 as bigint)])),
              (acc, x) -> [x[1] + b.c * acc[1] - acc[2], acc[1]]) AS st
          FROM segs s JOIN p USING (doc_id), bands b)
        SELECT doc_id AS media_id, seg_start, seg_end, band,
          cast(st[1] * st[1] + st[2] * st[2] - c * st[1] * st[2]
            as bigint) AS power
        FROM seg_g
        ORDER BY media_id, seg_start, band""")),


    // ------------------------------------------------------------------
    // Sobel gradient edge census per image — the image-side FEATURE
    // rung beyond channel sums (mm02) and perceptual hash (mm06):
    // 3×3 Sobel on the integer luma plane (BT.601 ×1000 weights) of
    // every REAL decoded BMP, reporting interior pixels, edge pixels
    // (|∇|² ≥ 4e10, the corpus median — no sqrt, no float), exact
    // Σ|∇|², and edge density (one exact-integer division). The Spark
    // side runs the real codec (synthesize → encode → decode → Sobel
    // in batched mapPartitions; only image-scale census rows leave
    // the partition); the oracle re-derives every luma from the mm02
    // pixel formula and replays the stencil with 1-based list
    // indexing over a per-pixel LATERAL unnest — analytic through the
    // codec, the mm-family discipline.
    // ------------------------------------------------------------------
    "mm10_sobel_edges" -> Q(
      (s, d) => {
        Multimodal.imageSobel(Multimodal.synthesizeBmp(s, d),
            t2 = 40000000000L).toDF()
          .withColumn("edge_density",
            col("n_edge").cast("double") / col("n_interior").cast("double"))
          .orderBy(col("media_id"))
      },
      Some("""WITH p AS (
          SELECT doc_id, cast(8 + doc_id % 24 as int) AS w,
            cast(8 + (doc_id * 7) % 24 as int) AS h,
            length(text) AS n, text
          FROM documents),
        px AS (
          SELECT doc_id, w, h,
            list_transform(range(0, w * h), p2 ->
              299 * (CASE WHEN n = 0 THEN 0 ELSE
                unicode(substr(text, cast(p2 % n as int) + 1, 1)) % 256 END)
              + 587 * cast((p2 * 31 + doc_id) % 256 as bigint)
              + 114 * cast((p2 + (CASE WHEN n = 0 THEN 0 ELSE
                  unicode(substr(text, cast(p2 % n as int) + 1, 1)) % 256
                  END)) % 256 as bigint)) AS l
          FROM p),
        ks AS (
          SELECT doc_id, w, h, l,
            unnest(range(0, (w - 2) * (h - 2))) AS k
          FROM px),
        cc AS (
          SELECT doc_id, w, h, l,
            ((k // (w - 2) + 1) * w + (k % (w - 2) + 1)) AS i0
          FROM ks),
        g AS (
          SELECT doc_id, w, h,
            (l[i0 - w + 2] + 2 * l[i0 + 2] + l[i0 + w + 2])
              - (l[i0 - w] + 2 * l[i0] + l[i0 + w]) AS gx,
            (l[i0 + w] + 2 * l[i0 + w + 1] + l[i0 + w + 2])
              - (l[i0 - w] + 2 * l[i0 - w + 1] + l[i0 - w + 2]) AS gy
          FROM cc)
        SELECT doc_id AS media_id, w AS width, h AS height,
          cast(count(*) as bigint) AS n_interior,
          cast(count(*) FILTER (WHERE gx * gx + gy * gy >= 40000000000)
            as bigint) AS n_edge,
          cast(sum(gx * gx + gy * gy) as bigint) AS sum_mag2,
          cast(count(*) FILTER (WHERE gx * gx + gy * gy >= 40000000000)
            as double) / cast(count(*) as double) AS edge_density
        FROM g GROUP BY doc_id, w, h
        ORDER BY media_id""")),


    // ------------------------------------------------------------------
    // Otsu binarization threshold census over real decoded BMPs — the
    // segmentation rung above mm10's edge detector (threshold the gray
    // plane into background/foreground before blob- or region-level
    // features). All-integer exact argmax (see Multimodal.imageOtsu:
    // cross-multiplied a^2/d comparison, BigInt in the JVM / HUGEINT
    // in DuckDB, smallest-t ties); the oracle re-derives the gray
    // histogram arithmetically from the mm02 pixel formula, takes
    // cumulative sums over present gray levels, and replays the SAME
    // argmax as an ordered list_reduce — degenerate splits are
    // excluded on both sides, so the winner is always a present gray
    // level and every census field hash-matches exactly.
    // ------------------------------------------------------------------
    "mm11_otsu_threshold" -> Q(
      (s, d) =>
        Multimodal.imageOtsu(Multimodal.synthesizeBmp(s, d)).toDF()
          .orderBy(col("media_id")),
      Some("""WITH """ + sqlOtsuCandidates + """,
        rk AS (
          -- exact argmax without a fold (list_reduce miscomputes list
          -- states beyond 2-3 slots, the mm09 bug class): scale each
          -- a^2/d to the HUGEINT floor of a^2 * 10^12 / d. Distinct
          -- fractions differ by >= 1/(d1*d2) >= 1.45e-11 (d <= n^2/4 =
          -- 262144), so scaled scores differ by >= 14 and floor
          -- truncation (< 1 per side) preserves strict order; equal
          -- fractions scale to the identical integer — ties then break
          -- on smallest gray, exactly the JVM's keep-first rule.
          SELECT doc_id, w, h, n_px, s_all, gray, a, d, w0h, s0h,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY (a * a * cast(1000000000000 as hugeint)) // d DESC,
                gray ASC) AS rn
          FROM cand)
        SELECT doc_id AS media_id, w AS width, h AS height,
          cast(n_px as bigint) AS n_px,
          cast(gray as bigint) AS otsu_t,
          cast(w0h as bigint) AS n_bg,
          cast(n_px - w0h as bigint) AS n_fg,
          cast(s0h // w0h as bigint) AS mu_bg,
          cast((s_all - s0h) // (n_px - w0h) as bigint) AS mu_fg,
          cast(a * a as bigint) AS sep_num,
          cast(d as bigint) AS sep_den
        FROM rk WHERE rn = 1 ORDER BY media_id""")),


    // ------------------------------------------------------------------
    // Euler characteristic census of the Otsu-thresholded foreground
    // (mm11's consumer; scikit-image's euler_number): chi = V - E + F
    // over the 4-connectivity pixel complex = #components - #holes.
    // EXACT and row-local where a label-propagation component count
    // is iterative (min-label needs diameter rounds — measured 574
    // unconverged pixels after 48 SQL rounds on these percolation-like
    // planes), so the oracle replays it with three adjacency
    // self-joins on the analytic gray plane plus mm11's threshold
    // ranking. Honest readout: chi in [-4, 57] at sf0.01 — hole-rich
    // negative-chi planes and fragmented positives both occur.
    // ------------------------------------------------------------------
    "mm12_euler_census" -> Q(
      (s, d) =>
        Multimodal.imageEuler(Multimodal.synthesizeBmp(s, d)).toDF()
          .orderBy(col("media_id")),
      Some("""WITH """ + sqlOtsuThreshold + """,
        fg AS MATERIALIZED (
          SELECT g.doc_id, g.w, g.h, g.i
          FROM gr g JOIN th ON th.doc_id = g.doc_id
          WHERE g.gray > th.t),
        vc AS (
          SELECT doc_id, cast(count(*) as bigint) AS v
          FROM fg GROUP BY doc_id),
        eh AS (
          SELECT a.doc_id, cast(count(*) as bigint) AS c
          FROM fg a JOIN fg b ON b.doc_id = a.doc_id AND b.i = a.i + 1
          WHERE (a.i % a.w) <> a.w - 1 GROUP BY a.doc_id),
        ev AS (
          SELECT a.doc_id, cast(count(*) as bigint) AS c
          FROM fg a JOIN fg b ON b.doc_id = a.doc_id AND b.i = a.i + a.w
          GROUP BY a.doc_id),
        qd AS (
          SELECT a.doc_id, cast(count(*) as bigint) AS c
          FROM fg a
          JOIN fg b ON b.doc_id = a.doc_id AND b.i = a.i + 1
          JOIN fg c2 ON c2.doc_id = a.doc_id AND c2.i = a.i + a.w
          JOIN fg d2 ON d2.doc_id = a.doc_id AND d2.i = a.i + a.w + 1
          WHERE (a.i % a.w) <> a.w - 1 GROUP BY a.doc_id)
        -- driven from ALL docs: a degenerate single-gray-level image has
        -- no valid split (th row absent) and must emit the SAME sentinel
        -- the JVM side does (otsu_t = -1, empty foreground), not vanish
        SELECT p.doc_id AS media_id, p.w AS width, p.h AS height,
          cast(coalesce(th.t, -1) as bigint) AS otsu_t,
          cast(coalesce(vc.v, 0) as bigint) AS n_fg,
          cast(coalesce(eh.c, 0) + coalesce(ev.c, 0) as bigint) AS n_edges,
          cast(coalesce(qd.c, 0) as bigint) AS n_quads,
          cast(coalesce(vc.v, 0) - (coalesce(eh.c, 0) + coalesce(ev.c, 0))
            + coalesce(qd.c, 0) as bigint) AS euler
        FROM p
        LEFT JOIN th ON th.doc_id = p.doc_id
        LEFT JOIN vc ON vc.doc_id = p.doc_id
        LEFT JOIN eh ON eh.doc_id = p.doc_id
        LEFT JOIN ev ON ev.doc_id = p.doc_id
        LEFT JOIN qd ON qd.doc_id = p.doc_id
        ORDER BY media_id""")),


    // ------------------------------------------------------------------
    // Image moments of the Otsu foreground (mm12's sibling;
    // scikit-image regionprops): raw moments to order 2, milli-scaled
    // centroid, and the m00-scaled central covariance numerators —
    // every field an exact int64 (division/atan2 left to the
    // consumer), so the oracle re-derives them from the analytic gray
    // plane with x = i % w, y = i // w coordinate sums. Row-local
    // one-pass per image.
    // ------------------------------------------------------------------
    "mm13_image_moments" -> Q(
      (s, d) =>
        Multimodal.imageMoments(Multimodal.synthesizeBmp(s, d)).toDF()
          .orderBy(col("media_id")),
      Some("""WITH """ + sqlOtsuThreshold + """,
        fg AS (
          SELECT g.doc_id, g.w, g.h, th.t,
            cast(g.i % g.w as bigint) AS x,
            cast(g.i // g.w as bigint) AS y
          FROM gr g JOIN th ON th.doc_id = g.doc_id
          WHERE g.gray > th.t),
        mm AS (
          SELECT doc_id,
            cast(count(*) as bigint) AS m00,
            cast(sum(x) as bigint) AS m10,
            cast(sum(y) as bigint) AS m01,
            cast(sum(x * y) as bigint) AS m11,
            cast(sum(x * x) as bigint) AS m20,
            cast(sum(y * y) as bigint) AS m02
          FROM fg GROUP BY doc_id)
        -- driven from ALL docs (mm12's sentinel mirror): a degenerate
        -- image emits otsu_t = -1 with zero moments / -1 centroids,
        -- matching the JVM's empty-foreground row
        SELECT p.doc_id AS media_id, p.w AS width, p.h AS height,
          cast(coalesce(th.t, -1) as bigint) AS otsu_t,
          coalesce(mm.m00, 0) AS m00, coalesce(mm.m10, 0) AS m10,
          coalesce(mm.m01, 0) AS m01, coalesce(mm.m11, 0) AS m11,
          coalesce(mm.m20, 0) AS m20, coalesce(mm.m02, 0) AS m02,
          cast(CASE WHEN coalesce(mm.m00, 0) > 0
               THEN (1000 * mm.m10) // mm.m00
               ELSE -1 END as bigint) AS cx_milli,
          cast(CASE WHEN coalesce(mm.m00, 0) > 0
               THEN (1000 * mm.m01) // mm.m00
               ELSE -1 END as bigint) AS cy_milli,
          cast(coalesce(mm.m20 * mm.m00 - mm.m10 * mm.m10, 0)
            as bigint) AS cov_xx,
          cast(coalesce(mm.m02 * mm.m00 - mm.m01 * mm.m01, 0)
            as bigint) AS cov_yy,
          cast(coalesce(mm.m11 * mm.m00 - mm.m10 * mm.m01, 0)
            as bigint) AS cov_xy
        FROM p
        LEFT JOIN th ON th.doc_id = p.doc_id
        LEFT JOIN mm ON mm.doc_id = p.doc_id
        ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // AUDIO constellation near-dup fingerprinting — the dedup consumer
    // the audio side lacked (images have mm06's pHash): Shazam-style
    // landmark hashes over mm09's band energies, run through d04's
    // band-bucket candidate discipline. Per clip: the (block × band)
    // integer Goertzel grid (audioBlockGoertzel), one LANDMARK per
    // 8-frame block (argmax band, ties to the lowest band index, plus
    // a bit-length magnitude bucket — log2 via length(bin(x)), exact
    // integers in both engines), then constellation fingerprints
    // (band₁, mag₁, band₂, mag₂, Δblk ≤ 3) over landmark pairs. The
    // fingerprint carries TIME DELTAS only, never absolute time — so
    // a re-upload with a trimmed lead-in (the planted dups:
    // plantShiftedDups drops exactly 2 blocks) keeps its hashes, the
    // invariance absolute-position hashes (mm06's) don't have.
    // Candidates come from the shared-fingerprint posting index
    // (winnowCandidatePairs — df-capped, NEVER clip×clip); the census
    // proves the detector both FIRES (every planted dup found,
    // min_planted_shared) and DISCRIMINATES (max_other_shared below
    // it). At 100 TB: fingerprints are the stored index, a new clip
    // probes by its own ≤3·nblocks hashes — d14/d16's incremental
    // posture applies unchanged.
    // ------------------------------------------------------------------
    "mm14_audio_constellation" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Multimodal.synthesizeWav(s, d)
        val dups = Multimodal.plantShiftedDups(base)
        val nPlanted = dups.toDF().select(col("media_id"))
        val grid = Multimodal
          .audioBlockGoertzel(base.union(dups)).toDF()
        val wPeak = Window.partitionBy(col("media_id"), col("blk"))
          .orderBy(col("power").desc, col("bidx"))
        // landmark magnitude = bit length PLUS the top-5-bit mantissa
        // of the exact integer power (a bare log2 bucket left ~75
        // effective fingerprint values — measured 131k random
        // candidate pairs at sf0.01; the mantissa lifts landmark
        // entropy ~30× and random collisions collapse). All integer,
        // engine-portable: length(bin(x)) and a variable right-shift.
        val peaks = grid
          .withColumn("rn", row_number().over(wPeak))
          .filter(col("rn") === 1)
          .withColumn("pw", greatest(col("power"), lit(1L)))
          .withColumn("bl", length(bin(col("pw"))).cast("long"))
          .withColumn("q", col("bl") * 1024 +
            expr("shiftright(pw, cast(greatest(bl - 10, 0) as int))"))
          .select(col("media_id"), col("blk"), col("bidx"), col("q"))
        val a = peaks.select(col("media_id"), col("blk").as("ablk"),
          col("bidx").as("b1"), col("q").as("q1"))
        val tgt = peaks.select(col("media_id"), col("blk").as("tblk"),
          col("bidx").as("b2"), col("q").as("q2"))
        val dt = col("tblk") - col("ablk")
        val fps = a.join(tgt, Seq("media_id"))
          .filter(dt >= 1 && dt <= 3)
          .select(col("media_id").as("doc_id"),
            ((((col("b1") * 131072L + col("q1")) * 5 + col("b2")) *
              131072L + col("q2")) * 4 +
              (col("tblk") - col("ablk"))).as("fp"))
          .distinct()
        val pairs = TextOps.winnowCandidatePairs(fps, minShared = 3,
          maxDf = 1000)
        val planted = col("doc_b") === col("doc_a") + 1000000L
        val plantedLeg = nPlanted.agg(count(lit(1)).cast("long")
            .as("value"))
          .select(lit("1_planted_clips").as("metric"), col("value"))
        def pairLeg(metric: String, v: Column): DataFrame =
          pairs.agg(coalesce(v.cast("long"), lit(0L)).as("value"))
            .select(lit(metric).as("metric"), col("value"))
        plantedLeg
          .unionByName(pairLeg("2_planted_found",
            count(when(planted, 1))))
          .unionByName(pairLeg("3_min_planted_shared",
            min(when(planted, col("shared_fps")))))
          .unionByName(pairLeg("4_other_pairs",
            count(when(!planted, 1))))
          .unionByName(pairLeg("5_max_other_shared",
            max(when(!planted, col("shared_fps")))))
          .orderBy(col("metric"))
      },
      Some("""WITH p AS (
          SELECT doc_id, cast(1 + doc_id % 2 as int) AS ch,
            cast(32 + doc_id % 96 as int) AS fr,
            length(text) AS n, text
          FROM documents),
        m AS (
          SELECT doc_id AS media_id, doc_id AS src_id, ch, fr, n, text,
            0 AS shift
          FROM p
          UNION ALL
          SELECT doc_id + 1000000, doc_id, ch, fr - 16, n, text, 16
          FROM p WHERE doc_id % 29 = 0 AND fr >= 48),
        blocks AS (
          SELECT media_id, src_id, ch, n, text, shift, fr,
            unnest(range(0, (fr + 7) // 8)) AS blk
          FROM m),
        bands AS (SELECT * FROM (VALUES (0, 2), (1, 1), (2, 0),
          (3, -1), (4, -2)) b(bidx, c)),
        gp AS (
          SELECT media_id, blk, bidx, c,
            list_reduce(
              list_prepend([cast(0 as bigint), cast(0 as bigint)],
                list_transform(range(blk * 8, least(blk * 8 + 8, fr)),
                  f ->
                  [cast(((CASE WHEN n = 0 THEN 0
                      ELSE unicode(substr(text,
                        cast(((f + shift) * ch) % n as int) + 1, 1))
                        % 256 END
                    * 131 + ((f + shift) * ch) * 7 + src_id) % 65536)
                    - 32768 as bigint), cast(0 as bigint)])),
              (acc, x) -> [x[1] + c * acc[1] - acc[2], acc[1]]) AS st
          FROM blocks, bands),
        pw AS (
          SELECT media_id, blk, bidx,
            cast(st[1] * st[1] + st[2] * st[2] - c * st[1] * st[2]
              as bigint) AS power
          FROM gp),
        peaks AS (
          SELECT media_id, blk, bidx,
            cast(length(bin(greatest(power, 1))) as bigint) * 1024 +
              (greatest(power, 1) >>
               greatest(length(bin(greatest(power, 1))) - 10, 0)) AS q
          FROM (SELECT media_id, blk, bidx, power,
              row_number() OVER (PARTITION BY media_id, blk
                ORDER BY power DESC, bidx) AS rn
            FROM pw) t
          WHERE rn = 1),
        fp AS (
          SELECT DISTINCT a.media_id AS doc_id,
            (((a.bidx * 131072 + a.q) * 5 + t.bidx) * 131072 + t.q)
              * 4 + (t.blk - a.blk) AS fp
          FROM peaks a JOIN peaks t ON t.media_id = a.media_id
            AND t.blk - a.blk BETWEEN 1 AND 3),
        fpok AS (
          SELECT fp FROM fp GROUP BY fp
          HAVING count(*) BETWEEN 2 AND 1000),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            cast(count(*) as bigint) AS shared_fps
          FROM fp a JOIN fpok f ON f.fp = a.fp
          JOIN fp b ON b.fp = a.fp AND b.doc_id > a.doc_id
          GROUP BY 1, 2
          HAVING count(*) >= 3),
        planted AS (SELECT count(*) AS n FROM m WHERE shift = 16)
        SELECT * FROM (
          SELECT '1_planted_clips' AS metric,
            cast(n as bigint) AS value FROM planted
          UNION ALL
          SELECT '2_planted_found', cast(coalesce(count(*), 0) as bigint)
          FROM cand WHERE doc_b = doc_a + 1000000
          UNION ALL
          SELECT '3_min_planted_shared',
            cast(coalesce(min(shared_fps), 0) as bigint)
          FROM cand WHERE doc_b = doc_a + 1000000
          UNION ALL
          SELECT '4_other_pairs', cast(coalesce(count(*), 0) as bigint)
          FROM cand WHERE doc_b <> doc_a + 1000000
          UNION ALL
          SELECT '5_max_other_shared',
            cast(coalesce(max(shared_fps), 0) as bigint)
          FROM cand WHERE doc_b <> doc_a + 1000000
        ) u ORDER BY metric""")),

    // ------------------------------------------------------------------
    // MULTIMODAL end-to-end pipeline — the mm family's composition
    // entry (text has p01-p07; this is the funnel on BINARY columns):
    // image leg = real-codec pHash near-dup keep-list (mm06's
    // machinery — drop the larger id of every hamming ≤ 12 pair);
    // audio leg = VAD activity gate (mm07's adaptive
    // above-the-clip's-own-mean blocks; clips under 50% active are
    // dropped as silence-dominated — 98 of 500 at sf0.01, measured)
    // THEN constellation near-dup dedup ON THE GATE'S SURVIVORS
    // (mm14's fingerprints — composition order matters, p01's
    // discipline: dedup what you'd actually admit). The census is
    // p02's per-source admission funnel: every stage's drop count by
    // source, so a data-buying decision ("which crawl source ships
    // duplicate-heavy, silence-heavy media") reads straight off the
    // output. Corpus includes the planted shifted dups, so the audio
    // dedup stage is PROVEN to fire, not assumed. Each decode pass is
    // one batched mapPartitions; only block/hash-scale rows leave the
    // partitions; candidate generation is posting-index (never
    // clip×clip).
    // ------------------------------------------------------------------
    "p08_multimodal_pipeline" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val srcs = Catalog.t(s, d, "documents")
          .select(col("doc_id"), col("source"))
        // ---- image leg: pHash near-dup keep-list (mm06)
        val hashes = Multimodal.aHash64(Multimodal.synthesizeBmp(s, d))
          .toDF()
        val bandsI = hashes.select(col("media_id").as("doc_id"),
          explode(array((0 until 4).map { j =>
            (shiftright(col("ahash"), 16 * j).bitwiseAND(lit(65535L)) +
              lit(j * 65536L)).cast("long")
          }: _*)).as("fp"))
        val candI = TextOps.winnowCandidatePairs(bandsI, minShared = 1,
            maxDf = 1000)
          .select(col("doc_a"), col("doc_b"))
        val imgDrop = candI
          .join(hashes.select(col("media_id").as("doc_a"),
            col("ahash").as("ha")), "doc_a")
          .join(hashes.select(col("media_id").as("doc_b"),
            col("ahash").as("hb")), "doc_b")
          .filter(expr("bit_count(ha ^ hb)") <= 12)
          .select(col("doc_b").as("media_id")).distinct()
          .withColumn("img_dup", lit(1L))
        // ---- audio leg 1: VAD activity gate (mm07's block energies)
        val baseWav = Multimodal.synthesizeWav(s, d)
        val allWav = baseWav.union(Multimodal.plantShiftedDups(baseWav))
        val be = Multimodal.audioBlockEnergies(allWav).toDF()
        val tot = be.groupBy(col("media_id"))
          .agg(count(lit(1)).as("nb"), sum(col("energy")).as("te"))
        val act = be.join(tot, "media_id")
          .filter(col("energy") * col("nb") > col("te"))
          .groupBy(col("media_id")).agg(count(lit(1)).as("na"))
        val vadKeep = tot.join(act, Seq("media_id"), "left")
          .select(col("media_id"),
            (coalesce(col("na"), lit(0L)) * 2 >= col("nb")).as("keep"))
        // ---- audio leg 2: constellation dedup on VAD survivors (mm14)
        val grid = Multimodal.audioBlockGoertzel(allWav).toDF()
          .join(vadKeep.filter(col("keep")).select(col("media_id")),
            Seq("media_id"))
        val wPeak = Window.partitionBy(col("media_id"), col("blk"))
          .orderBy(col("power").desc, col("bidx"))
        val peaks = grid
          .withColumn("rn", row_number().over(wPeak))
          .filter(col("rn") === 1)
          .withColumn("pw", greatest(col("power"), lit(1L)))
          .withColumn("bl", length(bin(col("pw"))).cast("long"))
          .withColumn("q", col("bl") * 1024 +
            expr("shiftright(pw, cast(greatest(bl - 10, 0) as int))"))
          .select(col("media_id"), col("blk"), col("bidx"), col("q"))
        val pa = peaks.select(col("media_id"), col("blk").as("ablk"),
          col("bidx").as("b1"), col("q").as("q1"))
        val pt = peaks.select(col("media_id"), col("blk").as("tblk"),
          col("bidx").as("b2"), col("q").as("q2"))
        val dtc = col("tblk") - col("ablk")
        val fpsA = pa.join(pt, Seq("media_id"))
          .filter(dtc >= 1 && dtc <= 3)
          .select(col("media_id").as("doc_id"),
            ((((col("b1") * 131072L + col("q1")) * 5 + col("b2")) *
              131072L + col("q2")) * 4 +
              (col("tblk") - col("ablk"))).as("fp"))
          .distinct()
        val audDrop = TextOps.winnowCandidatePairs(fpsA, minShared = 3,
            maxDf = 1000)
          .select(col("doc_b").as("media_id")).distinct()
          .withColumn("aud_dup", lit(1L))
        // ---- per-source admission census (p02's funnel)
        val imgCensus = srcs.select(col("doc_id").as("media_id"),
            col("source"))
          .join(imgDrop, Seq("media_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("img_in"),
            coalesce(sum(col("img_dup")), lit(0L)).as("img_dup_dropped"))
          .withColumn("img_kept", col("img_in") - col("img_dup_dropped"))
        val audCensus = allWav.toDF()
          .select(col("media_id"),
            (col("media_id") % lit(1000000L)).as("doc_id"))
          .join(srcs, "doc_id")
          .join(vadKeep, "media_id")
          .join(audDrop, Seq("media_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("aud_in"),
            count(when(!col("keep"), 1)).as("aud_vad_dropped"),
            coalesce(sum(when(col("keep"), col("aud_dup"))), lit(0L))
              .as("aud_dup_dropped"))
          .withColumn("aud_kept", col("aud_in") - col("aud_vad_dropped")
            - col("aud_dup_dropped"))
        imgCensus.join(audCensus, Seq("source"))
          .orderBy(col("source"))
      },
      Some("""WITH p AS (
          SELECT doc_id, source, length(text) AS n, text,
            cast(8 + doc_id % 24 as bigint) AS w,
            cast(8 + (doc_id * 7) % 24 as bigint) AS h,
            cast(1 + doc_id % 2 as int) AS ch,
            cast(32 + doc_id % 96 as int) AS fr
          FROM documents),
        -- image leg: mm06's ahash chain
        si AS (
          SELECT doc_id, n, text,
            list_transform(range(0, 64), i ->
              ((i % 8) * w // 8) + (((i // 8) * h // 8) * w)) AS src
          FROM p),
        g AS (
          SELECT doc_id,
            list_transform(src, sx ->
              ((CASE WHEN n = 0 THEN 0
                  ELSE unicode(substr(text, cast(sx % n as int) + 1, 1))
                    % 256 END)
               + ((sx * 31 + doc_id) % 256)
               + ((sx + (CASE WHEN n = 0 THEN 0
                    ELSE unicode(substr(text, cast(sx % n as int) + 1, 1))
                      % 256 END)) % 256)) // 3) AS grays
          FROM si),
        mmm AS (SELECT doc_id, grays,
            cast(list_sum(grays) as bigint) // 64 AS mean FROM g),
        hsh AS (SELECT doc_id,
            cast(list_sum(list_transform(range(0, 64), i ->
              CASE WHEN grays[cast(i as int) + 1] > mean
                THEN CASE WHEN i = 63 THEN -9223372036854775807 - 1
                     ELSE 1::BIGINT << cast(i as int) END
                ELSE 0 END)) as bigint) AS ahash
          FROM mmm),
        ibands AS (
          SELECT doc_id,
            j * 65536 + ((ahash >> cast(16 * j as int)) & 65535) AS fp
          FROM hsh, (SELECT unnest(range(0, 4)) AS j) jj),
        ifpok AS (
          SELECT fp FROM ibands GROUP BY fp
          HAVING count(*) BETWEEN 2 AND 1000),
        icand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM ibands a
          JOIN ifpok f ON f.fp = a.fp
          JOIN ibands b ON b.fp = a.fp AND a.doc_id < b.doc_id),
        img_drop AS (
          SELECT DISTINCT c.doc_b AS media_id
          FROM icand c
          JOIN hsh x ON x.doc_id = c.doc_a
          JOIN hsh y ON y.doc_id = c.doc_b
          WHERE bit_count(xor(x.ahash, y.ahash)) <= 12),
        img_census AS (
          SELECT p.source, cast(count(*) as bigint) AS img_in,
            cast(count(d.media_id) as bigint) AS img_dup_dropped
          FROM p LEFT JOIN img_drop d ON d.media_id = p.doc_id
          GROUP BY p.source),
        -- audio corpus incl. planted shifted dups (mm14's m)
        m AS (
          SELECT doc_id AS media_id, doc_id AS src_id, source, ch, fr,
            n, text, 0 AS shift
          FROM p
          UNION ALL
          SELECT doc_id + 1000000, doc_id, source, ch, fr - 16, n,
            text, 16
          FROM p WHERE doc_id % 29 = 0 AND fr >= 48),
        -- VAD gate: mm07's adaptive active blocks, full-clip energy
        sv AS (
          SELECT media_id, ch, n, text, shift,
            unnest(range(0, fr * ch)) AS j
          FROM m),
        vals AS (
          SELECT media_id, cast((j // ch) // 8 as int) AS blk,
            ((CASE WHEN n = 0 THEN 0
               ELSE unicode(substr(text,
                 cast((j + shift * ch) % n as int) + 1, 1)) % 256
              END * 131 + (j + shift * ch) * 7
              + (media_id % 1000000)) % 65536) - 32768 AS v
          FROM sv),
        be AS (SELECT media_id, blk, cast(sum(v * v) as bigint)
            AS energy
          FROM vals GROUP BY 1, 2),
        tot AS (SELECT media_id, cast(sum(energy) as bigint) AS te,
            cast(count(*) as bigint) AS nb
          FROM be GROUP BY 1),
        act AS (SELECT be.media_id, cast(count(*) as bigint) AS na
          FROM be JOIN tot USING (media_id)
          WHERE be.energy * tot.nb > tot.te GROUP BY 1),
        vad AS (
          SELECT tot.media_id,
            coalesce(act.na, 0) * 2 >= tot.nb AS keep
          FROM tot LEFT JOIN act USING (media_id)),
        -- constellation dedup on VAD survivors (mm14's chain)
        blocks AS (
          SELECT m.media_id, m.src_id, m.ch, m.n, m.text, m.shift, m.fr,
            unnest(range(0, (m.fr + 7) // 8)) AS blk
          FROM m JOIN vad ON vad.media_id = m.media_id AND vad.keep),
        bands AS (SELECT * FROM (VALUES (0, 2), (1, 1), (2, 0),
          (3, -1), (4, -2)) b(bidx, c)),
        gp AS (
          SELECT media_id, blk, bidx, c,
            list_reduce(
              list_prepend([cast(0 as bigint), cast(0 as bigint)],
                list_transform(range(blk * 8, least(blk * 8 + 8, fr)),
                  f ->
                  [cast(((CASE WHEN n = 0 THEN 0
                      ELSE unicode(substr(text,
                        cast(((f + shift) * ch) % n as int) + 1, 1))
                        % 256 END
                    * 131 + ((f + shift) * ch) * 7 + src_id) % 65536)
                    - 32768 as bigint), cast(0 as bigint)])),
              (acc, x) -> [x[1] + c * acc[1] - acc[2], acc[1]]) AS st
          FROM blocks, bands),
        pw AS (
          SELECT media_id, blk, bidx,
            cast(st[1] * st[1] + st[2] * st[2] - c * st[1] * st[2]
              as bigint) AS power
          FROM gp),
        peaks AS (
          SELECT media_id, blk, bidx,
            cast(length(bin(greatest(power, 1))) as bigint) * 1024 +
              (greatest(power, 1) >>
               greatest(length(bin(greatest(power, 1))) - 10, 0)) AS q
          FROM (SELECT media_id, blk, bidx, power,
              row_number() OVER (PARTITION BY media_id, blk
                ORDER BY power DESC, bidx) AS rn
            FROM pw) t
          WHERE rn = 1),
        afp AS (
          SELECT DISTINCT a.media_id AS doc_id,
            (((a.bidx * 131072 + a.q) * 5 + t.bidx) * 131072 + t.q)
              * 4 + (t.blk - a.blk) AS fp
          FROM peaks a JOIN peaks t ON t.media_id = a.media_id
            AND t.blk - a.blk BETWEEN 1 AND 3),
        afpok AS (
          SELECT fp FROM afp GROUP BY fp
          HAVING count(*) BETWEEN 2 AND 1000),
        aud_drop AS (
          SELECT doc_b AS media_id FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              count(*) AS shared
            FROM afp a JOIN afpok f ON f.fp = a.fp
            JOIN afp b ON b.fp = a.fp AND b.doc_id > a.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 3) z
          GROUP BY 1),
        aud_census AS (
          SELECT m.source, cast(count(*) as bigint) AS aud_in,
            cast(count(*) FILTER (WHERE NOT vad.keep) as bigint)
              AS aud_vad_dropped,
            cast(count(ad.media_id) FILTER (WHERE vad.keep) as bigint)
              AS aud_dup_dropped
          FROM m
          JOIN vad ON vad.media_id = m.media_id
          LEFT JOIN aud_drop ad ON ad.media_id = m.media_id
          GROUP BY m.source)
        SELECT i.source, i.img_in, i.img_dup_dropped,
          i.img_in - i.img_dup_dropped AS img_kept,
          a.aud_in, a.aud_vad_dropped, a.aud_dup_dropped,
          a.aud_in - a.aud_vad_dropped - a.aud_dup_dropped AS aud_kept
        FROM img_census i JOIN aud_census a ON a.source = i.source
        ORDER BY i.source"""))
  )
}
