package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `binary` columns with typed metadata structs —
  * the lakehouse-standard layout (same shape as Spark's `binaryFile`
  * source: path, length, content). Decode / feature-extraction /
  * resize / frame-sampling run as *batched partition-local* transforms
  * (`mapPartitions` with explicit batch grouping — the JVM twin of
  * Python's `mapInPandas` batch shape): one codec/model instance per
  * partition, amortized over a batch, never per row.
  *
  * ── STUB BOUNDARY ────────────────────────────────────────────────────
  * This container has no image/audio codecs, so [[StubCodec]] is a
  * clearly-marked deterministic fake: it "decodes" a 16-byte synthetic
  * header (magic, width, height, frames) that [[synthesizeMedia]]
  * writes. Swapping in a real codec changes ONLY StubCodec — the
  * schema, partitioning, batching, and column plumbing around it are
  * real and tested.
  * ─────────────────────────────────────────────────────────────────────
  *
  * Scale posture: media bytes dominate storage; metadata extraction
  * projects the binary column away as early as possible, and
  * `repartitionByBytes` sizes partitions by payload bytes (not row
  * count) so a 100 TB corpus of skewed file sizes still yields
  * even executor work.
  */
object Multimodal {

  final case class MediaRecord(media_id: Long, uri: String, mime: String,
      content: Array[Byte])
  final case class MediaMeta(media_id: Long, mime: String, width: Int,
      height: Int, n_frames: Int, content_len: Long)
  final case class MediaFeature(media_id: Long, feature: Array[Float])

  /** The deterministic fake codec (see STUB BOUNDARY above). */
  object StubCodec extends Serializable {
    val Magic: Byte = 0x47 // 'G'

    /** Real impl: image decoder returning (width, height, frames). */
    def decodeHeader(bytes: Array[Byte]): (Int, Int, Int) = {
      require(bytes.length >= 16 && bytes(0) == Magic,
        "not a graft synthetic media blob")
      def i32(off: Int): Int =
        ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
          ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      (i32(4), i32(8), i32(12))
    }

    /** Real impl: pixel decode + model forward pass. Fake: a 16-bin
      * byte histogram, L1-normalized — deterministic, right shape.
      */
    def extractFeature(bytes: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](16)
      var i = 16
      while (i < bytes.length) { hist((bytes(i) & 0xff) % 16) += 1f; i += 1 }
      val total = math.max(1f, bytes.length - 16f)
      hist.map(_ / total)
    }

    /** Real impl: resample pixels. Fake: rewrite the header dims and
      * truncate payload proportionally (deterministic).
      */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val (ow, oh, fr) = decodeHeader(bytes)
      val scale = math.min(1.0, (w.toLong * h).toDouble / math.max(1L, ow.toLong * oh))
      val payloadLen = ((bytes.length - 16) * scale).toInt
      val out = new Array[Byte](16 + payloadLen)
      System.arraycopy(bytes, 0, out, 0, math.min(bytes.length, out.length))
      writeHeader(out, w, h, fr)
      out
    }

    def writeHeader(out: Array[Byte], w: Int, h: Int, frames: Int): Unit = {
      out(0) = Magic; out(1) = 0; out(2) = 0; out(3) = 1
      def put(off: Int, v: Int): Unit = {
        out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
        out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
      }
      put(4, w); put(8, h); put(12, frames)
    }
  }

  /** REAL codec (no stub): 24-bit uncompressed Windows BMP, encoded and
    * decoded in pure Scala — BITMAPFILEHEADER (14 bytes) +
    * BITMAPINFOHEADER (40 bytes), bottom-up rows, BGR byte order, rows
    * padded to 4-byte multiples. Chosen because the format needs no
    * external libraries (zero-egress container), yet exercises every
    * classic codec trap: little-endian headers, padded strides,
    * bottom-up row order, channel order. mm02 hash-verifies the full
    * encode→decode→stats path against an oracle that recomputes pixel
    * sums analytically — a BGR swap or stride bug is a hash mismatch.
    */
  object BmpCodec extends Serializable {
    private def rowSize(w: Int): Int = (w * 3 + 3) & ~3

    /** Encode w×h pixels; `rgb(idx)` returns the (r,g,b) of the
      * row-major top-down pixel idx = y*w + x, each 0..255.
      */
    def encode(w: Int, h: Int, rgb: Int => (Int, Int, Int)): Array[Byte] = {
      val stride = rowSize(w)
      val dataSize = stride * h
      val fileSize = 54 + dataSize
      val out = new Array[Byte](fileSize)
      def p16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xFF).toByte
        out(off + 1) = ((v >> 8) & 0xFF).toByte
      }
      def p32(off: Int, v: Int): Unit = {
        p16(off, v & 0xFFFF); p16(off + 2, (v >>> 16) & 0xFFFF)
      }
      out(0) = 'B'.toByte; out(1) = 'M'.toByte
      p32(2, fileSize); p32(10, 54) // pixel data offset
      p32(14, 40) // BITMAPINFOHEADER size
      p32(18, w); p32(22, h) // positive height = bottom-up
      p16(26, 1); p16(28, 24) // one plane, 24 bpp
      p32(30, 0) // BI_RGB (uncompressed)
      p32(34, dataSize)
      var y = 0
      while (y < h) {
        val rowOff = 54 + (h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val (r, g, b) = rgb(y * w + x)
          val o = rowOff + x * 3
          out(o) = b.toByte; out(o + 1) = g.toByte; out(o + 2) = r.toByte
          x += 1
        }
        y += 1
      }
      out
    }

    /** Decode to (width, height, packed 0xRRGGBB row-major top-down). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
      require(bytes.length >= 54 && bytes(0) == 'B'.toByte &&
        bytes(1) == 'M'.toByte, "not a BMP")
      def g16(off: Int): Int =
        (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
      def g32(off: Int): Int = g16(off) | (g16(off + 2) << 16)
      val dataOff = g32(10)
      val w = g32(18)
      val h = g32(22)
      require(w > 0 && h > 0, "top-down or degenerate BMP unsupported")
      require(g16(28) == 24 && g32(30) == 0, "only 24-bit uncompressed")
      val stride = rowSize(w)
      require(bytes.length >= dataOff + stride * h, "truncated BMP")
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val rowOff = dataOff + (h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val o = rowOff + x * 3
          px(y * w + x) = ((bytes(o + 2) & 0xFF) << 16) |
            ((bytes(o + 1) & 0xFF) << 8) | (bytes(o) & 0xFF)
          x += 1
        }
        y += 1
      }
      (w, h, px)
    }
  }

  /** REAL audio codec (no stub): 16-bit PCM RIFF/WAVE, encoded and
    * decoded in pure Scala — the audio twin of [[BmpCodec]]. RIFF
    * header + `fmt ` chunk (PCM, 16-bit) + `data` chunk, little-endian
    * throughout, interleaved channel frames. The decoder WALKS the
    * chunk list (skipping unknown chunks, honoring the odd-length pad
    * byte) rather than assuming the 44-byte canonical layout — the
    * classic WAV parsing trap. mm04 hash-verifies the full
    * encode→decode→decimate→encode→decode chain against an oracle that
    * recomputes sample sums analytically from the synthesis formula.
    */
  object WavCodec extends Serializable {

    /** Encode interleaved 16-bit samples (`samples.length` must be a
      * multiple of `channels`).
      */
    def encode(sampleRate: Int, channels: Int,
        samples: Array[Short]): Array[Byte] = {
      require(channels > 0 && sampleRate > 0, "bad wav params")
      require(samples.length % channels == 0,
        "samples not a whole number of frames")
      val dataLen = samples.length * 2
      val out = new Array[Byte](44 + dataLen)
      def p16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xFF).toByte
        out(off + 1) = ((v >> 8) & 0xFF).toByte
      }
      def p32(off: Int, v: Int): Unit = {
        p16(off, v & 0xFFFF); p16(off + 2, (v >>> 16) & 0xFFFF)
      }
      def tag(off: Int, s: String): Unit = {
        var i = 0
        while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
      }
      tag(0, "RIFF"); p32(4, 36 + dataLen); tag(8, "WAVE")
      tag(12, "fmt "); p32(16, 16)
      p16(20, 1) // PCM
      p16(22, channels)
      p32(24, sampleRate)
      p32(28, sampleRate * channels * 2) // byte rate
      p16(32, channels * 2) // block align
      p16(34, 16) // bits per sample
      tag(36, "data"); p32(40, dataLen)
      var i = 0
      while (i < samples.length) { p16(44 + i * 2, samples(i) & 0xFFFF); i += 1 }
      out
    }

    /** Decode to (sampleRate, channels, interleaved samples). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Short]) = {
      def g16(off: Int): Int =
        (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
      def g32(off: Int): Int = g16(off) | (g16(off + 2) << 16)
      def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
      require(bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
        "not a RIFF/WAVE file")
      var off = 12
      var sr = -1; var ch = -1
      var samples: Array[Short] = null
      while (off + 8 <= bytes.length) {
        val id = tag(off)
        val len = g32(off + 4)
        require(off + 8 + len <= bytes.length, s"truncated chunk $id")
        id match {
          case "fmt " =>
            require(g16(off + 8) == 1, "only PCM (format 1) supported")
            ch = g16(off + 10)
            sr = g32(off + 12)
            require(g16(off + 22) == 16, "only 16-bit samples supported")
          case "data" =>
            samples = new Array[Short](len / 2)
            var i = 0
            while (i < samples.length) {
              samples(i) = g16(off + 8 + i * 2).toShort
              i += 1
            }
          case _ => () // LIST/INFO/cue — skip
        }
        off += 8 + len + (len & 1) // chunks are padded to even length
      }
      require(sr > 0 && ch > 0, "missing fmt chunk")
      require(samples != null, "missing data chunk")
      require(samples.length % ch == 0, "data not whole frames")
      (sr, ch, samples)
    }
  }

  /** Synthesize a media corpus from the documents table: deterministic
    * binary blobs (header + text bytes) standing in for
    * `spark.read.format("binaryFile")` on a real media lake.
    */
  def synthesizeMedia(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.queries.Catalog.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val payload = text.getBytes("UTF-8")
        val bytes = new Array[Byte](16 + payload.length)
        StubCodec.writeHeader(bytes,
          w = (64 + id % 192).toInt, h = (64 + (id * 7) % 192).toInt,
          frames = (1 + id % 30).toInt)
        System.arraycopy(payload, 0, bytes, 16, payload.length)
        val mime = (id % 3) match {
          case 0 => "image/png"
          case 1 => "audio/wav"
          case _ => "video/mp4"
        }
        MediaRecord(id, s"synth://media/$id", mime, bytes)
      }
  }

  final case class PixelStats(media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Synthesize a REAL BMP image per document, pixels derived
    * deterministically from the text: for row-major pixel idx of a
    * (8 + id%24) × (8 + id·7%24) image with n = char-length(text),
    *
    *   ch = codepoint(text[idx mod n]),   r = ch mod 256,
    *   g  = (idx·31 + id) mod 256,        b = (idx + r) mod 256.
    *
    * The formula is computable from the raw text alone, which is what
    * lets the mm02 oracle verify the whole encode→decode round trip
    * without ever seeing a byte of the image.
    */
  def synthesizeBmp(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.queries.Catalog.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val n = text.length
        val w = (8 + id % 24).toInt
        val h = (8 + (id * 7) % 24).toInt
        val bytes = BmpCodec.encode(w, h, { idx =>
          val ch = if (n == 0) 0 else text.charAt(idx % n).toInt
          val r = ch % 256
          val g = ((idx.toLong * 31 + id) % 256).toInt
          val b = (idx + r) % 256
          (r, g, b)
        })
        MediaRecord(id, s"synth://bmp/$id", "image/bmp", bytes)
      }
  }

  /** Synthesize a REAL 16-bit PCM WAV per document, samples derived
    * deterministically from the text: channels = 1 + id%2 (mono and
    * stereo both exercised), sample rate = 8000 + (id%4)·4000, frames
    * = 32 + id%96, and interleaved sample i of a doc with
    * n = char-length(text):
    *
    *   cp = codepoint(text[i mod n]) mod 256   (0 when n = 0)
    *   v  = (cp·131 + i·7 + id) mod 65536 − 32768
    *
    * Like [[synthesizeBmp]]'s pixel formula, v is computable from the
    * raw text alone — the mm04 oracle re-derives every sample without
    * seeing a byte of audio.
    */
  def synthesizeWav(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.queries.Catalog.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val n = text.length
        val channels = (1 + id % 2).toInt
        val sampleRate = (8000 + (id % 4) * 4000).toInt
        val frames = (32 + id % 96).toInt
        val samples = new Array[Short](frames * channels)
        var i = 0
        while (i < samples.length) {
          val cp = if (n == 0) 0L else (text.charAt(i % n).toInt % 256).toLong
          samples(i) = ((cp * 131L + i * 7L + id) % 65536L - 32768L).toShort
          i += 1
        }
        MediaRecord(id, s"synth://wav/$id", "audio/wav",
          WavCodec.encode(sampleRate, channels, samples))
      }
  }

  final case class AudioStats(media_id: Long, sample_rate: Int,
      channels: Int, n_frames: Int, sum_samples: Long, sum_squares: Long)

  /** Batched partition-local audio statistics over real decoded WAVs:
    * exact integer sample sums (sum and sum-of-squares — the integer
    * core of DC offset + RMS energy), dims from the fmt chunk. Binary
    * column projected away after the decode.
    */
  def audioStats(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (sr, ch, samples) = WavCodec.decode(rec.content)
          var s = 0L; var sq = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            s += v; sq += v * v
            i += 1
          }
          AudioStats(rec.media_id, sr, ch, samples.length / ch, s, sq)
        }
      }
    }
  }

  /** REAL binary→binary audio decimation through the WAV codec: decode,
    * keep every even-indexed FRAME (all channels of frame 2f), re-encode
    * at the same rate — the audio twin of [[resizeBmpHalf]]. Output
    * frame count ⌈frames/2⌉; each surviving sample keeps its original
    * value, so the mm04 oracle evaluates the synthesis formula at the
    * decimated source indices i = 2·(j div ch)·ch + (j mod ch).
    */
  def decimateWavHalf(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (sr, ch, samples) = WavCodec.decode(rec.content)
          val framesOut = (samples.length / ch + 1) / 2
          val out = new Array[Short](framesOut * ch)
          var j = 0
          while (j < out.length) {
            out(j) = samples(2 * (j / ch) * ch + j % ch)
            j += 1
          }
          rec.copy(content = WavCodec.encode(sr, ch, out))
        }
      }
    }
  }

  final case class AudioBlockEnergy(media_id: Long, blk: Int,
      energy: Long)

  /** Per-BLOCK integer energy over real decoded WAVs: block b covers
    * frames [b·blockFrames, (b+1)·blockFrames) across all channels,
    * energy = Σ v² as exact integers (the last block may be partial).
    * The frame→block fold happens inside the batched decode loop, so
    * the binary never leaves the partition and the emitted frame is
    * (media_id, blk, energy) — blocks-scale, not samples-scale.
    */
  def audioBlockEnergies(media: Dataset[MediaRecord],
      blockFrames: Int = 8,
      batchSize: Int = 64): Dataset[AudioBlockEnergy] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { rec =>
          val (_, ch, samples) = WavCodec.decode(rec.content)
          val frames = samples.length / ch
          val nb = (frames + blockFrames - 1) / blockFrames
          val acc = new Array[Long](nb)
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            acc((i / ch) / blockFrames) += v * v
            i += 1
          }
          (0 until nb).map(b => AudioBlockEnergy(rec.media_id, b, acc(b)))
        }
      }
    }
  }

  final case class BlockBandPower(media_id: Long, blk: Int, bidx: Int,
      power: Long)

  /** Per-BLOCK integer Goertzel band powers over channel 0 — mm09's
    * five integer-coefficient bands (2cos ω ∈ {2,1,0,−1,−2}: DC,
    * fs/6, fs/4, fs/3, Nyquist) evaluated per 8-frame block instead
    * of per VAD segment: the (time × band) energy GRID a
    * constellation fingerprinter (mm14) picks its landmarks from.
    * Exact integer recurrence s_k = x_k + c·s_{k-1} − s_{k-2};
    * power = s₁² + s₂² − c·s₁·s₂ ≥ 0. The fold runs inside the
    * batched decode, so only grid-scale rows (≤ nblocks·5 per clip)
    * leave the partition.
    */
  def audioBlockGoertzel(media: Dataset[MediaRecord],
      blockFrames: Int = 8,
      batchSize: Int = 64): Dataset[BlockBandPower] = {
    val spark = media.sparkSession
    import spark.implicits._
    val cs = Array(2L, 1L, 0L, -1L, -2L)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { rec =>
          val (_, ch, samples) = WavCodec.decode(rec.content)
          val frames = samples.length / ch
          val nb = (frames + blockFrames - 1) / blockFrames
          (0 until nb).flatMap { b =>
            val lo = b * blockFrames
            val hi = math.min(lo + blockFrames, frames)
            cs.indices.map { bi =>
              val c = cs(bi)
              var s1 = 0L
              var s2 = 0L
              var f = lo
              while (f < hi) {
                val s0 = samples(f * ch).toLong + c * s1 - s2
                s2 = s1; s1 = s0
                f += 1
              }
              BlockBandPower(rec.media_id, b, bi,
                s1 * s1 + s2 * s2 - c * s1 * s2)
            }
          }
        }
      }
    }
  }

  /** Plant near-duplicate clips for mm14's detector to find (x44's
    * synthesize→detect discipline: an all-green dedup proves
    * nothing): for every clip with media_id % everyMod == 0 and at
    * least minFrames frames, emit a SECOND clip — id + idOffset —
    * whose content is the original decoded, the first `shiftFrames`
    * frames dropped, re-encoded. A pure time shift: exactly what a
    * re-upload with a trimmed lead-in looks like, and exactly the
    * transformation constellation (time-DELTA) fingerprints are
    * invariant to where absolute-time hashes are not.
    */
  def plantShiftedDups(media: Dataset[MediaRecord],
      everyMod: Long = 29, shiftFrames: Int = 16, minFrames: Int = 48,
      idOffset: Long = 1000000L,
      batchSize: Int = 64): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.media_id % everyMod == 0).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { rec =>
          val (sr, ch, samples) = WavCodec.decode(rec.content)
          val frames = samples.length / ch
          if (frames < minFrames) None
          else {
            val out = new Array[Short]((frames - shiftFrames) * ch)
            System.arraycopy(samples, shiftFrames * ch, out, 0,
              out.length)
            Some(rec.copy(media_id = rec.media_id + idOffset,
              uri = rec.uri + "#shifted",
              content = WavCodec.encode(sr, ch, out)))
          }
        }
      }
    }
  }

  final case class SegmentBandPower(media_id: Long, seg_start: Int,
      seg_end: Int, band: String, power: Long)

  /** Integer Goertzel band energies per VAD segment — mm07's consumer:
    * for each active-speech segment (same block-energy + adaptive-gate
    * + islands derivation as [[audioBlockEnergies]]→mm07, here folded
    * inside the decode so sample arrays never leave the partition),
    * the Goertzel power |X(ω)|² of the segment's channel-0 samples at
    * the FIVE frequencies whose Goertzel coefficient 2·cos(ω) is an
    * exact integer — DC (c=2), fs/6 (c=1), fs/4 (c=0), fs/3 (c=−1),
    * Nyquist (c=−2). Integer coefficients make the recurrence
    * s₀ = v + c·s₁ − s₂ and the power s₁² + s₂² − c·s₁·s₂ EXACT 64-bit
    * integer arithmetic end-to-end (no cos() doubles), so the DuckDB
    * oracle re-derives every value bit-for-bit through the pinned
    * synthesis formula — a portable coarse spectral profile (the
    * energy-vs-band shape VAD consumers use to separate tonal speech
    * from broadband noise). The analysis window is the segment's first
    * N = 32 frames (Goertzel's classic fixed-N form: N sets the
    * frequency resolution, and the c = ±2 recurrences are marginally
    * stable — state grows O(N²·32768), so fixed N bounds the integer
    * dynamic range: s₁ ≤ (N²/2)·32768 ≈ 1.7·10⁷, power ≤ ~10¹⁵,
    * comfortably inside Long; an unbounded segment window measurably
    * overflows 64-bit at DC on long high-energy segments). Emits
    * segments × 5 rows per clip; blocks/segment-scale data leaves the
    * partition, never samples.
    */
  def audioSegmentGoertzel(media: Dataset[MediaRecord],
      blockFrames: Int = 8,
      batchSize: Int = 64): Dataset[SegmentBandPower] = {
    val spark = media.sparkSession
    import spark.implicits._
    val bands = Seq(("dc", 2L), ("fs6", 1L), ("fs4", 0L), ("fs3", -1L),
      ("nyq", -2L))
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { rec =>
          val (_, ch, samples) = WavCodec.decode(rec.content)
          val frames = samples.length / ch
          val nb = (frames + blockFrames - 1) / blockFrames
          val acc = new Array[Long](nb)
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            acc((i / ch) / blockFrames) += v * v
            i += 1
          }
          val te = acc.sum
          val active = (0 until nb).filter(b => acc(b) * nb > te)
          // gaps-and-islands over the sorted active blocks (mm07's
          // blk − row_number trick, imperatively)
          val segs = active.foldLeft(List.empty[(Int, Int)]) {
            case ((s0, e0) :: rest, b) if b == e0 + 1 =>
              (s0, b) :: rest
            case (acc0, b) => (b, b) :: acc0
          }.reverse
          segs.flatMap { case (s0, e0) =>
            val fStart = s0 * blockFrames
            val fEnd = math.min(fStart + 32,
              math.min((e0 + 1) * blockFrames, frames))
            bands.map { case (name, c) =>
              var s1 = 0L
              var s2 = 0L
              var f = fStart
              while (f < fEnd) {
                val v = samples(f * ch).toLong // channel 0
                val nxt = v + c * s1 - s2
                s2 = s1
                s1 = nxt
                f += 1
              }
              SegmentBandPower(rec.media_id, s0, e0, name,
                s1 * s1 + s2 * s2 - c * s1 * s2)
            }
          }
        }
      }
    }
  }

  /** REAL video container (the demux is real; only the pixel synthesis
    * is the deterministic stand-in): a minimal packetized stream — a
    * 16-byte [[StubCodec]]-layout header (magic, width, height, frame
    * count) followed by `frame count` complete [[BmpCodec]] images
    * back-to-back. The demuxer WALKS the packet list, reading each
    * frame's length from the BMP's own little-endian file-size field
    * (bytes 2-5) — variable-length packet walking, the discipline a
    * real MP4/MKV demux needs — rather than assuming a fixed frame
    * stride. Packets are sliced without decoding, so a frame-sampling
    * consumer pays pixel-decode cost only for the frames it keeps.
    */
  object VideoContainer extends Serializable {

    def mux(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val out = new Array[Byte](16 + frames.iterator.map(_.length).sum)
      StubCodec.writeHeader(out, w, h, frames.length)
      var off = 16
      frames.foreach { f =>
        System.arraycopy(f, 0, out, off, f.length); off += f.length
      }
      out
    }

    /** Demux to (width, height, undecoded frame packets). */
    def demux(bytes: Array[Byte]): (Int, Int, IndexedSeq[Array[Byte]]) = {
      val (w, h, nf) = StubCodec.decodeHeader(bytes)
      def g16(off: Int): Int =
        (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
      var off = 16
      val frames = (0 until nf).map { _ =>
        require(off + 6 <= bytes.length && bytes(off) == 'B'.toByte &&
          bytes(off + 1) == 'M'.toByte, s"bad frame packet at offset $off")
        val len = g16(off + 2) | (g16(off + 4) << 16)
        require(len > 6 && off + len <= bytes.length,
          s"truncated frame packet at offset $off")
        val f = java.util.Arrays.copyOfRange(bytes, off, off + len)
        off += len
        f
      }
      require(off == bytes.length, "trailing bytes after the last frame")
      (w, h, frames)
    }
  }

  /** Synthesize a REAL multi-frame video per document: nf = 2 + id%10
    * frames of a (4 + id%8) × (4 + id·3%8) raster, each frame a real
    * [[BmpCodec]] image muxed into the [[VideoContainer]] packet
    * stream. Pixel (frame f, row-major idx) with n = char-length(text):
    *
    *   cp = codepoint(text[(f + idx) mod n])   (0 when n = 0)
    *   r = cp mod 256,  g = (idx·31 + f·7 + id) mod 256,
    *   b = (idx + f + r) mod 256
    *
    * — computable from the raw text alone, so the mm05 oracle verifies
    * the whole mux → demux → frame-sample → per-frame BMP decode chain
    * without seeing a byte of video.
    */
  def synthesizeVideo(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.queries.Catalog.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val n = text.length
        val w = (4 + id % 8).toInt
        val h = (4 + (id * 3) % 8).toInt
        val nf = (2 + id % 10).toInt
        val frames = (0 until nf).map { f =>
          BmpCodec.encode(w, h, { idx =>
            val cp = if (n == 0) 0 else text.charAt((f + idx) % n).toInt
            val r = cp % 256
            val g = ((idx.toLong * 31 + f * 7 + id) % 256).toInt
            val b = (idx + f + r) % 256
            (r, g, b)
          })
        }
        MediaRecord(id, s"synth://video/$id", "video/x-graft",
          VideoContainer.mux(w, h, frames))
      }
  }

  final case class VideoStats(media_id: Long, width: Int, height: Int,
      n_frames: Int, n_sampled: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  final case class FrameEnergy(media_id: Long, fr: Int, energy: Long)

  /** Per-frame channel-sum energies through the real demux + decode:
    * one (media_id, frame, Σ(r+g+b)) row per frame leaves the decode
    * partition — frame-scale, never pixel-scale (audioBlockEnergies'
    * discipline for video). Consumers run clip-bounded windows on the
    * result (shot-boundary detection mm08).
    */
  def videoFrameEnergies(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[FrameEnergy] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { rec =>
          val (w, h, packets) = VideoContainer.demux(rec.content)
          packets.indices.map { f =>
            val (fw, fh, px) = BmpCodec.decode(packets(f))
            require(fw == w && fh == h, "frame dims disagree with header")
            var e = 0L
            var i = 0
            while (i < px.length) {
              val p = px(i)
              e += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
              i += 1
            }
            FrameEnergy(rec.media_id, f, e)
          }
        }
      }
    }
  }

  /** Batched partition-local frame sampling: demux the container, keep
    * every `everyNth`-th frame (0, n, 2n, …), BMP-decode ONLY the kept
    * frames (unsampled packets are skipped by length — the point of
    * keyframe sampling when video dominates a 100 TB lake), and sum the
    * decoded channels. Binary column projected away after the decode.
    */
  def sampleFrameStats(media: Dataset[MediaRecord], everyNth: Int = 3,
      batchSize: Int = 64): Dataset[VideoStats] = {
    require(everyNth > 0, "everyNth must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, packets) = VideoContainer.demux(rec.content)
          var sr = 0L; var sg = 0L; var sb = 0L; var ns = 0
          var f = 0
          while (f < packets.length) {
            val (fw, fh, px) = BmpCodec.decode(packets(f))
            require(fw == w && fh == h, "frame dims disagree with header")
            var i = 0
            while (i < px.length) {
              val p = px(i)
              sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
              i += 1
            }
            ns += 1
            f += everyNth
          }
          VideoStats(rec.media_id, w, h, packets.length, ns, sr, sg, sb)
        }
      }
    }
  }

  /** Batched partition-local pixel statistics over real decoded BMPs:
    * per-channel sums + dimensions. Binary column projected away after
    * the decode; exact integer sums (no float accumulation order).
    */
  def pixelStats(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[PixelStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, px) = BmpCodec.decode(rec.content)
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
            i += 1
          }
          PixelStats(rec.media_id, w, h, sr, sg, sb)
        }
      }
    }
  }

  final case class SobelStats(media_id: Long, width: Int, height: Int,
      n_interior: Long, n_edge: Long, sum_mag2: Long)

  /** Batched Sobel gradient edge census over real decoded BMPs — the
    * image FEATURE-extraction rung beyond channel sums (pixelStats)
    * and perceptual hashing (imageAHash): per image, the 3×3 Sobel
    * operator runs on the integer luma plane (BT.601 ×1000 weights:
    * 299r + 587g + 114b — no float enters), and the census reports
    * interior-pixel count, edge-pixel count (squared gradient
    * magnitude ≥ `t2`, so no sqrt either), and the exact Σ|∇|².
    * Magnitudes: luma ≤ 255 000, |gx| ≤ 4·luma, mag² ≤ 2.1e12,
    * per-image sum ≤ ~2e15 — exact in int64 end-to-end. Only
    * image-scale census rows leave the partition, never pixels.
    */
  def imageSobel(media: Dataset[MediaRecord], t2: Long,
      batchSize: Int = 64): Dataset[SobelStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, px) = BmpCodec.decode(rec.content)
          def lum(i: Int): Long = {
            val p = px(i)
            299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) +
              114L * (p & 0xFF)
          }
          var ni = 0L; var ne = 0L; var sm = 0L
          var y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              val i = y * w + x
              val gx = (lum(i - w + 1) + 2 * lum(i + 1) + lum(i + w + 1)) -
                (lum(i - w - 1) + 2 * lum(i - 1) + lum(i + w - 1))
              val gy = (lum(i + w - 1) + 2 * lum(i + w) + lum(i + w + 1)) -
                (lum(i - w - 1) + 2 * lum(i - w) + lum(i - w + 1))
              val m2 = gx * gx + gy * gy
              sm += m2
              if (m2 >= t2) ne += 1
              ni += 1
              x += 1
            }
            y += 1
          }
          SobelStats(rec.media_id, w, h, ni, ne, sm)
        }
      }
    }
  }

  final case class ImageHash(media_id: Long, ahash: Long)

  /** Batched perceptual average-hash (aHash) over real decoded BMPs —
    * the image-side analog of SimHash: images that look alike get
    * nearby 64-bit hashes, so image NEAR-dup detection becomes the
    * same band-bucketed pipeline as text near-dup (d04), never an
    * image×image comparison. All-integer and deterministic, hence
    * oracle-hashable:
    *   - nearest-neighbor resample to 8×8: source pixel for cell
    *     (x, y) is (x·w div 8, y·h div 8) — floor, matching the mm03
    *     NN convention;
    *   - integer grayscale (r+g+b) div 3;
    *   - threshold each cell against the integer mean of all 64 cells
    *     (sum div 64), strict >;
    *   - bit i (little-endian, i = y·8+x) set iff cell i is above
    *     mean.
    * aHash is brightness-shift tolerant by construction (the mean
    * moves with any constant offset), which is exactly the invariance
    * needed here: duplicate TEXTS synthesize images whose g-channel
    * differs by a near-constant id offset.
    */
  def aHash64(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[ImageHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, px) = BmpCodec.decode(rec.content)
          val gray = new Array[Int](64)
          var sum = 0
          var i = 0
          while (i < 64) {
            val sx = (i % 8) * w / 8
            val sy = (i / 8) * h / 8
            val p = px(sy * w + sx)
            val g = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
            gray(i) = g; sum += g; i += 1
          }
          val mean = sum / 64
          var hash = 0L
          i = 0
          while (i < 64) {
            if (gray(i) > mean) hash |= (1L << i)
            i += 1
          }
          ImageHash(rec.media_id, hash)
        }
      }
    }
  }

  final case class OtsuStats(media_id: Long, width: Int, height: Int,
      n_px: Long, otsu_t: Long, n_bg: Long, n_fg: Long,
      mu_bg: Long, mu_fg: Long, sep_num: Long, sep_den: Long)

  /** Batched Otsu binarization threshold per image — the segmentation
    * primitive above mm10's edge detector: choose the gray threshold t
    * maximizing the between-class variance of the (r+g+b) div 3 plane
    * (the aHash64 gray convention). All-integer and EXACT: with
    * W0/S0 the count/gray-sum at or below t and N/S the totals,
    * maximizing sigma_B^2 is maximizing a^2/d for a = S0*(N-W0) -
    * (S-S0)*W0 and d = W0*(N-W0); candidates are compared by
    * cross-multiplication (a^2*d' vs a'^2*d needs ~1.3e22, beyond
    * int64 — BigInt here, HUGEINT in the oracle), ties keep the
    * smallest t, and degenerate thresholds (W0 = 0 or N) are skipped —
    * so the argmax always lands on a PRESENT gray level and the DuckDB
    * replay (histogram + cumulative windows + an ordered list_reduce
    * argmax over present levels) is value-identical. Per image the
    * work is one pixel pass + 256 fold steps; only an 11-field census
    * row leaves the partition.
    */
  /** The (r+g+b) div 3 gray plane of a decoded pixel array — the
    * aHash64/imageOtsu gray convention, one definition.
    */
  private def grayPlane(px: Array[Int]): Array[Int] = {
    val g = new Array[Int](px.length)
    var i = 0
    while (i < px.length) {
      val p = px(i)
      g(i) = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
      i += 1
    }
    g
  }

  /** Otsu argmax over a 256-bin gray histogram (exact cross-multiplied
    * a²/d comparison, smallest-t ties, degenerate splits skipped).
    * Returns (t, a, d, w0, s0), t = -1 when no valid split exists.
    */
  private def otsuArgmax(hist: Array[Long], n: Long,
      s: Long): (Long, Long, Long, Long, Long) = {
    var bestT = -1L; var bestA = 0L; var bestD = 1L
    var bestW0 = 0L; var bestS0 = 0L
    var w0 = 0L; var s0 = 0L
    var t = 0
    while (t < 256) {
      w0 += hist(t); s0 += t * hist(t)
      if (w0 > 0 && w0 < n) {
        val a = s0 * (n - w0) - (s - s0) * w0
        val dd = w0 * (n - w0)
        val better =
          if (bestT < 0) true
          else BigInt(a) * BigInt(a) * BigInt(bestD) >
            BigInt(bestA) * BigInt(bestA) * BigInt(dd)
        if (better) {
          bestT = t; bestA = a; bestD = dd; bestW0 = w0; bestS0 = s0
        }
      }
      t += 1
    }
    (bestT, bestA, bestD, bestW0, bestS0)
  }

  def imageOtsu(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[OtsuStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, px) = BmpCodec.decode(rec.content)
          val gray = grayPlane(px)
          val hist = new Array[Long](256)
          var i = 0
          while (i < gray.length) { hist(gray(i)) += 1; i += 1 }
          val n = px.length.toLong
          var s = 0L
          var gi = 0
          while (gi < 256) { s += gi * hist(gi); gi += 1 }
          val (bestT, bestA, bestD, bestW0, bestS0) = otsuArgmax(hist, n, s)
          if (bestT < 0)
            OtsuStats(rec.media_id, w, h, n, -1L, 0L, 0L, 0L, 0L, 0L, 0L)
          else
            OtsuStats(rec.media_id, w, h, n, bestT, bestW0, n - bestW0,
              bestS0 / bestW0, (s - bestS0) / (n - bestW0),
              bestA * bestA, bestD)
        }
      }
    }
  }

  final case class EulerStats(media_id: Long, width: Int, height: Int,
      otsu_t: Long, n_fg: Long, n_edges: Long, n_quads: Long, euler: Long)

  /** Euler characteristic census of the Otsu-thresholded foreground —
    * the topology rung above mm11 (scikit-image's `euler_number`):
    * over the 4-connectivity cubical complex of fg = gray > t,
    * χ = V − E + F with V = fg pixels, E = horizontally- plus
    * vertically-adjacent fg pairs, F = 2×2 all-fg blocks; equal to
    * #4-connected components − #8-connected holes, EXACT and
    * row-local — no iteration, unlike a label-propagation component
    * count, so the oracle replays it with three adjacency self-joins
    * on the analytic gray plane. One pixel pass + one census row per
    * image leaves the partition.
    */
  def imageEuler(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[EulerStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, px) = BmpCodec.decode(rec.content)
          val gray = grayPlane(px)
          val hist = new Array[Long](256)
          var i = 0
          while (i < gray.length) { hist(gray(i)) += 1; i += 1 }
          val n = px.length.toLong
          var s = 0L
          var gi = 0
          while (gi < 256) { s += gi * hist(gi); gi += 1 }
          val (t, _, _, _, _) = otsuArgmax(hist, n, s)
          if (t < 0)
            // degenerate (single gray level, no valid split): EMPTY
            // foreground, matching imageOtsu's n_fg = 0 sentinel —
            // `gray > -1` would instead classify every pixel fg
            EulerStats(rec.media_id, w, h, -1L, 0L, 0L, 0L, 0L)
          else {
            def fg(idx: Int): Boolean = gray(idx) > t
            var v = 0L; var eh = 0L; var ev = 0L; var q = 0L
            i = 0
            while (i < gray.length) {
              if (fg(i)) {
                v += 1
                val notLastCol = i % w != w - 1
                val notLastRow = i + w < gray.length
                if (notLastCol && fg(i + 1)) eh += 1
                if (notLastRow && fg(i + w)) ev += 1
                if (notLastCol && notLastRow && fg(i + 1) && fg(i + w) &&
                  fg(i + w + 1)) q += 1
              }
              i += 1
            }
            EulerStats(rec.media_id, w, h, t, v, eh + ev, q,
              v - (eh + ev) + q)
          }
        }
      }
    }
  }

  final case class MomentStats(media_id: Long, width: Int, height: Int,
      otsu_t: Long, m00: Long, m10: Long, m01: Long, m11: Long,
      m20: Long, m02: Long, cx_milli: Long, cy_milli: Long,
      cov_xx: Long, cov_yy: Long, cov_xy: Long)

  /** Integer-exact image moments of the Otsu foreground — the
    * region-descriptor rung above mm12 (scikit-image regionprops'
    * moment set): raw moments m_pq = Σ x^p y^q over fg pixels up to
    * order 2, the milli-scaled centroid (1000·m10 div m00), and the
    * m00-scaled central second moments cov_xx = m20·m00 − m10²,
    * cov_yy = m02·m00 − m01², cov_xy = m11·m00 − m10·m01 (the
    * covariance numerators orientation/eccentricity derive from — the
    * division and atan2 are left to the consumer so every emitted
    * field stays an exact int64; magnitudes ≤ 961·31²·961 ≈ 9e8).
    * Row-local one-pass per image, census rows only.
    */
  def imageMoments(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[MomentStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, px) = BmpCodec.decode(rec.content)
          val gray = grayPlane(px)
          val hist = new Array[Long](256)
          var i = 0
          while (i < gray.length) { hist(gray(i)) += 1; i += 1 }
          val n = px.length.toLong
          var s = 0L
          var gi = 0
          while (gi < 256) { s += gi * hist(gi); gi += 1 }
          val (t, _, _, _, _) = otsuArgmax(hist, n, s)
          var m00 = 0L; var m10 = 0L; var m01 = 0L
          var m11 = 0L; var m20 = 0L; var m02 = 0L
          i = 0
          // t < 0 (degenerate single-level image) ⇒ EMPTY foreground
          // (skip the pixel loop entirely), consistent with
          // imageOtsu's n_fg = 0 and imageEuler's empty census —
          // `gray > -1` would instead classify every pixel fg
          while (t >= 0 && i < gray.length) {
            if (gray(i) > t) {
              val x = (i % w).toLong
              val y = (i / w).toLong
              m00 += 1; m10 += x; m01 += y
              m11 += x * y; m20 += x * x; m02 += y * y
            }
            i += 1
          }
          MomentStats(rec.media_id, w, h, t, m00, m10, m01, m11, m20,
            m02,
            if (m00 > 0) 1000L * m10 / m00 else -1L,
            if (m00 > 0) 1000L * m01 / m00 else -1L,
            m20 * m00 - m10 * m10,
            m02 * m00 - m01 * m01,
            m11 * m00 - m10 * m01)
        }
      }
    }
  }

  /** Batched partition-local metadata decode. `batchSize` models the
    * vectorized-decode batch (mapInPandas' batch shape): a real codec
    * initializes once per partition, then processes batches.
    */
  def decodeMeta(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // per-partition init happens HERE (codec/model handle, one per task)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (w, h, fr) = StubCodec.decodeHeader(r.content)
          MediaMeta(r.media_id, r.mime, w, h, fr, r.content.length.toLong)
        }
      }
    }
  }

  /** Batched feature extraction → Array[Float] embedding column,
    * ready for the [[graft.queries.TextOps.cosine]] similarity path.
    */
  def extractFeatures(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map(r => MediaFeature(r.media_id,
          StubCodec.extractFeature(r.content)))
      }
    }
  }

  /** REAL binary→binary nearest-neighbor 2× downsample through the BMP
    * codec: decode, keep every even-indexed row/column
    * (out(x,y) = in(2x,2y), out dims ⌈w/2⌉×⌈h/2⌉), re-encode. Because
    * each surviving pixel keeps its original channel values, the mm03
    * oracle can verify the FULL decode→subsample→encode→decode chain by
    * evaluating the synthesis formula at the subsampled source indices —
    * no image bytes ever cross to the oracle side.
    */
  def resizeBmpHalf(media: Dataset[MediaRecord],
      batchSize: Int = 64): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          val (w, h, px) = BmpCodec.decode(rec.content)
          val wo = (w + 1) / 2
          val ho = (h + 1) / 2
          val out = BmpCodec.encode(wo, ho, { idx =>
            val p = px((2 * (idx / wo)) * w + 2 * (idx % wo))
            ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
          })
          rec.copy(content = out)
        }
      }
    }
  }

  /** Binary→binary resize (thumbnailing). */
  def resizeAll(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(r =>
      r.copy(content = StubCodec.resize(r.content, w, h))))
  }

  /** Frame sampling: video records explode into every-nth-frame stubs
    * (real impl: container demux per partition). Output is one record
    * per sampled frame with a frame-index-suffixed id.
    */
  def sampleFrames(media: Dataset[MediaRecord],
      everyNth: Int = 10): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.mime.startsWith("video/")).mapPartitions(_.flatMap { r =>
      val (w, h, frames) = StubCodec.decodeHeader(r.content)
      (0 until frames by everyNth).map { f =>
        val frameBytes = new Array[Byte](16)
        StubCodec.writeHeader(frameBytes, w, h, 1)
        MediaRecord(r.media_id * 1000 + f, s"${r.uri}#frame=$f",
          "image/png", frameBytes)
      }
    })
  }

  /** Partition by payload bytes, not rows: media files are wildly
    * skewed (a 4 KB icon vs a 4 GB video); byte-budget partitioning is
    * what keeps 1000 executors evenly loaded.
    */
  def repartitionByBytes(media: Dataset[MediaRecord],
      targetBytesPerPartition: Long = 128L << 20): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    val totalBytes = media.map(_.content.length.toLong)
      .reduce(_ + _)
    val parts = math.max(1, (totalBytes / targetBytesPerPartition).toInt)
    media.repartition(parts, col("media_id"))
  }
}
