package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** KMV (k-minimum-values) distinct-count sketch over 60-bit portable
  * hashes — the cross-engine-DETERMINISTIC approximate distinct
  * (q32's native HLL is rows-only because sketch internals are
  * engine-specific; this one's estimate is bit-reproducible by the
  * DuckDB oracle, which just sorts the same h60 values and takes the
  * k-th smallest).
  *
  * Estimator: with h = k-th smallest DISTINCT h60 value (uniform on
  * [0, 2^60)), distinct-count ≈ (k-1) · 2^60 / h, σ ≈ 1/√k
  * (Bar-Yossef et al., "Counting distinct elements in a data stream").
  *
  * Scale posture: the aggregation state is a bounded sorted array of
  * ≤ k longs with map-side partial aggregation — one tiny buffer per
  * partition merged on the driver-side single group, versus the full
  * data-sized shuffle a `distinct().orderBy().limit(k)` formulation
  * would pay. Insert is binary-search + memmove, and after warm-up
  * almost every row short-circuits on `h >= max`.
  */
sealed abstract class KmvBuffer[OUT](k: Int)
    extends Aggregator[Long, Array[Long], OUT] {
  require(k >= 2, "k must be >= 2")

  def zero: Array[Long] = Array.empty[Long]

  def reduce(buf: Array[Long], h: Long): Array[Long] = {
    val n = buf.length
    if (n == k && h >= buf(n - 1)) return buf
    val pos = java.util.Arrays.binarySearch(buf, h)
    if (pos >= 0) return buf // already present (KMV is over distincts)
    val ins = -pos - 1
    val outLen = math.min(k, n + 1)
    val out = new Array[Long](outLen)
    System.arraycopy(buf, 0, out, 0, ins)
    out(ins) = h
    System.arraycopy(buf, ins, out, ins + 1,
      math.min(n - ins, outLen - ins - 1))
    out
  }

  def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1.isEmpty) return b2
    if (b2.isEmpty) return b1
    val out = new Array[Long](math.min(k, b1.length + b2.length))
    var i = 0; var j = 0; var o = 0
    var last = Long.MinValue
    while (o < out.length && (i < b1.length || j < b2.length)) {
      val v =
        if (j >= b2.length || (i < b1.length && b1(i) <= b2(j))) {
          val x = b1(i); i += 1; x
        } else { val x = b2(j); j += 1; x }
      if (v != last) { out(o) = v; o += 1; last = v }
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }

  def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

final class KmvKthMin(k: Int) extends KmvBuffer[Long](k) {

  /** The k-th smallest distinct hash, or -1 when fewer than k distinct
    * values were seen (caller should fall back to exact counting —
    * below k the "sketch" IS the exact distinct set).
    */
  def finish(buf: Array[Long]): Long =
    if (buf.length < k) -1L else buf(k - 1)

  def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** The full sorted min-set, not just its k-th element — the MERGEABLE
  * form of the sketch. Two min-sets support the whole distinct-set
  * algebra without revisiting the data: union = k smallest of the
  * merged sets; intersection via the Jaccard fraction of the merged
  * min-set that appears in both inputs (Beyer et al., "On synopses for
  * distinct-value estimation under multiset operations", SIGMOD'07).
  * This is what per-partition / per-day sketch columns store so that
  * any ad-hoc slice union can be answered from sketches alone.
  */
final class KmvMinSet(k: Int) extends KmvBuffer[Array[Long]](k) {
  def finish(buf: Array[Long]): Array[Long] = buf
  def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
