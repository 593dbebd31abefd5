package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded distinct-value census: the k distinct values with the
  * smallest h60 hashes, each with its EXACT row count, plus the total
  * row count. `hs` stays sorted ascending (the KMV min-set over value
  * hashes); `vs(i)`/`cs(i)` ride along with `hs(i)`.
  */
final case class ValueCensusBuf(
    hs: Array[Long], vs: Array[Double], cs: Array[Long], n: Long)

/** Distinct-value sampling sketch for quantiles (Gibbons,
  * "Distinct sampling for highly-accurate answers to distinct values
  * queries and event reports", VLDB'01 — the bottom-k-by-hash variant):
  * keep the k distinct VALUES whose h60 hashes are smallest — a
  * uniform sample of the distinct-value domain — and, because every
  * occurrence of a sampled value hashes into its existing slot, an
  * EXACT per-sampled-value row count. Counts are exact by
  * construction: a value is admitted on its FIRST arrival or never
  * (the bottom-k threshold only tightens), so no occurrence predates
  * its slot; merge sums disjoint partition counts.
  *
  * The weighted quantile of the sample is the plug-in estimate of the
  * data quantile; below k distinct values the sample IS the full
  * census and the estimate is EXACT (q75 interpolates over it with
  * Spark `percentile`'s semantics). Documented caveat (the q73
  * honesty rule): a heavy-hitter value that happens NOT to be sampled
  * takes its row mass with it — frequency skew widens the error
  * beyond the ~1/√k distinct-domain bound; x19's CMS heavy-hitters
  * is the patch (sample heavy values exactly, sketch the tail).
  *
  * Scale posture: state is ≤ k (hash, value, count) triples + one
  * long, with map-side partial aggregation — the shuffle carries ~24k
  * bytes per partition per group versus `percentile`'s unbounded
  * per-group value buffer (an OOM at 100 TB) or a full sort.
  *
  * The aggregator returns the raw census buffer — what a
  * per-partition / per-day sketch column stores (the mergeable form;
  * [[KmvMinSet]]'s analogue for quantiles). The catalog query (q75)
  * consumes it and runs the estimator arithmetic in DataFrame
  * expressions so the DuckDB oracle can re-derive it value for value.
  */
final class KmvValueCensusRaw(k: Int)
    extends Aggregator[(Long, Double), ValueCensusBuf, ValueCensusBuf] {
  require(k >= 2, "k must be >= 2")

  def zero: ValueCensusBuf = ValueCensusBuf(
    Array.empty[Long], Array.empty[Double], Array.empty[Long], 0L)

  def reduce(b: ValueCensusBuf, in: (Long, Double)): ValueCensusBuf = {
    val h = in._1
    val m = b.hs.length
    val pos = java.util.Arrays.binarySearch(b.hs, h)
    if (pos >= 0) {
      b.cs(pos) += 1 // sampled value: exact count (in-place is safe —
      // the buffer is a per-group JVM object between serializations)
      ValueCensusBuf(b.hs, b.vs, b.cs, b.n + 1)
    } else if (m == k && h > b.hs(m - 1)) {
      ValueCensusBuf(b.hs, b.vs, b.cs, b.n + 1) // over threshold
    } else {
      val ins = -pos - 1
      val outLen = math.min(k, m + 1)
      val hs = new Array[Long](outLen)
      val vs = new Array[Double](outLen)
      val cs = new Array[Long](outLen)
      System.arraycopy(b.hs, 0, hs, 0, ins)
      System.arraycopy(b.vs, 0, vs, 0, ins)
      System.arraycopy(b.cs, 0, cs, 0, ins)
      hs(ins) = h; vs(ins) = in._2; cs(ins) = 1L
      val tail = math.min(m - ins, outLen - ins - 1)
      System.arraycopy(b.hs, ins, hs, ins + 1, tail)
      System.arraycopy(b.vs, ins, vs, ins + 1, tail)
      System.arraycopy(b.cs, ins, cs, ins + 1, tail)
      ValueCensusBuf(hs, vs, cs, b.n + 1)
    }
  }

  def merge(a: ValueCensusBuf, b: ValueCensusBuf): ValueCensusBuf = {
    if (a.hs.isEmpty) return ValueCensusBuf(b.hs, b.vs, b.cs, a.n + b.n)
    if (b.hs.isEmpty) return ValueCensusBuf(a.hs, a.vs, a.cs, a.n + b.n)
    val cap = math.min(k, a.hs.length + b.hs.length)
    val hs = new Array[Long](cap)
    val vs = new Array[Double](cap)
    val cs = new Array[Long](cap)
    var i = 0; var j = 0; var o = 0
    while (o < cap && (i < a.hs.length || j < b.hs.length)) {
      if (j >= b.hs.length ||
          (i < a.hs.length && a.hs(i) < b.hs(j))) {
        hs(o) = a.hs(i); vs(o) = a.vs(i); cs(o) = a.cs(i); i += 1
      } else if (i >= a.hs.length || b.hs(j) < a.hs(i)) {
        hs(o) = b.hs(j); vs(o) = b.vs(j); cs(o) = b.cs(j); j += 1
      } else { // same hash = same value in both partitions: counts add
        hs(o) = a.hs(i); vs(o) = a.vs(i); cs(o) = a.cs(i) + b.cs(j)
        i += 1; j += 1
      }
      o += 1
    }
    val (rh, rv, rc) =
      if (o == cap) (hs, vs, cs)
      else (java.util.Arrays.copyOf(hs, o), java.util.Arrays.copyOf(vs, o),
        java.util.Arrays.copyOf(cs, o))
    ValueCensusBuf(rh, rv, rc, a.n + b.n)
  }

  def bufferEncoder: Encoder[ValueCensusBuf] =
    ExpressionEncoder[ValueCensusBuf]()

  def finish(b: ValueCensusBuf): ValueCensusBuf = b

  def outputEncoder: Encoder[ValueCensusBuf] =
    ExpressionEncoder[ValueCensusBuf]()
}
