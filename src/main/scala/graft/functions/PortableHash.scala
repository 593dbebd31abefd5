package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge}

/** The engine's single portable randomness primitive: every
  * pseudo-random quantity in the dedup/similarity operators (MinHash
  * permutations, SimHash bit hashes, winnowing gram hashes, LSH
  * hyperplane components) derives from
  *
  * {{{ h60(s) = int(hex_prefix_15(md5(utf8(s)))) }}}
  *
  * — the first 15 hex characters (60 bits) of the MD5 of the UTF-8
  * bytes, as a non-negative integer. MD5 is bit-identical across
  * engines, and 60 bits fit a signed 64-bit integer with headroom, so
  * a DuckDB oracle re-derives the exact same value with
  *
  * {{{ ('0x' || substr(md5(s), 1, 15))::BIGINT }}}
  *
  * and every downstream permutation is plain mod-p integer arithmetic
  * with p = 2^31-1: operands stay < 2^31, products < 2^62, so the math
  * is exact in any engine with signed 64-bit integers (DuckDB BIGINT
  * errors on overflow rather than wrapping — the mod-p reduction keeps
  * every intermediate in range). This is what makes d03/d04/x07/s02
  * hash-verifiable instead of rows-only: the oracle recomputes the
  * signatures from scratch, not from Spark's output.
  */
object PortableHash {

  /** 2^31 - 1 (Mersenne prime) — the permutation-hash modulus. */
  val P: Long = 2147483647L

  /** Polynomial fold base for band hashes (prime, ~2^20: acc*Base+v
    * stays < 2^52 before the mod).
    */
  val FoldBase: Long = 1000003L

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** h60 of raw bytes: first 8 digest bytes big-endian, low nibble
    * dropped (= integer value of the first 15 hex chars).
    */
  def h60(bytes: Array[Byte]): Long = {
    val d = md5Local.get().digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  def h60(s: String): Long =
    h60(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** MinHash permutation i is `x -> (permA(i)*x + permB(i)) mod P`.
    * The coefficients themselves derive from h60 of a documented tag,
    * so an oracle needs no out-of-band constant table.
    */
  def permA(i: Int): Long = h60("perm_a_" + i) % (P - 1) + 1
  def permB(i: Int): Long = h60("perm_b_" + i) % P

  /** Spark twin of [[h60Sql]]: one [[H60]] expression over
    * `c.cast(binary)` (a string's UTF-8 bytes, the coercion `md5`
    * applies). Bit-identical to the string chain
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` — md5's first
    * 15 hex characters ARE the digest's top 60 bits, which [[h60]]
    * reads straight from the bytes — without formatting, cutting and
    * re-parsing 32 hex characters per row (FunctionsSpec pins parity).
    */
  def h60col(c: Column): Column =
    GraftColumnBridge.column(H60(GraftColumnBridge.expression(c.cast("binary"))))

  /** DuckDB SQL fragment computing h60 of expression `x`. */
  def h60Sql(x: String): String =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT"
}
