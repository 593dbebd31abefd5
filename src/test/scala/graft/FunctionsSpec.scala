package graft

import graft.functions.ShingleMinHash
import graft.queries.TextOps
import org.apache.spark.sql.functions._

/** Custom-expression tests: the Catalyst ShingleMinHash must be
  * bit-identical to the composable higher-order form it replaces.
  */
class FunctionsSpec extends SparkFunSuite {

  test("ShingleMinHash matches the composable minhashSig(shingles3) form") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark group query row data slow small filter"),
      (3L, "a b c"), // exactly one shingle
      (4L, "one two"), // zero shingles
      (5L, "x y z x y z x y z")) // repeated shingles
      .toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val fast = docs.select(col("doc_id"),
      ShingleMinHash.shingleMinhash(toks).as("sig"))
    val slow = docs.select(col("doc_id"),
      TextOps.minhashSig(TextOps.shingles3(toks)).as("sig"))
    val f = fast.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val s = slow.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Long](1))))
    f.zip(s).foreach { case ((idF, sigF), (idS, sigSOpt)) =>
      assert(idF == idS)
      sigSOpt match {
        case Some(sigS) if !sigS.contains(null) =>
          assert(sigF == sigS, s"signature mismatch for doc $idF")
        case _ =>
          // composable form yields nulls for zero shingles; the custom
          // expression yields Long.MaxValue sentinels — both mean
          // "no shingles", only the custom one is join-safe
          assert(sigF.forall(_ == Long.MaxValue))
      }
    }
  }

  test("VectorDot matches the aggregate(zip_with) composable form " +
      "bit-for-bit, including float/double mixes and null semantics") {
    import spark.implicits._
    import graft.functions.VectorDot
    // adversarial values: denormal-adjacent, sign-of-zero, large/small
    // magnitude mixes where accumulation ORDER changes the last bits —
    // equality here proves the op sequence is identical, not just close
    val vecs = Seq(
      (1L, Seq(1.5f, -2.25f, 3.125f, 0.1f), Seq(0.3f, 1e30f, -1e-30f, 7f)),
      (2L, Seq(0.0f, -0.0f, 1e-38f, 3e38f), Seq(-0.0f, 0.0f, 1e38f, 1e-9f)),
      (3L, Seq.fill(64)(0.1f), Seq.fill(64)(-0.3f)),
      (4L, Seq.empty[Float], Seq.empty[Float]))
      .toDF("id", "a", "b")
    def slow(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) =>
        p.cast("double") * q.cast("double")), lit(0.0), (acc, v) => acc + v)
    val rows = vecs.select(col("id"),
      VectorDot.dot(col("a"), col("b")).as("fast"),
      slow(col("a"), col("b")).as("slow")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"dot mismatch for id ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // float × double-literal mix (the s02/d12 hyperplane shape)
    val planes = typedLit(Seq(0.5, -1.25, 2.0, 0.125))
    val mixed = vecs.filter(col("id") === 1).select(
      VectorDot.dot(col("a"), planes).as("fast"),
      slow(col("a"), planes).as("slow")).head()
    assert(mixed.getDouble(0) == mixed.getDouble(1))
    // length mismatch → NULL (zip_with pads with null and poisons the sum)
    val lm = vecs.filter(col("id") === 1).select(
      VectorDot.dot(col("a"), typedLit(Seq(1.0, 2.0))).as("fast"),
      slow(col("a"), typedLit(Seq(1.0, 2.0))).as("slow")).head()
    assert(lm.isNullAt(0) && lm.isNullAt(1))
  }

  test("VectorCosine matches the three-VectorDot composable form " +
      "bit-for-bit, including zero-norm NaN/Inf and null semantics") {
    import spark.implicits._
    import graft.functions.{VectorCosine, VectorDot}
    val vecs = Seq(
      (1L, Seq(1.5f, -2.25f, 3.125f, 0.1f), Seq(0.3f, 1e30f, -1e-30f, 7f)),
      (2L, Seq(1e-4f, -0.0f, 1e-38f, 3e38f), Seq(-0.0f, 2.0f, 1e38f, 1e-9f)),
      (3L, Seq.fill(64)(0.1f), Seq.fill(64)(-0.3f)))
      .toDF("id", "a", "b")
    def slow(x: org.apache.spark.sql.Column,
        y: org.apache.spark.sql.Column) =
      VectorDot.dot(x, y) / sqrt(VectorDot.dot(x, x)) /
        sqrt(VectorDot.dot(y, y))
    val rows = vecs.select(col("id"),
      VectorCosine.cosine(col("a"), col("b")).as("fast"),
      slow(col("a"), col("b")).as("slow")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"cosine mismatch for id ${r.getLong(0)}: " +
          s"${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // float-array vs double-literal mix (the d17 benchmark shape)
    val bl = typedLit(Seq(0.5, -1.25, 2.0, 0.125))
    val mixed = vecs.filter(col("id") === 1).select(
      VectorCosine.cosine(col("a"), bl).as("fast"),
      slow(col("a"), bl).as("slow")).head()
    assert(java.lang.Double.doubleToRawLongBits(mixed.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(mixed.getDouble(1)))
    // length mismatch → NULL in both forms
    val lm = vecs.filter(col("id") === 1).select(
      VectorCosine.cosine(col("a"), typedLit(Seq(1.0, 2.0))).as("fast"),
      slow(col("a"), typedLit(Seq(1.0, 2.0))).as("slow")).head()
    assert(lm.isNullAt(0) && lm.isNullAt(1))
    // zero-norm divergence, pinned: the composable form THROWS under
    // ANSI mode (double divide-by-zero is an error), the fused
    // expression follows IEEE and yields NaN — documented in the
    // VectorCosine scaladoc; no catalog query ever feeds a zero vector
    val z = Seq((1L, Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("id", "a", "b")
    val nan = z.select(
      VectorCosine.cosine(col("a"), col("b")).as("c")).head()
    assert(java.lang.Double.isNaN(nan.getDouble(0)))
    intercept[Exception] {
      z.select(slow(col("a"), col("b")).as("c")).head()
    }
  }

  test("SimHash60 matches the composable nested-aggregate form") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark group query row data slow small filter"),
      (3L, "one"),
      (4L, "x y z x y z"))
      .toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val fast = docs.select(col("doc_id"),
      graft.functions.SimHash60.simhash60(toks).as("sh"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val slow = docs.select(col("doc_id"),
      TextOps.simhash60(toks).as("sh"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.toSeq == slow.toSeq)
  }

  test("winnowing: shared long substrings guarantee shared fingerprints") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"completely different lead-in text $common and another tail"),
      (3L, "nothing in common with the others at all zzz qqq www"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      graft.functions.Winnow.winnowFingerprint(col("text"), 8, 16).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // guarantee: any shared substring of length >= w+k-1 (=23) shares
    // at least one fingerprint; `common` is 60 chars
    assert((fps(1L) & fps(2L)).nonEmpty)
    // determinism
    val fps2 = docs.select(col("doc_id"),
      graft.functions.Winnow.winnowFingerprint(col("text"), 8, 16).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps == fps2)
    // short text → degenerate single-min fingerprint, no crash
    val tiny = Seq((9L, "abc")).toDF("doc_id", "text")
      .select(graft.functions.Winnow.winnowFingerprint(col("text"), 8, 16))
      .head().getSeq[Long](0)
    assert(tiny.isEmpty)
  }

  test("identical texts share signatures; different texts differ") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words here my friend"))
      .toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      ShingleMinHash.shingleMinhash(split(col("text"), " ")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("winnow candidates: hot fingerprints are df-pruned before the self-join") {
    import spark.implicits._
    // fp 999 is "boilerplate": shared by 300 docs — naively 300² ≈ 45k
    // candidate rows. fps 1-8 are a genuine near-dup signal between
    // docs 1 and 2 (8 shared = minShared).
    val hot = (1L to 300L).map(id => (id, 999L))
    val signal = (1L to 8L).flatMap(fp => Seq((1L, fp), (2L, fp)))
    val exploded = (hot ++ signal).toDF("doc_id", "fp")
    val pairs = TextOps.winnowCandidatePairs(exploded, minShared = 8,
      maxDf = 100)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 2L)))
    // and with the cap above the hot fp's df, the hot pairs come back
    // (shared_fps=1 each, still below minShared — but the candidate set
    // is the k² blowup the cap exists to avoid)
    val uncapped = TextOps.winnowCandidatePairs(exploded, minShared = 1,
      maxDf = 1000)
    assert(uncapped.count() == 300L * 299L / 2)
  }

  test("KmvKthMin: bounded buffer, duplicate collapse, under-k fallback") {
    val a = new graft.functions.KmvKthMin(4)
    // duplicates collapse (KMV is over the distinct hash set)
    val buf = Seq(9L, 3L, 9L, 7L, 1L, 3L).foldLeft(a.zero)(a.reduce)
    assert(buf.toSeq == Seq(1L, 3L, 7L, 9L))
    // buffer never exceeds k; a new small value evicts the largest
    val buf2 = a.reduce(buf, 2L)
    assert(buf2.toSeq == Seq(1L, 2L, 3L, 7L))
    // merge = sorted distinct union truncated to k
    val merged = a.merge(buf2, Seq(0L, 3L, 8L).foldLeft(a.zero)(a.reduce))
    assert(merged.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(a.finish(merged) == 3L) // k-th smallest
    // fewer than k distincts → -1 sentinel (fall back to exact)
    assert(a.finish(Seq(5L, 6L).foldLeft(a.zero)(a.reduce)) == -1L)
  }

  test("GramHashes matches the composable transform+h60col form") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz 0123456789"),
      (2L, "short"), (3L, ""), (4L, "exactly twenty chars"),
      (5L, "ünïcödé multibyte grams stress the byte/char offset split"),
      // astral-plane (non-BMP) chars: 🚀/𝕊 are surrogate PAIRS in the
      // JVM but ONE character to Spark substring / DuckDB substr —
      // code-unit gram slicing would split the pair and diverge from
      // the composable form (the r6 ADVICE finding)
      (6L, "astral 🚀 rocket and 𝕊 math double-struck fill this line"))
      .toDF("doc_id", "t")
    val L = 20
    val fast = docs.select(col("doc_id"),
      graft.functions.Winnow.gramHashes(col("t"), L).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val slow = docs.select(col("doc_id"),
      when(length(col("t")) >= L,
        transform(sequence(lit(0), length(col("t")) - L), i =>
          graft.functions.PortableHash.h60col(
            col("t").substr(i + 1, lit(L)))))
        .otherwise(array().cast("array<long>")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (id, g) =>
      assert(g == slow(id), s"gram hashes differ for doc $id")
    }
    // "exactly twenty chars" (20 chars) has exactly one gram
    assert(fast(4L).length == 1)
    assert(fast(2L).isEmpty && fast(3L).isEmpty)
  }

  test("KmvMinSet: set algebra estimates real partial overlap") {
    // q71's sf0.01 fixture is degenerate (every user does every event
    // type, Jaccard 1), so the partial-overlap arm of the estimator is
    // exercised here: two 60-bit-hashed sets of 2000 ids overlapping
    // on 1000 (ids 0-1999 vs 1000-2999)
    val k = 64
    val agg = new graft.functions.KmvMinSet(k)
    def sketch(ids: Range): Array[Long] =
      ids.map(i => graft.functions.PortableHash.h60(s"kmvtest_$i"))
        .foldLeft(agg.zero)(agg.reduce)
    val ma = sketch(0 until 2000)
    val mb = sketch(1000 until 3000)
    assert(ma.length == k && mb.length == k)
    val merged = agg.merge(ma, mb) // union sketch: k smallest of both
    val hk = merged(k - 1)
    val estUnion = (k - 1).toDouble * 1152921504606846976.0 / hk.toDouble
    val shared = merged.count(h =>
      ma.contains(h) && mb.contains(h)).toDouble
    val estInter = shared / k * estUnion
    assert(math.abs(estUnion - 3000) / 3000 < 0.35,
      s"union estimate $estUnion far from 3000")
    assert(math.abs(estInter - 1000) / 1000 < 0.5,
      s"intersection estimate $estInter far from 1000")
    // merge is order-insensitive (the mergeability contract)
    assert(agg.merge(mb, ma).toSeq == merged.toSeq)
  }

  test("PII patterns fire on real PII and leave clean text untouched") {
    import spark.implicits._
    // the oracle corpus is PII-free, so the x12 hash check proves the
    // zero case; this proves the patterns actually match their classes
    val rows = Seq(
      (1L, "contact alice.smith+tag@ex-ample.co.uk today"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "host 192.168.0.1 and 10.0.255.13"),
      (4L, "ssn 123-45-6789 on file"),
      (5L, "no pii here, just words and 42"))
      .toDF("doc_id", "text")
    val got = rows
      .select(col("doc_id"), TextOps.redactPii(col("text")).as("red"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "contact <email> today")
    assert(got(2L) == "call <phone> or <phone> now")
    assert(got(3L) == "host <ipv4> and <ipv4>")
    assert(got(4L) == "ssn <ssn> on file")
    assert(got(5L) == "no pii here, just words and 42")
  }

  // --- long kernels of the two exactness primitives -----------------------

  /** Whole-stage codegen, and the interpreted path with codegen off. */
  private val evalModes = Seq(
    Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** Error condition of the first SparkThrowable in `t`'s cause chain. */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case e: org.apache.spark.SparkThrowable => e.getCondition
    }.getOrElse(t.getClass.getName)

  test("h60col matches the conv(substring(md5(c), 1, 15), 16, 10) chain " +
      "on strings, binaries and null") {
    import spark.implicits._
    val rnd = new scala.util.Random(60)
    val strs: Seq[String] = Seq("", "a", "ünïcödé", "🚀 astral 𝕊",
      "日本語のテキスト", "perm_a_0", null) ++
      Seq.fill(500)(rnd.nextString(rnd.nextInt(40))) ++
      Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(64)).mkString)
    val bins: Seq[Array[Byte]] = Seq(Array.emptyByteArray, null,
      Array[Byte](0, -1, 127, -128)) ++
      Seq.fill(200)(Array.fill(rnd.nextInt(50))(rnd.nextInt(256).toByte))
    def reference(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val sdf = spark.sparkContext.parallelize(strs, 3).toDF("s")
    val bdf = spark.sparkContext.parallelize(bins, 3).toDF("b")
    for (mode <- evalModes) withConf(mode: _*) {
      for ((df, c) <- Seq(sdf -> col("s"), bdf -> col("b"))) {
        val rows = df.select(graft.functions.PortableHash.h60col(c),
          reference(c)).collect()
        assert(rows.length == df.count())
        rows.foreach { r =>
          assert(r.isNullAt(0) == r.isNullAt(1))
          if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
        }
        assert(rows.count(_.isNullAt(0)) == 1)
      }
    }
    // and the driver-side h60 agrees with the column form
    assert(sdf.filter(col("s").isNotNull)
      .select(col("s"), graft.functions.PortableHash.h60col(col("s")))
      .collect().forall(r =>
        graft.functions.PortableHash.h60(r.getString(0)) == r.getLong(1)))
  }

  /** Adversarial doubles for the per-row decimal kernel: HALF_UP ties,
    * signs, zeros, subnormals, the ends of the fast path (2^50 and 2^53
    * over 10^s), precision overflow and non-finite values.
    */
  private def kernelSpecials(scale: Int): Seq[Double] = {
    val p = math.pow(10, scale)
    def around(v: Double): Seq[Double] = {
      var up = v; var dn = v
      (0 until 4).flatMap { _ =>
        up = math.nextUp(up); dn = math.nextDown(dn); Seq(up, dn)
      } :+ v
    }
    Seq(1.005, 2.675, 0.125, 0.5, 1.5, 2.5, 0.005, 0.015, 0.00005,
      0.0000005, 123456.785, 1.0000005, 9.9999995, 0.1, 0.7, 1e-7)
      .flatMap(v => Seq(v, -v)) ++
      Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
        java.lang.Double.MIN_NORMAL, 1e-320, 1e16, -1e16, 9.99999999999999e15,
        1e18, 9.2e12, -9.3e12, 1e15, 4.2e17, -4.2e17, 1e22,
        Double.MaxValue, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity) ++
      around(9007199254740992.0 / p) ++ around(-9007199254740992.0 / p) ++
      around(1125899906842624.0 / p) ++ around(-1125899906842624.0 / p)
  }

  /** Seeded doubles shaped like the data the sums see (2-decimal money,
    * its products, ties at the next digit) plus wide random ones.
    */
  private def kernelRandoms(n: Int): Seq[Double] = {
    val rnd = new scala.util.Random(6)
    def money() = (rnd.nextInt(20000000) - 10000000) / 100.0
    def rate() = rnd.nextInt(11) / 100.0
    Seq.fill(n)(money()) ++
      Seq.fill(n)(money() * (1 - rate())) ++
      Seq.fill(n)(money() * (1 - rate()) * (1 + rate())) ++
      Seq.fill(n)((rnd.nextInt(2000000) * 10 + 5) / 1000.0) ++
      Seq.fill(n)((rnd.nextInt(2000000) * 10 + 5) / 100000.0) ++
      Seq.fill(n)((rnd.nextInt(2000000) * 10 + 5) / 1e7) ++
      Seq.fill(n)((rnd.nextDouble() - 0.5) * 2e7) ++
      Seq.fill(n)(math.scalb(rnd.nextDouble() - 0.5, rnd.nextInt(120) - 70))
  }

  test("DecimalWord equals Spark's cast(x as decimal(p,s)) at scales 2/4/6, " +
      "codegen and interpreted, ANSI on and off") {
    import spark.implicits._
    import graft.functions.DecimalWord
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.types.DecimalType
    val mask = (BigInt(1) << 64) - 1
    def unscaled(r: org.apache.spark.sql.Row, i: Int): Option[BigInt] =
      if (r.isNullAt(i)) None
      else Some((BigInt(r.getLong(i)) << 64) + (BigInt(r.getLong(i + 1)) & mask))
    val randoms = kernelRandoms(2000)
    for ((p, s) <- Seq(18 -> 2, 24 -> 4, 24 -> 6, 24 -> 2)) {
      val values = kernelSpecials(s) ++ randoms
      val df = spark.sparkContext.parallelize(values, 4).toDF("x")
      def compare(ansi: Boolean, d: org.apache.spark.sql.DataFrame)
          : Seq[(Double, Option[BigInt])] = {
        val words = Seq(true, false).map(h =>
          column(DecimalWord(expression(col("x")), p, s, h, ansi)))
        val rows = d.select(col("x") +: col("x").cast(DecimalType(p, s)) +:
          words: _*).collect()
        rows.map { r =>
          val spark0 = if (r.isNullAt(1)) None
            else Some(BigInt(r.getDecimal(1).unscaledValue))
          assert(unscaled(r, 2) == spark0,
            s"x=${r.getDouble(0)} decimal($p,$s) ansi=$ansi")
          r.getDouble(0) -> spark0
        }.toSeq
      }
      for (mode <- evalModes) {
        // legacy: overflow and non-finite values cast to null
        val legacy = withConf(mode :+ ("spark.sql.ansi.enabled" -> "false"): _*) {
          compare(ansi = false, df)
        }
        assert(legacy.length == values.length)
        val nulls = legacy.collect { case (x, None) => x }
        assert(nulls.exists(_.isNaN) && nulls.contains(1e22))
        // ANSI: the same values where Spark's cast succeeds; where it
        // fails, the kernel fails (or yields null) the same way
        withConf(mode :+ ("spark.sql.ansi.enabled" -> "true"): _*) {
          compare(ansi = true, df.filter(
            !col("x").isin(nulls: _*) && !isnan(col("x"))))
          for (x <- nulls.distinct) {
            val one = spark.sparkContext.parallelize(Seq(x), 1).toDF("x")
            def outcome(c: org.apache.spark.sql.Column): String =
              try one.select(c).collect().head.toString
              catch { case e: Exception => condition(e) }
            val ours = outcome(column(
              DecimalWord(expression(col("x")), p, s, high = false, ansi = true)))
            val theirs = outcome(col("x").cast(DecimalType(p, s)))
            assert(ours == theirs || (ours == "[null]" && theirs == "[null]"),
              s"x=$x decimal($p,$s): kernel $ours vs cast $theirs")
          }
        }
      }
    }
    // the fast path carries the common case; ties go to Spark's cast
    val pow = 100.0
    assert(graft.functions.ExactSum.fastUnscaled(12345.67, pow, 1000000000000000000L) == 1234567L)
    assert(graft.functions.ExactSum.fastUnscaled(1.005, pow, 1000000000000000000L) ==
      graft.functions.ExactSum.NoFastPath)
  }

  test("ExactSum equals sum(cast(x as decimal(p,s))): nulls, all-null and " +
      "empty groups, mixed signs, partitioning, a window frame") {
    import spark.implicits._
    import graft.functions.ExactSum
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(18)
    val vals = kernelRandoms(300).filter(v => math.abs(v) < 1e9) ++
      kernelSpecials(2).filter(v => !v.isNaN && !v.isInfinite && math.abs(v) < 1e12)
    val rows: Seq[(Int, Int, Option[Double])] =
      vals.zipWithIndex.map { case (v, i) =>
        (rnd.nextInt(5), i, if (i % 11 == 0) None else Some(v))
      } ++ Seq((7, -1, None), (7, -2, None)) // an all-null group
    val df = spark.sparkContext.parallelize(rows, 4).toDF("g", "i", "x")
    val specs = Seq(18 -> 2, 24 -> 6, 24 -> 4)
    def ours = specs.map { case (p, s) => ExactSum(col("x"), p, s) }
    def theirs = specs.map { case (p, s) => sum(col("x").cast(DecimalType(p, s))) }
    def grouped(d: org.apache.spark.sql.DataFrame,
        cs: Seq[org.apache.spark.sql.Column]) =
      d.groupBy("g").agg(cs.head, cs.tail: _*).collect()
        .map(r => r.getInt(0) -> r.toSeq.tail).toMap
    for (mode <- evalModes) withConf(mode: _*) {
      val ref = grouped(df, theirs)
      assert(ref(7).forall(_ == null))
      assert(grouped(df, ours) == ref)
      assert(grouped(df.repartition(7), ours) == ref)
      // global aggregate, and over empty input (null, like sum)
      assert(df.agg(ours.head, ours.tail: _*).collect().toSeq ==
        df.agg(theirs.head, theirs.tail: _*).collect().toSeq)
      val empty = df.filter(lit(false))
      assert(empty.agg(ours.head, ours.tail: _*).head().toSeq.forall(_ == null))
      // the Catalog form: the same double, bit for bit
      val dbl = df.groupBy("g").agg(graft.queries.Catalog.dsum4(col("x") * 1.07),
        sum((col("x") * 1.07).cast(DecimalType(24, 6))).cast("double"))
        .collect()
      dbl.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2))
        if (!r.isNullAt(1)) assert(java.lang.Double.doubleToRawLongBits(
          r.getDouble(1)) == java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
      }
      // sliding and running window frames
      for (w <- Seq(
          Window.partitionBy("g").orderBy("i").rowsBetween(-3, 1),
          Window.partitionBy("g").orderBy("i")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))) {
        val got = df.select(col("i"), ExactSum(col("x"), 18, 2).over(w),
          sum(col("x").cast(DecimalType(18, 2))).over(w)).collect()
        assert(got.length == rows.length)
        got.foreach(r => assert(r.get(1) == r.get(2), s"window row ${r.getInt(0)}"))
      }
    }
  }

  test("ExactSum keeps sum's decimal(p+10) overflow rule at the 38-digit edge") {
    import graft.functions.ExactSum
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    val t = DecimalType(38, 0)
    val big = new java.math.BigDecimal("5e37").setScale(0)
    def frame(vs: Seq[java.math.BigDecimal]) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(v => org.apache.spark.sql.Row(1, v)), 2),
      StructType(Seq(StructField("g", org.apache.spark.sql.types.IntegerType),
        StructField("x", t))))
    val fits = frame(Seq(big, big.subtract(java.math.BigDecimal.ONE)))
    val over = frame(Seq(big, big))
    val wrap = frame(Seq.fill(4)(new java.math.BigDecimal("9e37").setScale(0)))
    def both(d: org.apache.spark.sql.DataFrame): (String, String) = {
      def run(c: org.apache.spark.sql.Column) =
        try d.groupBy("g").agg(c).collect().head.get(1) match {
          case null => "null"
          case v => v.toString
        } catch { case e: Exception => "error:" + condition(e) }
      (run(ExactSum(col("x"), 38, 0)), run(sum(col("x"))))
    }
    withConf("spark.sql.ansi.enabled" -> "false") {
      assert(both(fits) == (("99999999999999999999999999999999999999",
        "99999999999999999999999999999999999999")))
      assert(both(over) == (("null", "null")))
      assert(both(wrap) == (("null", "null"))) // past 2^127 in the pair too
    }
    withConf("spark.sql.ansi.enabled" -> "true") {
      assert(both(fits)._1 == both(fits)._2)
      for (d <- Seq(over, wrap)) {
        val (o, s) = both(d)
        assert(o.startsWith("error:") && o == s, s"$o vs $s")
      }
    }
  }
}
