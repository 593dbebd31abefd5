package graft

import graft.queries.Catalog
import graft.streaming.EventStreams
import graft.streaming.EventStreams.UserEvent
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming tests: each streaming transform runs over the
  * sf0.001 events data as a file-source stream into a memory sink, and
  * (where a batch twin exists) must agree with the batch computation —
  * the kappa-architecture equivalence check.
  */
class StreamingSpec extends SparkFunSuite {

  /** Stage the events table as microsecond-ts parquet in a temp dir
    * (stream sources read directories; conversion mirrors Catalog.t).
    */
  lazy val stagedDir: String = {
    val dir = Files.createTempDirectory("graft-events").toString
    Catalog.t(spark, sf0001, "events").write.mode("overwrite").parquet(dir)
    dir
  }

  def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
  }

  test("tumbling hourly stream agg matches the batch computation") {
    val stream = EventStreams.tumblingHourly(
      EventStreams.readEventStream(spark, stagedDir))
    runToMemory(stream, "tumbling")
    val streamed = spark.table("tumbling")
      .orderBy("ws", "event_type").collect()
    val batch = EventStreams.tumblingHourly(spark.read.parquet(stagedDir))
      .orderBy("ws", "event_type").collect()
    // append mode only emits windows closed by the watermark: the final
    // (still-open) windows are absent from the stream — compare prefix
    assert(streamed.nonEmpty)
    val batchMap = batch.map(r => (r.getAs[Any]("ws"), r.getString(1)) -> r).toMap
    streamed.foreach { r =>
      val key = (r.getAs[Any]("ws"), r.getString(1))
      val b = batchMap(key)
      assert(r.getLong(2) == b.getLong(2) && r.getDouble(3) == b.getDouble(3),
        s"window $key differs: stream=$r batch=$b")
    }
  }

  test("streaming OHLC bars: min_by/max_by over the unique tie key " +
      "select exactly the rows batch row_number picks") {
    val stream = EventStreams.ohlcBars(
      EventStreams.readEventStream(spark, stagedDir))
    runToMemory(stream, "ohlcstream")
    val streamed = spark.table("ohlcstream").collect()
    assert(streamed.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"), col("hr"))
    val batch = spark.read.parquet(stagedDir)
      .select(col("event_type"), col("ts"), col("event_id"),
        col("value"), date_trunc("hour", col("ts")).as("hr"))
      .withColumn("ra", row_number().over(
        w.orderBy(col("ts"), col("event_id"))))
      .withColumn("rd", row_number().over(
        w.orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy(col("event_type"), col("hr"))
      .agg(max(when(col("ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("hr")) -> r)
      .toMap
    // append mode emits only watermark-closed windows — prefix compare
    streamed.foreach { r =>
      val key = (r.getString(1), r.getAs[java.sql.Timestamp]("ws"))
      val b = batch(key)
      assert(r.getDouble(2) == b.getAs[Double]("open") &&
        r.getDouble(3) == b.getAs[Double]("high") &&
        r.getDouble(4) == b.getAs[Double]("low") &&
        r.getDouble(5) == b.getAs[Double]("close") &&
        r.getLong(6) == b.getAs[Long]("n_events"),
        s"bar $key differs: stream=$r batch=$b")
    }
  }

  test("RocksDB state store provider: stateful windowed aggregation " +
      "emits IDENTICAL rows to the default HDFS-backed provider — the " +
      "state backend a 100 TB streaming deployment runs (state no " +
      "longer bounded by executor heap)") {
    def run(name: String): Seq[Vector[Any]] = {
      runToMemory(EventStreams.tumblingHourly(
        EventStreams.readEventStream(spark, stagedDir)), name)
      spark.table(name).collect()
        .map(_.toSeq.toVector).sortBy(_.mkString("|")).toSeq
    }
    val default = run("ss_default")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val rocks = run("ss_rocksdb")
      assert(rocks.nonEmpty && rocks == default,
        s"RocksDB-backed state diverges: ${rocks.size} vs " +
          s"${default.size} rows")
    } finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("session windows emit per-user sessions under watermark") {
    val stream = EventStreams.userSessions(
      EventStreams.readEventStream(spark, stagedDir))
    runToMemory(stream, "sessions")
    val rows = spark.table("sessions").collect()
    assert(rows.nonEmpty)
    // batch twin over the same data (no watermark cutoff in batch)
    val batch = EventStreams.userSessions(spark.read.parquet(stagedDir))
      .collect()
    assert(rows.length <= batch.length)
    val batchSet = batch.map(r => (r.getLong(0), r.get(1), r.getLong(2))).toSet
    rows.foreach { r =>
      assert(batchSet.contains((r.getLong(0), r.get(1), r.getLong(2))))
    }
  }

  test("dropDuplicatesWithinWatermark removes re-delivered events") {
    // duplicate the staged events (simulating at-least-once redelivery)
    val dupDir = Files.createTempDirectory("graft-events-dup").toString
    val base = spark.read.parquet(stagedDir)
    base.write.mode("overwrite").parquet(dupDir)
    base.write.mode("append").parquet(dupDir)
    val stream = EventStreams.dedupedEvents(
      EventStreams.readEventStream(spark, dupDir))
    runToMemory(stream, "deduped")
    val n = spark.table("deduped").count()
    val distinct = base.count()
    assert(n == distinct,
      s"expected $distinct deduped events, got $n")
  }

  test("parseWithQuarantine routes corrupt props to the dead-letter side") {
    import spark.implicits._
    val mixed = Seq(
      (1L, """{"k": 42}"""), // good
      (2L, """{"k": 7}"""), // good
      (3L, """not json at all"""), // quarantine
      (4L, """{"other": 1}""")) // parseable but no k → all-null struct
      .toDF("event_id", "props")
    val (good, bad) = EventStreams.parseWithQuarantine(mixed)
    assert(good.select("event_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    val badRows = bad.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(badRows.keySet == Set(3L, 4L))
    assert(badRows(3L) == "not json at all") // raw payload preserved
    // the full real corpus parses clean
    val (g2, b2) = EventStreams.parseWithQuarantine(
      graft.queries.Catalog.t(spark, sf0001, "events"))
    assert(b2.count() == 0 && g2.count() == 1000)
  }

  test("stream-static enrichment join matches the batch join") {
    // the static dim is read once and broadcast into every microbatch —
    // the standard streaming-enrichment shape (no state, no watermark)
    import spark.implicits._
    val dim = Seq(("view", "engagement"), ("click", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "category")
    val enriched = EventStreams.readEventStream(spark, stagedDir)
      .join(org.apache.spark.sql.functions.broadcast(dim), "event_type")
      .groupBy("category")
      .count()
    val q = enriched.writeStream.outputMode("complete").format("memory")
      .queryName("enriched").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enriched").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet(stagedDir).join(dim, "event_type")
      .groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch && batch.values.sum == 1000L)
  }

  test("stream-stream interval join matches the batch join exactly") {
    val src = EventStreams.readEventStream(spark, stagedDir)
    val joined = EventStreams.viewPurchaseJoin(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"))
    runToMemory(joined, "vp_join")
    val streamed = spark.table("vp_join").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getDouble(3))).sorted
    val batchSrc = spark.read.parquet(stagedDir)
    val batch = EventStreams.viewPurchaseJoin(
      batchSrc.filter(col("event_type") === "view"),
      batchSrc.filter(col("event_type") === "purchase")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getDouble(3))).sorted
    assert(batch.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length} rows vs batch ${batch.length}")
  }

  test("stream-stream LEFT OUTER interval join: matches emit exactly; " +
      "null padding appears once the watermark closes the view's window") {
    val src = EventStreams.readEventStream(spark, stagedDir)
    val joined = EventStreams.viewPurchaseLeftJoin(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"))
    runToMemory(joined, "vp_left")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val streamed = spark.table("vp_left").collect().map(key).toSeq
    val batchSrc = spark.read.parquet(stagedDir)
    val batch = EventStreams.viewPurchaseLeftJoin(
      batchSrc.filter(col("event_type") === "view"),
      batchSrc.filter(col("event_type") === "purchase"))
      .collect().map(key).toSeq
    // matched rows: stream == batch exactly (inner-join semantics)
    assert(streamed.filter(_._3.isDefined).sortBy(_.toString) ==
      batch.filter(_._3.isDefined).sortBy(_.toString))
    // null-padded rows: every streamed null is a batch null, nulls DID
    // emit (state eviction works), and the only batch nulls the stream
    // withholds are views inside the final watermark horizon
    // (1h interval + 10min delay) of the finite stream's end
    val sN = streamed.filter(_._3.isEmpty).toSet
    val bN = batch.filter(_._3.isEmpty).toSet
    assert(sN.nonEmpty, "no null-padded rows emitted")
    assert(sN.subsetOf(bN), "stream emitted a null row batch didn't")
    val maxTs = batchSrc.agg(max(col("ts"))).head().getTimestamp(0)
    val horizon = new java.sql.Timestamp(
      maxTs.getTime - (70L * 60L * 1000L))
    // >= not >: eviction at exact watermark equality is not guaranteed,
    // so a view landing exactly ON the horizon may legitimately be
    // withheld — the boundary must be inclusive or the test is
    // data-sensitive at one microsecond
    assert((bN -- sN).forall(!_._2.before(horizon)),
      "a view outside the tail horizon was withheld")
  }

  test("watermark drops late data across microbatches (e08's streaming twin)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Spark 4 moved MemoryStream under execution.streaming.runtime
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val events = ms.toDF()
      .toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    val agg = EventStreams.tumblingHourly(events)
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("late_drop").start()
    // batch 1: events at 10:05 and 12:00 → watermark advances to 11:50
    ms.addData((1L, ts(10, 5), "view", 1.0), (2L, ts(12, 0), "view", 1.0))
    q.processAllAvailable()
    // batch 2: 10:30 is 80 min behind the watermark → DROPPED;
    // 12:30 is on time → its window updates
    ms.addData((3L, ts(10, 30), "view", 1.0), (4L, ts(12, 30), "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_drop")
      .groupBy("ws").agg(max("n").as("n")).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // the 10:00 window saw ONLY the batch-1 event; the late 10:30 event
    // never updated it
    assert(out("2026-01-01 10:00:00.0") == 1L, s"late event not dropped: $out")
    // the 12:00 window includes both on-time events
    assert(out("2026-01-01 12:00:00.0") == 2L, s"on-time event missing: $out")
  }

  test("foreachBatch sink: per-microbatch parquet apply loop") {
    // the streaming analogue of the executor's ordered apply fold
    // (SURVEY E1/E12): each micro-batch lands atomically, with batch ids
    // observable for exactly-once bookkeeping
    val outDir = Files.createTempDirectory("graft-febatch").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = EventStreams.readEventStream(spark, stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        seen.add(id)
        batch.groupBy(col("event_type")).count()
          .write.mode("append").parquet(s"$outDir/agg")
      }
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    assert(!seen.isEmpty)
    val agg = spark.read.parquet(s"$outDir/agg")
      .groupBy("event_type").sum("count")
    assert(agg.count() == 5) // five event types
  }

  test("streaming CEP (e36's kappa twin): the four hand-compiled " +
      "automata equal java.util.regex on randomized sequences, and the " +
      "cross-batch GroupState counts equal the batch regexp_count " +
      "census on the real stream") {
    import spark.implicits._
    import graft.streaming.CepStream
    // property leg: deterministic randomized sequences vs java regex
    val pats = Seq("v[ce]*p", "vp", "ee+", "s[^p]*p")
      .map(java.util.regex.Pattern.compile)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val seq = (1 to rnd.nextInt(40)).map(_ => "vcpse"(rnd.nextInt(5)))
        .mkString
      val got = CepStream.countAll(seq)
      def rx(p: java.util.regex.Pattern): Long = {
        val m = p.matcher(seq); var n = 0L; while (m.find()) n += 1; n
      }
      assert((got.browse_buy, got.direct_buy, got.error_burst,
        got.signup_journey) == (rx(pats(0)), rx(pats(1)), rx(pats(2)),
        rx(pats(3))), s"automata diverge from regex on '$seq'")
    }
    // kappa leg: cross-batch state ≡ batch census on the real events
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.UserEvent].collect()
      .sortBy(e => (e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000,
        e.event_id))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.UserEvent]
    val q = CepStream.patternCounts(ms.toDS())
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("cepstream").start()
    all.grouped(math.max(1, all.length / 5 + 1)).foreach { chunk =>
      ms.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // update mode re-emits per batch — the LAST row per user is final
    val streamed = spark.table("cepstream").collect()
      .zipWithIndex
      .groupBy(_._1.getLong(0)).view
      .mapValues(_.maxBy(_._2)._1)
      .map { case (uid, r) =>
        uid -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      }.toMap
    val batchTruth = all.groupBy(_.user_id).map { case (uid, es) =>
      val seq = es.sortBy(e => (e.ts.getTime * 1000L +
        (e.ts.getNanos / 1000) % 1000, e.event_id))
        .map(_.event_type.charAt(0)).mkString
      def rx(p: java.util.regex.Pattern): Long = {
        val m = p.matcher(seq); var n = 0L; while (m.find()) n += 1; n
      }
      uid -> (rx(pats(0)), rx(pats(1)), rx(pats(2)), rx(pats(3)))
    }
    assert(streamed.keySet == batchTruth.keySet)
    streamed.foreach { case (uid, got) =>
      assert(got == batchTruth(uid), s"user $uid: $got vs ${batchTruth(uid)}")
    }
  }

  test("streaming IVF stats maintenance (s24's kappa twin, the 14th): " +
      "per-cell (n, per-dim sums) GroupState across micro-batches " +
      "equals the one-shot batch aggregation — O(k*dim) state forever") {
    import spark.implicits._
    import graft.streaming.IvfStatsStream
    import graft.streaming.IvfStatsStream.{CellStats, VecRow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the s24 quantization + codebook over the sf0.001 embeddings
    val quant = transform(col("embedding"), x =>
      floor(x.cast("double") * 1024).cast("long"))
    val all = graft.queries.Catalog.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), quant.as("li")).as[VecRow].collect().toSeq
    val cents = all.filter(_.vec_id < 8)
      .map(v => (v.vec_id, v.li)).sortBy(_._1)
    val arriving = all.filter(_.vec_id >= 8)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[VecRow]
    val q = IvfStatsStream.cellStats(ms.toDS(), cents)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("ivfstats").start()
    arriving.grouped(math.max(1, arriving.length / 4 + 1)).foreach { c =>
      ms.addData(c)
      q.processAllAvailable()
    }
    q.stop()
    // update mode re-emits per batch — last row per cell is final
    val streamed = spark.table("ivfstats").as[CellStats].collect()
      .zipWithIndex
      .groupBy(_._1.cent_id).view.mapValues(_.maxBy(_._2)._1)
      .map { case (cid, st) => cid -> (st.n, st.sums) }.toMap
    // batch truth: plain fold over the same vectors
    val truth = arriving
      .groupBy(v => IvfStatsStream.assign(v.li, cents))
      .map { case (cid, vs) =>
        cid -> (vs.length.toLong,
          vs.map(_.li).reduce((a, b) =>
            a.lazyZip(b).map(_ + _).toVector: Seq[Long]))
      }
    assert(streamed.keySet == truth.keySet)
    streamed.foreach { case (cid, got) =>
      assert(got == truth(cid), s"cell $cid diverged")
    }
    // drift derivability from state alone: means are sums div n
    streamed.foreach { case (_, (n, sums)) =>
      assert(n > 0 && sums.length == cents.head._2.length)
    }
  }

  test("CDF view-maintenance stream (q108's kappa twin, the 15th): " +
      "initial state from v1 + streamed signed deltas across " +
      "micro-batches == the direct v2 aggregate") {
    import spark.implicits._
    import graft.streaming.CdfViewStream
    import graft.streaming.CdfViewStream.{Change, ViewState}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val orders = graft.queries.Catalog.t(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // q105's change rules over the q88/q104 commit pair: %30 matched
    // DELETE; %6 (not %30) matched UPDATE (pre seed, post merged);
    // %2-and-not-%3 NOT MATCHED INSERT
    val changes = scala.collection.mutable.ArrayBuffer[Change]()
    orders.foreach { case (k, tp) =>
      val m = CdfViewStream.micros(tp * 1.25)
      if (k % 30 == 0)
        changes += Change("seed", CdfViewStream.micros(tp), -1)
      else if (k % 6 == 0) {
        changes += Change("seed", CdfViewStream.micros(tp), -1)
        changes += Change("merged", m, 1)
      } else if (k % 2 == 0 && k % 3 != 0)
        changes += Change("merged", m, 1)
    }
    val seed = orders.filter(_._1 % 3 == 0)
    val v1 = Seq(ViewState("seed", seed.length.toLong,
      seed.map(x => CdfViewStream.micros(x._2)).sum))
    // v2 truth: the post-merge table aggregated directly
    val v2rows = orders.flatMap { case (k, tp) =>
      if (k % 30 == 0) None
      else if (k % 6 == 0)
        Some(("merged", CdfViewStream.micros(tp * 1.25)))
      else if (k % 3 == 0) Some(("seed", CdfViewStream.micros(tp)))
      else if (k % 2 == 0)
        Some(("merged", CdfViewStream.micros(tp * 1.25)))
      else None
    }
    val truth = v2rows.groupBy(_._1).map { case (s0, xs) =>
      s0 -> (xs.length.toLong, xs.map(_._2).sum)
    }
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Change]
    val q = CdfViewStream.maintain(ms.toDS(), v1.toDS())
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("cdfview").start()
    changes.toSeq.grouped(math.max(1, changes.length / 3 + 1))
      .foreach { c => ms.addData(c); q.processAllAvailable() }
    q.stop()
    // update mode re-emits per batch — last row per status is final
    val streamed = spark.table("cdfview").as[ViewState].collect()
      .zipWithIndex
      .groupBy(_._1.status).view.mapValues(_.maxBy(_._2)._1)
      .map { case (s0, st) => s0 -> (st.n, st.totMicros) }.toMap
    assert(streamed.keySet == truth.keySet)
    truth.foreach { case (s0, t) =>
      assert(streamed(s0) == t, s"status $s0 diverged: " +
        s"streamed ${streamed(s0)} vs direct $t")
    }
    // the O(statuses) state bound: two statuses, ever
    assert(streamed.size == 2)
  }

  test("foreachBatch URL admission maintains seen-URL state (x51 " +
      "funnel's kappa twin: per-batch canonicalize + blocklist gate + " +
      "URL-exact dedup, stream ≡ batch)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bl = Seq("site1.com", "site5.com", "site9.com")
    val raw = graft.queries.TextCurationOps.urlRaw(spark, sf0001)
      .select(col("doc_id"), col("n_toks"), col("raw_url"))
      .localCheckpoint()
    val history = graft.queries.TextCurationOps
      .canonicalizeUrls(raw.filter(col("doc_id") < 200))
    val ranges = Seq((200L, 300L), (300L, 400L), (400L, Long.MaxValue))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    val got = scala.collection.concurrent.TrieMap[
      Long, Array[(Long, String)]]()
    val q = graft.streaming.UrlAdmitStream.urlAdmission(
      history, ms.toDF().toDF("doc_id", "n_toks", "raw_url"), bl,
      onAdmitted = (id, a) => got(id) = a
        .select(col("doc_id"), col("canon_url")).collect()
        .map(r => (r.getLong(0), r.getString(1))))
    ranges.foreach { case (lo, hi) =>
      val rows = raw.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .as[(Long, Long, String)].collect()
      ms.addData(rows.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.size == ranges.size,
      s"expected ${ranges.size} micro-batches, saw ${got.keys}")
    // batch face: one admission over the WHOLE corpus (min doc_id per
    // canonical URL wins globally); arrival order is ascending
    // doc_id, so the stream's first-arrival-wins must equal it
    val full = graft.streaming.UrlAdmitStream.admit(
        graft.queries.TextCurationOps.canonicalizeUrls(raw),
        bl.toDF("domain"))
      .select(col("doc_id"), col("canon_url")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val histAdmit = graft.streaming.UrlAdmitStream.admit(
        history, bl.toDF("domain"))
      .select(col("doc_id"), col("canon_url")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val streamed = histAdmit ++ got.values.flatten
    assert(streamed == full,
      s"stream admission != batch admission: " +
        s"only-stream=${(streamed -- full).take(5)} " +
        s"only-batch=${(full -- streamed).take(5)}")
    // the state did real cross-batch work: later batches re-offer
    // URLs already admitted (shared page identities span ranges) and
    // every one of them was dropped — verified above by set equality;
    // also no batch is empty and no admitted doc repeats a URL
    assert(got.values.forall(_.nonEmpty))
    val urls = streamed.toSeq.map(_._2)
    assert(urls.distinct.size == urls.size, "duplicate canonical URL")
  }

  test("foreachBatch incremental dedup maintains band-index state " +
      "(d14's kappa twin, stream ≡ batch replay)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val incomingSrcs = Seq("src16", "src17", "src18", "src19")
    val docs = Catalog.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint()
    val history = docs.filter(!col("source").isin(incomingSrcs: _*))
      .select(col("doc_id"), col("text"))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap[
      Long, Array[(Long, Long, Any, Any)]]()
    val q = graft.streaming.DedupStream.incrementalDedup(
      history, ms.toDF().toDF("doc_id", "text"),
      onVerdicts = (id, v) => got(id) = v.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.get(2), r.get(3))))
    // one micro-batch per source "day"
    incomingSrcs.foreach { src =>
      val rows = docs.filter(col("source") === src)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      ms.addData(rows.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.size == incomingSrcs.size,
      s"expected ${incomingSrcs.size} micro-batches, saw ${got.keys}")
    // batch replay: day i's verdicts recomputed FROM SCRATCH against
    // history + days < i — incremental state accumulation must equal
    // the recompute (and day 1 must equal d14's own semantics)
    val orderedIds = got.keys.toSeq.sorted
    incomingSrcs.zipWithIndex.foreach { case (src, i) =>
      val idxDocs = docs.filter(!col("source").isin(incomingSrcs: _*) ||
          col("source").isin(incomingSrcs.take(i): _*))
        .select(col("doc_id"), col("text"))
      val newDocs = docs.filter(col("source") === src)
        .select(col("doc_id"), col("text"))
      val idx = graft.queries.TextOps.bandIndex(idxDocs, 16, 4)
      val nb = graft.queries.TextOps.bandIndex(newDocs, 16, 4)
      val cand = nb.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_new"))
        .join(idx.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_idx")), Seq("band", "band_hash"))
        .select(col("doc_new"), col("doc_idx")).distinct()
      val expect = graft.queries.TextOps.lshVerdictTail(
          graft.queries.TextOps.shinglesOf(
            idxDocs.union(newDocs)),
          newDocs.select(col("doc_id").as("doc_new")), cand)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3)))
      val streamed = got(orderedIds(i))
      assert(streamed.sortBy(_._1).toSeq == expect.sortBy(_._1).toSeq,
        s"day $i ($src): streamed verdicts != batch replay")
      // every day's docs got a verdict row
      assert(streamed.length == newDocs.count(),
        s"day $i: verdict row per incoming doc")
    }
  }

  test("streaming frozen-tokenizer encode (x48's kappa twin): per-doc " +
      "census rows across micro-batches equal the batch encode " +
      "bit-for-bit; accumulated token mass equals the batch mass") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val incomingSrcs = Seq("src16", "src17", "src18", "src19")
    // day-0: the batch x48 trains and FREEZES the artifacts to disk;
    // its per-doc output over src16-19 is the ground truth
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6))
    val batchRows = SparkEntry
      .queries("x48_bpe_incremental_encode")(spark, sf0001)
      .collect().map(tup).sortBy(_._1).toSeq
    // the batch x48 above froze the artifacts in its session's index
    // path — read the SAME store
    val tokDir = Catalog.indexPath(spark, sf0001, "x48-tokenizer")
    val merges = spark.read.parquet(s"$tokDir/merges.parquet")
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = spark.read.parquet(s"$tokDir/vocab.parquet")
      .localCheckpoint()
    val docs = Catalog.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap[
      Long, Array[(Long, Long, Long, Long, Long, String, Long)]]()
    val q = graft.streaming.TokenizeStream.encode(
      ms.toDF().toDF("doc_id", "text"), merges, vocab,
      onBatch = (id, df) => got(id) = df.collect().map(tup))
    // one micro-batch per arriving source "day"
    incomingSrcs.foreach { src =>
      ms.addData(docs.filter(col("source") === src)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.size == incomingSrcs.size,
      s"expected ${incomingSrcs.size} micro-batches, saw ${got.keys}")
    val streamed = got.values.flatten.toSeq.sortBy(_._1)
    assert(streamed == batchRows,
      "streamed per-doc censuses diverge from the batch encode")
    // the caller-side running state: associative integer mass sums
    assert(streamed.map(_._3).sum == batchRows.map(_._3).sum &&
      streamed.map(_._5).sum == batchRows.map(_._5).sum)
  }

  test("transformWithState (Spark 4 arbitrary-state API v2, RocksDB-" +
      "backed) emits the SAME alerts as the classic " +
      "flatMapGroupsWithState operator on the same stream") {
    import spark.implicits._
    def alertsOf(mk: org.apache.spark.sql.Dataset[UserEvent] =>
        org.apache.spark.sql.Dataset[EventStreams.UserAlert],
        name: String): Set[(Long, Long, Long)] = {
      val streamEvents = EventStreams.readEventStream(spark, stagedDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[UserEvent]
      runToMemory(mk(streamEvents).toDF(), name)
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val classic = alertsOf(
      EventStreams.errorRateAlerts(_, threshold = 0.25, minEvents = 10),
      "tws_classic")
    // the v2 API requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val v2 = alertsOf(
        EventStreams.errorRateAlertsTws(_, threshold = 0.25,
          minEvents = 10), "tws_v2")
      assert(v2.nonEmpty && v2 == classic,
        s"v2 ${v2.size} alerts vs classic ${classic.size}")
    } finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("flatMapGroupsWithState error-rate alerts fire for noisy users") {
    import spark.implicits._
    val events = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[UserEvent]
    // batch mode flatMapGroupsWithState needs update semantics; run the
    // streaming path end-to-end instead
    val streamEvents = EventStreams.readEventStream(spark, stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[UserEvent]
    val alerts = EventStreams.errorRateAlerts(streamEvents,
      threshold = 0.25, minEvents = 10)
    runToMemory(alerts.toDF(), "alerts")
    val got = spark.table("alerts").collect()
    // oracle: users whose overall error rate exceeds threshold must have
    // alerted at least once (the running rate passes the final rate's
    // level at some prefix — at minimum at the end)
    val expected = events.groupByKey(_.user_id)
      .mapGroups { (uid, it) =>
        val all = it.toSeq
        (uid, all.length.toLong, all.count(_.event_type == "error").toLong)
      }.collect()
      .filter { case (_, n, errs) =>
        n >= 10 && errs.toDouble / n > 0.25
      }.map(_._1).toSet
    val alerted = got.map(_.getLong(0)).toSet
    assert(expected.subsetOf(alerted),
      s"users ${expected.diff(alerted)} should have alerted")
    assert(got.nonEmpty)
  }

  test("streaming KMV sketch over micro-batches equals the batch sketch") {
    import spark.implicits._
    // 4 files + maxFilesPerTrigger=1 → 4 genuine micro-batches, so the
    // per-key state really accumulates across batches
    val splitDir = Files.createTempDirectory("graft-events-4").toString
    spark.read.parquet(stagedDir).repartition(4)
      .write.mode("overwrite").parquet(splitDir)
    val streamEvents = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(splitDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[UserEvent]
    val k = 16 // sf0.001 has few users; k=16 keeps the sketch sketching
    runToMemory(EventStreams.distinctUserSketch(streamEvents, k).toDF(),
      "kmvstream", mode = "update")
    val rows = spark.table("kmvstream").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
    // update mode emits one snapshot per (type, batch); KMV state is
    // monotone under refinement (size nondecreasing, values pointwise
    // nonincreasing), so the FINAL snapshot per type is the one with
    // (max size, then minimal value sum)
    val finalSnap = rows.groupBy(_._1).map { case (tpe, snaps) =>
      tpe -> snaps.map(_._2).minBy(a => (-a.length, a.sum))
    }
    val agg = new graft.functions.KmvMinSet(k)
    val batchSketch = spark.read.parquet(stagedDir)
      .select(col("event_type"), col("user_id")).as[(String, Long)]
      .collect()
      .groupBy(_._1).map { case (tpe, rs) =>
        tpe -> rs.map(r =>
            graft.functions.PortableHash.h60(s"kmvu_${r._2}"))
          .foldLeft(agg.zero)(agg.reduce)
      }
    assert(finalSnap.keySet == batchSketch.keySet)
    finalSnap.foreach { case (tpe, mins) =>
      assert(mins.toSeq == batchSketch(tpe).toSeq,
        s"streaming sketch for $tpe diverges from batch")
    }
    // and the snapshots per type really came from >1 micro-batch
    assert(rows.groupBy(_._1).values.exists(_.length > 1),
      "expected multiple per-batch snapshots (multi-batch execution)")
  }

  test("streaming CMS rows over micro-batches equal the batch sketch " +
      "and point-estimate the top user") {
    import spark.implicits._
    import graft.functions.PortableHash.{P, h60}
    val width = 256; val depth = 4
    val splitDir = Files.createTempDirectory("graft-events-cms").toString
    spark.read.parquet(stagedDir).repartition(4)
      .write.mode("overwrite").parquet(splitDir)
    val streamEvents = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(splitDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[UserEvent]
    runToMemory(
      EventStreams.cmsUserSketch(streamEvents, width, depth).toDF(),
      "cmsstream", mode = "update")
    val snaps = spark.table("cmsstream").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    // counters are monotone nondecreasing under refinement → the final
    // snapshot per row is the one with the largest total
    val finalRows = snaps.groupBy(_._1).map { case (i, ss) =>
      i -> ss.map(_._2).maxBy(_.sum)
    }
    assert(finalRows.keySet == (0 until depth).toSet)
    // batch twin: fold every event into fresh counter rows
    val as = (0 until depth).map(i => h60("cms_a_" + i) % (P - 1) + 1)
    val bs = (0 until depth).map(i => h60("cms_b_" + i) % P)
    val users = spark.read.parquet(stagedDir)
      .select(col("user_id")).as[Long].collect()
    val batchRows = (0 until depth).map { i =>
      val buf = new Array[Long](width)
      users.foreach { uid =>
        val hw = h60(s"cmsu_$uid") % P
        buf((((as(i) * hw + bs(i)) % P) % width).toInt) += 1L
      }
      i -> buf
    }.toMap
    (0 until depth).foreach { i =>
      assert(finalRows(i).toSeq == batchRows(i).toSeq,
        s"streaming CMS row $i diverges from batch")
    }
    // point estimate of the most active user: min over depth rows must
    // upper-bound the exact count (CMS's one-sided error contract)
    val (topUser, exact) = users.groupBy(identity).view
      .mapValues(_.length.toLong).maxBy { case (u, n) => (n, -u) }
    val est = (0 until depth).map { i =>
      val hw = h60(s"cmsu_$topUser") % P
      finalRows(i)((((as(i) * hw + bs(i)) % P) % width).toInt)
    }.min
    assert(est >= exact, "CMS estimate must never undercount")
    // multi-batch execution really happened
    assert(snaps.groupBy(_._1).values.exists(_.length > 1))
  }

  test("streaming rolling anomalies (e17's kappa twin): closed-hour " +
      "emissions equal the batch scored rows, row for row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent].collect().sortBy(_.ts.getTime)
    assert(all.length > 100)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UserEvent]
    val q = EventStreams.rollingAnomalies(ms.toDS())
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("anomstream").start()
    // feed in event-time order, split into 7 sequential micro-batches
    // (splits land mid-hour: the open-hour partial-count merge is
    // exercised, not just whole-hour batches)
    all.grouped(math.max(1, all.length / 7 + 1)).foreach { chunk =>
      ms.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("anomstream").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    // batch twin via the SHARED definition; closed hours only — per
    // type the final (still-open) hour never closes in the stream
    val batchDf = spark.createDataset(all.toIndexedSeq).toDF()
    val maxHour = all.groupBy(_.event_type).map { case (t, es) =>
      t -> es.map(_.ts.getTime / 3600000L).max
    }
    val batch = graft.queries.EventOps.anomalyScoredHours(batchDf)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 3600000L) ->
        (r.getLong(2), r.getBoolean(3)))
      .filter { case ((t, h), _) => h < maxHour(t) }
      .toMap
    assert(batch.nonEmpty, "batch twin produced no scored closed hours")
    assert(streamed == batch,
      s"stream/batch divergence: stream-only=" +
        s"${streamed.keySet -- batch.keySet}, batch-only=" +
        s"${batch.keySet -- streamed.keySet}")
    // and the monitor is non-vacuous: at least one anomaly fired
    assert(streamed.values.exists(_._2), "no anomaly flagged")
  }

  test("streaming path transitions (e22's kappa twin): emissions equal " +
      "the batch census minus the never-closing final ENDs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent].collect()
      // feed in full MICROSECOND order — getTime alone is ms-precision,
      // and two same-ms different-µs events split across micro-batches
      // in inverted event-time order would break the µs sessionizer
      .sortBy(e => (e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000,
        e.event_id))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UserEvent]
    val q = EventStreams.pathTransitions(ms.toDS())
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("transtream").start()
    all.grouped(math.max(1, all.length / 5 + 1)).foreach { chunk =>
      ms.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("transtream").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.length.toLong).toMap
    // batch twin: e22's census; subtract each user's LAST session's
    // (last_type -> END) row, which the stream can never close
    val batchCensus = SparkEntry.queries("e22_path_transitions")(
        spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val lastTypes = spark.read.parquet(stagedDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (_, rs) =>
        def us(t: java.sql.Timestamp): Long =
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        rs.maxBy(r => (us(r.getTimestamp(1)), r.getLong(2)))
          .getString(3)
      }
    val withheld = lastTypes.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val expected = batchCensus.map { case ((f, t), n) =>
      (f, t) -> (if (t == "END") n - withheld.getOrElse(f, 0L) else n)
    }.filter(_._2 > 0)
    assert(streamed == expected,
      s"stream-only=${streamed.toSet -- expected.toSet}, " +
        s"expected-only=${expected.toSet -- streamed.toSet}")
  }

  test("streaming Holt daily smoothing (e28's kappa twin): emitted " +
      "trajectory equals the batch fold over closed days, bit-exact") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val all = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent].collect()
      .sortBy(e => (usOf(e.ts), e.event_id))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UserEvent]
    val q = EventStreams.holtDaily(ms.toDS())
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("holtstream").start()
    all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
      ms.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("holtstream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .groupBy(identity).view.mapValues(_.length).toMap
    // independent batch-side fold: daily counts per type in day order,
    // the last (open) day excluded, trajectory row per folded day
    val expected = all.groupBy(_.event_type).toSeq.flatMap {
      case (typ, evs) =>
        val counts = evs.groupBy(e => usOf(e.ts) / 86400000000L)
          .toSeq.sortBy(_._1).map(_._2.length.toDouble)
        val closed = counts.dropRight(1)
        var l = 0.0; var b = 0.0; var sse = 0.0
        closed.zipWithIndex.map { case (y, i) =>
          if (i == 0) { l = y; b = 0.0; sse = 0.0 }
          else {
            val nl = 0.5 * y + 0.5 * (l + b)
            val nb = 0.5 * (nl - l) + 0.5 * b
            sse = sse + (y - (l + b)) * (y - (l + b))
            l = nl; b = nb
          }
          (typ, (i + 1).toLong, l, b, sse)
        }
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(streamed.nonEmpty, "no Holt rows emitted")
    assert(streamed == expected,
      s"stream-only=${streamed.keySet -- expected.keySet}, " +
        s"expected-only=${expected.keySet -- streamed.keySet}")
  }

  test("streaming Holt-Winters daily smoothing (e30's kappa twin): " +
      "emitted trajectory equals the batch init+fold over closed days, " +
      "bit-exact") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val all = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent].collect()
      .sortBy(e => (usOf(e.ts), e.event_id))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UserEvent]
    val q = EventStreams.holtWintersDaily(ms.toDS())
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("hwstream").start()
    all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
      ms.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("hwstream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .groupBy(identity).view.mapValues(_.length).toMap
    // independent batch-side replay of e30's init + rotating-slot fold
    // over the closed-day prefix (last, open day excluded)
    val expected = all.groupBy(_.event_type).toSeq.flatMap {
      case (typ, evs) =>
        val counts = evs.groupBy(e => usOf(e.ts) / 86400000000L)
          .toSeq.sortBy(_._1).map(_._2.length.toDouble)
        val closed = counts.dropRight(1)
        if (closed.length < 8) Nil
        else {
          val l0 = closed.take(7).foldLeft(0.0)(_ + _) / 7.0
          var l = l0; var b = 0.0; var sse = 0.0
          var seas = closed.take(7).map(_ - l0)
          closed.drop(7).zipWithIndex.map { case (y, i) =>
            val sOld = seas.head
            val nl = 0.5 * (y - sOld) + 0.5 * (l + b)
            val nb = 0.5 * (nl - l) + 0.5 * b
            val ns = 0.5 * (y - nl) + 0.5 * sOld
            sse = sse + (y - (l + b + sOld)) * (y - (l + b + sOld))
            l = nl; b = nb; seas = seas.tail :+ ns
            (typ, (i + 8).toLong, l, b, seas.head, sse)
          }
        }
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(streamed.nonEmpty, "no Holt-Winters rows emitted")
    assert(streamed == expected,
      s"stream-only=${streamed.keySet -- expected.keySet}, " +
        s"expected-only=${expected.keySet -- streamed.keySet}")
  }

  test("streaming TWAP intervals (e26's kappa twin): emitted interval " +
      "multiset equals the batch lead-window derivation exactly — " +
      "open intervals are precisely the lead-IS-NULL rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent].collect()
      .sortBy(e => (e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000,
        e.event_id))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UserEvent]
    val q = EventStreams.twapIntervals(ms.toDS())
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("twapstream").start()
    all.grouped(math.max(1, all.length / 4 + 1)).foreach { chunk =>
      ms.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    def census(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val streamed = census(spark.table("twapstream").collect())
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val batch = census(spark.read.parquet(stagedDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("tus"))
      .withColumn("nxt", lead(col("tus"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type"), expr("(nxt - tus) div 1000000")
        .as("dur_s"), col("value"))
      .collect())
    assert(streamed.nonEmpty, "no intervals emitted")
    assert(streamed == batch,
      s"stream-only=${streamed.toSet -- batch.toSet}, " +
        s"batch-only=${batch.toSet -- streamed.toSet}")
  }

  test("state-store introspection: the statestore batch source reads a " +
      "streaming aggregation's keyed state out of the checkpoint and it " +
      "equals the batch aggregate; state-metadata lists the operator — " +
      "the ops surface for debugging 100 TB streams without replay") {
    val ckpt = Files.createTempDirectory("graft-ss-ck").toString
    val agg = EventStreams.readEventStream(spark, stagedDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("ssagg").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    // the state rows ARE the aggregation buffers: key struct + value
    // struct (one long buffer field for count) + partition_id
    val state = spark.read.format("statestore").load(ckpt)
    val valueField = state.select(col("value.*")).schema.fields
      .find(_.dataType == org.apache.spark.sql.types.LongType)
      .getOrElse(fail("no long buffer field in state value")).name
    val fromState = state
      .select(col("key.event_type").as("event_type"),
        col(s"value.`$valueField`").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet(stagedDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromState == batch,
      s"state=$fromState\nbatch=$batch")
    // the companion state-metadata source names the stateful operator
    // and its partition layout
    val meta = spark.read.format("state-metadata").load(ckpt)
    val ops = meta.select(col("operatorName")).collect().map(_.getString(0))
    assert(ops.nonEmpty && ops.exists(_.contains("stateStoreSave")),
      s"unexpected operators: ${ops.mkString(",")}")
  }

  test("streaming contamination gate (x57's kappa twin, the 16th): " +
      "the eval probe set grows across micro-batches — a benchmark " +
      "registered in an early batch flags a leaked training doc " +
      "arriving two batches later; every day's verdicts equal the " +
      "batch replay bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.queries.TextOps
    val incomingSrcs = Seq("src16", "src17", "src18", "src19")
    val docs = Catalog.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint()
    // planted benchmark + leak (x44's synthesize→detect): ids chosen
    // BY the holdout rule itself so the benchmark is eval and the
    // leak is train; the benchmark arrives day 2, its verbatim leak
    // day 4 — only cross-batch probe-set state can connect them
    def pct(id: Long) = Math.floorMod(
      graft.functions.PortableHash.h60(s"x57_$id"), 100L)
    val evalId = (1000000L to 1000200L).find(pct(_) >= 90).get
    val leakId = (1000000L to 1000200L).find(pct(_) < 90).get
    val bench = "the quick brown fox jumps over the lazy dog while " +
      "reciting benchmark answers verbatim"
    val nGrams = bench.split("\\s+").length - 7
    val all = docs.unionByName(Seq(
        (evalId, bench, "src17"), (leakId, bench, "src19"))
      .toDF("doc_id", "text", "source")).localCheckpoint()
    val history = all.filter(!col("source").isin(incomingSrcs: _*))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap[
      Long, Array[(Long, Long, Boolean)]]()
    val q = graft.streaming.DecontamStream.contaminationGate(
      history, ms.toDF().toDF("doc_id", "text"),
      onVerdicts = (id, v) => got(id) = v.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2))))
    incomingSrcs.foreach { src =>
      ms.addData(all.filter(col("source") === src)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.size == incomingSrcs.size,
      s"expected ${incomingSrcs.size} micro-batches, saw ${got.keys}")
    val orderedIds = got.keys.toSeq.sorted
    // the planted leak is flagged on day 4 with EXACTLY the planted
    // gram count — the day-2 benchmark did the flagging
    val day4 = got(orderedIds(3)).find(_._1 == leakId)
      .getOrElse(fail(s"no verdict row for planted leak $leakId"))
    assert(day4._2 == nGrams && day4._3,
      s"planted leak verdict $day4, expected ($leakId, $nGrams, true)")
    // batch replay: day i's verdicts recomputed from scratch against
    // the probe set of history + days <= i
    def gramsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), TextOps.words(col("text")).as("toks"))
      .withColumn("is_eval", TextOps.evalHoldout(col("doc_id")))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), col("is_eval"),
        explode(TextOps.grams8(col("toks"))).as("g"))
    incomingSrcs.zipWithIndex.foreach { case (src, i) =>
      val visible = all.filter(!col("source").isin(incomingSrcs: _*) ||
        col("source").isin(incomingSrcs.take(i + 1): _*))
      val probe = gramsOf(visible).filter(col("is_eval"))
        .select(col("g")).distinct()
      val dayDocs = all.filter(col("source") === src)
      val hits = gramsOf(dayDocs).filter(!col("is_eval"))
        .join(probe, "g").groupBy(col("doc_id"))
        .agg(count(lit(1)).as("hits"))
      val expect = dayDocs
        .withColumn("is_eval", TextOps.evalHoldout(col("doc_id")))
        .filter(!col("is_eval")).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      val streamed = got(orderedIds(i)).sortBy(_._1).toSeq
      assert(streamed == expect,
        s"day $i ($src): streamed verdicts != batch replay")
    }
  }
}
