package graft

import org.apache.spark.sql.functions._

/** The plan-level extensions: the DSv2 sources (MemCatalog row-level
  * operations, OPTIMIZE, aggregate and runtime-filter pushdown, the
  * V2 function catalog, the GraftGen connector), the TopKPerKey
  * physical operator, and the WindowTopK and MV rewrite rules.
  */
class PlanGateSpec extends SparkFunSuite {

  test("row-level ops: MemDeltaCatalog plans delta-based WriteDelta, " +
      "MemCatalog plans group-based ReplaceData, and the two MERGE " +
      "postures converge to the identical table") {
    import org.apache.spark.sql.catalyst.plans.logical.CommandResult
    spark.conf.set("spark.sql.catalog.pgate_mem",
      "graft.sources.MemCatalog")
    spark.conf.set("spark.sql.catalog.pgate_delta",
      "graft.sources.MemDeltaCatalog")
    import spark.implicits._
    Seq((1L, "upd1"), (2L, "ins2"), (4L, "upd4"))
      .toDF("id", "v").createOrReplaceTempView("pgate_src")
    def runMerge(tbl: String) = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v STRING)")
      Seq((1L, "a"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "v")
        .writeTo(tbl).append()
      spark.sql(s"""MERGE INTO $tbl t USING pgate_src s ON t.id = s.id
        WHEN MATCHED AND s.id = 4 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    }
    def physical(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.commandExecuted.collectFirst {
        case c: CommandResult => c.commandPhysicalPlan.toString
      }.getOrElse(fail("no CommandResult in the executed command plan"))
    val cow = physical(runMerge("pgate_mem.ns.t1"))
    val mor = physical(runMerge("pgate_delta.ns.t2"))
    assert(cow.contains("ReplaceData"), s"expected copy-on-write:\n$cow")
    assert(mor.contains("WriteDelta"), s"expected merge-on-read:\n$mor")
    assert(!mor.contains("ReplaceData"), mor)
    // identical final state: update applied, id=4 deleted, id=2
    // inserted, unmatched 3/5 untouched
    val a = spark.table("pgate_mem.ns.t1").orderBy("id")
      .collect().toSeq
    val b = spark.table("pgate_delta.ns.t2").orderBy("id")
      .collect().toSeq
    assert(a == b)
    assert(a.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((1L, "upd1"), (2L, "ins2"), (3L, "c"), (5L, "e")))
    // UPDATE and DELETE ride the same delta machinery
    spark.sql("UPDATE pgate_delta.ns.t2 SET v = 'vip' WHERE id = 3")
    spark.sql("DELETE FROM pgate_delta.ns.t2 WHERE id = 5")
    assert(spark.table("pgate_delta.ns.t2").orderBy("id")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((1L, "upd1"), (2L, "ins2"), (3L, "vip")))
  }

  test("q110 machinery: OPTIMIZE bin-packs the head layout without " +
      "touching rows (scan partitions drop to the packed file count, " +
      "time travel across the optimize commit still works); snapshot " +
      "expiry drops old data, keeps commit-log metadata, and VERSION " +
      "AS OF an expired snapshot fails cleanly") {
    import graft.sources.{MemMaintenance, MemTableStore}
    spark.conf.set("spark.sql.catalog.pgate_opt",
      "graft.sources.MemCatalog")
    import spark.implicits._
    val tbl = "pgate_opt.ns.t3"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v STRING)")
    // 6 single-task appends of 2 rows each -> 6 small files
    (0 until 6).foreach { i =>
      Seq((i * 2L, s"a$i"), (i * 2L + 1, s"b$i")).toDF("id", "v")
        .coalesce(1).writeTo(tbl).append()
    }
    val st = MemTableStore.lookup("pgate_opt", "ns", "t3").get
    assert(st.fileSizes.last == Vector.fill(6)(2))
    assert(spark.table(tbl).rdd.getNumPartitions == 6)
    // pure bin-pack contract: totals preserved, big files stay alone
    assert(MemMaintenance.binPack(Vector(2, 2, 2, 2, 2, 2), 5) ==
      Vector(6, 6))
    assert(MemMaintenance.binPack(Vector(10, 1, 1, 10, 1), 5) ==
      Vector(10, 12, 1))
    val (before, after) =
      MemMaintenance.optimize("pgate_opt", "ns", "t3", targetRows = 5)
    assert(before == 6 && after == 2)
    assert(st.kinds.last == "optimize")
    assert(spark.table(tbl).rdd.getNumPartitions == 2)
    val rowsAfter = spark.table(tbl).orderBy("id").collect().toSeq
    assert(rowsAfter.length == 12 &&
      rowsAfter.map(_.getLong(0)) == (0L until 12L))
    // time travel across the optimize commit: version 3 (after the
    // 3rd append) still reads its 6 rows
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 3").count() == 6)
    // expire: 8 versions (create + 6 appends + optimize), keep last 2
    val expired =
      MemMaintenance.expireSnapshots("pgate_opt", "ns", "t3", keepLast = 2)
    assert(expired == 6 && st.expiredBelow == 6)
    // head + retained versions still read
    assert(spark.table(tbl).count() == 12)
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 7").count() == 12)
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 6").count() == 12)
    // an expired version fails CLEANLY with the retention message
    val ex = intercept[Exception] {
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 3").count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("EXPIRED")),
      s"expected a clean EXPIRED error, got: ${chain(ex).mkString(" | ")}")
    // commit-log metadata survives expiry for EVERY version
    assert(st.kinds.length == 8 && st.rowCounts.length == 8 &&
      st.fileSizes.length == 8)
    assert(st.rowCounts == Vector(0L, 2L, 4L, 6L, 8L, 10L, 12L, 12L))
    assert(st.fileSizes.last == Vector(6, 6))
    // expired data arrays really are dropped
    assert(st.history(3) == null && st.history(7) != null)
  }

  test("q112 machinery: global count/min/max over a mem table plan " +
      "the metadata-only MemAggScan (zero data read); filtered, " +
      "grouped, and unsupported-function shapes fall back to the row " +
      "scan; stats follow a row-level DELETE") {
    spark.conf.set("spark.sql.catalog.pgate_magg",
      "graft.sources.MemCatalog")
    import spark.implicits._
    val tbl = "pgate_magg.ns.t4"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT)")
    (0 until 3).foreach { i =>
      Seq((i * 10L, 1L), (i * 10L + 5, 2L)).toDF("id", "v")
        .coalesce(1).writeTo(tbl).append()
    }
    def planOf(sql: String): (String, Seq[org.apache.spark.sql.Row]) = {
      val df = spark.sql(sql)
      (df.queryExecution.executedPlan.toString, df.collect().toSeq)
    }
    val (p1, r1) = planOf(
      s"SELECT count(*), count(id), min(id), max(id) FROM $tbl")
    assert(p1.contains("MemAggScan"), s"expected metadata scan:\n$p1")
    assert(r1.head.getLong(0) == 6 && r1.head.getLong(1) == 6 &&
      r1.head.getLong(2) == 0 && r1.head.getLong(3) == 25, r1.toString)
    // filtered: every filter is residual, so Spark must NOT push the
    // aggregate — a stale metadata answer can never serve it
    val (p2, r2) = planOf(
      s"SELECT count(*) FROM $tbl WHERE id >= 10")
    assert(!p2.contains("MemAggScan"), p2)
    assert(r2.head.getLong(0) == 4)
    // grouped: not answerable from global stats
    val (p3, r3) = planOf(
      s"SELECT v, count(*) FROM $tbl GROUP BY v ORDER BY v")
    assert(!p3.contains("MemAggScan"), p3)
    assert(r3.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 3L), (2L, 3L)))
    // unsupported function: falls back whole (all-or-nothing)
    val (p4, r4) = planOf(s"SELECT sum(id), count(*) FROM $tbl")
    assert(!p4.contains("MemAggScan"), p4)
    assert(r4.head.getLong(0) == 75 && r4.head.getLong(1) == 6)
    // stats follow row-level writes: delete the low keys, metadata
    // min moves past the deleted range
    spark.sql(s"DELETE FROM $tbl WHERE id < 10")
    val (p5, r5) = planOf(s"SELECT count(*), min(id), max(id) FROM $tbl")
    assert(p5.contains("MemAggScan"), p5)
    assert(r5.head.getLong(0) == 4 && r5.head.getLong(1) == 10 &&
      r5.head.getLong(2) == 25, r5.toString)
  }

  test("q113 machinery: runtime file pruning — the build side of a " +
      "join hands its keys to the scan (SupportsRuntimeFiltering) and " +
      "files outside the key set are dropped at EXECUTION time; " +
      "without the join the scan plans every file") {
    spark.conf.set("spark.sql.catalog.pgate_rf",
      "graft.sources.MemCatalog")
    import spark.implicits._
    val tbl = "pgate_rf.ns.t5"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT)")
    // 8 key-range files: file b covers ids [b*10, b*10+9]
    (0 until 8).foreach { b =>
      (0 until 10).map(j => (b * 10L + j, j.toLong)).toDF("id", "v")
        .coalesce(1).writeTo(tbl).append()
    }
    // baseline: a full ROW scan plans all 8 files (collect, not
    // count() — count() is answered by q112's metadata path and never
    // touches the row scan)
    assert(spark.table(tbl).collect().length == 80)
    assert(graft.sources.MemScanTelemetry
      .lastScan("pgate_rf", "ns", "t5").contains((8, 8)))
    // build side: 3 selected keys, all inside two files (buckets 2
    // and 5). A real table, not a LocalRelation — ConvertToLocal
    // Relation would fold the selective filter away before the DPP
    // rule looks for it
    val dim = "pgate_rf.ns.d5"
    spark.sql(s"DROP TABLE IF EXISTS $dim")
    spark.sql(s"CREATE TABLE $dim (k BIGINT NOT NULL, cat STRING)")
    Seq((25L, "x"), (27L, "x"), (51L, "x"), (99L, "y"))
      .toDF("k", "cat").coalesce(1).writeTo(dim).append()
    val joined = spark.sql(
      s"""SELECT /*+ BROADCAST(d) */ f.id, f.v FROM $tbl f
         JOIN $dim d ON f.id = d.k
         WHERE d.cat = 'x'""")
    val rows = joined.collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(25L, 27L, 51L))
    val planStr = joined.queryExecution.executedPlan.toString
    val scanned = graft.sources.MemScanTelemetry
      .lastScan("pgate_rf", "ns", "t5")
    // runtime filtering fired: the scan planned only the files whose
    // (min, max) range can contain a build-side key — 2 of 8
    assert(scanned.contains((8, 2)),
      s"expected runtime pruning to 2 of 8 files, telemetry=$scanned;" +
        s" plan:\n$planStr")
    // row-level safety: the MERGE target scan must NEVER be
    // runtime-pruned — the group here is the whole table, so the
    // replace write rewrites exactly what the scan produced, and a
    // pruned scan would silently drop the other files' rows at commit
    spark.sql(s"""MERGE INTO $tbl t USING (SELECT CAST(25 AS BIGINT)
      AS k) s ON t.id = s.k WHEN MATCHED THEN UPDATE SET v = 999""")
    val after = spark.table(tbl).collect()
    assert(after.length == 80,
      s"rows lost through a runtime-pruned row-level scan: ${after.length}")
    assert(after.find(_.getLong(0) == 25L).get.getLong(1) == 999L)
  }

  test("V2 catalog functions resolve through GraftFunctionCatalog and " +
      "compile to the codegen'd Invoke path (magic method), not the " +
      "row-boxing ApplyFunctionExpression fallback") {
    spark.conf.set("spark.sql.catalog.pgate_fn",
      "graft.sources.GraftFunctionCatalog")
    // non-foldable inputs (a range column) — literal arguments would
    // be constant-folded and the call node would vanish from the plan
    val df = spark.sql(
      "SELECT pgate_fn.ns.h60(cast(id as string)) AS h, " +
        "pgate_fn.ns.cosinef(array(cast(id as float), " +
        "cast(1.0 as float)), array(cast(id as float), " +
        "cast(1.0 as float))) AS c " +
        "FROM range(3)")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("invoke") || plan.contains("Invoke"), plan)
    assert(!plan.contains("ApplyFunctionExpression"), plan)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 3).map(i => graft.functions.PortableHash.h60(i.toString))
        .sorted.toSeq)
    // self-cosine ≈ 1 up to the sqrt·sqrt double rounding (x/√x/√x is
    // NOT exactly 1 in IEEE arithmetic)
    assert(df.collect().forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }

  test("TopKPerKey custom physical operator: partial-below-exchange " +
      "plan shape, row-identical to the window formulation, and " +
      "unplannable once the strategy is uninstalled") {
    import graft.plans.TopKPerKey
    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_extendedprice"))
    TopKPerKey.install(spark)
    try {
      val custom = TopKPerKey(li, Seq("l_orderkey"),
        Seq(("l_extendedprice", true), ("l_linenumber", false),
          ("l_partkey", false)), 2)
      // plan carries BOTH stages: partial (map side) and final (after
      // the clustered exchange)
      val execs = custom.queryExecution.executedPlan.toString
      assert("TopKPerKey".r.findAllIn(execs).size >= 2, execs)
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"),
          col("l_partkey"))
      val windowed = li.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice"))
      val key = (r: org.apache.spark.sql.Row) => r.toSeq.mkString("|")
      assert(custom.collect().map(key).sorted.toSeq ==
        windowed.collect().map(key).sorted.toSeq)
    } finally TopKPerKey.uninstall(spark)
    // uninstalled: the node must FAIL planning, never silently fall
    // back to a wrong plan
    intercept[Exception] {
      TopKPerKey(li, Seq("l_orderkey"),
        Seq(("l_extendedprice", true)), 2).collect()
    }
  }

  test("WindowTopKRewrite: installed, it rewrites the row_number " +
      "filter pattern to TopKPerKeyExec (no WindowExec), row-identical " +
      "to the unrewritten window plan; rank/kept-rank/global shapes " +
      "are left alone") {
    import graft.plans.{SessionRules, TopKPerKey, WindowTopKRewrite}
    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_extendedprice"))
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"),
        col("l_partkey"))
    def topk = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
    val plain = topk.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    TopKPerKey.install(spark)
    try SessionRules.withRule(spark, WindowTopKRewrite) {
      val q = topk
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), plan)
      assert(!plan.toLowerCase.contains("window"), plan)
      assert(q.collect().map(_.toSeq.mkString("|")).sorted.toSeq == plain)
      // rank() admits > k rows on ties — must NOT rewrite
      val ranked = li.withColumn("rn", rank().over(w))
        .filter(col("rn") <= 2).drop("rn")
      assert(!ranked.queryExecution.executedPlan.toString
        .contains("TopKPerKey"))
      // rn kept in the output — the heap operator cannot produce it
      val kept = li.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
      assert(!kept.queryExecution.executedPlan.toString
        .contains("TopKPerKey"))
      // degenerate literals must NOT rewrite (and must stay
      // always-false): a Long that wraps to 2 under toInt, and the
      // rn < 1 / rn <= 0 bounds whose k would be 0
      for (absurd <- Seq(
          li.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= lit(-4294967294L)).drop("rn"),
          li.withColumn("rn", row_number().over(w))
            .filter(col("rn") < 1).drop("rn"),
          li.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 0).drop("rn"))) {
        assert(!absurd.queryExecution.executedPlan.toString
          .contains("TopKPerKey"),
          absurd.queryExecution.executedPlan.toString)
        assert(absurd.count() == 0L)
      }
    } finally TopKPerKey.uninstall(spark)
  }

  test("MvRewrite: the registered daily-count MV serves the plain " +
      "aggregate (optimized plan reads the MV parquet, not the fact " +
      "table) with identical rows; DISTINCT / shifted-day / extra-" +
      "grouping shapes are left on the base table") {
    import graft.plans.{MvRewrite, SessionRules}
    val events = graft.queries.Catalog.t(spark, sf0001, "events")
    def rollup = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val plain = rollup.collect()
      .map(_.toSeq.toVector).sortBy(_.mkString("|")).toSeq
    val mvPath = java.nio.file.Files
      .createTempDirectory("graft-mv").toString + "/mv"
    rollup.write.parquet(mvPath)
    val daySql = rollup.queryExecution.optimizedPlan.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.collectFirst {
          case a: org.apache.spark.sql.catalyst.expressions.Alias
              if a.child.dataType ==
                org.apache.spark.sql.types.DateType => a.child.sql
        }
    }.flatten.getOrElse(fail("no day expression found"))
    SessionRules.withRule(spark,
        MvRewrite(mvPath, "events.parquet", daySql)) {
      val q = rollup
      // logical Relation nodes don't print paths — the FileScan in the
      // executed plan does
      val phys = q.queryExecution.executedPlan.toString
      assert(phys.contains("graft-mv"), s"MV not in plan:\n$phys")
      assert(!phys.contains("events.parquet"),
        s"base table still scanned:\n$phys")
      // and the rewrite removed the aggregation entirely
      assert(!q.queryExecution.optimizedPlan.toString
        .contains("Aggregate"),
        q.queryExecution.optimizedPlan.toString)
      assert(q.collect().map(_.toSeq.toVector)
        .sortBy(_.mkString("|")).toSeq == plain,
        "MV-served rows diverge from the recompute")
      // count(DISTINCT …) cannot be served by a count MV
      val distinctQ = events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("n"))
      val distinctPhys = distinctQ.queryExecution.executedPlan.toString
      assert(!distinctPhys.contains("graft-mv") &&
        distinctPhys.contains("events.parquet"), distinctPhys)
      // a DIFFERENT date bucketing must not match the daySql guard
      val shifted = events
        .groupBy(col("event_type"),
          to_date(expr("ts + interval 1 day")).as("day"))
        .agg(count(lit(1)).as("n"))
      val shiftedPhys = shifted.queryExecution.executedPlan.toString
      assert(!shiftedPhys.contains("graft-mv") &&
        shiftedPhys.contains("events.parquet"), shiftedPhys)
      // finer grouping than the MV stores
      val extra = events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
      val extraPhys = extra.queryExecution.executedPlan.toString
      assert(!extraPhys.contains("graft-mv") &&
        extraPhys.contains("events.parquet"), extraPhys)
    }
    // schema-drift guard: an MV whose n column drifted to INT (or day
    // to TIMESTAMP) must NOT be served — same name check passes, the
    // dataType check sends the query back to the base table with
    // correct results instead of silently changing output types
    val driftPath = java.nio.file.Files
      .createTempDirectory("graft-mvdrift").toString + "/mv"
    rollup.select(col("event_type"), col("day"),
      col("n").cast("int").as("n")).write.parquet(driftPath)
    SessionRules.withRule(spark,
        MvRewrite(driftPath, "events.parquet", daySql)) {
      val driftQ = rollup
      val driftPhys = driftQ.queryExecution.executedPlan.toString
      assert(!driftPhys.contains("graft-mvdrift") &&
        driftPhys.contains("events.parquet"),
        s"drifted MV served despite type mismatch:\n$driftPhys")
      assert(driftQ.collect().map(_.toSeq.toVector)
        .sortBy(_.mkString("|")).toSeq == plain)
    }
  }

  test("q84 and e35 leave no session state behind: the optimizer " +
      "rules they install are gone afterwards, and no spark.graft " +
      "conf key is set") {
    val before = spark.experimental.extraOptimizations
    for (name <- Seq("q84_window_topk_rewrite", "e35_mv_rewrite")) {
      SparkEntry.queries(name)(spark, sf0001).collect()
      val after = spark.experimental.extraOptimizations
      assert(after == before, s"$name left optimizer rules: $after")
      val keys = spark.conf.getAll.keys.filter(_.startsWith("spark.graft."))
      assert(keys.isEmpty, s"$name left conf keys: $keys")
    }
  }

  test("TopKPerKey: partial-stage flush under a tiny byte budget " +
      "emits candidate supersets the final stage re-selects from — " +
      "rows identical to the unflushed run") {
    import graft.plans.TopKPerKey
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_extendedprice"))
    TopKPerKey.install(spark)
    try {
      def run() = TopKPerKey(li, Seq("l_orderkey"),
        Seq(("l_extendedprice", true), ("l_linenumber", false),
          ("l_partkey", false)), 3)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val unflushed = run()
      spark.conf.set("spark.graft.topk.flushBytes", "256")
      try {
        // 256 bytes ≈ a handful of rows: every partition flushes many
        // times, so this exercises the drain/rebuild path end to end
        assert(run() == unflushed)
      } finally spark.conf.unset("spark.graft.topk.flushBytes")
    } finally TopKPerKey.uninstall(spark)
  }

  test("GraftGen DSv2 connector: id-range filters push into the scan " +
      "(narrowed generated range), projection prunes ReadSchema, " +
      "partition count honors the parts option") {
    def gen(parts: String) = spark.read
      .format("graft.sources.GraftGen")
      .option("rows", "1000").option("parts", parts).load()
    val filtered = gen("4")
      .filter(col("id") >= 100L && col("id") < 200L)
      .select(col("id"))
    // pushdown: the scan's description carries the NARROWED range —
    // the generator never produces the other 90% of rows
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("range [100, 200)"), plan)
    assert(filtered.count() == 100)
    // column pruning: a bucket-only projection reads a 1-column schema
    val pruned = gen("4").select(col("bucket"))
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("cols=bucket"), prunedPlan)
    // parallelism contract: parts plans that many input partitions
    assert(gen("7").rdd.getNumPartitions == 7)
    // strict inequality variants narrow by one
    val p2 = gen("2").filter(col("id") > 10L && col("id") <= 20L)
    assert(p2.queryExecution.executedPlan.toString
      .contains("range [11, 21)"))
    assert(p2.count() == 10)
  }

  test("TopKPerKey: randomized equivalence with the window " +
      "formulation — 10 seeded trials over random rows/keys/k/flush " +
      "budgets (incl. duplicate order rows and skewed keys)") {
    import graft.plans.TopKPerKey
    import org.apache.spark.sql.expressions.Window
    val rnd = new java.util.Random(42)
    TopKPerKey.install(spark)
    try {
      for (trial <- 1 to 10) {
        val nRows = 200 + rnd.nextInt(1800)
        val nKeys = 1 + rnd.nextInt(50)
        val k = 1 + rnd.nextInt(7)
        // small budgets force mid-partition flushes on some trials
        val budget = if (rnd.nextBoolean()) "512" else "67108864"
        val rows = (1 to nRows).map { i =>
          // value domain smaller than nRows => duplicate (key, v)
          // pairs, exercising tie handling under the total order
          (rnd.nextInt(nKeys).toLong, rnd.nextInt(97).toLong, i.toLong)
        }
        val df = spark.createDataFrame(rows).toDF("key", "v", "id")
          .repartition(4 + rnd.nextInt(4))
        spark.conf.set("spark.graft.topk.flushBytes", budget)
        val custom =
          try TopKPerKey(df, Seq("key"), Seq(("v", true), ("id", false)), k)
            .collect().map(_.toSeq.mkString("|")).sorted.toSeq
          finally spark.conf.unset("spark.graft.topk.flushBytes")
        val w = Window.partitionBy(col("key"))
          .orderBy(col("v").desc, col("id"))
        val windowed = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).drop("rn")
          .collect().map(_.toSeq.mkString("|")).sorted.toSeq
        assert(custom == windowed,
          s"trial $trial (n=$nRows keys=$nKeys k=$k budget=$budget)")
      }
    } finally TopKPerKey.uninstall(spark)
  }

  test("TopKPerKey: -0.0 and 0.0 (and equal NaN bit patterns) " +
      "group as ONE key — keys are float-normalized at plan build") {
    import graft.plans.TopKPerKey
    val df = spark.createDataFrame(Seq(
      (0.0d, 1L), (-0.0d, 2L),
      (java.lang.Double.longBitsToDouble(0x7ff8000000000000L), 3L),
      (java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 4L)))
      .toDF("k", "v")
    TopKPerKey.install(spark)
    try {
      val rows = TopKPerKey(df, Seq("k"), Seq(("v", true)), 1)
        .collect()
      // without normalization: 4 groups, 4 rows; with it: the zeros
      // collapse to one key and the NaN bit patterns to another
      assert(rows.length == 2, rows.mkString(", "))
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(2L, 4L))
    } finally TopKPerKey.uninstall(spark)
  }
}
