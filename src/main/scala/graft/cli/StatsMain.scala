package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType}

/** `stats` command: ANALYZE-style statistics collection persisted to
  * the tracker directory — the missing half of stats-driven `plan`
  * impact estimation: with stats STORED, `plan` becomes a pure
  * metadata operation (the PostgreSQL pg_stats posture) instead of
  * scanning the target tables at plan time.
  *
  * For every `<table>.parquet` in dataDir (or the `--tables` subset):
  * ONE aggregate per table (q77's scan-once multi-sketch discipline)
  * computing the table row count and, per numeric column, null count,
  * exact NDV, min/max, and the 7 octile boundaries over integer cents
  * (q83's equi-depth histogram statistic — integer quantiles are
  * engine-exact where double quantiles are not). Written as one row
  * per (table, column) to `<trackerDir>/table_stats.parquet`,
  * overwriting the previous collection (stats are a snapshot, not a
  * log — `collected_ms` records when). A missing data directory fails
  * before any session starts.
  */
object StatsMain {

  /** Octile fractions shared with q83 / PlanMain's estimator. */
  val octiles: Seq[Double] = Seq(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875)

  def run(c: GraftMain.Stats, session: CliSpark.LazySession): Unit = {
    val GraftMain.Stats(dataDir, trackerDir, tables) = c
    val dir = java.nio.file.Paths.get(dataDir)
    if (!java.nio.file.Files.isDirectory(dir))
      throw new IllegalArgumentException(
        s"cannot read data directory $dataDir: missing or not a directory")
    val found = java.nio.file.Files.list(dir).iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    while (found.hasNext) {
      val p = found.next().getFileName.toString
      if (p.endsWith(".parquet")) all += p.stripSuffix(".parquet")
    }
    val spark = session.get
    val selected = tables.getOrElse(all.toSeq.sorted)
    val rows = selected.flatMap { tn =>
      val path = s"$dataDir/$tn.parquet"
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(path))) {
        System.err.println(s"stats: no such table $path — skipped")
        Seq.empty
      } else collectTable(spark, tn, path)
    }
    if (rows.isEmpty) throw new IllegalStateException("stats: nothing collected")
    import spark.implicits._
    val now = System.currentTimeMillis()
    rows.toDF("table_name", "col_name", "n_rows", "null_count",
        "ndv", "vmin_cents", "vmax_cents", "octiles_cents")
      .withColumn("collected_ms", lit(now))
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$trackerDir/table_stats.parquet")
    val nTables = rows.map(_._1).distinct.size
    println(s"Collected stats for $nTables table(s), " +
      s"${rows.size} column row(s) -> $trackerDir/table_stats.parquet")
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, rs) =>
      println(s"  $t: ${rs.head._3} rows, ${rs.size} column(s)")
    }
  }

  /** One scan-once aggregate for a table: EVERY column gets a row
    * with (n_rows, null_count, ndv); numeric columns additionally get
    * min/max and the 7 octile boundaries over integer cents (q83's
    * equi-depth statistic). Null count on non-numeric columns is what
    * gates SET NOT NULL on text/date columns.
    */
  private def collectTable(spark: SparkSession, tn: String,
      path: String): Seq[(String, String, Long, Long, Long, Long, Long,
        Seq[Long])] = {
    val df = graft.queries.Catalog.parquet(spark, path)
    val allCols = df.schema.fields.map(_.name).toSeq
    val numCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSet
    val pre = df.select(col("*") +: numCols.toSeq.map(c =>
      round(col(c).cast(DoubleType) * 100).cast("long")
        .as(s"__c_$c")): _*)
    val aggs = count(lit(1)).as("n_rows") +: allCols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"nul_$c"),
        countDistinct(col(c)).as(s"ndv_$c")) ++
        (if (numCols(c)) Seq(
          min(col(s"__c_$c")).as(s"mn_$c"),
          max(col(s"__c_$c")).as(s"mx_$c"),
          expr(s"percentile(__c_$c, array(${octiles.mkString("d,")}d))")
            .as(s"oct_$c"))
        else Seq.empty)
    }
    val r = pre.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = r.getAs[Long]("n_rows")
    allCols.map { c =>
      val (mn, mx, oct) =
        if (numCols(c))
          (Option(r.getAs[Any](s"mn_$c")).map(_.asInstanceOf[Long])
             .getOrElse(0L),
           Option(r.getAs[Any](s"mx_$c")).map(_.asInstanceOf[Long])
             .getOrElse(0L),
           Option(r.getAs[scala.collection.Seq[Double]](s"oct_$c"))
             .map(_.toSeq).getOrElse(Seq.empty)
             .map(v => math.round(v)))
        else (0L, 0L, Seq.empty[Long])
      (tn, c, n, r.getAs[Long](s"nul_$c"), r.getAs[Long](s"ndv_$c"),
        mn, mx, oct)
    }
  }
}
