package graft.cli

import graft.analyzer.Analyzer
import graft.classify.SqlClassifier
import graft.loader.MigrationLoader
import graft.model.{EngineConfig, Severity}
import graft.queries.Catalog
import graft.tracker.ParquetTracker
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** `plan` command: pre-apply impact estimation — the reference's
  * Phase-7 stub (`internal/cli/plan.go:22-26`,
  * `plans/checklist.md:112-123`), implemented per its checklist: for
  * each *pending* migration, the statements it will run, the locks
  * they take, whether execution is transactional (CONCURRENTLY ops are
  * not), danger findings, and the would-block verdict the apply gate
  * will reach.
  *
  * `--pending-only` implements the flag the reference registers on the
  * stub (`plan.go:19`): by default the plan lists EVERY migration (the
  * applied ones as one-line status rows), with the flag it restricts
  * to pending — the view a CI gate wants.
  *
  * `--stats-dir DIR` enables the checklist's "impact estimation" half
  * (`plans/checklist.md:112-123`) by consuming the engine's own stats
  * family: for each rewrite-class finding whose target table exists as
  * `DIR/<table>.parquet`, prints the estimated affected rows (q77's
  * row-count stat — table rewrite / validation scan / index build all
  * touch every row), and for a CHECK constraint added without NOT
  * VALID with a simple numeric predicate, the estimated violating rows
  * from an 8-bucket equi-depth histogram over integer cents (q83's
  * statistic; integer-div interpolation of the straddling bucket) —
  * the per-finding numbers m11_plan_impact_estimate hash-verifies
  * against DuckDB.
  */
object PlanMain {

  /** Rewrite-class rules and the mechanism the estimate describes. */
  private val mechanisms: Map[String, String] = Map(
    "alter-column-type" -> "full table rewrite",
    "add-constraint-without-not-valid" -> "validation scan",
    "create-index-not-concurrent" -> "index build scan",
    "set-not-null" -> "validation scan",
    "vacuum-full" -> "full table rewrite",
    "drop-table" -> "drops all rows")

  /** One stored (table, column) statistic row from
    * trackerDir/table_stats.parquet (see [[StatsMain]]).
    */
  final case class StoredStat(nRows: Long, nullCount: Long,
      vminCents: Long, vmaxCents: Long, octilesCents: Seq[Long])

  /** Violator estimate from STORED octile boundaries alone — no data
    * access: 8 equal-depth buckets with edges (vmin, b1..b7, vmax),
    * depth = non-null rows / 8, full buckets above the cut counted
    * whole, the straddling bucket linearly interpolated.
    */
  private[cli] def estimateGeStored(st: StoredStat, cut: Long): Long = {
    val edges = (st.vminCents +: st.octilesCents) :+ st.vmaxCents
    val depth = (st.nRows - st.nullCount).toDouble / 8.0
    val est = edges.sliding(2).map { case Seq(lo, hi) =>
      if (lo >= cut) depth
      else if (hi >= cut && hi > lo) depth * (hi - cut).toDouble / (hi - lo)
      else 0.0
    }.sum
    math.round(est)
  }

  /** Estimated rows with cents >= cut from an 8-bucket equi-depth
    * histogram (full buckets counted whole; the straddling bucket
    * interpolated with integer division — m11's exact arithmetic).
    */
  private[cli] def estimateGe(
      hist: Seq[(Long, Long, Long)], cut: Long): Long =
    hist.map { case (n, mn, mx) =>
      if (mn >= cut) n
      else if (mx >= cut && mx > mn) n * (mx - cut) / (mx - mn)
      else 0L
    }.sum

  /** Histogram-estimated violator count for `CHECK (col op num)` on
    * `statsDir/<table>.parquet`, if the column exists and is numeric.
    * Works in integer cents so bucket arithmetic is exact: violators
    * of `col < X` are rows with cents >= 100X; `<=` shifts the cut by
    * one cent; `>` / `>=` count from the other side via the total.
    */
  private def estimateCheckViolations(spark: => SparkSession,
      statsDir: String, table: String, colName: String, op: String,
      num: String): Option[Long] = {
    val p = java.nio.file.Paths.get(statsDir, s"$table.parquet")
    if (!java.nio.file.Files.exists(p)) return None
    val df0 = Catalog.parquet(spark, p.toString)
    if (!df0.columns.contains(colName) ||
      !df0.schema(colName).dataType.isInstanceOf[NumericType]) return None
    val c = df0.select(round(col(colName) * 100).cast("long").as("cents"))
      .na.drop()
    val b = c.agg(expr("percentile(cents, array(" +
      "0.125d, 0.25d, 0.375d, 0.5d, 0.625d, 0.75d, 0.875d))").as("qs"))
    val hist = c.crossJoin(broadcast(b))
      .withColumn("bucket", size(filter(col("qs"), q => q < col("cents"))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("mn"),
        max(col("cents")).as("mx"))
      .collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("mn"),
        r.getAs[Long]("mx"))).toSeq
    if (hist.isEmpty) return Some(0L)
    val total = hist.map(_._1).sum
    op match {
      case "<"  => Some(estimateGe(hist, centsCeil(num)))
      case "<=" => Some(estimateGe(hist, centsFloor(num) + 1))
      case ">"  => Some(total - estimateGe(hist, centsFloor(num) + 1))
      case ">=" => Some(total - estimateGe(hist, centsCeil(num)))
      case _    => None
    }
  }

  /** Centi-unit cut for a CHECK literal with arbitrary decimal places
    * (`toLongExact` threw on e.g. `99.999`): violators of `col < X`
    * are `cents >= ceil(100·X)`, of `col <= X` are
    * `cents >= floor(100·X) + 1` — each operator takes the rounding
    * direction that keeps the estimate's threshold exact.
    */
  private def centsCeil(num: String): Long =
    (BigDecimal(num) * 100)
      .setScale(0, scala.math.BigDecimal.RoundingMode.CEILING).toLong
  private def centsFloor(num: String): Long =
    (BigDecimal(num) * 100)
      .setScale(0, scala.math.BigDecimal.RoundingMode.FLOOR).toLong

  /** NULL count of `col` in `statsDir/<table>.parquet` (the stat that
    * decides whether SET NOT NULL's validation scan would fail).
    */
  private def nullCount(spark: => SparkSession, statsDir: String,
      table: String, colName: String): Option[Long] = {
    val p = java.nio.file.Paths.get(statsDir, s"$table.parquet")
    if (!java.nio.file.Files.exists(p)) return None
    val df0 = Catalog.parquet(spark, p.toString)
    if (!df0.columns.contains(colName)) return None
    Some(df0.filter(col(colName).isNull).count())
  }
  def run(c: GraftMain.Plan, cfg: EngineConfig,
      session: CliSpark.LazySession): Unit = {
    val GraftMain.Plan(dir, trackerDir, pendingOnly, statsDir) = c
    val pgVersion = cfg.targetPgVersion
    // the session starts only to read stored or --stats-dir statistics
    def spark = session.get
    val migrations = MigrationLoader.loadLocal(dir)
    val tracker = new ParquetTracker(spark, trackerDir)
    tracker.ensureTable()
    val appliedSet = tracker.getApplied().map(_.version).toSet
    val pending = migrations.filterNot(m => appliedSet(m.version))
    val analyzer = new Analyzer(targetPgVersion = pgVersion)
    println(s"Plan: ${pending.length} pending migration(s) " +
      s"(${appliedSet.size} already applied; target PostgreSQL $pgVersion)\n")
    var anyBlocked = false
    // STORED stats first (graft stats → trackerDir/table_stats
    // .parquet — plan stays a pure metadata operation, the pg_stats
    // posture); --stats-dir live scans are the fallback.
    val stored: Map[(String, String), StoredStat] = {
      val p = java.nio.file.Paths.get(trackerDir, "table_stats.parquet")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else spark.read.parquet(p.toString).collect().map { r =>
        (r.getAs[String]("table_name"), r.getAs[String]("col_name")) ->
          StoredStat(r.getAs[Long]("n_rows"),
            r.getAs[Long]("null_count"),
            r.getAs[Long]("vmin_cents"), r.getAs[Long]("vmax_cents"),
            Option(r.getAs[scala.collection.Seq[Long]]("octiles_cents"))
              .map(_.toSeq).getOrElse(Seq.empty))
      }.toMap
    }
    val storedRows: Map[String, Long] =
      stored.groupBy(_._1._1).map { case (t, m) => t -> m.head._2.nRows }
    if (stored.nonEmpty)
      println(s"(using stored table stats: ${storedRows.size} " +
        "table(s) from tracker)\n")
    // per-table row-count stat: stored, else one parquet footer
    // count per table from --stats-dir (metadata-scale)
    val rowCount = scala.collection.mutable.Map.empty[String, Option[Long]]
    def tableRows(table: String): Option[Long] = rowCount.getOrElseUpdate(
      table, storedRows.get(table).orElse {
        val p = java.nio.file.Paths.get(statsDir, s"$table.parquet")
        if (statsDir.nonEmpty && java.nio.file.Files.exists(p))
          Some(Catalog.parquet(spark, p.toString).count())
        else None
      })
    val checkRe =
      ("(?i)CHECK\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*" +
        "(<=|<|>=|>)\\s*(\\d+(?:\\.\\d+)?)\\s*\\)").r.unanchored
    if (!pendingOnly) migrations.filter(m => appliedSet(m.version))
      .foreach { m =>
        println(s"${m.version} ${m.name} — already applied")
      }
    pending.foreach { m =>
      val result = analyzer.analyze(m)
      val stmts = SqlClassifier.parseOrThrow(m.upSql)
      val concurrent = SqlClassifier.containsConcurrentOp(m.upSql)
      val mode = if (concurrent) "NON-TRANSACTIONAL (CONCURRENTLY)"
        else "transactional"
      val verdict =
        if (result.hasHighOrCritical) { anyBlocked = true; "BLOCKED by apply gate (use --force)" }
        else "will apply"
      println(s"${m.version} ${m.name} — ${stmts.length} statement(s), $mode → $verdict")
      stmts.zipWithIndex.foreach { case (st, idx) =>
        val kind = st.getClass.getSimpleName.stripSuffix("$")
        println(s"    [$idx] $kind: ${SqlClassifier.truncateSql(st.sql, 70)}")
      }
      result.findings.foreach { f =>
        println(s"    ! ${Severity.label(f.severity)} [${f.rule}] " +
          s"table=${f.table} lock=${f.lockType}")
        if ((statsDir.nonEmpty || stored.nonEmpty) &&
            f.table != null && f.table.nonEmpty)
          for (mech <- mechanisms.get(f.rule); n <- tableRows(f.table)) {
            println(s"      ~ impact: $mech ≈ $n row(s) of ${f.table}")
            val stmtSql =
              if (f.stmtIndex >= 0 && f.stmtIndex < stmts.length)
                stmts(f.stmtIndex).sql
              else ""
            if (f.rule == "add-constraint-without-not-valid")
              stmtSql match {
                case checkRe(colName, op, num) =>
                  stored.get((f.table, colName))
                    .filter(_.octilesCents.size == 7) match {
                    case Some(st) =>
                      val nn = st.nRows - st.nullCount
                      val est = op match {
                        case "<"  => estimateGeStored(st, centsCeil(num))
                        case "<=" =>
                          estimateGeStored(st, centsFloor(num) + 1)
                        case ">"  =>
                          nn - estimateGeStored(st, centsFloor(num) + 1)
                        case _    => nn - estimateGeStored(st, centsCeil(num))
                      }
                      println(s"      ~ impact: ≈ $est row(s) violate " +
                        s"CHECK ($colName $op $num) — stored-stats " +
                        "octile estimate (no scan)")
                    case None =>
                      estimateCheckViolations(
                        spark, statsDir, f.table, colName, op, num)
                        .foreach { est =>
                          println(s"      ~ impact: ≈ $est row(s) " +
                            s"violate CHECK ($colName $op $num) — " +
                            "8-bucket equi-depth histogram estimate " +
                            "(live scan)")
                        }
                  }
                case _ => ()
              }
            if (f.rule == "set-not-null") {
              val colRe = ("(?i)ALTER\\s+COLUMN\\s+" +
                "([A-Za-z_][A-Za-z0-9_]*)\\s+SET\\s+NOT\\s+NULL")
                .r.unanchored
              stmtSql match {
                case colRe(colName) =>
                  stored.get((f.table, colName)).map(_.nullCount)
                    .orElse(nullCount(spark, statsDir, f.table, colName))
                    .foreach { nv =>
                      println(s"      ~ impact: $nv NULL row(s) in " +
                        s"$colName would block SET NOT NULL")
                    }
                case _ => ()
              }
            }
          }
      }
      if (m.downSql.isEmpty)
        println("    ~ no down migration — rollback will not be possible")
    }
    if (pending.isEmpty) println("(nothing to do — up to date)")
    else if (anyBlocked)
      println("\nApply would be blocked: HIGH/CRITICAL findings present.")
  }
}
