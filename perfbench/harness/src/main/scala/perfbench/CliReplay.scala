package perfbench

import graft.analyzer.Analyzer
import graft.classify.SqlClassifier
import graft.cli.CliSpark
import graft.config.ConfigLoader
import graft.exec.{Executor, JdbcLock, JdbcRunner, MigrationLock, SqlRunner}
import graft.loader.MigrationLoader
import graft.model.AppliedMigration
import graft.rules.{Registry, RuleContext}
import graft.tracker.{ParquetTracker, Tracker}
import org.apache.spark.perfbench.ListenerBusAccess

/** Timing decorators over the executor's public traits. */
final class TimedTracker(inner: Tracker, t: Trace) extends Tracker {
  def ensureTable(): Unit = t.span("tracker.ensure_table")(inner.ensureTable())
  def isApplied(version: String): Boolean =
    t.span("tracker.is_applied")(inner.isApplied(version))
  def getApplied(): Seq[AppliedMigration] =
    t.span("tracker.get_applied")(inner.getApplied())
  def getChecksum(version: String): String =
    t.span("tracker.get_checksum")(inner.getChecksum(version))
  def recordApplied(row: AppliedMigration): Unit =
    t.span("tracker.record")(inner.recordApplied(row))
  def recordRolledBack(version: String): Unit =
    t.span("tracker.record")(inner.recordRolledBack(version))
}

final class TimedRunner(inner: SqlRunner, t: Trace) extends SqlRunner {
  def run(sql: String, transactional: Boolean): Unit =
    t.span("exec.run")(inner.run(sql, transactional))
}

final class TimedLock(inner: MigrationLock, t: Trace) extends MigrationLock {
  def acquire(): Unit = t.span("exec.lock")(inner.acquire())
  def release(): Unit = t.span("exec.lock")(inner.release())
}

/** Traced replay of the migrate_cli lifecycle in one JVM: the calls each
  * cold command makes, through the same public functions, with the
  * executor's tracker, runner and lock wrapped in timing decorators. Run
  * against fresh state (`GRAFT_WAREHOUSE`, tracker dir, Derby URL) so it
  * never touches the cold commands' state.
  *
  * Usage: perfbench.CliReplay --migrations DIR --tracker DIR
  *   --jdbc-url URL --steps K --out FILE [--spans FILE]
  */
object CliReplay {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val dir = opt("--migrations")
    val url = opt("--jdbc-url")
    val steps = opt("--steps").toInt
    val t = new Trace("cli-replay")
    val spark = t.span("cli.session")(CliSpark.session("perfbench-replay"))
    val listener = new LayerListener(t)
    t.onCurrent = id => spark.sparkContext.setLocalProperty(
      Trace.SpanKey, if (id == 0) null else id.toString)
    spark.sparkContext.addSparkListener(listener)
    val cfg = t.span("config.load")(ConfigLoader.load("migrate.yml"))

    // analyze: today's Dataset path, then the driver-side path
    val loaded = t.span("cmd.analyze") {
      val ds = t.span("loader.dataset")(
        MigrationLoader.loadSorted(spark, dir).collect())
      t.span("analyzer.dataset")(new Analyzer(targetPgVersion =
        cfg.targetPgVersion).analyzeDs(MigrationLoader.loadSorted(spark, dir))
        .collect())
      ds.length
    }
    val ms = t.span("loader.local")(MigrationLoader.loadLocal(dir))
    val parsed = t.span("classify.parse")(
      ms.map(m => SqlClassifier.parseOrThrow(m.upSql)))
    val findings = t.span("rules.check")(parsed.map { stmts =>
      stmts.zipWithIndex.flatMap { case (s, i) =>
        Registry.defaultRules.flatMap(
          _.check(s, RuleContext(cfg.targetPgVersion, i)))
      }.length + Registry.defaultFileRules
        .flatMap(_.checkFile(stmts, cfg.targetPgVersion)).length
    }.sum)
    val analyzed = t.span("analyzer.local")(
      new Analyzer(targetPgVersion = cfg.targetPgVersion).analyzeAll(ms))

    val tracker = new TimedTracker(
      new ParquetTracker(spark, opt("--tracker")), t)
    val ex = new Executor(tracker,
      new TimedRunner(new JdbcRunner(url, cfg.lockTimeoutMs,
        cfg.statementTimeoutMs), t),
      new TimedLock(new JdbcLock(url, cfg.lockTimeoutMs), t),
      analyzer = new Analyzer(targetPgVersion = cfg.targetPgVersion),
      force = true)
    val applied = t.span("cmd.apply")(ex.apply(ms))
    val reapplied = t.span("cmd.reapply")(ex.apply(ms))
    val rolledBack = t.span("cmd.rollback")(ex.rollback(ms, steps))
    val status = t.span("cmd.status") {
      t.span("loader.local")(MigrationLoader.loadLocal(dir))
      tracker.ensureTable()
      tracker.getApplied()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()

    val tot = t.totals
    def secs(n: String) = tot.get(n).map(_._2).getOrElse(0.0)
    def calls(n: String) = tot.get(n).map(_._1).getOrElse(0L)
    val layer = Map[String, Any](
      "cli.session_s" -> secs("cli.session"),
      "config.load_s" -> secs("config.load"),
      "loader.local_s" -> secs("loader.local"),
      "loader.dataset_s" -> secs("loader.dataset"),
      "loader.migrations" -> ms.length,
      "classify.parse_s" -> secs("classify.parse"),
      "classify.statements" -> parsed.map(_.length).sum,
      "rules.check_s" -> secs("rules.check"),
      "rules.findings" -> findings,
      "analyzer.dataset_s" -> secs("analyzer.dataset"),
      "analyzer.local_s" -> secs("analyzer.local"),
      "tracker.jobs" -> t.jobsUnder(_.name.startsWith("tracker.")),
      "exec.run_s" -> secs("exec.run"),
      "exec.run_calls" -> calls("exec.run"),
      "exec.lock_s" -> secs("exec.lock")) ++
      Seq("is_applied", "get_checksum", "record", "get_applied").flatMap { n =>
        Seq(s"tracker.${n}_s" -> secs(s"tracker.$n"),
          s"tracker.${n}_calls" -> calls(s"tracker.$n"))
      }
    val checks = Map[String, Any](
      "loaded" -> loaded, "analyzed" -> analyzed.length,
      "findings" -> findings,
      "applied" -> applied.applied.length,
      "reapply_skipped" -> reapplied.skipped.length,
      "reapply_applied" -> reapplied.applied.length,
      "rolled_back" -> rolledBack.rolledBack.length,
      "status_applied" -> status.map(_.version))
    opt.get("--spans").foreach(t.write)
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("--out")),
      Json.obj(Seq("layer" -> layer, "checks" -> checks)).getBytes("UTF-8"))
  }
}

/** Lists the user tables of a Derby database, one per line (upper case,
  * as Derby stores unquoted names). Used to check what the migrations
  * left behind; runs without Spark.
  *
  * Usage: perfbench.DerbyTables <jdbc-url>
  */
object DerbyTables {
  def main(args: Array[String]): Unit = {
    val c = java.sql.DriverManager.getConnection(args(0))
    try {
      val rs = c.getMetaData.getTables(null, "APP", "%", Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toVector.sorted
      rs.close()
      names.foreach(println)
    } finally c.close()
  }
}
