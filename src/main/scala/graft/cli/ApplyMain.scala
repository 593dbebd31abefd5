package graft.cli

import graft.exec._
import graft.loader.MigrationLoader
import graft.model._
import graft.tracker.ParquetTracker
import org.apache.spark.sql.SparkSession

/** `apply` / `rollback` commands (reference:
  * `internal/cli/apply.go:30-176`, `internal/cli/rollback.go:17-120`).
  *
  * Usage:
  *   runMain graft.cli.ApplyMain <migrationsDir> <trackerDir>
  *     [--dry-run] [--force] [--pg-version N] [--jdbc-url URL]
  *   runMain graft.cli.RollbackMain <migrationsDir> <trackerDir>
  *     (--steps N | --target V) [--jdbc-url URL]
  *
  * Without --jdbc-url, SQL executes against Spark-managed tables
  * (SparkSqlRunner); with it, passthrough over JDBC with the
  * reference's transaction/timeout envelope.
  */
object ApplyMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) { usage(); sys.exit(2) }
    val (dir, trackerDir) = (args(0), args(1))
    var dryRun = false; var force = false; var jdbcUrl = ""
    var verbose = false
    var pgVersionFlag: Option[Int] = None
    // per-invocation timeout overrides (reference apply.go:41-42
    // registers both as Duration flags; 56-60 makes a CHANGED flag beat
    // the configured value)
    var lockTimeoutFlag: Option[Long] = None
    var statementTimeoutFlag: Option[Long] = None
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--dry-run" => dryRun = true; i += 1
        case "--force" => force = true; i += 1
        case "--verbose" => verbose = true; i += 1
        case "--jdbc-url" =>
          jdbcUrl = CliArgs.value(args, i, "--jdbc-url"); i += 2
        case "--pg-version" =>
          pgVersionFlag = Some(CliArgs.value(args, i, "--pg-version").toInt)
          i += 2
        case "--lock-timeout" =>
          lockTimeoutFlag = Some(
            graft.config.ConfigLoader.parseDurationMs(
              CliArgs.value(args, i, "--lock-timeout"))); i += 2
        case "--statement-timeout" =>
          statementTimeoutFlag = Some(
            graft.config.ConfigLoader.parseDurationMs(
              CliArgs.value(args, i, "--statement-timeout"))); i += 2
        case other => System.err.println(s"unknown flag: $other"); sys.exit(2)
      }
    }
    CliSpark.run("graft-apply") { session =>
      val migrations = MigrationLoader.loadLocal(dir)
      // Resolve target PG version via config-file/env/flag precedence so the
      // danger gate severitizes for the version actually targeted
      // (reference: internal/cli/apply.go wires the configured version
      // through to the analyzer; flags win over env over file).
      val loaded = graft.config.ConfigLoader.load(
        "migrate.yml", allowMissing = true,
        flags = graft.config.ConfigLoader.Overrides(
          targetPgVersion = pgVersionFlag,
          lockTimeoutMs = lockTimeoutFlag,
          statementTimeoutMs = statementTimeoutFlag))
      if (verbose) {
        println(s"config: migrationsDir=$dir trackerDir=$trackerDir " +
          s"targetPgVersion=${loaded.targetPgVersion} dryRun=$dryRun force=$force")
        println(s"config: lockTimeoutMs=${loaded.lockTimeoutMs} " +
          s"statementTimeoutMs=${loaded.statementTimeoutMs}")
        if (jdbcUrl.nonEmpty)
          // never print credentials (reference redact.go:10-52)
          println(s"config: jdbcUrl=${EngineConfig.redactUrl(jdbcUrl)}")
      }
      val runner: SqlRunner =
        if (jdbcUrl.nonEmpty)
          new JdbcRunner(jdbcUrl, loaded.lockTimeoutMs,
            loaded.statementTimeoutMs)
        else new SparkSqlRunner(session.get)
      // JDBC mode: single-writer exclusion must hold ACROSS hosts, so
      // the lock lives in the target database (pg_try_advisory_lock /
      // lock-table fallback), not on a local filesystem.
      val lock: MigrationLock =
        if (jdbcUrl.nonEmpty) new JdbcLock(jdbcUrl, loaded.lockTimeoutMs)
        else new FileLock(s"$trackerDir/_LOCK")
      val ex = new Executor(
        new ParquetTracker(session.get, trackerDir), runner, lock,
        analyzer = new graft.analyzer.Analyzer(targetPgVersion = loaded.targetPgVersion),
        dryRun = dryRun, force = force, onProgress = printProgress)
      val r = ex.apply(migrations)
      println(s"applied ${r.applied.length}, skipped ${r.skipped.length}")
    }
  }

  def usage(): Unit = System.err.println(
    "usage: ApplyMain <migrationsDir> <trackerDir> [--dry-run] [--force] " +
      "[--verbose] [--jdbc-url URL] [--lock-timeout D] [--statement-timeout D]")

  def printProgress(p: Progress): Unit = p match {
    case Starting(m) => println(s"  applying ${m.version} ${m.name} ...")
    case Completed(m, ms) => println(s"  applied ${m.version} (${ms}ms)")
    case Skipped(m) => println(s"  skipped ${m.version} (already applied or dry-run)")
    case Failed(m, e) => println(s"  FAILED ${m.version}: ${e.getMessage}")
    case RollingBack(m) => println(s"  rolling back ${m.version} ...")
    case RolledBack(m, ms) => println(s"  rolled back ${m.version} (${ms}ms)")
  }
}

object RollbackMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) { usage(); sys.exit(2) }
    val (dir, trackerDir) = (args(0), args(1))
    var steps = -1; var target = ""; var jdbcUrl = ""
    var verbose = false
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--steps" =>
          steps = CliArgs.value(args, i, "--steps").toInt; i += 2
        case "--target" =>
          target = CliArgs.value(args, i, "--target"); i += 2
        case "--verbose" => verbose = true; i += 1
        case "--jdbc-url" =>
          jdbcUrl = CliArgs.value(args, i, "--jdbc-url"); i += 2
        case other => System.err.println(s"unknown flag: $other"); sys.exit(2)
      }
    }
    // --steps and --target are mutually exclusive (rollback.go:28)
    if ((steps >= 0) == target.nonEmpty) { usage(); sys.exit(2) }
    CliSpark.run("graft-rollback") { session =>
      val migrations = MigrationLoader.loadLocal(dir)
      val cfg = EngineConfig()
      if (verbose) {
        println(s"config: migrationsDir=$dir trackerDir=$trackerDir " +
          s"steps=$steps target=$target")
        if (jdbcUrl.nonEmpty)
          println(s"config: jdbcUrl=${EngineConfig.redactUrl(jdbcUrl)}")
      }
      val runner: SqlRunner =
        if (jdbcUrl.nonEmpty)
          new JdbcRunner(jdbcUrl, cfg.lockTimeoutMs, cfg.statementTimeoutMs)
        else new SparkSqlRunner(session.get)
      val lock: MigrationLock =
        if (jdbcUrl.nonEmpty) new JdbcLock(jdbcUrl, cfg.lockTimeoutMs)
        else new FileLock(s"$trackerDir/_LOCK")
      val ex = new Executor(
        new ParquetTracker(session.get, trackerDir), runner, lock,
        onProgress = ApplyMain.printProgress)
      val r =
        if (steps >= 0) ex.rollback(migrations, steps)
        else ex.rollbackToVersion(migrations, target)
      println(s"rolled back ${r.rolledBack.length}")
    }
  }

  def usage(): Unit = System.err.println(
    "usage: RollbackMain <migrationsDir> <trackerDir> (--steps N | --target V) [--verbose] [--jdbc-url URL]")
}

object CliArgs {
  /** `args(i + 1)` with the usage-error exit the reference CLIs use: a
    * flag given without its value must land on the exit-2 path, not an
    * ArrayIndexOutOfBoundsException (Cobra prints "flag needs an
    * argument" and exits non-zero).
    */
  def value(args: Array[String], i: Int, flag: String): String = {
    if (i + 1 >= args.length) {
      System.err.println(s"$flag requires a value")
      sys.exit(2)
    }
    args(i + 1)
  }
}

object CliSpark {
  /** CLI session with a Hive (embedded Derby) metastore so Spark-managed
    * tables created by one `apply` invocation are visible to later
    * invocations — migrations are meaningless if the catalog forgets the
    * tables between processes. Set GRAFT_WAREHOUSE to relocate the
    * warehouse + metastore (defaults to ./graft-warehouse).
    */
  def session(app: String): SparkSession = {
    val wh = sys.env.getOrElse("GRAFT_WAREHOUSE", "graft-warehouse")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$wh/tables")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The CLI session, built on the first `get` only: most commands
    * touch nothing but migration files and the tracker's delta files,
    * and a session start costs seconds of a command that otherwise
    * takes milliseconds.
    */
  final class LazySession(app: String) {
    private var started: Option[SparkSession] = None
    def get: SparkSession = started.getOrElse {
      val s = session(app)
      started = Some(s)
      s
    }
    def stopIfStarted(): Unit = started.foreach(_.stop())
  }

  /** Runs one command's body with a [[LazySession]], stopped at the end
    * if the body started it. A failure exits 1 with one `error:` line on
    * stderr, like the reference CLI, not with a stack trace (runner/SQL
    * failures are already reported through the Failed progress event).
    */
  def run(app: String)(body: LazySession => Unit): Unit = {
    val session = new LazySession(app)
    try body(session)
    catch {
      case e: EngineError =>
        System.err.println(s"error: ${e.getMessage}"); sys.exit(1)
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"error: ${Option(e.getMessage)
          .flatMap(_.linesIterator.find(_.nonEmpty))
          .getOrElse(e.getClass.getSimpleName)}")
        sys.exit(1)
    } finally session.stopIfStarted()
  }
}
