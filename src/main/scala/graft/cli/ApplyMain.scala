package graft.cli

import graft.exec._
import graft.loader.MigrationLoader
import graft.model._
import graft.tracker.ParquetTracker
import org.apache.spark.sql.SparkSession

/** `apply` / `rollback` commands (reference:
  * `internal/cli/apply.go:30-176`, `internal/cli/rollback.go:17-120`).
  *
  * Without a database URL (`--jdbc-url`, `--database-url` or the
  * config's `database_url`), SQL executes against Spark-managed tables
  * (SparkSqlRunner); with one, passthrough over JDBC with the
  * reference's transaction/timeout envelope, using the config's lock
  * and statement timeouts.
  */
object ApplyMain {
  def run(c: GraftMain.Apply, cfg: EngineConfig, verbose: Boolean,
      session: CliSpark.LazySession): Unit = {
    val GraftMain.Apply(dir, trackerDir, dryRun, force) = c
    val migrations = MigrationLoader.loadLocal(dir)
    if (verbose) {
      println(s"config: migrationsDir=$dir trackerDir=$trackerDir " +
        s"targetPgVersion=${cfg.targetPgVersion} dryRun=$dryRun force=$force")
      printConnection(cfg)
    }
    val r = executor(cfg, trackerDir, session, dryRun, force).apply(migrations)
    println(s"applied ${r.applied.length}, skipped ${r.skipped.length}")
  }

  /** The `config:` lines apply and rollback share under `--verbose`. */
  private[cli] def printConnection(cfg: EngineConfig): Unit = {
    println(s"config: lockTimeoutMs=${cfg.lockTimeoutMs} " +
      s"statementTimeoutMs=${cfg.statementTimeoutMs}")
    if (cfg.databaseUrl.nonEmpty)
      // never print credentials (reference redact.go:10-52)
      println(s"config: jdbcUrl=${EngineConfig.redactUrl(cfg.databaseUrl)}")
  }

  /** The executor apply and rollback run, printing progress. */
  private[cli] def executor(cfg: EngineConfig, trackerDir: String,
      session: CliSpark.LazySession, dryRun: Boolean = false,
      force: Boolean = false): Executor = {
    val jdbcUrl = cfg.databaseUrl
    val runner: SqlRunner =
      if (jdbcUrl.nonEmpty)
        new JdbcRunner(jdbcUrl, cfg.lockTimeoutMs, cfg.statementTimeoutMs)
      else new SparkSqlRunner(session.get)
    // JDBC mode: single-writer exclusion must hold ACROSS hosts, so
    // the lock lives in the target database (pg_try_advisory_lock /
    // lock-table fallback), not on a local filesystem.
    val lock: MigrationLock =
      if (jdbcUrl.nonEmpty) new JdbcLock(jdbcUrl, cfg.lockTimeoutMs)
      else new FileLock(s"$trackerDir/_LOCK")
    // the danger gate severitizes for the version actually targeted
    new Executor(
      new ParquetTracker(session.get, trackerDir), runner, lock,
      analyzer = new graft.analyzer.Analyzer(targetPgVersion = cfg.targetPgVersion),
      dryRun = dryRun, force = force, onProgress = printProgress)
  }

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
  def run(c: GraftMain.Rollback, cfg: EngineConfig, verbose: Boolean,
      session: CliSpark.LazySession): Unit = {
    val GraftMain.Rollback(dir, trackerDir, steps, target) = c
    val migrations = MigrationLoader.loadLocal(dir)
    if (verbose) {
      println(s"config: migrationsDir=$dir trackerDir=$trackerDir " +
        s"steps=${steps.getOrElse(-1)} target=${target.getOrElse("")}")
      ApplyMain.printConnection(cfg)
    }
    val ex = ApplyMain.executor(cfg, trackerDir, session)
    val r = steps match {
      case Some(n) => ex.rollback(migrations, n)
      case None => ex.rollbackToVersion(migrations, target.get)
    }
    println(s"rolled back ${r.rolledBack.length}")
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
    // a match, not `foreach(_.stop())`: linking that lambda loads
    // SparkSession's class, and so opens Spark's jars, in every command
    def stopIfStarted(): Unit = started match {
      case Some(s) => s.stop()
      case None =>
    }
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
