package graft.exec

import graft.analyzer.Analyzer
import graft.classify.SqlClassifier
import graft.model._
import graft.tracker.Tracker
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

/** SQL execution backend. The reference ships migration SQL to
  * PostgreSQL over pgx (S6); here the runner is pluggable:
  * [[SparkSqlRunner]] executes against Spark-managed tables
  * (`spark.sql`), [[JdbcRunner]] passes through to a foreign database
  * over java.sql with the reference's transaction semantics (E4-E7),
  * and tests inject recording stubs (the reference's execSQL functional
  * option).
  */
trait SqlRunner {
  /** Execute one migration's SQL. `transactional=false` for
    * CONCURRENTLY index ops (which PG forbids inside transactions —
    * E4/E6).
    */
  def run(sql: String, transactional: Boolean): Unit
}

/** Runs DDL/DML against Spark-managed tables. Spark has no
  * multi-statement transactions — each statement is its own commit
  * (table formats supply per-commit atomicity), so `transactional` is
  * advisory here. Statements are split by PostgreSQL's lexical rules,
  * the same ones the danger gate analyzed, so Spark runs exactly the
  * statements the gate saw.
  */
final class SparkSqlRunner(spark: org.apache.spark.sql.SparkSession)
    extends SqlRunner {
  def run(sql: String, transactional: Boolean): Unit =
    SqlClassifier.splitStatements(sql).foreach(spark.sql(_))
}

/** JDBC passthrough with the reference's safety envelope: explicit
  * transaction + lock/statement timeouts (E5/E7), or autocommit for
  * CONCURRENTLY ops (E6). Timeout SQL is PostgreSQL dialect, matching
  * the reference (`internal/executor/safety.go:14-46`).
  *
  * Non-PostgreSQL fallback: JDBC's portable bound is
  * `Statement.setQueryTimeout` (whole seconds), so `statementTimeoutMs`
  * is rounded UP to the next whole second — the tightest enforceable
  * bound that still covers the configured window (never silently
  * truncating e.g. 1500ms to 1s). `lockTimeoutMs` is NOT separately
  * enforced — JDBC has no portable lock-wait bound; the statement
  * timeout caps the total wait, locks included.
  */
final class JdbcRunner(url: String, lockTimeoutMs: Long,
    statementTimeoutMs: Long) extends SqlRunner {
  import JdbcRunner.{ceilSeconds, isPostgres}
  def run(sql: String, transactional: Boolean): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      // The SET envelope is PostgreSQL dialect (the reference's only
      // target); on other databases fall back to the portable JDBC
      // query timeout so the statement bound still holds.
      val isPg = isPostgres(conn)
      // PG's simple-query protocol takes the migration file verbatim
      // (semicolons and all — the reference's posture); stricter JDBC
      // dialects (Derby) reject a bare trailing `;` on a single
      // statement, so strip one for non-PG targets. Interior
      // semicolons are left alone: multi-statement strings are a
      // PG-only capability either way.
      val body =
        if (isPg) sql
        else sql.trim.stripSuffix(";").trim
      if (transactional) {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          if (isPg) {
            st.execute(s"SET lock_timeout = '${lockTimeoutMs}ms'")
            st.execute(s"SET statement_timeout = '${statementTimeoutMs}ms'")
          } else st.setQueryTimeout(ceilSeconds(statementTimeoutMs))
          st.execute(body)
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally st.close()
      } else {
        conn.setAutoCommit(true)
        val st = conn.createStatement()
        try {
          if (!isPg) st.setQueryTimeout(ceilSeconds(statementTimeoutMs))
          st.execute(body)
        } finally st.close()
      }
    } finally conn.close()
  }
}

/** The JDBC primitives [[JdbcRunner]] and [[JdbcLock]] share. */
private[exec] object JdbcRunner {
  def isPostgres(c: java.sql.Connection): Boolean =
    c.getMetaData.getDatabaseProductName
      .toLowerCase(java.util.Locale.ROOT).contains("postgres")

  /** ms → whole seconds, rounded up, min 1 (setQueryTimeout(0)=∞). */
  def ceilSeconds(ms: Long): Int = math.max(1L, (ms + 999) / 1000).toInt
}

/** Single-writer mutual exclusion. The reference uses a PG advisory
  * lock (`internal/database/advisory_lock.go`); engine-native mode uses
  * an atomic-create lease file (works on any shared filesystem; a
  * lakehouse deployment would claim a lease row via Delta MERGE).
  * Non-blocking: the loser gets [[LockNotAcquired]], like the
  * reference's ErrLockNotAcquired.
  */
trait MigrationLock {
  /** @throws LockNotAcquired.type when held elsewhere */
  def acquire(): Unit
  def release(): Unit
}

final class FileLock(path: String) extends MigrationLock {
  private def p: Path = Paths.get(path)
  private var held = false
  def acquire(): Unit = {
    Files.createDirectories(p.getParent)
    try {
      Files.createFile(p) // atomic on POSIX — fails if it exists
      held = true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw LockNotAcquired
    }
  }
  def release(): Unit = if (held) { Files.deleteIfExists(p); held = false }
}

final class NoopLock extends MigrationLock {
  def acquire(): Unit = ()
  def release(): Unit = ()
}

/** DB-backed single-writer lock for JDBC mode — excludes concurrent
  * `apply` drivers across HOSTS, which [[FileLock]] (same-filesystem
  * only) cannot (reference: `internal/database/advisory_lock.go:12-65`).
  *
  * A dedicated connection is held for the lock's lifetime. On
  * PostgreSQL it takes the reference's session-level
  * `pg_try_advisory_lock(123456789)` (non-blocking; loser gets
  * [[LockNotAcquired]]); on other databases it falls back to an
  * open-transaction INSERT into a single-row lock table — the
  * uncommitted row's exclusive lock is held until release (rollback)
  * and, like a session advisory lock, auto-releases if the holding
  * process dies, because the transaction dies with its connection.
  */
final class JdbcLock(url: String,
    lockTimeoutMs: Long = 5000,
    lockId: Long = JdbcLock.MigrationLockId) extends MigrationLock {
  private var conn: java.sql.Connection = _

  def acquire(): Unit = {
    if (conn != null) return // re-entrant no-op while held
    val c = java.sql.DriverManager.getConnection(url)
    try {
      if (JdbcRunner.isPostgres(c)) {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT pg_try_advisory_lock($lockId)")
          rs.next()
          if (!rs.getBoolean(1)) throw LockNotAcquired
        } finally st.close()
      } else {
        ensureLockTable(c)
        c.setAutoCommit(false)
        val ps = c.prepareStatement(
          "INSERT INTO graft_migration_lock (id) VALUES (?)")
        try {
          // a competing holder's uncommitted row blocks this insert;
          // bound the wait so the loser errors instead of queueing
          // (ceil to whole seconds — JDBC's portable granularity)
          ps.setQueryTimeout(JdbcRunner.ceilSeconds(lockTimeoutMs))
          ps.setLong(1, lockId)
          ps.executeUpdate() // NOT committed — the row lock IS the lock
        } catch {
          case _: java.sql.SQLException =>
            try c.rollback() finally c.close()
            throw LockNotAcquired
        } finally ps.close()
      }
      conn = c
    } catch {
      case e: Throwable =>
        if (conn == null && !c.isClosed) c.close()
        throw e
    }
  }

  def release(): Unit = if (conn != null) {
    try {
      if (conn.getAutoCommit) { // PG advisory path
        val st = conn.createStatement()
        try st.execute(s"SELECT pg_advisory_unlock($lockId)")
        finally st.close()
      } else conn.rollback() // fallback path: drop the uncommitted row
    } finally {
      conn.close()
      conn = null
    }
  }

  /** Create the one-row lock table if missing (own autocommit step —
    * DDL must not join the lock transaction). Only a table-already-
    * exists failure is benign; anything else (permission denied,
    * connection dead, …) must propagate now rather than resurface later
    * as a misleading [[LockNotAcquired]] from the INSERT.
    */
  private def ensureLockTable(c: java.sql.Connection): Unit = {
    val st = c.createStatement()
    try st.execute(
      "CREATE TABLE graft_migration_lock (id BIGINT PRIMARY KEY)")
    catch {
      case e: java.sql.SQLException =>
        // Derby signals duplicate DDL as SQLState X0Y32; other engines
        // vary, so fall back to asking the catalog whether the table is
        // actually there. If it isn't, the CREATE failed for a real
        // reason — rethrow it.
        if (e.getSQLState != "X0Y32" && !lockTableExists(c)) throw e
    }
    finally st.close()
  }

  private def lockTableExists(c: java.sql.Connection): Boolean = {
    // scope the lookup to the connection's current catalog/schema: with
    // null (= any) a same-named table in ANOTHER schema would mask a
    // real CREATE failure (e.g. permission denied), which would then
    // resurface later as a misleading LockNotAcquired. Fall back to
    // null only when the driver reports no current catalog/schema.
    val cat = try c.getCatalog catch { case _: java.sql.SQLException => null }
    val sch = try c.getSchema catch { case _: java.sql.SQLException => null }
    // identifier case differs by engine (Derby folds up, PG folds down)
    Seq("GRAFT_MIGRATION_LOCK", "graft_migration_lock").exists { n =>
      val rs = c.getMetaData.getTables(cat, sch, n, null)
      try rs.next() finally rs.close()
    }
  }
}

object JdbcLock {
  /** Reference: `internal/database/advisory_lock.go:12` */
  val MigrationLockId: Long = 123456789L
}

/** Progress events (reference: `internal/executor/executor.go:19-32`). */
sealed trait Progress { def migration: Migration }
final case class Starting(migration: Migration) extends Progress
final case class Completed(migration: Migration, durationMs: Long)
    extends Progress
final case class Failed(migration: Migration, error: Throwable)
    extends Progress
final case class Skipped(migration: Migration) extends Progress
final case class RollingBack(migration: Migration) extends Progress
final case class RolledBack(migration: Migration, durationMs: Long)
    extends Progress

/** Apply/rollback outcome summary. */
final case class ApplyResult(applied: Seq[String], skipped: Seq[String])
final case class RollbackResult(rolledBack: Seq[String])

/** The migration executor: ordered, abort-on-first-error apply and
  * rollback under a single-writer lock (reference:
  * `internal/executor/executor.go:120-207,280-395`).
  *
  * The ordered fold is inherently sequential driver logic (version
  * order is the semantic contract, E1); each step may launch Spark jobs
  * via the runner/tracker. The analyzer danger gate (E14) blocks
  * HIGH/CRITICAL migrations unless forced.
  */
final class Executor(
    tracker: Tracker,
    runner: SqlRunner,
    lock: MigrationLock = new NoopLock,
    analyzer: Analyzer = new Analyzer(),
    dryRun: Boolean = false,
    force: Boolean = false,
    onProgress: Progress => Unit = _ => ()) {

  /** E1/E2: apply pending migrations in version order. */
  def apply(migrations: Seq[Migration]): ApplyResult = {
    // E14 danger gate: analyze before touching the database
    if (!force && !dryRun) {
      val dangerous = analyzer.analyzeAll(migrations)
        .filter(_.hasHighOrCritical).map(_.version)
      if (dangerous.nonEmpty) throw DangerousMigrations(dangerous)
    }
    withLock {
      tracker.ensureTable()
      val sorted = migrations.sortBy(_.version)
      val applied = Vector.newBuilder[String]
      val skipped = Vector.newBuilder[String]
      sorted.foreach { m =>
        if (shouldSkip(m)) {
          onProgress(Skipped(m))
          skipped += m.version
        } else if (dryRun) {
          onProgress(Skipped(m))
          skipped += m.version
        } else {
          onProgress(Starting(m))
          val t0 = System.nanoTime()
          try {
            runSql(m.upSql)
            val ms = (System.nanoTime() - t0) / 1000000
            tracker.recordApplied(AppliedMigration(m.version,
              fileName(m), m.checksum, new Timestamp(System.currentTimeMillis()),
              ms.toInt, MigrationStatus.Applied))
            onProgress(Completed(m, ms))
            applied += m.version
          } catch {
            case e: Throwable =>
              onProgress(Failed(m, e))
              throw e // abort on first error; prior records stay (E1)
          }
        }
      }
      ApplyResult(applied.result(), skipped.result())
    }
  }

  /** E8: roll back the most recent `steps` applied migrations.
    * `steps <= 0` is a successful no-op (reference executor.go:144-146),
    * not a NothingToRollback error.
    */
  def rollback(migrations: Seq[Migration], steps: Int): RollbackResult =
    if (steps <= 0) RollbackResult(Nil)
    else withRollbackLock(migrations) { applied =>
      applied.sortBy(_.version).reverse.take(steps)
    }

  /** E9: roll back everything applied after `target` (which must exist
    * and stays applied).
    */
  def rollbackToVersion(migrations: Seq[Migration],
      target: String): RollbackResult =
    withRollbackLock(migrations) { applied =>
      if (!applied.exists(_.version == target)) throw TargetNotFound(target)
      applied.filter(_.version > target).sortBy(_.version).reverse
    }

  /** E10: shared rollback preamble — lock, applied list, target
    * selection, newest-first execution.
    */
  private def withRollbackLock(migrations: Seq[Migration])(
      select: Seq[AppliedMigration] => Seq[AppliedMigration]): RollbackResult =
    withLock {
      tracker.ensureTable()
      val applied = tracker.getApplied()
      val targets = select(applied)
      if (targets.isEmpty) throw NothingToRollback
      val lookup = migrations.map(m => m.version -> m).toMap // T6
      val done = Vector.newBuilder[String]
      targets.foreach { am =>
        val m = lookup.getOrElse(am.version,
          throw MigrationFileMissing(am.version)) // E11 missing file
        if (m.downSql.isEmpty) throw NoDownSql(m.version)
        if (dryRun) {
          // dry-run: reference emits Skipped and does not count the version
          onProgress(Skipped(m))
        } else {
          onProgress(RollingBack(m))
          val t0 = System.nanoTime()
          runSql(m.downSql)
          tracker.recordRolledBack(m.version)
          onProgress(RolledBack(m, (System.nanoTime() - t0) / 1000000))
          done += m.version
        }
      }
      RollbackResult(done.result())
    }

  /** E3: skip-if-applied with checksum integrity check. */
  private def shouldSkip(m: Migration): Boolean = {
    if (!tracker.isApplied(m.version)) return false
    val stored = tracker.getChecksum(m.version)
    if (stored != m.checksum)
      throw ChecksumMismatch(m.version, stored, m.checksum)
    true
  }

  /** E4: execution-strategy choice — CONCURRENTLY index ops must run
    * outside a transaction (cheap contains() prefilter before the
    * classifier, same short-circuit as the reference).
    */
  private def runSql(sql: String): Unit =
    runner.run(sql, transactional = !SqlClassifier.containsConcurrentOp(sql))

  private def withLock[A](body: => A): A = {
    lock.acquire() // throws LockNotAcquired if held (E13)
    try body finally lock.release()
  }

  private def fileName(m: Migration): String = {
    val idx = m.filePath.lastIndexOf('/')
    if (idx >= 0) m.filePath.substring(idx + 1) else m.filePath
  }
}
