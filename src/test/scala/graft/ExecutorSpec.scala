package graft

import graft.exec._
import graft.model._
import graft.tracker.InMemoryTracker
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** White-box executor tests with injected fakes — ported case matrix
  * from the reference's executor tests
  * (`internal/executor/executor_internal_test.go:123-916`) and
  * lifecycle integration tests.
  */
class ExecutorSpec extends AnyFunSuite {

  class RecordingRunner extends SqlRunner {
    val ran = mutable.Buffer[(String, Boolean)]()
    var failOn: Option[String] = None
    def run(sql: String, transactional: Boolean): Unit = {
      if (failOn.exists(sql.contains)) sys.error(s"boom: $sql")
      ran += ((sql, transactional))
    }
  }

  def mig(v: String, up: String = "SELECT 1", down: String = "SELECT -1") =
    Migration(v, s"m$v", up, down, s"/tmp/V${v}_m$v.up.sql")

  def newExec(tracker: InMemoryTracker = new InMemoryTracker,
      runner: RecordingRunner = new RecordingRunner,
      lock: MigrationLock = new NoopLock,
      dryRun: Boolean = false, force: Boolean = false,
      onProgress: Progress => Unit = _ => ()) =
    new Executor(tracker, runner, lock, dryRun = dryRun, force = force,
      onProgress = onProgress)

  test("apply runs pending migrations in version order and records them") {
    val tr = new InMemoryTracker
    val rn = new RecordingRunner
    val r = newExec(tr, rn).apply(Seq(mig("002"), mig("001"), mig("003")))
    assert(r.applied == Seq("001", "002", "003"))
    assert(tr.getApplied().map(_.version) == Seq("001", "002", "003"))
    assert(tr.ensured)
    assert(rn.ran.length == 3)
  }

  test("already-applied migrations are skipped (idempotent re-apply)") {
    val tr = new InMemoryTracker
    val rn = new RecordingRunner
    val ex = newExec(tr, rn)
    ex.apply(Seq(mig("001"), mig("002")))
    val r2 = ex.apply(Seq(mig("001"), mig("002"), mig("003")))
    assert(r2.applied == Seq("003") && r2.skipped == Seq("001", "002"))
    assert(rn.ran.length == 3)
  }

  test("checksum mismatch on applied migration aborts with ChecksumMismatch") {
    val tr = new InMemoryTracker
    val ex = newExec(tr)
    ex.apply(Seq(mig("001", up = "SELECT 1")))
    val tampered = mig("001", up = "SELECT 999")
    val e = intercept[ChecksumMismatch] { ex.apply(Seq(tampered)) }
    assert(e.version == "001")
  }

  test("dry-run executes nothing and records nothing") {
    val tr = new InMemoryTracker
    val rn = new RecordingRunner
    val r = newExec(tr, rn, dryRun = true).apply(Seq(mig("001")))
    assert(r.skipped == Seq("001") && rn.ran.isEmpty &&
      tr.getApplied().isEmpty)
  }

  test("first failure aborts the loop; earlier migrations stay recorded") {
    val tr = new InMemoryTracker
    val rn = new RecordingRunner
    rn.failOn = Some("FAIL_ME")
    val e = intercept[RuntimeException] {
      newExec(tr, rn).apply(Seq(mig("001"), mig("002", up = "FAIL_ME"),
        mig("003")))
    }
    assert(e.getMessage.contains("boom"))
    assert(tr.getApplied().map(_.version) == Seq("001"))
    assert(rn.ran.map(_._1) == Seq("SELECT 1")) // 002 failed, 003 never ran
  }

  test("danger gate blocks HIGH/CRITICAL migrations unless forced") {
    val dangerous = mig("001", up = "DROP TABLE users;")
    val e = intercept[DangerousMigrations] { newExec().apply(Seq(dangerous)) }
    assert(e.versions == Seq("001"))
    // force bypasses the gate
    val tr = new InMemoryTracker
    val r = newExec(tr, force = true).apply(Seq(dangerous))
    assert(r.applied == Seq("001"))
    // dry-run also skips the gate (reference apply.go:71-77)
    newExec(dryRun = true).apply(Seq(dangerous))
    // a backslash is literal in '…' (standard_conforming_strings), so
    // the gate sees the CREATE INDEX the database would run
    val rn = new RecordingRunner
    intercept[DangerousMigrations] {
      newExec(runner = rn).apply(Seq(mig("002", up =
        "INSERT INTO t VALUES ('a\\'); CREATE INDEX i ON big (x); -- ')")))
    }
    assert(rn.ran.isEmpty)
  }

  test("danger gate respects the configured target PG version") {
    // ADD COLUMN with constant DEFAULT: safe on PG>=11, HIGH below
    val m = mig("001", up = "ALTER TABLE t ADD COLUMN c int DEFAULT 0;")
    val old = new Executor(new InMemoryTracker, new RecordingRunner,
      new NoopLock, analyzer = new graft.analyzer.Analyzer(targetPgVersion = 10))
    intercept[DangerousMigrations] { old.apply(Seq(m)) }
    // default target (14): passes the gate
    assert(newExec().apply(Seq(m)).applied == Seq("001"))
  }

  test("CONCURRENTLY migrations run non-transactionally") {
    val rn = new RecordingRunner
    newExec(runner = rn, force = true).apply(Seq(
      mig("001", up = "CREATE INDEX CONCURRENTLY i ON t (a)"),
      mig("002", up = "SELECT 1")))
    assert(rn.ran == Seq(
      ("CREATE INDEX CONCURRENTLY i ON t (a)", false),
      ("SELECT 1", true)))
  }

  test("lock is acquired and released; contention raises LockNotAcquired") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lock")
    val lockPath = tmp.resolve("lease").toString
    val l1 = new FileLock(lockPath)
    l1.acquire()
    val ex = newExec(lock = new FileLock(lockPath))
    intercept[LockNotAcquired.type] { ex.apply(Seq(mig("001"))) }
    l1.release()
    // now it works, and release happens even on the danger-gate path
    assert(newExec(lock = new FileLock(lockPath))
      .apply(Seq(mig("001"))).applied == Seq("001"))
    // lock released after apply → can re-acquire
    val l2 = new FileLock(lockPath)
    l2.acquire(); l2.release()
  }

  test("rollback by steps: newest first, down SQL, status transition") {
    val tr = new InMemoryTracker
    val rn = new RecordingRunner
    val ms = Seq(mig("001"), mig("002"), mig("003"))
    val ex = newExec(tr, rn)
    ex.apply(ms)
    val r = ex.rollback(ms, steps = 2)
    assert(r.rolledBack == Seq("003", "002"))
    assert(tr.getApplied().map(_.version) == Seq("001"))
    assert(rn.ran.drop(3).map(_._1) == Seq("SELECT -1", "SELECT -1"))
  }

  test("rollback steps > applied count rolls back everything") {
    val tr = new InMemoryTracker
    val ms = Seq(mig("001"), mig("002"))
    val ex = newExec(tr)
    ex.apply(ms)
    assert(ex.rollback(ms, steps = 10).rolledBack == Seq("002", "001"))
    assert(tr.getApplied().isEmpty)
  }

  test("rollback with nothing applied raises NothingToRollback") {
    intercept[NothingToRollback.type] {
      newExec().rollback(Seq(mig("001")), steps = 1)
    }
  }

  test("rollback with steps <= 0 is a successful no-op (executor.go:144-146)") {
    assert(newExec().rollback(Seq(mig("001")), steps = 0).rolledBack.isEmpty)
    assert(newExec().rollback(Seq(mig("001")), steps = -3).rolledBack.isEmpty)
  }

  test("dry-run rollback emits Skipped, runs no SQL, counts nothing") {
    val tr = new InMemoryTracker
    val rn = new RecordingRunner
    val ms = Seq(mig("001"), mig("002"))
    newExec(tr, rn).apply(ms)
    val events = scala.collection.mutable.Buffer[Progress]()
    val ex = newExec(tr, rn, dryRun = true, onProgress = events.append(_))
    val r = ex.rollback(ms, steps = 2)
    assert(r.rolledBack.isEmpty)
    assert(events.collect { case Skipped(m) => m.version } == Seq("002", "001"))
    assert(!events.exists(_.isInstanceOf[RollingBack]))
    assert(rn.ran.length == 2) // only the two applies, no down SQL
    assert(tr.getApplied().map(_.version) == Seq("001", "002"))
  }

  test("rollback to version: target stays applied, later ones roll back") {
    val tr = new InMemoryTracker
    val ms = Seq(mig("001"), mig("002"), mig("003"), mig("004"))
    val ex = newExec(tr)
    ex.apply(ms)
    val r = ex.rollbackToVersion(ms, "002")
    assert(r.rolledBack == Seq("004", "003"))
    assert(tr.getApplied().map(_.version) == Seq("001", "002"))
  }

  test("rollback to unknown target raises TargetNotFound") {
    val tr = new InMemoryTracker
    val ms = Seq(mig("001"))
    val ex = newExec(tr)
    ex.apply(ms)
    intercept[TargetNotFound] { ex.rollbackToVersion(ms, "999") }
  }

  test("rollback of migration without down SQL raises NoDownSql") {
    val tr = new InMemoryTracker
    val ms = Seq(mig("001", down = ""))
    val ex = newExec(tr)
    ex.apply(ms)
    intercept[NoDownSql] { ex.rollback(ms, 1) }
  }

  test("rollback when migration file is missing raises MigrationFileMissing") {
    val tr = new InMemoryTracker
    val ms = Seq(mig("001"))
    val ex = newExec(tr)
    ex.apply(ms)
    intercept[MigrationFileMissing] { ex.rollback(Seq.empty, 1) }
  }

  test("re-apply after rollback works (upsert semantics)") {
    val tr = new InMemoryTracker
    val ms = Seq(mig("001"))
    val ex = newExec(tr)
    ex.apply(ms)
    ex.rollback(ms, 1)
    assert(tr.getApplied().isEmpty)
    val r = ex.apply(ms)
    assert(r.applied == Seq("001"))
    assert(tr.getApplied().map(_.version) == Seq("001"))
  }

  test("progress events fire in order with durations") {
    val events = mutable.Buffer[String]()
    val ex = newExec(onProgress = {
      case Starting(m) => events += s"start:${m.version}"
      case Completed(m, _) => events += s"done:${m.version}"
      case Skipped(m) => events += s"skip:${m.version}"
      case Failed(m, _) => events += s"fail:${m.version}"
      case RollingBack(m) => events += s"rb:${m.version}"
      case RolledBack(m, _) => events += s"rbdone:${m.version}"
    })
    ex.apply(Seq(mig("001")))
    ex.apply(Seq(mig("001")))
    assert(events.toSeq == Seq("start:001", "done:001", "skip:001"))
  }

  test("version ordering is lexicographic (numeric + timestamp mix)") {
    val tr = new InMemoryTracker
    val r = newExec(tr).apply(Seq(
      mig("20240101120000"), mig("002"), mig("001")))
    assert(r.applied == Seq("001", "002", "20240101120000"))
  }

  // --- JdbcLock: DB-backed cross-host single-writer (E13 parity with
  // the reference's pg advisory lock, advisory_lock.go:12-65; exclusion
  // scenario mirrors integration/lifecycle_test.go:382-416). Embedded
  // Derby exercises the generic lock-table fallback path.

  private def derbyUrl(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lockdb").resolve("db")
    val url = s"jdbc:derby:$dir;create=true"
    // Bound Derby's lock wait (default 60 s) so the losing acquire()
    // errors promptly — in production the driver's queryTimeout plus
    // the DB's own lock-wait bound play this role.
    val c = java.sql.DriverManager.getConnection(url)
    val st = c.createStatement()
    try st.execute(
      "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.locks.waitTimeout', '2')")
    finally { st.close(); c.close() }
    url
  }

  test("JdbcLock: second driver on the same DB is excluded until release") {
    val url = derbyUrl()
    val a = new JdbcLock(url, lockTimeoutMs = 1000)
    val b = new JdbcLock(url, lockTimeoutMs = 1000)
    a.acquire()
    intercept[LockNotAcquired.type] { b.acquire() }
    a.release()
    b.acquire() // freed — the loser can now take it
    intercept[LockNotAcquired.type] { a.acquire() }
    b.release()
    a.release() // release when not held is a no-op
  }

  test("JdbcLock: lock auto-releases when the holder's connection dies") {
    val url = derbyUrl()
    val holder = new JdbcLock(url, lockTimeoutMs = 1000)
    holder.acquire()
    // simulate a crashed driver: sever the connection ungracefully
    // (abort(), not close() — embedded Derby refuses a graceful close
    // mid-transaction, but a crash is never graceful)
    val f = classOf[JdbcLock].getDeclaredField("conn")
    f.setAccessible(true)
    f.get(holder).asInstanceOf[java.sql.Connection]
      .abort((command: Runnable) => command.run())
    val other = new JdbcLock(url, lockTimeoutMs = 1000)
    other.acquire() // the dead holder's txn rolled back with it
    other.release()
  }

  test("JdbcRunner on real Derby: a migration body with a trailing " +
      "semicolon executes (the strip path, end to end)") {
    val url = derbyUrl()
    val r = new JdbcRunner(url, 5000, 5000)
    r.run("CREATE TABLE semi_t (id INT);", transactional = true)
    r.run("INSERT INTO semi_t VALUES (7)\n;\n", transactional = true)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement()
        .executeQuery("SELECT count(*) FROM semi_t")
      rs.next()
      assert(rs.getInt(1) == 1)
    } finally c.close()
  }

  test("two executors with JdbcLock: loser fails, winner applies") {
    val url = derbyUrl()
    val tr = new InMemoryTracker
    val winnerLock = new JdbcLock(url, lockTimeoutMs = 1000)
    winnerLock.acquire() // winner mid-apply holds the DB lock
    val loser = newExec(tr, lock = new JdbcLock(url, lockTimeoutMs = 1000))
    intercept[LockNotAcquired.type] { loser.apply(Seq(mig("001"))) }
    winnerLock.release()
    val r = loser.apply(Seq(mig("001")))
    assert(r.applied == Seq("001"))
  }
}
