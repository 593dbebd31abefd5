package graft

import graft.model.{AppliedMigration, MigrationNotFound, MigrationStatus}
import graft.tracker.ParquetTracker
import java.nio.file.Files
import java.sql.Timestamp

/** ParquetTracker integration tests (real Spark, temp dirs) — the
  * reference's tracker integration matrix
  * (`integration/tracker_test.go:15-131`).
  */
class TrackerSpec extends SparkFunSuite {

  def newTracker() = {
    val dir = Files.createTempDirectory("graft-tracker").toString
    val tr = new ParquetTracker(spark, dir)
    tr.ensureTable()
    tr
  }

  def row(v: String, checksum: String = "abc") =
    AppliedMigration(v, s"V${v}_m.up.sql", checksum,
      new Timestamp(1700000000000L), 5, MigrationStatus.Applied)

  test("ensureTable is idempotent; empty table reads as no rows") {
    val tr = newTracker()
    tr.ensureTable()
    assert(tr.getApplied().isEmpty)
    assert(!tr.isApplied("001"))
  }

  test("recordApplied + point lookups (Q1/Q5)") {
    val tr = newTracker()
    tr.recordApplied(row("001"))
    assert(tr.isApplied("001"))
    assert(!tr.isApplied("002"))
    assert(tr.getChecksum("001") == "abc")
    intercept[MigrationNotFound] { tr.getChecksum("999") }
  }

  test("upsert semantics: re-record replaces the row (Q3)") {
    val tr = newTracker()
    tr.recordApplied(row("001", checksum = "v1"))
    tr.recordApplied(row("001", checksum = "v2"))
    assert(tr.getApplied().length == 1)
    assert(tr.getChecksum("001") == "v2")
  }

  test("ordered applied list filters rolled_back (Q2/Q4)") {
    val tr = newTracker()
    tr.recordApplied(row("002"))
    tr.recordApplied(row("001"))
    tr.recordApplied(row("003"))
    tr.recordRolledBack("002")
    assert(tr.getApplied().map(_.version) == Seq("001", "003"))
    assert(!tr.isApplied("002"))
    intercept[MigrationNotFound] { tr.recordRolledBack("999") }
  }

  test("re-apply after rollback flips status back (upsert-latest)") {
    val tr = newTracker()
    tr.recordApplied(row("001"))
    tr.recordRolledBack("001")
    tr.recordApplied(row("001"))
    assert(tr.isApplied("001"))
  }

  test("state survives a new tracker instance on the same path (durability)") {
    val dir = Files.createTempDirectory("graft-tracker").toString
    val tr1 = new ParquetTracker(spark, dir)
    tr1.ensureTable()
    tr1.recordApplied(row("001"))
    val tr2 = new ParquetTracker(spark, dir)
    assert(tr2.isApplied("001"))
    assert(tr2.getApplied().map(_.version) == Seq("001"))
  }

  test("below the compaction threshold the whole lifecycle runs with " +
      "no session: record, point reads, rollback, applied list") {
    val dir = Files.createTempDirectory("graft-tracker-nospark").toString
    val tr = new ParquetTracker(
      throw new AssertionError("session evaluated"), dir)
    tr.ensureTable()
    assert(tr.getApplied().isEmpty && !tr.isApplied("001"))
    tr.recordApplied(row("001", checksum = "c1"))
    tr.recordApplied(row("002", checksum = "c2"))
    assert(tr.isApplied("001") && tr.getChecksum("002") == "c2")
    intercept[MigrationNotFound] { tr.getChecksum("003") }
    tr.recordRolledBack("001")
    assert(!tr.isApplied("001"))
    assert(tr.getChecksum("001") == "c1")
    assert(tr.getApplied().map(_.version) == Seq("002"))
    // and a second instance (the next command) folds the same deltas
    val tr2 = new ParquetTracker(
      throw new AssertionError("session evaluated"), dir)
    assert(tr2.getApplied().map(_.version) == Seq("002"))
  }

  test("with a snapshot present, repeated point reads start at most one " +
      "Spark job per snapshot") {
    val dir = Files.createTempDirectory("graft-tracker-jobs").toString
    val writer = new ParquetTracker(spark, dir)
    writer.ensureTable()
    (1 to 5).foreach(i => writer.recordApplied(row(f"$i%03d")))
    writer.compact()
    writer.recordApplied(row("006"))
    val reads = jobsStartedBy {
      val reader = new ParquetTracker(spark, dir)
      (1 to 10).foreach { _ =>
        assert(reader.isApplied("003") && !reader.isApplied("999"))
        assert(reader.getChecksum("006") == "abc")
        assert(reader.getApplied().length == 6)
      }
    }.size
    assert(reads <= 1, s"point reads started $reads jobs")
  }

  test("append+compact: a 500-migration apply run does O(n) tracker " +
      "work — one atomic delta file per record, snapshot rewrites " +
      "bounded by the compaction threshold; per-migration durability " +
      "kept; absorbed deltas re-fold idempotently after a simulated " +
      "crash mid-compaction") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-tracker-batch")
    def files(prefix: String) = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toVector.sorted
      finally s.close()
    }
    val tr = new ParquetTracker(spark, dir.toString)
    tr.ensureTable()
    (1 to 500).foreach(i => tr.recordApplied(row(f"$i%03d")))
    // 500 records at threshold 64 → ~7 compaction snapshots (+1 from
    // ensureTable); the old per-record rewrite would have written 500
    assert(files("snap_").length <= 10,
      s"snapshot rewrites not bounded: ${files("snap_").length}")
    assert(files("delta_").length < 64)
    assert(tr.getApplied().map(_.version) == (1 to 500).map(i => f"$i%03d"))
    assert(tr.getChecksum("250") == "abc")
    // durability of an uncompacted tail: a fresh instance on the same
    // path folds the pending deltas
    val tr2 = new ParquetTracker(spark, dir.toString)
    assert(tr2.getApplied().length == 500)
    // rollback rides the same WAL
    tr.recordRolledBack("250")
    assert(!tr.isApplied("250"))
    assert(tr.getApplied().length == 499)
    // simulated crash between snapshot swap and delta sweep: compact,
    // then resurrect an absorbed delta — re-folding it must be a no-op
    val pending = files("delta_")
    assert(pending.nonEmpty)
    val stale = dir.resolve(pending.head)
    val staleBytes = Files.readAllBytes(stale)
    tr.compact()
    assert(files("delta_").isEmpty)
    Files.write(dir.resolve(pending.head), staleBytes)
    assert(tr.getApplied().length == 499)
    assert(!tr.isApplied("250"))
    // and the WAL keeps accepting writes after the resurrection
    tr.recordApplied(row("501"))
    assert(tr.getApplied().length == 500)
  }
}
