package graft.tracker

import graft.model.{AppliedMigration, MigrationNotFound, MigrationStatus}

/** In-memory tracker for white-box executor tests (the reference's stub
  * tracker pattern, `internal/executor/executor_internal_test.go`).
  */
final class InMemoryTracker extends Tracker {
  var rows: Vector[AppliedMigration] = Vector.empty
  var ensured = false
  def ensureTable(): Unit = ensured = true
  def isApplied(version: String): Boolean =
    rows.exists(r => r.version == version &&
      r.status == MigrationStatus.Applied)
  def getApplied(): Seq[AppliedMigration] =
    rows.filter(_.status == MigrationStatus.Applied).sortBy(_.version)
  def getChecksum(version: String): String =
    rows.find(_.version == version).map(_.checksum)
      .getOrElse(throw MigrationNotFound(version))
  def recordApplied(row: AppliedMigration): Unit =
    rows = rows.filterNot(_.version == row.version) :+
      row.copy(status = MigrationStatus.Applied)
  def recordRolledBack(version: String): Unit = {
    if (!rows.exists(_.version == version)) throw MigrationNotFound(version)
    rows = rows.map(r =>
      if (r.version == version) r.copy(status = MigrationStatus.RolledBack)
      else r)
  }
}
