package graft.cli

import graft.Json
import graft.loader.MigrationLoader
import graft.tracker.ParquetTracker

/** `status` command: applied / pending / rolled-back overview — the
  * reference left this as a Phase-8 stub (`internal/cli/status.go:22-26`,
  * `plans/checklist.md:127-138`); implemented here per its checklist:
  * applied list with timestamps + durations, pending list, checksum
  * drift warnings.
  *
  * `--format json` implements the value the reference registers on the
  * stub (`status.go:18`): machine-readable applied/pending lists with
  * the same drift detection, for tooling that polls migration state.
  */
object StatusMain {
  def run(c: GraftMain.Status, session: CliSpark.LazySession): Unit = {
    val GraftMain.Status(dir, trackerDir, format) = c
    val migrations = MigrationLoader.loadLocal(dir)
    val tracker = new ParquetTracker(session.get, trackerDir)
    tracker.ensureTable()
    val applied = tracker.getApplied()
    val appliedVersions = applied.map(_.version).toSet
    val byVersion = migrations.map(m => m.version -> m).toMap
    def driftOf(a: graft.model.AppliedMigration): String =
      byVersion.get(a.version) match {
        case Some(m) if m.checksum != a.checksum => "checksum_drift"
        case None => "file_missing"
        case _ => ""
      }
    val pending = migrations.filterNot(m => appliedVersions(m.version))
    if (format == "json") {
      println(Json.obj("migrations_dir" -> dir, "tracker" -> trackerDir,
        "applied" -> applied.map { a =>
          Json.obj("version" -> a.version, "filename" -> a.filename,
            "applied_at" -> a.appliedAt.toString,
            "duration_ms" -> a.durationMs, "drift" -> driftOf(a))
        },
        "pending" -> pending.map(m =>
          Json.obj("version" -> m.version, "name" -> m.name))))
    } else {
      println(s"Migrations dir: $dir")
      println(s"Tracker:        $trackerDir")
      println(s"\nApplied (${applied.length}):")
      applied.foreach { a =>
        val drift = driftOf(a) match {
          case "checksum_drift" => "  [CHECKSUM DRIFT]"
          case "file_missing" => "  [FILE MISSING]"
          case _ => ""
        }
        println(f"  ${a.version}%-16s ${a.filename}%-40s ${a.appliedAt} ${a.durationMs}%5dms$drift")
      }
      println(s"\nPending (${pending.length}):")
      pending.foreach(m => println(f"  ${m.version}%-16s ${m.name}"))
      if (pending.isEmpty) println("  (none — up to date)")
    }
  }
}
