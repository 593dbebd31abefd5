package graft.tracker

import graft.model.{AppliedMigration, MigrationNotFound, MigrationStatus}
import org.apache.spark.sql.{Encoders, SaveMode, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The `schema_migrations` state store (reference:
  * `internal/tracker/tracker.go`, DDL `internal/tracker/schema.go:4-11`).
  *
  * Q1-Q5 (SURVEY.md §2.2): point existence, applied list ordered by
  * version, upsert (MERGE semantics), keyed status update, point
  * lookup.
  */
trait Tracker {
  def ensureTable(): Unit
  /** Q1: is this version currently applied? */
  def isApplied(version: String): Boolean
  /** Q2: applied migrations ordered by version. */
  def getApplied(): Seq[AppliedMigration]
  /** Q5: stored checksum; MigrationNotFound if absent. */
  def getChecksum(version: String): String
  /** Q3: INSERT … ON CONFLICT (version) DO UPDATE. */
  def recordApplied(row: AppliedMigration): Unit
  /** Q4: UPDATE status='rolled_back'; MigrationNotFound on 0 rows. */
  def recordRolledBack(version: String): Unit
}

/** Parquet-snapshot tracker: the table lives as versioned snapshot
  * directories under `basePath`, with a `_CURRENT` pointer file updated
  * by atomic rename. Single-writer safety comes from the executor's
  * lock lease (as in the reference, where the advisory lock serializes
  * all tracker writes); the atomic pointer swap additionally keeps
  * readers consistent. On a lakehouse deployment the natural backend is
  * a Delta/Iceberg table with real MERGE — the trait boundary is where
  * that swaps in.
  *
  * Write path is append + compact (the Delta-log shape): each
  * `recordApplied`/`recordRolledBack` appends ONE tiny delta file
  * (atomic tmp-write + rename — no Spark job, no snapshot rewrite), and
  * once `compactThreshold` deltas accumulate they are folded into a
  * fresh parquet snapshot and removed. An n-migration apply run is
  * O(n) total tracker work instead of the O(n²)
  * collect-and-rewrite-per-migration it replaces, while keeping the
  * per-migration durability the executor's crash contract needs (a
  * failure at migration k must leave 1..k-1 recorded). A crash between
  * the snapshot swap and the delta sweep is safe: re-folding an
  * already-absorbed delta is idempotent (last-writer-wins by delta
  * sequence, and the absorbed snapshot row is identical).
  *
  * Reads answer from `fold` on the driver: the table is one row per
  * migration, and a snapshot and a delta are never rewritten once
  * named, so the rows of the current snapshot are kept under its name
  * and every call still sees the on-disk state. Spark runs only to read
  * a snapshot (once per snapshot per instance) and to write one at
  * compaction, so `spark` is taken by name and a command whose tracker
  * has no snapshot never starts a session.
  */
final class ParquetTracker(spark: => SparkSession, basePath: String)
    extends Tracker {

  private def base: Path = Paths.get(basePath)
  private def pointer: Path = base.resolve("_CURRENT")
  private val compactThreshold = 64

  /** A missing `_CURRENT` reads as the empty table. */
  def ensureTable(): Unit = Files.createDirectories(base)

  private def currentSnapshot: Option[String] =
    if (Files.exists(pointer))
      Some(new String(Files.readAllBytes(pointer), "UTF-8").trim)
    else None

  private var cached: Option[(String, Seq[AppliedMigration])] = None

  /** Rows of the current snapshot. The schema is given, so the read is
    * one Spark job with no footer-inference job before it.
    */
  private def snapshotRows: Seq[AppliedMigration] = currentSnapshot match {
    case None => Nil
    case Some(snap) => cached.collect { case (`snap`, rows) => rows }
      .getOrElse {
        val enc = Encoders.product[AppliedMigration]
        val rows = spark.read.schema(enc.schema)
          .parquet(base.resolve(snap).toString).as(enc).collect().toSeq
        cached = Some(snap -> rows)
        rows
      }
  }

  private def writeSnapshot(rows: Seq[AppliedMigration]): Unit = {
    val snapName = s"snap_${System.currentTimeMillis()}_${rows.length}"
    val snapDir = base.resolve(snapName)
    spark.createDataset(rows)(Encoders.product[AppliedMigration]).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(snapDir.toString)
    val tmp = base.resolve(s"_CURRENT.tmp.${System.nanoTime()}")
    Files.write(tmp, snapName.getBytes("UTF-8"))
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    cached = Some(snapName -> rows)
  }

  // --- delta WAL ---------------------------------------------------------

  /** Sorted delta files (`delta_<19-digit seq>`) — lexicographic order
    * IS sequence order. Listings materialize + close (no leaked fds).
    */
  private def deltaFiles: Seq[Path] =
    if (!Files.exists(base)) Nil
    else {
      val s = Files.list(base)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("delta_"))
        .toVector.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Next sequence = max existing + 1 — monotonic across process
    * restarts regardless of clock (the executor lock serializes
    * writers).
    */
  private def nextDeltaName: String = {
    val last = deltaFiles.lastOption
      .map(_.getFileName.toString.stripPrefix("delta_").toLong)
      .getOrElse(0L)
    f"delta_${last + 1}%019d"
  }

  private def esc(s: String): String = s.replace("\\", "\\\\")
    .replace("\t", "\\t").replace("\n", "\\n")
  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb += '\t'; case 'n' => sb += '\n'
          case c => sb += c
        }
        i += 2
      } else { sb += s.charAt(i); i += 1 }
    }
    sb.toString
  }

  // appliedAt transits the WAL as epoch MICROS, not millis: parquet
  // snapshots store microseconds, so a row that rode a delta file must
  // come back bit-identical to one written straight into a snapshot
  // (millis serialization made stored precision path-dependent and
  // silently shifted a rolled-back row's appliedAt). The field carries
  // a "us:" format marker: a delta written by the earlier millis
  // format must FAIL the fold loudly rather than be read as micros
  // (which would silently collapse appliedAt toward 1970).
  private def renderRow(r: AppliedMigration): String = {
    val micros = Math.multiplyExact(
      Math.floorDiv(r.appliedAt.getTime, 1000L), 1000000L) +
      (r.appliedAt.getNanos / 1000L)
    Seq(esc(r.version), esc(r.filename), esc(r.checksum),
      "us:" + micros.toString, r.durationMs.toString,
      esc(r.status)).mkString("\t")
  }

  private def parseRow(line: String): AppliedMigration = {
    // split on unescaped tabs (esc turned literal tabs into \t)
    val f = line.split('\t')
    if (!f(3).startsWith("us:"))
      throw new IllegalStateException(
        "tracker delta file uses an unrecognized appliedAt format " +
          s"(expected 'us:<epoch-micros>', got '${f(3)}'): refusing " +
          "to fold a WAL written by an incompatible version")
    val micros = f(3).stripPrefix("us:").toLong
    val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    AppliedMigration(unesc(f(0)), unesc(f(1)), unesc(f(2)),
      ts, f(4).toInt, unesc(f(5)))
  }

  /** One atomic append: tmp-write + same-dir rename. O(rows), no
    * Spark job, no snapshot rewrite.
    */
  private def appendDelta(rows: Seq[AppliedMigration]): Unit = {
    val name = nextDeltaName
    val tmp = base.resolve(s"._tmp_$name")
    Files.write(tmp,
      rows.map(renderRow).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, base.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    if (deltaFiles.length >= compactThreshold) compact()
  }

  /** Snapshot rows + deltas folded last-writer-wins per version,
    * ordered by version.
    */
  private def fold(): Seq[AppliedMigration] =
    deltaFiles.foldLeft(snapshotRows) { (acc, d) =>
      val rows = new String(Files.readAllBytes(d), "UTF-8")
        .split("\n").filter(_.nonEmpty).map(parseRow).toSeq
      val versions = rows.map(_.version).toSet
      acc.filterNot(r => versions.contains(r.version)) ++ rows
    }.sortBy(_.version)

  /** Fold everything into a fresh snapshot, then sweep the absorbed
    * deltas. Crash after the swap and before the sweep is safe:
    * re-folding absorbed deltas reproduces the same rows.
    */
  def compact(): Unit = {
    val absorbed = deltaFiles
    if (absorbed.nonEmpty) {
      writeSnapshot(fold())
      absorbed.foreach(Files.deleteIfExists(_))
    }
  }

  def isApplied(version: String): Boolean =
    fold().exists(r => r.version == version &&
      r.status == MigrationStatus.Applied)

  def getApplied(): Seq[AppliedMigration] =
    fold().filter(_.status == MigrationStatus.Applied)

  def getChecksum(version: String): String =
    fold().find(_.version == version).map(_.checksum)
      .getOrElse(throw MigrationNotFound(version))

  def recordApplied(row: AppliedMigration): Unit =
    appendDelta(Seq(row.copy(status = MigrationStatus.Applied)))

  def recordRolledBack(version: String): Unit = {
    val existing = fold()
    val row = existing.find(_.version == version)
      .getOrElse(throw MigrationNotFound(version))
    appendDelta(Seq(row.copy(status = MigrationStatus.RolledBack)))
  }
}
