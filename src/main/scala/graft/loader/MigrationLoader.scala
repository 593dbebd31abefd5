package graft.loader

import graft.model.{Migration, MigrationsDirNotFound}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Migration-file source.
  *
  * Reference behavior (`internal/migration/loader.go`):
  *   - filenames `V{n}_{name}.up.sql` / `.down.sql`, or
  *     `{14-digit-ts}_{name}.up.sql` (regex at loader.go:15-17);
  *     `V` prefix is stripped — `V001_x` stores version `001`;
  *   - non-matching files are skipped (loader.go:50-52);
  *   - files pair by `version_name`; a `.down.sql` without its
  *     `.up.sql` is an orphan and is skipped (loader.go:84-86);
  *   - SQL content is whitespace-trimmed (loader.go:108);
  *   - checksum = SHA-256 hex of the up SQL.
  *
  * One reader, on the driver: migration sets are tens of rows, so the
  * directory is listed and read in memory like the reference does.
  * [[loadSorted]] hands the same rows to Spark as a local relation for
  * the queries that analyze migrations as a Dataset.
  */
object MigrationLoader {

  /** `V001_name.up.sql` → ("001", name, "up"); `20240101120000_n.up.sql`
    * → ("20240101120000", n, "up").
    */
  val fileRegex = "^(?:V(\\d+)|(\\d{14}))_(.+)\\.(up|down)\\.sql$"

  /** [[loadLocal]] as a Dataset (a `LocalRelation`: reading it starts no
    * Spark job). Version order is the reference's `migration.Sort`
    * (sorter.go:7-16 — lexicographic on the version string; preserved
    * exactly, see SURVEY.md §7.4 item 4).
    */
  def loadSorted(spark: SparkSession, dir: String): Dataset[Migration] =
    spark.createDataset(loadLocal(dir))(Encoders.product[Migration])

  /** Driver-side load, sorted by version. A path that is missing or not
    * a readable directory throws [[MigrationsDirNotFound]]; an empty
    * directory is zero migrations (the reference's `os.ReadDir`).
    */
  def loadLocal(dir: String): Seq[Migration] = {
    val d = new java.io.File(dir)
    val re = fileRegex.r
    val files = Option(d.listFiles()).getOrElse(throw MigrationsDirNotFound(dir))
      .filter(_.isFile)
      .flatMap { f =>
        f.getName match {
          case re(vnum, vts, name, dirn) =>
            val version = if (vnum != null) vnum else vts
            Some((version, name, dirn,
              new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim,
              f.getAbsolutePath))
          case _ => None
        }
      }
    files.groupBy(t => (t._1, t._2)).toSeq
      .flatMap { case ((version, name), group) =>
        val up = group.find(_._3 == "up")
        val down = group.find(_._3 == "down")
        up.map { u =>
          Migration(version, name, u._4, down.map(_._4).getOrElse(""), u._5)
        } // orphan down without up → None (skipped)
      }
      .sortBy(_.version)
  }
}
