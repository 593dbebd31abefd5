package graft.loader

import graft.model.{Migration, MigrationsDirNotFound}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  * Spark-first shape (SURVEY.md S1-S3): `wholetext` scan +
  * `input_file_name()` + `regexp_extract`, then an up/down pivot via
  * `groupBy(version, name).agg(max(when(...)))` — one shuffle on the
  * (tiny) migration key, no self-join needed. Checksum via built-in
  * `sha2(..., 256)` — codegen'd, no UDF.
  */
object MigrationLoader {

  /** `V001_name.up.sql` → ("001", name, "up"); `20240101120000_n.up.sql`
    * → ("20240101120000", n, "up").
    */
  val fileRegex = "^(?:V(\\d+)|(\\d{14}))_(.+)\\.(up|down)\\.sql$"

  /** Distributed load: Dataset[Migration] from a directory of .sql files. */
  def load(spark: SparkSession, dir: String): Dataset[Migration] = {
    import spark.implicits._
    val files = spark.read.option("wholetext", "true")
      .text(s"$dir/*.sql")
      .select(
        element_at(split(input_file_name(), "/"), -1).as("fname"),
        input_file_name().as("path"),
        $"value".as("content"))
    val parsed = files
      .withColumn("vnum", regexp_extract($"fname", fileRegex, 1))
      .withColumn("vts", regexp_extract($"fname", fileRegex, 2))
      .withColumn("name", regexp_extract($"fname", fileRegex, 3))
      .withColumn("direction", regexp_extract($"fname", fileRegex, 4))
      .filter($"direction" =!= "") // non-matching filenames skipped
      .withColumn("version",
        when($"vnum" =!= "", $"vnum").otherwise($"vts"))
    // NB: Spark's trim() strips only ' '; the reference's TrimSpace strips
    // all whitespace — use a regexp to match its semantics exactly.
    def wtrim(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^\\s+|\\s+$", "")
    val paired = parsed
      .groupBy($"version", $"name")
      .agg(
        max(when($"direction" === "up", wtrim($"content"))).as("upSql"),
        max(when($"direction" === "down", wtrim($"content"))).as("downSql"),
        max(when($"direction" === "up", $"path")).as("filePath"))
      .filter($"upSql".isNotNull) // orphan .down.sql skipped
      .na.fill("", Seq("downSql"))
      .withColumn("checksum", sha2($"upSql", 256))
      .select($"version", $"name", $"upSql", $"downSql", $"checksum",
        $"filePath")
    paired.as[Migration]
  }

  /** Load + version-sort (reference `migration.Sort`, sorter.go:7-16 —
    * lexicographic on the version string; preserved exactly, see
    * SURVEY.md §7.4 item 4).
    */
  def loadSorted(spark: SparkSession, dir: String): Dataset[Migration] =
    load(spark, dir).orderBy("version")

  /** Driver-side load for the CLI (migration sets are tens of rows; no
    * cluster needed). Same semantics as [[load]], except that a path
    * that is missing or not a readable directory throws
    * [[MigrationsDirNotFound]] instead of reading as no migrations; an
    * empty directory is zero migrations (the reference's `os.ReadDir`).
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
