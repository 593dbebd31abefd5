package graft

import graft.loader.MigrationLoader
import graft.model.MigrationsDirNotFound
import java.nio.file.Files

/** Loader tests — ported case matrix from the reference's
  * `internal/migration/loader_test.go` and `sorter_test.go`.
  */
class LoaderSpec extends SparkFunSuite {

  val fixturesDir = "/root/repo/fixtures/migrations"

  private def tempDir(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft-loader").toFile
    files.foreach { case (name, content) =>
      Files.write(new java.io.File(dir, name).toPath, content.getBytes("UTF-8"))
    }
    dir.getAbsolutePath
  }

  test("Spark load: 27 fixture migrations, sorted, stripped V prefix") {
    val ms = MigrationLoader.loadSorted(spark, fixturesDir).collect().toSeq
    assert(ms.length == 27)
    assert(ms.map(_.version) == (1 to 27).map(i => f"$i%03d"))
    assert(ms.head.name == "create_users")
    assert(ms.head.upSql.startsWith("CREATE TABLE users"))
    assert(ms.head.downSql.startsWith("DROP TABLE users"))
    // the CLI's rows, unchanged
    assert(ms == MigrationLoader.loadLocal(fixturesDir))
  }

  test("Spark load: migrations without down files have empty downSql") {
    val ms = MigrationLoader.loadSorted(spark, fixturesDir).collect()
    val v008 = ms.find(_.version == "008").get
    assert(v008.downSql == "")
    assert(v008.upSql == "VACUUM FULL users;")
    // SHA-256 of the trimmed up SQL (sha256sum of "VACUUM FULL users;")
    assert(v008.checksum ==
      "7b35c2d1c6a07ddc98c76c8c6a986073e68410e34c4bdedff0f7e9ba965a7e4a")
  }

  test("loadSorted starts no Spark job") {
    var n = 0
    val jobs = jobsStartedBy {
      n = MigrationLoader.loadSorted(spark, fixturesDir).collect().length
    }
    assert(n == 27)
    assert(jobs.isEmpty, s"loading migrations started jobs: $jobs")
  }

  test("a file name with a space keeps it in the migration name") {
    val dir = tempDir("V001_a b.up.sql" -> "SELECT 1;")
    val ms = MigrationLoader.loadSorted(spark, dir).collect()
    assert(ms.map(_.name).toSeq == Seq("a b"))
  }

  test("a missing migrations dir throws MigrationsDirNotFound") {
    val missing = tempDir() + "/absent"
    intercept[MigrationsDirNotFound](MigrationLoader.loadSorted(spark, missing))
  }

  test("orphan .down.sql and non-matching filenames are skipped; timestamp versions load") {
    val dir = tempDir(
      "V001_ok.up.sql" -> "SELECT 1;",
      "V002_orphan.down.sql" -> "SELECT 2;", // no matching up → skipped
      "README.md" -> "not a migration",
      "notes.sql" -> "SELECT 3;", // non-matching name → skipped
      "20240101120000_ts_style.up.sql" -> "SELECT 4;")
    val ms = MigrationLoader.loadSorted(spark, dir).collect()
    assert(ms.map(_.version).toSeq == Seq("001", "20240101120000"))
    assert(ms.find(_.version == "20240101120000").get.name == "ts_style")
  }

  test("version sort is lexicographic on the version string") {
    // 14-digit timestamps sort after zero-padded numeric versions —
    // exactly the reference's lexicographic semantics (sorter.go:11-13)
    val vs = Seq("20240101120000", "001", "010", "002")
    assert(vs.sorted == Seq("001", "002", "010", "20240101120000"))
  }
}
