package graft
import graft.Json.{obj, objLines}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * _status.json: per query `{"status":"ok"|"error","error":<class>|null,
  * "seconds":s}`. Runs in Bench's session ([[SessionDefaults.local]]);
  * results are plan-invariant — the oracle hash-checks them either way. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for fast
    // targeted re-verification while iterating (driver passes 2 args →
    // full dump, unchanged)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names.split(',').toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
        sys.exit(2)
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = SessionDefaults.local("graft-verify",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val status = SparkEntry.queries.toSeq.filter(kv => selected(kv._1)).map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        val error =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              Some(e.getClass.getName)
          }
          // queries that persist an intermediate (d08's shingle table)
          // must not leak cache across the 300+ queries this session runs
          finally spark.catalog.clearCache()
        name -> obj("status" -> (if (error.isEmpty) "ok" else "error"),
          "error" -> error, "seconds" -> (System.nanoTime() - t0) / 1e9)
    }
    Files.writeString(Paths.get(s"$outDir/_status.json"),
      objLines(status.sortBy(_._1)).json)
    // {SF} token → this run's sf dir: lets an oracle read a parquet
    // FILE with DuckDB options no registered view can carry
    // (filename/file_row_number for q94's metadata-column census)
    val oracle = SparkEntry.oracleSql.toSeq.filter(kv => selected(kv._1))
      .map { case (k, v) => k -> v.replace("{SF}", sfDir) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(oracle: _*).json)
    spark.stop()
  }
}
