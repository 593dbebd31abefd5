package graft
import graft.cli.AnalyzeMain.jsonEscape
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SessionDefaults: the same tuned confs Bench/QProf run with, so
    // the verified plan is the benched plan (results are plan-invariant
    // — the oracle hash-checks them either way)
    val spark = SessionDefaults.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // per-run unique tmpfs shuffle dir — /tmp is ext4+discard and the
      // shuffle churn of 120 queries triggers TRIM stalls (see
      // Bench.scala); uniqueness + stale-sweep rationale in LocalDirs
      .config("spark.local.dir", LocalDirs.scratch())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach {
      case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist an intermediate (d08's shingle table) must
      // not leak cache across the 100+ queries this session runs
      finally spark.catalog.clearCache()
    }
    // {SF} token → this run's sf dir: lets an oracle read a parquet
    // FILE with DuckDB options no registered view can carry
    // (filename/file_row_number for q94's metadata-column census)
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) =>
        s"${jsonEscape(k)}: ${jsonEscape(v.replace("{SF}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
