package graft.queries

import graft.functions.ExactSum
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** One declared query: the Spark implementation plus (when the operator
  * is SQL-expressible) the equivalent ANSI SQL the driver runs in DuckDB
  * on the same parquet tables. Queries without oracle SQL get the
  * driver's weaker rows-only check.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** headline queries run in Bench */
    bench: Boolean = false)

object Catalog {

  /** Read one test table (parquet scan; filters/pruning push down).
    *
    * `events.ts` has shipped as BOTH physical types across driver data
    * generations: TIMESTAMP(NANOS) (rounds 1-6), which Spark 4 rejects
    * by default, and plain µs TIMESTAMP with isAdjustedToUTC=false
    * (round 7+), which Spark 4 infers as TIMESTAMP_NTZ. Either way the
    * rest of the engine expects one canonical type — session-local
    * (UTC) microsecond TIMESTAMP — so normalize here: nanos read as
    * longs and floor-convert; NTZ casts to LTZ (an identity on the
    * stored values under the UTC session timezone). The DuckDB oracles
    * do the same with `cast(ts as timestamp)` (ns → µs truncation /
    * µs no-op), keeping both engines bit-identical. Reading nanos needs
    * the session built with [[graft.SessionDefaults.catalogReads]]
    * (which [[graft.SessionDefaults.tuned]] applies): a read sets no
    * session conf.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      val raw = parquet(spark, s"$dir/$name.parquet")
      raw.schema.find(_.name == "ts") match {
        case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
          // integer `div`, not `/`: double division loses sub-µs precision
          // at nanosecond-epoch magnitudes (> 2^53)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case Some(f)
            if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else parquet(spark, s"$dir/$name.parquet")
  }

  /** Read one parquet path without starting a Spark job. For a single
    * file, Spark's schema inference runs a job just to read the footer;
    * here the footer is read on the driver and converted by Spark's own
    * `readSchemaFromFooter` under the session's parquet confs
    * (nanosAsLong, int96/binary/NTZ inference), so the pinned schema is
    * the one inference would give. A directory (or a missing path) keeps
    * Spark's own resolution: partition discovery and schema merging are
    * Spark's job, and so is the missing-path error. The footer is read
    * again on every call — no cross-call cache.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file =
      try Some(p.getFileSystem(conf).getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    file match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
    }
  }

  // --- determinism helpers ------------------------------------------------
  // Double addition is not associative, and Spark's partition-parallel
  // aggregation order differs from DuckDB's — so raw double sums/avgs are
  // not reproducible bit-for-bit. Casting each addend to an exact decimal
  // first makes the aggregate exact and order-independent in BOTH engines;
  // the final cast back to double is then deterministic. Per-row double
  // arithmetic (price * (1-discount)) IS deterministic (same IEEE ops on
  // the same values) and needs no special handling.
  //
  // The Spark side is `ExactSum` (graft.functions), not `sum` over the
  // cast: it takes each row's unscaled integer of the same
  // `cast(x as decimal(p,s))` (a double rounding where that provably
  // equals Spark's BigDecimal-and-HALF_UP cast, Spark's cast itself
  // otherwise), adds the integers in a two-long 128-bit buffer, and
  // finishes at the same decimal(p+10,s) type with the same overflow
  // rule. Integer sums are exact, so the value — and the double it casts
  // to — is bit-identical to `sum(cast(x as decimal(p,s)))`; the SQL
  // twins below keep that spelling for DuckDB.

  /** Order-independent sum of a money-like column: decimal(18,2). */
  def dsum(c: Column): Column = ExactSum(c, 18, 2).cast("double")

  /** Same for per-row double products. Scale 6 exactly: a product of
    * three 2-decimal factors has at most 6 true decimal digits, so the
    * double→decimal(·,6) cast never hits a rounding-mode tie (scale 4
    * CAN — x.xxxx5 exactly — and Spark HALF_UP vs DuckDB then disagree
    * by 1e-4). And the sum's unscaled integer stays below 2^53 at the
    * tested scale factors, so BOTH engines' final decimal→double cast
    * is a single exact-int division — correctly rounded, bit-identical
    * (at scale 10 the int exceeds 2^53 and DuckDB's two-step conversion
    * drifts 1 ULP from Spark's correctly-rounded BigDecimal cast).
    */
  def dsum4(c: Column): Column = ExactSum(c, 24, 6).cast("double")

  /** Exact sum for per-row products of two 2-decimal factors: scale 4
    * covers the product's full 4 decimal digits (no rounding, so no
    * rounding-mode ties), and at the tested scale factors the unscaled
    * sum stays far below 2^53 for the small-magnitude columns this is
    * used on (quantity <= 50, discount <= 0.1).
    */
  def dsumP4(c: Column): Column = ExactSum(c, 24, 4).cast("double")

  /** Order-independent average: exact decimal sum, then double division. */
  def davg(c: Column): Column = (dsum(c) / count(c)).cast("double")

  /** SQL twins (DuckDB syntax is ANSI here). */
  def sqlDsum(e: String): String =
    s"cast(sum(cast($e as decimal(18,2))) as double)"
  def sqlDsum4(e: String): String =
    s"cast(sum(cast($e as decimal(24,6))) as double)"
  def sqlDsumP4(e: String): String =
    s"cast(sum(cast($e as decimal(24,4))) as double)"
  def sqlDavg(e: String): String =
    "cast(" + sqlDsum(e) + " / count(" + e + ") as double)"

  /** Materialize a multi-consumer corpus-scale frame: an eager,
    * lineage-cutting localCheckpoint (blocks MEMORY_AND_DISK, so they
    * spill under pressure). One definition shared by the graph loops
    * (GraphOps), d14's corpus-scale banded frame and the queries whose
    * optimizer rule must see the plan while it executes (q84, e35).
    */
  private[queries] def mat(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Re-alias every column to itself, minting fresh exprIds: the
    * inputs of a union (or self-join) that descend from one frame
    * share attribute ids, and Union's constraint rewrite chokes on ids
    * shared across children.
    */
  private[queries] def fresh(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)

  /** Scratch path for a query's stored index or written table:
    * `SPARK_GRAFT_INDEX_DIR` (default `java.io.tmpdir/graft-index`), then
    * `<tag>-<sf dir name>-<applicationId>`. Keyed by application id:
    * the queries rebuild their day-0 index in-run (cross-run persistence
    * is never relied on), and two concurrent sessions on one sf dir must
    * not interleave overwrite and read-back. The session's own paths
    * are deleted when its application ends ([[IndexCleanup]]).
    */
  def indexPath(s: SparkSession, d: String, tag: String): String =
    indexPath(s, sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      sys.props("java.io.tmpdir") + "/graft-index"), d, tag)

  private[graft] def indexPath(s: SparkSession, root: String, d: String,
      tag: String): String = {
    val sc = s.sparkContext
    val appId = sc.applicationId
    indexCleanups.computeIfAbsent((root, appId), { _ =>
      val c = new IndexCleanup(root, appId, sc.hadoopConfiguration)
      sc.addSparkListener(c)
      c
    })
    s"$root/$tag-${new java.io.File(d).getName}-$appId"
  }

  /** The cleanup registered for each (root, application id). */
  private[graft] val indexCleanups =
    new java.util.concurrent.ConcurrentHashMap[(String, String), IndexCleanup]

  /** Deletes, when its application ends, every entry under `root` that
    * [[indexPath]] named for application `appId` (a `-<appId>` suffix);
    * other sessions' paths stay. A failed delete is reported on stderr:
    * the application is ending, and there is no caller left to throw to.
    */
  private[graft] final class IndexCleanup(root: String, appId: String,
      conf: Configuration) extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      try {
        val dir = new Path(root)
        val fs = dir.getFileSystem(conf)
        if (fs.exists(dir))
          fs.listStatus(dir).map(_.getPath)
            .filter(_.getName.endsWith(s"-$appId"))
            .foreach(fs.delete(_, true))
      } catch {
        case NonFatal(ex) =>
          System.err.println(s"[graft] index cleanup under $root: $ex")
      }
  }

  /** The session's shuffle parallelism, for pinning a cached loop
    * input's partition count (REPARTITION_BY_NUM is exempt from AQE
    * coalescing — the r16 graph-loop lesson). One definition for the
    * four former inline lookups (PageRank ×2, GraphOps ×2); falls back
    * to Spark's default 200 on a non-numeric session value instead of
    * throwing NumberFormatException mid-query.
    */
  private[graft] def sessionShufflePartitions(df: DataFrame): Int =
    try df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: NumberFormatException => 200 }

  /** The full declared inventory (SURVEY.md §2.3 + training-data ops). */
  def all: Seq[(String, Q)] =
    Relational.queries ++ Relational2.queries ++ TextOps.queries ++
      EventOps.queries ++ MigrationOps.queries ++ MediaOps.queries ++
      GraphOps.queries
}
