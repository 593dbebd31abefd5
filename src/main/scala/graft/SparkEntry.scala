package graft

import graft.queries.Catalog
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator inventory (SURVEY.md §2.3 plus the
  * training-data pipeline operators); each entry with an `oracleSql`
  * twin is hash-verified against DuckDB on the same parquet tables.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the 3-way join + agg + top-k shipping-priority query.
    */
  def entry(spark: SparkSession): DataFrame =
    Catalog.all.toMap.apply("q03_shipping_priority")
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map { case (name, q) => name -> q.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (MinHash/SimHash/LSH internals, migration-fixture dataflow) →
    * driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    Catalog.all.collect { case (name, q) if q.oracle.isDefined =>
      name -> q.oracle.get.trim
    }.toMap

  /** Headline queries timed by Bench. */
  def benchQueries: Seq[String] =
    Catalog.all.collect { case (name, q) if q.bench => name }
}
