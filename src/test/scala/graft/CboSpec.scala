package graft

import org.apache.spark.sql.functions._

/** Cost-based-optimizer behaviors the 100 TB posture relies on, proven
  * live on executed plans (AqeSpec's compile-time sibling): ANALYZE
  * TABLE statistics flowing into (a) filter-cardinality estimation
  * that flips a physically-large-but-selectively-filtered dimension
  * under the broadcast threshold, and (b) cost-based join REORDER of a
  * badly-written join order. AQE can only fix what runtime shuffle
  * stats see AFTER a stage runs; CBO fixes the plan before the first
  * task — at 100 TB both layers matter (a mis-ordered 3-way fact join
  * shuffles the big table twice before AQE ever gets a number).
  *
  * Uses a temp database with an explicit /tmp LOCATION (the suite's
  * in-memory catalog supports ANALYZE stats on parquet tables).
  */
class CboSpec extends SparkFunSuite {

  private val dbLoc =
    java.nio.file.Files.createTempDirectory("graft-cbo-wh").toString

  private def withCboDb(f: => Unit): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_cbo LOCATION '$dbLoc'")
    try f
    finally spark.sql("DROP DATABASE IF EXISTS graft_cbo CASCADE")
  }

  test("CBO filter estimation: ANALYZE column stats shrink a filtered " +
      "dim below the broadcast threshold — BroadcastHashJoin with CBO " +
      "on, SortMergeJoin with stats off, identical rows") {
    withCboDb {
      import spark.implicits._
      // dim: ~100k rows of wide payload, well above a 256 KB broadcast
      // threshold by FILE size; the category filter keeps 1/64
      spark.range(0, 100000)
        .select(col("id").as("k"), pmod(col("id"), lit(64L)).as("cat"),
          concat(lit("payload_payload_payload_"), col("id")).as("pad"))
        .write.mode("overwrite").saveAsTable("graft_cbo.dim")
      spark.range(0, 200000)
        .select(pmod(col("id"), lit(100000L)).as("k"),
          col("id").as("v"))
        .write.mode("overwrite").saveAsTable("graft_cbo.fact")
      spark.sql("ANALYZE TABLE graft_cbo.dim COMPUTE STATISTICS " +
        "FOR COLUMNS k, cat")
      spark.sql("ANALYZE TABLE graft_cbo.fact COMPUTE STATISTICS " +
        "FOR COLUMNS k")

      def q = spark.table("graft_cbo.fact")
        .join(spark.table("graft_cbo.dim").filter(col("cat") === 3),
          Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

      def joinNodes(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.executedPlan.toString

      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString,
        "spark.sql.cbo.enabled" -> "false",
        "spark.sql.adaptive.enabled" -> "false") {
        val plan = joinNodes(q)
        assert(plan.contains("SortMergeJoin"),
          s"expected SMJ without CBO (file-size estimate only):\n$plan")
      }
      val expected = withConf(
        "spark.sql.cbo.enabled" -> "false") { q.collect().toSeq }
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString,
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false") {
        val df = q
        val plan = joinNodes(df)
        assert(plan.contains("BroadcastHashJoin"),
          s"CBO filter estimation did not flip the join:\n$plan")
        assert(df.collect().toSeq == expected,
          "CBO changed the answer")
      }
    }
  }

  test("CBO join reorder: a badly-ordered 3-way join (big ⋈ big ⋈ " +
      "tiny) is reordered so the selective tiny table joins first — " +
      "leaf order changes, rows do not") {
    withCboDb {
      // written order joins the two big tables FIRST (1:1 on k,
      // 200k ⋈ 100k), then the 100-row tiny table; cost-based reorder
      // should push tiny against big1 first
      spark.range(0, 100000)
        .select(col("id").as("k"), pmod(col("id"), lit(1000L)).as("g"),
          concat(lit("a_"), col("id")).as("pada"))
        .write.mode("overwrite").saveAsTable("graft_cbo.big1")
      spark.range(0, 200000)
        .select(pmod(col("id"), lit(100000L)).as("k"),
          concat(lit("b_"), col("id")).as("padb"))
        .write.mode("overwrite").saveAsTable("graft_cbo.big2")
      spark.range(0, 100)
        .select(col("id").as("g"), (col("id") * 7).as("w"))
        .write.mode("overwrite").saveAsTable("graft_cbo.tiny")
      for (t <- Seq("big1", "big2", "tiny"))
        spark.sql(s"ANALYZE TABLE graft_cbo.$t COMPUTE STATISTICS " +
          "FOR ALL COLUMNS")

      val sql = """SELECT count(*) AS n, sum(t.w) AS sw
        FROM graft_cbo.big1 b1
        JOIN graft_cbo.big2 b2 ON b1.k = b2.k
        JOIN graft_cbo.tiny t ON b1.g = t.g AND t.w < 70"""

      def leafOrder(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collectLeaves().map(_.toString)
          .map { s =>
            Seq("big1", "big2", "tiny").find(s.contains).getOrElse("?")
          }

      val (offOrder, expected) = withConf(
        "spark.sql.cbo.enabled" -> "false") {
        val df = spark.sql(sql)
        (leafOrder(df), df.collect().toSeq)
      }
      withConf(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") {
        val df = spark.sql(sql)
        val onOrder = leafOrder(df)
        assert(offOrder == Seq("big1", "big2", "tiny"),
          s"unexpected baseline order: $offOrder")
        assert(onOrder != offOrder,
          s"join reorder did not change the shape: $onOrder")
        // the filtered tiny table must now join before big2
        assert(onOrder.indexOf("tiny") < onOrder.indexOf("big2"),
          s"tiny not promoted: $onOrder")
        assert(df.collect().toSeq == expected,
          "join reorder changed the answer")
      }
    }
  }
}
