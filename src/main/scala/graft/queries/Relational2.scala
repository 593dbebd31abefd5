package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import Catalog._

/** Second tranche of the relational inventory (SURVEY.md §2.3 widening):
  * pivot/unpivot, exact percentiles, moment statistics, correlated
  * EXISTS, RANGE window frames, ntile/distribution functions,
  * first/last/nth window values, GROUPING SETS, posexplode, higher-order
  * array functions, regexp_extract_all, extended string functions,
  * filtered aggregation, and null-handling functions.
  *
  * Determinism contract is the same as [[Relational]]: every query ends
  * in a full-tiebreak ORDER BY; double aggregates go through exact
  * decimal sums (see Catalog); derived double math is written with the
  * SAME expression shape on both engines so IEEE evaluation is
  * bit-identical.
  */
object Relational2 {

  /** DuckDB twin of the orders table q88's MERGE leaves (q88, q105,
    * q106, q108): CTEs `seed` (version 1, o_orderkey % 3 = 0), `src`
    * (the merge source, o_orderkey % 2 = 0 at 1.25× the price) and
    * `merged(o_orderkey, status, total)` (version 2: matches updated,
    * o_orderkey % 30 = 0 deleted, the rest of the source inserted).
    */
  private val sqlMergedOrders: String = """seed AS (
          SELECT o_orderkey, 'seed' AS status, o_totalprice AS total
          FROM orders WHERE o_orderkey % 3 = 0),
        src AS (
          SELECT o_orderkey, 'merged' AS status,
            o_totalprice * 1.25 AS total
          FROM orders WHERE o_orderkey % 2 = 0),
        merged AS (
          SELECT t.o_orderkey, src.status, src.total
          FROM seed t JOIN src ON src.o_orderkey = t.o_orderkey
          WHERE t.o_orderkey % 30 <> 0
          UNION ALL
          SELECT t.o_orderkey, t.status, t.total FROM seed t
          WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
          UNION ALL
          SELECT src.o_orderkey, src.status, src.total FROM src
          WHERE src.o_orderkey NOT IN (SELECT o_orderkey FROM seed))"""

  def queries: Seq[(String, Q)] = Seq(

    // ------------------------------------------------------------------
    // Pivot: order counts per year x priority. Spark's relational pivot
    // with explicit value list (one pass, no per-value scans); the
    // oracle is the equivalent conditional aggregation.
    // ------------------------------------------------------------------
    "q36_pivot" -> Q(
      (s, d) =>
        t(s, d, "orders")
          .withColumn("yr", year(col("o_orderdate")))
          .groupBy(col("yr"))
          .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .withColumnRenamed("1-URGENT", "n_urgent")
          .withColumnRenamed("2-HIGH", "n_high")
          .withColumnRenamed("3-MEDIUM", "n_medium")
          .withColumnRenamed("4-NOT SPECIFIED", "n_unspec")
          .withColumnRenamed("5-LOW", "n_low")
          .orderBy(col("yr")),
      Some("""SELECT cast(year(o_orderdate) as integer) AS yr,
        count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
        count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
        count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_unspec,
        count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
        FROM orders GROUP BY yr ORDER BY yr""")),

    // ------------------------------------------------------------------
    // Unpivot (melt): wide per-flag status counts back to long form.
    // ------------------------------------------------------------------
    "q37_unpivot" -> Q(
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(when(col("l_linestatus") === "O", 1)).as("open_n"),
            count(when(col("l_linestatus") === "F", 1)).as("finished_n"))
          .unpivot(Array(col("l_returnflag")),
            Array(col("open_n"), col("finished_n")), "metric", "n")
          .orderBy(col("l_returnflag"), col("metric")),
      Some("""WITH w AS (
          SELECT l_returnflag,
            count(*) FILTER (WHERE l_linestatus = 'O') AS open_n,
            count(*) FILTER (WHERE l_linestatus = 'F') AS finished_n
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, 'open_n' AS metric, open_n AS n FROM w
        UNION ALL
        SELECT l_returnflag, 'finished_n' AS metric, finished_n AS n FROM w
        ORDER BY l_returnflag, metric""")),

    // ------------------------------------------------------------------
    // Exact percentiles (PERCENTILE_CONT semantics: pos = p*(n-1),
    // linear interpolation). l_quantity is integral and the requested
    // fractions are quarters, so the interpolated doubles are exact and
    // engine-independent.
    // ------------------------------------------------------------------
    "q38_percentiles" -> Q(
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.25)").as("q25"),
            expr("percentile(l_quantity, 0.5)").as("q50"),
            expr("percentile(l_quantity, 0.75)").as("q75"),
            min(col("l_quantity")).as("qmin"),
            max(col("l_quantity")).as("qmax"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS q25,
        quantile_cont(l_quantity, 0.5) AS q50,
        quantile_cont(l_quantity, 0.75) AS q75,
        min(l_quantity) AS qmin, max(l_quantity) AS qmax
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Moment statistics (variance/stddev/correlation) built from exact
    // decimal sums, NOT the engines' native streaming moments — native
    // stddev/corr accumulate doubles in partition order and are not
    // cross-engine (or even run-to-run) bit-reproducible. From exact
    // sums, the double formula below is evaluated with the same IEEE
    // ops on both engines.
    // ------------------------------------------------------------------
    "q39_stats_moments" -> Q(
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).cast("double").as("n"),
            dsum(col("l_quantity")).as("sx"),
            dsum(col("l_discount")).as("sy"),
            dsumP4(col("l_quantity") * col("l_quantity")).as("sxx"),
            dsumP4(col("l_discount") * col("l_discount")).as("syy"),
            dsumP4(col("l_quantity") * col("l_discount")).as("sxy"))
          .select(col("l_returnflag"),
            col("n").cast("bigint").as("n_rows"),
            (col("sx") / col("n")).as("mean_qty"),
            ((col("sxx") - col("sx") * col("sx") / col("n")) /
              (col("n") - 1)).as("var_qty"),
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
              (col("n") - 1)).as("std_qty"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("corr_qty_disc"))
          .orderBy(col("l_returnflag")),
      Some(s"""WITH m AS (
          SELECT l_returnflag,
            cast(count(*) as double) AS n,
            ${sqlDsum("l_quantity")} AS sx,
            ${sqlDsum("l_discount")} AS sy,
            ${sqlDsumP4("l_quantity * l_quantity")} AS sxx,
            ${sqlDsumP4("l_discount * l_discount")} AS syy,
            ${sqlDsumP4("l_quantity * l_discount")} AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, cast(n as bigint) AS n_rows,
          sx / n AS mean_qty,
          (sxx - sx * sx / n) / (n - 1) AS var_qty,
          sqrt((sxx - sx * sx / n) / (n - 1)) AS std_qty,
          (n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
            AS corr_qty_disc
        FROM m ORDER BY l_returnflag"""),
      bench = true),

    // ------------------------------------------------------------------
    // Correlated EXISTS subquery through the SQL entry point (Catalyst
    // rewrites it to a left-semi join — same physical plan as q05, but
    // exercising the subquery-decorrelation path).
    // ------------------------------------------------------------------
    "q40_exists_subquery" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer")
        t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey, c_name FROM customer
          WHERE EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_totalprice > 300000)
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 300000)
        ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // RANGE window frame (value-based, not row-based): per supplier,
    // how many lineitems fall within 10000 below this one's price, and
    // their exact revenue. Frame membership is value-determined, so
    // order-by ties don't affect the result.
    // ------------------------------------------------------------------
    "q41_range_frame" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""SELECT l_suppkey, l_orderkey, l_linenumber,
            count(*) OVER w AS n_in_range,
            cast(sum(cast(l_extendedprice as decimal(18,2))) OVER w
                 as double) AS sum_in_range
          FROM lineitem
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice
                       RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
          ORDER BY l_suppkey, l_orderkey, l_linenumber""")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
          count(*) OVER w AS n_in_range,
          cast(sum(cast(l_extendedprice as decimal(18,2))) OVER w
               as double) AS sum_in_range
        FROM lineitem
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice
                     RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // ------------------------------------------------------------------
    // Distribution window functions: ntile / percent_rank / cume_dist.
    // The window order is a total order (price, then key), so bucket
    // boundaries and rank ratios are deterministic.
    // ------------------------------------------------------------------
    "q42_ntile_dist" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            ntile(4).over(w).as("tile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
          cast(ntile(4) OVER w as integer) AS tile,
          percent_rank() OVER w AS pr,
          cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey""")),

    // ------------------------------------------------------------------
    // first_value / last_value / nth_value with explicit frames —
    // first line's part, last line's part, and the second line's part
    // per order (full-partition frame for the latter two).
    // ------------------------------------------------------------------
    "q43_first_last_nth" -> Q(
      (s, d) => {
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // the window order needs the full tiebreak to be total, or
        // first/last/nth are nondeterministic.
        val ord = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"))
        val running = ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val full = ord.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            first(col("l_partkey")).over(running).as("first_part"),
            last(col("l_partkey")).over(full).as("last_part"),
            nth_value(col("l_partkey"), 2).over(full).as("second_part"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
          first_value(l_partkey) OVER w AS first_part,
          last_value(l_partkey) OVER wf AS last_part,
          nth_value(l_partkey, 2) OVER wf AS second_part
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
        ORDER BY l_orderkey, l_linenumber""")),

    // ------------------------------------------------------------------
    // GROUPING SETS with grouping() markers — finer-grained than
    // rollup/cube (q17/q18): an explicit set list, via the SQL surface.
    // ------------------------------------------------------------------
    "q44_grouping_sets" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer")
        t(s, d, "nation").createOrReplaceTempView("nation")
        t(s, d, "region").createOrReplaceTempView("region")
        s.sql(s"""SELECT r_name, n_name,
            cast(grouping(r_name) as int) AS g_r,
            cast(grouping(n_name) as int) AS g_n,
            count(*) AS n_customers,
            ${sqlDsum("c_acctbal")} AS total_acctbal
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
          ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""")
      },
      Some(s"""SELECT r_name, n_name,
          cast(grouping(r_name) as int) AS g_r,
          cast(grouping(n_name) as int) AS g_n,
          count(*) AS n_customers,
          ${sqlDsum("c_acctbal")} AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""")),

    // ------------------------------------------------------------------
    // posexplode (generator with ordinality) — the UDTF-shaped surface.
    // ------------------------------------------------------------------
    "q45_posexplode" -> Q(
      (s, d) =>
        t(s, d, "part")
          .select(col("p_partkey"),
            posexplode(split(col("p_name"), " ")))
          .toDF("p_partkey", "pos", "word")
          .orderBy(col("p_partkey"), col("pos")),
      Some("""SELECT p_partkey, cast(i - 1 as integer) AS pos, w[i] AS word
        FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part),
        LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
        ORDER BY p_partkey, pos""")),

    // ------------------------------------------------------------------
    // Higher-order array functions: transform / filter / exists /
    // aggregate / array_sort / slice, all over a generated int array —
    // these run inside codegen'd projections, no UDFs.
    // ------------------------------------------------------------------
    "q46_array_hof" -> Q(
      (s, d) =>
        t(s, d, "part")
          .select(col("p_partkey"),
            expr("aggregate(transform(sequence(1, p_size), x -> x * x)," +
              " cast(0 as bigint), (acc, x) -> acc + x)").as("sum_sq"),
            expr("size(filter(sequence(1, p_size), x -> x % 3 = 0))")
              .as("n_div3"),
            expr("exists(sequence(1, p_size), x -> x * x = p_size)")
              .as("has_sqrt"),
            expr("array_join(slice(sequence(1, p_size), 1, 3), '-')")
              .as("first3"),
            expr("array_join(array_sort(split(p_name, ' ')), ',')")
              .as("sorted_words"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
          cast(list_sum(list_transform(generate_series(1, p_size),
               x -> x * x)) as bigint) AS sum_sq,
          cast(len(list_filter(generate_series(1, p_size),
               x -> x % 3 = 0)) as int) AS n_div3,
          len(list_filter(generate_series(1, p_size),
              x -> x * x = p_size)) > 0 AS has_sqrt,
          array_to_string((generate_series(1, p_size))[1:3], '-') AS first3,
          array_to_string(list_sort(string_split(p_name, ' ')), ',')
            AS sorted_words
        FROM part ORDER BY p_partkey""")),

    // ------------------------------------------------------------------
    // regexp_extract_all: every 5-letter lowercase word per document
    // (bounded slice of the corpus), joined for cross-engine compare.
    // ------------------------------------------------------------------
    "q47_regexp_extract_all" -> Q(
      (s, d) =>
        t(s, d, "documents")
          .filter(col("doc_id") < 100)
          .select(col("doc_id"),
            array_join(regexp_extract_all(col("text"),
              lit("\\b[a-z]{5}\\b"), lit(0)), ",").as("five_letter"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          array_to_string(regexp_extract_all(text, '\b[a-z]{5}\b'), ',')
            AS five_letter
        FROM documents WHERE doc_id < 100 ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // Extended string functions: translate / repeat / reverse / left /
    // right / rpad / levenshtein.
    // ------------------------------------------------------------------
    "q48_string_funcs2" -> Q(
      (s, d) =>
        t(s, d, "part")
          .select(col("p_partkey"),
            translate(col("p_type"), "AEIOU", "aeiou").as("devoweled"),
            expr("repeat(p_brand, 2)").as("brand2"),
            reverse(col("p_name")).as("rev_name"),
            expr("left(p_name, 4)").as("name_l4"),
            expr("right(p_name, 4)").as("name_r4"),
            rpad(col("p_brand"), 12, ".").as("brand_pad"),
            levenshtein(col("p_brand"), col("p_type")).as("lev"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
          translate(p_type, 'AEIOU', 'aeiou') AS devoweled,
          repeat(p_brand, 2) AS brand2,
          reverse(p_name) AS rev_name,
          left(p_name, 4) AS name_l4,
          right(p_name, 4) AS name_r4,
          rpad(p_brand, 12, '.') AS brand_pad,
          cast(levenshtein(p_brand, p_type) as integer) AS lev
        FROM part ORDER BY p_partkey""")),

    // ------------------------------------------------------------------
    // Filtered / boolean aggregation: count_if, bool_and, bool_or, and
    // a conditional exact sum (the FILTER-clause surface).
    // ------------------------------------------------------------------
    "q49_filtered_agg" -> Q(
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("count_if(l_discount > 0.05)").as("n_discounted"),
            expr("bool_and(l_quantity > 0)").as("all_positive"),
            expr("bool_or(l_tax > 0.07)").as("any_high_tax"),
            dsum(when(col("l_discount") > 0.05, col("l_extendedprice")))
              .as("discounted_revenue"))
          .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag,
          cast(count_if(l_discount > 0.05) as bigint) AS n_discounted,
          bool_and(l_quantity > 0) AS all_positive,
          bool_or(l_tax > 0.07) AS any_high_tax,
          cast(sum(cast(l_extendedprice as decimal(18,2)))
               FILTER (WHERE l_discount > 0.05) as double)
            AS discounted_revenue
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Null-handling functions over a left join's null side: coalesce /
    // nullif / ifnull / greatest / least.
    // ------------------------------------------------------------------
    "q50_null_funcs" -> Q(
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_acctbal"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            dsum(col("o_totalprice")).as("total_spend"))
          .select(col("c_custkey"),
            coalesce(col("total_spend"), lit(0.0)).as("spend0"),
            nullif(col("n_orders"), lit(0)).as("orders_or_null"),
            expr("ifnull(total_spend, -1.0)").as("spend_m1"),
            greatest(col("c_acctbal"), col("total_spend"), lit(0.0))
              .as("hi"),
            least(col("c_acctbal"), col("total_spend")).as("lo"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH j AS (
          SELECT c_custkey, c_acctbal,
            count(o_orderkey) AS n_orders,
            cast(sum(cast(o_totalprice as decimal(18,2))) as double)
              AS total_spend
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey, c_acctbal)
        SELECT c_custkey,
          coalesce(total_spend, 0.0) AS spend0,
          nullif(n_orders, 0) AS orders_or_null,
          ifnull(total_spend, -1.0) AS spend_m1,
          greatest(c_acctbal, total_spend, 0.0) AS hi,
          least(c_acctbal, total_spend) AS lo
        FROM j ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // Source/sink formats: write orders out as CSV / JSON / ORC, read
    // it back with an explicit schema, and aggregate. The oracle
    // aggregates the original parquet — equal results prove the
    // roundtrip is lossless (doubles survive because Spark writes
    // shortest-roundtrip representations; timestamps get an explicit
    // micro-precision format).
    // ------------------------------------------------------------------
    "q51_csv_roundtrip" -> Q(
      (s, d) => roundtripAgg(s, d, "csv"), Some(roundtripOracle)),
    "q52_json_roundtrip" -> Q(
      (s, d) => roundtripAgg(s, d, "json"), Some(roundtripOracle)),
    "q53_orc_roundtrip" -> Q(
      (s, d) => roundtripAgg(s, d, "orc"), Some(roundtripOracle)),

    // ------------------------------------------------------------------
    // try_cast: fallible parsing without job-killing exceptions (ANSI
    // mode makes plain cast throw — try_cast is the 100 TB-safe form).
    // ------------------------------------------------------------------
    "q54_try_cast" -> Q(
      (s, d) =>
        t(s, d, "orders")
          .select(col("o_orderkey"),
            expr("try_cast(left(o_orderpriority, 1) AS INT)")
              .as("priority_num"),
            expr("try_cast(o_orderstatus AS INT)").as("status_num"),
            expr("try_cast(o_totalprice AS STRING)").as("price_str"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
          try_cast(left(o_orderpriority, 1) AS INT) AS priority_num,
          try_cast(o_orderstatus AS INT) AS status_num,
          try_cast(o_totalprice AS VARCHAR) AS price_str
        FROM orders ORDER BY o_orderkey""")),

    // ------------------------------------------------------------------
    // Calendar functions: add_months (end-of-month clamping), last_day,
    // day-of-week, quarter, ISO week, day name. DuckDB's dayofweek is
    // Sunday=0 where Spark's is Sunday=1 — offset in the oracle.
    // ------------------------------------------------------------------
    "q55_calendar_funcs" -> Q(
      (s, d) =>
        t(s, d, "orders")
          .select(col("o_orderkey"),
            add_months(col("o_orderdate").cast("date"), 1).as("next_month"),
            last_day(col("o_orderdate").cast("date")).as("month_end"),
            dayofweek(col("o_orderdate")).as("dow"),
            quarter(col("o_orderdate")).as("qtr"),
            weekofyear(col("o_orderdate")).as("iso_week"),
            date_format(col("o_orderdate"), "EEEE").as("day_name"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
          cast(cast(o_orderdate as date) + INTERVAL 1 MONTH as date)
            AS next_month,
          last_day(cast(o_orderdate as date)) AS month_end,
          cast(dayofweek(o_orderdate) + 1 as integer) AS dow,
          cast(quarter(o_orderdate) as integer) AS qtr,
          cast(weekofyear(o_orderdate) as integer) AS iso_week,
          dayname(o_orderdate) AS day_name
        FROM orders ORDER BY o_orderkey""")),

    // ------------------------------------------------------------------
    // Ordered string aggregation (LISTAGG / string_agg): nations per
    // region, sorted inside the aggregate for determinism.
    // ------------------------------------------------------------------
    "q56_string_agg" -> Q(
      (s, d) => {
        val nat = t(s, d, "nation")
        val reg = t(s, d, "region")
        nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
            .as("nations"),
            count(lit(1)).as("n_nations"))
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name,
          string_agg(n_name, ',' ORDER BY n_name) AS nations,
          count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ------------------------------------------------------------------
    // Hive-style partitioned write + partition-pruned read: events
    // written partitionBy(event_type), then one partition's worth read
    // back. The filter prunes at the DIRECTORY level (PartitionFilters
    // in the scan, no data files of other types touched) — the layout
    // that makes selective reads at 100 TB cheap. Oracle filters the
    // original table.
    // ------------------------------------------------------------------
    "q57_partition_pruned" -> Q(
      (s, d) => {
        val path = indexPath(s, d, "part-events")
        t(s, d, "events").write.mode("overwrite")
          .partitionBy("event_type").parquet(path)
        s.read.parquet(path)
          .filter(col("event_type") === "click")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
          .orderBy(col("day"))
      },
      Some(s"""SELECT cast(date_trunc('day', cast(ts as timestamp)) as timestamp)
            AS day,
          count(*) AS n, ${sqlDsum("value")} AS total_value
        FROM events WHERE event_type = 'click'
        GROUP BY day ORDER BY day""")),

    // ------------------------------------------------------------------
    // Bitwise aggregates: and/or/xor folds (order-independent, exact —
    // the same xor-fold backs contentFingerprint in the ETL validator).
    // ------------------------------------------------------------------
    "q58_bit_aggs" -> Q(
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("bit_and(l_linenumber)").as("band"),
            expr("bit_or(l_linenumber)").as("bor"),
            expr("bit_xor(l_linenumber)").as("bxor"),
            expr("bit_xor(l_orderkey)").as("key_fingerprint"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          bit_and(l_linenumber) AS band,
          bit_or(l_linenumber) AS bor,
          bit_xor(l_linenumber) AS bxor,
          bit_xor(l_orderkey) AS key_fingerprint
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Bucketed co-located join: both fact tables written bucketBy the
    // join key, so the join plans with NO exchange on either side — the
    // write-once-shuffle layout for repeated fact⋈fact joins at 100 TB
    // (shuffle-freedom itself is asserted in BucketingSpec). The oracle
    // computes the same join/agg from the original tables.
    // ------------------------------------------------------------------
    "q59_bucketed_join" -> Q(
      (s, d) => {
        val tOrd = "graft_q59_orders"
        val tLi = "graft_q59_lineitem"
        // the in-memory catalog forgets tables between JVMs but the
        // warehouse dirs persist → clear both layers before rewriting
        Seq(tOrd, tLi).foreach { tbl =>
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          val wh = new java.net.URI(
            s.conf.get("spark.sql.warehouse.dir")).getPath
          val p = java.nio.file.Paths.get(wh, tbl)
          if (java.nio.file.Files.exists(p)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(p).iterator().asScala.toSeq
              .reverse.foreach(java.nio.file.Files.delete)
          }
        }
        graft.sources.Bucketing.writeBucketed(
          t(s, d, "orders"), tOrd, "o_orderkey", 8)
        graft.sources.Bucketing.writeBucketed(
          t(s, d, "lineitem"), tLi, "l_orderkey", 8)
        s.table(tLi)
          .join(s.table(tOrd), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"), col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("o_orderstatus"), col("l_returnflag"))
      },
      Some(s"""SELECT o_orderstatus, l_returnflag, count(*) AS n,
          ${sqlDsum("l_extendedprice")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus, l_returnflag
        ORDER BY o_orderstatus, l_returnflag""")),

    // ------------------------------------------------------------------
    // Join-strategy hints: force a shuffle-hash join (no sort, build a
    // hash map per partition — wins when one side is much smaller but
    // too big to broadcast). Results must equal the unhinted plan's;
    // only the physical strategy changes.
    // ------------------------------------------------------------------
    "q60_join_hint" -> Q(
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders").hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("total_qty"))
          .orderBy(col("o_orderpriority")),
      Some(s"""SELECT o_orderpriority, count(*) AS n,
          ${sqlDsum("l_quantity")} AS total_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // Multiset set-ops: INTERSECT ALL / EXCEPT ALL preserve duplicate
    // cardinality (q19 covers the DISTINCT forms). Ship-mode-less
    // synthetic multisets: per-key status rows with repeats.
    // ------------------------------------------------------------------
    "q61_set_ops_all" -> Q(
      (s, d) => {
        val a = t(s, d, "lineitem")
          .filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_returnflag"))
        val b = t(s, d, "lineitem")
          .filter(col("l_orderkey") < 1000)
          .select(col("l_orderkey"), col("l_returnflag"))
        a.intersectAll(b).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_intersect"))
          .join(
            a.exceptAll(b).groupBy(col("l_returnflag"))
              .agg(count(lit(1)).as("n_except")),
            Seq("l_returnflag"), "full_outer")
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH a AS (SELECT l_orderkey, l_returnflag FROM lineitem
                         WHERE l_orderkey < 2000),
             b AS (SELECT l_orderkey, l_returnflag FROM lineitem
                   WHERE l_orderkey < 1000),
             i AS (SELECT l_returnflag, count(*) AS n_intersect
                   FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
                   GROUP BY l_returnflag),
             e AS (SELECT l_returnflag, count(*) AS n_except
                   FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
                   GROUP BY l_returnflag)
        SELECT coalesce(i.l_returnflag, e.l_returnflag) AS l_returnflag,
               n_intersect, n_except
        FROM i FULL OUTER JOIN e ON i.l_returnflag = e.l_returnflag
        ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // CORRELATED scalar subquery in the SELECT list (q26 covers the
    // uncorrelated form): Catalyst decorrelates it into a left outer
    // aggregate join — the rewrite that turns per-row O(n) lookups
    // into one shuffle.
    // ------------------------------------------------------------------
    "q62_correlated_scalar" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer")
        t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey,
            (SELECT max(o_totalprice) FROM orders
             WHERE o_custkey = c_custkey) AS max_order,
            (SELECT count(*) FROM orders
             WHERE o_custkey = c_custkey) AS n_orders
          FROM customer ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey,
          (SELECT max(o_totalprice) FROM orders
           WHERE o_custkey = c_custkey) AS max_order,
          (SELECT count(*) FROM orders
           WHERE o_custkey = c_custkey) AS n_orders
        FROM customer ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // Forward fill (last observation carried forward) via IGNORE NULLS:
    // non-purchase events get NULL value, then each event carries the
    // user's most recent purchase value forward — the gap-filling
    // primitive for sparse event/sensor streams.
    // ------------------------------------------------------------------
    "q63_forward_fill" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .withColumn("purchase_value",
            when(col("event_type") === "purchase", col("value")))
          .select(col("event_id"), col("user_id"),
            last(col("purchase_value"), ignoreNulls = true).over(w)
              .as("last_purchase_value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
          last_value(purchase_value IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS last_purchase_value
        FROM (SELECT event_id, user_id, cast(ts as timestamp) AS ts,
                CASE WHEN event_type = 'purchase' THEN value END
                  AS purchase_value
              FROM events) ev
        ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // Deterministic stratified systematic sampling: every 20th row per
    // stratum under a total order. Unlike TABLESAMPLE/rand(), this is
    // reproducible across engines, runs, and partitionings — the
    // property a training-data pipeline needs for auditable subsets.
    // ------------------------------------------------------------------
    "q64_stratified_sample" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        t(s, d, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") % 20 === 1)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_sampled"),
            dsum(col("l_quantity")).as("sample_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH numbered AS (
          SELECT l_returnflag, l_quantity,
            row_number() OVER (PARTITION BY l_returnflag
              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                       l_extendedprice) AS rn
          FROM lineitem)
        SELECT l_returnflag, count(*) AS n_sampled,
          ${sqlDsum("l_quantity")} AS sample_qty
        FROM numbered WHERE rn % 20 = 1
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Bloom-filter semi-join pruning — Spark's AQE runtime row-level
    // filter made explicit with the engine's own BloomFilterAggregate /
    // BloomFilterMightContain expressions. The filtered dim's keys fold
    // into one ~100 KB bloom (driver-side scalar, like a runtime
    // filter's subquery result); the fact scan drops non-matching rows
    // ROW-LOCALLY before the join exchange, so at 100 TB the shuffle
    // carries only ~the matching fraction. False positives are removed
    // by the exact semi join that follows — the bloom is pure pruning,
    // never semantics — which is why this oracle-checks against a plain
    // IN-subquery.
    // ------------------------------------------------------------------
    "q65_bloom_semi_prune" -> Q(
      (s, d) => bloomSemiPrune(s, d, "1-URGENT"),
      Some(s"""SELECT l_returnflag, count(*) AS n,
          ${sqlDsum4("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // LATERAL correlated subquery join (SQL surface): per-order top-2
    // lineitems — the "top-k per key over a driving row set" idiom
    // without a global window. Spark decorrelates the LIMIT subquery
    // into a ranked join under the hood; the driving set is top-10
    // orders, so the probe side is metadata-scale.
    // ------------------------------------------------------------------
    "q66_lateral_topk" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q66_orders")
        t(s, d, "lineitem").createOrReplaceTempView("q66_lineitem")
        s.sql("""
          SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
          FROM (SELECT o_orderkey FROM q66_orders
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) o,
          LATERAL (
            SELECT l_linenumber, l_extendedprice
            FROM q66_lineitem
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber
            LIMIT 2) l
          ORDER BY o.o_orderkey, l.l_extendedprice DESC, l.l_linenumber
        """)
      },
      Some("""SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM (SELECT o_orderkey FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) o,
        LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber
          LIMIT 2) l
        ORDER BY o.o_orderkey, l.l_extendedprice DESC, l.l_linenumber""")),

    // ------------------------------------------------------------------
    // KMV approximate distinct — the cross-engine-DETERMINISTIC sketch
    // (contrast q32: native HLL is rows-only because its internals are
    // engine-specific). The k-th smallest distinct h60 hash of the key
    // is computed by a bounded-state typed Aggregator (map-side partial
    // with a ≤k-long sorted buffer — no data-sized shuffle, unlike a
    // distinct+sort formulation), and the estimate (k-1)·2^60/h_k is
    // plain double arithmetic the oracle reproduces bit-for-bit by
    // sorting the same hashes. Exact distinct rides along for the
    // error column.
    // ------------------------------------------------------------------
    "q67_kmv_distinct" -> Q(
      (s, d) => {
        val k = 256
        val kmv = udaf(new graft.functions.KmvKthMin(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val two60 = 1152921504606846976.0 // 2^60, exact as a double
        t(s, d, "lineitem")
          .select(col("l_orderkey"),
            graft.functions.PortableHash.h60col(
              concat(lit("kmv_"), col("l_orderkey"))).as("h"))
          .agg(kmv(col("h")).as("hk"),
            countDistinct(col("l_orderkey")).as("n_exact"))
          .select(col("hk"), col("n_exact"),
            (lit((k - 1).toDouble) * lit(two60) /
              col("hk").cast("double")).as("est_distinct"),
            (abs(lit((k - 1).toDouble) * lit(two60) /
              col("hk").cast("double") - col("n_exact").cast("double")) /
              col("n_exact").cast("double")).as("rel_err"))
      },
      Some("""WITH hs AS (
          SELECT DISTINCT
            ('0x' || substr(md5('kmv_' || l_orderkey), 1, 15))::BIGINT AS h
          FROM lineitem),
        kth AS (
          SELECT max(h) AS hk
          FROM (SELECT h FROM hs ORDER BY h LIMIT 256)),
        ex AS (
          SELECT cast(count(DISTINCT l_orderkey) as bigint) AS n_exact
          FROM lineitem)
        SELECT kth.hk, ex.n_exact,
          255.0 * 1152921504606846976.0 / cast(kth.hk as double)
            AS est_distinct,
          abs(255.0 * 1152921504606846976.0 / cast(kth.hk as double) -
              cast(ex.n_exact as double)) / cast(ex.n_exact as double)
            AS rel_err
        FROM kth, ex""")),

    // ------------------------------------------------------------------
    // Recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop): a month
    // spine generated by recursion from the full orders date range,
    // LEFT-joined to a filtered monthly aggregate — the calendar
    // gap-fill shape reporting queries need (the urgent-order subset is
    // present in only 46 of the 80 months, so the zero-fill genuinely
    // bites). Scale posture: the recursion produces one 80-row
    // dimension (recursion depth = months, far under the default
    // cteRecursionLevelLimit=100 — set it explicitly when the range is
    // open-ended), and the fact-side aggregate reduces BEFORE the
    // join, so the recursive leg never touches data-scale rows.
    // ------------------------------------------------------------------
    "q70_recursive_spine" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("""WITH RECURSIVE spine AS (
            SELECT cast(min(date_trunc('month', o_orderdate)) as date)
                AS month_start,
              cast(max(date_trunc('month', o_orderdate)) as date)
                AS last_month
            FROM orders
            UNION ALL
            SELECT add_months(month_start, 1), last_month
            FROM spine WHERE month_start < last_month),
          m AS (
            SELECT cast(date_trunc('month', o_orderdate) as date)
                AS month_start,
              cast(count(*) as bigint) AS n_orders,
              cast(sum(cast(o_totalprice as decimal(18,2))) as double)
                AS revenue
            FROM orders
            WHERE o_orderpriority = '1-URGENT' AND o_custkey % 37 = 0
            GROUP BY 1)
          SELECT s.month_start,
            coalesce(m.n_orders, cast(0 as bigint)) AS n_orders,
            coalesce(m.revenue, cast(0.0 as double)) AS revenue
          FROM spine s LEFT JOIN m USING (month_start)
          ORDER BY s.month_start""")
      },
      Some("""WITH RECURSIVE spine AS (
          SELECT cast(min(date_trunc('month', o_orderdate)) as date)
              AS month_start,
            cast(max(date_trunc('month', o_orderdate)) as date)
              AS last_month
          FROM orders
          UNION ALL
          SELECT cast(month_start + INTERVAL 1 MONTH as date), last_month
          FROM spine WHERE month_start < last_month),
        m AS (
          SELECT cast(date_trunc('month', o_orderdate) as date)
              AS month_start,
            cast(count(*) as bigint) AS n_orders,
            cast(sum(cast(o_totalprice as decimal(18,2))) as double)
              AS revenue
          FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_custkey % 37 = 0
          GROUP BY 1)
        SELECT s.month_start,
          coalesce(m.n_orders, cast(0 as bigint)) AS n_orders,
          coalesce(m.revenue, cast(0.0 as double)) AS revenue
        FROM spine s LEFT JOIN m USING (month_start)
        ORDER BY s.month_start""")),

    // ------------------------------------------------------------------
    // KMV set-operation algebra — the reason sketch COLUMNS beat
    // sketch SCALARS at 100 TB: store each segment's full k-min-set
    // and any ad-hoc union/intersection across segments is answerable
    // from the sketches alone, no second scan (Beyer et al.,
    // SIGMOD'07). Here: per-event-type KMV min-sets (k = 64, bounded
    // additive state via the KmvMinSet Aggregator — map-side partials,
    // never a data-sized distinct), then pure array algebra on the
    // two-row result: union sketch = k smallest of the merged sets
    // (hash-join-free HOFs on 64-element arrays), intersection via the
    // Jaccard fraction of the merged min-set present in both inputs.
    // Exact counts computed alongside; every estimate is h60-derived
    // and bit-reproducible in DuckDB. Not-full fallback (CASE n < k):
    // below k the min-set IS the exact distinct set.
    // ------------------------------------------------------------------
    "q71_kmv_setops" -> Q(
      (s, d) => {
        val k = 64
        val kmvset = udaf(new graft.functions.KmvMinSet(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val two60 = 1152921504606846976.0 // 2^60, exact as a double
        val ev = t(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"), col("user_id"),
            graft.functions.PortableHash.h60col(
              concat(lit("kmvu_"), col("user_id"))).as("h"))
        val sk = ev.groupBy(col("event_type"))
          .agg(kmvset(col("h")).as("mins"))
        // fold the 0-2 per-type rows into ONE row with empty-array
        // defaults: a global agg yields a row even over empty input, so
        // an absent segment becomes an empty sketch instead of an empty
        // cross-join wiping the output (the oracle's aggregate CTEs
        // always produce their row — rows_match would diverge)
        val sides = sk.agg(
          coalesce(first(when(col("event_type") === "click",
            col("mins")), ignoreNulls = true),
            array().cast("array<long>")).as("ma"),
          coalesce(first(when(col("event_type") === "purchase",
            col("mins")), ignoreNulls = true),
            array().cast("array<long>")).as("mb"))
        val exact = ev.groupBy(col("user_id"))
          .agg(countDistinct(col("event_type")).as("nt"))
          .agg(count(lit(1)).as("n_union_exact"),
            count(when(col("nt") === 2, 1)).as("n_inter_exact"))
        val estUnion = when(size(col("merged")) < k,
            size(col("merged")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(two60) /
            col("hk").cast("double"))
        val estInter = when(size(col("merged")) < k,
            col("shared_minvals").cast("double"))
          .otherwise(col("shared_minvals").cast("double") /
            lit(k.toDouble) * (lit((k - 1).toDouble) * lit(two60) /
              col("hk").cast("double")))
        sides.crossJoin(exact)
          .withColumn("merged",
            slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
          // guarded: element_at(_, 0) is an ANSI error; an empty merged
          // set only occurs when both segments are empty, where the
          // size<k arms never read hk
          .withColumn("hk",
            when(size(col("merged")) >= 1,
              element_at(col("merged"),
                least(lit(k), size(col("merged"))).cast("int"))))
          .withColumn("shared_minvals",
            size(filter(col("merged"), x =>
              array_contains(col("ma"), x) &&
                array_contains(col("mb"), x))).cast("long"))
          .select(lit(k.toLong).as("k"),
            col("n_union_exact"), estUnion.as("est_union"),
            col("n_inter_exact"), estInter.as("est_inter"),
            col("shared_minvals"))
      },
      Some("""WITH ev AS MATERIALIZED (
          SELECT event_type, user_id,
            ('0x' || substr(md5('kmvu_' || user_id), 1, 15))::BIGINT AS h
          FROM events WHERE event_type IN ('click', 'purchase')),
        ma AS MATERIALIZED (
          SELECT h FROM (SELECT DISTINCT h FROM ev
            WHERE event_type = 'click') x ORDER BY h LIMIT 64),
        mb AS MATERIALIZED (
          SELECT h FROM (SELECT DISTINCT h FROM ev
            WHERE event_type = 'purchase') x ORDER BY h LIMIT 64),
        merged AS MATERIALIZED (
          SELECT h FROM (
            SELECT DISTINCT h FROM (
              SELECT h FROM ma UNION ALL SELECT h FROM mb) u) x
          ORDER BY h LIMIT 64),
        msz AS (SELECT cast(count(*) as int) AS n, max(h) AS hk
          FROM merged),
        sh AS (SELECT cast(count(*) as bigint) AS ns FROM merged m
          WHERE m.h IN (SELECT h FROM ma)
            AND m.h IN (SELECT h FROM mb)),
        exact AS (
          SELECT cast(count(*) as bigint) AS n_union_exact,
            cast(count(*) FILTER (WHERE nt = 2) as bigint)
              AS n_inter_exact
          FROM (SELECT user_id, count(DISTINCT event_type) AS nt
                FROM ev GROUP BY user_id) g)
        SELECT 64::BIGINT AS k, e.n_union_exact,
          CASE WHEN m.n < 64 THEN cast(m.n as double)
               ELSE 63.0 * 1152921504606846976.0 / cast(m.hk as double)
          END AS est_union,
          e.n_inter_exact,
          CASE WHEN m.n < 64 THEN cast(s.ns as double)
               ELSE cast(s.ns as double) / 64.0 *
                 (63.0 * 1152921504606846976.0 / cast(m.hk as double))
          END AS est_inter,
          s.ns AS shared_minvals
        FROM msz m, sh s, exact e""")),

    // ------------------------------------------------------------------
    // Mergeable QUANTILE sketch — the sketch family q67/q71/x19 still
    // lacked: per-segment (ship-year) bottom-k-by-hash value samples,
    // merged into one global sample WITHOUT revisiting the data, then
    // read out as quantile estimates against the exact answer. The
    // trick that reuses KmvMinSet unchanged: pack (top-30-bits-of-h60,
    // value-cents) into ONE long — ordering by the packed long IS
    // ordering by hash, so the k-min-set over packed longs is a
    // uniform value-carrying sample, and sample quantiles estimate
    // population quantiles (Chaudhuri et al., "Random sampling for
    // histogram construction"). Scale shape: the sketch side is
    // bounded ≤k map-side buffers per segment + a ≤ segments·k re-agg
    // (this is what per-day/per-partition sketch COLUMNS store — any
    // ad-hoc slice union answers from sketches alone); the exact side
    // is a distinct-value census + one cumulative window over census
    // rows (value-cardinality scale, the best exact shape Spark has —
    // documented oracle twin). All integer cents; no doubles anywhere.
    // ------------------------------------------------------------------
    "q72_kmv_quantiles" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val k = 128
        val kmvset = udaf(new graft.functions.KmvMinSet(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val qsDF = Seq(25, 50, 75, 95).toDF("q_pct")
        val li = t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"),
          year(col("l_shipdate").cast("date")).as("seg"))
        val packed = li.select(col("seg"), col("cents"),
          graft.functions.PortableHash.h60col(
            concat(lit("qv_"), col("l_orderkey"), lit("_"),
              col("l_linenumber"))).as("h"))
          .select(col("seg"),
            expr("(h div 1073741824) * 8589934592 + cents").as("packed"))
        // per-segment bounded sketch columns, then merge-of-partials:
        // explode the ≤ segments·k mins and re-cut with the SAME
        // aggregator — the mergeability property, exercised end-to-end
        val segSk = packed.groupBy(col("seg"))
          .agg(kmvset(col("packed")).as("mins"))
        val merged = segSk.select(explode(col("mins")).as("p"))
          .agg(kmvset(col("p")).as("mins"))
          .select(array_sort(expr("transform(mins, p -> p % 8589934592)"))
            .as("vals"), size(col("mins")).as("m"))
        val est = merged.crossJoin(qsDF).select(col("q_pct"),
          expr("element_at(vals, cast(((m - 1) * q_pct) div 100 + 1 as int))")
            .as("est_cents"))
        // exact twin: distinct-value census + cumulative count; the
        // quantile value is the first census row covering the index.
        // The cumsum is the x22 two-level shape — within-block windows
        // PARTITIONED by a value-range block, plus one tiny global
        // window over block totals — so no data-scale SinglePartition
        // sort exists even in the exact leg (values are identical to
        // the naive global window; only the plan differs)
        val censusBase = li.groupBy(col("cents"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("blk", expr("cents div 65536"))
        val blkW = Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val blkOffs = censusBase.groupBy(col("blk"))
          .agg(sum(col("cnt")).as("bn"))
          .withColumn("boff", coalesce(sum(col("bn")).over(blkW), lit(0L)))
          .select(col("blk"), col("boff"))
        val inW = Window.partitionBy(col("blk")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val census = censusBase
          .withColumn("incum", sum(col("cnt")).over(inW))
          .join(broadcast(blkOffs), Seq("blk"))
          .withColumn("cum", col("boff") + col("incum"))
        val nRow = li.agg(count(lit(1)).as("n"))
        val ex = census.crossJoin(nRow).crossJoin(qsDF)
          .filter(expr("cum >= ((n - 1) * q_pct) div 100 + 1"))
          .groupBy(col("q_pct")).agg(min(col("cents")).as("exact_cents"))
        est.join(ex, Seq("q_pct"))
          .select(col("q_pct"), col("est_cents"), col("exact_cents"),
            (col("est_cents") - col("exact_cents")).as("abs_err"))
          .orderBy(col("q_pct"))
      },
      Some("""WITH li AS MATERIALIZED (
          SELECT
            ('0x' || substr(md5('qv_' || l_orderkey || '_' ||
              l_linenumber), 1, 15))::BIGINT AS h,
            cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)
              AS cents,
            year(cast(l_shipdate as date)) AS seg
          FROM lineitem),
        pk AS (SELECT seg, (h // 1073741824) * 8589934592 + cents
            AS packed FROM li),
        segtop AS (
          SELECT seg, packed FROM (SELECT DISTINCT seg, packed FROM pk) x
          QUALIFY row_number() OVER (PARTITION BY seg ORDER BY packed)
            <= 128),
        merged AS (
          SELECT packed FROM (SELECT DISTINCT packed FROM segtop) y
          QUALIFY row_number() OVER (ORDER BY packed) <= 128),
        sample AS (
          SELECT packed % 8589934592 AS v,
            row_number() OVER (ORDER BY packed % 8589934592) AS rn,
            cast(count(*) OVER () as bigint) AS m
          FROM merged),
        qs AS (SELECT * FROM (VALUES (25), (50), (75), (95)) t(q_pct)),
        est AS (
          SELECT qs.q_pct, s.v AS est_cents
          FROM qs JOIN sample s
            ON s.rn = ((s.m - 1) * qs.q_pct) // 100 + 1),
        census AS (
          SELECT cents, count(*) AS cnt FROM li GROUP BY cents),
        cc AS (
          SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cum FROM census),
        n AS (SELECT cast(count(*) as bigint) AS n FROM li),
        ex AS (
          SELECT qs.q_pct, min(cc.cents) AS exact_cents
          FROM qs CROSS JOIN n JOIN cc
            ON cc.cum >= ((n.n - 1) * qs.q_pct) // 100 + 1
          GROUP BY qs.q_pct)
        SELECT est.q_pct, est.est_cents, ex.exact_cents,
          est.est_cents - ex.exact_cents AS abs_err
        FROM est JOIN ex USING (q_pct)
        ORDER BY est.q_pct""")),

    // ------------------------------------------------------------------
    // Join-cardinality estimation from sketches — the PLANNER'S use of
    // the q71 set algebra: predict |A ⋈ B| before running the join,
    // from one bounded-state pass over each side. Per side: a KMV
    // min-set over the hashed join key (same "jcs_" prefix on both
    // sides so the hash spaces align) + the raw row count. Estimate:
    // distinct-key intersection via the shared-fraction-of-merged-
    // min-set estimator (Beyer et al., SIGMOD'07), scaled by each
    // side's mean key multiplicity n/d — the uniform-frequency
    // assumption every histogram-free planner makes (documented
    // caveat: key-frequency skew correlated across sides biases it
    // low; q81 implements the CMS patch). The
    // exact join COUNT rides along as the oracle-checked ground
    // truth. At 100 TB the point is the shape: two scan-once ≤k·8-byte
    // aggregations answer "can this join's output fit?" before a
    // single shuffle byte moves.
    // ------------------------------------------------------------------
    "q73_join_cardinality" -> Q(
      (s, d) => {
        val k = 64
        val kmvset = udaf(new graft.functions.KmvMinSet(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val two60 = 1152921504606846976.0
        val a = t(s, d, "events").select(
          graft.functions.PortableHash.h60col(
            concat(lit("jcs_"), col("user_id"))).as("h"))
        val b = t(s, d, "orders").select(
          graft.functions.PortableHash.h60col(
            concat(lit("jcs_"), col("o_custkey"))).as("h"))
        val sa = a.agg(kmvset(col("h")).as("ma"), count(lit(1)).as("n_a"))
        val sb = b.agg(kmvset(col("h")).as("mb"), count(lit(1)).as("n_b"))
        // ANSI-safe k-th element: below k the min-set IS the distinct
        // set and the CASE's other arm never reads past the end
        def kth(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          element_at(m, least(lit(k), size(m)).cast("int")).cast("double")
        def estD(m: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(size(m) < k, size(m).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(two60) / kth(m))
        val exact = t(s, d, "events").select(col("user_id").as("ky"))
          .join(t(s, d, "orders").select(col("o_custkey").as("ky")), "ky")
          .agg(count(lit(1)).as("exact_join_size"))
        sa.crossJoin(sb)
          .withColumn("merged",
            slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
          .withColumn("est_a", estD(col("ma")))
          .withColumn("est_b", estD(col("mb")))
          .withColumn("shared", size(filter(col("merged"), x =>
            array_contains(col("ma"), x) && array_contains(col("mb"), x)))
            .cast("double"))
          .withColumn("est_inter",
            when(size(col("merged")) < k, col("shared"))
              .otherwise(col("shared") / lit(k.toDouble) *
                (lit((k - 1).toDouble) * lit(two60) / kth(col("merged")))))
          .crossJoin(exact)
          .select(col("n_a"), col("n_b"),
            floor(col("est_a")).cast("long").as("est_keys_a"),
            floor(col("est_b")).cast("long").as("est_keys_b"),
            floor(col("est_inter")).cast("long").as("est_inter_keys"),
            floor(col("est_inter") *
              (col("n_a").cast("double") / col("est_a")) *
              (col("n_b").cast("double") / col("est_b")))
              .cast("long").as("est_join_size"),
            col("exact_join_size"))
          // single row, but keep the every-query-ends-in-ORDER-BY
          // invariant unconditional
          .orderBy(col("n_a"))
      },
      Some("""WITH a AS MATERIALIZED (
          SELECT ('0x' || substr(md5('jcs_' || user_id), 1, 15))::BIGINT
            AS h FROM events),
        b AS MATERIALIZED (
          SELECT ('0x' || substr(md5('jcs_' || o_custkey), 1, 15))::BIGINT
            AS h FROM orders),
        na AS (SELECT cast(count(*) as bigint) AS n_a FROM a),
        nb AS (SELECT cast(count(*) as bigint) AS n_b FROM b),
        ma AS MATERIALIZED (SELECT h FROM (SELECT DISTINCT h FROM a) x
          ORDER BY h LIMIT 64),
        mb AS MATERIALIZED (SELECT h FROM (SELECT DISTINCT h FROM b) x
          ORDER BY h LIMIT 64),
        masz AS (SELECT cast(count(*) as int) AS n, max(h) AS hk FROM ma),
        mbsz AS (SELECT cast(count(*) as int) AS n, max(h) AS hk FROM mb),
        merged AS MATERIALIZED (SELECT h FROM (
          SELECT DISTINCT h FROM (
            SELECT h FROM ma UNION ALL SELECT h FROM mb) u) x
          ORDER BY h LIMIT 64),
        msz AS (SELECT cast(count(*) as int) AS n, max(h) AS hk
          FROM merged),
        sh AS (SELECT cast(count(*) as double) AS shared FROM merged m
          WHERE m.h IN (SELECT h FROM ma)
            AND m.h IN (SELECT h FROM mb)),
        calc AS (
          SELECT na.n_a, nb.n_b,
            CASE WHEN masz.n < 64 THEN cast(masz.n as double)
              ELSE 63.0 * 1152921504606846976.0 / cast(masz.hk as double)
            END AS est_a,
            CASE WHEN mbsz.n < 64 THEN cast(mbsz.n as double)
              ELSE 63.0 * 1152921504606846976.0 / cast(mbsz.hk as double)
            END AS est_b,
            CASE WHEN msz.n < 64 THEN sh.shared
              ELSE sh.shared / 64.0 * (63.0 * 1152921504606846976.0 /
                cast(msz.hk as double))
            END AS est_inter
          FROM masz, mbsz, msz, sh, na, nb),
        ex AS (SELECT cast(count(*) as bigint) AS exact_join_size
          FROM events e JOIN orders o ON e.user_id = o.o_custkey)
        SELECT n_a, n_b,
          cast(floor(est_a) as bigint) AS est_keys_a,
          cast(floor(est_b) as bigint) AS est_keys_b,
          cast(floor(est_inter) as bigint) AS est_inter_keys,
          cast(floor(est_inter * (cast(n_a as double) / est_a) *
            (cast(n_b as double) / est_b)) as bigint) AS est_join_size,
          exact_join_size
        FROM calc, ex ORDER BY n_a""")),

    // ------------------------------------------------------------------
    // Salted skew join, surfaced as a hash-verified catalog query —
    // [[graft.operators.SkewJoin]] was previously spec-only. The doc
    // corpus joins its per-language dimension on `lang`, a textbook
    // hot-key distribution (one dominant language = one dead reducer
    // in a plain shuffle join at 100 TB). saltedInnerJoin splits each
    // key into 8 deterministic sub-keys (large side salts by row
    // hash, small side replicates ×8). The POINT the oracle proves:
    // salting is semantically invisible — the DuckDB twin runs the
    // PLAIN join, and the hash match is the witness that the salted
    // plan changes only the partitioning, never the result. The salt
    // uses xxhash64 safely here because it decides placement, not
    // values. AQE's skew-join handles sort-merge cases automatically;
    // this explicit form is the documented mitigation for what AQE
    // can't see (pre-agg skew, broadcast-ineligible dims).
    // ------------------------------------------------------------------
    "q74_skew_salted_join" -> Q(
      (s, d) => {
        val docsF = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val langDim = docsF.groupBy(col("lang"))
          .agg(expr("sum(n_chars) div count(*)").as("avg_chars"))
        graft.operators.SkewJoin
          .saltedInnerJoin(docsF, langDim, "lang", saltBuckets = 8)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("n_chars") > col("avg_chars"), 1))
              .as("n_above_avg"),
            min(col("avg_chars")).as("avg_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH dim AS (
          SELECT lang,
            cast(sum(n_chars) // count(*) as bigint) AS avg_chars
          FROM documents GROUP BY lang)
        SELECT d.lang, cast(count(*) as bigint) AS n_docs,
          cast(count(*) FILTER (WHERE d.n_chars > dim.avg_chars)
            as bigint) AS n_above_avg,
          min(dim.avg_chars) AS avg_chars
        FROM documents d JOIN dim USING (lang)
        GROUP BY d.lang ORDER BY d.lang""")),

    // ------------------------------------------------------------------
    // Robust outlier detection: per-group median + MAD (median absolute
    // deviation), flagging rows with adev > 1.8·MAD. Exact medians via
    // percentile() — deterministic interpolation in both engines (q38's
    // pairing) — then per-row double arithmetic only, so the whole
    // thing hash-verifies. Two aggregation passes over the fact table
    // is the honest cost of an exact MAD; at 100 TB both medians become
    // approx_percentile (one-pass sketch) and the second scan reuses
    // the first's broadcast medians. The 3-row median/MAD tables
    // broadcast; threshold 1.8 flags the expected ~10% tail of the
    // synthetic uniform prices (k=3 on uniform data flags nothing —
    // MAD = range/4 bounds adev/MAD at 2).
    // ------------------------------------------------------------------
    "q68_mad_outliers" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"))
        val med = li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, 0.5)").as("med_price"))
        val dev = li.join(broadcast(med), "l_returnflag")
          .withColumn("adev",
            abs(col("l_extendedprice") - col("med_price")))
        val mad = dev.groupBy(col("l_returnflag"))
          .agg(expr("percentile(adev, 0.5)").as("mad"))
        dev.join(broadcast(mad), "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            count(when(col("adev") > lit(1.8) * col("mad"), 1))
              .as("n_outliers"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH med AS (
          SELECT l_returnflag, median(l_extendedprice) AS med_price
          FROM lineitem GROUP BY l_returnflag),
        dev AS (
          SELECT l.l_returnflag, l.l_extendedprice,
            abs(l.l_extendedprice - m.med_price) AS adev
          FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag),
        mad AS (
          SELECT l_returnflag, median(adev) AS mad
          FROM dev GROUP BY l_returnflag)
        SELECT d.l_returnflag,
          cast(count(*) as bigint) AS n,
          cast(count(*) FILTER (d.adev > 1.8 * m.mad) as bigint)
            AS n_outliers
        FROM dev d JOIN mad m ON m.l_returnflag = d.l_returnflag
        GROUP BY d.l_returnflag
        ORDER BY d.l_returnflag""")),

    // ------------------------------------------------------------------
    // Schema evolution: two parquet generations of the same table — a
    // legacy write WITHOUT o_orderpriority and a current write with
    // it — read together via mergeSchema (footer-schema union; legacy
    // rows surface NULL for the added column), then aggregated by
    // coalesced priority. The 100 TB reality this demos: datasets
    // accrete columns over years, and the reader — not a rewrite of
    // old files — absorbs the drift. mergeSchema costs a footer read
    // per file at planning; on a long-lived table, pin the merged
    // schema in a catalog instead of re-inferring per query.
    // ------------------------------------------------------------------
    "q69_schema_evolution" -> Q(
      (s, d) => {
        val src = t(s, d, "orders")
        val root = indexPath(s, d, "evo")
        src.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$root/v1")
        src.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$root/v2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$root/v1", s"$root/v2")
          .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>"))
            .as("priority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("priority"))
      },
      Some(s"""SELECT
          CASE WHEN o_orderkey % 2 = 0 THEN '<legacy>'
               ELSE o_orderpriority END AS priority,
          cast(count(*) as bigint) AS n,
          ${sqlDsum("o_totalprice")} AS total
        FROM orders
        GROUP BY 1
        ORDER BY priority""")),

    // ------------------------------------------------------------------
    // Distinct-value-census quantiles: per ship-year, quartile
    // estimates from the bounded KmvValueCensusRaw aggregator (the
    // k = 128 distinct values with smallest h60 hashes, each with its
    // EXACT row count)
    // against the exact interpolated percentile from the full value
    // census. The estimator — Spark-Percentile-style interpolation at
    // position pct·(ns−1) over the WEIGHTED sample — runs in DataFrame
    // expressions with integer selection arithmetic so DuckDB
    // re-derives it value for value (the only doubles are the final
    // interpolation, identical single IEEE ops in both engines).
    // Scale shape: the sketch side is one groupBy with ≤ 24k-byte
    // map-side partial state per group — what `percentile` (unbounded
    // per-group value buffer) cannot do at 100 TB; sample post-
    // processing is ≤ segments·k rows, metadata-scale windows. The
    // exact leg's census windows are seg-partitioned over DISTINCT
    // cents values — bounded by the price domain, not the row count.
    // Frequency-skew caveat documented on the aggregator (q73 rule).
    // ------------------------------------------------------------------
    "q75_census_quantiles" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val k = 128
        val census = udaf(new graft.functions.KmvValueCensusRaw(k),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Long, Double)]())
        val li = t(s, d, "lineitem").select(
          year(col("l_shipdate").cast("date")).as("seg"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
        val hashed = li.select(col("seg"),
          graft.functions.PortableHash.h60col(
            concat(lit("qvc_"), col("cents"))).as("h"),
          col("cents").cast("double").as("v"))
        val sk = hashed.groupBy(col("seg"))
          .agg(census(col("h"), col("v")).as("b"))
        val pairs = sk
          .select(col("seg"), col("b.vs").as("vsarr"), col("b.cs").as("csarr"))
          .select(col("seg"),
            explode(arrays_zip(col("vsarr"), col("csarr"))).as("p"))
          .select(col("seg"), col("p.vsarr").cast("long").as("cents"),
            col("p.csarr").as("cnt"))
        val wCum = Window.partitionBy(col("seg")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("seg"))
        val qsDF = Seq(25, 50, 75, 95).toDF("q_pct")
        def quantSel(censusDf: DataFrame, loName: String)
            : (DataFrame, DataFrame) = {
          val tg = censusDf
            .withColumn("cum", sum(col("cnt")).over(wCum))
            .withColumn("nt", sum(col("cnt")).over(wAll))
            .crossJoin(qsDF)
            .withColumn("tpos", col("q_pct") * (col("nt") - 1))
          val lo = tg.filter(col("cum") >= expr("tpos div 100") + 1)
            .groupBy(col("seg"), col("q_pct"))
            .agg(min(col("cents")).as(loName),
              min(expr("(tpos % 100) / 100.0d")).as(loName + "_frac"))
          val hi = tg.filter(col("cum") >= expr("(tpos + 99) div 100") + 1)
            .groupBy(col("seg"), col("q_pct"))
            .agg(min(col("cents")).as(loName + "_hi"))
          (lo, hi)
        }
        val (slo, shi) = quantSel(pairs, "vlo")
        val est = slo.join(shi, Seq("seg", "q_pct"))
          .select(col("seg"), col("q_pct"),
            (col("vlo") + (col("vlo_hi") - col("vlo")) * col("vlo_frac"))
              .as("est_cents"))
        val full = li.groupBy(col("seg"), col("cents"))
          .agg(count(lit(1)).as("cnt"))
        val (xlo, xhi) = quantSel(full, "xlo")
        val ex = xlo.join(xhi, Seq("seg", "q_pct"))
          .select(col("seg"), col("q_pct"),
            (col("xlo") + (col("xlo_hi") - col("xlo")) * col("xlo_frac"))
              .as("exact_cents"))
        est.join(ex, Seq("seg", "q_pct"))
          .select(col("seg"), col("q_pct"), col("est_cents"),
            col("exact_cents"),
            (col("est_cents") - col("exact_cents")).as("err_cents"))
          .orderBy(col("seg"), col("q_pct"))
      },
      Some("""WITH li AS MATERIALIZED (
          SELECT cast(year(cast(l_shipdate as date)) as int) AS seg,
            cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)
              AS cents
          FROM lineitem),
        vals AS MATERIALIZED (
          SELECT seg, cents, cast(count(*) as bigint) AS cnt
          FROM li GROUP BY 1, 2),
        samp AS MATERIALIZED (
          SELECT seg, cents, cnt FROM (
            SELECT seg, cents, cnt,
              ('0x' || substr(md5('qvc_' || cents), 1, 15))::BIGINT AS h
            FROM vals) x
          QUALIFY row_number() OVER (PARTITION BY seg ORDER BY h) <= 128),
        qs AS (SELECT * FROM (VALUES (25), (50), (75), (95)) t(q_pct)),
        scum AS (
          SELECT seg, cents,
            sum(cnt) OVER (PARTITION BY seg ORDER BY cents) AS cum,
            sum(cnt) OVER (PARTITION BY seg) AS ns
          FROM samp),
        tg AS (
          SELECT s.seg, s.cents, s.cum, qs.q_pct,
            qs.q_pct * (s.ns - 1) AS tpos
          FROM scum s CROSS JOIN qs),
        vlo AS (
          SELECT seg, q_pct, min(cents) AS vlo,
            min((tpos % 100) / 100.0) AS frac
          FROM tg WHERE cum >= tpos // 100 + 1 GROUP BY 1, 2),
        vhi AS (
          SELECT seg, q_pct, min(cents) AS vhi
          FROM tg WHERE cum >= (tpos + 99) // 100 + 1 GROUP BY 1, 2),
        est AS (
          SELECT seg, q_pct,
            vlo.vlo + (vhi.vhi - vlo.vlo) * vlo.frac AS est_cents
          FROM vlo JOIN vhi USING (seg, q_pct)),
        fcum AS (
          SELECT seg, cents,
            sum(cnt) OVER (PARTITION BY seg ORDER BY cents) AS cum,
            sum(cnt) OVER (PARTITION BY seg) AS nn
          FROM vals),
        tgx AS (
          SELECT f.seg, f.cents, f.cum, qs.q_pct,
            qs.q_pct * (f.nn - 1) AS tpos
          FROM fcum f CROSS JOIN qs),
        xlo AS (
          SELECT seg, q_pct, min(cents) AS xlo,
            min((tpos % 100) / 100.0) AS fracx
          FROM tgx WHERE cum >= tpos // 100 + 1 GROUP BY 1, 2),
        xhi AS (
          SELECT seg, q_pct, min(cents) AS xhi
          FROM tgx WHERE cum >= (tpos + 99) // 100 + 1 GROUP BY 1, 2),
        ex AS (
          SELECT seg, q_pct,
            xlo.xlo + (xhi.xhi - xlo.xlo) * xlo.fracx AS exact_cents
          FROM xlo JOIN xhi USING (seg, q_pct))
        SELECT est.seg, est.q_pct, est.est_cents, ex.exact_cents,
          est.est_cents - ex.exact_cents AS err_cents
        FROM est JOIN ex USING (seg, q_pct)
        ORDER BY est.seg, est.q_pct""")),

    // ------------------------------------------------------------------
    // Incremental JOIN-view maintenance — e12's merge≡recompute proof,
    // for joins (the delta algebra every materialized-view engine
    // implements: ΔV = ΔA ⋈ B when B is static — the warehouse
    // fact-append case; the full three-term ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    // degenerates to one term because the dimension doesn't change).
    // The view is per-nation order revenue; the "day's append" is the
    // ~1% of orders with o_orderkey % 97 = 0. Maintenance = aggregate
    // ONLY the delta through the join and merge partials — at 100 TB
    // that is the difference between touching 1 TB and re-reading the
    // full fact table nightly. Partials stay DECIMAL until the final
    // cast (merging after dsum's double cast would lose the exactness
    // the oracle hash rides on); the oracle recomputes the view in one
    // direct pass, so the hash match IS the merge≡recompute proof.
    // ------------------------------------------------------------------
    "q76_join_mv_merge" -> Q(
      (s, d) => {
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        val o = t(s, d, "orders")
        def partial(df: DataFrame): DataFrame = df
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("pn"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("pr"))
        val base = partial(o.filter(col("o_orderkey") % 97 =!= 0))
        val delta = partial(o.filter(col("o_orderkey") % 97 === 0))
        base.unionAll(delta)
          .groupBy(col("n_name"))
          .agg(sum(col("pn")).as("n_orders"),
            sum(col("pr")).cast("double").as("revenue"))
          .select(col("n_name").as("nation"), col("n_orders"),
            col("revenue"))
          .orderBy(col("nation"))
      },
      Some(s"""SELECT n.n_name AS nation,
          cast(count(*) as bigint) AS n_orders,
          ${sqlDsum("o.o_totalprice")} AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1 ORDER BY nation""")),

    // ------------------------------------------------------------------
    // ANALYZE TABLE — optimizer-stats collection in ONE scan: per
    // column, row count, NDV (bounded KMV min-set, Beyer et al. —
    // exact below k, (k−1)·2^60/kth-min above; exact countDistinct
    // rides along as ground truth), min/max (zone-map seeds), and the
    // p25/p50/p75 equi-depth bounds (q38's percentile ↔ quantile_cont
    // parity). All 4 columns' aggregators run in a single aggregate —
    // m08's multi-sketch-per-scan discipline — which is how you
    // ANALYZE a 400-column 100 TB table without 400 scans. The h60
    // NDV hash reads exact CENTS (decimal(18,2)·100 as bigint), never
    // a double rendered to string (engine-dependent formatting). The
    // exact percentile legs are the unbounded-buffer part; q75's
    // bounded census sketch (KmvValueCensusRaw) is the scale path,
    // exact below k distinct values per group.
    // ------------------------------------------------------------------
    "q77_table_stats" -> Q(
      (s, d) => {
        val k = 256
        val two60 = 1152921504606846976.0 // 2^60, exact as a double
        val kmvset = udaf(new graft.functions.KmvMinSet(k),
          org.apache.spark.sql.Encoders.scalaLong)
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val pre = t(s, d, "lineitem").select(
          cols.map(c => col(c)) ++ cols.map(c =>
            graft.functions.PortableHash.h60col(
              concat(lit("st_" + c + "_"),
                (col(c).cast(DecimalType(18, 2)) * 100).cast("long")
                  .cast("string"))).as("h_" + c)): _*)
        val wide = pre.agg(
          count(lit(1)).as("n_rows"),
          cols.flatMap(c => Seq(
            kmvset(col("h_" + c)).as("sk_" + c),
            countDistinct(col(c)).as("nd_" + c),
            min(col(c)).as("mn_" + c),
            max(col(c)).as("mx_" + c),
            expr(s"percentile($c, 0.25)").as("p25_" + c),
            expr(s"percentile($c, 0.5)").as("p50_" + c),
            expr(s"percentile($c, 0.75)").as("p75_" + c))): _*)
        wide.select(col("n_rows"), explode(array(cols.map(c =>
            struct(lit(c).as("col_name"), col("sk_" + c).as("sk"),
              col("nd_" + c).as("ndv_exact"),
              col("mn_" + c).as("vmin"), col("mx_" + c).as("vmax"),
              col("p25_" + c).as("p25"), col("p50_" + c).as("p50"),
              col("p75_" + c).as("p75"))): _*)).as("e"))
          .select(col("e.col_name"), col("n_rows"),
            when(size(col("e.sk")) < k,
              size(col("e.sk")).cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(two60) /
                element_at(col("e.sk"), k).cast("double"))
              .as("ndv_est"),
            col("e.ndv_exact"), col("e.vmin"), col("e.vmax"),
            col("e.p25"), col("e.p50"), col("e.p75"))
          .orderBy(col("col_name"))
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val sketchCtes = cols.map { c =>
          s"""sk_$c AS (
            SELECT list(h ORDER BY h) AS sk FROM (
              SELECT DISTINCT ('0x' || substr(md5('st_${c}_' ||
                cast(cast(cast($c as decimal(18,2)) * 100 as bigint)
                  as varchar)), 1, 15))::BIGINT AS h
              FROM lineitem ORDER BY h LIMIT 256))"""
        }.mkString(",\n")
        val branches = cols.map { c =>
          s"""SELECT '$c' AS col_name, st.n_rows,
            CASE WHEN len(sk_$c.sk) < 256
              THEN cast(len(sk_$c.sk) as double)
              ELSE 255.0 * 1152921504606846976.0 /
                cast(sk_$c.sk[256] as double) END AS ndv_est,
            st.nd_$c AS ndv_exact, st.mn_$c AS vmin, st.mx_$c AS vmax,
            st.p25_$c AS p25, st.p50_$c AS p50, st.p75_$c AS p75
          FROM st, sk_$c"""
        }.mkString("\n          UNION ALL\n          ")
        val statAggs = cols.map { c =>
          s"""cast(count(DISTINCT $c) as bigint) AS nd_$c,
            min($c) AS mn_$c, max($c) AS mx_$c,
            quantile_cont($c, 0.25) AS p25_$c,
            quantile_cont($c, 0.5) AS p50_$c,
            quantile_cont($c, 0.75) AS p75_$c"""
        }.mkString(",\n          ")
        s"""WITH st AS (
          SELECT cast(count(*) as bigint) AS n_rows,
          $statAggs
          FROM lineitem),
        $sketchCtes
        SELECT * FROM (
          $branches) u
        ORDER BY col_name"""
      }),

    // ------------------------------------------------------------------
    // Custom PHYSICAL top-k-per-key operator — the extension ladder's
    // rung (c) made concrete: a LogicalPlan node + SparkStrategy +
    // SparkPlan (graft.plans.TopKPerKey, injected via
    // experimental.extraStrategies). Unlike row_number().over(...),
    // whose exchange ships EVERY row of every key before sorting, the
    // custom exec keeps a bounded k-row heap per key on the map side,
    // so the shuffle carries at most k rows per (key, input partition)
    // — the plan shape a 100 TB top-k wants (QProf: TopKPerKeyExec
    // partial BELOW the exchange, final above). Hash-verified against
    // the row_number formulation in DuckDB — the equivalence proof
    // that the custom operator implements exactly the declarative
    // semantics. Total sort order (price DESC, linenumber, partkey)
    // per the q43 tiebreak lesson.
    // ------------------------------------------------------------------
    "q78_topk_physical" -> Q(
      (s, d) => {
        graft.plans.TopKPerKey.install(s)
        val li = t(s, d, "lineitem")
          .filter(col("l_quantity") >= 45)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_extendedprice"))
        graft.plans.TopKPerKey(li, Seq("l_orderkey"),
          Seq(("l_extendedprice", true), ("l_linenumber", false),
            ("l_partkey", false)), 3)
          .orderBy(col("l_orderkey"), col("l_extendedprice").desc,
            col("l_linenumber"), col("l_partkey"))
      },
      Some("""WITH f AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
          FROM lineitem WHERE l_quantity >= 45),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber, l_partkey)
            AS rn
          FROM f)
        SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
        FROM r WHERE rn <= 3
        ORDER BY l_orderkey, l_extendedprice DESC, l_linenumber,
          l_partkey""")),

    // ------------------------------------------------------------------
    // XML ingestion (Spark 4's built-in XML support — q30's from_json
    // pattern for the other serialization the wild still ships):
    // synthesize one XML document per order, parse it back with
    // from_xml against an explicit schema, aggregate the PARSED
    // fields. The oracle computes the same aggregate from the base
    // columns, so the hash match proves format → parse is the
    // identity (including the money field: o_totalprice is 2-decimal,
    // %.2f prints those digits exactly, and the parse returns the
    // same nearest-double). DuckDB never sees a byte of XML.
    // ------------------------------------------------------------------
    "q79_xml_extract" -> Q(
      (s, d) => {
        val xml = t(s, d, "orders").select(
          format_string(
            "<order><k>%d</k><p>%s</p><t>%.2f</t></order>",
            col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")).as("x"))
        xml.select(from_xml(col("x"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "k LONG, p STRING, t DOUBLE")).as("r"))
          .groupBy(col("r.p").as("priority"))
          .agg(count(lit(1)).as("n"),
            dsum(col("r.t")).as("total"),
            min(col("r.k")).as("min_key"))
          .orderBy(col("priority"))
      },
      Some(s"""SELECT o_orderpriority AS priority,
          count(*) AS n,
          ${sqlDsum("o_totalprice")} AS total,
          min(o_orderkey) AS min_key
        FROM orders GROUP BY 1 ORDER BY priority""")),

    // ------------------------------------------------------------------
    // Skyline (Pareto frontier) — the multi-criteria operator the
    // relational surface lacked: parts that are non-DOMINATED under
    // (low price, large size): no other part is both ≤ price and
    // ≥ size with one strict. Börzsönyi et al.'s SKYLINE OF clause,
    // as a composition of existing ops (extension ladder rung (a)).
    //
    // Scale shape — three strictly shrinking levels, no global sort of
    // the DATA: (1) one groupBy collapses the fact table to one row
    // per distinct price (domain-scale, ≤ price cardinality) with its
    // max size; (2) the 2-D sweep "size > cummax(size) over strictly
    // lower prices" runs as a TWO-LEVEL block cummax (the
    // streamOffsets pattern): in-block windows partitioned by a
    // price-derived block key run in parallel, and only the ~10-row
    // per-BLOCK max frame crosses a SinglePartition window —
    // metadata-scale, never the corpus; (3) surviving (price, msize)
    // pairs — at most |size domain| rows, strictly increasing msize —
    // join back to flag every part sitting exactly on the frontier.
    // DuckDB oracle runs the same sweep with a plain global window
    // (its single-node sort is the semantic spec, not the scale plan).
    // Doubles are GROUPING keys only, never summed (the dsum rule).
    // ------------------------------------------------------------------
    "q80_skyline" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val part = t(s, d, "part")
        val perPrice = part
          .groupBy(col("p_retailprice").as("price"))
          .agg(max(col("p_size")).as("msize"))
          .withColumn("blk", floor(col("price") / 10).cast("long"))
        val inBlk = Window.partitionBy(col("blk"))
          .orderBy(col("price"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val blkMax = perPrice.groupBy(col("blk"))
          .agg(max(col("msize")).as("bmax"))
        val overBlks = Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val sky = perPrice
          .withColumn("prior_in", max(col("msize")).over(inBlk))
          .join(blkMax
              .withColumn("prior_blk", max(col("bmax")).over(overBlks))
              .select(col("blk"), col("prior_blk")),
            Seq("blk"))
          .withColumn("prior",
            greatest(coalesce(col("prior_in"), lit(Int.MinValue)),
              coalesce(col("prior_blk"), lit(Int.MinValue))))
          .filter(col("msize") > col("prior"))
          .select(col("price"), col("msize"))
        part.join(sky,
            part("p_retailprice") === sky("price") &&
              part("p_size") === sky("msize"))
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
          .orderBy(col("p_retailprice"), col("p_partkey"))
      },
      Some("""WITH b AS (
          SELECT p_retailprice AS price, max(p_size) AS msize
          FROM part GROUP BY 1),
        sw AS (
          SELECT price, msize,
            max(msize) OVER (ORDER BY price
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
          FROM b),
        sky AS (
          SELECT price, msize FROM sw
          WHERE prior IS NULL OR msize > prior)
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p JOIN sky
          ON p.p_retailprice = sky.price AND p.p_size = sky.msize
        ORDER BY p.p_retailprice, p.p_partkey""")),

    // ------------------------------------------------------------------
    // CMS join-cardinality estimate — the skew patch q73's scaladoc
    // promises. q73's KMV estimator multiplies distinct-key overlap by
    // MEAN multiplicities (uniform-frequency assumption) and biases
    // low under correlated skew (51.5k vs 95.6k exact at sf0.01). The
    // frequency-aware estimator is the AMS/CMS inner product (Alon-
    // Matias-Szegedy via Cormode-Muthukrishnan): |A ⋈ B| = Σ_key
    // f_A·f_B ≈ min over depth rows of Σ_bucket cmsA[i][b]·cmsB[i][b]
    // — an OVERestimate by the additive hash-collision mass
    // ≈ n_A·n_B/width (width 65536 keeps it small; the honest
    // overcount_pm rides along against the exact count). Same x19
    // sketch substrate and cms_a_i/cms_b_i mod-p params; every number
    // integer ⇒ the whole estimator hash-verifies bit-for-bit, not
    // just "close". At 100 TB: two scan-once 4×65536-counter
    // aggregations (mergeable, broadcastable) answer the planner's
    // question with skew included — where q73's answer assumed it
    // away. The inner product joins the two sketches on (row, bucket)
    // — sparse: only buckets BOTH sides touched contribute.
    // ------------------------------------------------------------------
    "q81_join_cms" -> Q(
      (s, d) => {
        import graft.functions.PortableHash.{P, h60, h60col}
        val width = 65536L
        val depth = 4
        val as = (0 until depth).map(i => h60("cms_a_" + i) % (P - 1) + 1)
        val bs = (0 until depth).map(i => h60("cms_b_" + i) % P)
        def buckets(hw: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          array((0 until depth).map(i =>
            struct(lit(i).as("i"),
              pmod(pmod(lit(as(i)) * hw + lit(bs(i)), lit(P)), lit(width))
                .as("bucket"))): _*)
        def sketchOf(keyed: DataFrame): DataFrame = keyed
          .groupBy(col("ky")).agg(count(lit(1)).as("cnt"))
          .select(col("cnt"),
            pmod(h60col(concat(lit("jcm_"), col("ky"))), lit(P)).as("hw"))
          .select(col("cnt"), explode(buckets(col("hw"))).as("ib"))
          .groupBy(col("ib.i").as("i"), col("ib.bucket").as("bucket"))
          .agg(sum(col("cnt")).as("c"))
        val ev = t(s, d, "events").select(col("user_id").as("ky"))
        val or = t(s, d, "orders").select(col("o_custkey").as("ky"))
        val est = sketchOf(ev)
          .join(sketchOf(or).select(col("i"), col("bucket"),
            col("c").as("cb")), Seq("i", "bucket"))
          .groupBy(col("i"))
          .agg(sum(col("c") * col("cb")).as("ip"))
          .agg(min(col("ip")).as("cms_join_est"))
        val na = ev.agg(count(lit(1)).as("n_a"))
        val nb = or.agg(count(lit(1)).as("n_b"))
        val exact = ev.join(or, Seq("ky"))
          .agg(count(lit(1)).as("exact_join_size"))
        na.crossJoin(nb).crossJoin(est).crossJoin(exact)
          .select(col("n_a"), col("n_b"), col("cms_join_est"),
            col("exact_join_size"),
            expr("(cms_join_est - exact_join_size) * 1000 " +
              "div exact_join_size").as("overcount_pm"))
          .orderBy(col("n_a"))
      },
      Some("""WITH params AS (
          SELECT i,
            ('0x' || substr(md5('cms_a_' || i), 1, 15))::BIGINT
              % 2147483646 + 1 AS a,
            ('0x' || substr(md5('cms_b_' || i), 1, 15))::BIGINT
              % 2147483647 AS b
          FROM range(4) t(i)),
        ka AS (SELECT user_id AS ky FROM events),
        kb AS (SELECT o_custkey AS ky FROM orders),
        ca AS (SELECT ky, cast(count(*) as bigint) AS cnt
          FROM ka GROUP BY ky),
        cb AS (SELECT ky, cast(count(*) as bigint) AS cnt
          FROM kb GROUP BY ky),
        sa AS MATERIALIZED (
          SELECT i,
            ((a * (('0x' || substr(md5('jcm_' || ky), 1, 15))::BIGINT
              % 2147483647) + b) % 2147483647) % 65536 AS bucket,
            cast(sum(cnt) as bigint) AS c
          FROM ca, params GROUP BY 1, 2),
        sb AS MATERIALIZED (
          SELECT i,
            ((a * (('0x' || substr(md5('jcm_' || ky), 1, 15))::BIGINT
              % 2147483647) + b) % 2147483647) % 65536 AS bucket,
            cast(sum(cnt) as bigint) AS c
          FROM cb, params GROUP BY 1, 2),
        ip AS (
          SELECT sa.i, cast(sum(sa.c * sb.c) as bigint) AS ip
          FROM sa JOIN sb ON sa.i = sb.i AND sa.bucket = sb.bucket
          GROUP BY sa.i),
        est AS (SELECT cast(min(ip) as bigint) AS cms_join_est FROM ip),
        na AS (SELECT cast(count(*) as bigint) AS n_a FROM ka),
        nb AS (SELECT cast(count(*) as bigint) AS n_b FROM kb),
        ex AS (SELECT cast(count(*) as bigint) AS exact_join_size
          FROM ka JOIN kb USING (ky))
        SELECT n_a, n_b, cms_join_est, exact_join_size,
          cast((cms_join_est - exact_join_size) * 1000
            // exact_join_size as bigint) AS overcount_pm
        FROM na, nb, est, ex
        ORDER BY n_a""")),

    // ------------------------------------------------------------------
    // Custom DataSourceV2 connector, hash-checked end to end — the
    // extension-surface rung the scan inventory lacked: graft.sources
    // .GraftGen is a from-scratch TableProvider/ScanBuilder/
    // PartitionReader with REAL optimizer contracts (column pruning +
    // id-range filter pushdown that narrows the generated range
    // itself — pruned partitions do zero work; see its scaladoc and
    // the PlanGateSpec pushdown assertions). The table is an
    // h60-deterministic generator, so DuckDB re-derives every row
    // from range() + md5: a custom connector whose output is
    // hash-verified, not just smoke-tested. The filter below pushes
    // into the scan (65 % of the range never generates) and the
    // 3-column schema prunes to the 2 referenced columns.
    // ------------------------------------------------------------------
    "q82_custom_source" -> Q(
      (s, d) => {
        s.read.format("graft.sources.GraftGen")
          .option("rows", "100000").option("parts", "8").load()
          .filter(col("id") >= 50000L && col("id") < 85000L)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("h")).as("min_h"), max(col("h")).as("max_h"))
          .orderBy(col("bucket"))
      },
      Some("""WITH g AS (
          SELECT i AS id,
            ('0x' || substr(md5('gen_' || i), 1, 15))::BIGINT AS h
          FROM range(0, 100000) t(i)
          WHERE i >= 50000 AND i < 85000)
        SELECT cast(h % 100 as integer) AS bucket,
          cast(count(*) as bigint) AS n_rows,
          min(h) AS min_h, max(h) AS max_h
        FROM g GROUP BY 1 ORDER BY bucket""")),

    // ------------------------------------------------------------------
    // Equi-DEPTH histogram — the planner statistic q77's per-column
    // profile (min/max/ndv) stops short of, and the one selectivity
    // estimation actually needs under skew: 8 equal-population buckets
    // of l_extendedprice with their real boundaries and counts.
    // Boundaries are the 7 octile quantiles from ONE aggregate over
    // integer CENTS (the e21 discipline — interpolated quantiles of
    // integers are cross-engine exact where double quantiles are
    // not); each row then buckets row-locally as "boundaries strictly
    // below value" against the broadcast 1-row boundary array — no
    // global sort, no ntile's SinglePartition window, data-scale work
    // = one agg + one scan. Boundary-valued rows land in the upper
    // bucket in both engines (long-vs-double promotion is identical).
    // ------------------------------------------------------------------
    "q83_equidepth_histogram" -> Q(
      (s, d) => {
        val c = t(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long")
            .as("cents"))
        val bounds = c.agg(expr("percentile(cents, array(" +
          "0.125d, 0.25d, 0.375d, 0.5d, 0.625d, 0.75d, 0.875d))")
          .as("qs"))
        c.crossJoin(broadcast(bounds))
          .withColumn("bucket",
            size(filter(col("qs"), q => q < col("cents"))).cast("int"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("cents")).as("min_cents"),
            max(col("cents")).as("max_cents"))
          .orderBy(col("bucket"))
      },
      Some("""WITH c AS (
          SELECT cast(round(l_extendedprice * 100) as bigint) AS cents
          FROM lineitem),
        b AS (
          SELECT quantile_cont(cents,
            [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
          FROM c)
        SELECT cast(len(list_filter(b.qs, q -> q < c.cents)) as integer)
            AS bucket,
          cast(count(*) as bigint) AS n_rows,
          min(c.cents) AS min_cents, max(c.cents) AS max_cents
        FROM c, b
        GROUP BY 1 ORDER BY bucket""")),


    // ------------------------------------------------------------------
    // The WindowTopKRewrite optimizer rule, end to end: the query is
    // the PLAIN window formulation (row_number ≤ 3, rank dropped) —
    // exactly what a user writes — and the installed rule reroutes it
    // through the custom TopKPerKeyExec heap pair (no WindowExec, no
    // sorts, ≤3 rows per key per input partition on the exchange; see
    // plans/WindowTopKRewrite.scala for the scope guard). A plan is
    // optimized at EXECUTION, not construction, so the rule is
    // installed only around the eager materialization and never
    // reaches neighboring queries.
    // The oracle is the untouched row_number SQL — the rewrite must be
    // output-invisible, which is the whole contract.
    // ------------------------------------------------------------------
    "q84_window_topk_rewrite" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.plans.{SessionRules, TopKPerKey, WindowTopKRewrite}
        TopKPerKey.install(s)
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        SessionRules.withRule(s, WindowTopKRewrite) {
          mat(t(s, d, "orders")
            .select(col("o_orderpriority"), col("o_orderkey"),
              col("o_totalprice"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 3)
            .drop("rn"))
        }.orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderkey"))
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) z
        WHERE rn <= 3
        ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""")),

    // ------------------------------------------------------------------
    // Dynamic partition pruning, end to end: orders written
    // Hive-partitioned on the join key (q57's layout), then joined to
    // a small dim whose SELECTIVE filter is on a dim attribute — so
    // the matching partitions are unknowable at plan time (a literal
    // filter would be q57's static PartitionFilters; this is the case
    // static pruning cannot touch). The broadcast of the filtered dim
    // is REUSED as a runtime partition filter on the fact scan
    // (DynamicPruningExpression — asserted in ZoneMapSpec along with
    // the partitions-read reduction), which at 100 TB is the
    // difference between scanning 2/5 of a fact table and all of it,
    // on every star-schema query whose dim filter names no partition
    // value. Oracle computes the same join as a plain filter.
    // ------------------------------------------------------------------
    "q85_dpp_join" -> Q(
      (s, d) => {
        val path = indexPath(s, d, "dpp-orders")
        t(s, d, "orders")
          .withColumn("opr",
            substring(col("o_orderpriority"), 1, 1).cast("int"))
          .write.mode("overwrite").partitionBy("opr").parquet(path)
        val fact = s.read.parquet(path)
        val dim = s.range(1, 6)
          .select(col("id").cast("int").as("opr"),
            when(col("id") <= 2, "fast").otherwise("slow").as("tier"))
        fact.join(broadcast(dim.filter(col("tier") === "fast")),
            Seq("opr"))
          .groupBy(col("opr"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"))
          .orderBy(col("opr"))
      },
      Some(s"""SELECT cast(substr(o_orderpriority, 1, 1) as int) AS opr,
          count(*) AS n_orders, ${sqlDsum("o_totalprice")} AS total
        FROM orders WHERE substr(o_orderpriority, 1, 1) IN ('1', '2')
        GROUP BY 1 ORDER BY opr""")),

    // ------------------------------------------------------------------
    // The ANSI front door, literally: ONE SQL text — CTE, window,
    // filter, aggregate, ordered output — executed by BOTH engines
    // (spark.sql over a registered view here; DuckDB verbatim as the
    // oracle) and hash-equal. Every other entry pairs a DataFrame
    // program with equivalent SQL; this one pins the stronger claim
    // that the shared ANSI subset is genuinely shared: a user can
    // paste the same analytics query into either engine. Stays inside
    // the common dialect (row_number, min/max/count — no dialect
    // date/double-sum traps).
    // ------------------------------------------------------------------
    "q86_common_sql" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(CommonSql)
      },
      Some(CommonSql)),

    // ------------------------------------------------------------------
    // CHAINED LATERAL (q66's missing half): a correlated AGGREGATE
    // lateral whose result parameterizes a second lateral on the same
    // outer row — per nation, compute the customer-balance ceiling,
    // then pick the top customer within 90% of it. This is the
    // per-group top-1-by-computed-expression shape a single
    // row_number pass can't express (the ranking predicate depends on
    // a per-group aggregate computed first); LATERAL chains both
    // steps in one declarative text. Like q86, ONE shared ANSI string
    // runs verbatim in both engines. The driving set here is the FULL
    // dimension (all 25 nations), not a pre-limited frame — Spark
    // decorrelates both laterals into aggregate + ranked joins, so
    // the plan stays shuffle-based at any customer count.
    // ------------------------------------------------------------------
    "q87_lateral_chain" -> Q(
      (s, d) => {
        t(s, d, "nation").createOrReplaceTempView("nation")
        t(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(LateralChainSql)
      },
      Some(LateralChainSql)),

    // ------------------------------------------------------------------
    // SQL MERGE INTO — the upsert front door, executed by Spark's own
    // RewriteMergeIntoTable against the MERGE-capable DSv2 catalog
    // (sources/MemCatalog): group-based ReplaceData, the exact plan
    // shape Iceberg's copy-on-write MERGE runs at 100 TB — target
    // scanned through the row-level operation's scan, joined with the
    // source, WHEN clauses applied (DELETE + UPDATE + INSERT all
    // exercised), rewritten rows written back through the operation's
    // write. Only the final storage commit is memory-backed (no
    // Delta/Iceberg in this environment — the documented gap this
    // entry closes); the rewrite plan above it is the real thing.
    // Oracle recomputes the post-MERGE state relationally: updated ∪
    // untouched ∪ inserted minus deleted.
    // ------------------------------------------------------------------
    "q88_merge_into" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val tbl = "graftmem.ns.orders_" + new java.io.File(d)
          .getName.replaceAll("[^A-Za-z0-9_]", "_")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(o_orderkey BIGINT, status STRING, total DOUBLE)")
        t(s, d, "orders").filter(expr("o_orderkey % 3 = 0"))
          .selectExpr("o_orderkey", "'seed' AS status",
            "o_totalprice AS total")
          .writeTo(tbl).append()
        t(s, d, "orders").filter(expr("o_orderkey % 2 = 0"))
          .selectExpr("o_orderkey", "'merged' AS status",
            "o_totalprice * 1.25 AS total")
          .createOrReplaceTempView("q88_src")
        s.sql(s"""MERGE INTO $tbl t USING q88_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.o_orderkey % 30 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET status = s.status, total = s.total
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, status, total)
            VALUES (s.o_orderkey, s.status, s.total)""")
        s.table(tbl).orderBy(col("o_orderkey"))
      },
      Some("""WITH """ + sqlMergedOrders + """
        SELECT o_orderkey, status, total FROM merged
        ORDER BY o_orderkey""")),

    // ------------------------------------------------------------------
    // SQL UPDATE + DELETE FROM — the rest of the DML triad through the
    // SAME row-level-operation machinery as q88: Catalyst's
    // RewriteUpdateTable / RewriteDeleteFromTable produce group-based
    // ReplaceData against MemCatalog (no SupportsDelete filter path
    // implemented, so DELETE exercises the full rewrite too). Oracle
    // recomputes both statements as one relational expression.
    // ------------------------------------------------------------------
    "q89_update_delete" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val tbl = "graftmem.ns.cust_" + new java.io.File(d)
          .getName.replaceAll("[^A-Za-z0-9_]", "_")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(c_custkey BIGINT, seg STRING, bal DOUBLE)")
        t(s, d, "customer")
          .selectExpr("c_custkey", "c_mktsegment AS seg",
            "c_acctbal AS bal")
          .writeTo(tbl).append()
        s.sql(s"UPDATE $tbl SET seg = 'VIP', bal = bal + 100.0 " +
          "WHERE c_custkey % 7 = 0")
        s.sql(s"DELETE FROM $tbl WHERE bal < 0")
        s.table(tbl).orderBy(col("c_custkey"))
      },
      Some("""WITH base AS (
          SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
          FROM customer),
        upd AS (
          SELECT c_custkey,
            CASE WHEN c_custkey % 7 = 0 THEN 'VIP' ELSE seg END AS seg,
            CASE WHEN c_custkey % 7 = 0 THEN bal + 100.0 ELSE bal END
              AS bal
          FROM base)
        SELECT c_custkey, seg, bal FROM upd
        WHERE NOT (bal < 0)
        ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // Spark 4 VARIANT ingestion — the semi-structured column surface
    // the catalog previously served only via get_json_object (q30) /
    // from_json (e04). events.props is uniformly {"k":N}, so the query
    // first builds a deliberately HETEROGENEOUS JSON document per
    // event (nested object, variable-length array, an optional field
    // present on k%3==0 only) with byte-identical string concat in
    // both engines, then runs the Spark side through the real VARIANT
    // path: parse_json → a VariantType column → five typed
    // variant_get extractions (string / bigint / nested path / array
    // index / absent-field null) → a variant-typed predicate →
    // census. DuckDB re-derives via its JSON extraction over the same
    // document string.
    // Plan notes (QProf): parse_json evaluates ONCE per surviving row
    // behind its own projection (CollapseProject keeps multi-
    // referenced non-cheap aliases un-inlined — the five variant_get
    // calls read the same variant value), and the row filter is the
    // CHEAP get_json_object predicate, deliberately applied BEFORE
    // the variant is built: a filter spelled over the variant column
    // instead gets pushed into the scan's DataFilters and re-runs the
    // whole parseJson per input row (measured — the r12 expensive-
    // expression-inlining trap, CLAUDE.md). ReadSchema is pruned to
    // the three source columns the doc needs; the census exchange
    // carries 35 groups, not rows. variant_get itself does not push
    // below the scan (the variant is query-built here; over stored
    // VARIANT parquet Spark 4.1 pushes struct-field access, not
    // variant paths).
    // ------------------------------------------------------------------
    "q90_variant_ingest" -> Q(
      (s, d) => {
        val k = eventJsonK
        t(s, d, "events")
          .filter(k >= 10) // cheap prefilter: pushes to the scan,
          .select(parse_json(eventJsonDoc).as("v")) // parse survivors only
          .select(
            variant_get(col("v"), "$.et", "string").as("et"),
            variant_get(col("v"), "$.nested.mod", "bigint").as("mod"),
            variant_get(col("v"), "$.k", "bigint").as("k"),
            variant_get(col("v"), "$.maybe", "bigint").as("maybe"),
            variant_get(col("v"), "$.tags[1]", "string").as("tag2"))
          .groupBy(col("et"), col("mod"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("k_sum"),
            count(col("maybe")).as("n_maybe"),
            count(col("tag2")).as("n_tag2"))
          .orderBy(col("et"), col("mod"))
      },
      Some(s"""${eventDocOracleCtes("WHERE k >= 10")},
        x AS (
          SELECT json_extract_string(j, '$$.et') AS et,
            cast(json_extract(j, '$$.nested.mod') as bigint) AS mod,
            cast(json_extract(j, '$$.k') as bigint) AS k,
            cast(json_extract(j, '$$.maybe') as bigint) AS maybe,
            json_extract_string(j, '$$.tags[1]') AS tag2
          FROM doc)
        SELECT et, mod, cast(count(*) as bigint) AS n,
          cast(sum(k) as bigint) AS k_sum,
          cast(count(maybe) as bigint) AS n_maybe,
          cast(count(tag2) as bigint) AS n_tag2
        FROM x
        GROUP BY et, mod
        ORDER BY et, mod""")),

    // ------------------------------------------------------------------
    // VARIANT STORAGE round-trip — q90 exercises the in-query VARIANT
    // path; this writes the VariantType column to PARQUET (Spark 4's
    // binary metadata+value encoding), reads it back, and proves
    // typed access survives storage: five variant_get extractions
    // over the round-tripped column plus a per-row schema_of_variant
    // census (the heterogeneity witness: docs with the optional field
    // infer a different schema than docs without — surfaced as
    // has_maybe and cross-checked against the value-level NULL count,
    // n_maybe == n exactly on the has_maybe=true rows). The oracle
    // recomputes from the source JSON: storage must be lossless, so
    // round-tripped answers must equal never-stored answers.
    // Scale: the write is one linear pass (VARIANT encodes row-local);
    // the read-back scan prunes to the single variant column; census
    // exchange carries ≤10 groups.
    // ------------------------------------------------------------------
    "q91_variant_storage_roundtrip" -> Q(
      (s, d) => {
        val path = indexPath(s, d, "variant")
        t(s, d, "events")
          .select(col("event_id"), parse_json(eventJsonDoc).as("v"))
          .write.mode("overwrite").parquet(path)
        val rt = s.read.parquet(path)
        rt.select(
            variant_get(col("v"), "$.et", "string").as("et"),
            variant_get(col("v"), "$.nested.mod", "bigint").as("mod"),
            variant_get(col("v"), "$.k", "bigint").as("k"),
            variant_get(col("v"), "$.maybe", "bigint").as("maybe"),
            schema_of_variant(col("v")).contains("maybe").as("has_maybe"))
          .groupBy(col("et"), col("has_maybe"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("k_sum"),
            count(col("maybe")).as("n_maybe"),
            max(col("mod")).as("max_mod"))
          .orderBy(col("et"), col("has_maybe"))
      },
      Some(s"""${eventDocOracleCtes("")},
        x AS (
          SELECT json_extract_string(j, '$$.et') AS et,
            cast(json_extract(j, '$$.nested.mod') as bigint) AS mod,
            k,
            cast(json_extract(j, '$$.maybe') as bigint) AS maybe,
            k % 3 = 0 AS has_maybe
          FROM doc)
        SELECT et, has_maybe, cast(count(*) as bigint) AS n,
          cast(sum(k) as bigint) AS k_sum,
          cast(count(maybe) as bigint) AS n_maybe,
          cast(max(mod) as bigint) AS max_mod
        FROM x
        GROUP BY et, has_maybe
        ORDER BY et, has_maybe""")),

    // ------------------------------------------------------------------
    // Dataset.observe — the pipeline-OBSERVABILITY surface: named
    // metrics (count / sum / max) are collected DURING the real
    // query's single pass via a CollectMetrics plan node, then
    // compared against a from-scratch recomputation by the oracle.
    // This is how a 100 TB pipeline self-audits (row counts,
    // checksums, freshness watermarks) without a second scan: the
    // metrics ride the scan the query pays for anyway.
    // ------------------------------------------------------------------
    "q92_observe_metrics" -> Q(
      (s, d) => observeMetricsQuery(s, d),
      Some("""WITH metrics AS (
          SELECT cast(count(*) as bigint) AS n_rows,
            cast(sum(l_orderkey) as bigint) AS key_sum,
            strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
          FROM lineitem),
        answer AS (
          SELECT l_returnflag, cast(count(*) as bigint) AS n_heavy
          FROM lineitem WHERE l_quantity >= 25
          GROUP BY l_returnflag)
        SELECT a.l_returnflag, a.n_heavy, m.n_rows, m.key_sum, m.max_ship
        FROM answer a CROSS JOIN metrics m
        ORDER BY a.l_returnflag""")),

    // ------------------------------------------------------------------
    // Spark 4 SQL SCRIPTING — procedural control flow (BEGIN/END,
    // DECLARE, WHILE, scalar-subquery SET) executed entirely by the
    // SQL engine: the script accumulates a data-dependent value across
    // loop iterations (count of orders divisible by each i in 1..5),
    // the last statement's frame is the script's result. The oracle
    // computes the same fold with a closed-form range join. Control
    // flow runs on the driver; every iteration's subquery is a full
    // distributed plan — the scripting surface adds sequencing, not a
    // data-scale choke point.
    // ------------------------------------------------------------------
    "q93_sql_scripting" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.scripting.enabled", "true")
        t(s, d, "orders").createOrReplaceTempView("q93_orders")
        s.sql("""BEGIN
            DECLARE i BIGINT DEFAULT 1;
            DECLARE acc BIGINT DEFAULT 0;
            WHILE i <= 5 DO
              SET acc = acc +
                (SELECT count(*) FROM q93_orders WHERE o_orderkey % i = 0);
              SET i = i + 1;
            END WHILE;
            SELECT acc AS total_matches, i - 1 AS n_iters;
          END""")
      },
      Some("""SELECT cast(sum(c) as bigint) AS total_matches,
          cast(count(*) as bigint) AS n_iters
        FROM (
          SELECT i, (SELECT count(*) FROM orders
                     WHERE o_orderkey % i = 0) AS c
          FROM range(1, 6) t(i)) u""")),

    // ------------------------------------------------------------------
    // FILE METADATA columns — the hidden `_metadata` struct every file
    // source exposes (file_name, row_index, …): the row-level LINEAGE
    // surface a 100 TB pipeline needs for compliance deletes and
    // incremental reprocessing ("which file and which position did
    // this row come from"). The census pins the semantics hard: a
    // positional checksum sum(row_index · (l_orderkey mod 97)) ties
    // Spark's _metadata.row_index to DuckDB's file_row_number — any
    // off-by-one or reorder between the engines' notions of physical
    // file position breaks the hash. Metadata columns are generated
    // at the scan (constant-folded per split), never materialized in
    // storage — free at any scale.
    // ------------------------------------------------------------------
    "q94_metadata_columns" -> Q(
      (s, d) => {
        val ri = col("_metadata.row_index")
        parquet(s, s"$d/lineitem.parquet")
          .select(col("_metadata.file_name").as("file_name"),
            ri.as("ri"), col("l_orderkey"))
          .groupBy(col("file_name"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("ri")).as("min_ri"),
            max(col("ri")).as("max_ri"),
            sum(col("ri") * pmod(col("l_orderkey"), lit(97L)))
              .as("pos_checksum"))
          .orderBy(col("file_name"))
      },
      Some("""SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
          cast(count(*) as bigint) AS n_rows,
          cast(min(file_row_number) as bigint) AS min_ri,
          cast(max(file_row_number) as bigint) AS max_ri,
          cast(sum(file_row_number * (l_orderkey % 97)) as bigint)
            AS pos_checksum
        FROM read_parquet('{SF}/lineitem.parquet',
          filename = true, file_row_number = true)
        GROUP BY 1
        ORDER BY file_name""")),

    // ------------------------------------------------------------------
    // q95: small-file COMPACTION PLANNER — the OPTIMIZE file-grouping
    // step every 100 TB table needs (e34 plans the z-order clustering;
    // this plans which files merge into which compaction group).
    // Spark writes lineitem Hive-partitioned by pc = l_orderkey % 16
    // (one file per directory: the frame is hash-repartitioned on pc
    // first, so each pc lands in exactly one write task), reads the
    // tree back, and censuses per-partition rows + file count from the
    // hidden _metadata column — the plan math then packs partitions
    // into 4 equal-row compaction groups with pure-integer binning
    // (bin = 4·(cum-n) div total), deterministic at any sf. The oracle
    // never sees the written files: it re-derives per-pc counts from
    // the SOURCE table, so equality proves the partitioned write is
    // lossless AND one-file-per-partition AND the planner math. Scale:
    // file census is metadata-scale (one row per file); the window
    // over it is a 16-row frame.
    // ------------------------------------------------------------------
    "q95_compaction_plan" -> Q(
      (s, d) => {
        val path = indexPath(s, d, "q95")
        t(s, d, "lineitem")
          .withColumn("pc", pmod(col("l_orderkey"), lit(16L)))
          .repartition(col("pc"))
          .write.mode("overwrite").partitionBy("pc").parquet(path)
        val census = s.read.parquet(path)
          .select(col("pc").cast("long").as("pc"),
            col("_metadata.file_path").as("fp"))
          .groupBy(col("pc"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("fp")).as("n_files"))
        // 16-row metadata frame: the single-partition window is fine
        val wCum = Window.orderBy(col("pc"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wTot = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val plan = census
          .withColumn("cum", sum(col("n_rows")).over(wCum))
          .withColumn("tot", sum(col("n_rows")).over(wTot))
          .withColumn("bin_id",
            expr("(4 * (cum - n_rows)) div tot"))
          .groupBy(col("bin_id"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("n_files")).as("n_files"),
            sum(col("n_rows")).as("total_rows"),
            min(col("pc")).as("min_pc"),
            max(col("pc")).as("max_pc"))
          .orderBy(col("bin_id"))
          // 4-row metadata frame: eager-checkpoint so the parquet tree
          // can be deleted before the caller consumes the result
          .localCheckpoint()
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(path))
        plan
      },
      Some("""WITH per AS (
          SELECT l_orderkey % 16 AS pc,
            cast(count(*) as bigint) AS n_rows,
            cast(1 as bigint) AS n_files
          FROM lineitem GROUP BY 1),
        b AS (
          SELECT pc, n_rows, n_files,
            cast(sum(n_rows) OVER (ORDER BY pc) as bigint) AS cum,
            cast(sum(n_rows) OVER () as bigint) AS tot
          FROM per)
        SELECT cast((4 * (cum - n_rows)) // tot as bigint) AS bin_id,
          cast(count(*) as bigint) AS n_parts,
          cast(sum(n_files) as bigint) AS n_files,
          cast(sum(n_rows) as bigint) AS total_rows,
          min(pc) AS min_pc, max(pc) AS max_pc
        FROM b GROUP BY 1
        ORDER BY bin_id""")),

    // ------------------------------------------------------------------
    // q96: parquet FOOTER census — the storage-audit surface behind
    // every layout/encoding decision (per-column compression ratio,
    // chunk sizes, codec). Two INDEPENDENT parquet footer readers must
    // agree byte-for-byte: Spark's side reads the footer with
    // parquet-java (ParquetFileReader — KB-scale driver read, the
    // same metadata class as block offsets; a multi-file 100 TB table
    // distributes footer reads with mapPartitions over the file list),
    // the oracle uses DuckDB's native parquet_metadata(). Agreement is
    // a storage-format conformance proof, not a recomputation — no
    // shared code path exists between the two readers.
    // ------------------------------------------------------------------
    "q96_footer_census" -> Q(
      (s, d) => {
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val conf = s.sparkContext.hadoopConfiguration
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$d/lineitem.parquet"), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val chunks = try {
          reader.getFooter.getBlocks.asScala.flatMap { b =>
            b.getColumns.asScala.map { c =>
              (c.getPath.toDotString, c.getValueCount, c.getTotalSize,
                c.getTotalUncompressedSize, c.getCodec.name)
            }
          }.toSeq
        } finally reader.close()
        chunks.toDF("column_name", "nv", "cb", "ub", "cc")
          .groupBy(col("column_name"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("nv")).as("n_values"),
            sum(col("cb")).as("compressed_bytes"),
            sum(col("ub")).as("uncompressed_bytes"),
            min(col("cc")).as("codec"))
          .orderBy(col("column_name"))
      },
      Some("""SELECT path_in_schema AS column_name,
          cast(count(*) as bigint) AS n_chunks,
          cast(sum(num_values) as bigint) AS n_values,
          cast(sum(total_compressed_size) as bigint) AS compressed_bytes,
          cast(sum(total_uncompressed_size) as bigint)
            AS uncompressed_bytes,
          min(compression) AS codec
        FROM parquet_metadata('{SF}/lineitem.parquet')
        GROUP BY 1
        ORDER BY column_name""")),

    // ------------------------------------------------------------------
    // q97: modern ANSI sugar as ONE shared text (q86's convention —
    // the same string runs verbatim in Spark and DuckDB): GROUP BY ALL
    // (group on every non-aggregate select item), ORDER BY ALL
    // (deterministic full-row ordering), FILTER aggregates, and
    // LATERAL COLUMN ALIASES chained two deep (n_heavy references n's
    // row, heavy_milli references n_heavy — resolved left-to-right in
    // the same SELECT, no subquery nesting). Sugar, but sugar a query
    // author migrating off the reference will type on day one.
    // ------------------------------------------------------------------
    "q97_sql_sugar" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(SqlSugarText)
      },
      Some(SqlSugarText)),

    // ------------------------------------------------------------------
    // q98: K-ANONYMITY census — the release-governance gate (p05's
    // scrubbed-release sibling): before customer-derived data ships,
    // how re-identifiable is it? Quasi-identifier classes =
    // (nation, segment, balance-thousand bucket); per nation the
    // census reports class count, k (the smallest class), the rows
    // sitting in classes below the k=5 publication threshold, and
    // l-diversity (min distinct sensitive values per class — here the
    // exact balance). Two hash aggregations, linear at any scale.
    // ------------------------------------------------------------------
    // ------------------------------------------------------------------
    // q100: Spark 4 SQL PIPE syntax — the linear `FROM … |> WHERE …
    // |> AGGREGATE … |> …` form (operators apply top-to-bottom, the
    // order the optimizer actually reasons in). Semantics are plain
    // relational algebra, so the oracle is the classic
    // WHERE/GROUP BY/HAVING/ORDER BY spelling — the driver's
    // name-keyed compare proves the two forms equivalent. DuckDB has
    // no pipe syntax, which is exactly why this entry exists: the
    // surface is Spark's, the answer is engine-independent.
    // ------------------------------------------------------------------
    "q100_pipe_syntax" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""FROM lineitem
          |> WHERE l_quantity >= 30
          |> AGGREGATE cast(count(*) as bigint) AS n,
               cast(sum(cast(l_quantity as bigint)) as bigint) AS qty
             GROUP BY l_returnflag, l_linestatus
          |> WHERE n > 100
          |> ORDER BY l_returnflag, l_linestatus""")
      },
      Some("""SELECT l_returnflag, l_linestatus,
          cast(count(*) as bigint) AS n,
          cast(sum(cast(l_quantity as bigint)) as bigint) AS qty
        FROM lineitem
        WHERE l_quantity >= 30
        GROUP BY l_returnflag, l_linestatus
        HAVING count(*) > 100
        ORDER BY l_returnflag, l_linestatus""")),

    // ------------------------------------------------------------------
    // q101: COLLATION-aware semantics (Spark 4 collated strings) —
    // distinct-counting under UTF8_LCASE collapses the three
    // deterministically synthesized case forms of each priority into
    // one value, where binary (default) collation keeps all 15. The
    // oracle expresses the same semantics with lower(): collation is
    // declarative case-insensitivity, the lower()-rewrite is what it
    // replaces (and what a pre-collation engine must do by hand).
    // ------------------------------------------------------------------
    "q101_collation" -> Q(
      (s, d) => {
        val mixed = when(pmod(col("o_orderkey"), lit(3)) === 0,
          upper(col("o_orderpriority")))
          .when(pmod(col("o_orderkey"), lit(3)) === 1,
            concat(upper(substring(col("o_orderpriority"), 1, 3)),
              lower(substring(col("o_orderpriority"), 4, 100))))
          .otherwise(lower(col("o_orderpriority")))
        t(s, d, "orders").select(mixed.as("pri_mixed"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("pri_mixed")).as("n_raw_distinct"),
            countDistinct(expr("collate(pri_mixed, 'UTF8_LCASE')"))
              .as("n_ci_distinct"))
      },
      Some("""WITH m AS (
          SELECT CASE
            WHEN o_orderkey % 3 = 0 THEN upper(o_orderpriority)
            WHEN o_orderkey % 3 = 1 THEN
              concat(upper(substr(o_orderpriority, 1, 3)),
                lower(substr(o_orderpriority, 4, 100)))
            ELSE lower(o_orderpriority) END AS pri_mixed
          FROM orders)
        SELECT cast(count(*) as bigint) AS n_rows,
          cast(count(distinct pri_mixed) as bigint) AS n_raw_distinct,
          cast(count(distinct lower(pri_mixed)) as bigint)
            AS n_ci_distinct
        FROM m""")),

    // ------------------------------------------------------------------
    // q102: DYNAMIC partition overwrite — the lakehouse correction
    // pattern (recompute ONE day/priority and INSERT OVERWRITE it)
    // whose semantics decide whether a 100 TB table survives the fix:
    // static overwrite mode would DELETE every partition and write
    // only the incoming one; dynamic mode
    // (spark.sql.sources.partitionOverwriteMode=dynamic, set on the
    // WRITER, not the session — no global state) replaces exactly the
    // partitions present in the incoming frame and leaves the other
    // four untouched on disk. Day-0 writes orders partitioned by
    // priority; day-1 re-derives the URGENT partition with a
    // correction (totalprice doubled — a visible, oracle-derivable
    // change) and overwrites dynamically. The read-back census
    // hash-matches the oracle's expected end state (corrected URGENT +
    // original others, re-derived from source), proving both the
    // partition isolation and the correction; n_files per partition
    // stays 1 (each write coalesces per partition via repartition on
    // the partition column). Tmp tree is application-id keyed (the
    // q95 lesson) and deleted after an eager checkpoint.
    // ------------------------------------------------------------------
    "q102_dynamic_overwrite" -> Q(
      (s, d) => {
        val path = indexPath(s, d, "q102")
        val src = t(s, d, "orders").select(col("o_orderkey"),
          col("o_totalprice"), col("o_orderpriority").as("pri"))
        src.repartition(col("pri"))
          .write.mode("overwrite").partitionBy("pri").parquet(path)
        // day-1 correction: URGENT re-derived with doubled totalprice,
        // dynamic overwrite touches ONLY that partition
        src.filter(col("pri") === "1-URGENT")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .repartition(col("pri"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("pri").parquet(path)
        val out = s.read.parquet(path)
          .groupBy(col("pri"))
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("o_totalprice")).as("total"),
            countDistinct(col("_metadata.file_path")).as("n_files"))
          .orderBy(col("pri"))
          .localCheckpoint()
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(path))
        out
      },
      Some(s"""SELECT o_orderpriority AS pri,
          cast(count(*) as bigint) AS n_rows,
          ${Catalog.sqlDsum(
            "CASE WHEN o_orderpriority = '1-URGENT' " +
            "THEN o_totalprice * 2 ELSE o_totalprice END")} AS total,
          cast(1 as bigint) AS n_files
        FROM orders
        GROUP BY 1
        ORDER BY pri""")),

    // ------------------------------------------------------------------
    // q103: SCHEMA EVOLUTION across file generations — the other half
    // of q102's lakehouse-maintenance story: a table whose oldest
    // files predate a column. Generation 1 writes orders WITHOUT o_channel;
    // generation 2 adds it (derived deterministically). A plain read
    // takes ONE file's schema and silently drops or fails the other —
    // `mergeSchema` unions the schemas and nulls the missing column in
    // old files, which is exactly the semantics a 100 TB table with
    // years of generations depends on (and why the default is OFF: the
    // footer-merge costs one pass over every file's footer). Census per
    // channel (null = pre-evolution rows): rows, key checksum, price
    // mass — oracle re-derives the expected union from source, so the
    // hash proves no row was dropped and the null-fill is exact.
    // ------------------------------------------------------------------
    "q103_schema_evolution" -> Q(
      (s, d) => {
        val path = indexPath(s, d, "q103")
        val src = t(s, d, "orders").select(col("o_orderkey"),
          col("o_totalprice"), col("o_orderpriority"))
        // generation 1: the pre-evolution files (no o_channel)
        src.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .coalesce(2).write.mode("overwrite").parquet(s"$path/g1")
        // generation 2: schema adds o_channel
        src.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .withColumn("o_channel",
            when(pmod(col("o_orderkey"), lit(3)) === 0, lit("web"))
              .otherwise(lit("store")))
          .coalesce(2).write.mode("overwrite").parquet(s"$path/g2")
        val out = s.read.option("mergeSchema", "true")
          .parquet(s"$path/g1", s"$path/g2")
          .groupBy(col("o_channel"))
          .agg(count(lit(1)).as("n_rows"),
            sum(pmod(col("o_orderkey"), lit(9973L))).as("key_checksum"),
            dsum(col("o_totalprice")).as("price_mass"))
          .orderBy(col("o_channel").asc_nulls_first)
          .localCheckpoint()
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(path))
        out
      },
      Some(s"""SELECT o_channel,
          cast(count(*) as bigint) AS n_rows,
          cast(sum(o_orderkey % 9973) as bigint) AS key_checksum,
          ${Catalog.sqlDsum("o_totalprice")} AS price_mass
        FROM (
          SELECT o_orderkey, o_totalprice,
            CASE WHEN o_orderkey % 2 = 0 THEN NULL
              WHEN o_orderkey % 3 = 0 THEN 'web'
              ELSE 'store' END AS o_channel
          FROM orders)
        GROUP BY 1
        ORDER BY o_channel NULLS FIRST""")),

    // ------------------------------------------------------------------
    // q104: TIME TRAVEL (`VERSION AS OF`) over the DSv2 catalog — the
    // audit/debug/rollback read every lakehouse table keeps: MemCatalog
    // now versions every commit (the snapshot vector Iceberg/Delta
    // keep as manifests), and `loadTable(ident, version)` returns a
    // PINNED table whose scans read the frozen snapshot. The query
    // builds three versions (v0 CREATE-empty, v1 seeded append, v2
    // q88's three-action MERGE) and censuses each via `VERSION AS OF`
    // — crucially reading v1 AFTER the merge has rewritten the head,
    // so the hash match proves snapshot isolation, not just replay.
    // The oracle re-derives every version's state from source modular
    // arithmetic.
    // ------------------------------------------------------------------
    "q104_time_travel" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val tbl = "graftmem.ns.tt_orders_" + new java.io.File(d)
          .getName.replaceAll("[^A-Za-z0-9_]", "_")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, status STRING)")
        t(s, d, "orders").filter(expr("o_orderkey % 3 = 0"))
          .selectExpr("o_orderkey", "'seed' AS status")
          .writeTo(tbl).append() // commit -> version 1
        t(s, d, "orders").filter(expr("o_orderkey % 2 = 0"))
          .selectExpr("o_orderkey", "'merged' AS status")
          .createOrReplaceTempView("q104_src")
        s.sql(s"""MERGE INTO $tbl t USING q104_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.o_orderkey % 30 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET status = s.status
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, status)
            VALUES (s.o_orderkey, s.status)""") // commit -> version 2
        def census(label: Int, travel: String) =
          s.sql(s"SELECT * FROM $tbl $travel")
            .agg(count(lit(1)).as("n_rows"),
              count(when(col("status") === "seed", 1)).as("n_seed"),
              count(when(col("status") === "merged", 1)).as("n_merged"),
              coalesce(sum(pmod(col("o_orderkey"), lit(9973L))), lit(0L))
                .as("key_checksum"))
            .select(lit(label).as("version"), col("n_rows"),
              col("n_seed"), col("n_merged"), col("key_checksum"))
        census(0, "VERSION AS OF 0")
          .unionByName(census(1, "VERSION AS OF 1"))
          .unionByName(census(2, "VERSION AS OF 2"))
          // TIMESTAMP AS OF between commits 1 and 2 (the synthetic
          // commit clock: version v at 2000-01-01 + v s) resolves to
          // the LATEST at-or-before snapshot — v1, labeled 101
          .unionByName(census(101,
            "TIMESTAMP AS OF '2000-01-01 00:00:01.5'"))
          .orderBy(col("version"))
      },
      Some("""WITH st AS (
          SELECT o_orderkey,
            CASE
              WHEN o_orderkey % 6 = 0 AND o_orderkey % 30 = 0 THEN NULL
              WHEN o_orderkey % 6 = 0 THEN 'merged'
              WHEN o_orderkey % 3 = 0 THEN 'seed'
              WHEN o_orderkey % 2 = 0 THEN 'merged'
              ELSE NULL END AS status
          FROM orders)
        SELECT * FROM (
          SELECT cast(0 as int) AS version, cast(0 as bigint) AS n_rows,
            cast(0 as bigint) AS n_seed, cast(0 as bigint) AS n_merged,
            cast(0 as bigint) AS key_checksum
          UNION ALL
          SELECT 1, cast(count(*) as bigint), cast(count(*) as bigint),
            cast(0 as bigint),
            cast(coalesce(sum(o_orderkey % 9973), 0) as bigint)
          FROM orders WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT 2, cast(count(*) as bigint),
            cast(count(CASE WHEN status = 'seed' THEN 1 END) as bigint),
            cast(count(CASE WHEN status = 'merged' THEN 1 END) as bigint),
            cast(coalesce(sum(o_orderkey % 9973), 0) as bigint)
          FROM st WHERE status IS NOT NULL
          UNION ALL
          SELECT 101, cast(count(*) as bigint), cast(count(*) as bigint),
            cast(0 as bigint),
            cast(coalesce(sum(o_orderkey % 9973), 0) as bigint)
          FROM orders WHERE o_orderkey % 3 = 0)
        ORDER BY version""")),

    // ------------------------------------------------------------------
    // CHANGE DATA FEED read (q104's missing half): q104 gave the
    // catalog versioned snapshots; this READS THE DIFF between two of
    // them — the Delta CDF / Iceberg incremental-read shape that turns
    // a lakehouse table into a change stream (downstream incremental
    // consumers process v1→v2's changes, never re-scan v2). Seed →
    // version 1, q88's three-action MERGE → version 2, then the
    // change set is computed from the two PINNED snapshots by a
    // key-partitioned FULL OUTER join (m09's reconciliation
    // machinery): pre-only → delete, post-only → insert, both-with-
    // different-values → update_preimage + update_postimage rows. At
    // 100 TB this join shuffles both snapshots by the table key once
    // — a real CDF implementation reads stored change files instead,
    // but the SEMANTICS pinned here (exactly these four row kinds,
    // exactly these values) is the contract those files must meet.
    // The oracle re-derives both snapshots relationally and diffs
    // them the same way.
    // ------------------------------------------------------------------
    "q105_change_data_feed" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val tbl = "graftmem.ns.cdf_orders_" + new java.io.File(d)
          .getName.replaceAll("[^A-Za-z0-9_]", "_")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(o_orderkey BIGINT, status STRING, total DOUBLE)")
        t(s, d, "orders").filter(expr("o_orderkey % 3 = 0"))
          .selectExpr("o_orderkey", "'seed' AS status",
            "o_totalprice AS total")
          .writeTo(tbl).append() // -> version 1
        t(s, d, "orders").filter(expr("o_orderkey % 2 = 0"))
          .selectExpr("o_orderkey", "'merged' AS status",
            "o_totalprice * 1.25 AS total")
          .createOrReplaceTempView("q105_src")
        s.sql(s"""MERGE INTO $tbl t USING q105_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.o_orderkey % 30 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET status = s.status, total = s.total
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, status, total)
            VALUES (s.o_orderkey, s.status, s.total)""") // -> version 2
        val pre = s.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
          .select(col("o_orderkey"), col("status").as("pre_status"),
            col("total").as("pre_total"))
        val post = s.sql(s"SELECT * FROM $tbl VERSION AS OF 2")
          .select(col("o_orderkey"), col("status").as("post_status"),
            col("total").as("post_total"))
        val j = pre.join(post, Seq("o_orderkey"), "full_outer")
        val changed = col("pre_status").isNotNull &&
          col("post_status").isNotNull &&
          (col("pre_status") =!= col("post_status") ||
            col("pre_total") =!= col("post_total"))
        j.filter(col("post_status").isNull)
          .select(col("o_orderkey"), col("pre_status").as("status"),
            col("pre_total").as("total"),
            lit("delete").as("change_type"))
          .unionByName(j.filter(col("pre_status").isNull)
            .select(col("o_orderkey"), col("post_status").as("status"),
              col("post_total").as("total"),
              lit("insert").as("change_type")))
          .unionByName(j.filter(changed)
            .select(col("o_orderkey"), col("pre_status").as("status"),
              col("pre_total").as("total"),
              lit("update_preimage").as("change_type")))
          .unionByName(j.filter(changed)
            .select(col("o_orderkey"), col("post_status").as("status"),
              col("post_total").as("total"),
              lit("update_postimage").as("change_type")))
          .orderBy(col("o_orderkey"), col("change_type"))
      },
      Some("""WITH """ + sqlMergedOrders + """,
        j AS (
          SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
            v1.status AS pre_status, v1.total AS pre_total,
            v2.status AS post_status, v2.total AS post_total
          FROM seed v1 FULL OUTER JOIN merged v2 ON v1.o_orderkey = v2.o_orderkey)
        SELECT * FROM (
          SELECT o_orderkey, pre_status AS status, pre_total AS total,
            'delete' AS change_type
          FROM j WHERE post_status IS NULL
          UNION ALL
          SELECT o_orderkey, post_status, post_total, 'insert'
          FROM j WHERE pre_status IS NULL
          UNION ALL
          SELECT o_orderkey, pre_status, pre_total, 'update_preimage'
          FROM j WHERE pre_status IS NOT NULL AND post_status IS NOT NULL
            AND (pre_status <> post_status OR pre_total <> post_total)
          UNION ALL
          SELECT o_orderkey, post_status, post_total, 'update_postimage'
          FROM j WHERE pre_status IS NOT NULL AND post_status IS NOT NULL
            AND (pre_status <> post_status OR pre_total <> post_total)
        ) u ORDER BY o_orderkey, change_type""")),

    // ------------------------------------------------------------------
    // MERGE-ON-READ row-level operations (q88's other production
    // posture): the SAME three-action MERGE, but through
    // MemDeltaCatalog's SupportsDelta operation, so Catalyst plans the
    // delta-based WriteDelta — the write ships ONLY typed (insert /
    // update / delete) change rows keyed by rowId and never rewrites
    // unmatched rows — instead of group-based ReplaceData's full
    // rewrite. At 100 TB this is the write-amplification dial:
    // copy-on-write pays O(table) per MERGE for cheap reads,
    // merge-on-read pays O(changes) per MERGE (Iceberg v2 delete
    // files / Delta DVs) and defers the merge to readers. The oracle
    // is q88's oracle VERBATIM — the hash proves the two postures
    // converge to the identical table; PlanGateSpec pins WriteDelta
    // (not ReplaceData) in this query's plan.
    // ------------------------------------------------------------------
    "q106_merge_on_read" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftdelta",
          "graft.sources.MemDeltaCatalog")
        val tbl = "graftdelta.ns.mor_orders_" + new java.io.File(d)
          .getName.replaceAll("[^A-Za-z0-9_]", "_")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // rowId columns must be non-nullable (Catalyst rejects a
        // nullable row identity for delta writes — correctly: a NULL
        // key can't address the row it should update/delete)
        s.sql(s"CREATE TABLE $tbl " +
          "(o_orderkey BIGINT NOT NULL, status STRING, total DOUBLE)")
        t(s, d, "orders").filter(expr("o_orderkey % 3 = 0"))
          .selectExpr("o_orderkey", "'seed' AS status",
            "o_totalprice AS total")
          .writeTo(tbl).append()
        t(s, d, "orders").filter(expr("o_orderkey % 2 = 0"))
          .selectExpr("o_orderkey", "'merged' AS status",
            "o_totalprice * 1.25 AS total")
          .createOrReplaceTempView("q106_src")
        s.sql(s"""MERGE INTO $tbl t USING q106_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.o_orderkey % 30 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET status = s.status, total = s.total
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, status, total)
            VALUES (s.o_orderkey, s.status, s.total)""")
        s.table(tbl).orderBy(col("o_orderkey"))
      },
      Some("""WITH """ + sqlMergedOrders + """
        SELECT o_orderkey, status, total FROM merged
        ORDER BY o_orderkey""")),

    // ------------------------------------------------------------------
    // V2 FunctionCatalog (the one extension surface the repo hadn't
    // exercised): the engine's portable primitives registered as
    // CATALOG functions — graftfn.ns.h60 / graftfn.ns.cosinef — and
    // called from BARE SQL TEXT, the way Iceberg ships its
    // bucket/truncate transforms. Both implement the magic-method
    // contract, so the calls compile to codegen'd Invoke, not the
    // row-boxing produceResult fallback (PlanGateSpec pins the plan).
    // Two legs: an h60 bucket census over documents (the x17 split
    // gate, now spelled in SQL), and cosinef(embedding,
    // reverse(embedding)) per probe vector (a non-trivial row-local
    // float-array computation). The oracle re-derives h60 as the
    // md5-prefix arithmetic and the cosine over cast double lists.
    // ------------------------------------------------------------------
    "q107_v2_catalog_functions" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftfn",
          "graft.sources.GraftFunctionCatalog")
        t(s, d, "documents").createOrReplaceTempView("q107_docs")
        t(s, d, "embeddings").createOrReplaceTempView("q107_emb")
        s.sql("""WITH hb AS (
            SELECT graftfn.ns.h60(concat('q107_', cast(doc_id as string)))
              % 16 AS b
            FROM q107_docs),
          hc AS (SELECT b, count(*) AS n FROM hb GROUP BY b),
          cs AS (
            SELECT vec_id,
              graftfn.ns.cosinef(embedding, reverse(embedding)) AS c
            FROM q107_emb WHERE vec_id < 20)
          SELECT fn, k, n, val FROM (
            SELECT 'h60' AS fn, b AS k, n, cast(0.0 as double) AS val
            FROM hc
            UNION ALL
            SELECT 'cosinef', vec_id, cast(0 as bigint), c FROM cs) u
          ORDER BY fn, k""")
      },
      Some(s"""WITH hb AS (
          SELECT ${graft.functions.PortableHash.h60Sql(
            "'q107_' || doc_id")} % 16 AS b
          FROM documents),
        hc AS (SELECT b, cast(count(*) as bigint) AS n FROM hb
          GROUP BY b),
        e AS (SELECT vec_id,
            list_transform(embedding, x -> cast(x as double)) AS v
          FROM embeddings WHERE vec_id < 20),
        cs AS (SELECT vec_id,
            list_dot_product(v, list_reverse(v))
              / sqrt(list_dot_product(v, v))
              / sqrt(list_dot_product(list_reverse(v), list_reverse(v)))
              AS c
          FROM e)
        SELECT * FROM (
          SELECT 'h60' AS fn, cast(b as bigint) AS k, n,
            cast(0.0 as double) AS val
          FROM hc
          UNION ALL
          SELECT 'cosinef', cast(vec_id as bigint), cast(0 as bigint), c
          FROM cs) u
        ORDER BY fn, k""")),

    // ------------------------------------------------------------------
    // INCREMENTAL VIEW MAINTENANCE from the change feed — what q105's
    // diff is FOR: a downstream per-status aggregate is maintained
    // from snapshot v1 plus the signed CDF deltas (insert /
    // update_postimage weigh +1, delete / update_preimage −1) and
    // must equal the aggregate recomputed directly on v2. All sums
    // ride DECIMAL(24,6) until one final double cast, so
    // maintained ≡ direct holds EXACTLY (decimal addition is
    // associative where early double casts are not) — the query's
    // third leg counts mismatching statuses and reads 0, the
    // self-proving row. At 100 TB this is the materialized-view
    // story: the view updates at O(changes) cost, never O(table),
    // and the CDF is the contract that makes it correct.
    // ------------------------------------------------------------------
    "q108_incremental_view_maintenance" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val tbl = "graftmem.ns.ivm_orders_" + new java.io.File(d)
          .getName.replaceAll("[^A-Za-z0-9_]", "_")
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(o_orderkey BIGINT, status STRING, total DOUBLE)")
        t(s, d, "orders").filter(expr("o_orderkey % 3 = 0"))
          .selectExpr("o_orderkey", "'seed' AS status",
            "o_totalprice AS total")
          .writeTo(tbl).append() // -> version 1
        t(s, d, "orders").filter(expr("o_orderkey % 2 = 0"))
          .selectExpr("o_orderkey", "'merged' AS status",
            "o_totalprice * 1.25 AS total")
          .createOrReplaceTempView("q108_src")
        s.sql(s"""MERGE INTO $tbl t USING q108_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.o_orderkey % 30 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET status = s.status, total = s.total
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, status, total)
            VALUES (s.o_orderkey, s.status, s.total)""") // -> version 2
        val dec = col("total").cast("decimal(24,6)")
        val v1 = s.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
        val v2 = s.sql(s"SELECT * FROM $tbl VERSION AS OF 2")
        // CDF deltas (q105's diff) with signed weights
        val pre = v1.select(col("o_orderkey"),
          col("status").as("pre_status"), col("total").as("pre_total"))
        val post = v2.select(col("o_orderkey"),
          col("status").as("post_status"), col("total").as("post_total"))
        val j = pre.join(post, Seq("o_orderkey"), "full_outer")
        val changed = col("pre_status").isNotNull &&
          col("post_status").isNotNull &&
          (col("pre_status") =!= col("post_status") ||
            col("pre_total") =!= col("post_total"))
        val changes =
          j.filter(col("post_status").isNull)
            .select(col("pre_status").as("status"),
              col("pre_total").as("total"), lit(-1L).as("w"))
          .unionByName(j.filter(col("pre_status").isNull)
            .select(col("post_status").as("status"),
              col("post_total").as("total"), lit(1L).as("w")))
          .unionByName(j.filter(changed)
            .select(col("pre_status").as("status"),
              col("pre_total").as("total"), lit(-1L).as("w")))
          .unionByName(j.filter(changed)
            .select(col("post_status").as("status"),
              col("post_total").as("total"), lit(1L).as("w")))
        val v1agg = v1.groupBy(col("status"))
          .agg(count(lit(1)).as("n1"), sum(dec).as("t1"))
        val dagg = changes.groupBy(col("status"))
          .agg(sum(col("w")).as("dn"),
            sum(col("total").cast("decimal(24,6)") * col("w"))
              .as("dt"))
        val zero = lit(BigDecimal(0)).cast("decimal(24,6)")
        val maintained = v1agg.join(dagg, Seq("status"), "full_outer")
          .select(col("status"),
            (coalesce(col("n1"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_rows"),
            (coalesce(col("t1"), zero) + coalesce(col("dt"), zero))
              .cast("double").as("total_sum"))
          .filter(col("n_rows") > 0)
        val direct = v2.groupBy(col("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(dec).cast("double").as("total_sum"))
        val mism = direct.select(col("status"), col("n_rows").as("na"),
            col("total_sum").as("ta"))
          .join(maintained.select(col("status"),
            col("n_rows").as("nb"), col("total_sum").as("tb")),
            Seq("status"), "full_outer")
          .filter(col("na").isNull || col("nb").isNull ||
            col("na") =!= col("nb") || col("ta") =!= col("tb"))
          .agg(count(lit(1)).as("n_rows"))
          .select(lit("3_match").as("leg"), lit("mismatches").as("status"),
            col("n_rows"), lit(0.0).as("total_sum"))
        direct.select(lit("1_direct").as("leg"), col("status"),
            col("n_rows"), col("total_sum"))
          .unionByName(maintained.select(lit("2_maintained").as("leg"),
            col("status"), col("n_rows"), col("total_sum")))
          .unionByName(mism)
          .orderBy(col("leg"), col("status"))
      },
      Some("""WITH """ + sqlMergedOrders + """,
        j AS (
          SELECT v1.status AS pre_status, v1.total AS pre_total,
            v2.status AS post_status, v2.total AS post_total
          FROM seed v1 FULL OUTER JOIN merged v2 ON v1.o_orderkey = v2.o_orderkey),
        changes AS (
          SELECT pre_status AS status, pre_total AS total, -1 AS w
          FROM j WHERE post_status IS NULL
          UNION ALL
          SELECT post_status, post_total, 1 FROM j
          WHERE pre_status IS NULL
          UNION ALL
          SELECT pre_status, pre_total, -1 FROM j
          WHERE pre_status IS NOT NULL AND post_status IS NOT NULL
            AND (pre_status <> post_status OR pre_total <> post_total)
          UNION ALL
          SELECT post_status, post_total, 1 FROM j
          WHERE pre_status IS NOT NULL AND post_status IS NOT NULL
            AND (pre_status <> post_status OR pre_total <> post_total)),
        v1agg AS (
          SELECT status, cast(count(*) as bigint) AS n1,
            sum(cast(total as decimal(24,6))) AS t1
          FROM seed GROUP BY status),
        dagg AS (
          SELECT status, cast(sum(w) as bigint) AS dn,
            sum(cast(total as decimal(24,6)) * w) AS dt
          FROM changes GROUP BY status),
        maintained AS (
          SELECT coalesce(v.status, g.status) AS status,
            coalesce(v.n1, 0) + coalesce(g.dn, 0) AS n_rows,
            cast(coalesce(v.t1, 0) + coalesce(g.dt, 0) as double)
              AS total_sum
          FROM v1agg v FULL OUTER JOIN dagg g ON g.status = v.status
          WHERE coalesce(v.n1, 0) + coalesce(g.dn, 0) > 0),
        direct AS (
          SELECT status, cast(count(*) as bigint) AS n_rows,
            cast(sum(cast(total as decimal(24,6))) as double)
              AS total_sum
          FROM merged GROUP BY status),
        mism AS (
          SELECT cast(count(*) as bigint) AS n FROM direct a
          FULL OUTER JOIN maintained b ON b.status = a.status
          WHERE a.status IS NULL OR b.status IS NULL
            OR a.n_rows <> b.n_rows OR a.total_sum <> b.total_sum)
        SELECT * FROM (
          SELECT '1_direct' AS leg, status, n_rows, total_sum
          FROM direct
          UNION ALL
          SELECT '2_maintained', status, n_rows, total_sum
          FROM maintained
          UNION ALL
          SELECT '3_match', 'mismatches', n, cast(0.0 as double)
          FROM mism) u
        ORDER BY leg, status""")),

    // ------------------------------------------------------------------
    // COMMIT-LOG read (DESCRIBE HISTORY): the versioned catalog's
    // metadata surface — per version, the synthetic commit timestamp
    // (q104's deterministic clock), the operation kind the store
    // recorded (create / append / replace for group-based rewrites /
    // delta for merge-on-read), and the snapshot's row count. The
    // history is versions-scale DRIVER metadata (the class of read
    // DESCRIBE HISTORY is — KB against a 100 TB table); the oracle
    // re-derives every field from the known commit sequence. Runs the
    // same commits through BOTH catalogs so the kind column proves
    // the copy-on-write vs merge-on-read postures are distinguishable
    // from the log alone.
    // ------------------------------------------------------------------
    "q109_table_history" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        s.conf.set("spark.sql.catalog.graftdelta",
          "graft.sources.MemDeltaCatalog")
        val sfx = new java.io.File(d).getName
          .replaceAll("[^A-Za-z0-9_]", "_")
        def runCommits(catalog: String, name: String): Unit = {
          val tbl = s"$catalog.ns.$name"
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          s.sql(s"CREATE TABLE $tbl " +
            "(o_orderkey BIGINT NOT NULL, status STRING)")
          t(s, d, "orders").filter(expr("o_orderkey % 3 = 0"))
            .selectExpr("o_orderkey", "'seed' AS status")
            .writeTo(tbl).append()
          t(s, d, "orders").filter(expr("o_orderkey % 2 = 0"))
            .selectExpr("o_orderkey", "'merged' AS status")
            .createOrReplaceTempView(s"q109_src_$name")
          s.sql(s"""MERGE INTO $tbl t USING q109_src_$name s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.o_orderkey % 30 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET status = s.status
            WHEN NOT MATCHED THEN
              INSERT (o_orderkey, status)
              VALUES (s.o_orderkey, s.status)""")
        }
        runCommits("graftmem", s"hist_cow_$sfx")
        runCommits("graftdelta", s"hist_mor_$sfx")
        def history(catalog: String, name: String,
            label: String): DataFrame = {
          val st = graft.sources.MemTableStore
            .lookup(catalog, "ns", name)
            .getOrElse(sys.error(s"no history for $catalog.ns.$name"))
          import s.implicits._
          st.history.indices.map { v =>
            // rowCounts, not history(v).length: the metadata row count
            // survives snapshot expiry (q110's retention)
            (label, v, st.kinds(v), st.rowCounts(v))
          }.toDF("posture", "version", "operation", "n_rows")
        }
        history("graftmem", s"hist_cow_$sfx", "cow")
          .unionByName(history("graftdelta", s"hist_mor_$sfx", "mor"))
          .withColumn("commit_ts", expr(
            s"timestamp_seconds(${graft.sources.MemTableStore
              .SyntheticEpochSeconds} + version)"))
          .select(col("posture"), col("version"), col("commit_ts"),
            col("operation"), col("n_rows"))
          .orderBy(col("posture"), col("version"))
      },
      Some("""WITH n1 AS (
          SELECT cast(count(*) as bigint) AS c FROM orders
          WHERE o_orderkey % 3 = 0),
        n2 AS (
          SELECT cast(count(*) as bigint) AS c FROM orders
          WHERE (o_orderkey % 3 = 0 OR o_orderkey % 2 = 0)
            AND o_orderkey % 30 <> 0),
        hist AS (
          SELECT 'cow' AS posture, cast(0 as int) AS version,
            'create' AS operation, cast(0 as bigint) AS n_rows
          UNION ALL
          SELECT 'cow', 1, 'append', (SELECT c FROM n1)
          UNION ALL
          SELECT 'cow', 2, 'replace', (SELECT c FROM n2)
          UNION ALL
          SELECT 'mor', 0, 'create', 0
          UNION ALL
          SELECT 'mor', 1, 'append', (SELECT c FROM n1)
          UNION ALL
          SELECT 'mor', 2, 'delta', (SELECT c FROM n2))
        SELECT posture, version,
          cast(TIMESTAMP '2000-01-01 00:00:00' +
            to_seconds(version) as timestamp) AS commit_ts,
          operation, n_rows
        FROM hist
        ORDER BY posture, version""")),

    // ------------------------------------------------------------------
    // q110: OPTIMIZE (small-file compaction) + snapshot expiry — the
    // lakehouse maintenance rung after q101-q109 (VERDICT r15 #4).
    // Twelve bucket-ordered single-file appends accrete a small-file
    // table (one data file per non-empty writer task, the way parquet
    // appends accrete); MemMaintenance.optimize bin-packs the layout
    // to total/4 rows per file WITHOUT touching row content (a new
    // "optimize" commit — time travel across it still works), and
    // expireSnapshots(keepLast=3) drops the old snapshots' data while
    // the commit-log metadata (kind / row count / file count) stays
    // consistent (q109's history contract survives retention). The
    // census proves all of it: per-version history with expiry flags,
    // the packed head layout file by file, a read-back aggregate
    // through the catalog scan (row invariance across compaction +
    // expiry), and the head scan's partition count — which equals the
    // packed file count because head reads plan one InputPartition
    // per file, exactly why small files hurt and OPTIMIZE pays at
    // 100 TB. The oracle re-derives every row from `documents` plus
    // the deterministic greedy pack (a 12-row recursive CTE).
    // PlanGateSpec pins the failure mode: VERSION AS OF an expired
    // snapshot errors cleanly instead of reading freed data.
    // ------------------------------------------------------------------
    "q110_optimize_expire" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val sfx = new java.io.File(d).getName
          .replaceAll("[^A-Za-z0-9_]", "_")
        val name = s"opt_$sfx"
        val tbl = s"graftmem.ns.$name"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl (doc_id BIGINT NOT NULL, nchars BIGINT)")
        val docsB = t(s, d, "documents").select(col("doc_id"),
          length(col("text")).cast("long").as("nchars"),
          expr("least(cast(length(text) as bigint) div 200, 11)")
            .as("bucket"))
        // bucket-ordered appends; coalesce(1) makes each commit ONE
        // writer task = ONE data file (empty buckets commit a version
        // with no file — the metadata row still appears)
        (0 until 12).foreach { bkt =>
          docsB.filter(col("bucket") === bkt.toLong)
            .select("doc_id", "nchars")
            .coalesce(1).writeTo(tbl).append()
        }
        val store = graft.sources.MemTableStore
        val pre = store.lookup("graftmem", "ns", name).get
        val tgt = math.max((pre.rowCounts.last / 4L).toInt, 1)
        graft.sources.MemMaintenance.optimize("graftmem", "ns", name, tgt)
        graft.sources.MemMaintenance
          .expireSnapshots("graftmem", "ns", name, keepLast = 3)
        val st = store.lookup("graftmem", "ns", name).get
        val hist = st.history.indices.map { v =>
          ("history", v.toLong, st.kinds(v), st.rowCounts(v),
            st.fileSizes(v).length.toLong,
            if (v < st.expiredBelow) 1L else 0L, 0L)
        }
        val headFiles = st.fileSizes.last.zipWithIndex.map {
          case (sz, i) =>
            ("head_file", i.toLong, "file", sz.toLong, 1L, 0L, 0L)
        }
        val rb = s.table(tbl)
          .agg(count(lit(1)).cast("long").as("c"),
            coalesce(sum(col("nchars")), lit(0L)).cast("long").as("sc"))
          .head()
        val nParts = s.table(tbl).rdd.getNumPartitions.toLong
        val extra = Seq(
          ("readback", 0L, "agg", rb.getLong(0),
            headFiles.length.toLong, 0L, rb.getLong(1)),
          ("scan_parts", 0L, "plan", nParts,
            headFiles.length.toLong, 0L, 0L))
        import s.implicits._
        (hist ++ headFiles ++ extra)
          .toDF("kind", "seq", "op", "n_rows", "n_files", "expired",
            "sum_chars")
          .orderBy(col("kind"), col("seq"))
      },
      Some("""WITH RECURSIVE b AS (
          SELECT least(length(text) // 200, 11) AS bucket,
            cast(count(*) as bigint) AS n,
            cast(sum(length(text)) as bigint) AS chars
          FROM documents GROUP BY 1),
        buckets AS (
          SELECT g.bucket, coalesce(b.n, 0) AS n
          FROM (SELECT * FROM generate_series(0, 11) t(bucket)) g
          LEFT JOIN b USING (bucket)),
        total AS (
          SELECT cast(sum(n) as bigint) AS t,
            greatest(cast(sum(n) // 4 as bigint), 1) AS tgt
          FROM buckets),
        files AS (
          SELECT row_number() OVER (ORDER BY bucket) AS rn, n
          FROM buckets WHERE n > 0),
        nf AS (SELECT cast(count(*) as bigint) AS k FROM files),
        walk(rn, acc, closed) AS (
          SELECT cast(0 as bigint), cast(0 as bigint),
            cast(NULL as bigint)
          UNION ALL
          SELECT f.rn,
            CASE WHEN w.acc + f.n >= (SELECT tgt FROM total)
              THEN 0 ELSE w.acc + f.n END,
            CASE WHEN w.acc + f.n >= (SELECT tgt FROM total)
              THEN w.acc + f.n ELSE NULL END
          FROM walk w JOIN files f ON f.rn = w.rn + 1),
        closed_bins AS (
          SELECT row_number() OVER (ORDER BY rn) - 1 AS seq,
            closed AS sz
          FROM walk WHERE closed IS NOT NULL),
        packed AS (
          SELECT seq, sz FROM closed_bins
          UNION ALL
          SELECT (SELECT count(*) FROM closed_bins), acc
          FROM walk WHERE rn = (SELECT k FROM nf) AND acc > 0),
        np AS (SELECT cast(count(*) as bigint) AS hf FROM packed),
        hist AS (
          SELECT cast(v as bigint) AS seq,
            CASE WHEN v = 0 THEN 'create'
              WHEN v <= 12 THEN 'append' ELSE 'optimize' END AS op,
            CASE WHEN v = 0 THEN 0
              WHEN v <= 12 THEN (SELECT coalesce(sum(n), 0)
                FROM buckets WHERE bucket <= v - 1)
              ELSE (SELECT t FROM total) END AS n_rows,
            CASE WHEN v = 0 THEN 0
              WHEN v <= 12 THEN (SELECT count(*) FROM buckets
                WHERE bucket <= v - 1 AND n > 0)
              ELSE (SELECT hf FROM np) END AS n_files,
            CASE WHEN v < 11 THEN 1 ELSE 0 END AS expired
          FROM generate_series(0, 13) s(v))
        SELECT kind, seq, op, n_rows, n_files, expired, sum_chars
        FROM (
          SELECT 'history' AS kind, seq, op,
            cast(n_rows as bigint) AS n_rows,
            cast(n_files as bigint) AS n_files,
            cast(expired as bigint) AS expired,
            cast(0 as bigint) AS sum_chars
          FROM hist
          UNION ALL
          SELECT 'head_file', cast(seq as bigint), 'file',
            cast(sz as bigint), 1, 0, 0
          FROM packed
          UNION ALL
          SELECT 'readback', 0, 'agg', (SELECT t FROM total),
            (SELECT hf FROM np), 0,
            (SELECT cast(coalesce(sum(chars), 0) as bigint) FROM b)
          UNION ALL
          SELECT 'scan_parts', 0, 'plan', (SELECT hf FROM np),
            (SELECT hf FROM np), 0, 0)
        ORDER BY kind, seq""")),

    // ------------------------------------------------------------------
    // q111: zone-map FILE SKIPPING — the data-skipping rung that makes
    // q110's file layout pay at read time. Commits record each file's
    // (min, max) of the leading bigint column (parquet footer stats,
    // re-expressed); the DSv2 scan folds pushed range/equality filters
    // into one [lo, hi] window and PRUNES whole files that cannot
    // intersect it, while returning every filter as residual so Spark
    // still applies them row-by-row — pruning is performance, never
    // correctness. Eight key-range appends give disjoint per-file zone
    // maps (a clustered write); the probe window covers ~1.5 buckets,
    // so the filtered scan plans 2 of 8 partitions — at 100 TB this is
    // the difference between touching 2 files and 8. The census pins
    // total/pruned partition counts AND the filtered aggregate, which
    // the oracle re-derives from orders (per-bucket min/max intersect
    // arithmetic — the same decision the scan makes).
    // ------------------------------------------------------------------
    "q111_zone_map_skipping" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val sfx = new java.io.File(d).getName
          .replaceAll("[^A-Za-z0-9_]", "_")
        val name = s"zmap_$sfx"
        val tbl = s"graftmem.ns.$name"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(o_orderkey BIGINT NOT NULL, o_total BIGINT)")
        val ord = t(s, d, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("o_total"))
        val mx = ord.agg(max(col("o_orderkey"))).head().getLong(0)
        val k = mx / 8 + 1
        // key-range appends in bucket order: each commit is one file
        // whose zone map spans exactly its bucket's key range
        (0 until 8).foreach { b =>
          ord.filter(col("o_orderkey") >= b * k &&
              col("o_orderkey") < (b + 1) * k)
            .coalesce(1).writeTo(tbl).append()
        }
        val lo = 3 * k
        val hi = 4 * k + k / 2
        val filtered = s.table(tbl)
          .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        val scanAll = s.table(tbl).rdd.getNumPartitions.toLong
        val scanPruned = filtered.rdd.getNumPartitions.toLong
        val st = graft.sources.MemTableStore
          .lookup("graftmem", "ns", name).get
        val agg = filtered
          .agg(count(lit(1)).cast("long").as("c"),
            coalesce(sum(col("o_total")), lit(0L)).cast("long").as("t"))
          .head()
        import s.implicits._
        Seq(
          ("files_total", st.fileSizes.last.length.toLong,
            st.rowCounts.last),
          ("probe_agg", agg.getLong(0), agg.getLong(1)),
          ("scan_partitions", scanAll, scanPruned))
          .toDF("kind", "n1", "n2")
          .orderBy(col("kind"))
      },
      Some("""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        kk AS (SELECT m // 8 + 1 AS k FROM mx),
        b AS (
          SELECT o_orderkey // (SELECT k FROM kk) AS bucket,
            cast(count(*) as bigint) AS n,
            min(o_orderkey) AS mn, max(o_orderkey) AS mxk
          FROM orders GROUP BY 1),
        win AS (
          SELECT 3 * (SELECT k FROM kk) AS lo,
            4 * (SELECT k FROM kk) + (SELECT k FROM kk) // 2 AS hi),
        probe AS (
          SELECT cast(count(*) as bigint) AS c,
            cast(coalesce(sum(cast(floor(o_totalprice) as bigint)), 0)
              as bigint) AS t
          FROM orders, win WHERE o_orderkey >= lo AND o_orderkey <= hi)
        SELECT kind, n1, n2 FROM (
          SELECT 'files_total' AS kind,
            (SELECT cast(count(*) as bigint) FROM b) AS n1,
            (SELECT cast(sum(n) as bigint) FROM b) AS n2
          UNION ALL
          SELECT 'probe_agg', (SELECT c FROM probe), (SELECT t FROM probe)
          UNION ALL
          SELECT 'scan_partitions',
            (SELECT cast(count(*) as bigint) FROM b),
            (SELECT cast(count(*) as bigint) FROM b, win
             WHERE mxk >= lo AND mn <= hi))
        ORDER BY kind""")),

    // ------------------------------------------------------------------
    // q112: METADATA-ONLY aggregates — the stats rung above q111's
    // file skipping. A global count(*)/count(k)/min(k)/max(k) over
    // the mem table is answered ENTIRELY from the commit's per-file
    // stats via DSv2 complete aggregate pushdown (SupportsPushDown
    // Aggregates): one partition, one row, zero data read — at 100 TB
    // this is a footer read instead of a full pass, exactly what
    // Iceberg/parquet metadata queries do. Spark only attempts the
    // pushdown when no post-scan filters remain, and this source
    // keeps every filter residual, so a filtered aggregate can never
    // be served stale. The after-delete leg proves the stats FOLLOW
    // row-level writes: a DELETE rewrites the table (group-based
    // replace), the commit recomputes file stats, and the metadata
    // answers move with it (min jumps past the deleted range).
    // PlanGateSpec pins the plan: MemAggScan(metadata-only) for the
    // global aggregate, a real row scan for grouped/filtered shapes.
    // ------------------------------------------------------------------
    "q112_metadata_agg" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val sfx = new java.io.File(d).getName
          .replaceAll("[^A-Za-z0-9_]", "_")
        val name = s"magg_$sfx"
        val tbl = s"graftmem.ns.$name"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(o_orderkey BIGINT NOT NULL, o_total BIGINT)")
        val ord = t(s, d, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("o_total"))
        val mx = ord.agg(max(col("o_orderkey"))).head().getLong(0)
        val k = mx / 8 + 1
        (0 until 8).foreach { b =>
          ord.filter(col("o_orderkey") >= b * k &&
              col("o_orderkey") < (b + 1) * k)
            .coalesce(1).writeTo(tbl).append()
        }
        def mdAgg(): org.apache.spark.sql.Row =
          s.sql(s"SELECT count(*) AS c, min(o_orderkey) AS mn, " +
            s"max(o_orderkey) AS mxk FROM $tbl").head()
        val r1 = mdAgg()
        val st = graft.sources.MemTableStore
          .lookup("graftmem", "ns", name).get
        val filesBefore = st.fileSizes.last.length.toLong
        val rowsBefore = st.rowCounts.last
        // the correction: drop the two lowest key buckets; the
        // group-based replace recommits and the stats move with it
        s.sql(s"DELETE FROM $tbl WHERE o_orderkey < ${2 * k}")
        val r2 = mdAgg()
        import s.implicits._
        Seq(
          ("a_before", r1.getLong(0), r1.getLong(1), r1.getLong(2)),
          ("b_files", filesBefore, rowsBefore, 0L),
          ("c_after_delete", r2.getLong(0), r2.getLong(1),
            r2.getLong(2)))
          .toDF("kind", "c1", "c2", "c3")
          .orderBy(col("kind"))
      },
      Some("""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        kk AS (SELECT m // 8 + 1 AS k FROM mx),
        b AS (
          SELECT o_orderkey // (SELECT k FROM kk) AS bucket,
            count(*) AS n
          FROM orders GROUP BY 1),
        a AS (
          SELECT cast(count(*) as bigint) AS c,
            cast(min(o_orderkey) as bigint) AS mn,
            cast(max(o_orderkey) as bigint) AS mxk
          FROM orders),
        cdel AS (
          SELECT cast(count(*) as bigint) AS c,
            cast(min(o_orderkey) as bigint) AS mn,
            cast(max(o_orderkey) as bigint) AS mxk
          FROM orders WHERE o_orderkey >= 2 * (SELECT k FROM kk))
        SELECT kind, c1, c2, c3 FROM (
          SELECT 'a_before' AS kind, c AS c1, mn AS c2, mxk AS c3 FROM a
          UNION ALL
          SELECT 'b_files',
            (SELECT cast(count(*) as bigint) FROM b),
            (SELECT cast(sum(n) as bigint) FROM b),
            cast(0 as bigint)
          UNION ALL
          SELECT 'c_after_delete', c, mn, mxk FROM cdel)
        ORDER BY kind""")),

    // ------------------------------------------------------------------
    // q113: RUNTIME file pruning from join keys — Iceberg's
    // SupportsRuntimeFiltering mechanism on the mem catalog, the
    // dynamic sibling of q111's static zone maps. The dimension side
    // of a broadcast join executes FIRST; Spark hands its (filtered)
    // join keys to the fact scan as an In filter, and files whose
    // (min, max) range contains none of them are dropped at EXECUTION
    // time — pruning that planning could never do because the key set
    // only exists after the dim filter runs. At 100 TB this is the
    // star-join pattern: a selective dim predicate prunes fact files
    // without any fact-side predicate. The dim carries DECOY rows in
    // other key ranges behind flag=0, so the pruned file count proves
    // the runtime filter reflects the FILTERED build side, not the
    // whole dim. Observed via driver-side scan-planning telemetry
    // (planInputPartitions runs on the driver — exact, not inferred);
    // correctness is join-verified against the oracle as always.
    // ------------------------------------------------------------------
    "q113_runtime_file_pruning" -> Q(
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem",
          "graft.sources.MemCatalog")
        val sfx = new java.io.File(d).getName
          .replaceAll("[^A-Za-z0-9_]", "_")
        val name = s"rf_$sfx"
        val tbl = s"graftmem.ns.$name"
        val dimName = s"rfdim_$sfx"
        val dimTbl = s"graftmem.ns.$dimName"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"DROP TABLE IF EXISTS $dimTbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(o_orderkey BIGINT NOT NULL, o_total BIGINT)")
        s.sql(s"CREATE TABLE $dimTbl (k BIGINT NOT NULL, flag BIGINT)")
        val ord = t(s, d, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("o_total"))
        val mx = ord.agg(max(col("o_orderkey"))).head().getLong(0)
        val k = mx / 8 + 1
        (0 until 8).foreach { b =>
          ord.filter(col("o_orderkey") >= b * k &&
              col("o_orderkey") < (b + 1) * k)
            .coalesce(1).writeTo(tbl).append()
        }
        // dim: sparse keys in buckets 3 and 5 (flag 1 — the real
        // build side) plus decoys in buckets 0 and 7 (flag 0)
        val dimDf = ord
          .filter(expr(s"o_orderkey div $k").isin(3L, 5L) &&
            col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey").as("k"), lit(1L).as("flag"))
          .unionByName(ord
            .filter(expr(s"o_orderkey div $k").isin(0L, 7L) &&
              col("o_orderkey") % 97 === 0)
            .select(col("o_orderkey").as("k"), lit(0L).as("flag")))
        dimDf.coalesce(1).writeTo(dimTbl).append()
        val joined = s.sql(
          s"""SELECT /*+ BROADCAST(d) */ f.o_total
             FROM $tbl f JOIN $dimTbl d ON f.o_orderkey = d.k
             WHERE d.flag = 1""")
        val agg = joined
          .agg(count(lit(1)).cast("long").as("c"),
            coalesce(sum(col("o_total")), lit(0L)).cast("long").as("t"))
          .head()
        val (filesTotal, filesPlanned) = graft.sources.MemScanTelemetry
          .lastScan("graftmem", "ns", name)
          .getOrElse(sys.error(s"no scan telemetry for $name"))
        val st = graft.sources.MemTableStore
          .lookup("graftmem", "ns", dimName).get
        import s.implicits._
        Seq(
          ("a_join", agg.getLong(0), agg.getLong(1)),
          ("b_files", filesTotal.toLong, filesPlanned.toLong),
          ("c_dim", st.rowCounts.last, 0L))
          .toDF("kind", "n1", "n2")
          .orderBy(col("kind"))
      },
      Some("""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        kk AS (SELECT m // 8 + 1 AS k FROM mx),
        b AS (
          SELECT o_orderkey // (SELECT k FROM kk) AS bucket,
            count(*) AS n
          FROM orders GROUP BY 1),
        dimk AS (
          SELECT o_orderkey AS kkey,
            CASE WHEN o_orderkey // (SELECT k FROM kk) IN (3, 5)
              THEN 1 ELSE 0 END AS flag
          FROM orders
          WHERE o_orderkey // (SELECT k FROM kk) IN (0, 3, 5, 7)
            AND o_orderkey % 97 = 0),
        j AS (
          SELECT cast(count(*) as bigint) AS c,
            cast(coalesce(sum(cast(floor(o_totalprice) as bigint)), 0)
              as bigint) AS s
          FROM orders JOIN dimk ON o_orderkey = kkey AND flag = 1),
        pb AS (
          SELECT cast(count(DISTINCT kkey // (SELECT k FROM kk))
              as bigint) AS nb
          FROM dimk WHERE flag = 1)
        SELECT kind, n1, n2 FROM (
          SELECT 'a_join' AS kind, c AS n1, s AS n2 FROM j
          UNION ALL
          SELECT 'b_files',
            (SELECT cast(count(*) as bigint) FROM b),
            (SELECT nb FROM pb)
          UNION ALL
          SELECT 'c_dim',
            (SELECT cast(count(*) as bigint) FROM dimk),
            cast(0 as bigint))
        ORDER BY kind""")),

    // ------------------------------------------------------------------
    // q99: the NOT IN null trap as a first-class semantics matrix —
    // one shared ANSI text (q86's convention). Against a probe set
    // whose key column contains NULLs, the four anti-membership
    // spellings give THREE different answers: NOT IN returns ZERO
    // rows (x <> NULL is UNKNOWN, so no row ever satisfies the
    // predicate — the classic silent-data-loss bug at any scale),
    // NOT EXISTS gives the true anti count, EXCEPT gives the distinct
    // set difference, and NOT IN over the null-filtered probe — the
    // fix — matches NOT EXISTS. Both engines agree on every leg,
    // which is the point: this is ANSI semantics, not an engine
    // quirk.
    // ------------------------------------------------------------------
    "q99_not_in_null_matrix" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        t(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(NotInNullText)
      },
      Some(NotInNullText)),

    "q98_k_anonymity" -> Q(
      (s, d) => {
        val classes = t(s, d, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).as("bal_k"),
            col("c_acctbal"))
          .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_k"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("c_acctbal")).as("l"))
        classes.groupBy(col("c_nationkey"))
          .agg(sum(col("n")).as("n_rows"),
            count(lit(1)).as("n_classes"),
            min(col("n")).as("k_min"),
            sum(when(col("n") < 5, col("n")).otherwise(0L))
              .as("rows_at_risk"),
            min(col("l")).as("l_min"))
          .orderBy(col("c_nationkey"))
      },
      Some("""WITH classes AS (
          SELECT c_nationkey, c_mktsegment,
            floor(c_acctbal / 1000) AS bal_k,
            cast(count(*) as bigint) AS n,
            cast(count(distinct c_acctbal) as bigint) AS l
          FROM customer GROUP BY 1, 2, 3)
        SELECT c_nationkey,
          cast(sum(n) as bigint) AS n_rows,
          cast(count(*) as bigint) AS n_classes,
          min(n) AS k_min,
          cast(sum(CASE WHEN n < 5 THEN n ELSE 0 END) as bigint)
            AS rows_at_risk,
          min(l) AS l_min
        FROM classes GROUP BY 1
        ORDER BY c_nationkey"""))
  )

  /** q92's body: `observe` metrics collected DURING the real query's
    * single pass (a CollectMetrics plan node over the scan) must
    * equal their after-the-fact recomputation — the oracle recomputes
    * both the answer and the metrics from SQL. The observation read
    * and the 4-row answer collect are driver-side metadata (the
    * pipeline-observability contract: no second scan, no data-scale
    * driver transfer).
    */
  private def observeMetricsQuery(s: SparkSession, d: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation("q92_metrics")
    // max_ship as a formatted string: the raw metric value arrives as
    // whatever JVM object the column's type maps to (LocalDateTime
    // for the µs-NTZ l_shipdate) — formatting inside the metric keeps
    // the observation API's driver-side value engine-portable
    val base = t(s, d, "lineitem").observe(obs,
      count(lit(1)).as("n_rows"),
      sum(col("l_orderkey")).as("key_sum"),
      date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
    val answer = base.filter(col("l_quantity") >= 25)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_heavy"))
    val collected = answer.orderBy(col("l_returnflag")).collect()
    import s.implicits._
    val m = obs.get // 1-row metrics map, filled by the pass above
    val metrics = Seq((m("n_rows").asInstanceOf[Long],
      m("key_sum").asInstanceOf[Long],
      m("max_ship").asInstanceOf[String]))
      .toDF("n_rows", "key_sum", "max_ship")
    val ans = s.createDataFrame(
      s.sparkContext.parallelize(collected.toIndexedSeq, 1),
      answer.schema)
    ans.crossJoin(broadcast(metrics))
      .orderBy(col("l_returnflag"))
  }

  /** q90/q91's shared event-JSON synthesis: the extracted `k` and the
    * heterogeneous per-event document (nested object, variable-length
    * tags array, optional `maybe` field on k%3==0) — byte-identical
    * to [[eventDocOracleCtes]]'s DuckDB construction.
    */
  private def eventJsonK: Column =
    get_json_object(col("props"), "$.k").cast("long")

  private def eventJsonDoc: Column = {
    val k = eventJsonK
    concat(
      lit("{\"k\":"), k,
      lit(",\"et\":\""), col("event_type"),
      lit("\",\"nested\":{\"uid\":"), col("user_id"),
      lit(",\"mod\":"), pmod(col("user_id"), lit(7L)),
      lit("},\"tags\":["),
      concat_ws(",", transform(
        sequence(lit(1), (pmod(col("user_id"), lit(3L)) + 1).cast("int")),
        i => concat(lit("\"t"), i, lit("\"")))),
      lit("]"),
      when(pmod(k, lit(3L)) === 0, concat(lit(",\"maybe\":"), k))
        .otherwise(lit("")),
      lit("}"))
  }

  /** DuckDB twin of [[eventJsonDoc]]: CTEs `e` (with k) and `doc`
    * (with k and the JSON string `j`); `where` filters e (e.g.
    * "WHERE k >= 10" for q90, "" for q91).
    */
  private def eventDocOracleCtes(where: String): String =
    s"""WITH e AS (
          SELECT event_type, user_id,
            cast(json_extract_string(props, '$$.k') as bigint) AS k
          FROM events),
        doc AS (
          SELECT k, '{"k":' || k || ',"et":"' || event_type ||
            '","nested":{"uid":' || user_id ||
            ',"mod":' || (user_id % 7) || '},"tags":[' ||
            array_to_string(list_transform(range(1, user_id % 3 + 2),
              i -> '"t' || i || '"'), ',') || ']' ||
            CASE WHEN k % 3 = 0 THEN ',"maybe":' || k ELSE '' END ||
            '}' AS j
          FROM e $where)"""

  /** q87's shared text — the SAME string runs in Spark and DuckDB. */
  private val LateralChainSql: String =
    """SELECT n.n_name, st.n_cust, st.max_bal,
        top.c_name, top.c_acctbal
      FROM nation n,
      LATERAL (
        SELECT cast(count(*) as bigint) AS n_cust,
          max(c_acctbal) AS max_bal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey) st,
      LATERAL (
        SELECT c_name, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
          AND c.c_acctbal > st.max_bal * 0.9
        ORDER BY c_acctbal DESC, c_name
        LIMIT 1) top
      ORDER BY n.n_name"""

  /** q86's shared text — the SAME string runs in Spark and DuckDB. */
  /** q97's shared text — the SAME string runs in Spark and DuckDB.
    * Integer-over-integer `/` is FLOAT division in both engines (the
    * operands are exact ints < 2^53, so the double results are
    * bit-identical). The lateral-alias chain lives in the OUTER
    * projection: Spark does not (yet) allow a lateral column alias
    * inside a GROUP BY ALL aggregate
    * (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_GROUP_BY — probed),
    * while both engines accept the chain over a grouped subquery.
    */
  private val SqlSugarText: String =
    """SELECT l_returnflag, l_linestatus, n, n_heavy,
        n_heavy * 1000 / n AS heavy_milli,
        heavy_milli / 10 AS heavy_pct
      FROM (
        SELECT l_returnflag, l_linestatus,
          cast(count(*) AS bigint) AS n,
          cast(count(*) FILTER (WHERE l_quantity >= 25) AS bigint)
            AS n_heavy
        FROM lineitem
        GROUP BY ALL)
      ORDER BY ALL"""

  /** q99's shared text — the SAME string runs in Spark and DuckDB. */
  private val NotInNullText: String =
    """WITH probe AS (
        SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
          ELSE o_custkey END AS ck
        FROM orders WHERE o_orderkey % 40 < 3)
      SELECT
        (SELECT cast(count(*) as bigint) FROM customer
          WHERE c_custkey NOT IN (SELECT ck FROM probe))
          AS not_in_rows,
        (SELECT cast(count(*) as bigint) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM probe p
            WHERE p.ck = c.c_custkey))
          AS not_exists_rows,
        (SELECT cast(count(*) as bigint) FROM
          (SELECT c_custkey FROM customer
           EXCEPT SELECT ck FROM probe))
          AS except_rows,
        (SELECT cast(count(*) as bigint) FROM customer
          WHERE c_custkey NOT IN
            (SELECT ck FROM probe WHERE ck IS NOT NULL))
          AS not_in_fixed_rows"""

  private val CommonSql: String =
    """WITH ranked AS (
        SELECT o_orderpriority AS pri, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      SELECT pri, count(*) AS n,
        min(o_totalprice) AS min_top, max(o_totalprice) AS max_top,
        min(o_orderkey) AS first_key
      FROM ranked WHERE rn <= 100
      GROUP BY pri
      ORDER BY pri"""

  /** q65's body: bloom-filter runtime pruning ahead of an exact semi
    * join (the bloom is pure pruning, never semantics — false
    * positives are removed by the semi join, so correctness never
    * depends on the internal API below).
    *
    * PINNED Catalyst-internal coupling: `BloomFilterAggregate` /
    * `BloomFilterMightContain` constructor shapes are as of Spark
    * 4.1 (verified against /opt/spark/jars); they are private API and
    * free to change across minor versions. Two explicit escape
    * hatches, both yielding the identical result via the exact semi
    * join alone:
    *   - construction throws (LinkageError family after an upgrade,
    *     or any analysis error) → skip the bloom;
    *   - the dim side is EMPTY → the aggregate returns a null bloom,
    *     and `might_contain(null, x)` is a null predicate (row-drop
    *     by accident, not by design) → skip the bloom explicitly.
    *
    * The bloom build is a driver-side job at plan-BUILD time: Bench
    * timings for q65 include it by design (it is part of the query's
    * cost, exactly like a broadcast build).
    */
  private[graft] def bloomSemiPrune(s: SparkSession, d: String,
      priority: String): DataFrame = {
    val dim = t(s, d, "orders")
      .filter(col("o_orderpriority") === priority)
    val li = t(s, d, "lineitem")
    val pruned =
      try {
        import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        val bf = dim.select(toCol(
          new BloomFilterAggregate(toExpr(xxhash64(col("o_orderkey"))),
            CatLit(200000L)).toAggregateExpression()).as("bf"))
          .head().getAs[Array[Byte]](0)
        if (bf == null) li // empty dim → no bloom, semi join only
        else li.filter(toCol(BloomFilterMightContain(
          CatLit.create(bf, org.apache.spark.sql.types.BinaryType),
          toExpr(xxhash64(col("l_orderkey"))))))
      } catch {
        case _: LinkageError => li // Spark upgrade moved the internals
      }
    pruned
      .join(dim.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private def roundtripAgg(s: SparkSession, d: String,
      fmt: String): DataFrame = {
    val src = t(s, d, "orders")
    val path = indexPath(s, d, s"rt-$fmt")
    src.write.mode("overwrite").format(fmt)
      .option("header", "true").option("timestampFormat", tsFmt)
      .save(path)
    s.read.format(fmt).schema(src.schema)
      .option("header", "true").option("timestampFormat", tsFmt)
      .load(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        max(col("o_orderdate")).as("last_date"))
      .orderBy(col("o_orderstatus"))
  }

  private val roundtripOracle: String =
    s"""SELECT o_orderstatus, count(*) AS n,
      ${sqlDsum("o_totalprice")} AS total,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      max(o_orderdate) AS last_date
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
}
