package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wave-3 inventory: multi-join analytical shapes, the full window-
  * function surface, statistical/positional aggregates, pivot, range
  * join, and datetime/string/conditional scalar families — the rest of
  * what "a user of the reference could run" via Spark SQL ([EXT],
  * SURVEY §2.4 A9 note: declared because implemented).
  */
object ExtendedQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  def defs: Seq[(String, QueryDef)] = Seq(

    // ---- Q3-style shipping priority: 3-way join, grouped revenue, top-10.
    // customer filter broadcast; fact-fact join shuffles on the key; AQE
    // picks broadcast for the pruned orders side at small SF.
    "q3_shipping_priority" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").where($"c_mktsegment" === "BUILDING")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
          .where($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
          .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
          .where($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
          .groupBy($"o_orderkey", $"o_orderdate")
          .agg(Exact.dollars(Exact.sumExact(
            Exact.revenueE4($"l_extendedprice", $"l_discount")), 10000L)
            .as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey".asc)
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_orderdate,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
          / 10000.0 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP)
          AND l_shipdate > CAST('1998-01-01' AS TIMESTAMP)
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""")),

    // ---- Q5-style local supplier volume: 6-table join chain
    "q5_local_supplier" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
          .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
          .join(t(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey" &&
            $"c_nationkey" === $"s_nationkey")
          .join(broadcast(t(s, dir, "nation")),
            $"s_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, dir, "region")),
            $"n_regionkey" === $"r_regionkey")
          .where($"r_name" === "ASIA")
          .groupBy($"n_name")
          .agg(Exact.dollars(Exact.sumExact(
            Exact.revenueE4($"l_extendedprice", $"l_discount")), 10000L)
            .as("revenue"))
      },
      Some("""SELECT n_name,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
          / 10000.0 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name""")),

    // ---- W4 ranking / positional window functions (fully tiebroken)
    "w4_rank_functions" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal".desc, $"c_custkey".asc)
        t(s, dir, "customer")
          .select($"c_mktsegment", $"c_custkey",
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            ntile(4).over(w).as("quartile"),
            lag($"c_custkey", 1).over(w).as("prev_key"),
            lead($"c_custkey", 1).over(w).as("next_key"))
      },
      Some("""SELECT c_mktsegment, c_custkey,
        CAST(rank() OVER w AS INT) AS rnk,
        CAST(dense_rank() OVER w AS INT) AS drnk,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        lag(c_custkey, 1) OVER w AS prev_key,
        lead(c_custkey, 1) OVER w AS next_key
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
          ORDER BY c_acctbal DESC, c_custkey ASC)""")),

    // ---- A11 grouping sets
    "a11_grouping_sets" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupingSets(
            Seq(Seq($"l_returnflag"), Seq($"l_linestatus")),
            $"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("cnt"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")),

    // ---- A12 pivot (conditional aggregation)
    "a12_pivot" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(count(lit(1)))
      },
      Some("""SELECT l_returnflag,
        count(*) FILTER (WHERE l_linestatus = 'F') AS "F",
        count(*) FILTER (WHERE l_linestatus = 'O') AS "O"
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- A13 positional aggregates with deterministic struct tiebreak
    "a13_arg_minmax" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(
            max_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
              .as("biggest_order"),
            min_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
              .as("smallest_order"))
      },
      Some("""SELECT o_orderpriority,
        first(o_orderkey ORDER BY o_totalprice DESC, o_orderkey DESC)
          AS biggest_order,
        first(o_orderkey ORDER BY o_totalprice ASC, o_orderkey ASC)
          AS smallest_order
        FROM orders GROUP BY o_orderpriority""")),

    // ---- A14 sorted list aggregation. Emitted as a joined string, not
    // a raw array: the driver's comparator row-sorts in pandas, which
    // cannot hash numpy arrays — the string form is hash-comparable and
    // loses nothing (element order is pinned by the sort).
    "a14_collect_sorted" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_custkey")
          .agg(array_join(array_sort(collect_list($"o_orderkey")), ",")
            .as("order_keys"))
      },
      Some("""SELECT o_custkey,
        array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys
        FROM orders GROUP BY o_custkey""")),

    // ---- A19 CUBE: all four grouping combinations in one pass (the
    // one grouping-set shape a9/a11 don't cover). Same single-shuffle
    // expand plan as rollup; quantities are integral doubles, so the
    // sum is exact as BIGINT on every engine (the oracle CAST keeps
    // DuckDB's HUGEINT sum out of the compared output).
    "a19_cube" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .cube($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(round($"l_quantity", 0).cast("long")).as("sum_qty"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""")),

    // ---- A20 histogram: fixed-width price binning (10k-wide buckets,
    // clamped top bucket). Closed-form bucket arithmetic — exact double
    // division of 2dp values — so the full histogram is hash-checked.
    "a20_histogram" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val bucket = least(floor($"l_extendedprice" / 10000.0), lit(10.0))
          .cast("int")
        t(s, dir, "lineitem")
          .groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min($"l_extendedprice"), 2).as("lo"),
            round(max($"l_extendedprice"), 2).as("hi"))
      },
      Some("""SELECT CAST(least(floor(l_extendedprice / 10000.0), 10)
          AS INT) AS bucket, count(*) AS n,
          round(min(l_extendedprice), 2) AS lo,
          round(max(l_extendedprice), 2) AS hi
        FROM lineitem GROUP BY 1""")),

    // ---- AQ1 approximate quantiles with a checked error bound: the
    // GK-sketch p50/p90/p99 (accuracy 10000) must sit within ±1% true
    // rank of the exact quantile — the pf2 device: the ORACLE asserts
    // the bound holds (TRUE rows), the sketch internals stay Spark-side.
    // One pass + a tiny broadcast of the three approx values.
    "aq1_approx_quantile" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val approx = li.agg(percentile_approx($"l_extendedprice",
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs"))
        Seq(0.5, 0.9, 0.99).zipWithIndex.map { case (q, i) =>
          val v = element_at(col("qs"), i + 1)
          li.crossJoin(broadcast(approx))
            .agg((abs(sum(($"l_extendedprice" <= v).cast("long"))
              / count(lit(1)).cast("double") - q)
              <= 0.01).as("within_1pct_rank"))
            .select(lit(q).as("q"), $"within_1pct_rank")
        }.reduce(_.unionByName(_))
      },
      Some(Seq(0.5, 0.9, 0.99).map(q =>
        s"SELECT CAST($q AS DOUBLE) AS q, TRUE AS within_1pct_rank")
        .mkString(" UNION ALL "))),

    // ---- Q17-style correlated scalar subquery: lineitems below 20% of
    // their part's average quantity. Spark decorrelates the subquery
    // into an aggregate + join (no per-row re-execution) — assert-able
    // by the absence of a nested-loop in the plan; DuckDB mirrors the
    // correlated form directly.
    "q17_small_quantity" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("q17_lineitem")
        // exact-integer sum, then two IEEE divisions (no terminal
        // round: identical exact inputs ⇒ identical quotient bits);
        // the avg threshold is exact on both engines (integral
        // quantities sum exactly below 2^53, one division), so the
        // window form below computes bit-identical thresholds.
        // Optimization r19 (guide §2.4): Spark decorrelated the
        // scalar subquery into a SECOND scan + aggregate of lineitem
        // joined back on l_partkey (two scans, two exchanges —
        // plans/r19/q17_small_quantity_before.txt); the per-part
        // average is the same value as avg OVER (PARTITION BY
        // l_partkey) — including the probe row on both forms — which
        // establishes the partitioning once: one scan, one exchange,
        // no join. Per-part groups are bounded (lines per part), so
        // the window state is safe at any scale.
        s.sql("""SELECT CAST(sum(CAST(round(l_extendedprice * 100)
              AS BIGINT)) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
          FROM (
            SELECT l_extendedprice, l_quantity,
              avg(l_quantity) OVER (PARTITION BY l_partkey) AS part_avg
            FROM q17_lineitem)
          WHERE l_quantity < 0.2 * part_avg""")
      },
      Some("""SELECT CAST(sum(CAST(round(l1.l_extendedprice * 100)
            AS BIGINT)) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
        FROM lineitem l1
        WHERE l1.l_quantity <
          (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
           WHERE l2.l_partkey = l1.l_partkey)""")),

    // ---- Q6-style forecast revenue: the pure scan+filter+agg probe —
    // at scale this is the query that lives or dies on parquet predicate
    // pushdown (all three filters reach the scan; PlanSpec asserts the
    // PushedFilters shape for this family).
    "q6_forecast_revenue" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
            $"l_discount".between(0.02, 0.06) && $"l_quantity" < 24)
          .agg(Exact.dollars(Exact.sumExact(
            Exact.discountedE4($"l_extendedprice", $"l_discount")), 10000L)
            .as("revenue"))
      },
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
          / 10000.0 AS revenue
        FROM lineitem
        WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
          AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""")),

    // ---- Q10-style returned-item ranking: two fact joins + broadcast
    // dim, grouped revenue, deterministic top-20
    "q10_returned_items" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
          .where($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1996-07-01").cast("timestamp"))
          .join(t(s, dir, "lineitem").where($"l_returnflag" === "R"),
            $"o_orderkey" === $"l_orderkey")
          .join(broadcast(t(s, dir, "nation")),
            $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
          // Exact-integer revenue (graft.functions.Exact): this query
          // is where scale-4 decimal casts first diverged (round 2) and
          // scale-6 casts diverged on the driver (round 3) — integer
          // cents are the only engine-version-proof money form.
          .agg(Exact.dollars(Exact.sumExact(
            Exact.revenueE4($"l_extendedprice", $"l_discount")), 10000L)
            .as("revenue"))
          .orderBy($"revenue".desc, $"c_custkey".asc)
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
          / 10000.0 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND o_orderdate < CAST('1996-07-01' AS TIMESTAMP)
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC LIMIT 20""")),

    // ---- Q12-style priority buckets (adapted: testdata has no
    // l_shipmode/l_receiptdate, so the CASE buckets run on
    // o_orderpriority): fact-fact join + conditional counting
    "q12_priority_buckets" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
          .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
          .groupBy($"l_linestatus")
          .agg(
            sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0L)
              .otherwise(1L)).as("low_line_count"))
      },
      Some("""SELECT l_linestatus,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
        GROUP BY l_linestatus""")),

    // ---- Q14-style promo revenue share: broadcast part join, a
    // conditional/total ratio aggregated in double and rounded ONCE
    // (the a15_stats policy — never per-row decimal casts on ratios)
    "q14_promo_revenue" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .where($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
          .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
          .agg(round(
            lit(100.0) *
              sum(when($"p_type" === "PROMO",
                $"l_extendedprice" * (lit(1.0) - $"l_discount"))
                .otherwise(0.0)) /
              sum($"l_extendedprice" * (lit(1.0) - $"l_discount")),
            4).as("promo_pct"))
      },
      Some("""SELECT round(100.0 *
          sum(CASE WHEN p_type = 'PROMO'
            THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END) /
          sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= CAST('1996-03-01' AS TIMESTAMP)
          AND l_shipdate < CAST('1996-04-01' AS TIMESTAMP)""")),

    // ---- Q19-style disjunctive predicate join (adapted to available
    // columns): three OR-branches over brand/size/quantity — Catalyst
    // extracts the common p_partkey equi-key so this stays a broadcast
    // hash join with the disjunction as a post-join filter, never a
    // nested-loop
    "q19_disjunctive_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val branch1 = $"p_brand" === "Brand#12" &&
          $"p_size".between(1, 5) && $"l_quantity".between(1, 11)
        val branch2 = $"p_brand" === "Brand#23" &&
          $"p_size".between(1, 10) && $"l_quantity".between(10, 20)
        val branch3 = $"p_brand" === "Brand#34" &&
          $"p_size".between(1, 15) && $"l_quantity".between(20, 30)
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
          .where(branch1 || branch2 || branch3)
          .agg(count(lit(1)).as("n_items"),
            Exact.dollars(Exact.sumExact(
              Exact.revenueE4($"l_extendedprice", $"l_discount")), 10000L)
              .as("revenue"))
      },
      Some("""SELECT count(*) AS n_items,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
          / 10000.0 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30)""")),

    // ---- A17 unpivot/melt: wide measure columns to (metric, value)
    // rows — the feature-table melt every training pipeline runs before
    // per-metric aggregation. Narrow op, no shuffle.
    "a17_unpivot" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_quantity",
            $"l_discount", $"l_tax")
          .unpivot(
            ids = Array($"l_orderkey", $"l_linenumber"),
            values = Array($"l_quantity", $"l_discount", $"l_tax"),
            variableColumnName = "metric",
            valueColumnName = "value")
          .where($"l_orderkey" < 1000)
      },
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
          l_quantity AS value FROM lineitem WHERE l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey < 1000""")),

    // ---- A15 statistical aggregates (rounded: stddev/var/corr are
    // order-dependent in doubles at ~1e-10 relative; 4 decimals is far
    // from that noise floor)
    "a15_stats" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            round(stddev_samp($"l_quantity"), 4).as("sd_qty"),
            round(var_samp($"l_quantity"), 4).as("var_qty"),
            round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qe"))
      },
      Some("""SELECT l_returnflag,
        round(stddev_samp(l_quantity), 4) AS sd_qty,
        round(var_samp(l_quantity), 4) AS var_qty,
        round(corr(l_quantity, l_extendedprice), 4) AS corr_qe
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- J5 range join against a broadcast bucket table (non-equi)
    "j5_range_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val buckets = s.createDataFrame(Seq(
          ("small", 0.0, 15.0), ("medium", 15.0, 35.0), ("large", 35.0, 100.0)
        )).toDF("bucket", "lo", "hi")
        t(s, dir, "lineitem")
          .join(broadcast(buckets),
            $"l_quantity" > $"lo" && $"l_quantity" <= $"hi")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("cnt"))
      },
      Some("""WITH buckets(bucket, lo, hi) AS (VALUES
          ('small', 0.0, 15.0), ('medium', 15.0, 35.0), ('large', 35.0, 100.0))
        SELECT bucket, count(*) AS cnt
        FROM lineitem JOIN buckets ON l_quantity > lo AND l_quantity <= hi
        GROUP BY bucket""")),

    // ---- F13 datetime function family
    "f13_datetime" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select($"o_orderkey",
            datediff($"o_orderdate", lit("1995-01-01").cast("timestamp"))
              .as("days_since"),
            date_add($"o_orderdate", 5).as("plus5"),
            last_day($"o_orderdate").as("eom"),
            date_trunc("month", $"o_orderdate").cast("date").as("month_start"),
            dayofweek($"o_orderdate").as("dow"))
      },
      Some("""SELECT o_orderkey,
        CAST(date_diff('day', DATE '1995-01-01', o_orderdate::DATE) AS INT)
          AS days_since,
        (o_orderdate + INTERVAL 5 DAY)::DATE AS plus5,
        last_day(o_orderdate::DATE) AS eom,
        date_trunc('month', o_orderdate)::DATE AS month_start,
        CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        FROM orders""")),

    // ---- F14 string function family
    "f14_strings" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part")
          .select($"p_partkey",
            substring($"p_name", 1, 8).as("sub"),
            regexp_replace($"p_name", "a", "@").as("repl"),
            lpad($"p_brand", 12, "#").as("padded"),
            instr($"p_name", "e").cast("int").as("pos_e"),
            reverse($"p_type").as("rev"),
            levenshtein($"p_brand", lit("Brand#1")).as("lev"))
      },
      Some("""SELECT p_partkey,
        substr(p_name, 1, 8) AS sub,
        regexp_replace(p_name, 'a', '@', 'g') AS repl,
        lpad(p_brand, 12, '#') AS padded,
        CAST(strpos(p_name, 'e') AS INT) AS pos_e,
        reverse(p_type) AS rev,
        CAST(levenshtein(p_brand, 'Brand#1') AS INT) AS lev
        FROM part""")),

    // ---- F15 conditional expressions
    "f15_conditional" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber",
            when($"l_quantity" < 10, "low")
              .when($"l_quantity" < 30, "mid")
              .otherwise("high").as("band"),
            least($"l_discount", $"l_tax").as("min_rate"),
            greatest($"l_discount", $"l_tax").as("max_rate"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
        CASE WHEN l_quantity < 10 THEN 'low'
             WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS band,
        least(l_discount, l_tax) AS min_rate,
        greatest(l_discount, l_tax) AS max_rate
        FROM lineitem""")),

    // ---- W6 exact percentile aggregate
    "w6_percentile" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      },
      Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_quantity, 0.9) AS p90_qty
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- Q7-style nation-pair trade volume: the same broadcast
    // dimension joined TWICE under different aliases (supplier nation ×
    // customer nation), disjunctive pair filter, grouped by year
    "q7_nation_volume" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val n1 = broadcast(t(s, dir, "nation"))
          .select($"n_nationkey".as("n1_key"), $"n_name".as("supp_nation"))
        val n2 = broadcast(t(s, dir, "nation"))
          .select($"n_nationkey".as("n2_key"), $"n_name".as("cust_nation"))
        t(s, dir, "supplier")
          .join(t(s, dir, "lineitem"), $"s_suppkey" === $"l_suppkey")
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(n1, $"s_nationkey" === $"n1_key")
          .join(n2, $"c_nationkey" === $"n2_key")
          .where(($"supp_nation" === "NATION_9" && $"cust_nation" === "NATION_10")
            || ($"supp_nation" === "NATION_10" && $"cust_nation" === "NATION_9"))
          .groupBy($"supp_nation", $"cust_nation",
            year($"l_shipdate").as("l_year"))
          .agg(Exact.dollars(Exact.sumExact(
            Exact.revenueE4($"l_extendedprice", $"l_discount")), 10000L)
            .as("revenue"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l_shipdate) AS INT) AS l_year,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
            / 10000.0 AS revenue
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
           OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9')
        GROUP BY 1, 2, 3""")),

    // ---- Q18-style large orders: aggregate-then-HAVING over the fact
    // table, semi-joined back to the order header, deterministic top-20
    "q18_large_orders" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val big = t(s, dir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(sum($"l_quantity").as("total_qty"))
          .where($"total_qty" > 150)
        t(s, dir, "orders")
          .join(big, $"o_orderkey" === big("l_orderkey"))
          .select($"o_orderkey", $"o_custkey", $"o_totalprice",
            round($"total_qty", 2).as("total_qty"))
          .orderBy($"total_qty".desc, $"o_orderkey".asc)
          .limit(20)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
          round(total_qty, 2) AS total_qty
        FROM orders JOIN (
          SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        ) big ON o_orderkey = big.l_orderkey
        ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""")),

    // ---- H1 SCD2 history build: changelog → effective-dated rows
    // (valid_from = event ts, valid_to = next change's ts, NULL while
    // current) — one window per key, the standard warehouse history
    // shape the reference's SqlUpdatedDate column gestures at. Fully
    // tiebroken (ts, then linenumber) so the oracle hashes exactly.
    "h1_scd2_history" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"l_orderkey")
          .orderBy($"l_shipdate".asc, $"l_linenumber".asc)
        t(s, dir, "lineitem")
          .where($"l_orderkey" < 1000)
          .select($"l_orderkey", $"l_linenumber", $"l_quantity",
            $"l_shipdate".as("valid_from"),
            lead($"l_shipdate", 1).over(w).as("valid_to"),
            (lead($"l_shipdate", 1).over(w).isNull).as("is_current"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
          l_shipdate AS valid_from,
          lead(l_shipdate, 1) OVER w AS valid_to,
          lead(l_shipdate, 1) OVER w IS NULL AS is_current
        FROM lineitem WHERE l_orderkey < 1000
        WINDOW w AS (PARTITION BY l_orderkey
          ORDER BY l_shipdate ASC, l_linenumber ASC)""")),

    // ---- Q13-style customer order distribution: LEFT OUTER join +
    // two-level aggregation (count per customer, then histogram of the
    // counts) — zero-order customers must survive the outer join
    "q13_customer_distribution" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey",
            "left_outer")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("c_count"))
          .groupBy($"c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy($"custdist".desc, $"c_count".desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey) t
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---- Q15-style top supplier: grouped revenue CTE + scalar-subquery
    // max (every supplier achieving the maximum — ties kept, so the
    // result is deterministic without a tiebreak)
    "q15_top_supplier" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // the max-equality runs on the exact integer rev_e4 (ties kept
        // exactly on any engine); only the final projection rescales.
        // Optimization r19 (guide §2.4/§3): the SQL scalar-subquery
        // form planned `rev` TWICE — a separate subquery plan
        // re-scanned and re-aggregated lineitem (two AdaptiveSparkPlan
        // roots in plans/r19/q15_top_supplier_before.txt). Here both
        // consumers of `rev` live in ONE plan, the max is a broadcast
        // one-row cross join (distributed partial max — never a
        // global single-partition window, which would not survive a
        // supplier count at 100 TB), and AQE's stage cache dedups the
        // groupBy shuffle, so lineitem is scanned and aggregated once.
        //
        // The explicit isNotNull below is what MAKES the two rev
        // subtrees canonically identical (optimization r20): the
        // supplier equi-join infers isnotnull(l_suppkey) into its
        // branch only, and the r19 form's branches therefore hashed
        // differently — the runtime plan re-scanned lineitem after
        // all (plans/r20/q15_top_supplier_executed_before.txt; the
        // r19 reuse claim was wrong). A null-suppkey group never
        // survives the supplier equi-join but could hold the max, so
        // the oracle's `rev` carries the same predicate: the two forms
        // agree on nullable data too (TPC-H's l_suppkey has no nulls).
        val rev = t(s, dir, "lineitem")
          .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-04-01").cast("timestamp") &&
            $"l_suppkey".isNotNull)
          .groupBy($"l_suppkey")
          .agg(sum(Exact.revenueE4($"l_extendedprice", $"l_discount"))
            .as("rev_e4"))
        val mx = rev.agg(max($"rev_e4").as("__mx"))
        rev.crossJoin(broadcast(mx))
          .where($"rev_e4" === $"__mx")
          .join(t(s, dir, "supplier"), $"s_suppkey" === $"l_suppkey")
          .select($"s_suppkey", $"s_name",
            ($"rev_e4".cast("double") / 10000.0).as("total_rev"))
      },
      Some("""WITH rev AS (
          SELECT l_suppkey,
            sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
          FROM lineitem
          WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
            AND l_shipdate < CAST('1996-04-01' AS TIMESTAMP)
            AND l_suppkey IS NOT NULL
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name,
          CAST(rev_e4 AS DOUBLE) / 10000.0 AS total_rev
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)""")),

    // ---- H2 SCD2 apply: one change batch (price bump on %3 keys at
    // +30 days, brand-new %5 keys) merged into a current-rows-only
    // history; the full output timeline is closed-form in SQL
    "h2_scd2_apply" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
        val history = base.select($"o_orderkey", $"o_totalprice",
          $"o_orderdate".as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
        val changes = base.where($"o_orderkey" % 3 === 0)
          .select($"o_orderkey", ($"o_totalprice" + 1.0).as("o_totalprice"),
            ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("ts"))
        val inserts = base.where($"o_orderkey" % 5 === 0)
          .select(($"o_orderkey" + 10000000L).as("o_orderkey"),
            $"o_totalprice",
            ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("ts"))
        graft.operators.Scd2.applyChanges(history,
          changes.unionByName(inserts),
          Seq("o_orderkey"), Seq("o_totalprice"), "ts")
      },
      Some("""SELECT o_orderkey, o_totalprice,
          o_orderdate AS valid_from,
          o_orderdate + INTERVAL 30 DAY AS valid_to
          FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice + 1.0,
          o_orderdate + INTERVAL 30 DAY, NULL
          FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderdate, NULL
          FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice,
          o_orderdate + INTERVAL 30 DAY, NULL
          FROM orders WHERE o_orderkey % 5 = 0""")),

    // ---- H3 SCD2 table apply: the H2 change batch applied to a
    // PERSISTED, partitioned history via Scd2.applyToTable — exercises
    // the partition-pruned read + per-partition dir-swap commit, then
    // reads the whole table back. Partition bucket is key-derived
    // (o_orderkey % 4; the +10000000 insert offset is ≡ 0 mod 4, so the
    // oracle's bucket expression is uniform). Timeline closed-form in
    // SQL exactly as h2, plus the bucket column.
    "h3_scd2_table" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice", $"o_orderdate",
            ($"o_orderkey" % 4).cast("int").as("bucket"))
        val history = base.select($"o_orderkey", $"bucket", $"o_totalprice",
          $"o_orderdate".as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
        val path = java.nio.file.Files
          .createTempDirectory("graft_h3_scd2").toString + "/t"
        history.write.partitionBy("bucket").parquet(path)
        val changes = base.where($"o_orderkey" % 3 === 0)
          .select($"o_orderkey", $"bucket",
            ($"o_totalprice" + 1.0).as("o_totalprice"),
            ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("ts"))
        val inserts = base.where($"o_orderkey" % 5 === 0)
          .select(($"o_orderkey" + 10000000L).as("o_orderkey"), $"bucket",
            $"o_totalprice",
            ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("ts"))
        graft.operators.Scd2.applyToTable(s, path,
          changes.unionByName(inserts), Seq("o_orderkey"),
          Seq("bucket", "o_totalprice"), "ts", Seq("bucket"))
        s.read.parquet(path).select($"o_orderkey",
          $"bucket".cast("int").as("bucket"), $"o_totalprice",
          $"valid_from", $"valid_to")
      },
      Some("""SELECT o_orderkey, CAST(o_orderkey % 4 AS INT) AS bucket,
          o_totalprice, o_orderdate AS valid_from,
          o_orderdate + INTERVAL 30 DAY AS valid_to
          FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, CAST(o_orderkey % 4 AS INT),
          o_totalprice + 1.0, o_orderdate + INTERVAL 30 DAY, NULL
          FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, CAST(o_orderkey % 4 AS INT),
          o_totalprice, o_orderdate, NULL
          FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, CAST(o_orderkey % 4 AS INT),
          o_totalprice, o_orderdate + INTERVAL 30 DAY, NULL
          FROM orders WHERE o_orderkey % 5 = 0""")),

    // ---- A18 heavy hitters: `stat.freqItems` (Karp/one-pass counter
    // algorithm — deterministic, NOT sampled) carries a superset
    // guarantee: every value with support > the threshold IS returned.
    // All five order priorities sit at ~20% > 15%, so the guaranteed
    // part of the output — filtered to the domain, sorted — is exactly
    // the distinct value list, which IS SQL-expressible. (False
    // positives below threshold are legal for the algorithm; the domain
    // filter removes them from the compared result.)
    "a18_freq_items" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").stat.freqItems(Seq("o_orderpriority"), 0.15)
          .select(explode($"o_orderpriority_freqItems").as("item"))
          .where($"item".isin("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW"))
          .orderBy($"item")
      },
      Some("""SELECT DISTINCT o_orderpriority AS item
        FROM orders ORDER BY item""")),

    // ---- Q4-style priority count via EXISTS: the correlated-EXISTS
    // subquery shape — Catalyst decorrelates it to a left-semi join
    // (asserted in PlanSpec), never a per-row re-execution
    "q4_exists_semi" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("q4_orders")
        t(s, dir, "lineitem").createOrReplaceTempView("q4_lineitem")
        s.sql("""SELECT o_orderpriority, count(*) AS order_count
          FROM q4_orders o
          WHERE o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
            AND o_orderdate < CAST('1996-07-01' AS TIMESTAMP)
            AND EXISTS (SELECT 1 FROM q4_lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
          GROUP BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND o_orderdate < CAST('1996-07-01' AS TIMESTAMP)
          AND EXISTS (SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority""")),

    // ---- W8 distribution window functions (fully tiebroken; doubles
    // rounded once, mirrored)
    "w8_distribution_functions" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal".desc, $"c_custkey".asc)
        t(s, dir, "customer")
          .select($"c_mktsegment", $"c_custkey",
            round(cume_dist().over(w), 6).as("cdist"),
            round(percent_rank().over(w), 6).as("prank"))
      },
      Some("""SELECT c_mktsegment, c_custkey,
        round(cume_dist() OVER w, 6) AS cdist,
        round(percent_rank() OVER w, 6) AS prank
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
          ORDER BY c_acctbal DESC, c_custkey ASC)""")),

    // ---- W9 time-RANGE window frame: per-customer trailing-7-day order
    // count and spend at every order. Spark range frames need a numeric
    // ordering column, so the frame runs over epoch SECONDS
    // ([-7*86400, 0]); o_orderdate is day-grained, so the seconds frame
    // is exactly DuckDB's `RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND
    // CURRENT ROW` over the raw timestamp. Spend is summed as exact
    // integer cents inside the frame (order-independent on any engine —
    // graft.functions.Exact) and rescaled to double once per row.
    // Scale shape: ONE hash shuffle on o_custkey; frames are evaluated
    // per partition with a sliding accumulator, never by self-joining
    // the table against its own 7-day neighborhood.
    "w9_rolling_window" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // o_orderdate is TIMESTAMP_NTZ (no direct → long cast); with the
        // session TZ pinned UTC the NTZ→TZ hop is the identity on the
        // wall clock, and → long yields epoch seconds.
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate".cast("timestamp").cast("long"))
          .rangeBetween(-7L * 86400, 0)
        t(s, dir, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_orderdate",
            count(lit(1)).over(w).as("n_7d"),
            Exact.dollars(sum(Exact.cents($"o_totalprice")).over(w), 100L)
              .as("spend_7d"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
        count(*) OVER w AS n_7d,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
          AS DOUBLE) / 100.0 AS spend_7d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)""")),

    // ---- W7 native session windows: Spark's `session_window` (dynamic
    // 30-min-gap windows merged by the engine) vs the gaps-and-islands
    // oracle. Boundary semantics mirrored EXACTLY: the window is
    // half-open [start, last+gap), so an event at precisely last+gap
    // starts a NEW session — the oracle's `>=` (not st2's `>`, whose
    // hand-rolled fold uses the closed boundary).
    "w7_session_window" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"user_id", session_window($"ts", "30 minutes"))
          .agg(count(lit(1)).as("n_ev"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_sessions"), sum($"n_ev").as("n_events"))
      },
      Some("""SELECT user_id,
        CAST(sum(CASE WHEN prev_ts IS NULL
            OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT)
          AS n_sessions,
        CAST(count(*) AS BIGINT) AS n_events
        FROM (SELECT user_id, ts,
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events) t
        GROUP BY user_id"""))
  )
}
