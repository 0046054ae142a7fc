package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** TPC-DS analog mini-suite: the star-schema / grouping-sets /
  * window-heavy SQL shapes a warehouse user actually runs, which TPC-H
  * doesn't exercise. The reference ships the full 103-query TPC-DS
  * suite as benchmark-as-test
  * (sdks/java/testing/tpcds/src/main/resources/queries/query1..99.sql,
  * runner sdks/java/testing/tpcds/.../SqlTransformRunner.java:73);
  * these port SEVENTY of its distinctive PLAN SHAPES onto the driver's
  * TPC-H-ish star schema (there is no date_dim/item/store, so filters
  * and dimensions map to year()/month(), part, nation). Round-19
  * additions: q14b (full INTERSECT-CTE cross-items + exact-decimal
  * scalar threshold), q15 (disjunctive CROSS-TABLE OR), q16 (dual
  * same-fact EXISTS/NOT EXISTS → one grouped flag pass), q18
  * (averages under ROLLUP, quantized), q24 (fine-grain CTE + scalar
  * avg HAVING by decimal cross-multiply), q33/q56 (grouped-union
  * channel family, shared broadcast dim set), q34 (frequency-band +
  * join-back), q40 (pivot split × returns netting in one pass), q43
  * (day-of-week pivot; calendar-mapping trap), q46 (two roles of one
  * dimension compared post-agg), q69 (three existence flags in one
  * pass), q72 (the many-join fact chain: inventory role pre-agged,
  * cross-fact inequality in integers, two LEFT joins), q90 (ratio of
  * two scalar aggregates from one scan). Earlier rounds:
  *
  *   q1   correlated scalar subquery per group, decorrelated
  *   q2   WITH-chain reuse: one CTE consumed twice via a shifted join
  *   q3   star join + dimension filter + (year, brand) aggregate
  *   q4   growth-ratio-vs-growth-ratio via one 4-cell conditional agg
  *   q5   multi-channel UNION ALL + ROLLUP
  *   q9   per-bucket scalar subqueries → conditional aggregation
  *   q14  GROUPING SETS with grouping-id output
  *   q17  multi-fact star: sales ⋈ returns on (item, customer)
  *   q21  before/after pivot-date split with a balance-band HAVING
  *   q23  frequent-item CTE feeding a semi-joined second aggregate
  *   q25  three-fact star: three channel aggregates joined on item
  *   q29  temporal sold→returned→re-bought three-fact chain
  *   q31  one CTE consumed SIX times: channel growth-ratio comparison
  *   q35  EXISTS a AND (EXISTS b OR EXISTS c) AND NOT EXISTS d segments
  *   q38  multi-channel INTERSECT of customer sets
  *   q39  variance-over-aggregate + consecutive-period self-join
  *   q75  channel UNION with returns netting + year-over-year decline
  *   q95  semi-join on a self-derived key set + NOT EXISTS returns
  *   q47  lag/lead navigation over an aggregate (monthly series)
  *   q49  per-channel worst-return-ratio ranking + channel union
  *   q51  cumulative windows over a FULL OUTER join of two channels
  *   q59  one CTE compared across two epochs on month-of-year
  *   q62  shipping-lag lateness bands, one conditional-agg pass
  *   q41  same-dimension correlated EXISTS over a disjunctive
  *        attribute tree, decorrelated to a broadcast semi-join
  *   q64  deep cross-sales chain (semi key-set + 4-way star + agg)
  *        self-joined across two sales years — exchange reuse at depth
  *   q65  underperforming store-items: pair revenue vs 10% of the
  *        store average via aggregate-reuse + integer cross-multiply
  *   q67  rank() over ROLLUP results per group
  *   q73  HAVING count range + join back to the dimension
  *   q74  year-over-year self-join of per-customer aggregates
  *   q78  channel ratio over returns-excluded (anti-joined) sales
  *   q88  multi-band conditional counts in one scan
  *   q89  deviation-from-average: window aggregate over an aggregate
  *   q98  ratio-to-report: partition share of each class in its group
  *
  * Scale discipline matches [[TpchQueries]]: only fixed-cardinality
  * dims (nation=25) are hinted broadcast; fact-fact joins stay shuffle
  * joins for AQE. Counts/quantities are emitted as BIGINT (exact
  * cross-engine); money sums round to 4 decimals.
  */
object TpcdsQueries {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def prt(s: SparkSession, d: String) = Tables.part(s, d)
  private def sup(s: SparkSession, d: String) = Tables.supplier(s, d)

  private val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** orders ⋈ customer ⋈ nation with (n_name, ym = year*100+month). */
  private def ordByNationMonth(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("ym",
        year(col("o_orderdate")) * 100 + month(col("o_orderdate")))

  def queries: Seq[Q] = Seq(

    // q3: the canonical star join — fact ⋈ filtered dimension ⋈ date,
    // grouped by (year, brand). The dimension filter must reach the
    // part scan and prune lineitem BEFORE the orders join.
    Q.sql("agg_tpcds_q3", """SELECT CAST(year(o_orderdate) AS INT) AS o_year, p_brand,
          round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_agg
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_type = 'PROMO'
        GROUP BY 1, 2"""),

    // q5: multi-channel report — each channel is a branch of a UNION
    // ALL over the same fact (sales vs returns), rolled up with
    // ROLLUP(channel, nation): per-(channel, nation) rows, per-channel
    // subtotals, and a grand total, all in one aggregation.
    Q("agg_tpcds_q5",
      (s, d) => {
        val base = li(s, d)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .select(col("l_returnflag"), col("n_name"), rev.as("r"))
        val sales = base.filter(col("l_returnflag") =!= "R")
          .select(lit("sales").as("channel"), col("n_name"), col("r"))
        val returns = base.filter(col("l_returnflag") === "R")
          .select(lit("returns").as("channel"), col("n_name"), col("r"))
        // the GRAND-TOTAL rollup row sums the whole fact table; a
        // double sum is summation-ORDER-dependent and at ~3e10 the
        // cross-engine drift lands in the 4th decimal — so sum exactly
        // in decimal (order-independent), then convert for output
        sales.unionByName(returns)
          .rollup(col("channel"), col("n_name"))
          .agg(round(sum(col("r").cast("decimal(38,6)")).cast("double"), 4)
              .as("total_rev"),
            count(lit(1)).as("n"))
      },
      Some("""WITH base AS (
          SELECT CASE WHEN l_returnflag = 'R' THEN 'returns'
                      ELSE 'sales' END AS channel,
            n_name, l_extendedprice * (1 - l_discount) AS r
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey)
        SELECT channel, n_name,
          round(CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_rev,
          CAST(count(*) AS BIGINT) AS n
        FROM base GROUP BY ROLLUP(channel, n_name)""")),

    // q14: GROUPING SETS — (type, brand), (type), () in one pass, with
    // an explicit grouping-id column distinguishing the levels.
    Q.sql("agg_tpcds_q14", """SELECT p_type, p_brand,
          CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          CAST(GROUPING(p_type) * 2 + GROUPING(p_brand) AS BIGINT) AS gid
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY GROUPING SETS ((p_type, p_brand), (p_type), ())"""),

    // q38: customers present in ALL THREE channels (order priorities
    // stand in for store/catalog/web) — chained INTERSECT, then count.
    Q.sql("agg_tpcds_q38", """SELECT CAST(count(*) AS BIGINT) AS n FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '3-MEDIUM')"""),

    // q47: navigation over an aggregate — monthly order volume per
    // nation with the previous/next month alongside (lag/lead over the
    // grouped series; rounding happens BEFORE navigation so both
    // engines navigate identical values).
    Q("agg_tpcds_q47",
      (s, d) => {
        val monthly = ordByNationMonth(s, d)
          .groupBy(col("n_name"), col("ym"))
          .agg(round(sum(col("o_totalprice")), 4).as("sales"))
        val w = Window.partitionBy(col("n_name")).orderBy(col("ym"))
        monthly
          .withColumn("prev_sales", lag(col("sales"), 1).over(w))
          .withColumn("next_sales", lead(col("sales"), 1).over(w))
          .filter(col("prev_sales").isNotNull && col("next_sales").isNotNull)
      },
      Some("""WITH monthly AS (
          SELECT n_name,
            CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
            round(sum(o_totalprice), 4) AS sales
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2)
        SELECT n_name, ym, sales,
          lag(sales) OVER w AS prev_sales,
          lead(sales) OVER w AS next_sales
        FROM monthly
        WINDOW w AS (PARTITION BY n_name ORDER BY ym)
        QUALIFY prev_sales IS NOT NULL AND next_sales IS NOT NULL""")),

    // q51: two channels aggregated independently, FULL OUTER joined on
    // (nation, month), then compared through CUMULATIVE window sums —
    // months where the running return count exceeds 1/5 of the running
    // order count (integer counts: exact cross-engine).
    Q("agg_tpcds_q51",
      (s, d) => {
        val o = ordByNationMonth(s, d)
          .groupBy(col("n_name"), col("ym"))
          .agg(count(lit(1)).as("n_ord"))
        val r = li(s, d).filter(col("l_returnflag") === "R")
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .withColumn("ym",
            year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .groupBy(col("n_name"), col("ym"))
          .agg(count(lit(1)).as("n_ret"))
        val w = Window.partitionBy(col("n_name")).orderBy(col("ym"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        o.join(r, Seq("n_name", "ym"), "full_outer")
          .select(col("n_name"), col("ym"),
            coalesce(col("n_ord"), lit(0L)).as("n_ord"),
            coalesce(col("n_ret"), lit(0L)).as("n_ret"))
          .withColumn("cum_ord", sum(col("n_ord")).over(w))
          .withColumn("cum_ret", sum(col("n_ret")).over(w))
          .filter(col("cum_ret") * 5 > col("cum_ord"))
          .select(col("n_name"), col("ym"), col("cum_ord"), col("cum_ret"))
      },
      Some("""WITH o AS (
          SELECT n_name,
            CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
            count(*) AS n_ord
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        ), r AS (
          SELECT n_name,
            CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
            count(*) AS n_ret
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
          GROUP BY 1, 2
        ), j AS (
          SELECT COALESCE(o.n_name, r.n_name) AS n_name,
            COALESCE(o.ym, r.ym) AS ym,
            COALESCE(o.n_ord, 0) AS n_ord, COALESCE(r.n_ret, 0) AS n_ret
          FROM o FULL JOIN r ON o.n_name = r.n_name AND o.ym = r.ym)
        SELECT n_name, ym,
          CAST(sum(n_ord) OVER w AS BIGINT) AS cum_ord,
          CAST(sum(n_ret) OVER w AS BIGINT) AS cum_ret
        FROM j
        WINDOW w AS (PARTITION BY n_name ORDER BY ym
                     ROWS UNBOUNDED PRECEDING)
        QUALIFY cum_ret * 5 > cum_ord""")),

    // q67: rank() over ROLLUP output — quantity by (type, brand) plus
    // subtotals, top 3 rows per type partition (the subtotal row
    // competes in its own partition, as in q67's rollup ranking).
    // Tiebreak on coalesce(brand) keeps the rank total-ordered without
    // engine-specific NULL placement.
    Q("agg_tpcds_q67",
      (s, d) => {
        val rolled = li(s, d)
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .rollup(col("p_type"), col("p_brand"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
        val w = Window.partitionBy(col("p_type"))
          .orderBy(col("sum_qty").desc, coalesce(col("p_brand"), lit("")).asc)
        rolled.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
      },
      Some("""WITH rolled AS (
          SELECT p_type, p_brand, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY ROLLUP(p_type, p_brand))
        SELECT p_type, p_brand, sum_qty,
          CAST(rank() OVER (PARTITION BY p_type
            ORDER BY sum_qty DESC, COALESCE(p_brand, '') ASC) AS INT) AS rk
        FROM rolled QUALIFY rk <= 3""")),

    // q73: frequency-band customers — order counts in a date range
    // HAVING count in [4, 6], joined back to the dimension for names.
    Q.sql("agg_tpcds_q73", """SELECT c_custkey, c_name, n FROM (
          SELECT o_custkey, count(*) AS n FROM orders
          WHERE year(o_orderdate) BETWEEN 1995 AND 1997
          GROUP BY 1 HAVING count(*) BETWEEN 4 AND 6)
        JOIN customer ON o_custkey = c_custkey"""),

    // q74: year-over-year — per-customer totals for two years,
    // self-joined, keeping customers who grew (integer counts: the
    // growth comparison is exact).
    Q.sql("agg_tpcds_q74", """WITH y96 AS (
          SELECT o_custkey, count(*) AS n_1996 FROM orders
          WHERE year(o_orderdate) = 1996 GROUP BY 1
        ), y97 AS (
          SELECT o_custkey, count(*) AS n_1997 FROM orders
          WHERE year(o_orderdate) = 1997 GROUP BY 1)
        SELECT c_custkey, c_name, n_1996, n_1997
        FROM y96 JOIN y97 USING (o_custkey)
        JOIN customer ON o_custkey = c_custkey
        WHERE n_1997 > n_1996"""),

    // q9: the five-scalar-subqueries-over-buckets shape — per
    // quantity-band averages, collapsed to conditional aggregation in
    // ONE scan (the original runs 15 correlated scalar subqueries;
    // a columnar engine evaluates all bands in a single pass).
    Q.sql("agg_tpcds_q9", """SELECT
          round(avg(l_extendedprice) FILTER (WHERE l_quantity BETWEEN 1 AND 10), 4) AS avg_b1,
          round(avg(l_extendedprice) FILTER (WHERE l_quantity BETWEEN 11 AND 20), 4) AS avg_b11,
          round(avg(l_extendedprice) FILTER (WHERE l_quantity BETWEEN 21 AND 30), 4) AS avg_b21,
          round(avg(l_extendedprice) FILTER (WHERE l_quantity BETWEEN 31 AND 40), 4) AS avg_b31,
          round(avg(l_extendedprice) FILTER (WHERE l_quantity BETWEEN 41 AND 50), 4) AS avg_b41
        FROM lineitem"""),

    // q28: six bucketed aggregate "subqueries" over one fact table —
    // the textbook form cross-joins six separate scalar-subquery
    // SCANS into one row; here (and in the DuckDB oracle) it is ONE
    // scan with per-bucket conditional aggregates. The per-bucket
    // COUNT(DISTINCT …) triple makes this the registry's
    // multi-distinct witness: Catalyst plans the six distinct groups
    // through ONE Expand (+ two-level aggregate) — still a single
    // fact scan at 100 TB where the textbook form pays six.
    Q.sql("agg_tpcds_q28", {
        def b(tag: String, qLo: Int, qHi: Int, pLo: Int, pHi: Int,
            dLo: Double, dHi: Double): String = {
          val c = s"l_quantity BETWEEN $qLo AND $qHi AND " +
            s"(l_extendedprice BETWEEN $pLo AND $pHi OR " +
            s"l_discount BETWEEN $dLo AND $dHi)"
          s"""round(avg(CASE WHEN $c THEN l_extendedprice END), 4) AS ${tag}_avg,
             CAST(count(CASE WHEN $c THEN l_extendedprice END) AS BIGINT) AS ${tag}_cnt,
             CAST(count(DISTINCT CASE WHEN $c THEN l_extendedprice END) AS BIGINT) AS ${tag}_cntd"""
        }
        "SELECT " + Seq(
          b("b1", 1, 8, 1000, 20000, 0.00, 0.02),
          b("b2", 9, 16, 5000, 30000, 0.02, 0.04),
          b("b3", 17, 24, 10000, 40000, 0.04, 0.06),
          b("b4", 25, 32, 20000, 50000, 0.05, 0.07),
          b("b5", 33, 40, 30000, 60000, 0.06, 0.08),
          b("b6", 41, 50, 40000, 80000, 0.08, 0.10)).mkString(",\n") +
          "\nFROM lineitem"
      }),

    // q23: two-stage frequency shape — "frequent parts" (appearing in
    // more than `minOccur` line items) feed a semi-join that restricts
    // a second aggregate (urgent-order revenue on frequent parts only,
    // by year).
    Q("agg_tpcds_q23",
      (s, d) => {
        val frequent = li(s, d).groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 35)
          .select("l_partkey")
        li(s, d)
          .join(frequent, Seq("l_partkey"), "left_semi")
          .join(ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(sum(rev), 4).as("frequent_rev"),
            count(lit(1)).as("n_items"))
      },
      Some("""WITH frequent AS (
          SELECT l_partkey FROM lineitem GROUP BY 1 HAVING count(*) > 35)
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          round(sum(l_extendedprice * (1 - l_discount)), 4) AS frequent_rev,
          CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
          AND l_partkey IN (SELECT l_partkey FROM frequent)
        GROUP BY 1""")),

    // q88: one scan, eight disjoint conditional counts (time-of-day
    // bands) — the multi-scan-collapsed-to-conditional-aggregation
    // shape; Catalyst evaluates all eight in a single pass.
    Q.sql("agg_tpcds_q88", """SELECT
          CAST(count(*) FILTER (WHERE hour(ts) >= 0  AND hour(ts) < 3)  AS BIGINT) AS h0,
          CAST(count(*) FILTER (WHERE hour(ts) >= 3  AND hour(ts) < 6)  AS BIGINT) AS h1,
          CAST(count(*) FILTER (WHERE hour(ts) >= 6  AND hour(ts) < 9)  AS BIGINT) AS h2,
          CAST(count(*) FILTER (WHERE hour(ts) >= 9  AND hour(ts) < 12) AS BIGINT) AS h3,
          CAST(count(*) FILTER (WHERE hour(ts) >= 12 AND hour(ts) < 15) AS BIGINT) AS h4,
          CAST(count(*) FILTER (WHERE hour(ts) >= 15 AND hour(ts) < 18) AS BIGINT) AS h5,
          CAST(count(*) FILTER (WHERE hour(ts) >= 18 AND hour(ts) < 21) AS BIGINT) AS h6,
          CAST(count(*) FILTER (WHERE hour(ts) >= 21 AND hour(ts) < 24) AS BIGINT) AS h7
        FROM events WHERE event_type = 'click'"""),

    // q1: the correlated-scalar-subquery-per-group filter — customers
    // whose return count exceeds 1.2x the AVERAGE return count of
    // their nation. Decorrelated the way Calcite/Catalyst both do:
    // the inner aggregate becomes a grouped frame joined back on the
    // correlation key (25 nation rows → broadcast). The 1.2x-avg
    // comparison is algebraized to integers (ctr·cnt·5 > tot·6) so the
    // predicate is EXACT cross-engine — no double-boundary ties.
    Q.sql("agg_tpcds_q1", """WITH ctr AS (
          SELECT c_custkey, c_nationkey, count(*) AS ctr_total
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE l_returnflag = 'R' GROUP BY 1, 2
        ), na AS (
          SELECT c_nationkey, sum(ctr_total) AS tot, count(*) AS cnt
          FROM ctr GROUP BY 1)
        SELECT /*+ BROADCAST(na) */ c_custkey, c_nationkey, CAST(ctr_total AS BIGINT) AS ctr_total
        FROM ctr JOIN na USING (c_nationkey)
        WHERE ctr_total * cnt * 5 > tot * 6"""),

    // q2: WITH-chain reuse — ONE monthly-sales CTE consumed twice
    // (this month vs the same nation a year earlier) through a
    // shifted self-join. Money sums in DECIMAL (the q5 lesson: the
    // diff of two large double sums drifts cross-engine).
    Q("agg_tpcds_q2",
      (s, d) => {
        val wss = ordByNationMonth(s, d)
          .groupBy(col("n_name"), col("ym"))
          .agg(sum(col("o_totalprice").cast("decimal(38,6)")).as("sales"))
        val prev = wss.select(col("n_name"),
          (col("ym") + 100).as("ym"), col("sales").as("prev_sales"))
        wss.join(prev, Seq("n_name", "ym"))
          .select(col("n_name"), col("ym"),
            round(col("sales").cast("double"), 4).as("sales"),
            round(col("prev_sales").cast("double"), 4).as("prev_sales"),
            round((col("sales") - col("prev_sales")).cast("double"), 4)
              .as("diff"))
      },
      Some("""WITH wss AS (
          SELECT n_name,
            CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
            sum(CAST(o_totalprice AS DECIMAL(38,6))) AS sales
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2)
        SELECT t.n_name, t.ym,
          round(CAST(t.sales AS DOUBLE), 4) AS sales,
          round(CAST(p.sales AS DOUBLE), 4) AS prev_sales,
          round(CAST(t.sales - p.sales AS DOUBLE), 4) AS diff
        FROM wss t JOIN wss p
          ON t.n_name = p.n_name AND t.ym = p.ym + 100""")),

    // q17: the multi-fact star — sales facts ⋈ returns facts on the
    // COMPOSITE (item, customer) key, stats per brand. Scale
    // discipline: each side pre-aggregates to (partkey, custkey)
    // BEFORE the fact-fact shuffle join, so the join carries one row
    // per pair per side, never the line-level multiplicity. Quantity
    // sums are integer-valued doubles (exact under any summation
    // order).
    Q("agg_tpcds_q17",
      (s, d) => {
        // ONE fact pass (r19 opt, guide §1.2/§2.3): the original q17
        // joins three DISTINCT fact tables, but this schema's analog
        // derives both sides from lineitem with complementary
        // returnflag filters — so the two branch scans + aggregations +
        // their merge join fuse into one li⋈ord pass with conditional
        // sums. `sum(when(cond, qty))` is NULL exactly when the branch
        // had no rows for the key, so the non-null filter reproduces
        // the inner join's both-branches-present semantics row for row.
        li(s, d)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_partkey"), col("o_custkey"))
          .agg(
            sum(when(col("l_returnflag") =!= "R", col("l_quantity")))
              .as("s_qty"),
            sum(when(col("l_returnflag") === "R", col("l_quantity")))
              .as("r_qty"))
          .filter(col("s_qty").isNotNull && col("r_qty").isNotNull)
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_pairs"),
            round(avg(col("s_qty")), 4).as("avg_sold"),
            round(avg(col("r_qty")), 4).as("avg_returned"))
      },
      Some("""WITH sales AS (
          SELECT l_partkey, o_custkey, sum(l_quantity) AS s_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag <> 'R' GROUP BY 1, 2
        ), rets AS (
          SELECT l_partkey, o_custkey, sum(l_quantity) AS r_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R' GROUP BY 1, 2)
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_pairs,
          round(avg(s_qty), 4) AS avg_sold,
          round(avg(r_qty), 4) AS avg_returned
        FROM sales JOIN rets USING (l_partkey, o_custkey)
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1""")),

    // q25: the THREE-fact star — three channel aggregates (order
    // priorities stand in for store/catalog/web) each grouped to the
    // item key, 3-way inner joined, then the dimension join + brand
    // report. Same pre-aggregate-before-fact-join discipline as q17.
    Q("agg_tpcds_q25",
      (s, d) => {
        // ONE fact pass (r19 opt, guide §1.2/§2.3) — same single-fact
        // fusion as q17: the three "channels" are priority slices of
        // the SAME orders⋈lineitem join, so three scans + three aggs +
        // two merge joins collapse into one pass with conditional
        // sums; the all-non-null filter reproduces the 3-way inner
        // join's every-channel-present semantics.
        val chan = Map("1-URGENT" -> "q_urgent", "2-HIGH" -> "q_high",
          "3-MEDIUM" -> "q_medium")
        ord(s, d)
          .filter(col("o_orderpriority").isin(chan.keys.toSeq: _*))
          .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_partkey"))
          .agg(
            sum(when(col("o_orderpriority") === "1-URGENT",
              col("l_quantity"))).as("q_urgent"),
            sum(when(col("o_orderpriority") === "2-HIGH",
              col("l_quantity"))).as("q_high"),
            sum(when(col("o_orderpriority") === "3-MEDIUM",
              col("l_quantity"))).as("q_medium"))
          .filter(col("q_urgent").isNotNull && col("q_high").isNotNull &&
            col("q_medium").isNotNull)
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("q_urgent")).cast("long").as("qty_urgent"),
            sum(col("q_high")).cast("long").as("qty_high"),
            sum(col("q_medium")).cast("long").as("qty_medium"))
      },
      Some("""WITH u AS (
          SELECT l_partkey, sum(l_quantity) AS q_urgent FROM orders
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderpriority = '1-URGENT' GROUP BY 1
        ), h AS (
          SELECT l_partkey, sum(l_quantity) AS q_high FROM orders
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderpriority = '2-HIGH' GROUP BY 1
        ), m AS (
          SELECT l_partkey, sum(l_quantity) AS q_medium FROM orders
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderpriority = '3-MEDIUM' GROUP BY 1)
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
          CAST(sum(q_urgent) AS BIGINT) AS qty_urgent,
          CAST(sum(q_high) AS BIGINT) AS qty_high,
          CAST(sum(q_medium) AS BIGINT) AS qty_medium
        FROM u JOIN h USING (l_partkey) JOIN m USING (l_partkey)
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1""")),

    // q29: the temporal sold→returned→re-bought chain — three fact
    // instances over DISJOINT-purpose date windows (sold in 1995,
    // returned 1995-96, bought again 1996-97), joined on the
    // composite (item, customer) key, reported per brand.
    // Body kept: one fact pass; the text joins lineitem ⋈ orders three times.
    Q("agg_tpcds_q29",
      (s, d) => {
        // ONE fact pass (r19 opt, guide §1.2/§2.3) — the q17/q25
        // single-fact fusion applied to the temporal chain: the three
        // phases are (returnflag × year-window) slices of the SAME
        // li⋈ord join, so one pass over years 1995–1997 with three
        // conditional sums replaces three scans + three aggs + two
        // merge joins; the all-non-null filter keeps exactly the
        // (item, customer) pairs present in every phase.
        val y = year(col("o_orderdate"))
        li(s, d)
          .join(ord(s, d).filter(y.between(1995, 1997)),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_partkey"), col("o_custkey"))
          .agg(
            sum(when(col("l_returnflag") =!= "R" && y === 1995,
              col("l_quantity"))).as("sold_qty"),
            sum(when(col("l_returnflag") === "R" && y.between(1995, 1996),
              col("l_quantity"))).as("ret_qty"),
            sum(when(col("l_returnflag") =!= "R" && y.between(1996, 1997),
              col("l_quantity"))).as("rebuy_qty"))
          .filter(col("sold_qty").isNotNull && col("ret_qty").isNotNull &&
            col("rebuy_qty").isNotNull)
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_chains"),
            sum(col("sold_qty")).cast("long").as("sold_qty"),
            sum(col("ret_qty")).cast("long").as("ret_qty"),
            sum(col("rebuy_qty")).cast("long").as("rebuy_qty"))
      },
      Some("""WITH s95 AS (
          SELECT l_partkey, o_custkey, sum(l_quantity) AS sold_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag <> 'R' AND year(o_orderdate) = 1995
          GROUP BY 1, 2
        ), r AS (
          SELECT l_partkey, o_custkey, sum(l_quantity) AS ret_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
            AND year(o_orderdate) BETWEEN 1995 AND 1996
          GROUP BY 1, 2
        ), s97 AS (
          SELECT l_partkey, o_custkey, sum(l_quantity) AS rebuy_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag <> 'R'
            AND year(o_orderdate) BETWEEN 1996 AND 1997
          GROUP BY 1, 2)
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_chains,
          CAST(sum(sold_qty) AS BIGINT) AS sold_qty,
          CAST(sum(ret_qty) AS BIGINT) AS ret_qty,
          CAST(sum(rebuy_qty) AS BIGINT) AS rebuy_qty
        FROM s95 JOIN r USING (l_partkey, o_custkey)
        JOIN s97 USING (l_partkey, o_custkey)
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1""")),

    // q49: worst-return-ratio ranking per channel + UNION of the
    // channels. The ratio is integer basis points ((ret·10000) div
    // sold) — exact cross-engine, no float-rank ties — and the rank
    // is total-ordered by (ratio desc, partkey asc).
    Q("agg_tpcds_q49",
      (s, d) => {
        val byChan = li(s, d)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .withColumn("channel",
            when(col("o_orderpriority") === "1-URGENT", "urgent")
              .when(col("o_orderpriority") === "2-HIGH", "high")
              .otherwise("other"))
          .groupBy(col("channel"), col("l_partkey"))
          .agg(sum(col("l_quantity")).cast("long").as("sold"),
            sum(when(col("l_returnflag") === "R", col("l_quantity"))
              .otherwise(lit(0.0))).cast("long").as("ret"))
          .filter(col("ret") > 0)
          .withColumn("ratio_bp", expr("ret * 10000 div sold"))
        val w = Window.partitionBy(col("channel"))
          .orderBy(col("ratio_bp").desc, col("l_partkey").asc)
        byChan.withColumn("rk", rank().over(w)).filter(col("rk") <= 10)
          .select(col("channel"), col("l_partkey"), col("ratio_bp"),
            col("rk"))
      },
      Some("""WITH byc AS (
          SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
                      WHEN o_orderpriority = '2-HIGH' THEN 'high'
                      ELSE 'other' END AS channel,
            l_partkey,
            CAST(sum(l_quantity) AS BIGINT) AS sold,
            CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
                          ELSE 0 END) AS BIGINT) AS ret
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2
          HAVING sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
                          ELSE 0 END) > 0)
        SELECT channel, l_partkey, ret * 10000 // sold AS ratio_bp,
          CAST(rank() OVER (PARTITION BY channel
            ORDER BY ret * 10000 // sold DESC, l_partkey ASC) AS INT) AS rk
        FROM byc QUALIFY rk <= 10""")),

    // q59: the same-CTE-two-epochs comparison — monthly order volume
    // per nation, 1996 vs 1997 joined on MONTH-OF-YEAR (q59's
    // week-over-week shape on this schema's calendar).
    Q.sql("agg_tpcds_q59", """WITH mss AS (
          SELECT /*+ BROADCAST(nation) */ n_name, CAST(year(o_orderdate) AS INT) AS y,
            CAST(month(o_orderdate) AS INT) AS moy, count(*) AS n
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE year(o_orderdate) IN (1996, 1997)
          GROUP BY 1, 2, 3)
        SELECT a.n_name, a.moy,
          CAST(a.n AS BIGINT) AS n_1996, CAST(b.n AS BIGINT) AS n_1997
        FROM mss a JOIN mss b
          ON a.n_name = b.n_name AND a.moy = b.moy
         AND a.y = 1996 AND b.y = 1997"""),

    // q62: the shipping-lag band report — days between order and ship
    // date bucketed into lateness bands, one conditional-aggregation
    // pass per order priority (q62's web-sales shipping report on
    // this schema's dates).
    Q("agg_tpcds_q62",
      (s, d) => {
        val lag = datediff(col("l_shipdate"), col("o_orderdate"))
        li(s, d)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            sum(when(lag <= 30, 1).otherwise(0)).cast("long").as("d30"),
            sum(when(lag > 30 && lag <= 60, 1).otherwise(0)).cast("long").as("d60"),
            sum(when(lag > 60 && lag <= 90, 1).otherwise(0)).cast("long").as("d90"),
            sum(when(lag > 90, 1).otherwise(0)).cast("long").as("d90plus"))
      },
      Some("""SELECT o_orderpriority,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 30)
            AS BIGINT) AS d30,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
            BETWEEN 31 AND 60) AS BIGINT) AS d60,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
            BETWEEN 61 AND 90) AS BIGINT) AS d90,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90)
            AS BIGINT) AS d90plus
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1""")),

    // q78: the channel ratio EXCLUDING returned merchandise — sales
    // lines anti-joined against the (customer, item) pairs that were
    // ever returned (q78's ss LEFT JOIN sr ... WHERE sr IS NULL),
    // then per (year, customer) the urgent-vs-other quantity ratio in
    // integer basis points.
    Q("agg_tpcds_q78",
      (s, d) => {
        // r20 (guide §1.2/§2.3 — one fact pass): the anti-join form ran
        // the li⋈ord chain TWICE (the returnflag filters fork the scans,
        // so no subtree reuse was possible: R-rows → distinct pairs,
        // non-R rows → anti-join probe). One joined pass instead, with
        // the "pair was ever returned" flag as a window max over the
        // (o_custkey, l_partkey) partition — every row of the pair (R
        // or not) is in that partition, so anyret=0 ⟺ the pair never
        // appears with returnflag R, exactly the anti-join predicate.
        // Equivalence needs non-null join/partition keys (TPC-H NOT
        // NULL columns; an all-null key group would differ: anti-join
        // keeps null-keyed rows, a window would group them) — holds on
        // this generator, oracle-checked at two SFs.
        val byPair = Window.partitionBy(col("o_custkey"), col("l_partkey"))
        li(s, d)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_partkey"), col("l_quantity"),
            col("l_returnflag"), col("o_orderdate"), col("o_orderpriority"))
          .withColumn("anyret",
            max(when(col("l_returnflag") === "R", 1).otherwise(0))
              .over(byPair))
          .filter(col("l_returnflag") =!= "R" && col("anyret") === 0)
          .groupBy(year(col("o_orderdate")).as("o_year"), col("o_custkey"))
          .agg(
            sum(when(col("o_orderpriority") === "1-URGENT",
              col("l_quantity")).otherwise(lit(0.0))).cast("long").as("uq"),
            sum(when(col("o_orderpriority") =!= "1-URGENT",
              col("l_quantity")).otherwise(lit(0.0))).cast("long").as("oq"))
          .filter(col("uq") > 0 && col("oq") > 0)
          .withColumn("ratio_bp", expr("uq * 10000 div oq"))
      },
      Some("""WITH clean AS (
          SELECT year(o_orderdate) AS o_year, o_custkey, o_orderpriority,
            l_quantity
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag <> 'R' AND NOT EXISTS (
            SELECT 1 FROM lineitem l2 JOIN orders o2
              ON l2.l_orderkey = o2.o_orderkey
            WHERE l2.l_returnflag = 'R'
              AND o2.o_custkey = orders.o_custkey
              AND l2.l_partkey = lineitem.l_partkey))
        SELECT CAST(o_year AS INT) AS o_year, o_custkey,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN l_quantity ELSE 0 END) AS BIGINT) AS uq,
          CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                        THEN l_quantity ELSE 0 END) AS BIGINT) AS oq,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN l_quantity ELSE 0 END) AS BIGINT) * 10000
            // CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                          THEN l_quantity ELSE 0 END) AS BIGINT) AS ratio_bp
        FROM clean
        GROUP BY 1, 2
        HAVING sum(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN l_quantity ELSE 0 END) > 0
           AND sum(CASE WHEN o_orderpriority <> '1-URGENT'
                        THEN l_quantity ELSE 0 END) > 0""")),

    // q31: the MULTI-INSTANCE WITH chain — one per-(nation, channel,
    // quarter) aggregate consumed SIX times (two channels × three
    // quarters of 1996) through self-joins; nations kept where the
    // urgent channel out-grows the other channel in BOTH quarter
    // steps. Growth ratios compared by integer CROSS-MULTIPLICATION
    // over order counts (u2/u1 > o2/o1 ⇔ u2·o1 > o2·u1) — exact in
    // BIGINT, no float-ratio tie divergence. The six consumers must
    // reuse the one aggregation exchange, not re-run the star join.
    Q("agg_tpcds_q31",
      (s, d) => {
        val qs = ord(s, d)
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .filter(year(col("o_orderdate")) === 1996 &&
            quarter(col("o_orderdate")) <= 3)
          .withColumn("chan",
            when(col("o_orderpriority") === "1-URGENT", "u").otherwise("o"))
          .groupBy(col("n_name"), col("chan"),
            quarter(col("o_orderdate")).as("q"))
          .agg(count(lit(1)).as("n"))
        // Slices are ≤ |nations| rows at ANY scale factor (the grain is
        // (nation, chan, quarter)), so the five slice joins are
        // broadcast-correct at 100 TB too — without the hint the planner
        // sort-merge-joined the reused aggregate's consumers (measured:
        // 5 SMJs + 5 sort pairs over ~25-row inputs; AQE does not
        // re-plan joins over reused stages). The shared aggregation
        // exchange itself is still computed ONCE (runtime stage reuse,
        // verified in the final plan). — r19 opt, guide §3.1
        def slice(c: String, qn: Int, out: String) =
          qs.filter(col("chan") === c && col("q") === qn)
            .select(col("n_name"), col("n").as(out))
        slice("u", 1, "u1")
          .join(broadcast(slice("u", 2, "u2")), Seq("n_name"))
          .join(broadcast(slice("u", 3, "u3")), Seq("n_name"))
          .join(broadcast(slice("o", 1, "o1")), Seq("n_name"))
          .join(broadcast(slice("o", 2, "o2")), Seq("n_name"))
          .join(broadcast(slice("o", 3, "o3")), Seq("n_name"))
          .filter(col("u2") * col("o1") > col("o2") * col("u1") &&
            col("u3") * col("o2") > col("o3") * col("u2"))
          .select(col("n_name"), col("u1"), col("u2"), col("u3"),
            col("o1"), col("o2"), col("o3"))
      },
      Some("""WITH qs AS (
          SELECT n_name,
            CASE WHEN o_orderpriority = '1-URGENT' THEN 'u' ELSE 'o' END AS chan,
            quarter(o_orderdate) AS q, count(*) AS n
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) <= 3
          GROUP BY 1, 2, 3)
        SELECT u1.n_name,
          CAST(u1.n AS BIGINT) AS u1, CAST(u2.n AS BIGINT) AS u2,
          CAST(u3.n AS BIGINT) AS u3, CAST(o1.n AS BIGINT) AS o1,
          CAST(o2.n AS BIGINT) AS o2, CAST(o3.n AS BIGINT) AS o3
        FROM qs u1 JOIN qs u2 ON u1.n_name = u2.n_name
        JOIN qs u3 ON u1.n_name = u3.n_name
        JOIN qs o1 ON u1.n_name = o1.n_name
        JOIN qs o2 ON u1.n_name = o2.n_name
        JOIN qs o3 ON u1.n_name = o3.n_name
        WHERE u1.chan = 'u' AND u1.q = 1 AND u2.chan = 'u' AND u2.q = 2
          AND u3.chan = 'u' AND u3.q = 3 AND o1.chan = 'o' AND o1.q = 1
          AND o2.chan = 'o' AND o2.q = 2 AND o3.chan = 'o' AND o3.q = 3
          AND u2.n * o1.n > o2.n * u1.n
          AND u3.n * o2.n > o3.n * u2.n""")),

    // q89: DEVIATION-FROM-AVERAGE — monthly list-price volume per
    // brand vs the brand's monthly average over the year, keeping
    // months deviating >10%: a window aggregate OVER an aggregate
    // (q47 navigates the series; q89 compares each point to the
    // partition mean). Exactness: volumes in integer CENTS
    // (quantity × 2-decimal list price × 100 is integer-valued;
    // round() before the BIGINT cast because Spark truncates
    // double→long where DuckDB rounds), and the 10% test cross-
    // multiplies (|vol·n − tot|·10 > tot) so no division ever runs.
    Q.sql("agg_tpcds_q89", """WITH monthly AS (
          SELECT p_brand, CAST(month(o_orderdate) AS INT) AS moy,
            sum(CAST(round(l_quantity * p_retailprice * 100) AS BIGINT)) AS vol_c
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          WHERE year(o_orderdate) = 1996
          GROUP BY 1, 2)
        SELECT p_brand, moy, CAST(vol_c AS BIGINT) AS vol_c,
          CAST(tot_c AS BIGINT) AS tot_c, CAST(nm AS BIGINT) AS nm
        FROM (
          SELECT p_brand, moy, vol_c,
            sum(vol_c) OVER (PARTITION BY p_brand) AS tot_c,
            count(*) OVER (PARTITION BY p_brand) AS nm
          FROM monthly)
        WHERE abs(vol_c * nm - tot_c) * 10 > tot_c"""),

    // q98: RATIO-TO-REPORT — each part type's share of its
    // brand's list-price revenue: a partition-sum window over an
    // aggregate with the share emitted in integer BASIS POINTS
    // (vol·10000 div tot — the q49 exact-division idiom), never a
    // float division. One aggregation, one window, no re-scan.
    Q("agg_tpcds_q98",
      (s, d) => {
        val byType = li(s, d)
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"))
          .agg(sum(round(col("l_quantity") * col("p_retailprice") * 100)
            .cast("long")).as("vol_c"))
        val w = Window.partitionBy(col("p_brand"))
        byType
          .withColumn("tot_c", sum(col("vol_c")).over(w))
          .withColumn("share_bp", expr("vol_c * 10000 div tot_c"))
          .select(col("p_brand"), col("p_type"), col("vol_c"),
            col("tot_c"), col("share_bp"))
      },
      Some("""WITH t AS (
          SELECT p_brand, p_type,
            sum(CAST(round(l_quantity * p_retailprice * 100) AS BIGINT)) AS vol_c
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2)
        SELECT p_brand, p_type, CAST(vol_c AS BIGINT) AS vol_c,
          CAST(sum(vol_c) OVER (PARTITION BY p_brand) AS BIGINT) AS tot_c,
          CAST(vol_c * 10000
            // CAST(sum(vol_c) OVER (PARTITION BY p_brand) AS BIGINT)
            AS BIGINT) AS share_bp
        FROM t""")),

    // q21: BEFORE/AFTER PIVOT SPLIT — quantity shipped before vs on/
    // after a pivot date per (supplier, brand), keeping groups whose
    // split stays within the [2/3, 3/2] balance band. ONE conditional-
    // aggregation scan (never two passes over the fact), and the band
    // test cross-multiplies integer quantities (the q31 idiom) so no
    // division — and no float boundary — ever runs.
    Q.sql("agg_tpcds_q21", """SELECT s_name, p_brand,
          CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1996-07-01'
                        THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_before,
          CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-07-01'
                        THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_after
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
        HAVING qty_before > 0
          AND qty_after * 2 <= qty_before * 3
          AND qty_before * 2 <= qty_after * 3"""),

    // q35: PRESENCE/ABSENCE SEGMENTATION — customers with EXISTS
    // urgent orders AND (EXISTS high OR EXISTS medium) AND NOT EXISTS
    // low-priority orders, counted by (nation, market segment). The
    // OR-of-EXISTS is ONE left-semi against the distinct union of the
    // two channels' key sets (not two correlated probes), the NOT
    // EXISTS a left-anti — three bounded key-set joins total, each an
    // equi-join on the customer key.
    Q("agg_tpcds_q35",
      (s, d) => {
        def keys(p: String) = ord(s, d)
          .filter(col("o_orderpriority") === p).select(col("o_custkey"))
        cust(s, d)
          .join(keys("1-URGENT"), col("c_custkey") === col("o_custkey"),
            "left_semi")
          .join(keys("2-HIGH").union(keys("3-MEDIUM")).distinct(),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .join(keys("5-LOW"), col("c_custkey") === col("o_custkey"),
            "left_anti")
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"),
            round(sum(round(col("c_acctbal") * 100).cast("long"))
              .cast("double") / 100, 2).as("sum_bal"))
      },
      Some("""SELECT n_name, c_mktsegment,
          CAST(count(*) AS BIGINT) AS n_cust,
          round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
            / 100, 2) AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey IN (SELECT o_custkey FROM orders
            WHERE o_orderpriority = '1-URGENT')
          AND (c_custkey IN (SELECT o_custkey FROM orders
              WHERE o_orderpriority = '2-HIGH')
            OR c_custkey IN (SELECT o_custkey FROM orders
              WHERE o_orderpriority = '3-MEDIUM'))
          AND c_custkey NOT IN (SELECT o_custkey FROM orders
            WHERE o_orderpriority = '5-LOW')
        GROUP BY 1, 2""")),

    // q39: VARIANCE-OVER-AGGREGATE + CONSECUTIVE-PERIOD SELF-JOIN —
    // per (supplier, month) shipment-quantity mean and coefficient of
    // variation, keeping suppliers erratic (cov > 1/2) in BOTH March
    // and April 1996. Exactness: quantities are integer-valued, so n,
    // Σx and Σx² are BIGINTs, and cov > τ is decided by the
    // cross-multiplied identity n·(n·Σx² − (Σx)²) > τ²·(Σx)²·(n−1)
    // (for τ = 1/2: 4·n·(n·Σx² − (Σx)²) > (Σx)²·(n−1)) — no float
    // stddev ever computed, so no cross-engine summation-order drift.
    // BIGINT headroom: with qty ≤ 50 the left side is ≤ 10⁴·n³, exact
    // while n ≲ 10⁵ rows per (supplier, month) cell; at larger fills
    // move the comparison into DECIMAL(38,0) — the cell count grows
    // with the supplier dimension, not with total fact rows.
    Q.sql("agg_tpcds_q39", """WITH m AS (
          SELECT l_suppkey, CAST(month(l_shipdate) AS INT) AS moy,
            count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS sx,
            sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sx2
          FROM lineitem WHERE year(l_shipdate) = 1996
            AND month(l_shipdate) IN (3, 4)
          GROUP BY 1, 2
          HAVING n > 1 AND n * (n * sx2 - sx * sx) * 4 > sx * sx * (n - 1))
        SELECT a.l_suppkey,
          CAST(a.n AS BIGINT) AS n_mar, CAST(a.sx AS BIGINT) AS sx_mar,
          CAST(a.sx2 AS BIGINT) AS sx2_mar,
          CAST(b.n AS BIGINT) AS n_apr, CAST(b.sx AS BIGINT) AS sx_apr,
          CAST(b.sx2 AS BIGINT) AS sx2_apr
        FROM m a JOIN m b ON a.l_suppkey = b.l_suppkey
        WHERE a.moy = 3 AND b.moy = 4"""),

    // q75: CHANNEL UNION + RETURNS NETTING + YEAR-OVER-YEAR DECLINE —
    // each channel nets returns from sales per (year, brand), the
    // channels UNION into one (year, brand) aggregate, and the
    // current year self-joins the prior to keep brands whose net
    // quantity declined. Quantities stay integer end-to-end; the
    // decline test is an exact BIGINT comparison.
    Q("agg_tpcds_q75",
      (s, d) => {
        val net = sum(when(col("l_returnflag") === "R",
          -col("l_quantity")).otherwise(col("l_quantity"))).cast("long")
        def chan(ps: Seq[String], nm: String) = li(s, d)
          .join(ord(s, d).filter(col("o_orderpriority").isin(ps: _*)),
            col("l_orderkey") === col("o_orderkey"))
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"), col("p_brand"))
          .agg(net.as("net_qty"))
          .withColumn("channel", lit(nm))
        // val, not def: both sides of the YoY join must share the
        // IDENTICAL plan subtree so the yearly aggregate's exchange is
        // built once and reused; the join is SHIFTED (cur.year =
        // prev.year + 1, the q2 WITH-chain discipline) rather than
        // filtered per side, which would split the subtree
        val yearly = chan(Seq("1-URGENT", "2-HIGH"), "fast")
          .unionByName(chan(Seq("3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
            "slow"))
          .groupBy(col("o_year"), col("p_brand"))
          .agg(sum(col("net_qty")).as("net_qty"))
        val cur = yearly
          .select(col("o_year"), col("p_brand"), col("net_qty").as("cur_qty"))
        val prev = yearly
          .select(col("o_year").as("prev_year"), col("p_brand").as("prev_brand"),
            col("net_qty").as("prev_qty"))
        cur.join(prev, col("o_year") === col("prev_year") + 1 &&
            col("p_brand") === col("prev_brand"))
          .filter(col("cur_qty") < col("prev_qty"))
          .select(col("o_year"), col("p_brand"), col("prev_qty"),
            col("cur_qty"), (col("prev_qty") - col("cur_qty")).as("decline"))
      },
      Some("""WITH chans AS (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year, p_brand,
            CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 'fast' ELSE 'slow' END AS channel,
            sum(CASE WHEN l_returnflag = 'R' THEN -CAST(l_quantity AS BIGINT)
                     ELSE CAST(l_quantity AS BIGINT) END) AS net_qty
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2, 3
        ), yearly AS (
          SELECT o_year, p_brand, sum(net_qty) AS net_qty
          FROM chans GROUP BY 1, 2)
        SELECT c.o_year, c.p_brand, CAST(p.net_qty AS BIGINT) AS prev_qty,
          CAST(c.net_qty AS BIGINT) AS cur_qty,
          CAST(p.net_qty - c.net_qty AS BIGINT) AS decline
        FROM yearly c JOIN yearly p
          ON c.p_brand = p.p_brand AND c.o_year = p.o_year + 1
        WHERE c.net_qty < p.net_qty""")),

    // q4: GROWTH-RATIO-VS-GROWTH-RATIO — customers whose year-over-year
    // revenue growth in the fast channel exceeds their growth in the
    // slow channel. TPC-DS phrases this as one CTE consumed FOUR times
    // (per year × channel) with float division; at scale the better
    // plan is ONE conditional-aggregation pass producing all four
    // cells per customer (no self-joins at all), and the ratio
    // comparison fast_y2/fast_y1 > slow_y2/slow_y1 cross-multiplies in
    // integer cents — division-free, exact. BIGINT headroom: cells are
    // per-customer-year cent sums (~1e8 here), products ~1e16 ≪ 2⁶³;
    // at fills where a cell nears 3e9 cents move the comparison into
    // DECIMAL(38,0).
    Q.sql("agg_tpcds_q4", """SELECT o_custkey,
          CAST(sum(CASE WHEN year(o_orderdate) = 1995
              AND o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS fast_y1,
          CAST(sum(CASE WHEN year(o_orderdate) = 1996
              AND o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS fast_y2,
          CAST(sum(CASE WHEN year(o_orderdate) = 1995
              AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS slow_y1,
          CAST(sum(CASE WHEN year(o_orderdate) = 1996
              AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS slow_y2
        FROM orders
        WHERE year(o_orderdate) IN (1995, 1996)
        GROUP BY 1
        HAVING fast_y1 > 0 AND slow_y1 > 0
          AND fast_y2 * slow_y1 > slow_y2 * fast_y1"""),

    // q95: SEMI-JOIN ON A SELF-DERIVED KEY SET + NOT EXISTS — orders
    // in 1996 whose line items span at least TWO distinct suppliers
    // (the multi-warehouse EXISTS) and with NO returned line item.
    // Both predicates derive from the SAME fact keyed on l_orderkey,
    // so they FUSE into one aggregate pass (count-distinct suppliers +
    // a max-flag for returns) feeding a single left-semi — one
    // lineitem scan where the naive IN + NOT IN plan reads the fact
    // twice; never a fact×fact correlated probe. Money sums in
    // integer cents.
    Q("agg_tpcds_q95",
      (s, d) => {
        // r20: re-shard measured SLOWER here (paired best-of-3:
        // 1.79 → 2.44 s) — the consumer is agg-only, so a full-row
        // round-robin exchange on the serial scan path costs more than
        // the width it buys (the partial countDistinct was already
        // fused into the scan stage). Left as-is; contrast q24/q68,
        // whose multi-join CPU above the scan does pay for the shard.
        val keyset = li(s, d)
          .groupBy(col("l_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("ns"),
            max(when(col("l_returnflag") === "R", 1).otherwise(0))
              .as("has_ret"))
          .filter(col("ns") >= 2 && col("has_ret") === 0)
          .select(col("l_orderkey"))
        ord(s, d).filter(year(col("o_orderdate")) === 1996)
          .join(keyset, col("o_orderkey") === col("l_orderkey"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("total_cents"))
      },
      Some("""SELECT o_orderpriority,
          CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS total_cents
        FROM orders
        WHERE year(o_orderdate) = 1996
          AND o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY 1
            HAVING count(DISTINCT l_suppkey) >= 2
              AND max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 0)
        GROUP BY 1""")),

    // q64: MULTI-ROUND SELF-JOIN OF A DEEP CROSS-SALES CHAIN — the
    // widest plan tree in the suite (query64.sql builds a cross_sales
    // CTE out of store_sales ⋈ store_returns ⋈ the cs_ui refund
    // key-set ⋈ a dozen dimensions, then self-joins it across two
    // sales years on item+store). Analog: cross_sales = lineitem
    // semi-joined on a SELF-DERIVED key set (parts whose returned
    // quantity is under half their sold quantity — the cs_ui analog,
    // derived from the SAME fact) ⋈ orders (two years) ⋈ part (size
    // band) ⋈ supplier ⋈ nation, aggregated per (part, nation, year);
    // the final join matches each year's cells to the NEXT year's
    // cells of the SAME (part, nation) where the later cycle bought
    // at least as many. Scale shape: the whole cross_sales subtree —
    // the semi, the four-way star, the aggregate — is ONE plan
    // subtree consumed by BOTH sides of the self-join, so its
    // aggregation exchange must materialize once and be REUSED
    // (plan-guarded in ScaleSpec along with the scan budget); at
    // 100 TB recomputing that chain per consumer doubles the dominant
    // cost. The year pairing is deliberately the CROSS-SIDE condition
    // `yr + 1 = next yr` (the q2/q59 shifted-key idiom), not a
    // per-side constant filter: a constant pushes through the
    // aggregate into each consumer's orders scan, FORKING the two
    // subtrees into non-identical plans that can't dedupe — the
    // shifted form keeps both sides byte-identical and the fact chain
    // computed once. Joined as a 1:1 equi-join on small aggregated
    // sides — never a fact×fact multiplicity. Money in integer cents.
    Q("agg_tpcds_q64",
      (s, d) => {
        // r20: re-shard measured MUCH slower here (paired best-of-3:
        // 1.73 → 3.27 s) — per-consumer column pruning forks the
        // repartition exchange into TWO full-row round-robin exchanges
        // (one per fact consumer), each on the serial scan path. Left
        // as-is; contrast q24/q68 where one consumer's join CPU pays.
        val l = li(s, d)
        // cs_ui analog: the refund-screened key set, from the same fact
        val ui = l.groupBy(col("l_partkey").as("ui_partkey"))
          .agg(sum(col("l_quantity")).as("sold_qty"),
            sum(when(col("l_returnflag") === "R", col("l_quantity"))
              .otherwise(0.0)).as("ret_qty"))
          .filter(col("ret_qty") * 2 < col("sold_qty"))
          .select(col("ui_partkey"))
        val cross = l
          .join(ui, col("l_partkey") === col("ui_partkey"), "left_semi")
          .join(ord(s, d).filter(year(col("o_orderdate")).isin(1995, 1996)),
            col("l_orderkey") === col("o_orderkey"))
          .join(prt(s, d).filter(col("p_size").between(1, 25)),
            col("l_partkey") === col("p_partkey"))
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("p_partkey"), col("n_name"),
            year(col("o_orderdate")).as("yr"))
          .agg(count(lit(1)).as("cnt"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("sale_cents"))
        val cs1 = cross.select(col("p_partkey").as("k1"),
          col("n_name").as("nn1"), col("yr").as("yr1"),
          col("cnt").as("y1_cnt"), col("sale_cents").as("y1_cents"))
        val cs2 = cross.select(col("p_partkey").as("k2"),
          col("n_name").as("nn2"), col("yr").as("yr2"),
          col("cnt").as("y2_cnt"), col("sale_cents").as("y2_cents"))
        cs1.join(cs2, col("k1") === col("k2") && col("nn1") === col("nn2") &&
            col("yr1") + 1 === col("yr2"))
          .filter(col("y2_cnt") >= col("y1_cnt"))
          .select(col("k1").as("p_partkey"), col("nn1").as("n_name"),
            col("yr1").as("base_yr"),
            col("y1_cnt"), col("y1_cents"), col("y2_cnt"), col("y2_cents"))
      },
      Some("""WITH ui AS (
          SELECT l_partkey AS ui_partkey
          FROM lineitem
          GROUP BY 1
          HAVING sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
            ELSE 0 END) * 2 < sum(l_quantity)),
        cross_sales AS (
          SELECT p_partkey, n_name, year(o_orderdate) AS yr,
            CAST(count(*) AS BIGINT) AS cnt,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS sale_cents
          FROM lineitem, orders, part, supplier, nation
          WHERE l_partkey IN (SELECT ui_partkey FROM ui)
            AND l_orderkey = o_orderkey
            AND year(o_orderdate) IN (1995, 1996)
            AND l_partkey = p_partkey AND p_size BETWEEN 1 AND 25
            AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          GROUP BY 1, 2, 3)
        SELECT cs1.p_partkey, cs1.n_name, CAST(cs1.yr AS INT) AS base_yr,
          cs1.cnt AS y1_cnt, cs1.sale_cents AS y1_cents,
          cs2.cnt AS y2_cnt, cs2.sale_cents AS y2_cents
        FROM cross_sales cs1 JOIN cross_sales cs2
          ON cs1.p_partkey = cs2.p_partkey AND cs1.n_name = cs2.n_name
          AND cs1.yr + 1 = cs2.yr
          AND cs2.cnt >= cs1.cnt""")),

    // q65: UNDERPERFORMING store-items — per-(store, item) revenue vs
    // 10% of the store's average item revenue, dims joined back AFTER
    // the filter (store → supplier, item → part). The textbook form
    // self-joins the pair-revenue CTE against its own per-store
    // average; here the average is a WINDOW over the already-
    // aggregated pairs instead — per-consumer column pruning forks a
    // twice-consumed CTE's subtrees (no exchange dedupe, the q64
    // lesson in reverse), while the window form aggregates the fact
    // ONCE by construction and adds only an O(pairs) re-shuffle by
    // store. The threshold compare stays in INTEGER 10^-4-dollar
    // units (price cents × discount-complement percent),
    // cross-multiplied (rev·10·cnt ≤ tot) so no engine ever divides —
    // exact cross-engine at any SF, no HALF_UP/HALF_EVEN boundary.
    Q("agg_tpcds_q65",
      (s, d) => {
        val rev4 = (round(col("l_extendedprice") * 100).cast("long") *
          round((lit(1) - col("l_discount")) * 100).cast("long"))
        val bySupp = Window.partitionBy(col("l_suppkey"))
        li(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
          .groupBy("l_suppkey", "l_partkey")
          .agg(sum(rev4).as("rev_e4"))
          .withColumn("tot_e4", sum(col("rev_e4")).over(bySupp))
          .withColumn("cnt", count(lit(1)).over(bySupp))
          .filter(col("rev_e4") * 10 * col("cnt") <= col("tot_e4"))
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .select(col("s_name"), col("p_brand"), col("p_partkey"),
            col("rev_e4"))
      },
      Some("""WITH sa AS (
          SELECT l_suppkey, l_partkey,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
              AS rev_e4
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1996-01-01'
          GROUP BY 1, 2),
        sc AS (SELECT l_suppkey,
            CAST(sum(rev_e4) AS BIGINT) AS tot_e4,
            CAST(count(*) AS BIGINT) AS cnt
          FROM sa GROUP BY 1)
        SELECT s_name, p_brand, p_partkey, rev_e4
        FROM sa
        JOIN sc ON sa.l_suppkey = sc.l_suppkey
        JOIN supplier ON sa.l_suppkey = s_suppkey
        JOIN part ON sa.l_partkey = p_partkey
        WHERE rev_e4 * 10 * cnt <= tot_e4""")),

    // q41: dimension-only correlated EXISTS with a disjunctive
    // attribute tree — distinct product names in a size band whose
    // BRAND (the manufacturer analog) also makes some specialty
    // configuration. Decorrelated to a semi-join against the distinct
    // qualifying brand set: at 100 TB the dimension is still small,
    // but the shape (same-table correlated subquery + OR tree) is what
    // planners historically fumble, so it earns a plan of its own.
    Q("agg_tpcds_q41",
      (s, d) => {
        val p = prt(s, d)
        val specialty = p.filter(
          (col("p_type") === "ECONOMY" && col("p_size").between(1, 5)) ||
          (col("p_type") === "PROMO" && col("p_size").between(6, 10)) ||
          (col("p_type") === "LARGE" && col("p_size").between(11, 15)) ||
          (col("p_type") === "SMALL" && col("p_size").between(16, 20)))
          .select(col("p_brand").as("q_brand")).distinct()
        p.filter(col("p_size").between(1, 15))
          .join(broadcast(specialty), col("p_brand") === col("q_brand"),
            "left_semi")
          .select("p_name").distinct()
      },
      Some("""SELECT DISTINCT p_name
        FROM part p1
        WHERE p_size BETWEEN 1 AND 15
          AND EXISTS (SELECT 1 FROM part p2
            WHERE p2.p_brand = p1.p_brand
              AND ((p2.p_type = 'ECONOMY' AND p2.p_size BETWEEN 1 AND 5)
                OR (p2.p_type = 'PROMO' AND p2.p_size BETWEEN 6 AND 10)
                OR (p2.p_type = 'LARGE' AND p2.p_size BETWEEN 11 AND 15)
                OR (p2.p_type = 'SMALL' AND p2.p_size BETWEEN 16 AND 20)))""")),

    // ===== round 17 additions (VERDICT r16 #6): new PLAN SHAPES =====

    // q77: UNION of per-channel JOINED AGGREGATES + rollup — unlike q5
    // (which unions raw rows and aggregates once), each channel first
    // computes a sales aggregate LEFT JOINed to a returns aggregate,
    // and only the (channel, nation) AGGREGATE frames are unioned and
    // rolled up. Customer nation vs supplier nation play the two
    // channels. All money in integer cents (exact cross-engine).
    Q.sql("agg_tpcds_q77", """WITH cust_sales AS (
          SELECT /*+ BROADCAST(nation) */ n_name, sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS sales_c
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag <> 'R' GROUP BY 1),
        cust_returns AS (
          SELECT /*+ BROADCAST(nation) */ n_name, sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS ret_c
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R' GROUP BY 1),
        supp_sales AS (
          SELECT /*+ BROADCAST(nation) */ n_name, sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS sales_c
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE l_returnflag <> 'R' GROUP BY 1),
        supp_returns AS (
          SELECT /*+ BROADCAST(nation) */ n_name, sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS ret_c
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE l_returnflag = 'R' GROUP BY 1),
        channels AS (
          SELECT 'cust' AS channel, s.n_name, s.sales_c, COALESCE(r.ret_c, 0) AS ret_c
          FROM cust_sales s LEFT JOIN cust_returns r ON s.n_name = r.n_name
          UNION ALL
          SELECT 'supp' AS channel, s.n_name, s.sales_c, COALESCE(r.ret_c, 0) AS ret_c
          FROM supp_sales s LEFT JOIN supp_returns r ON s.n_name = r.n_name)
        SELECT channel, n_name, CAST(sum(sales_c) AS BIGINT) AS sales_c,
          CAST(sum(ret_c) AS BIGINT) AS ret_c,
          CAST(sum(sales_c) - sum(ret_c) AS BIGINT) AS profit_c
        FROM channels GROUP BY ROLLUP(channel, n_name)"""),

    // q57: deviation BANDS over a monthly series — q47's lag/lead
    // navigation PLUS the selection q57 adds: months whose volume
    // deviates >10% from their nation's YEARLY average, with the
    // neighboring months alongside. Two window frames (yearly
    // partition sum/count + ordered lag/lead) over ONE aggregate; the
    // 10% test in exact integer cross-multiplication, never division.
    Q.sql("agg_tpcds_q57", """WITH monthly AS (
          SELECT /*+ BROADCAST(nation) */ n_name, CAST(year(o_orderdate) AS INT) AS yr,
            CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
            sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS vol_c
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2, 3),
        dev AS (
          SELECT n_name, ym, vol_c,
            sum(vol_c) OVER (PARTITION BY n_name, yr) AS tot_c,
            count(*) OVER (PARTITION BY n_name, yr) AS nm,
            lag(vol_c) OVER (PARTITION BY n_name ORDER BY ym) AS psum,
            lead(vol_c) OVER (PARTITION BY n_name ORDER BY ym) AS nsum
          FROM monthly)
        SELECT n_name, ym, CAST(vol_c AS BIGINT) AS vol_c,
          CAST(tot_c AS BIGINT) AS tot_c, CAST(nm AS BIGINT) AS nm,
          CAST(psum AS BIGINT) AS psum, CAST(nsum AS BIGINT) AS nsum
        FROM dev
        WHERE abs(vol_c * nm - tot_c) * 10 > tot_c
          AND psum IS NOT NULL AND nsum IS NOT NULL"""),

    // q10: multi-EXISTS customer PROFILE — active customers (an order
    // in the period) who ALSO bought big (quantity > 45) OR spent big
    // (an order > 300k), counted per (nation, segment). q35's cousin
    // with a different predicate tree: two decorrelated key sets (the
    // OR of two EXISTS becomes a semi-join against their UNION), no
    // anti branch, and the profile grain is the demographic pair.
    Q("agg_tpcds_q10",
      (s, d) => {
        val inPeriod = ord(s, d)
          .filter(year(col("o_orderdate")).between(1995, 1996))
          .select(col("o_custkey")).distinct()
        val bigQty = li(s, d).filter(col("l_quantity") > 45)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"))
        val bigSpend = ord(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey"))
        val either = bigQty.unionByName(bigSpend).distinct()
        cust(s, d)
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(inPeriod, col("c_custkey") === col("o_custkey"), "left_semi")
          .join(either, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("n_name"), col("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"))
      },
      Some("""SELECT n_name, c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
            AND year(o_orderdate) BETWEEN 1995 AND 1996)
          AND (EXISTS (SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                WHERE o_custkey = c_custkey AND l_quantity > 45)
            OR EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                AND o_totalprice > 300000))
        GROUP BY 1, 2""")),

    // q54: SEGMENT HISTOGRAM over a derived per-customer aggregate —
    // the March-1995 cohort's spend over the following quarter,
    // bucketed into $50k segments, customers counted per segment. The
    // shape TPC-DS uses nowhere else: aggregate → bucketize → second
    // aggregate over the BUCKETS of the first. Integer cents and `div`
    // bucketing keep it exact.
    Q("agg_tpcds_q54",
      (s, d) => {
        val cohort = ord(s, d)
          .filter(year(col("o_orderdate")) === 1995 &&
            month(col("o_orderdate")) === 3)
          .select(col("o_custkey")).distinct()
        ord(s, d)
          .filter(year(col("o_orderdate")) === 1995 &&
            month(col("o_orderdate")).between(4, 6))
          .join(cohort, Seq("o_custkey"), "left_semi")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("rev_c"))
          .select(expr("rev_c div 5000000").as("segment"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("num_customers"))
      },
      Some("""WITH cohort AS (
          SELECT DISTINCT o_custkey FROM orders
          WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = 3),
        spend AS (
          SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
          FROM orders
          WHERE o_custkey IN (SELECT o_custkey FROM cohort)
            AND year(o_orderdate) = 1995 AND month(o_orderdate) BETWEEN 4 AND 6
          GROUP BY 1)
        SELECT CAST(rev_c // 5000000 AS BIGINT) AS segment,
          CAST(count(*) AS BIGINT) AS num_customers
        FROM spend GROUP BY 1""")),

    // q70: RANKED DIMENSION PRE-SELECTION feeding a rollup — the top-5
    // nations by revenue (TakeOrdered over an aggregate, broadcast back
    // as a 5-row semi key set; deterministic n_name tiebreak) restrict
    // the fact BEFORE a ROLLUP(nation, segment). The scale point: the
    // "top states" selection never becomes a global sort of the fact —
    // it is a 25-row aggregate ordered on the driver path, and the
    // fact is pruned by a broadcast semi-join.
    Q("agg_tpcds_q70",
      (s, d) => {
        val onc = ord(s, d)
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        val cents = sum(round(col("o_totalprice") * 100).cast("long"))
        val top5 = onc.groupBy(col("n_name")).agg(cents.as("rev_c"))
          .orderBy(col("rev_c").desc, col("n_name")).limit(5)
          .select(col("n_name"))
        onc.join(broadcast(top5), Seq("n_name"), "left_semi")
          .rollup(col("n_name"), col("c_mktsegment"))
          .agg(cents.as("rev_c"), count(lit(1)).as("n"))
      },
      Some("""WITH nat_rev AS (
          SELECT n_name, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
        top5 AS (
          SELECT n_name FROM (
            SELECT n_name, rank() OVER (ORDER BY rev_c DESC, n_name) AS rk
            FROM nat_rev)
          WHERE rk <= 5)
        SELECT n_name, c_mktsegment,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
          CAST(count(*) AS BIGINT) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name IN (SELECT n_name FROM top5)
        GROUP BY ROLLUP(n_name, c_mktsegment)""")),

    // q44: DUAL ASC/DESC RANKING of one aggregate — best and worst ten
    // parts by revenue, from a single per-part aggregate consumed by
    // two opposite TakeOrdered(10)s (never a global rank window — the
    // limit IS the rank cut, with a p_partkey tiebreak), unioned and
    // joined back to the dimension for names. The aggregate exchange
    // should materialize once and be reused by both rankings.
    Q("agg_tpcds_q44",
      (s, d) => {
        val byPart = li(s, d).groupBy(col("l_partkey"))
          .agg(sum(round(rev * 100).cast("long")).as("total_c"))
        val best = byPart.orderBy(col("total_c").desc, col("l_partkey"))
          .limit(10).withColumn("side", lit("best"))
        val worst = byPart.orderBy(col("total_c").asc, col("l_partkey"))
          .limit(10).withColumn("side", lit("worst"))
        best.unionByName(worst)
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .select(col("side"), col("p_partkey"), col("p_name"),
            col("total_c"))
      },
      Some("""WITH by_part AS (
          SELECT l_partkey,
            sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS total_c
          FROM lineitem GROUP BY 1)
        SELECT 'best' AS side, p_partkey, p_name,
          CAST(total_c AS BIGINT) AS total_c FROM (
          SELECT * FROM by_part ORDER BY total_c DESC, l_partkey LIMIT 10)
          JOIN part ON l_partkey = p_partkey
        UNION ALL
        SELECT 'worst' AS side, p_partkey, p_name,
          CAST(total_c AS BIGINT) AS total_c FROM (
          SELECT * FROM by_part ORDER BY total_c ASC, l_partkey LIMIT 10)
          JOIN part ON l_partkey = p_partkey""")),

    // q22: AVERAGE-over-ROLLUP at three dimension levels — the
    // inventory-averages shape: one fact pass, ONE Expand for all four
    // grouping levels, and the average emitted as exact integer
    // centi-units (sum·100 div n — l_quantity is integer-valued) so
    // every level compares exactly cross-engine.
    Q("agg_tpcds_q22",
      (s, d) => li(s, d)
        .join(prt(s, d), col("l_partkey") === col("p_partkey"))
        .rollup(col("p_brand"), col("p_type"), col("p_size"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty_e2", expr("sum_qty * 100 div n"))
        .select(col("p_brand"), col("p_type"), col("p_size"),
          col("sum_qty"), col("n"), col("avg_qty_e2")),
      Some("""SELECT p_brand, p_type, p_size,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(l_quantity AS BIGINT)) * 100 // count(*) AS BIGINT) AS avg_qty_e2
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY ROLLUP(p_brand, p_type, p_size)""")),

    // q36: gross-margin ROLLUP with rank WITHIN EACH GROUPING LEVEL —
    // the lochierarchy idiom: margin in integer basis points
    // (net·10⁴ div list — exact, never a float ratio), ranked inside
    // (level, type-if-brand-level) partitions, where q67 ranks only
    // inside one fixed dimension.
    Q("agg_tpcds_q36",
      (s, d) => {
        val rolled = li(s, d)
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .rollup(col("p_type"), col("p_brand"))
          .agg(sum(round(rev * 100).cast("long")).as("net_c"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("list_c"),
            (grouping(col("p_type")) + grouping(col("p_brand")))
              .cast("long").as("lochierarchy"))
          .withColumn("margin_bp", expr("net_c * 10000 div list_c"))
        val w = Window.partitionBy(col("lochierarchy"),
            when(col("lochierarchy") === 0, col("p_type")))
          .orderBy(col("margin_bp").asc,
            coalesce(col("p_brand"), lit("")),
            coalesce(col("p_type"), lit("")))
        rolled.withColumn("rk", rank().over(w).cast("int"))
          .select(col("p_type"), col("p_brand"), col("lochierarchy"),
            col("margin_bp"), col("rk"))
      },
      Some("""WITH rolled AS (
          SELECT p_type, p_brand,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_c,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS list_c,
            CAST(GROUPING(p_type) + GROUPING(p_brand) AS BIGINT) AS lochierarchy
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY ROLLUP(p_type, p_brand))
        SELECT p_type, p_brand, lochierarchy,
          CAST(net_c * 10000 // list_c AS BIGINT) AS margin_bp,
          CAST(rank() OVER (
            PARTITION BY lochierarchy,
              CASE WHEN lochierarchy = 0 THEN p_type END
            ORDER BY net_c * 10000 // list_c ASC,
              COALESCE(p_brand, ''), COALESCE(p_type, '')) AS INT) AS rk
        FROM rolled""")),

    // q68: cross-dimension INEQUALITY cohort — orders with ANY line
    // supplied from a nation different from the customer's home
    // nation ("bought from abroad"), big extended-price orders only
    // (> $350k, exact integer cents). The dim≠dim predicate is a
    // CONDITIONAL AGGREGATE (max of the inequality flag) inside the
    // one order-grain aggregation — NOT a distinct-keyset semi
    // pre-filter, which would scan lineitem twice to remove almost
    // nothing (with 25 nations ~96% of multi-line orders have a
    // foreign line); c_name/n_name ride the group-by (functionally
    // dependent on the order), so there is no join-back either. ONE
    // lineitem pass total.
    Q("agg_tpcds_q68",
      // r20: re-shard the 3-split fact scan — the 4-join + wide-key
      // aggregation stage ran 3-wide (0.87 s CPU); see q24's note
      (s, d) => graft.operators.Layout.parallelizeSmallInput(li(s, d))
        .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("o_orderkey"), col("c_name"), col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("ext_c"),
          count(lit(1)).as("n_lines"),
          max(when(col("s_nationkey") =!= col("c_nationkey"), 1)
            .otherwise(0)).as("has_foreign"))
        .filter(col("has_foreign") === 1 && col("ext_c") > 35000000L)
        .select(col("c_name"), col("n_name"), col("o_orderkey"),
          col("ext_c"), col("n_lines")),
      Some("""SELECT c_name, n_name, o_orderkey, ext_c, n_lines FROM (
          SELECT l_orderkey AS o_orderkey, c_name, n_name,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ext_c,
            CAST(count(*) AS BIGINT) AS n_lines,
            max(CASE WHEN s_nationkey <> c_nationkey THEN 1 ELSE 0 END) AS has_foreign
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2, 3)
        WHERE has_foreign = 1 AND ext_c > 35000000""")),

    // q87: the EXCEPT chain — customers in channel 1 but in NEITHER of
    // the other two (q38 covers the INTERSECT triple; EXCEPT is the
    // remaining multi-channel set operator, planned as chained
    // anti key-set joins over distinct key sets).
    Q.sql("agg_tpcds_q87", """SELECT CAST(count(*) AS BIGINT) AS n FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '3-MEDIUM')"""),

    // q97: the channel OVERLAP MATRIX — two distinct customer key sets
    // FULL OUTER joined, with both/left-only/right-only counted from
    // the join's null pattern in one aggregation (the generic
    // set-reconciliation report shape).
    Q.sql("agg_tpcds_q97", """WITH ch1 AS (SELECT DISTINCT o_custkey AS k FROM orders
            WHERE year(o_orderdate) = 1995),
          ch2 AS (SELECT DISTINCT o_custkey AS k FROM orders
            WHERE year(o_orderdate) = 1996)
        SELECT
          CAST(sum(CASE WHEN ch1.k IS NOT NULL AND ch2.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_ch,
          CAST(sum(CASE WHEN ch1.k IS NOT NULL AND ch2.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_1,
          CAST(sum(CASE WHEN ch1.k IS NULL AND ch2.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_2
        FROM ch1 FULL OUTER JOIN ch2 ON ch1.k = ch2.k"""),

    // q45: DISJUNCTIVE admission across a dimension predicate and a
    // fact-derived key set — customers in a nation short-list OR
    // buyers of small parts. The OR cannot be a semi join (it would
    // drop the dim-only rows), so the IN under the OR plans as an
    // existence join against the DISTINCT buyer keys and the
    // disjunction is one filter — never two unioned scans of the fact.
    Q.sql("agg_tpcds_q45", """WITH wanted_parts AS (
          SELECT p_partkey FROM part WHERE p_size IN (1, 2, 3)),
        buyers AS (
          SELECT DISTINCT o_custkey FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          WHERE l_partkey IN (SELECT p_partkey FROM wanted_parts))
        SELECT /*+ BROADCAST(nation) */ n_name, c_mktsegment,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
          CAST(count(*) AS BIGINT) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
           OR o_custkey IN (SELECT o_custkey FROM buyers)
        GROUP BY 1, 2"""),

    // q66: the WIDE HORIZONTAL PIVOT report — one year's sales spread
    // into twelve per-month columns plus a total, ALL as conditional
    // sums inside ONE aggregation pass (q66's web-warehouse report
    // emits 24 such columns; the shape is the 12-way CASE pivot, which
    // the generic `pivot_wide` operator covers dynamically but no
    // TPC-DS analog exercised as a static plan). Integer cents.
    Q.sql("agg_tpcds_q66", "SELECT /*+ BROADCAST(nation) */ n_name,\n" +
        (1 to 12).map(m =>
          s"  CAST(sum(CASE WHEN month(o_orderdate) = $m THEN " +
          s"CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS m${m}_c,")
          .mkString("\n") + """
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE year(o_orderdate) = 1996
        GROUP BY 1"""),

    // q11: the year-over-year TWO-CHANNEL self-compare (query11.sql —
    // store vs web customer totals, web growth ratio beating store
    // growth): here the two channels are two DIFFERENT FACTS — order
    // headers ("store") and line-level revenue ("web") — each pivoted
    // to (y1, y2) cells in its OWN single conditional-agg pass, then
    // one per-customer equi-join and the ratio-of-deltas comparison in
    // integer cross-multiplied cents (w2/w1 > s2/s1 with both
    // first-year totals required positive, exactly query11's
    // CASE-protected ratio). Scale: each channel shuffles once at
    // customer grain (pre-pivoted, 2 cells/customer), the join carries
    // one row per customer per side; the customer dim joins back
    // AFTER the filter for the attribute output, never before.
    Q.sql("agg_tpcds_q11", """WITH store AS (
          SELECT o_custkey,
            sum(CASE WHEN year(o_orderdate) = 1995
              THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS s_y1,
            sum(CASE WHEN year(o_orderdate) = 1996
              THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS s_y2
          FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1
        ), web AS (
          SELECT o_custkey,
            sum(CASE WHEN year(o_orderdate) = 1995
              THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
              ELSE 0 END) AS w_y1,
            sum(CASE WHEN year(o_orderdate) = 1996
              THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
              ELSE 0 END) AS w_y2
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1)
        SELECT o_custkey, c_mktsegment,
          CAST(s_y1 AS BIGINT) AS s_y1, CAST(s_y2 AS BIGINT) AS s_y2,
          CAST(w_y1 AS BIGINT) AS w_y1, CAST(w_y2 AS BIGINT) AS w_y2
        FROM store JOIN web USING (o_custkey)
        JOIN customer ON o_custkey = c_custkey
        WHERE s_y1 > 0 AND w_y1 > 0 AND w_y2 * s_y1 > s_y2 * w_y1"""),

    // q30: correlated scalar subquery vs the PER-GROUP AVERAGE
    // (query30.sql — customers whose web-return total exceeds 1.2x the
    // average return total of their state), decorrelated the SECOND
    // way: where the q1 analog decorrelates via re-aggregate +
    // broadcast join-back, this one uses WINDOW functions over the
    // per-customer frame (sum/count OVER (PARTITION BY nation)) — zero
    // extra join, one exchange at nation grain, the plan Catalyst
    // can't reach from the correlated form on its own. The 1.2x
    // threshold is the integer cross-multiply total*cnt*5 > tot*6;
    // customer attributes join back AFTER the filter (query30's
    // c_first_name... emission).
    Q.sql("agg_tpcds_q30", """WITH ret AS (
          SELECT c_custkey, c_nationkey,
            sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS ret_c
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE l_returnflag = 'R' GROUP BY 1, 2
        ), w AS (
          SELECT *, sum(ret_c) OVER (PARTITION BY c_nationkey) AS tot,
            count(*) OVER (PARTITION BY c_nationkey) AS cnt
          FROM ret)
        SELECT w.c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
          w.c_nationkey, CAST(ret_c AS BIGINT) AS ret_c
        FROM w JOIN customer ON w.c_custkey = customer.c_custkey
        WHERE ret_c * cnt * 5 > tot * 6"""),

    // q93: RETURNS-ADJUSTED net quantity (query93.sql — store_sales
    // LEFT JOIN store_returns on (item, ticket), quantity replaced by
    // ss_quantity - sr_return_quantity where a return matched): the
    // fact-to-fact left join with REPLACEMENT semantics. Scale
    // discipline: the returns side pre-aggregates to its join grain
    // (orderkey, partkey) BEFORE the fact-fact join, so the join
    // carries one returns row per pair. OUTER-SIDE MULTIPLICITY
    // CAVEAT (ADVICE r18): unlike TPC-DS tickets, TPC-H lineitem can
    // hold several lines per (orderkey, partkey) — each matching
    // outer line then subtracts the pair's WHOLE aggregated ret_qty
    // (and 'R' lines subtract their pair total from themselves), so
    // the analog's replacement semantics are per-LINE-vs-pair-total,
    // intentionally coarser than q93's per-ticket subtraction. The
    // oracle mirrors the identical rule; what the pre-aggregation
    // buys is the scale shape (no line-level fan-out through the
    // join), not per-line apportionment. Net quantities are
    // integer-valued doubles summed per customer (exact under any
    // summation order).
    // Body kept: a Bench calibration member, so cal_version 2 stays comparable.
    Q("agg_tpcds_q93",
      (s, d) => {
        val rets = li(s, d).filter(col("l_returnflag") === "R")
          .groupBy(col("l_orderkey").as("r_orderkey"),
            col("l_partkey").as("r_partkey"))
          .agg(sum(col("l_quantity")).as("ret_qty"))
        li(s, d)
          .join(rets, col("l_orderkey") === col("r_orderkey") &&
            col("l_partkey") === col("r_partkey"), "left")
          .withColumn("net_qty",
            when(col("ret_qty").isNotNull,
              col("l_quantity") - col("ret_qty"))
              .otherwise(col("l_quantity")))
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("net_qty")).cast("long").as("net_quantity"),
            count(lit(1)).as("n_lines"))
          .filter(col("net_quantity") > 0)
      },
      Some("""WITH rets AS (
          SELECT l_orderkey AS r_orderkey, l_partkey AS r_partkey,
            sum(l_quantity) AS ret_qty
          FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2)
        SELECT o_custkey,
          CAST(sum(CASE WHEN ret_qty IS NOT NULL
            THEN l_quantity - ret_qty ELSE l_quantity END) AS BIGINT)
            AS net_quantity,
          count(*) AS n_lines
        FROM lineitem
        LEFT JOIN rets ON l_orderkey = r_orderkey AND l_partkey = r_partkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
        HAVING CAST(sum(CASE WHEN ret_qty IS NOT NULL
          THEN l_quantity - ret_qty ELSE l_quantity END) AS BIGINT) > 0""")),

    // q99: the shipping-delay interval PIVOT GRID (query99.sql — five
    // 30-day lateness bands counted per (month, warehouse, ship_mode,
    // call_center)): where the q62 analog pivots four bands over ONE
    // categorical dim, this is the full grid — a DERIVED time
    // dimension (order month) x a star dim (supplier nation) x five
    // bands on the ship lag, all in ONE fact-pass conditional
    // aggregate. Scale: supplier and nation broadcast (fixed
    // cardinality), one fact-fact shuffle join (lineitem x orders),
    // one aggregate exchange at (nation, month) grain = at most
    // 25 x 12 rows.
    Q("agg_tpcds_q99",
      (s, d) => {
        val lag = datediff(col("l_shipdate"), col("o_orderdate"))
        def band(name: String, cond: org.apache.spark.sql.Column) =
          sum(when(cond, 1).otherwise(0)).cast("long").as(name)
        li(s, d)
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), month(col("o_orderdate")).as("moy"))
          .agg(band("d30", lag <= 30),
            band("d60", lag > 30 && lag <= 60),
            band("d90", lag > 60 && lag <= 90),
            band("d120", lag > 90 && lag <= 120),
            band("d120plus", lag > 120))
      },
      Some("""SELECT n_name, CAST(month(o_orderdate) AS INT) AS moy,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 30)
            AS BIGINT) AS d30,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
            BETWEEN 31 AND 60) AS BIGINT) AS d60,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
            BETWEEN 61 AND 90) AS BIGINT) AS d90,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
            BETWEEN 91 AND 120) AS BIGINT) AS d120,
          CAST(count(*) FILTER (WHERE date_diff('day',
            CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 120)
            AS BIGINT) AS d120plus
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2""")),

    // q58: the SYMMETRIC mutual-band compare (query58.sql — items
    // whose store/catalog/web revenues are each within 10% of the
    // others): two channel aggregates at item grain joined once, kept
    // only when EACH side lies inside the other's ±10% band — the
    // two-sided inequality pair that admits no semi-join reduction.
    // Channels here are two sales years of the same fact. All
    // arithmetic in integer cents with the band as cross-multiplied
    // longs (9·b ≤ 10·a ≤ 11·b both ways) — no float boundary can
    // diverge cross-engine. Scale: each channel is one pre-aggregated
    // pass at part grain; the join carries one row per part per side.
    Q.sql("agg_tpcds_q58", """WITH y95 AS (
          SELECT l_partkey,
            sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS rev95_c
          FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1
        ), y96 AS (
          SELECT l_partkey,
            sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS rev96_c
          FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1)
        SELECT l_partkey, CAST(rev95_c AS BIGINT) AS rev95_c,
          CAST(rev96_c AS BIGINT) AS rev96_c
        FROM y95 JOIN y96 USING (l_partkey)
        WHERE rev95_c * 10 >= rev96_c * 9 AND rev95_c * 10 <= rev96_c * 11
          AND rev96_c * 10 >= rev95_c * 9 AND rev96_c * 10 <= rev95_c * 11"""),

    // q92: EXCESS DISCOUNT (query92.sql — web sales whose discount
    // exceeds 1.3x the item's average discount over a 90-day window,
    // summed to ONE scalar): the fact-side correlated aggregate —
    // the subquery averages the SAME fact rows the outer query reads,
    // bounded by the same date window. Decorrelated: one windowed
    // scan aggregates (sum, count) of per-item discount basis points,
    // joined back to the windowed fact rows, the 1.3x test as exact
    // integer cross-multiply (10·bp·cnt > 13·sum_bp), excess summed
    // in cents. Scale: the per-item average frame is part-grain
    // (broadcast-sized vs the fact); one fact scan feeds both sides
    // under exchange reuse.
    Q.sql("agg_tpcds_q92", """WITH win AS (
          SELECT * FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1995-07-01'
        ), avgf AS (
          SELECT l_partkey AS a_partkey,
            sum(CAST(round(l_discount * 100) AS BIGINT)) AS sum_bp,
            count(*) AS cnt
          FROM win GROUP BY 1)
        SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
            AS BIGINT)) AS BIGINT) AS excess_c,
          count(*) AS n_lines
        FROM win JOIN avgf ON l_partkey = a_partkey
        WHERE CAST(round(l_discount * 100) AS BIGINT) * cnt * 10
          > sum_bp * 13"""),

    // q13: the DISJUNCTIVE MULTI-BAND scan (query13.sql — one
    // store_sales pass filtered by an OR of three (demographic x
    // price-band x quantity-band) conjunctions, aggregating ONE global
    // row): bands here are (mktsegment, extendedprice range, quantity
    // range) triples over lineitem x orders x customer. The whole
    // disjunction is ONE scan predicate — never three unioned passes —
    // and the measures are exact integers (cents / integer-valued
    // quantity sums / counts), so no avg-rounding can diverge
    // cross-engine. Scale: predicate evaluates rowwise post-join;
    // nothing shuffles but the final single-row fold.
    Q.sql("agg_tpcds_q13", """SELECT
          CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
            AS BIGINT)) AS BIGINT) AS rev_c,
          CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE (c_mktsegment = 'BUILDING' AND l_extendedprice >= 1000
            AND l_extendedprice < 20000 AND l_quantity BETWEEN 1 AND 15)
          OR (c_mktsegment = 'AUTOMOBILE' AND l_extendedprice >= 5000
            AND l_extendedprice < 40000 AND l_quantity BETWEEN 10 AND 35)
          OR (c_mktsegment = 'MACHINERY' AND l_extendedprice >= 20000
            AND l_extendedprice < 60000 AND l_quantity BETWEEN 25 AND 50)"""),

    // q61: the PROMOTIONAL-REVENUE RATIO (query61.sql — promotional
    // sales over total sales for one store/month, two correlated
    // scalar subqueries divided): both subqueries read the SAME
    // dimension-filtered slice, so they FUSE into one conditional
    // aggregate over one scan (the reference plan runs the fact twice)
    // with the ratio as exact integer basis points via DIV. Promo
    // analog: discount >= 5%; slice: 1995 orders by BUILDING-segment
    // customers. Output is ONE row — the scalar-ratio plan shape.
    Q("agg_tpcds_q61",
      (s, d) => {
        val cents = round(rev * 100).cast("long")
        li(s, d)
          .join(ord(s, d).filter(year(col("o_orderdate")) === 1995),
            col("l_orderkey") === col("o_orderkey"))
          .join(cust(s, d).filter(col("c_mktsegment") === "BUILDING"),
            col("o_custkey") === col("c_custkey"))
          .agg(
            sum(when(col("l_discount") >= 0.05, cents).otherwise(0L))
              .as("promo_c"),
            sum(cents).as("total_c"))
          .selectExpr("promo_c", "total_c",
            "promo_c * 10000 DIV total_c AS promo_bp")
      },
      Some("""WITH t AS (
          SELECT
            sum(CASE WHEN l_discount >= 0.05
              THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT) ELSE 0 END) AS promo_c,
            sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT)) AS total_c
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE year(o_orderdate) = 1995 AND c_mktsegment = 'BUILDING')
        SELECT CAST(promo_c AS BIGINT) AS promo_c,
          CAST(total_c AS BIGINT) AS total_c,
          CAST(promo_c * 10000 // total_c AS BIGINT) AS promo_bp
        FROM t""")),

    // q6: the DIMENSION-SIDE correlated average (query6.sql — count
    // customers per state buying items priced above 1.2x their
    // category's average, HAVING >= 10): the third decorrelation
    // variant in the suite — q1/q30 decorrelate per-GROUP averages of
    // fact aggregates (re-agg + join-back / window); here the
    // correlated subquery reads only the part DIMENSION, so it
    // becomes one dim-grain aggregate + a broadcast join-back INSIDE
    // the dim before the fact ever joins — the fact scan sees a
    // pre-reduced key set. Threshold 1.03x (not query6's 1.2x: this
    // data's retail prices are uniform within ~±5% of the mean, so
    // 1.2x selects nothing — same shape, tightened constant), as the
    // exact integer cross-multiply price_c*cnt*100 > sum_c*103.
    Q.sql("agg_tpcds_q6", """WITH typavg AS (
          SELECT p_type AS t_type,
            sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS sum_c,
            count(*) AS cnt
          FROM part GROUP BY 1
        ), rich AS (
          SELECT /*+ BROADCAST(typavg) */ p_partkey FROM part JOIN typavg ON p_type = t_type
          WHERE CAST(round(p_retailprice * 100) AS BIGINT) * cnt * 100
            > sum_c * 103)
        SELECT /*+ BROADCAST(rich, nation) */ n_name, count(*) AS cnt
        FROM lineitem
        JOIN rich ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
        HAVING count(*) >= 10"""),

    // ================= round 19 additions (VERDICT r18 #4) =========

    // q14b (query14b.sql — the full INTERSECT-CTE form the r9 q14
    // grouping-sets analog skipped): cross_items = the brand set sold
    // in ALL THREE channels (INTERSECT of per-channel distinct sets),
    // avg_sales = a scalar threshold over every channel's group sums,
    // then per-channel brand sales filtered to cross_items AND above
    // the scalar. Scale shape: the brand sets are dimension-grain
    // (distinct on an already-grouped key), the scalar broadcasts, and
    // the threshold compares in EXACT decimal cross-multiply
    // (s · nGroups > total) so no float-boundary row can flip.
    Q("agg_tpcds_q14b",
      (s, d) => {
        val chans = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
        // r20 NEGATIVE RESULT, kept as-is after measurement: a
        // single-pass rewrite (windows over `grouped` for both the
        // cross-channel gate and the stats scalar, plus the q24-style
        // re-shard) measured 1.48 s best-of-8 vs 0.84 s for THIS form
        // on an adjacent same-host run — 1.7x SLOWER despite running
        // one fact pass instead of three. Cause: the three channel
        // branches below are INDEPENDENT plan subtrees, so their three
        // single-row-group scans execute as CONCURRENT stages (3 cores
        // decode in parallel, wall = max not sum), while the fused
        // form serializes one decode + a full-row exchange on the
        // critical path. At a real many-split scale the one-pass form
        // wins on work — but per guide §1 the measured wall rules.
        val base = li(s, d)
          .join(ord(s, d).filter(col("o_orderpriority").isin(chans: _*)),
            col("l_orderkey") === col("o_orderkey"))
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .select(col("o_orderpriority").as("channel"), col("p_brand"),
            rev.cast("decimal(38,4)").as("r"))
        val crossBrands = chans.map(c =>
            base.filter(col("channel") === c).select("p_brand").distinct())
          .reduce(_ intersect _)
        val grouped = base.groupBy(col("channel"), col("p_brand"))
          .agg(sum(col("r")).as("s"), count(lit(1)).as("n"))
        val stats = grouped.agg(sum(col("s")).as("tot"),
          count(lit(1)).as("ng"))
        grouped
          .join(broadcast(crossBrands), Seq("p_brand"))
          .crossJoin(broadcast(stats))
          .filter(col("s") * col("ng") > col("tot"))
          .select(col("channel"), col("p_brand"),
            round(col("s").cast("double"), 4).as("sales"), col("n"))
      },
      Some("""WITH base AS (
          SELECT o_orderpriority AS channel, p_brand,
            CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)) AS r
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        ), cross_brands AS (
          SELECT p_brand FROM base WHERE channel = '1-URGENT'
          INTERSECT
          SELECT p_brand FROM base WHERE channel = '2-HIGH'
          INTERSECT
          SELECT p_brand FROM base WHERE channel = '3-MEDIUM'
        ), grouped AS (
          SELECT channel, p_brand, sum(r) AS s, count(*) AS n
          FROM base GROUP BY 1, 2
        ), stats AS (
          SELECT sum(s) AS tot, count(*) AS ng FROM grouped)
        SELECT channel, g.p_brand,
          round(CAST(s AS DOUBLE), 4) AS sales, n
        FROM grouped g
        JOIN cross_brands cb ON g.p_brand = cb.p_brand
        CROSS JOIN stats
        WHERE s * ng > tot""")),

    // q15 (query15.sql): the DISJUNCTIVE CROSS-TABLE predicate — the
    // OR spans three tables (customer zip list OR state list OR a
    // fact-price floor), so it can only evaluate post-join as ONE
    // filter; what the planner must still do is push the
    // CONJUNCTIVE date filter to the orders scan below the joins
    // (never a union of three filtered passes — q13's single-scan
    // discipline, now across tables).
    Q.sql("agg_tpcds_q15", """SELECT /*+ BROADCAST(nation) */ n_name,
          round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 2)
            AS total_sales,
          count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 2
          AND (c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
            OR n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
            OR o_totalprice > 300000)
        GROUP BY 1"""),

    // q16 (query16.sql): order-count report with TWO correlated
    // existence predicates on the SAME fact — EXISTS (another line of
    // the order from a DIFFERENT supplier) AND NOT EXISTS (a returned
    // line) — decorrelated into ONE grouped flag pass over lineitem
    // (countDistinct suppkey ≥ 2, max returnflag) instead of two
    // correlated scans; the qualifying-order keys then gate the line
    // scan for the money sums. Both exchanges hash on l_orderkey, so
    // the partitioning is planned once and reused. Money in exact
    // decimal (price × tax is 4-dec exact); the distinct order count
    // is the output grain guard.
    Q("agg_tpcds_q16",
      (s, d) => {
        // Flags are aggregated AFTER pruning lineitem to the qualifying
        // orders (r19 opt, guide §2.3 "aggregate fewer rows"): the
        // date + priority + segment predicates keep ~0.2% of orders, so
        // computing per-order (nsupp, has_ret) over the WHOLE fact and
        // then inner-joining threw away >99% of the countDistinct
        // work. The semi-reduction is result-identical — the join was
        // inner on o_orderkey, so flags rows for non-qualifying orders
        // never survived anyway.
        val qualOrders = ord(s, d)
          .filter(col("o_orderdate") >= lit("1996-04-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-06-01").cast("timestamp") &&
            col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .join(cust(s, d).filter(col("c_mktsegment") === "BUILDING"),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"))
        val qual = li(s, d)
          .join(qualOrders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("nsupp"),
            max(when(col("l_returnflag") === "R", 1).otherwise(0))
              .as("has_ret"))
          .filter(col("nsupp") >= 2 && col("has_ret") === 0)
          .select(col("l_orderkey").as("o_orderkey"))
        li(s, d).join(qual, col("l_orderkey") === col("o_orderkey"))
          .agg(countDistinct(col("l_orderkey")).as("order_count"),
            round(sum(col("l_extendedprice").cast("decimal(18,2)") *
              col("l_tax").cast("decimal(8,2)")).cast("double"), 2)
              .as("total_tax"),
            round(sum(rev.cast("decimal(38,4)")).cast("double"), 2)
              .as("total_rev"))
      },
      Some("""WITH flags AS (
          SELECT l_orderkey AS f_orderkey,
            count(DISTINCT l_suppkey) AS nsupp,
            max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_ret
          FROM lineitem GROUP BY 1
        ), qual AS (
          SELECT o_orderkey
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN flags ON o_orderkey = f_orderkey
          WHERE o_orderdate >= TIMESTAMP '1996-04-01'
            AND o_orderdate < TIMESTAMP '1996-06-01'
            AND o_orderpriority IN ('1-URGENT', '2-HIGH')
            AND c_mktsegment = 'BUILDING'
            AND nsupp >= 2 AND has_ret = 0)
        SELECT count(DISTINCT l_orderkey) AS order_count,
          round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_tax AS DECIMAL(8,2))) AS DOUBLE), 2) AS total_tax,
          round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(38,4))) AS DOUBLE), 2) AS total_rev
        FROM lineitem JOIN qual ON l_orderkey = o_orderkey""")),

    // q18 (query18.sql — AVERAGES under ROLLUP): per (nation, segment)
    // rollup of average quantity / account balance / order price. The
    // cross-engine trap is the division: int-sum ÷ count lands on
    // exact half-boundaries often enough (1/32 = .03125) that
    // round()'s HALF_UP (Spark) vs HALF_EVEN (DuckDB) diverge — so
    // averages quantize via the floor(x·1e4 + 0.5) idiom (identical
    // IEEE doubles both sides, gap_fill_interpolate's discipline);
    // sums accumulate in exact decimal before the one division.
    Q("agg_tpcds_q18",
      (s, d) => {
        def qavg(sumC: org.apache.spark.sql.Column,
            cnt: org.apache.spark.sql.Column) =
          floor(sumC.cast("double") / cnt * 1e4 + 0.5) / 1e4
        ord(s, d)
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .rollup(col("n_name"), col("c_mktsegment"))
          .agg(sum(col("o_totalprice").cast("decimal(38,2)")).as("sp"),
            sum(col("c_acctbal").cast("decimal(38,2)")).as("sb"),
            count(lit(1)).as("n"))
          .select(coalesce(col("n_name"), lit("ALL")).as("n_name"),
            coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
            qavg(col("sp"), col("n")).as("avg_price"),
            qavg(col("sb"), col("n")).as("avg_acctbal"),
            col("n"))
      },
      Some("""SELECT coalesce(n_name, 'ALL') AS n_name,
          coalesce(c_mktsegment, 'ALL') AS segment,
          floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
            / count(*) * 1e4 + 0.5) / 1e4 AS avg_price,
          floor(CAST(sum(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE)
            / count(*) * 1e4 + 0.5) / 1e4 AS avg_acctbal,
          count(*) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (n_name, c_mktsegment)""")),

    // q24 (query24a.sql): a FINE-GRAIN CTE (ssales at (customer,
    // supplier, brand, type) grain) re-aggregated coarser, kept only
    // above a SCALAR threshold (0.05 × the avg over ALL ssales rows).
    // The threshold is the lesson: avg = total/N, so `paid >
    // 0.05·total/N` cross-multiplies to `paid·20·N > total` — every
    // operand an EXACT decimal/integer, no division, no float
    // boundary. The scalar (total, N) broadcasts; the CTE aggregates
    // once and feeds both the outer group-by and the scalar.
    Q("agg_tpcds_q24",
      (s, d) => {
        // ONE consumption of the 5-way join (r19 opt, guide §2.4
        // "share one exchange"): the CTE feeds two consumers — the
        // scalar stats (ALL rows) and the PROMO re-aggregation — and
        // Catalyst pushes p_type='PROMO' below the agg into the part
        // scan on the second, so the two subtrees diverge and stage
        // reuse can NOT fire: the measured final plan ran the join +
        // fine-grain agg TWICE (q24 was the slowest analog, 2.74 s; an
        // explicit cache() measured WORSE, 3.2 s normalized — it
        // serializes consumers and pays columnar encode). GROUPING SETS
        // computes both grains in one pass over ssales: the ((c,s), ())
        // expansion carries the PROMO sum conditionally, the () row IS
        // the stats scalar, and every consumer filter sits on
        // grouping_id ABOVE the shared aggregation exchange.
        // r20 (guide §2 scale-adaptive partitioning): the sf-scale
        // lineitem file splits into only 3 scan tasks (10.8 MB, 4 MB
        // effective split), so the 4-probe join + 4-string-key partial
        // aggregation — 1.6 s of CPU, the whole query's hot stage —
        // ran 3-wide on a 32-core session. Re-shard the small scan
        // once; a real-scale input (many splits) takes the no-op
        // branch, so no unconditional fact shuffle is added.
        // r20 (guide §2.3 "aggregate before joining dimensions"): the
        // customer/supplier probes and their NAME strings used to ride
        // the 600k-row fact path into the fine-grain agg — per row, two
        // more broadcast probes plus hashing two ~18-char strings in
        // the partial agg. Aggregate on the KEYS (o_custkey, l_suppkey)
        // and attach names to the aggregated output instead. Grain
        // equivalence: c_name/s_name are functionally dependent on
        // their keys AND unique per key on this generator
        // ("Customer#%09d"/"Supplier#%09d"), so (custkey, suppkey,
        // brand, type) groups = (c_name, s_name, brand, type) groups
        // row-for-row — oracle-checked at two SFs.
        val ssalesK = graft.operators.Layout.parallelizeSmallInput(li(s, d))
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(col("o_custkey"), col("l_suppkey"), col("p_brand"),
            col("p_type"))
          .agg(sum(rev.cast("decimal(38,4)")).as("netpaid"))
        val ssales = ssalesK
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("c_name"), col("s_name"), col("p_brand"),
            col("p_type"), col("netpaid"))
        val gs = ssales
          .groupingSets(Seq(Seq(col("c_name"), col("s_name")), Seq()),
            col("c_name"), col("s_name"))
          .agg(sum(when(col("p_type") === "PROMO", col("netpaid")))
              .as("paid"),
            sum(col("netpaid")).as("tot"), count(lit(1)).as("nrows"),
            grouping_id().as("gid"))
        // global-agg wrapper over the single () row: provably scalar
        // (one row feeds it; max == identity), so the cross join below
        // keeps the "broadcast scalar fit" shape ScaleLint verifies —
        // a bare filter(gid=3) has no 1-row cardinality proof
        val stats = gs.filter(col("gid") === 3)
          .agg(max(col("tot")).as("tot"), max(col("nrows")).as("nrows"))
        // paid is NULL for (c,s) groups with no PROMO rows — exactly
        // the groups the old post-filter aggregation never produced
        gs.filter(col("gid") === 0 && col("paid").isNotNull)
          .select(col("c_name"), col("s_name"), col("paid"))
          .crossJoin(broadcast(stats))
          .filter(col("paid") * 20 * col("nrows") > col("tot"))
          // floor-quantized, not round(): the exact 4-dec decimal sum
          // lands on half-cents (….775) where Spark HALF_UP and DuckDB
          // HALF_EVEN disagree (caught at sf0.01)
          .select(col("c_name"), col("s_name"),
            (floor(col("paid").cast("double") * 100 + 0.5) / 100)
              .as("paid"))
      },
      Some("""WITH ssales AS (
          SELECT c_name, s_name, p_brand, p_type,
            sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
              AS netpaid
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2, 3, 4
        ), stats AS (
          SELECT sum(netpaid) AS tot, count(*) AS nrows FROM ssales)
        SELECT c_name, s_name,
          floor(CAST(sum(netpaid) AS DOUBLE) * 100 + 0.5) / 100 AS paid
        FROM ssales CROSS JOIN stats
        WHERE p_type = 'PROMO'
        GROUP BY c_name, s_name, tot, nrows
        HAVING sum(netpaid) * 20 * nrows > tot""")),

    // q33 (query33.sql — the GROUPED-UNION channel family): three
    // channel scans each restricted to a DIM-SUBQUERY item set, their
    // per-manufacturer sums unioned and re-summed. The set
    // (PROMO-type parts) is computed ONCE and broadcast to all three
    // arms — never three copies of the dim subquery; the arms differ
    // only in the channel predicate, so the union re-aggregation is
    // one exchange over (brand) grain rows.
    Q("agg_tpcds_q33",
      (s, d) => {
        val promoParts = prt(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"), col("p_brand"))
        val chans = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
        val arms = chans.map { c =>
          li(s, d)
            .join(ord(s, d).filter(col("o_orderpriority") === c &&
              year(col("o_orderdate")) === 1996),
              col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(promoParts),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(sum(rev.cast("decimal(38,4)")).as("total_sales"))
        }
        arms.reduce(_ unionByName _)
          .groupBy(col("p_brand"))
          .agg(round(sum(col("total_sales")).cast("double"), 4)
            .as("total_sales"))
      },
      Some("""WITH promo AS (
          SELECT p_partkey, p_brand FROM part WHERE p_type = 'PROMO'
        ), arms AS (
          SELECT p_brand,
            sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
              AS total_sales
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN promo ON l_partkey = p_partkey
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
            AND year(o_orderdate) = 1996
          GROUP BY p_brand, o_orderpriority)
        SELECT p_brand,
          round(CAST(sum(total_sales) AS DOUBLE), 4) AS total_sales
        FROM arms GROUP BY 1""")),

    // q56 (query56.sql — the same grouped-union family as q33, keyed
    // by a DERIVED band instead of a dim attribute): identical
    // three-arm shape over size decades — kept as its own row because
    // the reference treats q33/q56/q60 as distinct plan fixtures and
    // the band key exercises expression-grouping under the union.
    Q("agg_tpcds_q56",
      (s, d) => {
        val promoParts = prt(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"), (floor(col("p_size") / 10) * 10)
            .cast("long").as("size_band"))
        val chans = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
        val arms = chans.map { c =>
          li(s, d)
            .join(ord(s, d).filter(col("o_orderpriority") === c &&
              year(col("o_orderdate")) === 1996),
              col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(promoParts),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("size_band"))
            .agg(sum(rev.cast("decimal(38,4)")).as("total_sales"))
        }
        arms.reduce(_ unionByName _)
          .groupBy(col("size_band"))
          .agg(round(sum(col("total_sales")).cast("double"), 4)
            .as("total_sales"))
      },
      Some("""WITH promo AS (
          SELECT p_partkey,
            CAST(floor(p_size / 10) * 10 AS BIGINT) AS size_band
          FROM part WHERE p_type = 'PROMO'
        ), arms AS (
          SELECT size_band,
            sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
              AS total_sales
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN promo ON l_partkey = p_partkey
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
            AND year(o_orderdate) = 1996
          GROUP BY size_band, o_orderpriority)
        SELECT size_band,
          round(CAST(sum(total_sales) AS DOUBLE), 4) AS total_sales
        FROM arms GROUP BY 1""")),

    // q34 (query34.sql): the FREQUENCY-BAND ticket report — per-order
    // line counts under a compound disjunctive calendar/demographic
    // filter, banded (3..5), then joined back to the customer dim for
    // display attributes. Differs from q73 (plain HAVING range) in the
    // dual-disjunction filter shape: (month band OR month band) AND
    // priority set must collapse into ONE scan predicate.
    Q.sql("agg_tpcds_q34", """WITH dn AS (
          SELECT o_orderkey, o_custkey, count(*) AS cnt
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE (month(o_orderdate) IN (1, 2)
              OR month(o_orderdate) IN (11, 12))
            AND o_orderpriority IN ('1-URGENT', '2-HIGH')
          GROUP BY 1, 2
          HAVING count(*) BETWEEN 3 AND 5)
        SELECT c_name, c_mktsegment, o_orderkey, cnt
        FROM dn JOIN customer ON o_custkey = c_custkey"""),

    // q40 (query40.sql): BEFORE/AFTER pivot split with RETURNS
    // NETTING — per brand, net quantity (returned lines subtract)
    // summed on each side of a pivot date, in ONE conditional-agg
    // scan: the q21 pivot-split composed with q75's returns netting,
    // never a sales-pass + returns-pass union. Net quantities are
    // exact integers.
    Q.sql("agg_tpcds_q40", """SELECT p_brand,
          CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1996-07-01'
            THEN CASE WHEN l_returnflag = 'R' THEN -l_quantity
                 ELSE l_quantity END ELSE 0 END) AS BIGINT) AS net_before,
          CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-07-01'
            THEN CASE WHEN l_returnflag = 'R' THEN -l_quantity
                 ELSE l_quantity END ELSE 0 END) AS BIGINT) AS net_after
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1"""),

    // q43 (query43.sql): the DAY-OF-WEEK pivot — seven conditional
    // sums per nation in one scan. Calendar mapping is the
    // cross-engine trap: Spark dayofweek() is 1=Sunday..7=Saturday,
    // DuckDB's is 0=Sunday..6=Saturday — the oracle shifts by one.
    // Body kept: the text's dayofweek counts Sunday as 0, Spark's as 1.
    Q("agg_tpcds_q43",
      (s, d) => {
        val dow = dayofweek(col("o_orderdate"))
        val names = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
        val aggs = names.zipWithIndex.map { case (n, i) =>
          round(sum(when(dow === (i + 1),
            col("o_totalprice").cast("decimal(38,2)"))
            .otherwise(lit(0).cast("decimal(38,2)"))).cast("double"), 2)
            .as(s"${n}_sales")
        }
        ord(s, d)
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(aggs.head, aggs.tail: _*)
      },
      Some("""SELECT n_name,
          round(CAST(sum(CASE WHEN dayofweek(o_orderdate) = 0
            THEN CAST(o_totalprice AS DECIMAL(38,2))
            ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE), 2) AS sun_sales,
          round(CAST(sum(CASE WHEN dayofweek(o_orderdate) = 1
            THEN CAST(o_totalprice AS DECIMAL(38,2))
            ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE), 2) AS mon_sales,
          round(CAST(sum(CASE WHEN dayofweek(o_orderdate) = 2
            THEN CAST(o_totalprice AS DECIMAL(38,2))
            ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE), 2) AS tue_sales,
          round(CAST(sum(CASE WHEN dayofweek(o_orderdate) = 3
            THEN CAST(o_totalprice AS DECIMAL(38,2))
            ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE), 2) AS wed_sales,
          round(CAST(sum(CASE WHEN dayofweek(o_orderdate) = 4
            THEN CAST(o_totalprice AS DECIMAL(38,2))
            ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE), 2) AS thu_sales,
          round(CAST(sum(CASE WHEN dayofweek(o_orderdate) = 5
            THEN CAST(o_totalprice AS DECIMAL(38,2))
            ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE), 2) AS fri_sales,
          round(CAST(sum(CASE WHEN dayofweek(o_orderdate) = 6
            THEN CAST(o_totalprice AS DECIMAL(38,2))
            ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE), 2) AS sat_sales
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1""")),

    // q46 (query46.sql): TWO ROLES OF THE SAME DIMENSION compared
    // after aggregation — per-order revenue grouped WITH the
    // supplier's nation binding, joined back to the customer's
    // CURRENT nation binding, keeping only cross-nation orders
    // (bought_city <> current ca_city in the reference). The nation
    // dim binds twice through different fact FKs; the inequality can
    // only evaluate after the join-back.
    Q.sql("agg_tpcds_q46", """WITH dn AS (
          SELECT l_orderkey, o_custkey, s_nationkey AS bought_nation,
            round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(38,4))) AS DOUBLE), 4) AS amt
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          WHERE o_orderpriority = '1-URGENT'
          GROUP BY 1, 2, 3)
        SELECT c_name, bought_nation,
          CAST(c_nationkey AS INTEGER) AS home_nation, l_orderkey, amt
        FROM dn JOIN customer ON o_custkey = c_custkey
        WHERE bought_nation <> c_nationkey"""),

    // q69 (query69.sql): THREE existence predicates on the same fact
    // (EXISTS store ∧ NOT EXISTS web ∧ NOT EXISTS catalog) —
    // decorrelated to ONE grouped flag pass computing all three
    // channel flags per customer at once, where q35's shape (the r11
    // analog) spends a semi/anti join per predicate. Demographic
    // group counts over the surviving customers.
    Q.sql("agg_tpcds_q69", """WITH flags AS (
          SELECT o_custkey,
            max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS has_s,
            max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
              AS has_w,
            max(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
              AS has_c
          FROM orders
          WHERE year(o_orderdate) = 1996
            AND month(o_orderdate) BETWEEN 1 AND 3
          GROUP BY 1
          HAVING max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) = 1
            AND max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) = 0
            AND max(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) = 0)
        SELECT /*+ BROADCAST(nation) */ n_name, c_mktsegment, count(*) AS cnt
        FROM customer
        JOIN flags ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2"""),

    // q72 (query72.sql — the notorious MANY-JOIN fact chain): sales ⋈
    // orders (date role 1) ⋈ part ⋈ supplier ⋈ INVENTORY (a second
    // fact role: per (part, month) stock proxy) under a CROSS-FACT
    // INEQUALITY (on-hand below the line's demand), a second date
    // inequality (shipped > 5 days after ordering), a LEFT join to
    // the promo set and a LEFT join to pre-aggregated returns.
    // Inequality operands cross-multiply in integers (sum < qty·cnt ⟺
    // avg < qty) so no division/float enters the JOIN condition; the
    // inventory role pre-aggregates to its join grain (q93's
    // discipline) so the chain never fans out.
    Q("agg_tpcds_q72",
      (s, d) => {
        // inv is only ever probed at the 1996 order months (the join
        // key is year(o_orderdate)·100+month with orders filtered to
        // 1996), so the inventory aggregation input prunes to
        // year(l_shipdate)=1996 — a pushed scan filter that drops ~6/7
        // of the fact rows feeding the widest aggregate (r19 opt,
        // guide §6 predicate pushdown; the static form of the
        // partition pruning a date-partitioned 100 TB layout would get
        // dynamically). Join-identical: i_ym ∈ [199601,199612] ⇔
        // shipdate year 1996.
        val inv = li(s, d)
          .filter(year(col("l_shipdate")) === 1996)
          .groupBy(col("l_partkey").as("i_partkey"),
            (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
              .as("i_ym"))
          .agg(sum(col("l_quantity")).cast("long").as("inv_sum"),
            count(lit(1)).as("inv_cnt"))
        val promoParts = prt(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey").as("pp_partkey"))
        val rets = li(s, d).filter(col("l_returnflag") === "R")
          .groupBy(col("l_orderkey").as("r_orderkey"),
            col("l_partkey").as("r_partkey"))
          .agg(count(lit(1)).as("n_ret"))
        li(s, d)
          .join(ord(s, d).filter(year(col("o_orderdate")) === 1996 &&
            col("o_orderpriority") === "3-MEDIUM"),
            col("l_orderkey") === col("o_orderkey"))
          .join(prt(s, d), col("l_partkey") === col("p_partkey"))
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(inv, col("l_partkey") === col("i_partkey") &&
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
              === col("i_ym") &&
            col("inv_sum") < col("l_quantity") * col("inv_cnt"))
          .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 5)
          .join(broadcast(promoParts),
            col("l_partkey") === col("pp_partkey"), "left")
          .join(rets, col("l_orderkey") === col("r_orderkey") &&
            col("l_partkey") === col("r_partkey"), "left")
          .groupBy(col("p_brand"),
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
              .as("ym"))
          .agg(
            sum(when(col("pp_partkey").isNull, 1).otherwise(0))
              .cast("long").as("no_promo"),
            sum(when(col("pp_partkey").isNotNull, 1).otherwise(0))
              .cast("long").as("promo"),
            sum(when(col("n_ret").isNotNull, 1).otherwise(0))
              .cast("long").as("returned"),
            count(lit(1)).as("total_cnt"))
      },
      Some("""WITH inv AS (
          SELECT l_partkey AS i_partkey,
            year(l_shipdate) * 100 + month(l_shipdate) AS i_ym,
            CAST(sum(l_quantity) AS BIGINT) AS inv_sum,
            count(*) AS inv_cnt
          FROM lineitem GROUP BY 1, 2
        ), promo AS (
          SELECT p_partkey AS pp_partkey FROM part WHERE p_type = 'PROMO'
        ), rets AS (
          SELECT l_orderkey AS r_orderkey, l_partkey AS r_partkey,
            count(*) AS n_ret
          FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2)
        SELECT p_brand,
          year(o_orderdate) * 100 + month(o_orderdate) AS ym,
          CAST(sum(CASE WHEN pp_partkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS no_promo,
          CAST(sum(CASE WHEN pp_partkey IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS promo,
          CAST(sum(CASE WHEN n_ret IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS returned,
          count(*) AS total_cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN inv ON l_partkey = i_partkey
          AND year(o_orderdate) * 100 + month(o_orderdate) = i_ym
          AND inv_sum < l_quantity * inv_cnt
        LEFT JOIN promo ON l_partkey = pp_partkey
        LEFT JOIN rets ON l_orderkey = r_orderkey
          AND l_partkey = r_partkey
        WHERE year(o_orderdate) = 1996
          AND o_orderpriority = '3-MEDIUM'
          AND date_diff('day', o_orderdate, l_shipdate) > 5
        GROUP BY 1, 2""")),

    // q90 (query90.sql): the RATIO OF TWO SCALAR AGGREGATES (am/pm
    // order count) — both numerator and denominator computed in the
    // SAME single-scan conditional aggregation (never two subquery
    // scans), ratio emitted in integer basis points with a zero
    // guard.
    Q("agg_tpcds_q90",
      (s, d) => ord(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(dayofmonth(col("o_orderdate")).between(1, 10), 1)
            .otherwise(0)).cast("long").as("early_cnt"),
          sum(when(dayofmonth(col("o_orderdate")).between(20, 29), 1)
            .otherwise(0)).cast("long").as("late_cnt"))
        .select(col("o_orderpriority"), col("early_cnt"), col("late_cnt"),
          expr("CASE WHEN late_cnt > 0 " +
            "THEN early_cnt * 10000 div late_cnt END").as("ratio_bp")),
      Some("""SELECT o_orderpriority,
          CAST(sum(CASE WHEN day(o_orderdate) BETWEEN 1 AND 10
            THEN 1 ELSE 0 END) AS BIGINT) AS early_cnt,
          CAST(sum(CASE WHEN day(o_orderdate) BETWEEN 20 AND 29
            THEN 1 ELSE 0 END) AS BIGINT) AS late_cnt,
          CAST(CASE WHEN sum(CASE WHEN day(o_orderdate) BETWEEN 20 AND 29
              THEN 1 ELSE 0 END) > 0
            THEN sum(CASE WHEN day(o_orderdate) BETWEEN 1 AND 10
              THEN 1 ELSE 0 END) * 10000
              // sum(CASE WHEN day(o_orderdate) BETWEEN 20 AND 29
              THEN 1 ELSE 0 END) END AS BIGINT) AS ratio_bp
        FROM orders GROUP BY 1""")),
  )
}
