package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Joins, Relational, Scd}
import graft.functions.PortableHash

/** Batch relational operator coverage (SURVEY §2.2-§2.9): aggregation,
  * joins, set ops, sort/limit/top-k, OVER windows, scalar functions.
  * Every query is a capability demo backed by a DuckDB oracle.
  */
object RelationalQueries {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def sup(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def reg(s: SparkSession, d: String) = Tables.region(s, d)
  private def prt(s: SparkSession, d: String) = Tables.part(s, d)

  def queries: Seq[Q] = Seq(

    // ===== Aggregation (Beam Combine/Count/Sum/Mean/Group — SURVEY §2.3)
    Q("agg_tpch_q1",
      (s, d) => li(s, d)
        .filter(col("l_shipdate") <= lit("2001-08-06").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          avg("l_quantity").as("avg_qty"),
          avg("l_extendedprice").as("avg_price"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty,
        sum(l_extendedprice) AS sum_base_price,
        sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        avg(l_quantity) AS avg_qty,
        avg(l_extendedprice) AS avg_price,
        avg(l_discount) AS avg_disc,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-08-06'
        GROUP BY l_returnflag, l_linestatus""")),

    // TPC-H Q3 shape (shipping priority): selective join + agg + top-k.
    Q("agg_tpch_q3",
      (s, d) => li(s, d)
        .join(ord(s, d).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, d).filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"), unix_timestamp(col("o_orderdate")).as("odate_s"),
          col("revenue")),
      Some("""SELECT l_orderkey,
        CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate_s,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate < TIMESTAMP '1998-01-01'
          AND c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""")),

    // TPC-H Q6 shape (forecasting revenue change): pure scan-filter-agg
    // — the pushdown-and-prune showcase (no join, no wide columns).
    Q("agg_tpch_q6",
      (s, d) => li(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
          .as("revenue")),
      Some("""SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""")),

    // TPC-H Q4 shape (order priority checking): EXISTS correlated
    // subquery → LEFT SEMI join (one pass over lineitem, no row
    // multiplication before the aggregate).
    Q("agg_tpch_q4",
      (s, d) => ord(s, d)
        .join(li(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count")),
      Some("""SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority""")),

    // TPC-H Q5 shape (local supplier volume): the classic 6-table
    // star-plus-constraint join — fact-fact shuffle joins on the keys,
    // tiny dims broadcast, the c_nationkey = s_nationkey constraint
    // applied at the supplier join.
    Q.sql("agg_tpch_q5", """SELECT /*+ BROADCAST(nation, region) */ n_name,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name"""),

    // TPC-H Q12 shape (shipping modes / priority): join + conditional
    // CASE aggregation — both branches in one pass.
    Q.sql("agg_tpch_q12", """SELECT l_linestatus,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus"""),

    // TPC-H Q10 shape (returned-item reporting): 3-table join filtered
    // to returned lineitems, revenue agg per customer, top 20.
    Q.sql("agg_tpch_q10", """SELECT c_custkey, c_name,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""),

    // TPC-H Q14 shape (promotion effect): conditional revenue ratio —
    // a CASE aggregate over a broadcast dim join.
    Q.sql("agg_tpch_q14", """SELECT /*+ BROADCAST(part) */ round(100.0 *
          sum(CASE WHEN p_type LIKE 'PROMO%'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
          sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey"""),

    Q.sql("agg_global", """SELECT count(*) AS n_rows, sum(l_quantity) AS total_qty,
        avg(l_extendedprice) AS avg_price, min(l_shipdate) AS min_ship,
        max(l_shipdate) AS max_ship,
        count(DISTINCT l_orderkey) AS n_orders FROM lineitem""", timed = false),

    // Extended aggregate surface: median (continuous interpolation in
    // both engines) + the SQL:2003 linear-regression family. Skewness/
    // kurtosis are deliberately absent — Spark computes population
    // moments where DuckDB applies sample corrections, so their values
    // diverge past 6 decimals (documented engine difference).
    Q.sql("agg_stats_regr", """SELECT l_returnflag, median(l_quantity) AS med_qty,
        round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        regr_count(l_extendedprice, l_quantity) AS n
        FROM lineitem GROUP BY l_returnflag""", timed = false),

    Q("agg_stats",
      (s, d) => li(s, d).groupBy("l_returnflag").agg(
        round(var_pop(col("l_discount")), 8).as("var_pop_disc"),
        round(var_samp(col("l_discount")), 8).as("var_samp_disc"),
        round(stddev_samp(col("l_discount")), 8).as("stddev_disc"),
        round(covar_pop(col("l_discount"), col("l_tax")), 8).as("covar_pop_dt"),
        round(covar_samp(col("l_discount"), col("l_tax")), 8).as("covar_samp_dt"),
        round(corr(col("l_discount"), col("l_tax")), 6).as("corr_dt"),
        count_if(col("l_discount") > 0.05).as("n_big_disc")),
      Some("""SELECT l_returnflag,
        round(var_pop(l_discount), 8) AS var_pop_disc,
        round(var_samp(l_discount), 8) AS var_samp_disc,
        round(stddev_samp(l_discount), 8) AS stddev_disc,
        round(covar_pop(l_discount, l_tax), 8) AS covar_pop_dt,
        round(covar_samp(l_discount, l_tax), 8) AS covar_samp_dt,
        round(corr(l_discount, l_tax), 6) AS corr_dt,
        count(*) FILTER (WHERE l_discount > 0.05) AS n_big_disc
        FROM lineitem GROUP BY l_returnflag""")),

    Q.sql("agg_bitops", """SELECT l_returnflag,
        CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS band,
        CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS bor,
        CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS bxor
        FROM lineitem GROUP BY l_returnflag""", timed = false),

    Q("agg_collect",
      (s, d) => ord(s, d).groupBy("o_orderpriority").agg(
        concat_ws(",", sort_array(collect_set(col("o_orderstatus")))).as("statuses"),
        count(lit(1)).as("n")),
      Some("""SELECT o_orderpriority,
        array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        count(*) AS n FROM orders GROUP BY o_orderpriority"""), timed = false),

    // Distribution-shape aggregates (the stats.py/combiners surface
    // beyond mean/var): skewness + excess kurtosis. ESTIMATOR NOTE:
    // Spark computes the POPULATION forms (g1, g2); DuckDB's
    // skewness/kurtosis are the SAMPLE bias-corrected forms (G1, G2) —
    // the ~O(1/n) gap hid below 4 decimals until a regenerated sf0.001
    // landed kurtosis exactly on a rounding boundary. The oracle now
    // matches semantics EXACTLY: kurtosis_pop natively, and skewness
    // de-corrected via g1 = G1·(n−2)/√(n(n−1)); rounded to 4 places
    // because grouped accumulation order perturbs the 6th decimal.
    Q("agg_shape_stats",
      (s, d) => li(s, d).groupBy("l_linestatus").agg(
        round(skewness(col("l_quantity")), 4).as("skew_qty"),
        round(kurtosis(col("l_quantity")), 4).as("kurt_qty"),
        round(skewness(col("l_extendedprice")), 4).as("skew_price"),
        round(kurtosis(col("l_extendedprice")), 4).as("kurt_price")),
      Some("""SELECT l_linestatus,
        round(skewness(l_quantity) * (count(*) - 2)
          / sqrt(count(*) * (count(*) - 1.0)), 4) AS skew_qty,
        round(kurtosis_pop(l_quantity), 4) AS kurt_qty,
        round(skewness(l_extendedprice) * (count(*) - 2)
          / sqrt(count(*) * (count(*) - 1.0)), 4) AS skew_price,
        round(kurtosis_pop(l_extendedprice), 4) AS kurt_price
        FROM lineitem GROUP BY 1""")),

    // Beam ToDict (transforms/combiners.py ToDictCombineFn): per-group
    // key→value map built as an aggregate — two-level agg (count per
    // (prio, status), then entries collected in sorted order so the
    // JSON rendering is deterministic in both engines).
    Q("agg_to_dict",
      // null status rows can't become JSON map keys — drop them up
      // front (dirty-data rule mirrored in the oracle)
      (s, d) => ord(s, d).filter(col("o_orderstatus").isNotNull)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .groupBy("o_orderpriority")
        .agg(to_json(map_from_entries(sort_array(collect_list(
          struct(col("o_orderstatus"), col("n")))))).as("status_counts")),
      Some("""SELECT o_orderpriority,
        '{' || string_agg('"' || o_orderstatus || '":' || n, ','
                          ORDER BY o_orderstatus) || '}' AS status_counts
        FROM (SELECT o_orderpriority, o_orderstatus, count(*) AS n
              FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY 1, 2)
        GROUP BY o_orderpriority""")),

    Q("agg_percentiles",
      (s, d) => li(s, d).groupBy("l_linestatus").agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("p75")),
      Some("""SELECT l_linestatus,
        round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        round(quantile_cont(l_quantity, 0.75), 6) AS p75
        FROM lineitem GROUP BY l_linestatus"""), timed = false),

    Q.sql("agg_cube", """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        coalesce(l_linestatus, 'ALL') AS ls,
        count(*) AS n, sum(l_quantity) AS qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    Q.sql("agg_count_distinct", """SELECT count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps,
        count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        FROM lineitem""", timed = false),

    // Beam ApproximateDistinct/HllCount (sketches) — approximate values
    // are engine-specific, so this entry is rows-only checked.
    // The verification contract for an approximate aggregate is its
    // ERROR BOUND, not the engine-specific estimate: Spark's HLL++ is
    // deterministic, so |approx − exact| ≤ 10%·exact (vs the default
    // rsd 0.05) is an exact reproducible fact the oracle asserts as a
    // hard gate, alongside the exact cardinality both engines agree on.
    Q("agg_approx_distinct",
      (s, d) => li(s, d).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey")).as("approx"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx") - col("exact_orders")) * 10
            <= col("exact_orders")).cast("long").as("within_10pct")),
      Some("""SELECT l_returnflag,
          count(DISTINCT l_orderkey) AS exact_orders,
          CAST(1 AS BIGINT) AS within_10pct
        FROM lineitem GROUP BY 1""")),

    // HllCount in the ZETASKETCH WIRE LAYOUT (r19, VERDICT r18 #5 —
    // extensions/zetasketch/.../HllCount.java:45-79): per-group
    // sketches built by zeta_hll_agg, rolled up to an ALL row through
    // zeta_hll_merge_agg (a decode → register-max merge → re-encode
    // round-trip by construction — HllCount.MergePartial), framing
    // fields decoded back by zeta_hll_info and oracle-checked EXACTLY
    // (type=112, version=2, precision, num_values == row count);
    // estimates gate on the ±2.5% (3σ at p=14) bound flag like
    // agg_approx_distinct. Hash-layer interchange caveat: see
    // functions/ZetaSketch.scala scaladoc.
    Q("agg_hll_zetasketch",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val per = li(s, d).groupBy(col("l_returnflag").as("grp"))
          .agg(expr("zeta_hll_agg(cast(l_orderkey as string), 14)").as("sk"),
            countDistinct(col("l_orderkey")).as("exact_distinct"))
        val globExact = li(s, d)
          .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
        val glob = per.agg(expr("zeta_hll_merge_agg(sk)").as("sk"))
          .crossJoin(broadcast(globExact))
          .select(lit("ALL").as("grp"), col("sk"), col("exact_distinct"))
        per.select(col("grp"), col("sk"), col("exact_distinct"))
          .unionByName(glob)
          .withColumn("info", expr("zeta_hll_info(sk)"))
          .select(col("grp"),
            col("info.sk_type").as("sk_type"),
            col("info.encoding_version").as("encoding_version"),
            col("info.precision").as("precision"),
            col("info.num_values").as("num_values"),
            col("exact_distinct"),
            (abs(col("info.estimate") - col("exact_distinct")) * 40
              <= col("exact_distinct")).cast("long").as("within_3sigma"))
      },
      Some("""WITH per AS (
          SELECT l_returnflag AS grp, count(*) AS num_values,
            count(DISTINCT l_orderkey) AS exact_distinct
          FROM lineitem GROUP BY 1
        ), tot AS (
          SELECT 'ALL' AS grp, count(*) AS num_values,
            count(DISTINCT l_orderkey) AS exact_distinct
          FROM lineitem)
        SELECT grp, CAST(112 AS INTEGER) AS sk_type,
          CAST(2 AS INTEGER) AS encoding_version,
          CAST(14 AS INTEGER) AS precision,
          num_values, exact_distinct,
          CAST(1 AS BIGINT) AS within_3sigma
        FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)""")),

    // ===== Latest / Top (Beam Latest.java:56, Top.java:58)
    Q("latest_per_key",
      (s, d) => Relational.latestPerKey(ord(s, d), Seq(col("o_custkey")),
          col("o_orderdate"), col("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey").as("latest_order"),
          col("o_orderdate").as("latest_date")),
      Some("""SELECT o_custkey, o_orderkey AS latest_order,
        o_orderdate AS latest_date FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC) = 1"""), timed = false),

    // Latest-snapshot view of a rev-stamped changelog — the documented
    // consumption idiom for every streaming (key, rev, …) snapshot op
    // (heavyHitters / tdigestQuantiles / approxDistinct / funnelSteps /
    // sampleFixedPerKey): ONE map-side-partial max_by aggregate, not a
    // row_number window sort over the full changelog. Here orders
    // stands in as the changelog (o_orderkey = the unique increasing
    // rev per customer).
    Q("changelog_latest_by_rev",
      (s, d) => graft.streaming.StreamOps.latestByRev(
        ord(s, d).select("o_custkey", "o_orderkey", "o_totalprice",
          "o_orderstatus"),
        Seq("o_custkey"), "o_orderkey"),
      Some("""SELECT o_custkey,
        max(o_orderkey) AS o_orderkey,
        arg_max(o_totalprice, o_orderkey) AS o_totalprice,
        arg_max(o_orderstatus, o_orderkey) AS o_orderstatus
        FROM orders GROUP BY o_custkey""")),

    Q("topk_global",
      (s, d) => Relational.topK(ord(s, d), 10,
          col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""), timed = false),

    Q("topk_per_key",
      (s, d) => Relational.topKPerKey(ord(s, d), Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rk").cast("long").as("rk")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
        FROM orders
        QUALIFY rk <= 3""")),

    Q.sql("sort_limit_offset", """SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 10""", timed = false),

    // ===== Distinct / dedup (Beam Distinct.java:67)
    Q.sql("distinct_rows", "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    Q("sample_hash",
      (s, d) => li(s, d)
        .filter(pmod(PortableHash.md5Long(
          concat_ws("_", col("l_orderkey"), col("l_linenumber"))), lit(20)) === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some(s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE ${PortableHash.md5LongSql(
          "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")} % 20 = 0"""), timed = false),

    // ===== Joins (SURVEY §2.4)
    Q.sql("join_inner_broadcast",
      """SELECT /*+ BROADCAST(customer, nation) */ n_name, count(*) AS n_orders,
        sum(o_totalprice) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"""),

    Q.sql("join_left_outer", """SELECT c_custkey, count(o_orderkey) AS n_orders,
        round(coalesce(sum(o_totalprice), 0), 4) AS total
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey""", timed = false),

    Q("join_semi",
      (s, d) => cust(s, d).join(
          ord(s, d).filter(col("o_orderstatus") === "F").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer WHERE EXISTS
        (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         AND o_orderstatus = 'F')"""), timed = false),

    Q("join_anti",
      (s, d) => cust(s, d).join(ord(s, d).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS
        (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""), timed = false),

    Q.sql("join_full_outer", """SELECT CAST(coalesce(c.nk, s.nk) AS BIGINT) AS nationkey,
        coalesce(c.n_cust, 0) AS n_cust, coalesce(s.n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey nk, count(*) n_cust FROM customer GROUP BY 1) c
        FULL OUTER JOIN
        (SELECT s_nationkey nk, count(*) n_supp FROM supplier GROUP BY 1) s
        USING (nk)""", timed = false),

    // Body kept: a Bench calibration member, so cal_version 2 stays comparable.
    Q("join_multiway",
      (s, d) => li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue")),
      Some("""SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS order_year,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, year(o_orderdate)""")),

    Q("join_theta_range",
      (s, d) => Joins.thetaJoin(cust(s, d), broadcast(sup(s, d)),
          col("c_acctbal").between(col("s_acctbal") - 50, col("s_acctbal") + 50))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_close_customers")),
      Some("""SELECT s_suppkey, count(*) AS n_close_customers
        FROM customer JOIN supplier
        ON c_acctbal BETWEEN s_acctbal - 50 AND s_acctbal + 50
        GROUP BY s_suppkey"""), timed = false),

    // Skew-safe salted join: lineitem (fact, hot l_orderkey histogram
    // at scale) × orders projected to 2 columns (dim too big to
    // broadcast in the 100 TB scenario). Salt spreads each fact key
    // over 8 reducers; the result is identical to the plain join.
    Q("join_skew_salted",
      (s, d) => Joins.saltedJoin(
          li(s, d).select("l_orderkey", "l_extendedprice", "l_discount",
            "l_linenumber"),
          ord(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority")),
          "l_orderkey", fanout = 8,
          saltBy = Seq(col("l_orderkey"), col("l_linenumber")))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n")),
      Some("""SELECT o_orderpriority,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1""")),

    // HYBRID skew join: one count pass finds the keys with >4 lineitem
    // rows; only THOSE take the salted path (dim replicated ×fanout for
    // hot keys alone), the rest join plainly — identical result to the
    // plain join (same oracle as join_skew_salted), dim replication
    // paid only where skew exists.
    Q("join_skew_hybrid",
      (s, d) => Joins.hybridSkewJoin(
          li(s, d).select("l_orderkey", "l_extendedprice", "l_discount",
            "l_linenumber"),
          ord(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority")),
          "l_orderkey", fanout = 8,
          saltBy = Seq(col("l_orderkey"), col("l_linenumber")),
          hotThreshold = 4L)
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n")),
      Some("""SELECT o_orderpriority,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1""")),

    // Fuzzy self-join: all distinct part names within Levenshtein
    // distance 2, candidates via the length-band pigeonhole (complete),
    // run over the DISTINCT-name vocabulary, never the corpus.
    Q("join_fuzzy_editdist",
      (s, d) => Joins.fuzzyJoinEditDistance(prt(s, d), "p_name", maxDist = 2),
      Some("""WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
          CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        FROM n a JOIN n b ON a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2""")),

    // Contiguous global row index without the single-task global
    // window: range partition + within-partition sort + per-partition
    // offsets (zipWithIndex contract). Total order via unique key.
    Q("global_row_index",
      (s, d) => Relational.globalRowIndex(
          ord(s, d).select("o_orderkey", "o_orderdate"),
          "row_idx", col("o_orderdate").asc, col("o_orderkey").asc)
        .select("o_orderkey", "row_idx"),
      Some("""SELECT o_orderkey,
        CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT)
          AS row_idx
        FROM orders""")),

    Q("cogroup_by_key",
      (s, d) => Joins.coGroupByKey(
          ord(s, d).select(col("o_custkey").as("key"), col("o_orderkey")),
          cust(s, d).select(col("c_custkey").as("key"), col("c_name")),
          "key", "o_orderkey", "c_name")
        .select(col("key"),
          size(col("left_values")).cast("long").as("n_orders"),
          concat_ws(",", col("right_values")).as("names")),
      Some("""SELECT coalesce(o.key, c.key) AS key,
        CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
        coalesce(c.names, '') AS names
        FROM (SELECT o_custkey AS key, count(*) AS n_orders
              FROM orders GROUP BY 1) o
        FULL OUTER JOIN
        (SELECT c_custkey AS key,
                array_to_string(list_sort(list(c_name)), ',') AS names
         FROM customer GROUP BY 1) c
        ON o.key = c.key""")),

    // ===== Set operations (Beam Sets.java:81, Flatten.java:49)
    Q("union_all",
      (s, d) => {
        val f = ord(s, d).filter(col("o_orderstatus") === "F")
        val o = ord(s, d).filter(col("o_orderstatus") === "O")
        f.unionByName(o).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n FROM (
        SELECT * FROM orders WHERE o_orderstatus = 'F'
        UNION ALL SELECT * FROM orders WHERE o_orderstatus = 'O') u
        GROUP BY o_orderpriority"""), timed = false),

    Q("intersect_distinct",
      (s, d) => ord(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
        .intersect(ord(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey"))),
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'"""), timed = false),

    Q("except_distinct",
      (s, d) => ord(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
        .except(ord(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey"))),
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'"""), timed = false),

    Q("except_all",
      (s, d) => li(s, d).select(col("l_orderkey").as("k"))
        .exceptAll(ord(s, d).select(col("o_orderkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n")),
      Some("""SELECT k, count(*) AS n FROM (
        SELECT l_orderkey AS k FROM lineitem
        EXCEPT ALL SELECT o_orderkey AS k FROM orders) e
        GROUP BY k"""), timed = false),

    Q("intersect_all",
      (s, d) => li(s, d).filter(col("l_quantity") > 25)
        .select(col("l_orderkey").as("k"))
        .intersectAll(li(s, d).filter(col("l_discount") > 0.05)
          .select(col("l_orderkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n")),
      Some("""SELECT k, count(*) AS n FROM (
        SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 25
        INTERSECT ALL
        SELECT l_orderkey AS k FROM lineitem WHERE l_discount > 0.05) e
        GROUP BY k"""), timed = false),

    // ===== OVER-clause window functions (SURVEY §2.7)
    Q.sql("window_rank", """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
        CAST(row_number() OVER w AS BIGINT) AS rn,
        CAST(rank() OVER w AS BIGINT) AS rnk,
        CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        round(percent_rank() OVER w, 6) AS prnk
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey ASC)""", timed = false),

    Q("window_running",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        ord(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).as("running_total"),
          round(lag(col("o_totalprice"), 1).over(w), 4).as("prev_price"),
          round(lead(col("o_totalprice"), 1).over(w), 4).as("next_price"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        round(sum(o_totalprice) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate ASC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total,
        round(lag(o_totalprice, 1) OVER w, 4) AS prev_price,
        round(lead(o_totalprice, 1) OVER w, 4) AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC)""")),

    Q.sql("window_moving_avg", """SELECT o_custkey, o_orderkey,
        round(avg(o_totalprice) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate ASC, o_orderkey ASC
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg
        FROM orders""", timed = false),

    // ===== EWMA per key (pandas ewm(alpha).mean(), adjust=False) —
    // the recurrence e_i = α·v_i + (1−α)·e_{i−1} has no O(n) window
    // formulation, so it runs as a time-sorted per-key scan
    // (Relational.ewmaPerKey over flatMapSortedGroups: one shuffle,
    // spill-safe sort, O(1) state per key). The oracle replays the
    // identical recurrence with a recursive CTE; (1 - 0.2) is written
    // the same way in both engines so the IEEE sequences match.
    Q("window_ewma",
      (s, d) => {
        import s.implicits._
        val e = Tables.events(s, d).select(
            col("user_id").cast("long"), unix_micros(col("ts")),
            col("event_id").cast("long"), col("value").cast("double"))
          .toDF("_1", "_2", "_3", "_4")
          .as[(Long, Long, Long, Double)]
        graft.operators.Relational.ewmaPerKey(
            e, (t: (Long, Long, Long, Double)) => t._1,
            Seq(col("_2"), col("_3")),
            (t: (Long, Long, Long, Double)) => t._4, alpha = 0.2) {
            (t, ew) => (t._1, t._3, ew)
          }
          .toDF("user_id", "event_id", "ewma_raw")
          .select(col("user_id"), col("event_id"),
            round(col("ewma_raw"), 6).as("ewma"))
      },
      Some("""WITH RECURSIVE ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY make_timestamp(epoch_us(ts)), event_id) AS rn
          FROM events
        ), rec(user_id, event_id, rn, e) AS (
          SELECT user_id, event_id, rn, value FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.user_id, o.event_id, o.rn,
            0.2 * o.value + (1 - 0.2) * rec.e
          FROM ordered o
          JOIN rec ON o.user_id = rec.user_id AND o.rn = rec.rn + 1)
        SELECT user_id, event_id, round(e, 6) AS ewma FROM rec""")),

    // ntile/cume_dist PARTITIONED BY nation — the scale-correct form
    // (an empty PARTITION BY funnels every row through ONE task; the
    // ScaleLintSpec sweep rejects that shape engine-wide. A truly
    // global quantile assignment at 100 TB is approx_percentile /
    // t-digest territory, not a window).
    Q.sql("window_ntile_cume", """SELECT c_custkey,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        CAST(floor(cume_dist() OVER w * 1e6) AS BIGINT) AS cd_micros,
        first_value(c_custkey) OVER w AS first_in_nation
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
          ORDER BY c_acctbal ASC, c_custkey ASC)""", timed = false),

    // ===== Element-wise & scalar functions (SURVEY §2.2, §2.9)
    Q("scalar_string",
      (s, d) => prt(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        length(col("p_name")).cast("long").as("len"),
        substring(col("p_name"), 2, 5).as("sub"),
        concat_ws("-", col("p_brand"), col("p_type")).as("cat"),
        expr("left(p_name, 4)").as("l4"),
        expr("right(p_name, 3)").as("r3"),
        lpad(col("p_brand"), 12, "0").as("pad"),
        reverse(col("p_brand")).as("rev"),
        col("p_name").startsWith("a").as("sw"),
        col("p_name").contains("e").as("has_e"),
        locate("an", col("p_name")).cast("long").as("pos_an"),
        trim(col("p_name")).as("trimmed"),
        regexp_replace(col("p_type"), " ", "_").as("type_u")),
      Some("""SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
        CAST(length(p_name) AS BIGINT) AS len,
        substr(p_name, 2, 5) AS sub,
        p_brand || '-' || p_type AS cat,
        left(p_name, 4) AS l4, right(p_name, 3) AS r3,
        lpad(p_brand, 12, '0') AS pad, reverse(p_brand) AS rev,
        starts_with(p_name, 'a') AS sw, contains(p_name, 'e') AS has_e,
        CAST(strpos(p_name, 'an') AS BIGINT) AS pos_an,
        trim(p_name) AS trimmed,
        regexp_replace(p_type, ' ', '_', 'g') AS type_u
        FROM part"""), timed = false),

    Q.sql("scalar_math", """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        round(abs(-l_quantity), 6) AS aq,
        CAST(round(ceil(l_extendedprice / 100), 6) AS BIGINT) AS cl,
        CAST(round(floor(l_extendedprice / 100), 6) AS BIGINT) AS fl,
        round(pow(l_quantity, 2), 6) AS sq,
        round(sqrt(l_quantity), 6) AS rt,
        round(exp(l_discount), 6) AS ex,
        round(ln(l_quantity), 6) AS ln_q,
        round(log10(l_quantity), 6) AS lg,
        CAST(l_linenumber % 3 AS BIGINT) AS md,
        CAST(sign(l_quantity - 25) AS BIGINT) AS sg,
        round((exp(l_discount) - exp(-l_discount)) / 2, 6) AS sh,
        round((exp(l_discount) + exp(-l_discount)) / 2, 6) AS ch,
        round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 6) AS th
        FROM lineitem WHERE l_linenumber <= 3""", timed = false),

    Q("scalar_datetime",
      (s, d) => ord(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dy"),
        quarter(col("o_orderdate")).cast("long").as("qt"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due"),
        unix_timestamp(col("o_orderdate")).as("epoch_s")),
      Some("""SELECT o_orderkey,
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        CAST(month(o_orderdate) AS BIGINT) AS mo,
        CAST(day(o_orderdate) AS BIGINT) AS dy,
        CAST(quarter(o_orderdate) AS BIGINT) AS qt,
        date_trunc('month', o_orderdate) AS month_start,
        o_orderdate + INTERVAL 30 DAY AS due,
        CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
        FROM orders"""), timed = false),

    Q("scalar_case_cast",
      (s, d) => ord(s, d).select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("tier"),
        floor(col("o_totalprice")).cast("long").as("price_int"),
        col("o_orderkey").cast("string").as("key_str"),
        (col("o_orderstatus") === "F").as("is_f"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status2"),
        greatest(col("o_totalprice"), lit(150000.0)).as("gst"),
        least(col("o_totalprice"), lit(150000.0)).as("lst")),
      Some("""SELECT o_orderkey,
        CASE WHEN o_totalprice > 300000 THEN 'high'
             WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS tier,
        CAST(floor(o_totalprice) AS BIGINT) AS price_int,
        CAST(o_orderkey AS VARCHAR) AS key_str,
        o_orderstatus = 'F' AS is_f,
        coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
        greatest(o_totalprice, 150000.0) AS gst,
        least(o_totalprice, 150000.0) AS lst
        FROM orders"""), timed = false),

    Q("scalar_hash",
      (s, d) => cust(s, d).select(
        col("c_custkey"),
        md5(col("c_name")).as("h_md5"),
        sha2(col("c_name"), 256).as("h_sha256"),
        PortableHash.md5Long(col("c_name")).as("h_long")),
      Some(s"""SELECT c_custkey, md5(c_name) AS h_md5,
        sha256(c_name) AS h_sha256,
        ${PortableHash.md5LongSql("c_name")} AS h_long
        FROM customer"""), timed = false),

    Q("json_extract",
      (s, d) => Tables.events(s, d).groupBy("event_type").agg(
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        count(lit(1)).as("n")),
      Some("""SELECT event_type,
        CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        count(*) AS n
        FROM events GROUP BY event_type""")),

    // ===== Explode / unnest (BeamUnnestRel — SURVEY §2.8)
    Q("explode_word_counts",
      (s, d) => Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc).limit(20),
      Some("""SELECT word, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""")),

    // ===== Cohort retention matrix — the first-purchase-cohort shape
    // (TPC-DS q54's "revenue after first purchase" spirit; every
    // product-analytics stack ships this). The first-purchase month is
    // a WINDOW MIN over the custkey partition — ONE fact scan and one
    // shuffle, where the textbook aggregate-then-re-join form scans
    // the fact twice and joins (plan-guarded single-scan, no join).
    // Months are linearized to an integer index (year*12 + month), so
    // the cohort/offset arithmetic is exact BIGINT — no date-diff
    // rounding; revenue sums in integer cents.
    Q("agg_cohort_retention",
      (s, d) => {
        val o = ord(s, d).select(col("o_custkey"), col("o_totalprice"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("ym"))
        o.withColumn("cohort_ym",
            min(col("ym")).over(Window.partitionBy("o_custkey")))
          .groupBy(col("cohort_ym"),
            (col("ym") - col("cohort_ym")).as("months_since"))
          .agg(countDistinct(col("o_custkey")).as("n_cust"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("rev_cents"))
      },
      Some("""WITH o AS (SELECT o_custkey, o_totalprice,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
              AS ym
          FROM orders),
        f AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY 1)
        SELECT cohort_ym, ym - cohort_ym AS months_since,
          CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_cust,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS rev_cents
        FROM o JOIN f USING (o_custkey)
        GROUP BY 1, 2""")),

    // ===== SCD2 history build (operators/Scd.scala) — slowly-changing-
    // dimension type-2 compression of a per-key attribute stream:
    // consecutive identical states collapse, each surviving change row
    // carries [valid_from, valid_to) plus an is_current flag. Two
    // window passes over the SAME partition key = one shuffle (plan-
    // guarded); ordering ties (same customer, same date) break on
    // o_orderkey so the history is deterministic cross-engine.
    // Timestamps emit as epoch seconds per the oracle convention; the
    // open-ended current row keeps valid_to NULL. The same operator
    // applies per micro-batch as a touched-keys CDC MERGE
    // (Scd.applyCdcBatch, StreamingSpec).
    Q("scd2_history",
      (s, d) => Scd.history(
          ord(s, d).select(col("o_custkey"),
            col("o_orderpriority").as("state"),
            unix_timestamp(col("o_orderdate")).as("valid_from"),
            col("o_orderkey")),
          "o_custkey", "state", "valid_from", "o_orderkey")
        .select(col("o_custkey"), col("state"), col("valid_from"),
          col("valid_to"), col("is_current")),
      Some("""WITH s AS (SELECT o_custkey, o_orderpriority AS state,
            CAST(epoch(o_orderdate) AS BIGINT) AS valid_from, o_orderkey,
            lag(o_orderpriority) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS prev_state
          FROM orders),
        c AS (SELECT o_custkey, state, valid_from, o_orderkey FROM s
          WHERE prev_state IS NULL OR prev_state != state)
        SELECT o_custkey, state, valid_from,
          lead(valid_from) OVER (PARTITION BY o_custkey
            ORDER BY valid_from, o_orderkey) AS valid_to,
          CASE WHEN lead(valid_from) OVER (PARTITION BY o_custkey
            ORDER BY valid_from, o_orderkey) IS NULL
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_current
        FROM c""")),

    // ===== Market-basket co-occurrence with lift — the association-
    // rule support/lift core every retail-analytics stack ships.
    // Scale shape: items dedupe per basket first (a part can repeat
    // across lines), then pairs generate through an EQUI-join on the
    // basket key with p1 < p2 — fan-out per basket is C(items, 2),
    // bounded by basket size, NEVER a catalog self-join; the pair
    // aggregation shuffles on (p1, p2). Item counts are catalog-sized
    // (broadcast); the basket total is a 1-row fit. Support and lift
    // emit in exact integer basis points (cross-multiplied `div` —
    // lift = N·cnt_ab / (cnt_a·cnt_b), all BIGINT), and the top-50
    // orders by (lift_bp, p1, p2) — a total order over unique pair
    // keys, so the LIMIT is deterministic cross-engine.
    Q("agg_basket_lift",
      (s, d) => {
        // `items` feeds four consumers; its distinct's exchange subtree
        // is identical in all of them, so AQE stage reuse already
        // shares the computation (verified in the final plan). An
        // explicit cache() was tried in r19 and MEASURED SLOWER on the
        // bench (2.09 → 2.73 s best-of-3): materialization serializes
        // the consumers that previously ran concurrently and pays the
        // columnar encode — reverted.
        val items = li(s, d)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val cnts = items.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("c"))
        val n = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
        // r20: pairs generate per basket from a sorted item array
        // (posexplode + tail slice = C(k,2) rows) instead of the okey
        // self-join, which materialized k^2 join rows per basket
        // before the p1 < p2 filter halved them. Equivalent row set:
        // items are DISTINCT per basket so the sorted array has no
        // duplicates and position order is strict p1 < p2; NULL
        // partkeys produce no pairs either way (collect_list skips
        // nulls; NULL < x is NULL in the join form). Same single okey
        // shuffle; the join and its doubled agg input disappear.
        val baskets = items.groupBy(col("l_orderkey"))
          .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
        baskets
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("p1"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("p2"))
          .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt_ab"))
          .filter(col("cnt_ab") >= 2)
          .join(broadcast(cnts.toDF("p1", "cnt_a")), Seq("p1"))
          .join(broadcast(cnts.toDF("p2", "cnt_b")), Seq("p2"))
          .crossJoin(broadcast(n))
          .select(col("p1"), col("p2"), col("cnt_ab"), col("cnt_a"),
            col("cnt_b"),
            expr("cnt_ab * 10000 div n_orders").as("support_bp"),
            expr("cnt_ab * n_orders * 10000 div (cnt_a * cnt_b)")
              .as("lift_bp"))
          .orderBy(col("lift_bp").desc, col("p1").asc, col("p2").asc)
          .limit(50)
      },
      Some("""WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
        cnt AS (SELECT l_partkey, count(*) AS c FROM items GROUP BY 1),
        pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
            count(*) AS cnt_ab
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT p1, p2, CAST(cnt_ab AS BIGINT) AS cnt_ab,
          CAST(ca.c AS BIGINT) AS cnt_a, CAST(cb.c AS BIGINT) AS cnt_b,
          CAST(cnt_ab * 10000 // n_orders AS BIGINT) AS support_bp,
          CAST(cnt_ab * n_orders * 10000 // (ca.c * cb.c) AS BIGINT)
            AS lift_bp
        FROM pairs
        JOIN cnt ca ON p1 = ca.l_partkey
        JOIN cnt cb ON p2 = cb.l_partkey, n
        ORDER BY lift_bp DESC, p1, p2 LIMIT 50""")),

    // ===== Literal values (Beam Create.of / BeamValuesRel)
    Q("create_values",
      (s, d) => {
        import s.implicits._
        Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
          .toDF("id", "tag", "v")
      },
      Some("""SELECT CAST(id AS BIGINT) AS id, tag, CAST(v AS DOUBLE) AS v
        FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5),
        (3, 'c', 3.5)) AS t(id, tag, v)"""), timed = false),
  )
}
