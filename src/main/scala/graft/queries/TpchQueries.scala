package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The remaining TPC-H query shapes (Q2, Q7-Q9, Q11, Q13, Q15-Q22),
  * adapted to the driver's synthetic star schema — completing, with
  * the eight in [[RelationalQueries]], all 22 TPC-H patterns. The
  * testdata has no `partsupp` table and no
  * commitdate/receiptdate/phone/comment columns, so those queries are
  * ANALOGS: the part↔supplier relation derives from `lineitem`, the
  * late-delivery predicate uses shipdate − orderdate, and Q22's
  * "country code" is `c_nationkey % 10`. Each keeps its original's
  * defining plan shape (correlated scalar subquery, EXISTS/NOT-EXISTS
  * pair, two-level aggregation, disjunctive pushdown…), which is what
  * the engine is being exercised on.
  *
  * Scale discipline: only the fixed-cardinality dims (nation=25,
  * region=5) are hinted broadcast; part/supplier/customer/orders grow
  * with SF, so their joins stay shuffle joins for Catalyst/AQE to
  * pick the strategy at runtime stats.
  */
object TpchQueries {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def sup(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def reg(s: SparkSession, d: String) = Tables.region(s, d)
  private def prt(s: SparkSession, d: String) = Tables.part(s, d)

  private val disc = lit(1) - col("l_discount")

  def queries: Seq[Q] = Seq(

    // Q2 (minimum cost supplier): correlated scalar MIN subquery →
    // per-part window MIN + equi-filter. partsupp's supply cost is
    // derived as each (part, supplier)'s minimum observed unit price.
    // Scale notes: the part filter prunes lineitem BEFORE the
    // (part, supplier) aggregation (~1/300 selectivity here — the
    // original's '%BRASS'+size is similarly selective), and the
    // correlated min is a WINDOW over the already-tiny candidate set,
    // not a second evaluation of the whole subtree.
    Q("agg_tpch_q2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wantedParts = prt(s, d)
          .filter(col("p_size") === 15 && col("p_type") === "LARGE")
        val ps = li(s, d)
          .join(wantedParts, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
        val europeSup = sup(s, d)
          .join(broadcast(nat(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
        ps.join(europeSup, col("l_suppkey") === col("s_suppkey"))
          .withColumn("min_cost", min("cost").over(Window.partitionBy("p_partkey")))
          .filter(col("cost") === col("min_cost"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), round(col("cost"), 4).as("supply_cost"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
          .limit(100)
      },
      Some("""WITH ps AS (
          SELECT l_partkey, l_suppkey,
            min(l_extendedprice / l_quantity) AS cost
          FROM lineitem GROUP BY 1, 2
        ), cand AS (
          SELECT s_acctbal, s_name, n_name, p_partkey, cost
          FROM ps
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'LARGE')
        SELECT s_acctbal, s_name, n_name, p_partkey,
          round(cost, 4) AS supply_cost
        FROM cand c
        WHERE cost = (SELECT min(cost) FROM cand c2
          WHERE c2.p_partkey = c.p_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")),

    // Q7 (volume shipping): bidirectional nation-pair revenue by year
    // — the two-sided disjunctive join constraint. Scale notes: the
    // two-nation filter lands on customer and supplier BEFORE their
    // fact joins (2/25 selectivity each side), so lineitem and orders
    // shrink at the earliest join instead of after five of them; only
    // the cross-pair disjunction remains as a post-join filter.
    Q("agg_tpch_q7",
      (s, d) => {
        val pair = Seq("NATION_1", "NATION_2")
        val custN = cust(s, d)
          .join(broadcast(nat(s, d).filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("cn_key"),
              col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cn_key"))
        val supN = sup(s, d)
          .join(broadcast(nat(s, d).filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
        li(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(supN, col("l_suppkey") === col("s_suppkey"))
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(custN, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(round(sum(col("l_extendedprice") * disc), 4).as("revenue"))
      },
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
          CAST(year(l_shipdate) AS INT) AS l_year,
          round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3""")),

    // Q8 (national market share): one nation's share of a region's
    // part-type revenue per order year — conditional-sum ratio.
    Q("agg_tpch_q8",
      (s, d) => {
        val cn = broadcast(nat(s, d).select(
          col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region")))
        val sn = broadcast(nat(s, d).select(
          col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
        li(s, d)
          .join(prt(s, d).filter(col("p_type") === "ECONOMY"),
            col("l_partkey") === col("p_partkey"))
          .join(ord(s, d).filter(
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .join(cn, col("c_nationkey") === col("cn_key"))
          .join(broadcast(reg(s, d).filter(col("r_name") === "AMERICA")),
            col("cn_region") === col("r_regionkey"))
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(sn, col("s_nationkey") === col("sn_key"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(
            sum(when(col("supp_nation") === "NATION_3",
              col("l_extendedprice") * disc).otherwise(lit(0.0))) /
              sum(col("l_extendedprice") * disc), 6).as("mkt_share"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          round(sum(CASE WHEN sn.n_name = 'NATION_3'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
            sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1""")),

    // Q9 (product type profit): profit per supplier nation and year
    // for a part-name family; supply cost proxied at 60% of the
    // part's retail price (no partsupp.ps_supplycost in the schema).
    Q.sql("agg_tpch_q9", """SELECT /*+ BROADCAST(nation) */ n_name AS nation,
          CAST(year(o_orderdate) AS INT) AS o_year,
          round(sum(l_extendedprice * (1 - l_discount)
            - 0.6 * p_retailprice * l_quantity), 4) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY 1, 2"""),

    // Q11 (important stock): per-part value from one nation's
    // suppliers, kept where above a fraction of the total — the
    // HAVING-with-scalar-subquery shape (total via broadcast cross
    // join of a 1-row aggregate, not a driver collect).
    Q("agg_tpch_q11",
      (s, d) => {
        // The per-part aggregate is a FIT ARTIFACT: persist it so the
        // grand-total branch reads the cached |parts|-row frame instead
        // of re-running the lineitem join+agg (Catalyst does not reuse
        // the exchange across the crossJoin's two branches — verified).
        val value = li(s, d)
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat(s, d).filter(col("n_name") === "NATION_9")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("l_partkey").as("p_key"))
          .agg(sum(col("l_extendedprice")).as("value"))
          .persist()
        value.crossJoin(broadcast(value.agg(sum("value").as("total"))))
          .filter(col("value") > col("total") * 0.0002)
          .select(col("p_key"), round(col("value"), 4).as("part_value"))
      },
      Some("""WITH v AS (
          SELECT l_partkey AS p_key, sum(l_extendedprice) AS value
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_9' GROUP BY 1)
        SELECT p_key, round(value, 4) AS part_value FROM v
        WHERE value > (SELECT sum(value) * 0.0002 FROM v)""")),

    // Q13 (customer order-count distribution): LEFT join with an
    // ON-clause filter, then a two-level aggregation (count per
    // customer → histogram of counts). Customers with zero matching
    // orders must appear in the c_count=0 bucket.
    Q.sql("agg_tpch_q13", """SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count"""),

    // Q15 (top supplier): quarterly revenue per supplier, keep the
    // max — the revenue-view + scalar-MAX-subquery shape.
    Q("agg_tpch_q15",
      (s, d) => {
        // persist: the per-supplier revenue view feeds both the scalar
        // MAX and the final selection — one lineitem scan, not two
        val rev = li(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_extendedprice") * disc).as("total_revenue"))
          .persist()
        rev.crossJoin(broadcast(rev.agg(max("total_revenue").as("max_rev"))))
          .filter(col("total_revenue") === col("max_rev"))
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("total_revenue"), 4).as("total_revenue"))
      },
      Some("""WITH rev AS (
          SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount))
            AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""")),

    // Q16 (parts/supplier relationship): NOT-IN as an anti join +
    // count-distinct over part attribute groups.
    Q("agg_tpch_q16",
      (s, d) => li(s, d)
        .join(prt(s, d).filter(col("p_brand") =!= "Brand#3" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)),
          col("l_partkey") === col("p_partkey"))
        .join(sup(s, d).filter(col("s_acctbal") < 0)
            .select(col("s_suppkey").as("bad_supp")),
          col("l_suppkey") === col("bad_supp"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt")),
      Some("""SELECT p_brand, p_type, p_size,
          count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3""")),

    // Q17 (small-quantity-order revenue): correlated per-part AVG
    // subquery → per-part aggregate joined back on the key.
    Q("agg_tpch_q17",
      (s, d) => {
        val partAvg = li(s, d).groupBy(col("l_partkey").as("pa_key"))
          .agg((avg(col("l_quantity")) * 0.2).as("qty_cap"))
        li(s, d)
          .join(prt(s, d).filter(col("p_brand") === "Brand#5" &&
              col("p_type") === "SMALL"),
            col("l_partkey") === col("p_partkey"))
          .join(partAvg, col("l_partkey") === col("pa_key"))
          .filter(col("l_quantity") < col("qty_cap"))
          .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"))
      },
      Some("""SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#5' AND p_type = 'SMALL'
          AND l_quantity < (SELECT 0.2 * avg(l_quantity)
            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""")),

    // Q18 (large-volume customers): IN over a HAVING subquery → semi
    // join against the qualifying-order aggregate.
    Q("agg_tpch_q18",
      (s, d) => {
        val bigOrders = li(s, d).groupBy(col("l_orderkey").as("big_okey"))
          .agg(sum("l_quantity").as("okey_qty"))
          .filter(col("okey_qty") > 300)
        li(s, d)
          .join(bigOrders, col("l_orderkey") === col("big_okey"), "left_semi")
          .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(cust(s, d), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            unix_timestamp(col("o_orderdate")).as("odate_s"), col("o_totalprice"))
          .agg(sum("l_quantity").as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
          CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate_s,
          o_totalprice, sum(l_quantity) AS sum_qty
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // Q19 (discounted revenue): three disjunctive brand/size/quantity
    // branches — the all-OR predicate a scan must still push down.
    Q.sql("agg_tpch_q19", """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4)
          AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30)"""),

    // Q20 (potential part promotion): nested IN chain → semi joins;
    // suppliers who moved serious volume of a part-name family in a
    // year (availqty has no analog — the HAVING threshold keeps the
    // shape: inner agg feeding an outer semi join).
    Q("agg_tpch_q20",
      (s, d) => {
        val movers = li(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(prt(s, d).filter(col("p_name").startsWith("red")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_suppkey"))
          .agg(sum("l_quantity").as("qty"))
          .filter(col("qty") > 350)
        sup(s, d)
          .join(broadcast(nat(s, d).filter(col("n_name") === "NATION_9")),
            col("s_nationkey") === col("n_nationkey"))
          .join(movers, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_name"), col("s_acctbal"))
      },
      Some("""SELECT s_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_9' AND s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND l_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          GROUP BY l_suppkey HAVING sum(l_quantity) > 350)""")),

    // Q21 (suppliers who kept orders waiting): the EXISTS/NOT-EXISTS
    // pair rewritten relationally — "some other supplier in the
    // order" ⇒ order's distinct-supplier count > 1; "no other late
    // supplier" ⇒ the order's late lines all belong to this supplier.
    // Late := shipped > 60 days after the order date (no
    // receipt/commit dates in the schema).
    Q("agg_tpch_q21",
      (s, d) => {
        val lateLines = li(s, d)
          .join(ord(s, d).filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
        // ">1 distinct supplier" ⇔ min≠max: a plain min/max partial agg
        // (one exchange) instead of countDistinct's expand + two
        // exchanges.
        val multiSupp = li(s, d).groupBy(col("l_orderkey").as("ms_okey"))
          .agg(min("l_suppkey").as("mn"), max("l_suppkey").as("mx"))
          .filter(col("mn") =!= col("mx"))
        // NOT EXISTS (another late supplier on the same order) folds
        // into a window over lateLines' own l_orderkey exchange —
        // evaluating lateLines ONCE ("exactly one late supplier" ⇔
        // window min==max); the old groupBy+semi-join form re-executed
        // the whole lineitem⋈orders subtree a second time (Spark does
        // not CSE common subplans across join branches).
        val w = Window.partitionBy(col("l_orderkey"))
        val soleLateLines = lateLines
          .withColumn("ln_mn", min(col("l_suppkey")).over(w))
          .withColumn("ln_mx", max(col("l_suppkey")).over(w))
          .filter(col("ln_mn") === col("ln_mx"))
        soleLateLines
          .join(multiSupp, col("l_orderkey") === col("ms_okey"), "left_semi")
          .join(sup(s, d), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""")),

    // Q22 (global sales opportunity): scalar AVG subquery + NOT
    // EXISTS (anti join). "Country code" := c_nationkey % 10 (no
    // phone column); "no orders" := dormant since 1999.
    Q("agg_tpch_q22",
      (s, d) => {
        val codes = Seq(0, 1, 2, 3, 8, 9)
        val inSet = cust(s, d)
          .withColumn("cntrycode", col("c_nationkey") % 10)
          .filter(col("cntrycode").isin(codes: _*))
        val avgBal = inSet.filter(col("c_acctbal") > 0)
          .agg(avg("c_acctbal").as("avg_bal"))
        inSet
          .join(ord(s, d)
              .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .groupBy(col("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            round(sum("c_acctbal"), 4).as("totacctbal"))
      },
      Some("""WITH inset AS (
          SELECT c_custkey, c_acctbal, c_nationkey % 10 AS cntrycode
          FROM customer WHERE c_nationkey % 10 IN (0, 1, 2, 3, 8, 9))
        SELECT cntrycode, count(*) AS numcust,
          round(sum(c_acctbal), 4) AS totacctbal
        FROM inset c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM inset
            WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY cntrycode"""))
  )
}
