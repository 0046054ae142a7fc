package graft.queries

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** [[Q.run]]'s table walk: every base table a text names is bound,
  * wherever in the text it is named, and no other name is. */
class SqlTextSpec extends graft.SparkSpec {

  private def n(text: String): Long = Q.run(spark, sfDir, text).head().getLong(0)
  private def nations = Tables.nation(spark, sfDir).count()
  private def regions = Tables.region(spark, sfDir).count()

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("a table named only in a CTE body is registered") {
    assert(n("WITH c AS (SELECT n_nationkey FROM nation) SELECT count(*) FROM c") == nations)
  }

  test("a table named only inside EXISTS, IN or a scalar subquery is registered") {
    assert(n("SELECT count(*) FROM VALUES (1) t(x) WHERE EXISTS (SELECT 1 FROM region)") == 1)
    val keys = Tables.region(spark, sfDir).collect().map(_.getAs[Number]("r_regionkey").longValue)
    assert(n("""SELECT count(*) FROM VALUES (0), (1), (99) t(k)
      WHERE k IN (SELECT r_regionkey FROM region)""") == Seq(0L, 1L, 99L).count(keys.contains))
    assert(n("SELECT (SELECT count(*) FROM nation) AS c") == nations)
  }

  test("a self-join under two aliases reads one table") {
    val pairs = Tables.nation(spark, sfDir).groupBy("n_regionkey").count()
      .collect().map(r => r.getLong(1) * r.getLong(1)).sum
    assert(n("""SELECT count(*) FROM nation a
      JOIN nation b ON a.n_regionkey = b.n_regionkey""") == pairs)
  }

  test("a CTE name that is not a table is not registered") {
    // loading `ghost` as a base table would fail with PATH_NOT_FOUND
    assert(Q.tables(spark.sessionState.sqlParser.parsePlan(
      "WITH ghost AS (SELECT * FROM region) SELECT * FROM ghost")) == Set("ghost", "region"))
    assert(n("WITH ghost AS (SELECT * FROM region) SELECT count(*) FROM ghost") == regions)
  }

  test("a CTE named like a base table shadows the table") {
    assert(n("WITH nation AS (SELECT * FROM region) SELECT count(*) FROM nation") == regions)
  }

  test("an unknown table fails with TABLE_OR_VIEW_NOT_FOUND") {
    val e = intercept[AnalysisException] {
      Q.run(spark, sfDir, "SELECT * FROM nation JOIN no_such_table ON true")
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
  }

  test("the session's temp views are the same after a build as before") {
    spark.range(1).createOrReplaceTempView("sql_text_spec_keep")
    try {
      val before = tempViews
      val df = Q.run(spark, sfDir, """SELECT n_name, r_name FROM nation
        JOIN region ON n_regionkey = r_regionkey
        WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)""")
      assert(tempViews == before)
      intercept[AnalysisException](Q.run(spark, sfDir, "SELECT * FROM region, no_such_table"))
      assert(tempViews == before)
      assert(df.count() > 0) // the built frame still runs once its views are gone
    } finally spark.catalog.dropTempView("sql_text_spec_keep")
  }

  test("Dataset cube and offset return the rows of their SQL forms") {
    // agg_cube and sort_limit_offset run from text, so the Dataset
    // calls they made are checked here
    val li = Tables.lineitem(spark, sfDir)
    val cube = li.cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
    val cubeSql = Q.run(spark, sfDir, """SELECT l_returnflag, l_linestatus,
      count(*) AS n, sum(l_quantity) AS qty FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)""")
    assertRows(cube, cubeSql.collect().map(_.toSeq).toSeq)
    val ord = Tables.orders(spark, sfDir)
    val page = ord.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(10).limit(20).select("o_orderkey", "o_totalprice")
    val pageSql = Q.run(spark, sfDir, """SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 10""")
    assert(page.collect().toSeq == pageSql.collect().toSeq)
    assert(page.count() == math.min(20L, math.max(0L, ord.count() - 10)))
  }
}
