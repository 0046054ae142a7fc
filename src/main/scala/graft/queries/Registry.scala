package graft.queries

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

import graft.sources.Tables

/** One verifiable operator demo: a Spark query over the testdata tables
  * plus (when SQL-expressible) a DuckDB oracle computing the identical
  * result with identical column names (driver hash-compares after
  * sorting columns by name / rows by value). `timed = false` keeps a
  * query out of `graft.Bench`'s timed set: the small-data oracles and
  * single-expression demos that are not a scale path.
  *
  * Use [[Q.sql]] when one SQL string runs on both engines and Spark
  * plans it as the DataFrame form would: the Spark text and the oracle
  * text are then one string, and join hints go in `/*+ BROADCAST(t) */`
  * comments, which DuckDB skips. Write a DataFrame body when the query
  * exercises an engine or Dataset API, or when the oracle needs
  * DuckDB-only syntax. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    timed: Boolean = true)

object Q {

  /** A query whose Spark text is its oracle text. */
  def sql(name: String, text: String, timed: Boolean = true): Q =
    Q(name, (s, d) => run(s, d, text), Some(text), timed)

  /** `s.sql(text)` over temp views of the base tables that `text` names,
    * read through [[graft.sources.Tables]]. Only those tables are
    * registered, and they are dropped once the text is analyzed (a view
    * of the same name that the caller made is replaced, then dropped), so
    * the session's other temp views are untouched. A name that is no
    * base table, such as a CTE's, is left to Spark's analyzer. */
  def run(s: SparkSession, d: String, text: String): DataFrame = {
    val names = tables(s.sessionState.sqlParser.parsePlan(text)).intersect(baseTables)
    names.foreach { n =>
      (if (n == "events") Tables.events(s, d) else Tables.load(s, d, n))
        .createOrReplaceTempView(n)
    }
    try s.sql(text)
    finally names.foreach(s.catalog.dropTempView)
  }

  private val baseTables = Set("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Every one-part relation name in a parsed plan, lower-cased. Walks
    * what `LogicalPlan.collect` does not reach: subquery expressions
    * (EXISTS, IN, scalar) and the CTE definitions of `UnresolvedWith`. */
  private[queries] def tables(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        Set(r.multipartIdentifier.head.toLowerCase(Locale.ROOT))
      case w: UnresolvedWith => w.cteRelations.flatMap(c => tables(c._2)).toSet
    }.flatten.toSet
}

object Registry {
  def all: Seq[Q] =
    RelationalQueries.queries ++ TpchQueries.queries ++
      TpcdsQueries.queries ++ EventTimeQueries.queries ++
      TextQueries.queries ++ VectorQueries.queries ++
      CoverageQueries.queries ++ PipelineQueries.queries ++
      CurationQueries.queries
}
