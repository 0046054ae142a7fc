package graft.queries

import java.util.Locale

import org.apache.spark.sql.{classic, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

import graft.sources.Tables

/** One verifiable operator demo: a Spark query over the testdata tables
  * plus (when SQL-expressible) a DuckDB oracle computing the identical
  * result with identical column names (driver hash-compares after
  * sorting columns by name / rows by value). `timed = false` keeps a
  * query out of `graft.Bench`'s timed set: the small-data oracles and
  * single-expression demos that are not a scale path.
  *
  * Use [[Q.sql]] when one SQL string runs on both engines and Spark
  * plans it as the DataFrame form would: the text returns the same rows
  * and schema, its executed (AQE-final) plan has the same physical
  * operator sequence, subqueries included, and its optimized plan has
  * the same multiset of `Join.hint`. The Spark text and the oracle text
  * are then one string, and join hints go in `/*+ BROADCAST(t) */`
  * comments, which DuckDB skips. Write a DataFrame body when the query
  * exercises an engine or Dataset API, when the text plans otherwise,
  * or when the oracle needs DuckDB-only syntax. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    timed: Boolean = true)

object Q {

  /** A query whose Spark text is its oracle text. */
  def sql(name: String, text: String, timed: Boolean = true): Q =
    Q(name, (s, d) => run(s, d, text), Some(text), timed)

  /** `text` parsed once, with each base table it names read through
    * [[graft.sources.Tables]] and bound in place of the name, in CTE
    * bodies and subqueries too. A name that is no base table, or that a
    * CTE of the text defines, is left to Spark's analyzer. No temp view
    * is made, so the session's catalog is untouched, and the build costs
    * no view commands. */
  def run(s: SparkSession, d: String, text: String): DataFrame = {
    val cs = s.asInstanceOf[classic.SparkSession]
    val parsed = cs.sessionState.sqlParser.parsePlan(text)
    val bound = (tables(parsed).intersect(baseTables) -- ctes(parsed)).map { n =>
      n -> (if (n == "events") Tables.events(s, d) else Tables.load(s, d, n))
        .queryExecution.analyzed
    }.toMap
    def bind(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 &&
          bound.contains(r.multipartIdentifier.head.toLowerCase(Locale.ROOT)) =>
        val n = r.multipartIdentifier.head.toLowerCase(Locale.ROOT)
        SubqueryAlias(n, bound(n))
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, c, depth) => (n, bind(c).asInstanceOf[SubqueryAlias], depth)
      })
    }
    val plan = cs.sessionState.executePlan(bind(parsed)).analyzed
    new classic.Dataset[Row](cs, plan, Encoders.row(plan.schema))
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

  /** The names the CTEs of a parsed plan define, lower-cased. */
  private def ctes(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.flatMap(c =>
        ctes(c._2) + c._1.toLowerCase(Locale.ROOT)).toSet
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
