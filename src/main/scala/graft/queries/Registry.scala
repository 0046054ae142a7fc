package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demo: a Spark query over the testdata tables
  * plus (when SQL-expressible) a DuckDB oracle computing the identical
  * result with identical column names (driver hash-compares after
  * sorting columns by name / rows by value). `timed = false` keeps a
  * query out of `graft.Bench`'s timed set: the small-data oracles and
  * single-expression demos that are not a scale path. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    timed: Boolean = true)

object Registry {
  def all: Seq[Q] =
    RelationalQueries.queries ++ TpchQueries.queries ++
      TpcdsQueries.queries ++ EventTimeQueries.queries ++
      TextQueries.queries ++ VectorQueries.queries ++
      CoverageQueries.queries ++ PipelineQueries.queries ++
      CurationQueries.queries
}
