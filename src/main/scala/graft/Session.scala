package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for every main and the test suite, so
  * a profiler or probe measures the bench's configuration: local mode
  * on `cpus` cores with as many shuffle partitions, UTC session time,
  * parquet timestamps read as LTZ (never inferred NTZ), no UI, WARN
  * logging, and one executor class loader for every session
  * ([[SharedExecutorLoader]]). `overrides` are applied last, so they
  * win. */
object Session {

  /** Turns off per-session artifact isolation, under which each
    * streaming query's session clone gets its own executor class loader
    * and so misses the loader-keyed generated-code cache (see
    * [[graft.tools.ReplayHarness]]). The engine adds no artifacts (no
    * `addArtifact` or `addJar`), so one shared loader loses nothing. */
  private[graft] val SharedExecutorLoader: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** `SPARK_GRAFT_CPUS`, or the host's available processors when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int, overrides: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(SharedExecutorLoader._1, SharedExecutorLoader._2)
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
