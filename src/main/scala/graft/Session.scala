package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for every main and the test suite, so
  * a profiler or probe measures the bench's configuration: local mode
  * on `cpus` cores with as many shuffle partitions, UTC session time,
  * parquet timestamps read as LTZ (never inferred NTZ), no UI, WARN
  * logging, one executor class loader for every session
  * ([[SharedExecutorLoader]]) and 512 KB broadcast blocks
  * ([[BroadcastBlockSize]]). `overrides` are applied last, so they
  * win. */
object Session {

  /** Turns off per-session artifact isolation, under which each
    * streaming query's session clone gets its own executor class loader
    * and so misses the loader-keyed generated-code cache (see
    * [[graft.tools.ReplayHarness]]). The engine adds no artifacts (no
    * `addArtifact` or `addJar`), so one shared loader loses nothing. */
  private[graft] val SharedExecutorLoader: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** The size of a broadcast block. `TorrentBroadcast` serializes into
    * chunks of this size and allocates a whole one on its first write,
    * for every broadcast join, every stage's task binary and every
    * parquet scan's Hadoop conf. G1 treats an object of half a region or
    * more as humongous: it fills whole regions of its own and is freed
    * only at the next GC, so a faster pass packs more of them into each
    * cycle and raises the resident set. JDK 17 sizes regions from the
    * heap: 1 MB at 2 GB, 2 MB at 3–4 GB (perfbench), 4 MB at 7–8 GB (the
    * test suite on a 15 GB host). Spark's 4 MB default is humongous at
    * every heap under 16 GB; 512 KB is not, from 2 MB regions up, but is
    * again at 1 MB regions. [[local]] sets it at build;
    * [[graft.sources.Tables.parquet]] sets it on sessions built
    * elsewhere, with `setIfMissing`, because `TorrentBroadcast` reads the
    * size from `SparkEnv.get.conf` on every broadcast. */
  private[graft] val BroadcastBlockSize: (String, String) =
    "spark.broadcast.blockSize" -> "512k"

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
      .config(BroadcastBlockSize._1, BroadcastBlockSize._2)
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
