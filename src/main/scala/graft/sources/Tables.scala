package graft.sources

import java.nio.file.{FileVisitOption, Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{classic, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver-generated star schema
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * Mirrors the role of beam's `ParquetIO`
  * (reference: sdks/java/io/parquet/.../ParquetIO.java:245) — but on
  * Spark the DataSource V2 parquet reader already provides predicate
  * pushdown, column pruning and partition planning, so these are thin
  * wrappers that only normalize types.
  *
  * '''Relation memo.''' In Beam a source is resolved once, when the
  * pipeline is built; here a table is resolved once per session, not on
  * every query build, where Spark's parquet inference costs one Spark job
  * per table and every resolution lists the files again. [[parquet]]
  * keeps one JVM-wide entry per absolute table path, so the memo is
  * bounded by the number of tables and a new key for a path replaces its
  * entry. The key is
  *  - a `java.nio` listing stamp of every file under the path (relative
  *    name, size, mtime), so an in-place overwrite misses: Spark writes
  *    new part-file names (as `tools.DegenerateTables` does); and
  *  - the session's explicitly set confs that change inference or
  *    listing: `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`
  *    (`nanosAsLong` turns `events.ts` into a long), `spark.sql.files.*`
  *    and `spark.sql.caseSensitive`.
  *
  * An entry holds the table's schema and its resolved `LogicalRelation`
  * (file index included) with the session that built it. A load with the
  * same stamp from the same session (`eq`) returns that relation with
  * fresh attribute ids (`newInstance`), so two loads of one table still
  * self-join; another session reuses only the schema and replaces the
  * entry, since scan planning reads the relation's own session conf. A
  * miss runs Spark's own inference, with no lock held. A path that is
  * missing, a glob, or on another file system is read as before, without
  * the memo, so its errors (`PATH_NOT_FOUND`) are Spark's own.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeNtz(parquet(spark, s"$dir/$name.parquet"))

  /** `spark.read.parquet(path)`, resolved once per session and stamp
    * (see the memo above). Also applies
    * [[graft.Session.BroadcastBlockSize]] to sessions the engine did not
    * build, unless the application set a block size itself. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val (k, v) = graft.Session.BroadcastBlockSize
    SparkEnv.get.conf.setIfMissing(k, v)
    val stamped = for {
      p <- localPath(spark, path)
      files <- listing(p)
    } yield p -> Stamp(files, inferenceConfs(spark))
    stamped match {
      case None => spark.read.parquet(path)
      case Some((p, stamp)) =>
        Option(memo.get(p)).filter(_.stamp == stamp) match {
          case Some(e) if e.session eq spark =>
            new classic.Dataset[Row](spark.asInstanceOf[classic.SparkSession],
              e.relation.newInstance(), Encoders.row(e.relation.schema))
          case hit =>
            val df = hit.fold(spark.read.parquet(path))(
              e => spark.read.schema(e.relation.schema).parquet(path))
            df.queryExecution.analyzed match {
              case r: LogicalRelation => memo.put(p, Entry(stamp, spark, r))
              case _ => memo.remove(p)
            }
            df
        }
    }
  }

  private final case class Stamp(files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)])

  private final case class Entry(stamp: Stamp, session: SparkSession,
      relation: LogicalRelation)

  private val memo = new ConcurrentHashMap[Path, Entry]()

  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k.startsWith("spark.sql.files.") || k == "spark.sql.caseSensitive"
    }.sorted

  /** The absolute local path that Spark reads for `path`; None for a
    * glob or another file system. */
  private def localPath(spark: SparkSession, path: String): Option[Path] = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val scheme = Option(uri.getScheme).getOrElse(
      FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    if (scheme != "file" || path.exists("{}[]*?\\".contains(_))) None
    else Some(Paths.get(uri.getPath).toAbsolutePath.normalize)
  }

  /** (relative name, size, mtime in ns) of every file under `root`,
    * sorted; None when `root` is missing or changes under the walk. */
  private def listing(root: Path): Option[Seq[(String, Long, Long)]] =
    try {
      val walk = Files.walk(root, FileVisitOption.FOLLOW_LINKS)
      try Some(walk.iterator.asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (!a.isRegularFile) None
        else Some((root.relativize(p).toString, a.size,
          a.lastModifiedTime.to(TimeUnit.NANOSECONDS)))
      }.toVector.sorted)
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }

  /** Parquet files written without the UTC-adjusted flag (pandas/arrow
    * default) surface as TIMESTAMP_NTZ on Spark ≥3.4 when
    * `spark.sql.parquet.inferTimestampNTZ.enabled` is on (the default).
    * Event-time ops (`unix_micros`, `withWatermark`, `window`) require
    * TIMESTAMP_LTZ, so normalize every NTZ column to TimestampType —
    * with the UTC session this engine pins everywhere, the cast is
    * value-preserving (wall-clock == epoch), and the DuckDB oracle
    * reads the same naive micros. Defensive even though our own
    * sessions also disable the inference conf: the driver's smoke-check
    * session is not ours to configure. */
  def normalizeNtz(df: DataFrame): DataFrame = {
    val hasNtz = df.schema.fields.exists(_.dataType == TimestampNTZType)
    if (!hasNtz) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events` is written with parquet TIMESTAMP(NANOS) which Spark's
    * vectorized reader surfaces as either TimestampType or (with the
    * legacy flag) LongType nanos; normalize to micros TimestampType so
    * downstream event-time ops (`withWatermark`, `window`) are uniform.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Parquet TIMESTAMP(NANOS) is not directly readable; read as long
    // nanos (legacy flag is runtime-settable) and downcast to micros.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // integer division: `/` would be double division, which at
        // epoch-nanos magnitude (~1.7e18, ulp=256ns) truncates to the
        // wrong microsecond for ~1.5% of rows.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
}
