package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark JVM. Sets up one workload, warms it up with
  * `Runner.WarmPasses` passes, then runs passes in closed loop for the
  * requested seconds, one operation at a time, each pass in an order
  * drawn from the seed. It writes `result.json` (and, traced,
  * `spans.jsonl`) to the output directory; `perfbench/run.py` checks the
  * outputs and prints the result.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir>
  */
object Main {
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Metric values, with a missing figure (NaN) written as null. */
  def numbers(m: Map[String, Double]): Map[String, Option[Double]] =
    m.map { case (k, v) => k -> Some(v).filterNot(x => x.isNaN || x.isInfinite) }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, dataDir, outArg) = args
    val seed = seedArg.toLong
    val out = Paths.get(outArg)
    Files.createDirectories(out)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traceArg == "1") Some(new Trace(java.util.UUID.randomUUID.toString)) else None
    val probe = trace.map { _ => val p = new Probe; spark.sparkContext.addSparkListener(p); p }
    val failures = ArrayBuffer.empty[(String, Throwable)]
    try {
      val bench = new Runner(spark, workload, dataDir, out, trace, failures)
      val res = bench.measure(seed, secondsArg.toDouble, jvmStartMs)
      val layers = trace.map { t =>
        Probe.drain(spark.sparkContext)
        t.collect(probe.get)
        t.write(out.resolve("spans.jsonl"))
        bench.layers(res, cores)
      }
      val result = Map(
        "workload" -> workload, "seed" -> seed, "trace" -> traceArg, "cores" -> cores,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "attempted" -> (res.execs.size + res.failedOps),
        "failed" -> res.failedOps,
        "failures" -> failures.toSeq.map { case (op, e) =>
          Map("op" -> op, "class" -> e.getClass.getName,
            "message" -> String.valueOf(e.getMessage).take(2000))
        },
        "metrics" -> Main.numbers(bench.endToEnd(res).toMap),
        "layers" -> Main.numbers(layers.getOrElse(Map.empty)),
        "units" -> res.execs.groupBy(_.unit).map { case (n, es) =>
          n -> Map("n" -> es.size,
            "median_s" -> Runner.median(es.map(_.seconds)),
            "seconds" -> es.map(_.seconds),
            "batch_seconds" -> es.map(_.batches))
        },
        "pass_seconds" -> res.passes,
        "check" -> bench.checkOutputs())
      Main.Json.writeValue(out.resolve("result.json").toFile, result)
    } finally spark.stop()
  }
}

/** What the timed window produced. */
final case class Window(execs: Seq[Exec], passes: Seq[Double], failedOps: Int,
    setupS: Double, jvmGcS: Double, jvmJitS: Double)

final class Runner(spark: SparkSession, workload: String, dataDir: String,
    out: Path, trace: Option[Trace], failures: ArrayBuffer[(String, Throwable)]) {
  private var tpc: Option[TpcRelational] = None
  private var stream: Option[StreamWorkload] = None

  private val (names, runOp, layersOf) = workload match {
    case "tpc_relational" =>
      val w = new TpcRelational(spark, dataDir, trace)
      tpc = Some(w)
      (w.names, (n: String, p: Int, _: Boolean) => w.run(n, p), (e: Exec, t: Trace) => w.layers(e, t))
    case "stream_stateful" =>
      setStreamingConfs()
      val ev = graft.sources.Tables.events(spark, dataDir)
        .select("user_id", "ts", "event_type", "value", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3), r.getLong(4)))
        .sortBy(e => (e._2.getTime, e._5))
        .toIndexedSeq
      val w = new StreamWorkload(spark, Replay(ev), trace)
      stream = Some(w)
      (w.names, (n: String, p: Int, warm: Boolean) => w.run(n, p, warm), (e: Exec, t: Trace) => w.layers(e, t))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The streaming confs of the engine's own bench: RocksDB state with
    * changelog checkpointing, 8 state partitions, no no-data batches. */
  private def setStreamingConfs(): Unit = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> graft.streaming.StatefulV2.RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.numRecentProgressUpdates" -> "1000",
    "spark.sql.shuffle.partitions" -> "8",
  ).foreach { case (k, v) => spark.conf.set(k, v) }

  private def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Runs one operation; a throw is recorded with its class and message
    * and counts as a failed operation. Caches are dropped after each one
    * so every execution starts from the same state. */
  private def attempt(name: String, parent: Int, warm: Boolean = false): Option[Exec] =
    try Some(runOp(name, parent, warm))
    catch { case e: Exception => failures += (name -> e); None }
    finally {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

  def measure(seed: Long, seconds: Double, jvmStartMs: Long): Window = {
    // warm-up at the workload's own scale, untimed
    for (pass <- 1 to Runner.WarmPasses) order(seed, -pass).foreach(attempt(_, -1, warm = true))
    val warmFailures = failures.size
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val gc0 = Runner.gcMs; val jit0 = Runner.jitMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[Double]
    var failed = 0
    // whole passes only, so every operation runs equally often
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val passStart = System.nanoTime()
      val passSpan = trace.map(t => t.add(-1, s"pass:${passes.size}", t.epochUs(passStart), 0L))
      order(seed, passes.size).foreach { n =>
        attempt(n, passSpan.map(_.id).getOrElse(-1)) match {
          case Some(e) => execs += e
          case None => failed += 1
        }
      }
      val passEnd = System.nanoTime()
      for (t <- trace; s <- passSpan) t.spans(s.id) = s.copy(endUs = t.epochUs(passEnd))
      passes += (passEnd - passStart) / 1e9
    }
    Window(execs.toSeq, passes.toSeq, failed + warmFailures, setupS,
      (Runner.gcMs - gc0) / 1e3, (Runner.jitMs - jit0) / 1e3)
  }

  /** The end-to-end metrics. `pass_s` is the mean wall of the timed
    * passes; `events_per_s` the records delivered (result rows) or
    * replayed (stream events) per second of operation time; the
    * percentiles run over every execution (query) and every unit of
    * execution (batch) in the window. */
  def endToEnd(w: Window): Seq[(String, Double)] = {
    val queries = w.execs.map(_.seconds)
    val batches = w.execs.flatMap(_.batches)
    Seq(
      "setup_s" -> w.setupS,
      "pass_s" -> w.passes.sum / w.passes.size,
      "query_p50_s" -> Runner.quantile(queries, 0.5),
      "query_p90_s" -> Runner.quantile(queries, 0.9),
      "events_per_s" -> w.execs.map(_.events).sum / queries.sum,
      "batch_p50_s" -> Runner.quantile(batches, 0.5),
      "batch_p90_s" -> Runner.quantile(batches, 0.9),
      "peak_rss_mb" -> Runner.peakRssMb)
  }

  /** Per-layer figures: each operation's median over its traced
    * executions, summed over operations (so per pass). The spans'
    * build, catalyst and exec times against the passes' wall give the
    * accounted share; the rest of a pass is `trace.unaccounted_s`. */
  def layers(w: Window, cores: Int): Map[String, Double] = {
    val perExec = w.execs.map(e => e -> layersOf(e, trace.get))
    val perPass = perExec.flatMap(_._2.keys).distinct.map { k =>
      k -> perExec.groupBy(_._1.unit).values
        .map(es => Runner.median(es.map(_._2.getOrElse(k, 0.0)))).sum
    }.toMap
    val passes = w.passes.size
    val wall = w.passes.sum
    val accounted = perExec.map { case (_, l) => l("build.s") + l("catalyst.s") + l("exec.s") }.sum
    Runner.LayerNames.map(_ -> 0.0).toMap ++ perPass ++ Map(
      "exec.occupancy" -> perPass("exec.task_run_s") / (perPass("exec.s") * cores),
      "jvm.gc_s" -> w.jvmGcS / passes,
      "jvm.jit_s" -> w.jvmJitS / passes,
      "trace.pass_s" -> wall / passes,
      "trace.accounted_share" -> accounted / wall,
      "trace.unaccounted_s" -> (wall - accounted) / passes,
      "trace.spans" -> trace.get.spans.size.toDouble)
  }

  /** Untimed output dump for the check in run.py: each query's last
    * collected result as parquet with its oracle SQL, each stream op's
    * sink row total. */
  def checkOutputs(): Map[String, Any] = {
    val oracleSql = graft.SparkEntry.oracleSql
    val outputs = tpc.toSeq.flatMap(_.lastRows.toSeq.map { case (n, (rows, schema)) =>
      val dir = out.resolve("check").resolve(n).toString
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      n -> dir
    }).toMap
    Map("outputs" -> outputs,
      "oracle_sql" -> names.flatMap(n => oracleSql.get(n).map(n -> _)).toMap,
      "stream_rows" -> stream.map(_.lastRows.toMap).getOrElse(Map.empty))
  }
}

object Runner {
  val WarmPasses = 2

  /** Every per-layer name, so each is reported on every workload. */
  val LayerNames: Seq[String] = Seq("build.s", "build.jobs",
    "sources.schema_jobs", "sources.schema_s", "catalyst.s",
    "catalyst.optimize_s", "catalyst.physical_s") ++
    Layers.exec(0, _ => 0).keys ++
    Seq("streaming.batches", "streaming.state_memory_mb") ++
    StreamWorkload.ProgressSums.map(n => s"streaming.$n")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
  def jitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** The JVM's peak resident set (VmHWM). */
  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}
