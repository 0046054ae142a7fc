package perfbench

import org.apache.spark.sql.{Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType
import graft.streaming.{StatefulV2, StreamOps}
import graft.tools.ReplayHarness

/** One timed execution of a workload operation: a batch query, or one
  * streaming op's replay. `seconds` runs from the first call into the
  * engine until the result is delivered; `batches` holds the latency of
  * each batch of work (the query itself, or each micro-batch); `events`
  * counts the records the operation delivered
  * (result rows) or replayed (stream events). `spans` are the ids of the
  * operation's trace spans (traced runs only). */
final case class Exec(unit: String, seconds: Double, batches: Seq[Double],
    events: Long, spans: Seq[Int])

/** `tpc_relational`: TPC-H and TPC-DS analogs from the engine's query
  * registry, each result collected to the driver as a BI client would.
  * Every execution is split into build (the registry call, which builds
  * the DataFrame and runs any eager jobs, parquet schema inference
  * included), catalyst (forcing the optimized, then the physical plan)
  * and exec (the collect). */
final class TpcRelational(spark: SparkSession, dataDir: String, trace: Option[Trace]) {
  private val sc = spark.sparkContext
  private val registry = graft.SparkEntry.queries
  private var serial = 0
  /** the last collected result of each query, for the output check */
  val lastRows = scala.collection.mutable.HashMap.empty[String, (Array[Row], StructType)]

  def names: Seq[String] = TpcRelational.Queries

  def run(name: String, parentSpan: Int): Exec = {
    serial += 1
    val key = s"$name#$serial"
    def phase[A](suffix: String)(body: => A): (A, Long, Long) = {
      if (trace.isDefined) sc.setLocalProperty(Probe.SpanProperty, s"$key.$suffix")
      val t0 = System.nanoTime()
      val a = body
      (a, t0, System.nanoTime())
    }
    val fn = registry.getOrElse(name,
      throw new NoSuchElementException(s"query $name is not in the registry"))
    try {
      val (df, b0, b1) = phase("build")(fn(spark, dataDir))
      val (_, o0, o1) = phase("catalyst")(df.queryExecution.optimizedPlan)
      val (_, p0, p1) = phase("catalyst")(df.queryExecution.executedPlan)
      val (rows, e0, e1) = phase("exec")(df.collect())
      lastRows(name) = (rows, df.schema)
      val spans = trace.toSeq.flatMap { t =>
        val q = t.add(parentSpan, s"query:$name", t.epochUs(b0), t.epochUs(e1))
        val c = t.add(q.id, "catalyst", t.epochUs(o0), t.epochUs(p1), s"$key.catalyst")
        Seq(q, t.add(q.id, "build", t.epochUs(b0), t.epochUs(b1), s"$key.build"), c,
          t.add(c.id, "optimize", t.epochUs(o0), t.epochUs(o1)),
          t.add(c.id, "physical", t.epochUs(p0), t.epochUs(p1)),
          t.add(q.id, "exec", t.epochUs(e0), t.epochUs(e1), s"$key.exec")).map(_.id)
      }
      // each query is one batch of work for its client; the collect alone
      // (the exec span) varied twice as much from run to run at this scale
      val seconds = (e1 - b0) / 1e9
      Exec(name, seconds, Seq(seconds), rows.length.toLong, spans)
    } finally sc.setLocalProperty(Probe.SpanProperty, null)
  }

  /** Per-layer figures of one traced execution, from its spans. */
  def layers(e: Exec, t: Trace): Map[String, Double] = {
    val byName = e.spans.map(t.spans(_)).map(s => s.name -> s).toMap
    val build = byName("build"); val cat = byName("catalyst"); val ex = byName("exec")
    def c(s: Span, n: String) = s.counts.getOrElse(n, 0.0)
    def all(n: String) = c(build, n) + c(cat, n) + c(ex, n)
    Layers.exec(ex.seconds, n => c(cat, n) + c(ex, n)) ++ Map(
      "build.s" -> build.seconds,
      "build.jobs" -> c(build, "jobs"),
      "sources.schema_jobs" -> all("schema_jobs"),
      "sources.schema_s" -> all("schema_ms") / 1e3,
      "catalyst.s" -> cat.seconds,
      "catalyst.optimize_s" -> byName("optimize").seconds,
      "catalyst.physical_s" -> byName("physical").seconds)
  }
}

object TpcRelational {
  /** TPC-H scan-aggregate (q1), a six-way join (q5) and the deepest
    * TPC-DS analog plan (q64). Few queries, so each runs often enough
    * in a window for its median to hold still. */
  val Queries: Seq[String] = Seq("agg_tpch_q1", "agg_tpch_q5", "agg_tpcds_q64")
}

/** Shared shaping of listener counters into `exec.*` figures. */
object Layers {
  def exec(seconds: Double, c: String => Double): Map[String, Double] = Map(
    "exec.s" -> seconds,
    "exec.jobs" -> c("jobs"),
    "exec.stages" -> c("stages"),
    "exec.tasks" -> c("tasks"),
    "exec.task_failures" -> c("task_failures"),
    "exec.task_run_s" -> c("task_run_ms") / 1e3,
    "exec.task_cpu_s" -> c("task_cpu_ns") / 1e9,
    "exec.gc_s" -> c("task_gc_ms") / 1e3,
    "exec.input_mb" -> c("input_bytes") / 1e6,
    "exec.shuffle_read_mb" -> c("shuffle_read_bytes") / 1e6,
    "exec.shuffle_write_mb" -> c("shuffle_write_bytes") / 1e6,
    "exec.spill_mb" -> c("spill_bytes") / 1e6)
}

/** The events replay: (user_id, ts, event_type, value, event_id) in
  * event-time order, collected once during set-up. */
final case class Replay(
    ev: IndexedSeq[(Long, java.sql.Timestamp, String, Double, Long)]) {
  private val maxTs = ev.last._2.getTime
  def lateTs(h: Int) = new java.sql.Timestamp(maxTs + h * 3600000L)
  lazy val tvd: IndexedSeq[(Long, java.sql.Timestamp, Double)] =
    ev.map(e => (e._1, e._2, e._4))
  lazy val named: IndexedSeq[(Long, java.sql.Timestamp, String, Double)] =
    ev.map(e => (e._1, e._2, e._3, e._4))
}

/** `stream_stateful`: closed-loop MemoryStream replay of the events
  * through three streaming ops with the engine's replay harness
  * ([[graft.tools.ReplayHarness]]): `Chunks` micro-batches plus the
  * watermark sentinels that flush event-time state, into a noop sink. */
final class StreamWorkload(spark: SparkSession, replay: Replay, trace: Option[Trace]) {
  import spark.implicits._
  private val sc = spark.sparkContext
  private var serial = 0
  /** sink output rows of each op's last replay, for the output check */
  val lastRows = scala.collection.mutable.HashMap.empty[String, Long]

  private val r = replay

  /** name → (query-scoped confs, replay); the confs follow the engine's
    * own streaming bench (8 state partitions; 1 for new_users). */
  private val ops: Seq[(String, Seq[(String, String)], (String, Int, Boolean) => Exec)] = Seq(
    ("streaming_passthrough", Nil, (n, p, w) =>
      replayOp(n, p, w, r.tvd, Nil)(_.select(col("_1"), col("_2"), col("_3")))),
    ("streaming_incremental_join", Nil, (n, p, w) =>
      replayOp(n, p, w, r.ev.map(e =>
        if (e._3 == "signup") (e._1, Option(e._1), Option.empty[Double])
        else (e._1, Option.empty[Long], Option(e._4))), Nil)(
        StatefulV2.incrementalJoin[Long, Long, Double](_))),
    ("streaming_new_users", Seq("spark.sql.shuffle.partitions" -> "1"), (n, p, w) =>
      replayOp(n, p, w, r.named,
        Seq((-1L, r.lateTs(3), "view", 0.0), (-1L, r.lateTs(4), "view", 0.0))) { ds =>
        StreamOps.newUsersJoinPacked(ds.toDF("user_id", "ts", "event_type", "value"),
          windowSize = "1 hour", lateness = "0 seconds",
          leftType = "signup", rightType = "view")
      }))

  def names: Seq[String] = ops.map(_._1)

  /** Runs one op; a warm-up replays only the first `WarmChunks` chunks
    * (same chunk size) and the sentinels. */
  def run(name: String, parentSpan: Int, warm: Boolean): Exec = {
    val (_, confs, go) = ops.find(_._1 == name).get
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try go(name, parentSpan, warm)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Replays `rows` in `Chunks` micro-batches, then the `sentinels`. The
    * op's time runs from building its Dataset to the final flush; each
    * micro-batch's is its `triggerExecution` duration. */
  private def replayOp[T: Encoder](name: String, parentSpan: Int, warm: Boolean,
      rows: IndexedSeq[T], sentinels: Seq[T])(f: Dataset[T] => Dataset[_]): Exec = {
    serial += 1
    val key = s"$name#$serial"
    if (trace.isDefined) sc.setLocalProperty(Probe.SpanProperty, key)
    val chunk = math.max(1, rows.size / StreamWorkload.Chunks)
    val (fed, chunks) =
      if (warm) (rows.take(StreamWorkload.WarmChunks * chunk), StreamWorkload.WarmChunks)
      else (rows, StreamWorkload.Chunks)
    var b0, b1 = 0L
    val t0 = System.nanoTime()
    try {
      val (_, recent) = ReplayHarness.run(spark, key.replace('#', '-'), fed, sentinels, chunks) { ds =>
        b0 = System.nanoTime()
        val out = f(ds)
        b1 = System.nanoTime()
        out
      }
      val t1 = System.nanoTime()
      val progress = recent.filter(_.batchId >= 0)
      lastRows(name) = progress.map(_.sink.numOutputRows).filter(_ > 0).sum
      val spans = trace.toSeq.flatMap { t =>
        val op = t.add(parentSpan, s"op:$name", t.epochUs(t0), t.epochUs(t1), key)
        val b = t.add(op.id, "build", t.epochUs(b0), t.epochUs(b1))
        Seq(op.id, b.id) ++ progress.map { p =>
          val start = java.time.Instant.parse(p.timestamp)
          val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000L
          val counts = StreamWorkload.progressCounts(p)
          val s = t.add(op.id, s"batch:${p.batchId}", startUs,
            startUs + counts("trigger_ms").toLong * 1000L,
            Probe.streamKey(p.id.toString, p.batchId))
          s.counts = counts
          s.id
        }
      }
      // the first batch also starts the query (planning from scratch,
      // state-store creation); its cost counts in the op's time only
      val batches = progress.filter(_.batchId > 0)
        .map(ReplayHarness.dur(_, "triggerExecution") / 1e3).toSeq
      Exec(name, (t1 - t0) / 1e9, batches, fed.size.toLong, spans)
    } finally sc.setLocalProperty(Probe.SpanProperty, null)
  }

  /** Per-layer figures of one traced op replay: its build span, the
    * planning time progress reports (catalyst) and the rest of each
    * micro-batch's trigger time (exec). Time in no span (query start and
    * stop, waits between batches) is left unaccounted. */
  def layers(e: Exec, t: Trace): Map[String, Double] = {
    val spans = e.spans.map(t.spans(_))
    val op = spans.head
    val build = spans(1)
    val batches = spans.drop(2)
    def sum(n: String) = (op +: batches).map(_.counts.getOrElse(n, 0.0)).sum
    val planningS = sum("query_planning_ms") / 1e3
    Layers.exec(sum("trigger_ms") / 1e3 - planningS, sum) ++ Map(
      "build.s" -> build.seconds,
      "catalyst.s" -> planningS,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.state_memory_mb" ->
        batches.map(_.counts.getOrElse("state_memory_bytes", 0.0)).foldLeft(0.0)(math.max) / 1e6) ++
      StreamWorkload.ProgressSums.map(n => s"streaming.$n" -> sum(n))
  }
}

object StreamWorkload {
  val Chunks = 5
  val WarmChunks = 2

  /** Streaming figures summed over an op's batches. */
  val ProgressSums: Seq[String] = Seq("query_planning_ms", "get_batch_ms",
    "latest_offset_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
    "trigger_ms", "state_commit_ms", "state_update_ms", "state_removal_ms",
    "state_rows_updated", "state_rows_removed")

  private val durationKeys = Seq("queryPlanning" -> "query_planning_ms",
    "getBatch" -> "get_batch_ms", "latestOffset" -> "latest_offset_ms",
    "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
    "commitOffsets" -> "commit_offsets_ms", "triggerExecution" -> "trigger_ms")

  def progressCounts(p: StreamingQueryProgress): Map[String, Double] = {
    val ops = p.stateOperators
    durationKeys.map { case (k, n) =>
      n -> Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    }.toMap ++ Map(
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
      "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum.toDouble,
      "state_removal_ms" -> ops.map(_.allRemovalsTimeMs).sum.toDouble,
      "state_rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
      "state_rows_removed" -> ops.map(_.numRowsRemoved).sum.toDouble,
      "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
      "input_rows" -> p.numInputRows.toDouble,
      "output_rows" -> p.sink.numOutputRows.toDouble)
  }
}
