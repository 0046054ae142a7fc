package graft

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.streaming.{StatefulV2, StreamOps}

/** Streaming THROUGHPUT bench: replays the `events` table in
  * event-time order through MemoryStream into the stateful streaming
  * operators and reports events/second — the like-for-like comparison
  * with BASELINE.md's published Beam DirectRunner Nexmark numbers,
  * which are a STREAMING bench (events/s over ~100k events), where the
  * batch headline queries only measure batch analogs.
  *
  * Method: rows sorted by event time (Nexmark's replay order), fed in
  * `Chunks` micro-batches (so state-store commits, watermark advance,
  * and timer firing are all on the measured path), then watermark
  * sentinels to flush event-time state; wall time runs from
  * query.start() through the final flush. Single measured pass per op
  * (streaming queries are multi-second and self-averaging across
  * micro-batches; the batch bench's best-of-3 would triple a
  * several-minute section for little variance gain).
  */
object StreamingBench {

  private val Chunks = 10

  /** The streaming section's session confs (measured on sf0.1, each
    * worth 1.3-2x): RocksDB + changelog checkpointing (per-batch commit
    * ships the delta, not a full snapshot), 8 state partitions (32
    * RocksDB instances paying per-batch commit overhead dwarfed the
    * actual work at this key cardinality), and no no-data
    * micro-batches (timers fire during the data batches; the sentinel
    * batches deliver the final flushes). [[run]] applies them. */
  private[graft] val confs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> StatefulV2.RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // r18 track sweep (tdigest per-key vs global, P 8/2): maintaining
    // the numRowsTotal metric costs a RocksDB point-get per put/delete
    // — at P=8 that DOUBLED per-key tdigest commit wall (18.9 s → 6.0 s
    // per 10 batches, 13.4k → 27.2k ev/s); neutral at P=2. The metric
    // is observability, not correctness (numRowsUpdated/Removed stay
    // exact); probes that gate on resident state (ScaleProbe) turn it
    // back ON.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    // the breakdown sums recentProgress, a ring buffer that defaults to
    // 100 entries — keep it above any op's batch count or the totals
    // silently undercount
    "spark.sql.streaming.numRecentProgressUpdates" -> "1000",
    "spark.sql.shuffle.partitions" -> "8")

  /** Run `body` with `confs` set on the session, then restore each
    * key's previous value (unset if it had none). */
  private[graft] def withConfs[A](spark: SparkSession,
      confs: Seq[(String, String)])(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Per-op cost breakdown from the query's progress telemetry — the
    * state-read/-write vs processing split NexmarkPerf tracks as
    * separate rates (the reference publishes per-query time AND
    * events/s). All sums across micro-batches, milliseconds:
    *   - addBatchMs: WALL time of batch execution (planning excluded)
    *   - stateCommitMs: RocksDB snapshot/changelog commit
    *   - stateUpdateMs / stateRemovalMs: put/delete paths incl. the
    *     ListState/MapState traffic the processors generate
    *   - rowsUpdated / rowsRemoved: state-row write volume (the
    *     metric that exposes O(n²) state rewrite patterns directly)
    *   - queryPlanningMs / walCommitMs / commitOffsetsMs: the driver's
    *     per-batch fixed cost — planning, the offset-log write and the
    *     commit-log write
    *   - triggerMs: WALL time of each whole micro-batch (the sum the
    *     other wall times above are parts of)
    * The three state times are PER-PARTITION task times summed across
    * the parallel state-store instances, so they are comparable to
    * each other and across runs but NOT subtractable from the wall
    * addBatchMs (with 8 state partitions their sum routinely exceeds
    * it). Read rowsUpdated/rowsRemoved as the primary amplification
    * signal; the times attribute which path paid for it. */
  final case class OpBreakdown(batches: Int, addBatchMs: Long,
      stateCommitMs: Long, stateUpdateMs: Long, stateRemovalMs: Long,
      rowsUpdated: Long, rowsRemoved: Long, queryPlanningMs: Long,
      walCommitMs: Long, commitOffsetsMs: Long, triggerMs: Long) {
    def json: String =
      s"""{"batches":$batches,"addBatchMs":$addBatchMs,""" +
        s""""stateCommitMs":$stateCommitMs,"stateUpdateMs":$stateUpdateMs,""" +
        s""""stateRemovalMs":$stateRemovalMs,"rowsUpdated":$rowsUpdated,""" +
        s""""rowsRemoved":$rowsRemoved,"queryPlanningMs":$queryPlanningMs,""" +
        s""""walCommitMs":$walCommitMs,"commitOffsetsMs":$commitOffsetsMs,""" +
        s""""triggerMs":$triggerMs}"""
  }

  /** Failure sentinel: every field -1 so a failed op/suite can never
    * be misread as "ran with zero state traffic". */
  val failedBreakdown: OpBreakdown =
    OpBreakdown(-1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1)

  /** A failed op: one `[sbench] op: class: message` line on stderr,
    * then the -1.0 sentinel row. */
  private def failed(op: String, e: Throwable): (Double, OpBreakdown) = {
    System.err.println(s"[sbench] $op: ${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))
    (-1.0, failedBreakdown)
  }

  private def breakdownOf(prog: Array[StreamingQueryProgress]): OpBreakdown = {
    val ops = prog.flatMap(_.stateOperators)
    def sum(k: String) = prog.map(graft.tools.ReplayHarness.dur(_, k)).sum
    OpBreakdown(
      batches = prog.length,
      addBatchMs = sum("addBatch"),
      stateCommitMs = ops.map(_.commitTimeMs).sum,
      stateUpdateMs = ops.map(_.allUpdatesTimeMs).sum,
      stateRemovalMs = ops.map(_.allRemovalsTimeMs).sum,
      rowsUpdated = ops.map(_.numRowsUpdated).sum,
      rowsRemoved = ops.map(_.numRowsRemoved).sum,
      queryPlanningMs = sum("queryPlanning"),
      walCommitMs = sum("walCommit"),
      commitOffsetsMs = sum("commitOffsets"),
      triggerMs = sum("triggerExecution"))
  }

  /** One measured pass over the shared replay core
    * ([[graft.tools.ReplayHarness]]); per-op failure isolation — one
    * broken op reports -1.0 (the batch rows' contract) without
    * discarding the others' measurements or leaking its running
    * query / checkpoint state. */
  private def bench[T: Encoder](spark: SparkSession, name: String,
      rows: IndexedSeq[T], sentinels: Seq[T],
      sinkFormat: String = "noop", sinkPath: Option[String] = None,
      sinkPartitionBy: Seq[String] = Nil)(
      f: Dataset[T] => Dataset[_]): (Double, OpBreakdown) =
    try {
      val (dt, prog) = graft.tools.ReplayHarness.run(spark, name, rows,
        sentinels, Chunks, sinkFormat, sinkPath, sinkPartitionBy)(f)
      (rows.size / dt, breakdownOf(prog))
    } catch {
      case e: Throwable => failed(name, e)
    }

  /** Cumulative progress accumulator (ADVICE r17): `recentProgress` is
    * a BOUNDED ring buffer (numRecentProgressUpdates), so re-summing it
    * undercounts once evicted entries fall off — the completion test
    * could then burn the full deadline and a successful run report -1.
    * A listener sees EVERY progress event exactly once; totals and the
    * last-output wall anchor are exact at any batch count. Filtered by
    * runId, assigned immediately after start() — nothing but empty
    * batch-0 progress can precede the assignment because the
    * MemoryStream has no data until the caller feeds it afterwards. */
  private final class CumulativeProgress
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    @volatile var runId: java.util.UUID = null
    val inRows = new java.util.concurrent.atomic.AtomicLong
    val outRows = new java.util.concurrent.atomic.AtomicLong
    /** epoch-ms end of the last OUTPUT-producing batch (wall anchor) */
    @volatile var lastOutEndMs: Long = -1L
    /** every progress event of the run, for [[breakdownOf]] */
    private val progress =
      scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        if (runId != null && p.runId == runId) {
          inRows.addAndGet(p.numInputRows)
          if (p.sink.numOutputRows > 0) {
            outRows.addAndGet(p.sink.numOutputRows)
            lastOutEndMs = java.time.Instant.parse(p.timestamp)
              .toEpochMilli + p.batchDuration
          }
          progress += p
        }
      }
    def breakdown: OpBreakdown = synchronized { breakdownOf(progress.toArray) }
  }

  /** Nexmark Q12 analog (processing-time windows) measured for REAL:
    * `processAllAvailable` replay cannot time wall-clock pane delays
    * (every published round noted the gap), but a genuine
    * wall-clock-triggered run can — start the query on a
    * `Trigger.ProcessingTime` cadence, feed the whole stream, then
    * poll until the final panes fire (input fully consumed AND no new
    * sink rows for a full delay + two triggers). Wall time comes from
    * the query's OWN progress telemetry — start of query to end of the
    * last output-producing batch — so poll latency never inflates the
    * denominator. The drain tail (the last panes' delayMs) stays IN
    * the measurement: pane latency is the operator's contract, and the
    * published 3.5 s Q12 wall includes its pipeline drain too. Its own
    * checkpoint runs under the replay harness's fork-free
    * [[graft.tools.ReplayHarness.CheckpointConfs]]. */
  private def benchProcTime(spark: SparkSession, name: String,
      rows: IndexedSeq[(Long, Double)], delayMs: Long,
      triggerMs: Long): (Double, OpBreakdown) =
    try withConfs(spark, graft.tools.ReplayHarness.CheckpointConfs) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ckptDir = java.nio.file.Files.createTempDirectory("graft_q12_")
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val acc = new CumulativeProgress
      spark.streams.addListener(acc)
      try {
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Double)]
        val out = StatefulV2.compositeTriggerPanes(mem.toDS(),
          StatefulV2.AfterDelay(delayMs))
        val wallT0 = System.currentTimeMillis()
        q = out.writeStream.format("noop")
          .option("checkpointLocation", ckptDir.toString)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime(s"$triggerMs milliseconds"))
          .start()
        acc.runId = q.runId
        rows.grouped(math.max(1, rows.size / 20))
          .foreach(g => mem.addData(g: _*))
        val deadline = System.nanoTime() + 120L * 1000000000L
        var quietSinceNs = System.nanoTime()
        var outRows = 0L
        var done = false
        while (!done && System.nanoTime() < deadline) {
          Thread.sleep(triggerMs / 2)
          val o = acc.outRows.get
          if (o > outRows) { outRows = o; quietSinceNs = System.nanoTime() }
          done = acc.inRows.get >= rows.size && outRows > 0 &&
            (System.nanoTime() - quietSinceNs) >
              (delayMs + 2L * triggerMs) * 1000000L
        }
        val wall =
          if (acc.lastOutEndMs > 0) (acc.lastOutEndMs - wallT0) / 1e3
          else -1.0
        if (wall <= 0) (-1.0, failedBreakdown)
        else (rows.size / wall, acc.breakdown)
      } finally {
        spark.streams.removeListener(acc)
        if (q != null) {
          // drain the in-flight wall-clock-triggered batch before
          // stopping — stop() mid-batch kills its write tasks
          // (aborted-commit noise in the artifact tail, wasted work).
          // BOUNDED (r19 inherited-state fix): under a ProcessingTime
          // trigger with timer-driven no-data batches,
          // processAllAvailable()'s noNewData signal can starve
          // indefinitely (observed: two bench JVMs parked here >1 h,
          // batches still firing) — so the drain runs on a daemon
          // thread joined for ≤10 s, and the sink is noop here anyway
          // (stop() mid-batch has nothing to abort).
          try {
            if (acc.inRows.get >= rows.size) {
              val drain = new Thread(() =>
                try q.processAllAvailable()
                catch { case _: Throwable => () })
              drain.setDaemon(true)
              drain.start()
              drain.join(10000L)
            }
          } catch { case _: Throwable => () }
          try q.stop() catch { case _: Throwable => () }
        }
        graft.tools.ReplayHarness.deleteTree(ckptDir)
      }
    } catch { case e: Throwable => failed(name, e) }

  /** The events replay feeding every op: (user_id, ts, event_type,
    * value, event_id) sorted by event time, plus the max event time
    * for late-watermark sentinel construction. */
  private[graft] final case class Replay(
      ev: IndexedSeq[(Long, java.sql.Timestamp, String, Double, Long)],
      maxTs: Long) {
    def lateTs(h: Int) = new java.sql.Timestamp(maxTs + h * 3600000L)
    // lazy vals: several ops share each projection; a def would remap
    // the ~100k-row replay per access (review r16)
    lazy val tvd: IndexedSeq[(Long, java.sql.Timestamp, Double)] =
      ev.map(e => (e._1, e._2, e._4))
    lazy val named: IndexedSeq[(Long, java.sql.Timestamp, String, Double)] =
      ev.map(e => (e._1, e._2, e._3, e._4))
  }

  /** One suite row: name + a thunk that runs it. Declaring the suite
    * as DATA (thunks, not eagerly-started queries) is what lets
    * [[opNames]] exist without a SparkSession — the single source of
    * truth BenchLineSpec's budget guard and Bench.main both consume,
    * so the guard can never test a stale name universe.
    *
    * `confs` are query-scoped session-conf overrides applied before
    * the op's query starts and restored after (shuffle.partitions etc.
    * bind per stateful query at start). */
  private[graft] final case class OpDef(name: String,
      run: (SparkSession, Replay, String) => (Double, OpBreakdown),
      confs: Seq[(String, String)] = Nil)

  /** The GLOBAL two-stage ops run their queries at 2 shuffle
    * partitions: the r16 P × changelog sweep measured the RocksDB
    * commit as a PER-INSTANCE PER-BATCH FLOOR (~55 ms/instance/batch
    * with changelog on — stage-2's commit time equals stage-1's
    * despite holding 9 rows vs 8 live sketches, and total commit wall
    * scales with partitions: 4618+4584 ms at P=8 → 629+661 ms at P=2
    * per 10 batches), so a two-operator pipeline at P=8 pays 16
    * instance-floors per batch for 8 shard keys of stage-1 work and
    * ONE row of stage-2 fan-in. At bench volume P=2 took the global
    * tdigest 18.3k → 28.6k ev/s. Deployment guidance (SCALE.md §3b):
    * size P to ~shards for stage-1 parallelism; the merge stage costs
    * one instance-floor regardless. */
  private val globalOpConfs: Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> "2")

  /** The suite, in output order. Names are written once, here. */
  private[graft] val ops: Seq[OpDef] = Seq(
    // The stateless Nexmark trio (Q0 passthrough / Q1 map / Q2
    // filter): no state store on the path, so these measure the
    // engine's per-event PIPELINE floor under the same micro-batch
    // replay — the number every stateful row below should be read
    // against (published: 18,139 / 23,657 / 45,683 ev/s)
    OpDef("streaming_passthrough", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.tvd, Seq.empty[(Long, java.sql.Timestamp, Double)]) {
        ds => ds.select(col("_1"), col("_2"), col("_3"))
      }
    }),
    OpDef("streaming_convert", (spark, r, name) => {
      import spark.implicits._
      // Q1's dollar→euro conversion: one projected arithmetic column
      bench(spark, name, r.tvd, Seq.empty[(Long, java.sql.Timestamp, Double)]) {
        ds => ds.select(col("_1"), col("_2"),
          (col("_3") * lit(0.908)).as("eur"))
      }
    }),
    OpDef("streaming_filter", (spark, r, name) => {
      import spark.implicits._
      // Q2's selection: a ~1/123 row filter
      bench(spark, name, r.tvd, Seq.empty[(Long, java.sql.Timestamp, Double)]) {
        ds => ds.filter(col("_1") % 123 === 0)
      }
    }),
    // Nexmark Q3's incremental join (state, no timers): person =
    // first signup per user, auctions join as they arrive
    OpDef("streaming_incremental_join", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => if (e._3 == "signup") (e._1, Option(e._1), Option.empty[Double])
                      else (e._1, Option.empty[Long], Option(e._4))),
        Seq.empty[(Long, Option[Long], Option[Double])]) { ds =>
        StatefulV2.incrementalJoin[Long, Long, Double](ds)
      }
    }),
    // Nexmark Q9's winning bid (event-time timers at auction close)
    OpDef("streaming_winning_bid", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._1, e._2, e._3 == "signup", e._5, e._4)),
        Seq((-1L, r.lateTs(3), false, -1L, 0.0),
          (-1L, r.lateTs(4), false, -2L, 0.0))) { ds =>
        StatefulV2.winningBid(ds.withWatermark("_2", "0 seconds"),
          durationMs = 3600000L)
      }
    }),
    // fixed windows under the trigger/pane state machine
    OpDef("streaming_triggered_windows", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.tvd,
        Seq((-1L, r.lateTs(3), 0.0), (-1L, r.lateTs(4), 0.0))) { ds =>
        StatefulV2.triggeredWindows(ds.withWatermark("_2", "0 seconds"),
          windowMs = 3600000L)
      }
    }),
    // Nexmark Q5 "hot items" in its FAITHFUL sliding-window form
    // (published 20,174 ev/s): 1 h windows every 15 min, per-window
    // hottest item — ONE stateful agg keyed by the sliding window with
    // the per-item counts folded into the HotItemAgg map buffer
    // (state rows = windows; 2,927 RocksDB writes per 100k events vs
    // 385k for the textbook groupBy(window, item) + re-agg chain,
    // which measured 7.6–9.2k ev/s in the r19 sweep). This row
    // replaces r17/r18's fixed-window proxy as the BASELINE.md Q5
    // comparison; `streaming_triggered_windows` below remains as the
    // trigger-machinery row.
    OpDef("streaming_hot_items", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.tvd,
        Seq((-1L, r.lateTs(3), 0.0), (-1L, r.lateTs(4), 0.0))) { ds =>
        StreamOps.hotItemsSliding(ds.toDF("item", "ts", "value"),
          "ts", "item", "1 hour", "15 minutes", "0 seconds")
      }
    }),
    // merging session windows under the same machinery (round 9)
    OpDef("streaming_triggered_sessions", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.tvd,
        Seq((-1L, r.lateTs(3), 0.0), (-1L, r.lateTs(4), 0.0))) { ds =>
        StatefulV2.triggeredSessions(ds.withWatermark("_2", "0 seconds"),
          gapMs = 1800000L)
      }
    }),
    // Nexmark Q7's highest bid per fixed window (the 824 ev/s row —
    // Beam's slowest published query, paying a side-input max + rejoin
    // per window): here ONE windowed aggregation emits the winning row
    // directly (max + max_by argmax), watermark-closed — the global
    // agg is still scale-safe (map-side partial, nWindows rows shuffle)
    OpDef("streaming_highest_value", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.tvd,
        Seq((-1L, r.lateTs(3), 0.0), (-1L, r.lateTs(4), 0.0))) { ds =>
        ds.toDF("user_id", "ts", "value")
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(max(col("value")).as("max_value"),
            max_by(struct(col("user_id"), col("value")), col("value"))
              .as("top_bid"))
      }
    }),
    // Nexmark Q4's average price per category over fixed windows
    // (published 6,207 ev/s): watermark-closed windowed avg by
    // event_type — partial agg map-side, windows × categories rows
    // cross the shuffle
    OpDef("streaming_avg_by_category", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.named,
        Seq((-1L, r.lateTs(3), "eof", 0.0), (-1L, r.lateTs(4), "eof", 0.0))) { ds =>
        ds.toDF("user_id", "ts", "category", "value")
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("category"))
          .agg(avg(col("value")).as("avg_price"),
            count(lit(1)).as("n"))
      }
    }),
    // Nexmark Q6's average of the last 10 bids per seller (published
    // 11,377 ev/s): "last 10 by event time" IS top-10 under a
    // timestamp ordering — the r16 topKPerKey bounded k-heap — with a
    // declarative avg read-out over the snapshot; order-insensitive
    // and replay-deterministic where a buffer of arrival order would
    // not be
    OpDef("streaming_avg_last10", (spark, r, name) => {
      import spark.implicits._
      implicit val byTs: Ordering[(Long, Double)] =
        Ordering.by[(Long, Double), Long](_._1).orElseBy(_._2)
      bench(spark, name,
        r.ev.map(e => (e._1, (e._2.getTime, e._4))),
        Seq.empty[(Long, (Long, Double))]) { ds =>
        StatefulV2.topKPerKey(ds, k = 10)
          .select(col("_1").as("seller"), col("_2").as("rev"),
            expr("aggregate(_4, 0d, (a, x) -> a + x._2) / size(_4)")
              .as("avg_last10"))
      }
    }),
    // Nexmark Q8's monitor-new-users (published 40,274 ev/s — the
    // highest bar): new persons × their new auctions within the same
    // hour, in the form Beam's own Query8 plans — ONE windowed CoGBK
    // (StreamOps.newUsersJoin), not a symmetric stream-stream join.
    // The r16 shape buffered RAW events on both sides of a
    // symmetric-hash self-join (~40k RocksDB join-state writes+removes
    // per 100k events — durable state Q8's per-window-set semantics
    // never required, VERDICT r16 #1); the CoGBK form holds one state
    // row per (user, window), written once per touched key per batch
    // (map-side partial agg), GC'd clean at window close.
    OpDef("streaming_new_users", (spark, r, name) => {
      import spark.implicits._
      // sentinels carry a KEPT type ("view"): the type filter runs
      // before the watermark node, so a foreign-typed sentinel would
      // never advance the watermark (see newUsersJoin's param docs).
      // r19: the WINDOW-GRAIN packed form (newUsersJoinPacked) — the
      // same per-right-event output grain the reference Query8 pays
      // (ADVICE r17; output ≡ newUsersJoin(emitPerRight = true),
      // spec'd + oracle row win_new_users_packed), with the per-user
      // accumulation folded into the NewUsersAgg buffer so state rows
      // = windows: 731 RocksDB writes per 100k events vs 39,489 for
      // the per-(user, window) grain, 23.2k → 28.7k ev/s in the r19
      // same-host paired sweep.
      bench(spark, name, r.named,
        Seq((-1L, r.lateTs(3), "view", 0.0), (-1L, r.lateTs(4), "view", 0.0))) { ds =>
        StreamOps.newUsersJoinPacked(
          ds.toDF("user_id", "ts", "event_type", "value"),
          windowSize = "1 hour", lateness = "0 seconds",
          leftType = "signup", rightType = "view")
      }
      // P=1 (r20 P sweeps): packed P=1 beat P=2 in BOTH
      // same-host paired sweeps — 33.6k vs 32.9k (r19 host) and 27.4k
      // vs 22.2k (r20 host) — with ~720 window-grain state rows the
      // per-RocksDB-instance commit floor plus per-partition partial-
      // agg serialization dominate, and a second instance buys nothing
      // at this state cardinality (the r19 "skew headroom" argument
      // measured as a 2-23% tax, not negligible). At deployment scale
      // P sizes with data (SCALE.md §3b).
    }, confs = Seq("spark.sql.shuffle.partitions" -> "1")),
    // Nexmark Q10's log-to-sharded-files (published 25,025 ev/s):
    // every event to parquet files sharded by event type, through the
    // EXACTLY-ONCE file sink (atomic _spark_metadata commit log per
    // batch — strictly stronger than the reference's ILLEGAL-to-retry
    // raw file logging); output tree torn down after the measure
    OpDef("streaming_file_sink_shards", (spark, r, name) => {
      import spark.implicits._
      // temp-dir creation sits INSIDE this op's failure isolation: an
      // IOException here must cost only this row, not collapse the
      // whole suite to a single streaming_suite:-1 via Bench.main's
      // outer catch (ADVICE r16)
      try {
        val outDir = java.nio.file.Files
          .createTempDirectory("graft_q10_" + name)
        try {
          bench(spark, name, r.named,
            Seq.empty[(Long, java.sql.Timestamp, String, Double)],
            sinkFormat = "parquet", sinkPath = Some(outDir.toString),
            sinkPartitionBy = Seq("etype")) { ds =>
            ds.toDF("user_id", "ts", "etype", "value")
          }
        } finally {
          graft.tools.ReplayHarness.deleteTree(outDir)
        }
      } catch { case e: Throwable => failed(name, e) }
    }),
    // native session_window aggregation (the Catalyst-planned path,
    // as a floor/reference for the custom processors above)
    OpDef("streaming_session_agg", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.named,
        Seq((-1L, r.lateTs(3), "eof", 0.0), (-1L, r.lateTs(4), "eof", 0.0))) { ds =>
        StreamOps.sessionAgg(ds.toDF("user_id", "ts", "etype", "value"),
          "ts", "30 minutes", "0 seconds", Seq(col("user_id")),
          Seq(count(lit(1)).as("n")))
      }
    }),
    // streaming MATCH_RECOGNIZE: NFA per watermark-closed session
    OpDef("streaming_match_recognize", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.named,
        Seq((-1L, r.lateTs(3), "eof", 0.0), (-1L, r.lateTs(4), "eof", 0.0))) { ds =>
        graft.operators.MatchRecognizeSql.stream(
          ds.toDF("user_id", "ts", "etype", "value"),
          """PARTITION BY user_id
             ORDER BY ts
             MEASURES COUNT(*) AS n
             ONE ROW PER MATCH
             PATTERN (C+ P)
             DEFINE C AS C.etype = 'click', P AS P.etype = 'purchase'""",
          tsCol = "ts", delay = "0 seconds", gapMs = 1800000L)
      }
    }),
    // plain event-time gap flush — the session primitive under
    // streaming MATCH_RECOGNIZE minus the NFA, so the breakdown can
    // attribute match_recognize's cost between gap machinery and
    // clause evaluation
    OpDef("streaming_gap_flush", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.tvd,
        Seq((-1L, r.lateTs(3), 0.0), (-1L, r.lateTs(4), 0.0))) { ds =>
        StatefulV2.eventTimeGapFlush(ds.withWatermark("_2", "0 seconds"),
          gapMs = 1800000L)
      }
    }),
    // watermark-horizon exact dedup by event id (Beam Deduplicate's
    // bounded-state contract on the native operator)
    OpDef("streaming_dedup", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name, r.ev.map(e => (e._1, e._2, e._5)),
        Seq((-1L, r.lateTs(3), -1L), (-1L, r.lateTs(4), -2L))) { ds =>
        StreamOps.dedupWithinWatermark(
          ds.toDF("user_id", "ts", "event_id"),
          "ts", "0 seconds", Seq("event_id"))
      }
    }),
    // continuous SCD2 dimension maintenance (the CDC-apply shape):
    // per-user event_type treated as the tracked attribute; ONE
    // ValueState per key, one put per changed key per batch — the
    // minimal-state contrast to the buffer-heavy session ops above
    OpDef("streaming_scd2", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._1, e._3, e._2.getTime, e._5)),
        Seq.empty[(Long, String, Long, Long)]) { ds =>
        StatefulV2.scd2Changes(ds)
      }
    }),
    // continuous step-funnel (view → click → purchase within 72 h of
    // the previous step): per-user packed 3-slot ValueState, one put
    // per changed key per batch — the streaming twin of the batch
    // agg_funnel_steps chained window-mins
    OpDef("streaming_funnel", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.flatMap(e => e._3 match {
          case "view" => Some((e._1, e._2.getTime, 1))
          case "click" => Some((e._1, e._2.getTime, 2))
          case "purchase" => Some((e._1, e._2.getTime, 3))
          case _ => None
        }), Seq.empty[(Long, Long, Int)]) { ds =>
        StatefulV2.funnelSteps(ds, horizonMs = 259200000L)
      }
    }),
    // sharded streaming heavy hitters: per-shard Misra-Gries k=32
    // summary (O(k) state per key forever), deterministic
    // est/err/coverage bounds — the bounded-state streaming top-k
    OpDef("streaming_heavy_hitters", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._1 % 16, e._5 % 997, 1L)),
        Seq.empty[(Long, Long, Long)]) { ds =>
        StatefulV2.heavyHitters(ds, k = 32)
      }
    }),
    // online per-type z-score anomaly flags (landmark Welford stats,
    // prequential scoring) — the streaming twin of anomaly_zscore's
    // fit-and-flag
    OpDef("streaming_anomaly", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._3, e._4)), Seq.empty[(String, Double)]) { ds =>
        StatefulV2.anomalyZScore(ds, threshold = 2.5, minN = 30L)
      }
    }),
    // per-type streaming t-digest quantile snapshots — the mergeable
    // quantile sketch folded incrementally, O(compression) state/key
    OpDef("streaming_tdigest", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._3, e._4)), Seq.empty[(String, Double)]) { ds =>
        StatefulV2.tdigestQuantiles(ds, compression = 100.0,
          qs = Seq(0.5, 0.95, 0.99))
      }
    }),
    // per-type streaming approximate distinct users (HLL state,
    // O(2^lgK) per key forever; bytes hll_union_agg-able downstream)
    OpDef("streaming_approx_distinct", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._3, e._1.toString)), Seq.empty[(String, String)]) { ds =>
        StatefulV2.approxDistinct(ds, lgK = 12)
      }
    }),
    // per-user-SHARD streaming uniform reservoir (64 shard keys;
    // Algorithm R, O(k) state/key, deterministic replayable draws)
    OpDef("streaming_reservoir", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._1 % 64, e._5)), Seq.empty[(Long, Long)]) { ds =>
        StatefulV2.sampleFixedPerKey(ds, k = 32)
      }
    }),
    // GLOBAL streaming heavy hitters (two-stage: item-hash shards →
    // one-key summary merge) — whole-stream hot items, still O(k)
    // state per shard; items = event-type × user-bucket composites
    OpDef("streaming_heavy_hitters_global", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => (e._3 + "#" + e._1 % 100, 1L)),
        Seq.empty[(String, Long)]) { ds =>
        StatefulV2.heavyHittersGlobal(ds, k = 16, shards = 8)
      }
    }, confs = globalOpConfs),
    // GLOBAL streaming approximate distinct (per-shard HLLs → one-key
    // DataSketches union) — whole-stream distinct event ids
    OpDef("streaming_approx_distinct_global", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(e => e._5.toString), Seq.empty[String]) { ds =>
        StatefulV2.approxDistinctGlobal(ds, lgK = 12, shards = 8)
      }
    }, confs = globalOpConfs),
    // GLOBAL streaming t-digest quantiles (per-shard digests →
    // one-key centroid merge) — whole-stream value quantiles
    OpDef("streaming_tdigest_global", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(_._4), Seq.empty[Double]) { ds =>
        StatefulV2.tdigestQuantilesGlobal(ds, compression = 100.0,
          qs = Seq(0.5, 0.95, 0.99), shards = 8)
      }
    }, confs = globalOpConfs),
    // GLOBAL streaming uniform reservoir (per-shard Algorithm R →
    // one-key hypergeometric merge) — whole-stream k-sample
    OpDef("streaming_reservoir_global", (spark, r, name) => {
      import spark.implicits._
      bench(spark, name,
        r.ev.map(_._5), Seq.empty[Long]) { ds =>
        StatefulV2.sampleFixedGlobal(ds, k = 64, shards = 8)
      }
    }, confs = globalOpConfs),
    // GLOBAL streaming top-K by comparator (per-shard bounded k-heaps
    // → one-key exact merge) — whole-stream k greatest (value, id)
    // events; EXACT, unlike the sketch globals
    OpDef("streaming_topk_global", (spark, r, name) => {
      import spark.implicits._
      implicit val ord: Ordering[(Double, Long)] =
        Ordering.by[(Double, Long), Double](_._1).orElseBy(_._2)
      bench(spark, name,
        r.ev.map(e => (e._4, e._5)), Seq.empty[(Double, Long)]) { ds =>
        StatefulV2.topKGlobal(ds, k = 16, shards = 8)
      }
    }, confs = globalOpConfs),
    // Nexmark Q12's processing-time windows (published 3.5 s over the
    // SMOKE stream ≈ 28.6k ev/s) — the LAST published bar without a
    // streaming row: per-user wall-clock panes
    // (AfterProcessingTime.pastFirstElementInPane, delay 250 ms) under
    // a REAL 250 ms processing-time trigger, measured by
    // [[benchProcTime]]'s telemetry wall clock. Needs no-data
    // micro-batches ON: the final panes fire after input stops.
    OpDef("streaming_proc_time", (spark, r, name) => {
      benchProcTime(spark, name, r.ev.map(e => (e._1, e._4)),
        delayMs = 250L, triggerMs = 250L)
    }, confs = Seq(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true")))

  /** Suite row names in output order — the single source of truth for
    * Bench.main's streaming map and BenchLineSpec's budget guard. */
  private[graft] val opNames: Seq[String] = ops.map(_.name)

  /** (name → events/s, breakdown) for the streaming operator suite,
    * BEST of `SPARK_GRAFT_STREAMING_REPS` (default 2) interleaved
    * passes — streaming ops are single queries (no per-query best-of-3
    * like the batch rows), so one noisy-host burst during a pass would
    * otherwise halve an op's reported throughput. The breakdown comes
    * from the winning pass. Runs under [[confs]], restored after. */
  def run(spark: SparkSession, sfDir: String): Seq[(String, Double, OpBreakdown)] =
    withConfs(spark, confs) {
      val reps = sys.env.getOrElse("SPARK_GRAFT_STREAMING_REPS", "2")
        .toInt.max(1)
      val passes = (1 to reps).map(_ => runOnce(spark, sfDir))
      passes.head.indices.map { i =>
        val name = passes.head(i)._1
        passes.map(p => (name, p(i)._2, p(i)._3)).maxBy(_._2) // -1.0 loses
      }
    }

  /** The streaming section alone, one line per op: events/s and its
    * breakdown. Usage:
    *   [SBENCH_OPS=op,...] sbt "runMain graft.StreamingBench [sfDir]" */
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    run(spark, args.headOption.getOrElse("/root/testdata/sf0.1")).foreach {
      case (n, eps, b) => println(f"SBENCH $n%-34s $eps%.1f events/s  ${b.json}")
    }
    spark.stop()
  }

  private def runOnce(spark: SparkSession, sfDir: String): Seq[(String, Double, OpBreakdown)] = {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_type", "value", "event_id")
      // bounded: bench replay source — events at sf0.1 is ~100k small
      // rows, materialized to the driver by design (MemoryStream feed)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2),
        r.getDouble(3), r.getLong(4)))
      .sortBy(_._2.getTime)
      .toIndexedSeq
    val replay = Replay(ev, ev.last._2.getTime)
    // dev-only subset filter (comma-separated op names; the bench
    // driver sets no env) — mirrors Verify's GRAFT_VERIFY_ONLY
    val only = sys.env.get("SBENCH_OPS").map(_.split(",").map(_.trim).toSet)
    ops.filter(op => only.forall(_.contains(op.name))).map { op =>
      val (evs, bd) = withConfs(spark, op.confs)(op.run(spark, replay, op.name))
      (op.name, evs, bd)
    }
  }
}
