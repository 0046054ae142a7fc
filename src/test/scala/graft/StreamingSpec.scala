package graft

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StreamOps
import graft.tools.{ForkFreeLocalFileSystem, ForkFreeRawLocalFileSystem, ReplayHarness}

/** An event in the Nexmark-ish shape of the `events` table. */
/** Reloadable demo model for the hot-swap spec: score = w · Σ(vec) —
  * top-level so the serialized handler carries no spec-class outer. */
final case class ScaleModel(w: Double)
    extends graft.operators.Inference.ModelHandler[Double] {
  override def loadModel(): Double = w
  override def runInference(model: Double,
      batch: Seq[Array[Float]]): Seq[Double] =
    batch.map(v => v.map(_.toDouble).sum * model)
}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Deterministic streaming tests — the analog of Beam's TestStream
  * (reference: sdks/java/core/.../testing/TestStream.java:125-212):
  * MemoryStream supplies elements per micro-batch; watermark advancement
  * comes from max-event-time minus delay, with Spark's no-data
  * micro-batches closing windows once the watermark passes (Beam's
  * AfterWatermark default trigger).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")

  private def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable(); q.stop()
  }

  private var tableN = 0
  private def freshTable(): String = { tableN += 1; s"stream_out_$tableN" }

  test("tumbling window agg: streaming append == batch result (unification)") {
    val events = Seq(
      Ev(1, ts(1), 1, "view", 1.0), Ev(2, ts(4), 1, "view", 2.0),
      Ev(3, ts(11), 2, "click", 3.0), Ev(4, ts(14), 1, "view", 4.0),
      // far-future sentinel advances the watermark past both windows
      Ev(99, ts(50), 9, "eof", 0.0))

    val mem = MemoryStream[Ev]
    val streamed = StreamOps.tumblingAgg(mem.toDF(), "ts", "10 minutes",
      "0 seconds", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), sum("value").as("sv")))
    val table = freshTable()
    val q = streamed.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(events: _*)
    runToCompletion(q)

    val got = spark.table(table)
      .select(col("window.start").cast("string"), col("event_type"),
        col("n"), col("sv"))
      .collect().map(_.toSeq).toSet
    // batch run of the SAME builder over the same data, minus the
    // sentinel's still-open window
    val batch = StreamOps.tumblingAgg(events.toDF(), "ts", "10 minutes",
        "0 seconds", Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), sum("value").as("sv")))
      .filter(col("window.start") < ts(50))
      .select(col("window.start").cast("string"), col("event_type"),
        col("n"), col("sv"))
      .collect().map(_.toSeq).toSet
    assert(got == batch && got.size == 3, s"got=$got batch=$batch")
  }

  test("late data beyond watermark is dropped (allowed-lateness semantics)") {
    val mem = MemoryStream[Ev]
    val agg = StreamOps.tumblingAgg(mem.toDF(), "ts", "10 minutes",
      "5 minutes", Seq.empty, Seq(count(lit(1)).as("n")))
    val table = freshTable()
    val q = agg.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    // batch 1: window [10:00,10:10) gets 2 events; advance watermark far
    mem.addData(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 1, "a", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(3, ts(40), 1, "a", 1.0)) // watermark → 10:35
    q.processAllAvailable()
    // batch 3: a late event for the long-closed 10:00 window — dropped
    mem.addData(Ev(4, ts(3), 1, "late", 1.0))
    mem.addData(Ev(5, ts(55), 1, "a", 1.0)) // close the 10:40 window too
    runToCompletion(q)
    val n0 = spark.table(table)
      .filter(col("window.start").cast("string").contains("10:00"))
      .select("n").as[Long].collect()
    assert(n0.toSeq == Seq(2L), s"late event must not re-open window: ${n0.toSeq}")
  }

  test("update mode re-emits per micro-batch (Beam early firings)") {
    // Beam: AfterWatermark.pastEndOfWindow().withEarlyFirings(...) in
    // accumulating mode — each firing emits the accumulated-so-far
    // value. Spark's update output mode is exactly that: every
    // micro-batch re-emits the updated accumulated aggregate.
    val mem = MemoryStream[Ev]
    val agg = StreamOps.tumblingAgg(mem.toDF(), "ts", "10 minutes",
      "0 seconds", Seq.empty, Seq(count(lit(1)).as("n")))
    val table = freshTable()
    val q = agg.writeStream.format("memory")
      .queryName(table).outputMode("update").start()
    mem.addData(Ev(1, ts(1), 1, "a", 1.0))
    q.processAllAvailable() // early firing 1: n=1
    mem.addData(Ev(2, ts(2), 1, "a", 1.0))
    q.processAllAvailable() // early firing 2: n=2 (accumulating)
    runToCompletion(q)
    val firings = spark.table(table)
      .filter(col("window.start").cast("string").contains("10:00"))
      .select("n").as[Long].collect().sorted
    assert(firings.toSeq == Seq(1L, 2L),
      s"expected accumulating early firings 1 then 2, got ${firings.toSeq}")
  }

  test("dropDuplicatesWithinWatermark dedups by event_id") {
    val mem = MemoryStream[Ev]
    val dd = StreamOps.dedupWithinWatermark(mem.toDF(), "ts", "10 minutes",
      Seq("event_id"))
    val table = freshTable()
    val q = dd.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(
      Ev(1, ts(1), 1, "a", 1.0), Ev(1, ts(1, 30), 1, "a", 1.0), // dup id
      Ev(2, ts(2), 1, "b", 2.0))
    runToCompletion(q)
    val ids = spark.table(table).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("newUsersJoin: one row per (user, window) with both event types; dups collapse") {
    // the state-minimal Nexmark Q8 shape (VERDICT r16 #1): ONE
    // windowed CoGBK — repeated signups/views in a window contribute
    // counts on ONE output row, users missing either type emit nothing
    // (Beam Q8's per-window-set semantics)
    val mem = MemoryStream[Ev]
    val joined = StreamOps.newUsersJoin(mem.toDF(),
      windowSize = "10 minutes", lateness = "0 seconds",
      leftType = "signup", rightType = "view")
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(
      Ev(1, ts(1), 1, "signup", 0.0), Ev(2, ts(2), 1, "view", 5.0),
      Ev(3, ts(3), 1, "view", 6.0),   // dup view, same window
      Ev(4, ts(4), 1, "signup", 0.0), // dup signup, same window
      Ev(5, ts(5), 2, "view", 7.0))   // view only -> no row
    q.processAllAvailable()
    mem.addData(
      Ev(6, ts(6), 3, "signup", 0.0), // signup in w0...
      Ev(7, ts(12), 3, "view", 8.0),  // ...view in w1 -> no match
      Ev(8, ts(11), 4, "signup", 0.0), Ev(9, ts(13), 4, "view", 9.0),
      // sentinel must be a KEPT type: the type filter is pushed below
      // the watermark node, so a foreign-typed row advances nothing
      Ev(99, ts(50), 9, "view", 0.0))
    q.processAllAvailable()
    // second sentinel: a DATA batch carrying the advanced watermark, so
    // every earlier window closes deterministically (a trailing no-data
    // batch may race q.stop())
    mem.addData(Ev(100, ts(55), 9, "view", 0.0))
    runToCompletion(q)
    val got = spark.table(table)
      .select(col("user_id"), col("w.start").cast("string"),
        col("n_left"), col("n_right"), col("right_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, "2026-01-01 10:00:00", 2L, 2L, 11.0),
      (4L, "2026-01-01 10:10:00", 1L, 1L, 9.0)), s"got=$got")
  }

  test("newUsersJoin emitPerRight: one output row per right event (reference grain)") {
    // ADVICE r17: Beam Query8 emits one row per (person, auction) —
    // per RIGHT event — not the aggregated (user, window) summary.
    // emitPerRight restores that grain: same single windowed
    // aggregation, right values collected and exploded post-agg.
    val mem = MemoryStream[Ev]
    val joined = StreamOps.newUsersJoin(mem.toDF(),
      windowSize = "10 minutes", lateness = "0 seconds",
      leftType = "signup", rightType = "view", emitPerRight = true)
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(
      Ev(1, ts(1), 1, "signup", 0.0), Ev(2, ts(2), 1, "view", 5.0),
      Ev(3, ts(3), 1, "view", 6.0),   // second view -> second row
      Ev(4, ts(4), 1, "signup", 0.0), // dup signup: n_left=2, no extra row
      Ev(5, ts(5), 2, "view", 7.0))   // view only -> nothing
    q.processAllAvailable()
    mem.addData(Ev(99, ts(50), 9, "view", 0.0))
    q.processAllAvailable()
    mem.addData(Ev(100, ts(55), 9, "view", 0.0))
    runToCompletion(q)
    val got = spark.table(table)
      .select(col("user_id"), col("w.start").cast("string"),
        col("n_left"), col("right_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
      .toSeq.sorted
    assert(got == Seq(
      (1L, "2026-01-01 10:00:00", 2L, 5.0),
      (1L, "2026-01-01 10:00:00", 2L, 6.0)), s"got=$got")
  }

  test("hotItemsSliding: streaming append == batch over randomized replay (unification)") {
    // the faithful Nexmark Q5 sliding shape (r19): ONE window-keyed
    // stateful agg with the per-item count map folded into the
    // HotItemAgg buffer — streamed append output must equal the BATCH
    // evaluation of the same builder, minus windows the final
    // watermark leaves open. 300 random events over 8 items ×
    // ~45 minutes, 10 min / 5 min sliding (each event in 2 windows).
    val rnd = new scala.util.Random(2424L)
    val events = IndexedSeq.tabulate(300) { i =>
      Ev(i.toLong, ts(i * 45 / 300, rnd.nextInt(60)),
        rnd.nextInt(8).toLong, "view", 1.0)
    }.sortBy(_.ts.getTime)
    val sentinel = Ev(999, ts(59), 9, "view", 0.0)
    val mem = MemoryStream[Ev]
    val hot = StreamOps.hotItemsSliding(mem.toDF(), "ts", "user_id",
      "10 minutes", "5 minutes", "0 seconds")
    val table = freshTable()
    val q = hot.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    events.grouped(75).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    mem.addData(sentinel)
    runToCompletion(q)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("w.start").cast("string").as("ws"),
        col("hot_item"), col("n_hot"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = norm(spark.table(table))
    // the final watermark is the sentinel's ts → windows ending after
    // it are still open in the stream
    val batch = norm(StreamOps.hotItemsSliding(
        (events :+ sentinel).toDF(), "ts", "user_id",
        "10 minutes", "5 minutes", "0 seconds")
      .filter(col("w.end") <= ts(59)))
    assert(got == batch, s"stream=${got.size} batch=${batch.size} " +
      s"diff=${(got diff batch) ++ (batch diff got)}")
    assert(batch.size > 5, s"degenerate draw: ${batch.size} closed windows")
  }

  test("hotItemsSliding: count ties break to the smallest item") {
    // window [10:00, 10:10): items 9 and 3 both count 1 → hot = 3
    val events = Seq(
      Ev(1, ts(1), 9, "view", 1.0), Ev(2, ts(2), 3, "view", 1.0))
    val got = StreamOps.hotItemsSliding(events.toDF(), "ts", "user_id",
        "10 minutes", "10 minutes", "0 seconds")
      .select(col("hot_item"), col("n_hot"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((3L, 1L)), s"got=$got")
  }

  test("slidingAggPaned: pane-combined == direct sliding agg (batch) and streaming append == batch") {
    // the decomposable-agg pane form (Beam's combiner-lifted sliding
    // strategy, kept for hot-key distributions): count/sum combined
    // from slide-grain pane partials must equal the direct
    // window(size, slide) aggregation on the same rows — and the
    // streamed chained 2-stage form must match the batch one.
    val rnd = new scala.util.Random(909L)
    val events = IndexedSeq.tabulate(200) { i =>
      Ev(i.toLong, ts(i * 40 / 200, rnd.nextInt(60)),
        rnd.nextInt(4).toLong, "view", (rnd.nextInt(50) + 1).toDouble)
    }.sortBy(_.ts.getTime)
    def normPaned(df: org.apache.spark.sql.DataFrame) = df
      .select(col("w.start").cast("string").as("ws"), col("user_id"),
        col("n"), col("sv"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val paned = StreamOps.slidingAggPaned(events.toDF(), "ts", "user_id",
      "10 minutes", "5 minutes", "0 seconds",
      paneAggs = Seq(count(lit(1)).as("n"), sum("value").as("sv")),
      mergeAggs = Seq(sum(col("n")).as("n"), sum(col("sv")).as("sv")))
    val direct = events.toDF()
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    assert(normPaned(paned) == normPaned(direct),
      "pane-combined != direct sliding")

    val sentinel = Ev(999, ts(59), 9, "view", 0.0)
    val mem = MemoryStream[Ev]
    val streamed = StreamOps.slidingAggPaned(mem.toDF(), "ts", "user_id",
      "10 minutes", "5 minutes", "0 seconds",
      paneAggs = Seq(count(lit(1)).as("n"), sum("value").as("sv")),
      mergeAggs = Seq(sum(col("n")).as("n"), sum(col("sv")).as("sv")))
    val table = freshTable()
    val q = streamed.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    events.grouped(50).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    mem.addData(sentinel)
    runToCompletion(q)
    val got = normPaned(spark.table(table))
    // stage 2 closes a sliding window only once the watermark passes
    // the END of its LAST pane's re-windowed fan-out — conservatively
    // compare on windows whose end is at least one slide before the
    // final watermark
    val closedEnd = ts(54)
    val batchClosed = normPaned(
      StreamOps.slidingAggPaned((events :+ sentinel).toDF(), "ts",
        "user_id", "10 minutes", "5 minutes", "0 seconds",
        paneAggs = Seq(count(lit(1)).as("n"), sum("value").as("sv")),
        mergeAggs = Seq(sum(col("n")).as("n"), sum(col("sv")).as("sv")))
      .filter(col("w.end") <= closedEnd))
    assert(batchClosed.subsetOf(got),
      s"missing closed windows: ${(batchClosed diff got).take(5)}")
    assert(got.subsetOf(normPaned(
      StreamOps.slidingAggPaned((events :+ sentinel).toDF(), "ts",
        "user_id", "10 minutes", "5 minutes", "0 seconds",
        paneAggs = Seq(count(lit(1)).as("n"), sum("value").as("sv")),
        mergeAggs = Seq(sum(col("n")).as("n"), sum(col("sv")).as("sv"))))),
      "stream emitted a row batch never produces")
    assert(batchClosed.size > 5, s"degenerate draw: ${batchClosed.size}")
  }

  test("newUsersJoinPacked: == emitPerRight grain (batch) and streaming append == batch") {
    // the r19 window-grain state layout must produce EXACTLY the
    // per-right-event rows of newUsersJoin(emitPerRight = true), and
    // its streamed append output must equal its own batch evaluation
    // minus open windows. Multiset compare (duplicate values happen).
    val rnd = new scala.util.Random(5151L)
    val events = IndexedSeq.tabulate(250) { i =>
      Ev(i.toLong, ts(i * 45 / 250, rnd.nextInt(60)),
        rnd.nextInt(6).toLong,
        Seq("signup", "view", "click")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 100) / 10.0)
    }.sortBy(_.ts.getTime)
    val sentinel = Ev(999, ts(59), 9, "view", 0.0)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("w.start").cast("string").as("ws"),
        col("n_left"), round(col("right_value"), 6).as("rv"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
      .toSeq.sorted
    val all = (events :+ sentinel).toDF()
    val packedBatch = norm(StreamOps.newUsersJoinPacked(all,
      "10 minutes", "0 seconds", "signup", "view"))
    val perRightBatch = norm(StreamOps.newUsersJoin(all,
      "10 minutes", "0 seconds", "signup", "view", emitPerRight = true))
    assert(packedBatch == perRightBatch,
      s"packed=${packedBatch.size} perRight=${perRightBatch.size}")
    assert(packedBatch.size > 10, s"degenerate draw: ${packedBatch.size}")

    val mem = MemoryStream[Ev]
    val streamed = StreamOps.newUsersJoinPacked(mem.toDF(),
      "10 minutes", "0 seconds", "signup", "view")
    val table = freshTable()
    val q = streamed.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    events.grouped(60).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    mem.addData(sentinel)
    runToCompletion(q)
    val got = norm(spark.table(table))
    val openCut = "2026-01-01 10:50:00"
    val batchClosed = norm(StreamOps.newUsersJoinPacked(all,
        "10 minutes", "0 seconds", "signup", "view")
      .filter(col("w.start").cast("string") < openCut))
    assert(got == batchClosed, s"stream=${got.size} batch=${batchClosed.size}")
  }

  test("newUsersJoin emitPerRight: right event with NULL value still emits its row") {
    // ADVICE r18: collect_list skips nulls — the struct-wrapped
    // collect must keep the one-row-per-right-event contract even
    // when the right value is NULL (both grains).
    val rows = Seq(
      (1L, ts(1), "signup", Some(1.0)),
      (1L, ts(2), "view", None),
      (1L, ts(3), "view", Some(7.0)))
      .toDF("user_id", "ts", "event_type", "value")
    def got(df: org.apache.spark.sql.DataFrame) = df
      .select(col("n_left"), col("right_value"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSeq.sortBy(_._2.isDefined)
    val perRight = got(StreamOps.newUsersJoin(rows, "10 minutes",
      "0 seconds", "signup", "view", emitPerRight = true))
    val packed = got(StreamOps.newUsersJoinPacked(rows, "10 minutes",
      "0 seconds", "signup", "view"))
    val want = Seq((1L, None), (1L, Some(7.0)))
    assert(perRight == want, s"perRight=$perRight")
    assert(packed == want, s"packed=$packed")
  }

  test("newUsersJoin: streaming append == batch over randomized replay (unification)") {
    // 200 random events over 6 users × 3 types × ~45 minutes, fed in 4
    // arbitrary micro-batches (non-decreasing ts so nothing is
    // watermark-late): the streamed append output must equal the BATCH
    // evaluation of the same builder on the same rows, minus windows
    // the final watermark leaves open — the same unification contract
    // the tumbling-agg test establishes for plain windowed aggs
    val rnd = new scala.util.Random(1717L)
    val events = IndexedSeq.tabulate(200) { i =>
      Ev(i.toLong, ts(i * 45 / 200, rnd.nextInt(60)),
        rnd.nextInt(6).toLong,
        Seq("signup", "view", "click")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 100) / 10.0)
    }.sortBy(_.ts.getTime)
    val sentinel = Ev(999, ts(59), 9, "view", 0.0)
    val mem = MemoryStream[Ev]
    val joined = StreamOps.newUsersJoin(mem.toDF(),
      windowSize = "10 minutes", lateness = "0 seconds",
      leftType = "signup", rightType = "view")
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    events.grouped(50).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    mem.addData(sentinel)
    q.processAllAvailable()
    mem.addData(Ev(1000, ts(59, 30), 9, "view", 0.0)) // carry the watermark
    runToCompletion(q)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("w.start").cast("string").as("ws"),
        col("n_left"), col("n_right"),
        round(col("right_value"), 6).as("rv"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val got = norm(spark.table(table))
    // batch run of the SAME builder over the same rows; the final
    // watermark is the last sentinel's ts, so windows at/after its
    // window start are still open in the stream
    val openCut = "2026-01-01 10:50:00"
    val batch = norm(StreamOps.newUsersJoin(
        (events :+ sentinel :+ Ev(1000, ts(59, 30), 9, "view", 0.0)).toDF(),
        windowSize = "10 minutes", lateness = "0 seconds",
        leftType = "signup", rightType = "view")
      .filter(col("w.start").cast("string") < openCut))
    assert(got == batch, s"stream=${got.size} batch=${batch.size} " +
      s"diff=${(got diff batch) ++ (batch diff got)}")
    assert(batch.nonEmpty, "degenerate draw: no qualifying user-window")
  }

  test("newUsersJoin emitPerRight: streaming append == batch over randomized replay") {
    // the same unification contract as the default grain's property,
    // at the REFERENCE grain the bench row pays (ADVICE r17): each
    // closed (user, window) with both types emits exactly its right
    // events, streamed == batch. Multiset compare (a user may view
    // the same value twice).
    val rnd = new scala.util.Random(4242L)
    val events = IndexedSeq.tabulate(200) { i =>
      Ev(i.toLong, ts(i * 45 / 200, rnd.nextInt(60)),
        rnd.nextInt(6).toLong,
        Seq("signup", "view", "click")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 100) / 10.0)
    }.sortBy(_.ts.getTime)
    val sentinel = Ev(999, ts(59), 9, "view", 0.0)
    val carry = Ev(1000, ts(59, 30), 9, "view", 0.0)
    val mem = MemoryStream[Ev]
    val joined = StreamOps.newUsersJoin(mem.toDF(),
      windowSize = "10 minutes", lateness = "0 seconds",
      leftType = "signup", rightType = "view", emitPerRight = true)
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    events.grouped(50).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    mem.addData(sentinel)
    q.processAllAvailable()
    mem.addData(carry)
    runToCompletion(q)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("w.start").cast("string").as("ws"),
        col("n_left"), round(col("right_value"), 6).as("rv"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .groupBy(identity).view.mapValues(_.size).toMap // multiset
    val got = norm(spark.table(table))
    val openCut = "2026-01-01 10:50:00"
    val batch = norm(StreamOps.newUsersJoin(
        (events :+ sentinel :+ carry).toDF(),
        windowSize = "10 minutes", lateness = "0 seconds",
        leftType = "signup", rightType = "view", emitPerRight = true)
      .filter(col("w.start").cast("string") < openCut))
    assert(got == batch,
      s"stream=${got.values.sum} batch=${batch.values.sum} rows; " +
        s"diff keys=${(got.keySet diff batch.keySet) ++ (batch.keySet diff got.keySet)}")
    assert(batch.nonEmpty, "degenerate draw: no qualifying user-window")
  }

  test("session windows merge events within gap across micro-batches") {
    val mem = MemoryStream[Ev]
    val sess = StreamOps.sessionAgg(mem.toDF(), "ts", "5 minutes",
      "0 seconds", Seq(col("user_id")), Seq(count(lit(1)).as("n")))
    val table = freshTable()
    val q = sess.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(3), 1, "a", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(3, ts(6), 1, "a", 1.0)) // within gap of 10:03 → merges
    q.processAllAvailable()
    mem.addData(Ev(9, ts(59), 7, "eof", 0.0)) // advance watermark
    runToCompletion(q)
    val rows = spark.table(table).filter(col("user_id") === 1)
      .select(col("session_window.start").cast("string"),
        col("session_window.end").cast("string"), col("n"))
      .collect().map(_.toSeq)
    // one merged session [10:01, 10:11) with 3 events — not two sessions
    assert(rows.toSeq == Seq(Seq("2026-01-01 10:01:00", "2026-01-01 10:11:00", 3L)),
      rows.toSeq.toString)
  }

  test("dynamic-gap session windows run unchanged on a stream (and match the batch result)") {
    // the newest windowing mode keeps the unification promise too:
    // per-row gap expression (clicks hold the session 30 min, views
    // 10) inside a streaming session_window aggregation — via the
    // SAME StreamOps.sessionAggDynamic call the batch path uses
    val mem = MemoryStream[Ev]
    val gap = when(col("event_type") === "click", "30 minutes")
      .otherwise("10 minutes")
    def sessions(df: org.apache.spark.sql.DataFrame) =
      StreamOps.sessionAggDynamic(df, "ts", gap, "5 minutes",
        Seq(col("user_id")), Seq(count(lit(1)).as("n")))
    val data = Seq(
      Ev(1, ts(0), 1, "click", 0),  // 30-min reach: holds through 10:25
      Ev(2, ts(25), 1, "view", 0),  // within click's reach → same session
      Ev(3, ts(0), 2, "view", 0),   // 10-min reach only
      Ev(4, ts(25), 2, "view", 0))  // beyond it → NEW session
    val table = freshTable()
    val q = sessions(mem.toDF()).writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(data :+ Ev(99, ts(59, 59), 9, "eof", 0): _*)
    runToCompletion(q)
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getStruct(0).getTimestamp(0).toString,
        r.getStruct(0).getTimestamp(1).toString,
        r.getLong(1), r.getLong(2))).toSeq.sorted
    val streamed = shape(spark.table(table).filter(col("user_id") < 9).collect())
    assert(streamed.map(r => (r._3, r._4)).sorted ==
      Seq((1L, 2L), (2L, 1L), (2L, 1L)), streamed.toString)
    // the identical call on a batch DataFrame returns the same
    // sessions — Beam's bounded/unbounded unification
    val batch = shape(sessions(data.toDF()).collect())
    assert(batch == streamed, s"batch=$batch stream=$streamed")
  }

  test("stream-stream join within event-time bound") {
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val joined = StreamOps.streamStreamJoin(
      clicks.toDF().select(col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("user_id").as("cu")),
      views.toDF().select(col("event_id").as("view_id"),
        col("ts").as("view_ts"), col("user_id").as("vu")),
      "click_ts", "view_ts", "1 minute",
      col("cu") === col("vu"), "10 minutes")
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    clicks.addData(Ev(1, ts(5), 1, "c", 0), Ev(2, ts(30), 2, "c", 0))
    views.addData(Ev(10, ts(3), 1, "v", 0),  // within 10 min of click 1
      Ev(11, ts(3), 2, "v", 0))              // 27 min before click 2: out
    runToCompletion(q)
    val pairs = spark.table(table).select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L)), pairs.toString)
  }

  test("interval join: streaming (asymmetric bounds) == batch banded form") {
    // the same same-key time-window pairing computed two ways: the
    // native stream-stream range join (intervalJoinStream) and the
    // batch banded equi-join (Joins.intervalJoin) — window strictly
    // asymmetric: views 2..7 minutes AFTER the click
    val rnd = new scala.util.Random(11)
    val clickRows = (1 to 40).map(i =>
      Ev(i.toLong, ts(rnd.nextInt(40), rnd.nextInt(60)),
        rnd.nextInt(4).toLong, "c", 0))
    val viewRows = (1 to 40).map(i =>
      Ev(i.toLong + 1000, ts(rnd.nextInt(40), rnd.nextInt(60)),
        rnd.nextInt(4).toLong, "v", 0))
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val joined = StreamOps.intervalJoinStream(
      clicks.toDF().select(col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("user_id").as("cu")),
      views.toDF().select(col("event_id").as("view_id"),
        col("ts").as("view_ts"), col("user_id").as("vu")),
      "click_ts", "view_ts", "1 minute",
      col("cu") === col("vu"), "2 minutes", "7 minutes")
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    clicks.addData(clickRows: _*)
    views.addData(viewRows: _*)
    runToCompletion(q)
    val streamed = spark.table(table).select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Joins.intervalJoin(
        clickRows.toDF().select(col("user_id"), col("event_id").as("cid"),
          unix_micros(col("ts")).as("cts")),
        viewRows.toDF().select(col("user_id"), col("event_id").as("vid"),
          unix_micros(col("ts")).as("vts")),
        "user_id", "cts", "vts", 120000000L, 420000000L)
      .select("cid_l", "vid_r")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty,
      s"stream=${streamed.size} batch=${batch.size} " +
        s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
  }

  test("stream-stream LEFT OUTER join emits unmatched rows at watermark close-out") {
    // Beam's windowed-CoGBK outer semantics: the unmatched click emits
    // with a null view only after the watermark proves no in-range
    // view can still arrive (state-store close-out, not a timeout)
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val joined = StreamOps.streamStreamJoin(
      clicks.toDF().select(col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("user_id").as("cu")),
      views.toDF().select(col("event_id").as("view_id"),
        col("ts").as("view_ts"), col("user_id").as("vu")),
      "click_ts", "view_ts", "1 minute",
      col("cu") === col("vu"), "10 minutes", joinType = "left_outer")
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    clicks.addData(Ev(1, ts(5), 1, "c", 0),   // has a matching view
      Ev(2, ts(6), 2, "c", 0))                // user 2 never views
    views.addData(Ev(10, ts(3), 1, "v", 0))
    q.processAllAvailable()
    // watermarks advance far past click 2's join range on BOTH sides
    clicks.addData(Ev(98, ts(59), 8, "c", 0))
    views.addData(Ev(99, ts(59), 9, "v", 0))
    runToCompletion(q)
    val got = spark.table(table).filter(col("click_id") < 90)
      .select(col("click_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, -1L)), got.toString)
  }

  test("stream-static broadcast join enriches events") {
    val mem = MemoryStream[Ev]
    val sdf = mem.toDF()
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("uid", "name")
    val joined = StreamOps.streamStaticJoin(sdf, dim,
      sdf("user_id") === dim("uid"))
      .select(col("event_id"), col("name"))
    val table = freshTable()
    val q = joined.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 9, "a", 1.0))
    runToCompletion(q)
    val got = spark.table(table).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "alice")))
  }

  test("watchGrowth polls a growing set and emits each discovery once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-watch")
    def put(name: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), name)
    put("a"); put("b")
    val dirPath = dir.toString // capture a serializable path, not the Path
    val watched = StreamOps.watchGrowth[String](spark, pollsPerSecond = 10,
      poll = () => {
        val f = new java.io.File(dirPath).listFiles()
        if (f == null) Seq.empty else f.map(_.getName).toSeq
      },
      id = identity)
    val table = freshTable()
    val q = watched.writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    def seen(): Set[String] =
      spark.table(table).as[String].collect().toSet
    val t0 = System.currentTimeMillis()
    while (seen() != Set("a", "b") && System.currentTimeMillis() - t0 < 30000)
      Thread.sleep(100)
    assert(seen() == Set("a", "b"))
    put("c") // the set GROWS: only the new element may emit again
    val t1 = System.currentTimeMillis()
    while (seen() != Set("a", "b", "c") && System.currentTimeMillis() - t1 < 30000)
      Thread.sleep(100)
    q.processAllAvailable()
    q.stop()
    // each discovery emitted exactly once despite dozens of re-polls
    val all = spark.table(table).as[String].collect().toSeq
    assert(all.sorted == Seq("a", "b", "c"), s"duplicate emissions: $all")
  }

  test("file-replay source streams the events parquet (TextIO.watch analog)") {
    val batchDf = graft.sources.Tables.events(spark, sfDir)
    val streamDf = StreamOps.replayEvents(spark, sfDir)
    assert(streamDf.isStreaming)
    val agg = streamDf.groupBy("event_type").agg(count(lit(1)).as("n"))
    val table = freshTable()
    val q = agg.writeStream.format("memory")
      .queryName(table).outputMode("complete").start()
    runToCompletion(q)
    val streamed = spark.table(table).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = batchDf.groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("runInference hot-swaps the model between micro-batches (model_metadata_pcoll analog)") {
    import graft.operators.Inference
    // "model registry": a version file the resolver reads per batch —
    // the WatchFilePattern side channel reduced to its essence
    val registry = java.nio.file.Files.createTempFile("graft-model", ".txt")
    def publish(w: Double): Unit =
      java.nio.file.Files.writeString(registry, w.toString)
    val resolve: () => Inference.ModelHandler[Double] =
      () => ScaleModel(java.nio.file.Files.readString(registry).trim.toDouble)

    val mem = MemoryStream[(Long, Array[Float])]
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = Inference.runInferenceStreamWithReload(
        mem.toDF().toDF("id", "vec"), "vec", "score", resolve,
        sink = (scored, batchId) =>
          out ++= scored.select(col("id"), col("score"))
            .collect().map(r => (batchId, r.getLong(0), r.getDouble(1))))
      .start()

    publish(1.0)
    mem.addData((1L, Array(1f, 2f)), (2L, Array(3f, 0f)))
    q.processAllAvailable()
    publish(10.0) // version bump: visible from the NEXT micro-batch on
    mem.addData((3L, Array(1f, 2f)))
    q.processAllAvailable()
    q.stop()

    // pre-bump rows scored under w=1, post-bump under w=10 — and the
    // two pre-bump rows shared one micro-batch, hence one version
    val byId = out.map(t => t._2 -> t._3).toMap
    assert(byId == Map(1L -> 3.0, 2L -> 3.0, 3L -> 30.0),
      s"hot-swap scores wrong: $out")
    assert(out.filter(t => Set(1L, 2L)(t._2)).map(_._1).distinct.size == 1,
      s"rows 1,2 split across micro-batches: $out")
  }

  test("t-digest sketch aggregates inside a streaming window (state-store buffer)") {
    // a USER TypedImperativeAggregate must work under streaming
    // aggregation too: the digest buffer serializes into the state
    // store between micro-batches and merges with later updates —
    // Beam's CombineFn-in-streaming contract
    graft.functions.GraftFunctions.register(spark)
    val mem = MemoryStream[Ev]
    val streamed = mem.toDF().withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(expr("tdigest_quantile(tdigest_agg(value, 100), 0.5d)").as("q50"),
        count(lit(1)).as("n"))
    val table = freshTable()
    val q = streamed.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    // one window [10:00,10:10): values 1..40 split across two
    // micro-batches, so the batch-2 digest must merge with batch-1's
    // state-store buffer; sentinel closes the window
    mem.addData((1 to 20).map(i => Ev(i, ts(1, i), 1, "e", i.toDouble)): _*)
    q.processAllAvailable()
    mem.addData((21 to 40).map(i => Ev(i, ts(2, i), 1, "e", i.toDouble)): _*)
    q.processAllAvailable()
    mem.addData(Ev(99, ts(50), 9, "eof", 0.0))
    runToCompletion(q)
    val rows = spark.table(table).filter(col("n") === 40)
      .select("q50").collect()
    assert(rows.length == 1, s"expected one closed 40-row window")
    val q50 = rows.head.getDouble(0)
    // exact median of 1..40 is 20.5; digest of 40 values is near-exact
    assert(math.abs(q50 - 20.5) <= 1.0, s"q50=$q50")
  }

  test("per-key model inference runs inside streaming micro-batches") {
    // KeyedModelHandler under streaming: each micro-batch routes rows
    // to per-tenant models through the same capped-LRU worker cache —
    // no restart, no model mixing across keys
    import graft.operators.Inference
    val mem = MemoryStream[(Long, Int, Array[Float])]
    val scored = Inference.runInferencePerKey(
      mem.toDF().toDF("id", "tenant", "vec"), "tenant", "vec", "score",
      k => new Inference.ScaledLinearScorer(2,
        1.0 + k.asInstanceOf[Int] * 0.1),
      batchSize = 4, maxModelsPerWorker = 2)
    val table = freshTable()
    val q = scored.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData((1L, 0, Array(1f, 0.5f)), (2L, 1, Array(1f, 0.5f)))
    q.processAllAvailable()
    mem.addData((3L, 2, Array(1f, 0.5f)))   // third tenant: evicts LRU
    runToCompletion(q)
    val got = spark.table(table).select("id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = Inference.weights(2)
    for ((id, tenant) <- Seq((1L, 0), (2L, 1), (3L, 2))) {
      val scale = 1.0 + tenant * 0.1
      val z = Seq(1f, 0.5f).zip(w).map { case (x, wi) => x * (wi * scale) }.sum
      assert(math.abs(got(id) - 1.0 / (1.0 + math.exp(-z))) < 1e-12, s"id $id")
    }
    // same vector, three tenants ⇒ three distinct scores
    assert(got.values.toSet.size == 3)
  }

  test("composed streaming curation: filter -> dedup -> inference -> windowed agg") {
    // The unified-model capstone: the BATCH curation operators (quality
    // score, lang-ID, fingerprint, batched inference) compose UNCHANGED
    // on a stream, chained through two stateful operators
    // (dropDuplicatesWithinWatermark, then a windowed agg) in one
    // query. The assertion is Beam's promise itself: streaming result
    // == the identical builder run in batch.
    import graft.operators.{Inference, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    val good1 = "the quick brown fox jumps over the lazy dog and runs home today"
    val good2 = "a different sentence with the usual english words and some more of them"
    val docs = Seq(
      (1L, ts(1), good1),
      (2L, ts(2), "zzzz"),        // junk: fails quality/lang gate
      (3L, ts(3), good2),
      (4L, ts(5), good1),         // exact dup of doc 1 within watermark
      (99L, ts(50), good2 + " closing sentinel for both windows"))

    def curate(df: DataFrame): DataFrame = {
      val base = df
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("lang", TextAnalysis.langId(col("text")))
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .filter(col("quality") >= 0.5 && col("lang") === "en")
        .withColumn("emb", array((length(col("text")) % lit(10)).cast("float"),
          lit(1.0f)))
      Inference.runInference(base, "emb", "score",
        new Inference.LinearScorer(2), batchSize = 16)
    }
    def windowed(df: DataFrame): DataFrame =
      df.groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n_docs"), round(avg("score"), 6).as("avg_score"))

    val mem = MemoryStream[(Long, Timestamp, String)]
    // watermark is tagged AFTER the inference mapPartitions: an
    // arbitrary-code transform mints new attributes, so the event-time
    // tag (like any column-level metadata) must be re-declared
    // downstream of it
    val streamed = windowed(
      curate(mem.toDF().toDF("doc_id", "ts", "text"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("fp"))
    val table = freshTable()
    val q = streamed.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(docs.take(3): _*)   // micro-batch 1
    q.processAllAvailable()
    mem.addData(docs.drop(3): _*)   // micro-batch 2: dup + sentinel
    runToCompletion(q)

    val got = spark.table(table)
      .select(col("window.start").cast("string"), col("n_docs"),
        col("avg_score"))
      .collect().map(_.toSeq).toSet
    val batch = windowed(
      curate(docs.toDF("doc_id", "ts", "text")).dropDuplicates("fp"))
      .filter(col("window.start") < ts(50))
      .select(col("window.start").cast("string"), col("n_docs"),
        col("avg_score"))
      .collect().map(_.toSeq).toSet
    assert(got == batch && got.nonEmpty, s"got=$got batch=$batch")
    // the dup (doc 4) and the junk (doc 2) are both gone: one window,
    // two surviving docs
    assert(got.map(_(1).asInstanceOf[Long]).sum == 2, s"got=$got")
  }

  test("streaming curation: temperature mix + C4 span dedup compose on a stream") {
    // Closes the batch/stream parity story for the curation suite's two
    // newest members. Shape: the per-source temperature RATES are a
    // batch-fit artifact (nightly profile job) applied inside the
    // stream as a stream-static broadcast join + the deterministic
    // hash filter (stateless, so kept-set == batch by construction);
    // C4 repeated-span removal needs a window over the line value, so
    // it runs per MICRO-BATCH via foreachBatch — the continuous-export
    // scope (dedup within each delivered batch; cross-batch dedup is
    // the separate fingerprint/dropDuplicatesWithinWatermark path).
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    def mkDoc(i: Long): (Long, String, Seq[String]) =
      (i, if (i % 9 == 0) "rare" else "web",
        Seq(s"unique line of doc $i", "shared boilerplate footer"))
    val allDocs = (0L until 90L).map(mkDoc)

    // batch profile job → per-source rates (α=0.5 temperature mix)
    val profile = allDocs.toDF("doc_id", "source", "lines")
    val perSrc = profile.groupBy("source")
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val zDf = perSrc.agg(sum(pow(col("n_docs"), 0.5)).as("z"))
    val rates = perSrc.crossJoin(broadcast(zDf))
      .select(col("source"),
        least(lit(1.0), lit(30.0) * pow(col("n_docs"), 0.5) / col("z")
          / col("n_docs")).as("rate"))

    def temperatureKeep(df: DataFrame): DataFrame = {
      val u = graft.functions.PortableHash.md5Long(col("doc_id"))
        .cast("double") / lit(math.pow(2.0, 60))
      df.join(broadcast(rates), Seq("source")).filter(u < col("rate"))
        .select("doc_id", "source", "lines")
    }
    def c4(df: DataFrame): DataFrame =
      Dedup.removeRepeatedLines(df, "doc_id", "lines")

    val sink = collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val mem = MemoryStream[(Long, String, Seq[String])]
    val q = temperatureKeep(mem.toDF().toDF("doc_id", "source", "lines"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = c4(batch).collect() // bounded: test sink
        sink.synchronized {
          sink ++= rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        }
        ()
      }.start()
    val (slice1, slice2) = allDocs.splitAt(45)
    mem.addData(slice1: _*)
    q.processAllAvailable()
    mem.addData(slice2: _*)
    runToCompletion(q)

    // oracle: the identical batch composition per delivered slice
    val expect = Seq(slice1, slice2).flatMap { slice =>
      c4(temperatureKeep(slice.toDF("doc_id", "source", "lines")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }.toSet
    val got = sink.synchronized(sink.toSet)
    assert(got == expect && got.nonEmpty, s"stream $got != batch $expect")
    // the composition really curated: some docs dropped by the mix,
    // and in each slice exactly one surviving doc kept the shared
    // footer (n_kept == 2), everyone else had it span-deduped away
    assert(got.size < 90)
    assert(got.count(_._2 == 2) == 2, s"footer dedup off: $got")
  }

  test("bloom prune applies inside a streaming query (cross-boundary sketch)") {
    import graft.operators.Pruning
    // the sketch is built in a BATCH job (e.g. nightly from a dim
    // table) and applied as a stateless codegen'd filter inside a
    // later STREAMING query — the cross-boundary property Spark's
    // internal runtime bloom rule cannot offer
    val members = spark.range(0, 1000, 10).toDF("id")
    val bf = Pruning.bloomFit(members, "id", expectedItems = 1000, fpp = 0.001)
    val mem = MemoryStream[Long]
    val pruned = Pruning.bloomPrune(mem.toDF().toDF("id"), "id", bf)
    val table = freshTable()
    val q = pruned.writeStream.format("memory")
      .queryName(table).outputMode("append").start()
    mem.addData(0L until 1000L: _*)
    runToCompletion(q)
    val kept = spark.table(table).as[Long].collect().toSet
    // zero false negatives: every member survives the stream filter
    assert((0L until 1000L by 10).forall(kept.contains))
    // and the 0.1%-fpp sketch keeps few non-members
    assert(kept.size <= 100 + 20, s"kept ${kept.size}")
  }

  test("near-dup admission gate: foreachBatch stream == batch core") {
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    // the crawl gate: a standing corpus index (signatures computed
    // ONCE) filters an unbounded ingest stream per micro-batch
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val t2 = "spark structured streaming carries watermarks through stateful operators"
    val corpus = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    val corpusSig = Dedup.minHashSignatures(corpus, "doc_id", "text", 16)
      .cache() // the index artifact
    // the banded form of the index — persisted once so each micro-batch
    // pays O(batch), never re-deriving the corpus projection
    val corpusBuckets = Dedup.minHashBuckets(corpusSig, "doc_id", 16, 4)
      .cache()
    val incoming = Seq(
      (10L, t1),                                             // verbatim dup
      (11L, "a wholly novel document mentioning glaciers " +
        "volcanoes and typesetting with nothing shared"),    // novel
      (12L, t2),                                             // verbatim dup
      (13L, "another unrelated piece on category theory " +
        "monoids functors and natural transformations"))     // novel
    val batchResult = Dedup.admitNovel(incoming.toDF("doc_id", "text"),
        corpusSig, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchResult == Set(11L, 13L), batchResult.toString)
    // stream the same docs across TWO micro-batches
    val admitted = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitted ++= Dedup.admitNovel(batch, corpusSig, "doc_id", "text",
            corpusBuckets = Some(corpusBuckets))
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    mem.addData(incoming.take(2): _*)
    q.processAllAvailable()
    mem.addData(incoming.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    assert(admitted.toSet == batchResult, admitted.toString)
  }

  test("embedding admission gate: foreachBatch ANN stream == batch core (persisted PQ index)") {
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.DataFrame
    // the online form of semantic dedup: a PERSISTED IVF-PQ index
    // (fit+write once; read + encoded table loaded once, outside the
    // micro-batch loop) gates an unbounded embedding stream
    val corpus = graft.sources.Tables.embeddings(spark, sfDir)
    val index0 = Similarity.fitPqIndex(corpus, "vec_id", "embedding",
      nCells = 8, m = 8, kCodes = 16, pqIters = 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pq-admit").toString
    Similarity.writePqIndex(spark, index0, dir)
    val index = Similarity.readPqIndex(spark, dir)
    Similarity.encodePq(corpus, "vec_id", "embedding", index)
      .write.parquet(s"$dir/encoded")
    val encoded = spark.read.parquet(s"$dir/encoded").cache()
    // incoming: exact copies of every 50th corpus vector (always
    // caught — a copy ranks its original's cell first) + basis-vector
    // novels (max true corpus cosine ≈ 0.58, far below 0.95)
    val copies = corpus.filter(col("vec_id") % 50 === 0)
      .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val novels = corpus.filter(col("vec_id") % 50 === 7)
      .select((-col("vec_id") - 100001L).as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          when(j.cast("long") === pmod(col("vec_id"), lit(64L)),
            lit(1.0f)).otherwise(lit(0.0f))).as("embedding"))
    // re-fetch case: a copy carrying its corpus duplicate's OWN id
    // must still be caught (the ANN self-pair exclusion is disabled
    // on the admission path)
    val sameId = corpus.filter(col("vec_id") === 3)
      .select(col("vec_id"), col("embedding"))
    val incoming = copies.unionByName(novels).unionByName(sameId)
      .as[(Long, Seq[Float])].collect().toSeq
    assert(incoming.size >= 4, s"thin fixture: ${incoming.size} rows")
    def admit(b: DataFrame): Set[Long] =
      Dedup.admitNovelByEmbedding(b, encoded, corpus, "vec_id",
          "embedding", index, minSim = 0.95)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val batchResult = admit(incoming.toDF("vec_id", "embedding"))
    // copies dropped, novels admitted — exactly
    assert(batchResult == incoming.map(_._1).filter(_ <= -100001L).toSet,
      s"batch admitted $batchResult")
    // stream the same vectors across two micro-batches
    val admitted = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitted ++= admit(
          batch.select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")))
        ()
      }
      .start()
    val (h, t) = incoming.splitAt(incoming.size / 2)
    mem.addData(h: _*)
    q.processAllAvailable()
    mem.addData(t: _*)
    q.processAllAvailable()
    q.stop()
    assert(admitted.toSet == batchResult,
      s"stream=${admitted.toSet} batch=$batchResult")
  }

  test("streaming TFRecord export: each micro-batch lands as its own shard set") {
    import graft.sources.TFRecordIO
    import org.apache.spark.sql.DataFrame
    // continuous training-data export: foreachBatch writes every
    // micro-batch under a batchId-named directory (idempotent replay —
    // a restarted batch overwrites its own shards, never another's)
    val root = java.nio.file.Files
      .createTempDirectory("graft-tfr-stream").toString
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("s")
      .select(encode(col("s"), "UTF-8").as("payload"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TFRecordIO.write(batch.coalesce(1), "payload", s"$root/batch=$batchId")
      }
      .start()
    mem.addData("alpha", "beta")
    q.processAllAvailable()
    mem.addData("gamma")
    q.processAllAvailable()
    q.stop()
    val back = TFRecordIO.read(spark, s"$root/batch=*")
      .collect().map(r => new String(r.getAs[Array[Byte]](0), "UTF-8")).toSet
    assert(back == Set("alpha", "beta", "gamma"))
    // two micro-batches → two shard directories
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=0", "batch=1"), dirs.toString)
  }

  test("streaming warehouse capstone: star join + monthly agg via foreachBatch == batch (TPC-DS q3/q59 shape)") {
    import org.apache.spark.sql.DataFrame
    // The 21 TPC-DS analog shapes run as batch queries; this is the
    // same star-schema shape run CONTINUOUSLY — the orders fact
    // arriving as a stream, dimension join against the static
    // customer⋈nation table (broadcast, Beam's side-input join:
    // extensions/sql/.../rel/BeamSideInputJoinRel.java:69), 30-day
    // event-time windows closing at the watermark, each closed slice
    // MERGEd into the serving store by foreachBatch (the warehouse
    // ingestion pattern). Unbounded-side constraints per
    // BeamCoGBKJoinRel.java:139-160: the unbounded side is windowed,
    // the bounded side static.
    val sf = "/root/testdata/sf0.001"
    val dims = graft.sources.Tables.customer(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    // bounded: sf0.001 orders (1.5k rows) replayed through MemoryStream
    val facts = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_orderdate").cast("timestamp"),
        col("o_totalprice").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      .sortBy(_._3.getTime)
    val mem = MemoryStream[(Long, Long, Timestamp, Double)]
    def star(df: DataFrame): DataFrame = df
      .toDF("o_orderkey", "o_custkey", "ots", "price")
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy(window(col("ots"), "30 days").as("w"), col("n_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 4).as("rev"))
    val served = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    var dupDelivery = false
    val seenKeys = scala.collection.mutable.Set[(String, String)]()
    val q = star(mem.toDF().withWatermark("_3", "0 seconds"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch
          .select(col("w.start").cast("string"), col("n_name"),
            col("n"), col("rev"))
          .collect()
        rows.foreach { r =>
          // append-at-close contract: each (window, nation) cell is
          // delivered to the serving store EXACTLY once — the property
          // that makes the foreachBatch MERGE idempotence-free
          if (!seenKeys.add((r.getString(0), r.getString(1)))) dupDelivery = true
          served += r.toSeq
        }
      }.start()
    // three arrival waves (ts-ordered replay) + a far-future sentinel
    // with no matching customer: advances the watermark past every
    // real window, joins nothing, aggregates nothing
    facts.grouped(math.max(1, facts.length / 3)).foreach { g =>
      mem.addData(g.toIndexedSeq: _*); q.processAllAvailable()
    }
    val eof = new Timestamp(facts.last._3.getTime + 400L * 86400000L)
    mem.addData((-1L, -1L, eof, 0.0))
    runToCompletion(q)
    val batchRef = star(facts.toSeq.toDF())
      .select(col("w.start").cast("string"), col("n_name"),
        col("n"), col("rev"))
      .collect().map(_.toSeq).toSet
    assert(!dupDelivery, "a (window, nation) slice was delivered twice")
    assert(served.toSet == batchRef && batchRef.size > 100,
      s"continuous star agg != batch: served=${served.size} rows " +
        s"(${served.toSet.size} distinct), batch=${batchRef.size}")
  }

  test("streaming top-N per channel leaderboard: rank at window close == batch rank (TPC-DS q49 shape)") {
    import org.apache.spark.sql.DataFrame
    // q49-style channel leaderboard run continuously: revenue per user
    // inside 10-minute event-time windows, top-2 users per (window,
    // channel) ranked when the window CLOSES — rank-over-agg inside
    // foreachBatch, sound because append mode delivers every aggregate
    // row of a window in the single micro-batch where the watermark
    // passes its end, so each batch holds complete (window, channel)
    // rank domains (the continuous-leaderboard shape Nexmark Q5
    // generalizes; ranking reuses Relational.topKPerKey).
    val events = Seq(
      Ev(1, ts(1), 1, "view", 5.0), Ev(2, ts(2), 2, "view", 9.0),
      Ev(3, ts(3), 3, "view", 7.0), Ev(4, ts(4), 1, "view", 3.0),
      Ev(5, ts(2), 1, "click", 2.0), Ev(6, ts(5), 2, "click", 1.0),
      // second window, arrives across two waves, out of order within
      Ev(7, ts(14), 3, "view", 4.0), Ev(8, ts(12), 1, "view", 4.0),
      Ev(9, ts(13), 2, "click", 8.0), Ev(10, ts(11), 3, "click", 6.0))
    val mem = MemoryStream[Ev]
    def revenue(df: DataFrame): DataFrame = df
      .groupBy(window(col("ts"), "10 minutes").as("w"),
        col("event_type"), col("user_id"))
      .agg(sum("value").as("rev"))
    def rank(df: DataFrame): DataFrame =
      graft.operators.Relational.topKPerKey(df,
        keys = Seq(col("w"), col("event_type")),
        order = Seq(col("rev").desc, col("user_id").asc), k = 2)
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = revenue(mem.toDF().withWatermark("ts", "0 seconds"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        got ++= rank(batch)
          .select(col("w.start").cast("string"), col("event_type"),
            col("user_id"), col("rev"), col("rk"))
          .collect().map(_.toSeq)
        ()
      }.start()
    mem.addData(events.take(6): _*); q.processAllAvailable()
    mem.addData(events.drop(6): _*); q.processAllAvailable()
    mem.addData(Ev(99, ts(50), 9, "eof", 0.0)) // close the second window
    runToCompletion(q)
    val batchRef = rank(revenue(events.toDF()))
      .select(col("w.start").cast("string"), col("event_type"),
        col("user_id"), col("rev"), col("rk"))
      .collect().map(_.toSeq).toSet
    assert(got.toSet == batchRef,
      s"continuous leaderboard != batch rank: got=${got.toSet} want=$batchRef")
    // the leaderboard really truncates: window-1 'view' had 3 users
    assert(got.count(r => r(1) == "view") == 4 &&
      !got.exists(r => r(1) == "view" && r(2) == 3L &&
        r(0).toString.endsWith(" 10:00:00")),
      s"top-2 truncation lost: $got")
  }

  test("streaming CDC apply: per-batch touched-keys SCD2 merge == batch history") {
    import org.apache.spark.sql.DataFrame
    // The dimension-ingestion shape: a CDC change stream applied per
    // micro-batch to the stored SCD2 change points with
    // Scd.applyCdcBatch — untouched keys pass through a left-anti,
    // touched keys re-compress (existing change points ∪ new rows).
    // Delivery follows the CDC-log commit-order contract ((ts, tie)
    // order per key), under which incremental apply == full rebuild.
    // At warehouse scale each batch's working set is O(batch keys)
    // (a Delta/Iceberg MERGE), never O(dimension).
    val sf = "/root/testdata/sf0.001"
    val raw = graft.sources.Tables.orders(spark, sf)
      .select(col("o_custkey").cast("long"),
        col("o_orderpriority"),
        unix_timestamp(col("o_orderdate")).cast("long"),
        col("o_orderkey").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._3, t._4)) // commit order: (ts, tie)
    val mem = MemoryStream[(Long, String, Long, Long)]
    val emptyStore = Seq.empty[(Long, String, Long, Long)]
      .toDF("k", "state", "vf", "okey")
    var store = emptyStore
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = mem.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.toDF("k", "state", "vf", "okey")
        // localCheckpoint truncates the growing per-batch lineage —
        // the store's stand-in for a real table MERGE target
        store = graft.operators.Scd
          .applyCdcBatch(store, b, "k", "state", "vf", "okey")
          .localCheckpoint(true)
        batchSizes += store.count()
        ()
      }.start()
    raw.grouped(math.max(1, raw.length / 4)).foreach { g =>
      mem.addData(g.toIndexedSeq: _*); q.processAllAvailable()
    }
    runToCompletion(q)
    // incremental compression left no consecutive-dup change points:
    // re-running the compression over the store drops nothing
    val served = graft.operators.Scd
      .history(store, "k", "state", "vf", "okey")
    assert(served.count() == store.count(),
      "store kept a consecutive-duplicate change point")
    val got = served
      .select(col("k"), col("state"), col("vf"), col("valid_to"),
        col("is_current")).collect().map(_.toSeq).toSet
    val want = graft.operators.Scd
      .history(raw.toSeq.toDF("k", "state", "vf", "okey"),
        "k", "state", "vf", "okey")
      .select(col("k"), col("state"), col("vf"), col("valid_to"),
        col("is_current")).collect().map(_.toSeq).toSet
    assert(got == want && want.size > 500,
      s"CDC apply != batch SCD2: got=${got.size} want=${want.size}")
    // exactly one open (is_current) row per key survives
    val opens = served.filter(col("is_current") === 1L)
      .groupBy("k").count().filter(col("count") > 1).count()
    assert(opens == 0, "a key has more than one current row")
    // the store really grew incrementally across batches
    assert(batchSizes.size >= 4 && batchSizes.toSeq == batchSizes.sorted,
      s"store sizes not monotone: $batchSizes")
  }

  // ---- the replay core behind StreamingBench, ScaleProbe and
  // perfbench's stream workload
  private val (managerKey, fsManager) = ReplayHarness.CheckpointManager

  /** A passthrough replay of 1..n in 3 chunks plus one sentinel; `inside`
    * runs where the query is built. */
  private def passthroughReplay(name: String, n: Long = 30L)(
      inside: org.apache.spark.sql.Dataset[Long] => Unit = _ => ()) =
    ReplayHarness.run(spark, name, 1L to n, Seq(0L), 3) { ds =>
      inside(ds); ds
    }

  /** The replay's `graft_replay_<name>*` checkpoint dirs in the temp dir. */
  private def checkpointsOf(name: String): Seq[java.io.File] =
    CheckpointProbe.checkpointsOf("graft_replay_" + name)

  test("replay harness checkpoints through the FileSystem-based manager") {
    var seen: Option[String] = None
    passthroughReplay("harness_manager") { ds =>
      seen = ds.sparkSession.conf.getOption(managerKey)
    }
    assert(seen.contains(fsManager), s"manager inside the replay: $seen")
  }

  test("replay harness restores the caller's manager: unset, preset, and when f throws") {
    val keys = ReplayHarness.ReplayConfs.map(_._1)
    def setNow = spark.sessionState.conf.getAllConfs
    val before = keys.map(k => k -> setNow.get(k))
    /** The replay's confs as `f` sees them. */
    def replayConfsIn(name: String)(f: => Unit = ()): Seq[(String, String)] = {
      var seen = Seq.empty[(String, String)]
      passthroughReplay(name) { _ =>
        seen = keys.map(k => k -> spark.conf.get(k)); f
      }
      seen
    }
    try {
      keys.foreach(spark.conf.unset)
      var fsSeen: Option[Class[_]] = None
      val unsetSeen = replayConfsIn("harness_unset") {
        val ckpt = new Path(checkpointsOf("harness_unset").head.toURI)
        fsSeen = Some(ckpt.getFileSystem(spark.sessionState.newHadoopConf()).getClass)
      }
      assert(unsetSeen == ReplayHarness.ReplayConfs)
      assert(fsSeen.contains(classOf[ForkFreeLocalFileSystem]), s"fs inside the replay: $fsSeen")
      keys.foreach(k => assert(!setNow.contains(k), s"$k is set"))
      val preset = Seq(managerKey -> ("org.apache.spark.sql.execution.streaming." +
          "checkpointing.FileContextBasedCheckpointFileManager"),
        "fs.file.impl" -> classOf[LocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "false",
        "spark.sql.artifact.isolation.enabled" -> "true",
        "spark.sql.streaming.pollingDelay" -> "10ms")
      assert(preset.map(_._1) == keys)
      preset.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(replayConfsIn("harness_preset")() == ReplayHarness.ReplayConfs)
      preset.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
      val e = intercept[IllegalStateException] {
        replayConfsIn("harness_throws")(throw new IllegalStateException("boom"))
      }
      assert(e.getMessage == "boom")
      preset.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("replay harness: N rows in 3 chunks + 1 sentinel reach the sink, checkpoint deleted") {
    val name = s"harness_rows_${System.nanoTime}"
    var during = Seq.empty[java.io.File]
    val n = 30L
    val (_, prog) = passthroughReplay(name, n)(_ => during = checkpointsOf(name))
    assert(during.size == 1, s"checkpoint dirs while replaying: $during")
    assert(prog.map(_.sink.numOutputRows).filter(_ > 0).sum == n + 1)
    assert(checkpointsOf(name).isEmpty, s"checkpoint left behind: ${checkpointsOf(name)}")
  }

  test("replay harness starts no chmod or readlink process") {
    val rows = (1L to 20L).flatMap(k =>
      Seq((k, Option(k), Option.empty[Double]), (k, Option.empty[Long], Option(k * 1.5))))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val jfr = Files.createTempFile("graft_forks", ".jfr")
    try {
      // a known fork, so an empty recording cannot pass the guard
      new ProcessBuilder("true").start().waitFor()
      StreamingBench.withConfs(spark, StreamingBench.confs) {
        ReplayHarness.run(spark, "harness_forks", rows,
          Seq.empty[(Long, Option[Long], Option[Double])], 3) { ds =>
          graft.streaming.StatefulV2.incrementalJoin[Long, Long, Double](ds)
        }
      }
      rec.stop()
      rec.dump(jfr)
      val programs = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
        .map(_.getString("command").takeWhile(_ != ' ').split('/').last)
      assert(programs.contains("true"), s"recorded: $programs")
      val forks = programs.filter(c => c == "chmod" || c == "readlink")
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(forks.isEmpty, "chmod/readlink process starts")
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }

  test("a repeated replay compiles no generated class and shares one task class loader") {
    val rows = (1L to 20L).flatMap(k =>
      Seq((k, Option(k), Option.empty[Double]), (k, Option.empty[Long], Option(k * 1.5))))
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    /** One RocksDB `incrementalJoin` replay; returns the task context
      * class loaders it saw and the classes compiled while it ran. */
    def replay(): (Set[ClassLoader], Long) = {
      LoaderProbe.seen.clear()
      val before = compiles.getCount
      StreamingBench.withConfs(spark, StreamingBench.confs) {
        ReplayHarness.run(spark, "harness_codegen", rows,
          Seq.empty[(Long, Option[Long], Option[Double])], 3) { ds =>
          graft.streaming.StatefulV2.incrementalJoin[Long, Long, Double](
            ds.map { r => LoaderProbe.look(); r })
        }
      }
      (LoaderProbe.seen.asScala.toSet, compiles.getCount - before)
    }
    // perfbench's session keeps Spark's default, per-session isolation
    StreamingBench.withConfs(spark, Seq(graft.Session.SharedExecutorLoader._1 -> "true")) {
      val (first, _) = replay()
      val (second, compiled) = replay()
      LoaderProbe.seen.clear()
      assert(compiled == 0, "classes compiled by the repeated replay")
      assert(first.nonEmpty && second.nonEmpty, "the probe saw no task")
      assert((first ++ second).size == 1, s"task class loaders: ${first ++ second}")
    }
  }

  test("replay harness checkpoint keeps its .crc checksum files") {
    val name = s"harness_crc_${System.nanoTime}"
    CheckpointProbe.offsets.clear()
    ReplayHarness.run(spark, name, 1L to 30L, Seq(0L), 3) { ds =>
      ds.map { x => CheckpointProbe.lookAtOffsets("graft_replay_" + name); x }
    }
    val seen = CheckpointProbe.offsets.asScala.toSet
    assert(Set("0", ".0.crc").subsetOf(seen), s"offsets seen by the tasks: $seen")
  }

  test("a stateful query restarted on its own checkpoint resumes its state") {
    val ckpt = Files.createTempDirectory("graft_restart")
    try StreamingBench.withConfs(spark,
        StreamingBench.confs ++ ReplayHarness.ReplayConfs) {
      val mem = MemoryStream[Int]
      val counts = mem.toDS().groupBy("value").count()
      def start(table: String) = counts.writeStream.format("memory")
        .queryName(table).outputMode("complete")
        .option("checkpointLocation", ckpt.toString).start()
      val q1 = start(freshTable())
      mem.addData(1, 2, 2)
      runToCompletion(q1)
      mem.addData(2, 3)
      val table = freshTable()
      runToCompletion(start(table))
      assertRows(spark.table(table), Seq(Seq(1, 1L), Seq(2, 3L), Seq(3, 1L)))
      assert(Files.exists(ckpt.resolve("offsets/.1.crc")))
    } finally ReplayHarness.deleteTree(ckpt)
  }

  // ---- the fork-free `file:` filesystem against the stock one

  /** Runs `op` on a fresh stock and a fresh fork-free local filesystem,
    * each in its own temp dir under one conf (umask 077); returns each
    * side's full mode (permission, setuid/setgid and sticky bits) per
    * relative path. */
  private def modesAfter(op: (LocalFileSystem, Path) => Unit)
      : (Map[String, Int], Map[String, Int]) = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.permissions.umask-mode", "077")
    def modes(fs: LocalFileSystem): Map[String, Int] = {
      val root = Files.createTempDirectory("graft_fs_parity")
      try {
        fs.initialize(java.net.URI.create("file:///"), conf)
        op(fs, new Path(root.toUri))
        Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
          root.relativize(p).toString ->
            (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF)
        }.toMap
      } finally { fs.close(); ReplayHarness.deleteTree(root) }
    }
    val forkFree = new ForkFreeLocalFileSystem
    assert(forkFree.getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    (modes(new LocalFileSystem), modes(forkFree))
  }

  private def octal(s: String) = Integer.parseInt(s, 8)

  test("fork-free file: fs gives the stock modes for create, mkdirs and setPermission") {
    val (stock, forkFree) = modesAfter { (fs, root) =>
      fs.mkdirs(new Path(root, "a/b"), FsPermission.getDirDefault)
      fs.create(new Path(root, "a/b/f")).close()
      fs.create(new Path(root, "g")).close()
      fs.setPermission(new Path(root, "g"), new FsPermission(octal("640").toShort))
    }
    assert(stock == Map("a" -> octal("700"), "a/b" -> octal("700"),
      "a/b/f" -> octal("600"), "a/b/.f.crc" -> octal("600"),
      "g" -> octal("640"), ".g.crc" -> octal("640")), s"stock: $stock")
    assert(forkFree == stock)
  }

  test("fork-free file: fs keeps the stock mode for a sticky bit and a setgid directory") {
    val (stock, forkFree) = modesAfter { (fs, root) =>
      val sticky = new Path(root, "t")
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission(octal("1777").toShort))
      val setgid = new Path(root, "s")
      fs.mkdirs(setgid)
      assert(new ProcessBuilder("chmod", "g+s", fs.pathToFile(setgid).toString)
        .start().waitFor() == 0)
      fs.setPermission(setgid, new FsPermission(octal("750").toShort))
    }
    assert(stock == Map("t" -> octal("1777"), "s" -> octal("2750")), s"stock: $stock")
    assert(forkFree == stock)
  }
}

/** What a replay's tasks see of its offset log: the file names under
  * `offsets/` of every temp dir with a given prefix. An object, so a task
  * closure reaches it without capturing the spec. */
object CheckpointProbe {
  val offsets: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def checkpointsOf(prefix: String): Seq[java.io.File] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.startsWith(prefix))

  def lookAtOffsets(prefix: String): Unit =
    checkpointsOf(prefix).foreach { d =>
      Option(new java.io.File(d, "offsets").list()).toSeq.flatten.foreach(offsets.add)
    }
}

/** The context class loaders of the tasks that called [[look]]. */
object LoaderProbe {
  val seen: java.util.Set[ClassLoader] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[ClassLoader]()

  def look(): Unit = seen.add(Thread.currentThread.getContextClassLoader)
}
