package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, collect_list, session_window, sort_array, struct, unix_timestamp}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StatefulV2

/** transformWithState (Spark 4 state API) specs — Beam's @StateId /
  * @TimerId / TTL vocabulary on the RocksDB state store. */
class StatefulV2Spec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDb[T](body: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, StatefulV2.RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  private var tableN = 0
  private def freshTable(): String = { tableN += 1; s"tws_out_$tableN" }

  private def startMemorySink(ds: org.apache.spark.sql.Dataset[_],
      table: String): StreamingQuery =
    ds.writeStream.format("memory").queryName(table).outputMode("append").start()

  /** Timer-driven queries run continuous no-data micro-batches (the
    * engine advances the processing-time clock), so processAllAvailable
    * never idles — poll the sink for the expected condition instead. */
  private def awaitSink(table: String, deadlineMs: Long = 30000L)(
      cond: => Boolean): Unit = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < deadlineMs)
      Thread.sleep(100)
    assert(cond, s"condition not reached within ${deadlineMs}ms on $table")
  }

  test("groupIntoBatchesTws emits size-capped batches per key") {
    withRocksDb {
      val mem = MemoryStream[(Long, String)]
      val batched = StatefulV2.groupIntoBatchesTws(mem.toDS(), maxSize = 2,
        flushTimeoutMs = -1L)
      val table = freshTable()
      val q = startMemorySink(batched, table)
      mem.addData((1L, "a"), (1L, "b"), (1L, "c"), (2L, "x"), (2L, "y"))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Seq[String])].collect().toSet
      // full batches emitted; remainder (1,"c") still buffered (no timer)
      assert(got == Set((1L, Seq("a", "b")), (2L, Seq("x", "y"))))
      q.stop()
    }
  }

  test("scd2Changes: streamed closed spans == batch Scd.history closed rows") {
    withRocksDb {
      // the continuous form of operators/Scd: replay the orders change
      // log in commit order ((ts, tie)-sorted waves); every span the
      // stream CLOSES must be exactly the batch build's is_current=0
      // rows — the open spans stay in ValueState
      val sf = "/root/testdata/sf0.001"
      val raw = graft.sources.Tables.orders(spark, sf)
        .select(col("o_custkey").cast("long"), col("o_orderpriority"),
          unix_timestamp(col("o_orderdate")).cast("long"),
          col("o_orderkey").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._3, t._4)).toIndexedSeq
      val mem = MemoryStream[(Long, String, Long, Long)]
      val table = freshTable()
      val q = startMemorySink(StatefulV2.scd2Changes(mem.toDS()), table)
      raw.grouped(math.max(1, raw.length / 4)).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val got = spark.table(table)
        .as[(Long, String, Long, Long)].collect().toSet
      val want = graft.operators.Scd.history(
          raw.toDF("k", "state", "vf", "okey"), "k", "state", "vf", "okey")
        .filter(col("is_current") === 0L)
        .select(col("k"), col("state"), col("vf"), col("valid_to"))
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == want && want.size > 500,
        s"streamed closed spans != batch: got=${got.size} want=${want.size}")
    }
  }

  test("groupIntoBatchesTws flush timer emits the remainder") {
    withRocksDb {
      val mem = MemoryStream[(Long, String)]
      val batched = StatefulV2.groupIntoBatchesTws(mem.toDS(), maxSize = 10,
        flushTimeoutMs = 300L)
      val table = freshTable()
      val q = startMemorySink(batched, table)
      mem.addData((1L, "a"), (1L, "b")) // buffers + arms the timer
      awaitSink(table) {
        spark.table(table).as[(Long, Seq[String])].collect()
          .contains((1L, Seq("a", "b")))
      }
      q.stop()
    }
  }

  test("orderedBySequence releases buffered out-of-sequence events in order") {
    withRocksDb {
      val mem = MemoryStream[(String, Long, String)]
      val table = freshTable()
      val q = startMemorySink(StatefulV2.orderedBySequence(mem.toDS()), table)
      def released(): Seq[Long] =
        spark.table(table).as[(String, Long, String)].collect().map(_._2).sorted.toSeq
      mem.addData(("k", 1L, "b"), ("k", 3L, "d")) // 0 missing: all buffered
      q.processAllAvailable()
      assert(released().isEmpty)
      mem.addData(("k", 0L, "a")) // unblocks 0,1 (3 still waits on 2)
      q.processAllAvailable()
      assert(released() == Seq(0L, 1L))
      mem.addData(("k", 2L, "c")) // unblocks 2,3
      q.processAllAvailable()
      q.stop()
      assert(spark.table(table).as[(String, Long, String)].collect().toSet ==
        Set(("k", 0L, "a"), ("k", 1L, "b"), ("k", 2L, "c"), ("k", 3L, "d")))
    }
  }

  test("orderedBySequence flushes a stale gapped key in order, then drops its duplicates") {
    withRocksDb {
      val mem = MemoryStream[(String, Long, String)]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.orderedBySequence(mem.toDS(), staleTimeoutMs = 2000L), table)
      def rows(): Seq[(String, Long, String)] =
        spark.table(table).as[(String, Long, String)].collect().toSeq
      // seq 1 never arrives: 0 releases at once, 3 and 2 wait on the gap
      mem.addData(("k", 0L, "a"), ("k", 3L, "d"), ("k", 2L, "c"))
      awaitSink(table)(rows().size == 3)
      // the idle timer flushed the waiting events in sequence order
      assert(rows() == Seq(("k", 0L, "a"), ("k", 2L, "c"), ("k", 3L, "d")))
      // within the tombstone's idle period (next = 4): a re-sent 3
      // drops, 4 releases
      mem.addData(("k", 3L, "dup"), ("k", 4L, "e"))
      awaitSink(table)(rows().size == 4)
      Thread.sleep(3000) // past another idle flush: nothing else may land
      q.stop()
      assert(rows() ==
        Seq(("k", 0L, "a"), ("k", 2L, "c"), ("k", 3L, "d"), ("k", 4L, "e")))
    }
  }

  test("groupIntoBatchesByWeight packs to the budget; oversize emits alone in order") {
    withRocksDb {
      // budget 10: [4,3,2] packs (9 <= 10); the 5 would overflow →
      // batch closes BEFORE it (never exceeds budget); the oversize 12
      // closes the open [5] first (arrival order), then emits alone;
      // the trailing [1,1] stays buffered (no timer)
      val mem = MemoryStream[(Long, Long)]
      val batched = StatefulV2.groupIntoBatchesByWeight(mem.toDS(),
        maxWeight = 10L, flushTimeoutMs = -1L)(identity)
      val table = freshTable()
      val q = startMemorySink(batched, table)
      mem.addData((1L, 4L), (1L, 3L), (1L, 2L), (1L, 5L), (1L, 12L),
        (1L, 1L), (1L, 1L))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Seq[Long])].collect().toSeq
      assert(got == Seq((1L, Seq(4L, 3L, 2L)), (1L, Seq(5L)),
        (1L, Seq(12L))), s"got $got")
      // a later arrival that overflows flushes the buffered remainder
      // accumulated across micro-batches (persisted tail + new rows)
      mem.addData((1L, 9L))
      q.processAllAvailable()
      val got2 = spark.table(table).as[(Long, Seq[Long])].collect().toSeq
      assert(got2.contains((1L, Seq(1L, 1L))), s"got2 $got2")
      q.stop()
    }
  }

  test("groupIntoBatchesByWeight: rows after an oversize-on-empty-buffer still persist") {
    withRocksDb {
      // regression (code review r13): an oversize element on an EMPTY
      // buffer flushes alone without materializing the persisted tail
      // (tail stays null) — the same batch's later rows then lived
      // only in pendingNew and the old persist branch dropped them
      val mem = MemoryStream[(Long, Long)]
      val batched = StatefulV2.groupIntoBatchesByWeight(mem.toDS(),
        maxWeight = 10L, flushTimeoutMs = -1L)(identity)
      val table = freshTable()
      val q = startMemorySink(batched, table)
      mem.addData((1L, 12L), (1L, 3L)) // oversize first, then a small row
      q.processAllAvailable()
      mem.addData((1L, 9L)) // overflows → must flush the surviving [3]
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Seq[Long])].collect().toSeq
      assert(got == Seq((1L, Seq(12L)), (1L, Seq(3L))), s"got $got")
      q.stop()
    }
  }

  test("groupIntoBatchesByWeight flush timer emits the weighted remainder") {
    withRocksDb {
      val mem = MemoryStream[(Long, Long)]
      val batched = StatefulV2.groupIntoBatchesByWeight(mem.toDS(),
        maxWeight = 100L, flushTimeoutMs = 300L)(identity)
      val table = freshTable()
      val q = startMemorySink(batched, table)
      mem.addData((1L, 7L), (1L, 8L)) // buffers + arms the timer
      awaitSink(table) {
        spark.table(table).as[(Long, Seq[Long])].collect()
          .contains((1L, Seq(7L, 8L)))
      }
      q.stop()
    }
  }

  test("processingTimePanes fires repeatedly: one pane per delay after first element") {
    withRocksDb {
      val mem = MemoryStream[(Long, String)]
      val panes = StatefulV2.compositeTriggerPanes(mem.toDS(), StatefulV2.AfterDelay(300L))
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, "a"), (1L, "b")) // first element anchors pane 0
      awaitSink(table) {
        spark.table(table).as[(Long, Long, Seq[String])].collect()
          .contains((1L, 0L, Seq("a", "b")))
      }
      // Repeatedly.forever: a fresh element after the firing anchors
      // pane 1 with only the new (discarding) contents
      mem.addData((1L, "c"))
      awaitSink(table) {
        spark.table(table).as[(Long, Long, Seq[String])].collect()
          .contains((1L, 1L, Seq("c")))
      }
      q.stop()
    }
  }

  test("processingTimePanes: Nexmark Q12 analog — per-user bid counts in wall-clock panes") {
    // Q12 (BoundedSideInputJoin sibling in the reference suite): how
    // many bids per bidder within fixed PROCESSING-time windows —
    // event time never consulted. Pane counts are the measure.
    withRocksDb {
      val mem = MemoryStream[(Long, Long)] // (bidder, auction)
      val panes = StatefulV2.compositeTriggerPanes(mem.toDS(), StatefulV2.AfterDelay(300L))
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((7L, 100L), (7L, 101L), (9L, 102L))
      awaitSink(table) {
        val got = spark.table(table).as[(Long, Long, Seq[Long])].collect()
        got.exists(p => p._1 == 7L && p._3.size == 2) &&
          got.exists(p => p._1 == 9L && p._3.size == 1)
      }
      q.stop()
    }
  }

  test("processingTimePanes accumulating panes carry the whole history") {
    withRocksDb {
      val mem = MemoryStream[(Long, String)]
      val panes = StatefulV2.compositeTriggerPanes(mem.toDS(),
        StatefulV2.AfterDelay(300L), accumulating = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, "a"))
      awaitSink(table) {
        spark.table(table).as[(Long, Long, Seq[String])].collect()
          .contains((1L, 0L, Seq("a")))
      }
      mem.addData((1L, "b"))
      awaitSink(table) {
        spark.table(table).as[(Long, Long, Seq[String])].collect()
          .contains((1L, 1L, Seq("a", "b")))
      }
      q.stop()
    }
  }

  test("compositeTriggerPanes AfterFirst(count, delay): a count pane mid-batch, then a delay pane") {
    withRocksDb {
      import StatefulV2.{AfterCount, AfterDelay, AfterFirst}
      val mem = MemoryStream[(Long, String)]
      val panes = StatefulV2.compositeTriggerPanes(mem.toDS(),
        AfterFirst(AfterCount(3), AfterDelay(300L)))
      val table = freshTable()
      val q = startMemorySink(panes, table)
      def got = spark.table(table).as[(Long, Long, Seq[String])].collect()
        .sortBy(_._2).toSeq
      // one batch of 5: the count condition fires pane 0 with 3 of them
      // on the element path (a delay pane would carry all 5), the delay
      // fires pane 1 with the other 2
      mem.addData((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"), (1L, "e"))
      awaitSink(table)(got.size >= 2)
      assert(got.map(p => (p._1, p._2, p._3.size)) == Seq((1L, 0L, 3), (1L, 1L, 2)),
        s"panes: $got")
      assert(got.flatMap(_._3).sorted == Seq("a", "b", "c", "d", "e"))
      // the tree reset with nothing new: no further pane
      Thread.sleep(1000)
      assert(got.size == 2, s"panes: $got")
      q.stop()
    }
  }

  test("compositeTriggerPanes AfterAll(count, delay): no pane under the count, then one pane") {
    withRocksDb {
      import StatefulV2.{AfterAll, AfterCount, AfterDelay}
      val mem = MemoryStream[(Long, String)]
      val panes = StatefulV2.compositeTriggerPanes(mem.toDS(),
        AfterAll(AfterCount(3), AfterDelay(300L)))
      val table = freshTable()
      val q = startMemorySink(panes, table)
      def got = spark.table(table).as[(Long, Long, Seq[String])].collect().toSeq
      // two elements: the delay passes, but the count is still under 3
      // (no processAllAvailable: a processing-time query never idles)
      mem.addData((1L, "a"), (1L, "b"))
      awaitSink(table)(q.recentProgress.map(_.numInputRows).sum >= 2)
      Thread.sleep(1000)
      assert(got.isEmpty, s"panes: $got")
      // the third element satisfies the count; the delay, anchored at the
      // first element, has long passed: one pane with all three
      mem.addData((1L, "c"))
      awaitSink(table)(got.nonEmpty)
      Thread.sleep(1000)
      assert(got == Seq((1L, 0L, Seq("a", "b", "c"))), s"panes: $got")
      q.stop()
    }
  }

  test("event-time timer fires when the watermark passes last event + gap") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      def t(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
      val flushed = graft.streaming.StatefulV2.eventTimeGapFlush(
        mem.toDS().withWatermark("_2", "0 seconds"), gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(flushed, table)
      mem.addData((1L, t(1), "a"), (1L, t(3), "b"))
      q.processAllAvailable()
      // watermark still at 00:03 — timer armed for 00:13, nothing out
      assert(spark.table(table).count() == 0)
      // sentinel on another key pushes the watermark past 00:13
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2")) // one more batch to deliver the firing
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Seq[String])].collect().toSet
      assert(got.contains((1L, Seq("a", "b"))), s"expected flush, got $got")
      q.stop()
    }
  }

  test("streaming MATCH_RECOGNIZE: NFA over watermark-closed groups") {
    // Beam's BeamMatchRel runs its NFA per key AND window; composing
    // eventTimeGapFlush (window close on watermark) with the NFA core
    // reproduces that on a stream: pattern (click)+ (purchase).
    withRocksDb {
      import graft.operators.MatchRecognize
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      def t(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
      val sessions = graft.streaming.StatefulV2.eventTimeGapFlush(
        mem.toDS().withWatermark("_2", "0 seconds"), gapMs = 10000L)
      val steps = Seq(
        MatchRecognize.Step[String]("C", _ == "click", 1, Int.MaxValue),
        MatchRecognize.Step[String]("P", _ == "purchase"))
      val matched = sessions.flatMap { case (user, evs) =>
        MatchRecognize.matchRows(user, evs.toIndexedSeq, steps) { m =>
          (user, m.matchSeq, m.captured("C").size.toLong)
        }
      }
      val table = freshTable()
      val q = startMemorySink(matched, table)
      mem.addData((1L, t(1), "click"), (1L, t(2), "click"),
        (1L, t(3), "purchase"), (1L, t(4), "view"),
        (1L, t(5), "click"), (1L, t(6), "purchase"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm")) // advance watermark → close the gap
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2")) // deliver the firing
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Long, Long)].collect().toSet
      assert(got.contains((1L, 1L, 2L)) && got.contains((1L, 2L, 1L)),
        s"expected two matches for user 1, got $got")
      q.stop()
    }
  }

  // ---- Trigger/pane semantics (Beam ReduceFnRunner scenarios, cf.
  // testing/TestStream.java:125-212) ----

  private def t(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")

  test("triggered windows: early firing every 2 elements, discarding, then on-time pane") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = false)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "c"))
      q.processAllAvailable()
      // early pane fired on the 2nd element, before any watermark motion
      mem.addData((9L, t(50), "wm")) // watermark past window end → on-time
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2")) // deliver the firing
      q.processAllAvailable()
      awaitSink(table) {
        spark.table(table).filter("_1 = 1").count() == 2
      }
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._5, p._6)).toSeq
      assert(got == Seq(
        (0L, "EARLY", false, Seq("a", "b")),
        (1L, "ON_TIME", true, Seq("c"))), s"got $got")
      q.stop()
    }
  }

  test("triggered windows: accumulating panes carry the whole window so far") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "c"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 2)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._6)).toSeq
      assert(got == Seq(
        (0L, "EARLY", Seq("a", "b")),
        (1L, "ON_TIME", Seq("a", "b", "c"))), s"got $got")
      q.stop()
    }
  }

  test("triggered windows: late element within allowed lateness fires a LATE pane") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // allowedLateness 5s ⇒ watermark delay 5s; window [10:00:00, 10:00:10)
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "5000 milliseconds"),
        windowMs = 10000L, allowedLatenessMs = 5000L,
        accumulating = false)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(3), "b"))
      q.processAllAvailable()
      // sentinel to 10:00:12 → spark wm 10:00:07 ≥ on-time expiry 10:00:05
      // (= window end − lateness): conceptual Beam watermark passed end
      mem.addData((9L, t(12), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(13), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 1)
      // late element at 10:00:09 — above spark wm (10:00:08 after the
      // second sentinel), within the window's lateness horizon → LATE
      mem.addData((1L, t(9), "late"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 2)
      // push past window end + lateness → GC (no further panes: the
      // late pane already flushed)
      mem.addData((9L, t(30), "wm3"))
      q.processAllAvailable()
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._6)).toSeq
      assert(got == Seq(
        (0L, "ON_TIME", Seq("a", "b")),
        (1L, "LATE", Seq("late"))), s"got $got")
      q.stop()
    }
  }

  test("triggered windows: composite AfterFirstOf trigger fires on the earlier condition") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // AfterFirst(count>=5, AfterAll(count>=2, count>=3)): the AfterAll
      // branch is satisfied at 3 elements — before the count>=5 branch
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L,
        early = StatefulV2.AfterFirst(
          StatefulV2.AfterCount(5),
          StatefulV2.AfterAll(StatefulV2.AfterCount(2),
            StatefulV2.AfterCount(3))))
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "c"),
        (1L, t(4), "d"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 2)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._6)).toSeq
      assert(got == Seq(
        (0L, "EARLY", Seq("a", "b", "c")),   // fired at 3 (AfterAll branch)
        (1L, "ON_TIME", Seq("d"))), s"got $got")
      q.stop()
    }
  }

  test("triggered windows: AfterEachOf runs children in sequence then finishes") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // AfterEach(count>=1, count>=3): pane after the 1st element, the
      // next after 3 MORE, then the sequence is exhausted — the 5th..7th
      // elements fire nothing; the watermark pane still closes the window
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, accumulating = true,
        early = StatefulV2.AfterEach(
          StatefulV2.AfterCount(1), StatefulV2.AfterCount(3)))
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "c"),
        (1L, t(4), "d"), (1L, t(5), "e"), (1L, t(6), "f"), (1L, t(7), "g"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 3)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._6)).toSeq
      assert(got == Seq(
        (0L, "EARLY", Seq("a")),                 // child 1: count>=1
        (1L, "EARLY", Seq("a", "b", "c", "d")),  // child 2: 3 more
        (2L, "ON_TIME", Seq("a", "b", "c", "d", "e", "f", "g"))),
        s"got $got")
      q.stop()
    }
  }

  test("triggered windows: OrFinallyOf fires as main until the until-condition, then stops") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // Repeatedly(count>=2).orFinally(count>=5): panes at elements 2
      // and 4 from the main trigger; the until-counter runs from window
      // start, so element 5 fires the FINAL early pane and finishes the
      // composite — elements 6..7 fire nothing before the watermark
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, accumulating = true,
        early = StatefulV2.OrFinally(
          StatefulV2.AfterCount(2), StatefulV2.AfterCount(5)))
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "c"),
        (1L, t(4), "d"), (1L, t(5), "e"), (1L, t(6), "f"), (1L, t(7), "g"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 4)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._6)).toSeq
      assert(got == Seq(
        (0L, "EARLY", Seq("a", "b")),                       // main at 2
        (1L, "EARLY", Seq("a", "b", "c", "d")),             // main at 4
        (2L, "EARLY", Seq("a", "b", "c", "d", "e")),        // finally at 5
        (3L, "ON_TIME", Seq("a", "b", "c", "d", "e", "f", "g"))),
        s"got $got")
      q.stop()
    }
  }

  test("triggered windows: two open windows fire independently") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // one batch feeds two windows of the same key: [0,10s) and [10,20s)
      mem.addData((1L, t(2), "w0-a"), (1L, t(12), "w1-a"), (1L, t(3), "w0-b"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 2)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._2)
        .map(p => (p._4, p._6)).toSeq
      assert(got == Seq(("ON_TIME", Seq("w0-a", "w0-b")),
        ("ON_TIME", Seq("w1-a"))), s"got $got")
      q.stop()
    }
  }

  test("triggered windows: out-of-order rows within one window come out in event-time order") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, early = StatefulV2.AfterCount(2), accumulating = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // arrival order c, a, b inside [0,10s): the early pane fires on
      // a, then b lands between them (one batch, so the watermark
      // drops none of them)
      mem.addData((1L, t(5), "c"), (1L, t(1), "a"), (1L, t(3), "b"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 2)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._6)).toSeq
      assert(got == Seq(
        (0L, "EARLY", Seq("a", "c")),
        (1L, "ON_TIME", Seq("a", "b", "c"))), s"got $got")
      q.stop()
    }
  }

  test("triggered SESSIONS: early pane before merge; merged panes continue the index and accumulate across the bridge") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredSessions(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        gapMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // session A = {a@1, b@2}: early pane fires on b (before any merge)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"))
      q.processAllAvailable()
      // d@20 opens session B and c@11 BRIDGES A and B (11-2 ≤ gap,
      // 20-11 ≤ gap) — same batch, so both clear the watermark (2s).
      // Merged state = counts sum (2 since A's firing → the early
      // trigger fires again), pane index continues from the furthest
      // part (A fired pane 0 → merged fires pane 1), buffer
      // accumulates both parts across the bridge
      mem.addData((1L, t(20), "d"), (1L, t(11), "c"))
      q.processAllAvailable()
      // watermark past merged end (20s + 10s gap); A's original 12s
      // timer fires as a stale no-op along the way
      mem.addData((9L, t(40), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(45), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 3)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._2, p._3, p._4, p._5, p._6)).toSeq
      val start = t(1).getTime
      assert(got == Seq(
        (start, 0L, "EARLY", false, Seq("a", "b")),
        (start, 1L, "EARLY", false, Seq("a", "b", "c", "d")),
        (start, 2L, "ON_TIME", true, Seq("a", "b", "c", "d"))), s"got $got")
      q.stop()
    }
  }

  test("triggered SESSIONS: LATE pane after the on-time firing, then silent GC") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // lateness 5s ⇒ watermark delay 5s; session {a@1, b@3}: end 13s,
      // on-time timer at 8s in Spark's domain
      val panes = StatefulV2.triggeredSessions(
        mem.toDS().withWatermark("_2", "5000 milliseconds"),
        gapMs = 10000L, allowedLatenessMs = 5000L,
        accumulating = false)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(3), "b"))
      q.processAllAvailable()
      mem.addData((9L, t(15), "wm")) // spark wm 10s ≥ 8s → ON_TIME
      q.processAllAvailable()
      mem.addData((9L, t(16), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 1)
      // late row @12 (above spark wm 11s, within gap of max 3) re-enters
      // the CLOSED-but-not-GC'd session → LATE pane, session extends
      mem.addData((1L, t(12), "late"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 2)
      // horizon passes the extended end (12+10=22s) → GC with nothing
      // unfired: no final pane
      mem.addData((9L, t(40), "wm3"))
      q.processAllAvailable()
      mem.addData((9L, t(45), "wm4"))
      q.processAllAvailable()
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._5, p._6)).toSeq
      assert(got == Seq(
        (0L, "ON_TIME", false, Seq("a", "b")),
        (1L, "LATE", false, Seq("late"))), s"got $got")
      q.stop()
    }
  }

  test("triggered SESSIONS: accumulating final panes == batch session_window contents (unification)") {
    withRocksDb {
      // shuffled multi-batch arrival over three sessions on two keys;
      // early firings every 2 elements are noise — the isFinal panes
      // must equal the BATCH session_window grouping of the same rows
      val rows = Seq(
        (1L, t(3), "a2"), (1L, t(1), "a1"), (1L, t(25), "b1"),
        (1L, t(27), "b2"), (1L, t(29), "b3"), (2L, t(5), "c1"),
        (2L, t(9), "c2"))
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // generous watermark delay so the shuffled cross-batch arrival
      // order never drops rows; lateness 0 → on-time pane IS final
      val panes = StatefulV2.triggeredSessions(
        mem.toDS().withWatermark("_2", "2 minutes"),
        gapMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      rows.grouped(3).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      q.processAllAvailable()
      val finals = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(p => p._1 != 9L && p._5)
        .map(p => (p._1, p._6.toList)).toSet
      val batch = rows.toDF("k", "ts", "v")
        .groupBy(col("k"), session_window(col("ts"), "10 seconds"))
        .agg(sort_array(collect_list(struct(col("ts"), col("v")))).as("vs"))
        .select(col("k"), col("vs.v"))
        .as[(Long, Seq[String])].collect()
        .map(p => (p._1, p._2.toList)).toSet
      assert(finals == batch, s"stream=$finals batch=$batch")
      q.stop()
    }
  }

  test("triggered SESSIONS: merge retracts each part's pane under its own window start") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // generous watermark delay keeps the bridging row above the
      // watermark (same device as the bridge spec below); lateness 0 →
      // the on-time pane is final
      val panes = StatefulV2.triggeredSessions(
        mem.toDS().withWatermark("_2", "2 minutes"),
        gapMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = true, retractions = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // sessions A = {a@1, b@2} and B = {d@20, e@21}: each fires an
      // EARLY pane 0 under its own window start
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"),
        (1L, t(20), "d"), (1L, t(21), "e"))
      q.processAllAvailable()
      // c@11 bridges: BOTH parts' last panes must be RETRACTED under
      // their own starts (the merge invalidated those per-window
      // results); the merged lineage starts clean — the next firing
      // (f@22, count 2 since merge) emits WITHOUT a retraction
      mem.addData((1L, t(11), "c"))
      q.processAllAvailable()
      mem.addData((1L, t(22), "f"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 7)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L)
        .map(p => (p._2, p._3, p._4, p._5, p._6)).toSet
      val sA = t(1).getTime; val sB = t(20).getTime
      val all = Seq("a", "b", "c", "d", "e", "f")
      assert(got == Set(
        (sA, 0L, "EARLY", false, Seq("a", "b")),
        (sB, 0L, "EARLY", false, Seq("d", "e")),
        (sA, 0L, "RETRACT", false, Seq("a", "b")),
        (sB, 0L, "RETRACT", false, Seq("d", "e")),
        (sA, 1L, "EARLY", false, all),
        (sA, 1L, "RETRACT", false, all),
        (sA, 2L, "ON_TIME", true, all)), s"got $got")
      q.stop()
    }
  }

  test("triggered SESSIONS: downward REKEY retracts the pane published under the old window start") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredSessions(
        mem.toDS().withWatermark("_2", "2 minutes"),
        gapMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = true, retractions = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // session {b@20, c@21} fires EARLY pane 0 under windowStart 20s
      mem.addData((1L, t(20), "b"), (1L, t(21), "c"))
      q.processAllAvailable()
      // a@15 grows the session DOWNWARD (within gap, below min): the
      // window identity changes 20s → 15s, so the pane published under
      // 20s must be RETRACTED — without it, downstream would keep the
      // stale 20s result and later see a RETRACT under 15s for a pane
      // that never existed
      mem.addData((1L, t(15), "a"))
      q.processAllAvailable()
      // d@16 → count 2 since the rekey → EARLY pane 1 under 15s
      mem.addData((1L, t(16), "d"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 5)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L)
        .map(p => (p._2, p._3, p._4, p._5, p._6)).toSet
      val oldS = t(20).getTime; val newS = t(15).getTime
      val all = Seq("a", "d", "b", "c")
      assert(got == Set(
        (oldS, 0L, "EARLY", false, Seq("b", "c")),
        (oldS, 0L, "RETRACT", false, Seq("b", "c")),
        (newS, 1L, "EARLY", false, all),
        (newS, 1L, "RETRACT", false, all),
        (newS, 2L, "ON_TIME", true, all)), s"got $got")
      q.stop()
    }
  }

  test("triggered SESSIONS: a session accumulating across many micro-batches (append-only log, O(batch) state writes)") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredSessions(
        mem.toDS().withWatermark("_2", "2 minutes"),
        gapMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(3),
        accumulating = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // ONE session fed a single row per micro-batch for 12 batches —
      // the shape whose per-batch cost was O(B·n) under the old
      // rewrite-the-buffer state layout and is O(batch) appends now
      (0 until 12).foreach { i =>
        mem.addData((1L, t(i), s"v$i")); q.processAllAvailable()
      }
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 5)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._2, p._3, p._4, p._5, p._6)).toSeq
      val start = t(0).getTime
      def pref(n: Int) = (0 until n).map(i => s"v$i")
      assert(got == Seq(
        (start, 0L, "EARLY", false, pref(3)),
        (start, 1L, "EARLY", false, pref(6)),
        (start, 2L, "EARLY", false, pref(9)),
        (start, 3L, "EARLY", false, pref(12)),
        (start, 4L, "ON_TIME", true, pref(12))), s"got $got")
      q.stop()
    }
  }

  test("triggered SESSIONS: discarding panes across many micro-batches (log garbage compaction keeps firing correct)") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredSessions(
        mem.toDS().withWatermark("_2", "2 minutes"),
        gapMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = false)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // every batch fires + clears its pane, so after each batch ALL
      // prior rows are garbage — the half-dead compaction threshold
      // trips repeatedly and must never resurrect a cleared row
      (0 until 10).foreach { i =>
        mem.addData((1L, t(2 * i), s"a$i"), (1L, t(2 * i + 1), s"b$i"))
        q.processAllAvailable()
      }
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 11)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L).sortBy(_._3)
        .map(p => (p._3, p._4, p._5, p._6)).toSeq
      val expected = (0 until 10).map { i =>
        (i.toLong, "EARLY", false, Seq(s"a$i", s"b$i"))
      } :+ ((10L, "ON_TIME", true, Seq.empty[String]))
      assert(got == expected, s"got $got")
      q.stop()
    }
  }

  test("triggered SESSIONS: lateness >= gap is rejected up front") {
    val err = intercept[IllegalArgumentException] {
      new StatefulV2.TriggeredSessionProcessor[Long, String, StatefulV2.Pane[Long, String]](
        StatefulV2.WindowFn.Sessions(1000L), allowedLatenessMs = 1000L,
        early = StatefulV2.Never,
        late = StatefulV2.AfterCount(1), accumulating = false)(
        Iterator.single)
    }
    assert(err.getMessage.contains("must be < gapMs"))
  }

  test("winningBid drops orphan bids after the orphan TTL (state GC)") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Boolean, Long, Double)]
      val won = StatefulV2.winningBid(
        mem.toDS().withWatermark("_2", "0 seconds"),
        durationMs = 10000L, orphanTtlMs = 5000L)
      val table = freshTable()
      val q = startMemorySink(won, table)
      // bids with no auction — the orphan horizon (bid ts + 5s) passes
      mem.addData((1L, t(1), false, 201L, 5.0))
      q.processAllAvailable()
      mem.addData((9L, t(20), true, 900L, 0.0)) // watermark past 00:06
      q.processAllAvailable()
      mem.addData((9L, t(21), false, 204L, 1.0))
      q.processAllAvailable()
      // auction for key 1 opens AFTER the orphan cleanup: the dropped
      // bid must not resurface as a winner
      mem.addData((1L, t(25), true, 901L, 0.0))
      q.processAllAvailable()
      mem.addData((9L, t(60), true, 902L, 0.0)) // close key 1's auction
      q.processAllAvailable()
      mem.addData((9L, t(65), false, 205L, 1.0))
      q.processAllAvailable()
      Thread.sleep(500)
      val got = spark.table(table).as[(Long, Long, Long, Double)]
        .collect().filter(_._1 == 1L).toSeq
      assert(got.isEmpty, s"orphan bid resurfaced: $got")
      q.stop()
    }
  }

  test("winningBid: a stale orphan timer spares bids buffered for the NEXT auction") {
    withRocksDb {
      // regression (r14 review): bid b1 arms an orphan timer; its
      // auction consumes it and closes BEFORE the timer fires; a new
      // orphan bid b2 buffers for the next auction. The stale timer
      // must drop only bids whose own horizon it covers — clearing the
      // whole buffer would lose b2 and emit the wrong winner.
      // 30s watermark delay keeps the out-of-order auction rows inside
      // the late filter while the stale horizon (b1.ts + 60s = 62s)
      // still passes before auction 2 arrives
      val mem = MemoryStream[(Long, java.sql.Timestamp, Boolean, Long, Double)]
      val won = StatefulV2.winningBid(
        mem.toDS().withWatermark("_2", "30 seconds"),
        durationMs = 3000L, orphanTtlMs = 60000L)
      val table = freshTable()
      val q = startMemorySink(won, table)
      // b1 buffers (orphan timer at 62s), then auction 1 [1s, 4s)
      // consumes it in the same batch — the timer is now STALE
      mem.addData((1L, t(2), false, 201L, 5.0), (1L, t(1), true, 901L, 0.0))
      q.processAllAvailable()
      mem.addData((9L, t(40), true, 900L, 0.0)) // wm → 10 ≥ 4: close A1
      q.processAllAvailable()
      mem.addData((9L, t(41), false, 1L, 0.0))
      q.processAllAvailable()
      // b2 buffers as an orphan for the NEXT auction (its own horizon
      // 132s; the stale timer's expiry 62s must not cover it)
      mem.addData((1L, t(72), false, 202L, 7.0))
      q.processAllAvailable()
      // wm → 65-66 ≥ 62: the stale orphan timer fires here
      mem.addData((9L, t(95), false, 2L, 0.0))
      q.processAllAvailable()
      mem.addData((9L, t(96), false, 3L, 0.0))
      q.processAllAvailable()
      // auction 2 [71s, 74s) opens within-watermark; b2 (72s) must
      // still be in the buffer to win it
      mem.addData((1L, t(71), true, 903L, 0.0))
      q.processAllAvailable()
      mem.addData((9L, t(105), false, 4L, 0.0)) // wm ≥ 74: close A2
      q.processAllAvailable()
      mem.addData((9L, t(106), false, 5L, 0.0))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Long, Long, Double)]
        .collect().filter(_._1 == 1L).toSeq.sortBy(_._2)
      assert(got == Seq((1L, 901L, 201L, 5.0), (1L, 903L, 202L, 7.0)),
        s"stale orphan timer dropped the next auction's bid: $got")
      q.stop()
    }
  }

  test("triggered windows: lateness >= window size is rejected up front") {
    // the on-time timer arms at windowEnd - lateness; lateness >= the
    // window would land it at/before the window start and mis-classify
    // on-time rows as EARLY — constructor rejects instead
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val err = intercept[IllegalArgumentException] {
      StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "10 seconds"),
        windowMs = 10000L, allowedLatenessMs = 10000L)
    }
    assert(err.getMessage.contains("allowedLatenessMs"))
  }

  test("triggered windows: a trigger tree holding AfterDelay is rejected when built") {
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val err = intercept[IllegalArgumentException] {
      StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"), windowMs = 10000L,
        early = StatefulV2.AfterFirst(StatefulV2.AfterCount(2),
          StatefulV2.AfterDelay(300L)))
    }
    assert(err.getMessage.contains("event-time clock"), err.getMessage)
  }

  test("each pane clock rejects the windows and trigger shapes it cannot run") {
    import StatefulV2._
    val onEventTime = intercept[IllegalArgumentException] {
      new TriggeredSessionProcessor[Long, String, Pane[Long, String]](
        WindowFn.Global, 0L, Never, AfterCount(1), accumulating = false)(
        Iterator.single)
    }
    assert(onEventTime.getMessage.contains("Global window never ends"))
    val onWallClock = intercept[IllegalArgumentException] {
      new MixedTriggerSessionProcessor[Long, String, Pane[Long, String]](
        WindowFn.Global, 0L, OrFinally(AfterCount(2), AfterCount(5)), Never,
        accumulating = false)(Iterator.single)
    }
    assert(onWallClock.getMessage.contains("event-time clock"))
  }

  test("triggered windows: retractions re-emit the previous pane before each firing") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.triggeredWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, allowedLatenessMs = 0L, early = StatefulV2.AfterCount(2),
        accumulating = true, retractions = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "c"))
      q.processAllAvailable()
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 3)
      val got = spark.table(table)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 == 1L)
        // chronological: pane N fires, then RETRACT(N) just before pane N+1
        .sortBy(p => if (p._4 == "RETRACT") p._3 + 0.5 else p._3.toDouble)
        .map(p => (p._3, p._4, p._6)).toSeq
      assert(got == Seq(
        (0L, "EARLY", Seq("a", "b")),
        (0L, "RETRACT", Seq("a", "b")),   // retract pane 0 before pane 1
        (1L, "ON_TIME", Seq("a", "b", "c"))), s"got $got")
      q.stop()
    }
  }

  // ---- Nexmark Q3/Q9 streaming analogs ----

  test("incrementalJoin buffers early auctions and flushes when the person arrives") {
    withRocksDb {
      val mem = MemoryStream[(Long, Option[String], Option[Long])]
      val joined = StatefulV2.incrementalJoin(mem.toDS())
      val table = freshTable()
      val q = startMemorySink(joined, table)
      // two auctions arrive BEFORE their person → buffer
      mem.addData((1L, None, Some(101L)), (1L, None, Some(102L)))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0)
      // person arrives → both flush; a later auction joins immediately
      mem.addData((1L, Some("alice"), None))
      q.processAllAvailable()
      mem.addData((1L, None, Some(103L)))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, String, Long)].collect().toSet
      assert(got == Set((1L, "alice", 101L), (1L, "alice", 102L),
        (1L, "alice", 103L)))
      q.stop()
    }
  }

  test("winningBid emits the highest bid at auction close (watermark)") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Boolean, Long, Double)]
      // 10s watermark delay so the auction row (earlier event time) can
      // still ARRIVE after its bids without being dropped as late
      val won = StatefulV2.winningBid(
        mem.toDS().withWatermark("_2", "10 seconds"), durationMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(won, table)
      // a bid arrives BEFORE its auction → buffers
      mem.addData((1L, t(8), false, 201L, 5.0))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0)
      // auction opens [10:00:05, 10:00:15): buffered bid replays
      // in-window; 9.0 wins over 5.0; 7.0 at 10:00:30 is out-of-window
      mem.addData((1L, t(5), true, 900L, 0.0),
        (1L, t(12), false, 202L, 9.0), (1L, t(30), false, 203L, 7.0))
      q.processAllAvailable()
      // sentinel key advances the watermark past close
      mem.addData((9L, t(40), true, 901L, 0.0))
      q.processAllAvailable()
      mem.addData((9L, t(45), false, 204L, 1.0))
      q.processAllAvailable()
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 1)
      val got = spark.table(table).as[(Long, Long, Long, Double)]
        .collect().filter(_._1 == 1L).toSeq
      assert(got == Seq((1L, 900L, 202L, 9.0)), s"got $got")
      q.stop()
    }
  }

  test("transformWithState state survives a query restart (checkpoint recovery)") {
    withRocksDb {
      // buffered (unflushed) state must come back after stop+restart —
      // the incremental-checkpoint fault-tolerance contract every
      // long-running 100 TB stream depends on
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-rec").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      def start() = StatefulV2.eventTimeGapFlush(
          mem.toDS().withWatermark("_2", "0 seconds"), gapMs = 10000L)
        .toDF("key", "vals")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((1L, t(1), "a"), (1L, t(3), "b"))
      q1.processAllAvailable()
      q1.stop() // "a","b" buffered in state, nothing emitted yet
      val q2 = start()
      mem.addData((9L, t(50), "wm")) // watermark past 00:13 → flush
      q2.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .as[(Long, Seq[String])].collect().toSet
      assert(got.contains((1L, Seq("a", "b"))),
        s"state lost across restart: $got")
      q2.stop()
    }
  }

  test("triggeredSessions: open sessions survive restart and flush via the restored timer chain") {
    withRocksDb {
      // the r11 single-timer-chain layout (nextTimer + sessions2 +
      // log): an open session's chain timer and log must both restore,
      // or the session strands after restart (lost-wakeup)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-rec2").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      def start() = StatefulV2.triggeredSessions(
          mem.toDS().withWatermark("_2", "0 seconds"), gapMs = 10000L)
        .toDF("key", "win", "pane", "timing", "isFinal", "vals")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((1L, t(1), "a"), (1L, t(3), "b"), (2L, t(2), "x"))
      q1.processAllAvailable()
      q1.stop() // both keys hold open sessions; nothing emitted yet
      val q2 = start()
      mem.addData((9L, t(50), "wm")) // watermark past both session ends
      q2.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 != 9L)
      assert(got.exists(p => p._1 == 1L && p._4 == "ON_TIME" && p._5 &&
        p._6 == Seq("a", "b")),
        s"key 1's session lost or mis-flushed across restart: ${got.toSeq}")
      assert(got.exists(p => p._1 == 2L && p._4 == "ON_TIME" &&
        p._6 == Seq("x")),
        s"key 2's session lost across restart: ${got.toSeq}")
      q2.stop()
    }
  }

  test("triggeredWindows: open windows survive restart and fire via the restored timer chain") {
    withRocksDb {
      // fixed windows share the session-pane layout (packed meta +
      // append-only log + one timer chain per key): an open window's
      // rows and its chain timer must both restore
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-rec3").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      def start() = StatefulV2.triggeredWindows(
          mem.toDS().withWatermark("_2", "0 seconds"), windowMs = 10000L)
        .toDF("key", "win", "pane", "timing", "isFinal", "vals")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((1L, t(1), "a"), (1L, t(3), "b"), (1L, t(12), "c"),
        (2L, t(2), "x"))
      q1.processAllAvailable()
      q1.stop() // three windows open over two keys; nothing emitted yet
      val q2 = start()
      mem.addData((9L, t(50), "wm")) // watermark past every window end
      q2.processAllAvailable()
      mem.addData((9L, t(55), "wm2"))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .as[(Long, Long, Long, String, Boolean, Seq[String])]
        .collect().filter(_._1 != 9L)
        .map(p => (p._1, p._2 - t(0).getTime, p._4, p._5, p._6)).toSet
      assert(got == Set(
        (1L, 0L, "ON_TIME", true, Seq("a", "b")),
        (1L, 10000L, "ON_TIME", true, Seq("c")),
        (2L, 0L, "ON_TIME", true, Seq("x"))),
        s"windows lost or mis-flushed across restart: $got")
      q2.stop()
    }
  }

  test("scd2Changes: open span survives restart and closes on the next change") {
    withRocksDb {
      // the CDC contract across failure: a key's OPEN (state,
      // valid_from) span lives only in ValueState — after stop+restart
      // it must close with the ORIGINAL valid_from when the next
      // change arrives, or history silently loses a span boundary
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-rec3").toString
      val mem = MemoryStream[(Long, String, Long, Long)]
      def start() = StatefulV2.scd2Changes(mem.toDS())
        .toDF("k", "state", "valid_from", "valid_to")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((1L, "A", 100L, 1L), (1L, "A", 200L, 2L)) // absorbed dup
      q1.processAllAvailable()
      q1.stop() // open span (A, 100) in state, nothing emitted
      val q2 = start()
      mem.addData((1L, "B", 300L, 3L)) // closes A; opens B
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == Set((1L, "A", 100L, 300L)),
        s"open span lost or re-based across restart: $got")
      q2.stop()
    }
  }

  test("dedupWithTtl drops repeated ids per key within the horizon") {
    withRocksDb {
      val mem = MemoryStream[(Long, Long, String)]
      val deduped = StatefulV2.dedupWithTtl(mem.toDS(),
        java.time.Duration.ofHours(1))
      val table = freshTable()
      val q = startMemorySink(deduped, table)
      mem.addData((1L, 10L, "first"), (1L, 10L, "dup-same-batch"), (2L, 10L, "other-key"))
      awaitSink(table)(spark.table(table).count() == 2)
      mem.addData((1L, 10L, "dup-next-batch"), (1L, 11L, "new-id"))
      awaitSink(table)(spark.table(table).count() == 3)
      // settle one more poll interval: a late duplicate emission would
      // push the count past 3
      Thread.sleep(500)
      val got = spark.table(table).as[(Long, Long, String)].collect().toSet
      assert(got == Set((1L, 10L, "first"), (2L, 10L, "other-key"),
        (1L, 11L, "new-id")))
      q.stop()
    }
  }

  // ===== mixed time-mode triggers: wall-clock early/late firings
  // INSIDE event-time windows (AfterWatermark.pastEndOfWindow()
  //   .withEarlyFirings(AfterProcessingTime.pastFirstElementInPane()))
  // — the processor runs in TimeMode.ProcessingTime and reads the
  // propagated event-time watermark for on-time/close transitions.

  type MixedPane = (Long, Long, Long, String, Boolean, Seq[String])
  private def panesOf(table: String, key: Long): Seq[(Long, String, Boolean, Seq[String])] =
    spark.table(table).as[MixedPane].collect().filter(_._1 == key)
      .sortBy(_._3).map(p => (p._3, p._4, p._5, p._6)).toSeq

  test("mixed triggers: wall-clock EARLY panes fire while the event-time window stays open") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.mixedTriggerWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 3600000L, earlyDelayMs = 300L, lateDelayMs = 300L)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // the watermark NEVER reaches the 1-hour window end in this test:
      // every pane below is wall-clock-triggered
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "EARLY", false, Seq("a", "b"))))
      // pastFirstElementInPane re-anchors: the next element opens pane 1
      mem.addData((1L, t(3), "c"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "EARLY", false, Seq("a", "b")),
            (1L, "EARLY", false, Seq("c"))))
      q.stop()
    }
  }

  test("mixed triggers: ON_TIME at the watermark, then a wall-clock LATE pane") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // early delay far beyond the test horizon ⇒ no early panes; the
      // on-time firing is watermark-driven, the late pane wall-clock
      val panes = StatefulV2.mixedTriggerWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, allowedLatenessMs = 30000L,
        earlyDelayMs = 600000L, lateDelayMs = 300L)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"))
      mem.addData((9L, t(25), "wm")) // watermark → 25s > window end 10s
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "ON_TIME", false, Seq("a", "b"))))
      // late element within the 30s lateness horizon: fires 300ms of
      // wall time after arrival, tagged LATE
      mem.addData((1L, t(5), "l"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "ON_TIME", false, Seq("a", "b")),
            (1L, "LATE", false, Seq("l"))))
      q.stop()
    }
  }

  test("mixed triggers: retractions re-emit the prior pane before each wall-clock firing") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val panes = StatefulV2.mixedTriggerWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 3600000L, earlyDelayMs = 300L, lateDelayMs = 300L,
        accumulating = true, retractions = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "EARLY", false, Seq("a"))))
      // second pane: RETRACT pane 0's contents, then the accumulated pane
      mem.addData((1L, t(2), "b"))
      awaitSink(table) {
        val got = spark.table(table).as[MixedPane].collect()
          .filter(_._1 == 1L).sortBy(p => (p._3, p._4)).map(p => (p._3, p._4, p._6)).toSeq
        got == Seq((0L, "EARLY", Seq("a")), (0L, "RETRACT", Seq("a")),
          (1L, "EARLY", Seq("a", "b")))
      }
      q.stop()
    }
  }

  test("mixed triggers: window close flushes the unfired remainder as a final pane; beyond-lateness rows drop") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // both wall-clock delays beyond the horizon ⇒ only watermark-
      // driven panes; accumulating mode carries the window history
      val panes = StatefulV2.mixedTriggerWindows(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        windowMs = 10000L, allowedLatenessMs = 30000L,
        earlyDelayMs = 600000L, lateDelayMs = 600000L,
        accumulating = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"))
      mem.addData((9L, t(25), "wm"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "ON_TIME", false, Seq("a", "b"))))
      mem.addData((1L, t(5), "l")) // buffered late (late delay far out)
      mem.addData((9L, t(55), "wm2")) // watermark 55s ≥ 10s + 30s: close
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "ON_TIME", false, Seq("a", "b")),
            (1L, "LATE", true, Seq("a", "b", "l"))))
      // the window is GC'd: a row for it is now beyond lateness → drop
      mem.addData((1L, t(6), "dead"))
      Thread.sleep(700)
      assert(panesOf(table, 1L).size == 2, "dropped row must not re-open the window")
      q.stop()
    }
  }

  test("mixed-trigger SESSIONS: wall-clock EARLY panes while the session stays open") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // gap 1 hour, watermark never reaches the session end — every
      // pane is wall-clock-triggered inside the open merging window
      val panes = StatefulV2.mixedTriggerSessions(
        mem.toDS().withWatermark("_2", "0 milliseconds"),
        gapMs = 3600000L, earlyDelayMs = 300L, lateDelayMs = 300L)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "EARLY", false, Seq("a", "b"))))
      // pastFirstElementInPane re-anchors on the next element
      mem.addData((1L, t(3), "c"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "EARLY", false, Seq("a", "b")),
            (1L, "EARLY", false, Seq("c"))))
      q.stop()
    }
  }

  test("mixed-trigger SESSIONS: merge retracts both parts, then on-time closes the merged session") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // generous watermark delay keeps the bridge row alive and the
      // on-time transition in OUR hands until the sentinels
      val panes = StatefulV2.mixedTriggerSessions(
        mem.toDS().withWatermark("_2", "2 minutes"),
        gapMs = 10000L, earlyDelayMs = 300L, lateDelayMs = 300L,
        accumulating = true, retractions = true)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      // sessions A = {a@1, b@2}, B = {d@20, e@21}: each fires a
      // wall-clock EARLY pane under its own start
      mem.addData((1L, t(1), "a"), (1L, t(2), "b"),
        (1L, t(20), "d"), (1L, t(21), "e"))
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 2)
      // c@11 bridges: both parts retract under their own starts; the
      // merged pane (count 1 since merge) fires 300ms later
      mem.addData((1L, t(11), "c"))
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 5)
      // watermark past the merged end (21s + 10s) → ON_TIME retracts
      // the merged pane and closes (lateness 0). NOTE: timer-driven
      // no-data batches keep this query permanently busy, so
      // processAllAvailable would hang — the continuous batches pick
      // the sentinels up on their own; poll the sink instead.
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      awaitSink(table)(spark.table(table).filter("_1 = 1").count() == 7)
      val got = spark.table(table).as[MixedPane].collect()
        .filter(_._1 == 1L).map(p => (p._2, p._3, p._4, p._5, p._6)).toSet
      val sA = t(1).getTime; val sB = t(20).getTime
      val all = Seq("a", "b", "c", "d", "e")
      assert(got == Set(
        (sA, 0L, "EARLY", false, Seq("a", "b")),
        (sB, 0L, "EARLY", false, Seq("d", "e")),
        (sA, 0L, "RETRACT", false, Seq("a", "b")),
        (sB, 0L, "RETRACT", false, Seq("d", "e")),
        (sA, 1L, "EARLY", false, all),
        (sA, 1L, "RETRACT", false, all),
        (sA, 2L, "ON_TIME", true, all)), s"got $got")
      q.stop()
    }
  }

  test("mixed-trigger SESSIONS: Beam's window-end drop rule — a below-watermark row re-enters its live session") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      // lateness drops happen by PROTO-WINDOW end (ts + gap +
      // lateness < wm), Beam's exact rule — an element whose ts is
      // below the watermark but whose window is unexpired is KEPT
      val panes = StatefulV2.mixedTriggerSessions(
        mem.toDS().withWatermark("_2", "5 seconds"),
        gapMs = 10000L, allowedLatenessMs = 5000L,
        earlyDelayMs = 600000L, lateDelayMs = 300L)
      val table = freshTable()
      val q = startMemorySink(panes, table)
      mem.addData((1L, t(1), "a"), (1L, t(3), "b")) // session end 13s
      mem.addData((9L, t(20), "wm")) // wm → 15s ≥ 13s: on-time
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "ON_TIME", false, Seq("a", "b"))))
      // c@12: BELOW the watermark (15s) but 12+10+5 = 27s > wm → kept,
      // re-enters the session (12-3 ≤ gap), fires a wall-clock LATE
      // pane; the session end moves to 22s
      mem.addData((1L, t(12), "late"))
      awaitSink(table)(panesOf(table, 1L) ==
        Seq((0L, "ON_TIME", false, Seq("a", "b")),
            (1L, "LATE", false, Seq("late"))))
      // horizon passes the EXTENDED end (22s + 5s) → silent GC
      // (no processAllAvailable: timer batches keep the query busy)
      mem.addData((9L, t(50), "wm2"))
      Thread.sleep(1500)
      assert(panesOf(table, 1L).size == 2, panesOf(table, 1L).toString)
      q.stop()
    }
  }

  test("temporalJoin resolves events against the version in effect at event time") {
    withRocksDb {
      val events = MemoryStream[(Long, java.sql.Timestamp, String)]
      val versions = MemoryStream[(Long, java.sql.Timestamp, String)]
      val joined = StatefulV2.temporalJoin(events.toDS(), versions.toDS(), "1 second")
      val table = freshTable()
      val q = startMemorySink(joined, table)
      def ts(m: Long) = new java.sql.Timestamp(m)

      // batch 1: version v1@1000; events e1@1500 and e2@500 (e2's
      // version hasn't arrived yet)
      versions.addData((1L, ts(1000), "v1"))
      events.addData((1L, ts(1500), "e1"), (1L, ts(500), "e2"))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0,
        "nothing resolves before the watermark passes the events")

      // batch 2: v0@400 arrives AFTER e2 but BEFORE the watermark
      // passes 500 — buffering means e2 still sees it (the case a
      // naive current-state lookup join gets wrong)
      versions.addData((1L, ts(400), "v0"))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0)

      // advance BOTH watermarks past the events; timers fire
      versions.addData((2L, ts(100000), "zz"))
      events.addData((2L, ts(100000), "adv"))
      q.processAllAvailable()
      awaitSink(table) {
        spark.table(table).count() >= 2
      }
      val got = spark.table(table)
        .as[(Long, java.sql.Timestamp, String, Option[String])]
        .collect().filter(_._1 == 1L)
        .map { case (k, t, v, r) => (k, t.getTime, v, r) }.sortBy(_._2).toSeq
      assert(got == Seq(
        (1L, 500L, "e2", Some("v0")),   // floor(500) = v0@400
        (1L, 1500L, "e1", Some("v1")))) // floor(1500) = v1@1000
      q.stop()
    }
  }

  test("temporalJoin agrees with the batch as-of join on identical inputs (unified model)") {
    // Beam's core promise: one semantics, two execution modes. The
    // same (key, ts) data through Joins.asOfJoin (batch, union-trick
    // window) and StatefulV2.temporalJoin (streaming, state+timers)
    // must land on identical results.
    withRocksDb {
      val evData = Seq(
        (1L, 500L, "e1"), (1L, 1500L, "e2"), (1L, 999L, "e3"),
        (2L, 100L, "e4"), // before any key-2 version → no match
        (2L, 2000L, "e5"), (3L, 700L, "e6"))
      val verData = Seq(
        (1L, 400L, "v1a"), (1L, 1000L, "v1b"),
        (2L, 150L, "v2a"), (3L, 700L, "v3a")) // equal ts: version wins

      // batch
      val left = spark.createDataFrame(evData).toDF("k", "ts", "v")
      val right = spark.createDataFrame(verData).toDF("k", "ts", "rv")
      val batch = graft.operators.Joins
        .asOfJoin(left, right, "k", "ts", Seq("v"), Seq("rv"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3)))).toSet

      // streaming: out-of-order delivery across two micro-batches
      val events = MemoryStream[(Long, java.sql.Timestamp, String)]
      val versions = MemoryStream[(Long, java.sql.Timestamp, String)]
      val joined = StatefulV2.temporalJoin(events.toDS(), versions.toDS(), "1 second")
      val table = freshTable()
      val q = startMemorySink(joined, table)
      def ts(m: Long) = new java.sql.Timestamp(m)
      versions.addData(verData.drop(2).map { case (k, t, r) => (k, ts(t), r) }: _*)
      events.addData(evData.take(3).map { case (k, t, v) => (k, ts(t), v) }: _*)
      q.processAllAvailable()
      versions.addData(verData.take(2).map { case (k, t, r) => (k, ts(t), r) }: _*)
      events.addData(evData.drop(3).map { case (k, t, v) => (k, ts(t), v) }: _*)
      q.processAllAvailable()
      versions.addData((99L, ts(1000000L), "wm"))
      events.addData((99L, ts(1000000L), "wm"))
      q.processAllAvailable()
      awaitSink(table) {
        spark.table(table).count() >= evData.size
      }
      val stream = spark.table(table)
        .as[(Long, java.sql.Timestamp, String, Option[String])]
        .collect().filter(_._1 != 99L)
        .map { case (k, t, v, r) => (k, t.getTime, v, r) }.toSet
      assert(stream == batch,
        s"stream ${stream.toSeq.sortBy(x => (x._1, x._2))} vs " +
          s"batch ${batch.toSeq.sortBy(x => (x._1, x._2))}")
      q.stop()
    }
  }

  test("temporalJoin survives the watermark landing exactly on the pending event ts") {
    // The engine deletes a fired timer after handleExpiredTimer; if the
    // watermark stops exactly AT the earliest pending ts (fires the
    // timer but resolves nothing — ts == wm could still gain a version
    // at wm), the processor must register a FRESH timer or the key
    // stalls forever. Regression guard for exactly that bug.
    withRocksDb {
      val events = MemoryStream[(Long, java.sql.Timestamp, String)]
      val versions = MemoryStream[(Long, java.sql.Timestamp, String)]
      val joined = StatefulV2.temporalJoin(events.toDS(), versions.toDS(), "1 second")
      val table = freshTable()
      val q = startMemorySink(joined, table)
      def ts(m: Long) = new java.sql.Timestamp(m)
      versions.addData((1L, ts(1500), "v"))
      events.addData((1L, ts(2000), "e"))
      q.processAllAvailable()
      // watermark lands EXACTLY on 2000 (3000 - 1s delay): timer fires,
      // nothing resolves, timer must re-arm
      versions.addData((9L, ts(3000), "wm"))
      events.addData((9L, ts(3000), "wm"))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0)
      // now push past it — the event must come out
      versions.addData((9L, ts(5000), "wm2"))
      events.addData((9L, ts(5000), "wm2"))
      q.processAllAvailable()
      awaitSink(table) {
        spark.table(table)
          .as[(Long, java.sql.Timestamp, String, Option[String])]
          .collect().exists(_._1 == 1L)
      }
      val got = spark.table(table)
        .as[(Long, java.sql.Timestamp, String, Option[String])]
        .collect().filter(_._1 == 1L).toSeq
      assert(got.map(r => (r._1, r._2.getTime, r._3, r._4)) ==
        Seq((1L, 2000L, "e", Some("v"))))
      q.stop()
    }
  }

  test("temporalJoin emits None when no version predates the event (left outer)") {
    withRocksDb {
      val events = MemoryStream[(Long, java.sql.Timestamp, String)]
      val versions = MemoryStream[(Long, java.sql.Timestamp, String)]
      val joined = StatefulV2.temporalJoin(events.toDS(), versions.toDS(), "1 second")
      val table = freshTable()
      val q = startMemorySink(joined, table)
      def ts(m: Long) = new java.sql.Timestamp(m)

      versions.addData((1L, ts(2000), "late-version"))
      events.addData((1L, ts(500), "early")) // only a LATER version exists
      q.processAllAvailable()
      versions.addData((2L, ts(50000), "zz"))
      events.addData((2L, ts(50000), "adv"))
      q.processAllAvailable()
      awaitSink(table) { spark.table(table).count() >= 1 }
      val got = spark.table(table)
        .as[(Long, java.sql.Timestamp, String, Option[String])]
        .collect().filter(_._1 == 1L).toSeq
      assert(got.map(r => (r._1, r._2.getTime, r._3, r._4)) ==
        Seq((1L, 500L, "early", None)))
      q.stop()
    }
  }

  // ---- streaming MATCH_RECOGNIZE through the SQL front door ----
  // Beam runs BeamMatchRel's NFA per key AND window on unbounded input
  // (extensions/sql/.../rel/BeamMatchRel.java:76); here the session IS
  // the window: MatchRecognizeSql.stream buffers per key, the watermark
  // closes the session at last-event+gap, and the identical compiled
  // clause runs on the closed session.

  private val FunnelClause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES MATCH_NUMBER() AS m, COUNT(C.*) AS n_clicks,
               LAST(P.value) AS amount
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (C+ P)
      DEFINE C AS C.etype = 'click', P AS P.etype = 'purchase'"""

  test("streaming MATCH_RECOGNIZE SQL: full clause on watermark-closed sessions") {
    withRocksDb {
      import graft.operators.MatchRecognizeSql
      val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val df = mem.toDF().toDF("user_id", "ts", "etype", "value")
      val out = MatchRecognizeSql.stream(df, FunnelClause,
        tsCol = "ts", delay = "0 seconds", gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(out, table)
      mem.addData((1L, t(1), "click", 0.0), (1L, t(2), "click", 0.0),
        (1L, t(3), "purchase", 42.0))
      q.processAllAvailable()
      // session still open (watermark at 00:03, timer armed for 00:13)
      assert(spark.table(table).count() == 0,
        "match emitted before the session closed")
      mem.addData((9L, t(50), "noise", 0.0)) // watermark past 00:13
      q.processAllAvailable()
      mem.addData((9L, t(55), "noise", 0.0)) // deliver the firing
      q.processAllAvailable()
      val got = spark.table(table)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == Set((1L, 1L, 2L, 42.0)), s"got $got")
      q.stop()
    }
  }

  test("streaming MATCH_RECOGNIZE SQL: matches never span a session gap") {
    withRocksDb {
      import graft.operators.MatchRecognizeSql
      val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val df = mem.toDF().toDF("user_id", "ts", "etype", "value")
      val out = MatchRecognizeSql.stream(df, FunnelClause,
        tsCol = "ts", delay = "0 seconds", gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(out, table)
      // click at 00:01, purchase at 00:20 — 19 s apart, gap is 10 s:
      // two sessions, each missing half the pattern. Batch over the
      // same rows WOULD match; the stream's session scoping must not.
      mem.addData((1L, t(1), "click", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t(20), "purchase", 9.0)) // also closes session 1
      q.processAllAvailable()
      mem.addData((9L, t(50), "noise", 0.0))
      q.processAllAvailable()
      mem.addData((9L, t(55), "noise", 0.0))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0,
        "a match illegally spanned the session gap")
      // sanity: batch over the union DOES match — proves the stream's
      // emptiness above is session scoping, not a broken matcher
      val batch = MatchRecognizeSql(
        Seq((1L, t(1), "click", 0.0), (1L, t(20), "purchase", 9.0))
          .toDF("user_id", "ts", "etype", "value"), FunnelClause)
      assert(batch.count() == 1)
      q.stop()
    }
  }

  test("streaming MATCH_RECOGNIZE SQL: round-8 clause features on closed sessions") {
    withRocksDb {
      // DEFINE running-aggregate cap + pattern exclusion + logical
      // offset navigation, all through the session-closing stream path
      // (the stream reuses the same compiled clause as batch — this
      // proves the composition end-to-end, not just compilation)
      import graft.operators.MatchRecognizeSql
      val clause = """
        PARTITION BY user_id
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS m, RUNNING COUNT(B.*) AS n_so_far,
                 LAST(B.value, 1) AS pen
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ({- A -} B+)
        DEFINE A AS A.etype = 'start',
          B AS B.etype = 'x' AND SUM(B.value) <= 100"""
      val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val df = mem.toDF().toDF("user_id", "ts", "etype", "value")
      val out = MatchRecognizeSql.stream(df, clause,
        tsCol = "ts", delay = "0 seconds", gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(out, table)
      // start, x=40, x=50, x=30: the cap (100) stops B at [40, 50];
      // the excluded 'start' anchor must not be emitted
      mem.addData((1L, t(1), "start", 0.0), (1L, t(2), "x", 40.0),
        (1L, t(3), "x", 50.0), (1L, t(4), "x", 30.0))
      q.processAllAvailable()
      mem.addData((9L, t(50), "noise", 0.0)) // close the session
      q.processAllAvailable()
      mem.addData((9L, t(55), "noise", 0.0)) // deliver the firing
      q.processAllAvailable()
      val got = spark.table(table)
        .select("value", "m", "n_so_far", "pen")
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toSet
      // two B rows emitted (anchor excluded), RUNNING count advances,
      // FINAL LAST(B.value, 1) = 40 on both
      assert(got == Set((40.0, 1L, 1L, 40.0), (50.0, 1L, 2L, 40.0)),
        got.toString)
      // batch over the same rows agrees (stream == batch)
      val batch = MatchRecognizeSql(
        Seq((1L, t(1), "start", 0.0), (1L, t(2), "x", 40.0),
          (1L, t(3), "x", 50.0), (1L, t(4), "x", 30.0))
          .toDF("user_id", "ts", "etype", "value"), clause)
        .select("value", "m", "n_so_far", "pen")
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toSet
      assert(batch == got, s"batch=$batch stream=$got")
      q.stop()
    }
  }

  test("session clustering: a late within-delay row BRIDGES two armed clusters") {
    withRocksDb {
      // events at 00:01 and 00:25 open two distinct sessions (gap 10 s,
      // cluster ends 00:11 and 00:35, one timer armed for each); late
      // but within-delay rows at 00:09 and 00:18 then CHAIN the two
      // clusters into one (1→9→18→25, every hop ≤ 10 s) — the flush
      // must emit ONE merged session, with the 00:11 timer firing as a
      // stale no-op
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val flushed = StatefulV2.eventTimeGapFlush(
        mem.toDS().withWatermark("_2", "2 minutes"), gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(flushed, table)
      mem.addData((1L, t(1), "a"), (1L, t(25), "c"))
      q.processAllAvailable() // two clusters armed: ends 11 and 35
      mem.addData((1L, t(9), "b1"), (1L, t(18), "b2")) // bridge chain
      q.processAllAvailable()
      // watermark (delay 2 min) still behind — nothing flushed yet
      assert(spark.table(table).count() == 0)
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Seq[String])].collect()
        .filter(_._1 == 1L).toSet
      // ONE merged session in event-time order — not the two the
      // original timers were armed for (stale timers fired as no-ops)
      assert(got == Set((1L, Seq("a", "b1", "b2", "c"))), s"got $got")
      q.stop()
    }
  }

  test("session clustering: multi-batch out-of-order growth, two sessions flush on one watermark jump") {
    withRocksDb {
      // drives the INCREMENTAL summary maintenance: rows for two
      // sessions ([1..5] and [40..43], gap 10 s) arrive shuffled
      // across four micro-batches — summaries must extend/merge
      // per-row without re-clustering the buffer, and ONE watermark
      // jump past both ends flushes BOTH sessions, each in event-time
      // order, split correctly at the inter-session gap
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val flushed = StatefulV2.eventTimeGapFlush(
        mem.toDS().withWatermark("_2", "2 minutes"), gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(flushed, table)
      mem.addData((1L, t(3), "s1c"), (1L, t(42), "s2c"))
      q.processAllAvailable()
      mem.addData((1L, t(40), "s2a"), (1L, t(1), "s1a"))
      q.processAllAvailable()
      mem.addData((1L, t(5), "s1d"), (1L, t(43), "s2d"))
      q.processAllAvailable()
      mem.addData((1L, t(2), "s1b"), (1L, t(41), "s2b"))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0) // watermark still behind
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm"))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2"))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Seq[String])].collect()
        .filter(_._1 == 1L).toSet
      assert(got == Set((1L, Seq("s1a", "s1b", "s1c", "s1d")),
        (1L, Seq("s2a", "s2b", "s2c", "s2d"))), s"got $got")
      q.stop()
    }
  }

  test("session clustering: flushed rows stay dead in the append-only log (no resurrection)") {
    withRocksDb {
      // r13 layout: a flush no longer rewrites the row log — flushed
      // rows die behind a (pos, cut) fence and compaction is DEFERRED
      // while dead < half the log. Here a 2-row session [1..3] closes
      // while a 5-row session [40..44] is still open (2*2 < 7 → the
      // fence path, not the compaction path), so the second flush
      // re-reads a log that still physically holds the first session's
      // rows — and must NOT resurrect them into the second session.
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val flushed = StatefulV2.eventTimeGapFlush(
        mem.toDS().withWatermark("_2", "0 seconds"), gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(flushed, table)
      mem.addData((1L, t(1), "a"), (1L, t(3), "b"), (1L, t(40), "v0"),
        (1L, t(41), "v1"), (1L, t(42), "v2"), (1L, t(43), "v3"),
        (1L, t(44), "v4"))
      q.processAllAvailable() // wm 44: session [1..3] due, [40..44] open
      mem.addData((9L, t(50), "wm"))
      q.processAllAvailable() // delivers the first firing (fence, no rewrite)
      mem.addData((9L, t(56), "wm2"))
      q.processAllAvailable() // wm 56 > 44+10: second session due
      mem.addData((9L, t(59), "wm3"))
      q.processAllAvailable() // delivers the second firing
      val got = spark.table(table).as[(Long, Seq[String])].collect()
        .filter(_._1 == 1L).toSeq
      assert(got.count(_ == ((1L, Seq("a", "b")))) == 1 &&
        got.count(_ == ((1L, Seq("v0", "v1", "v2", "v3", "v4")))) == 1 &&
        got.size == 2, s"got $got")
      q.stop()
    }
  }

  test("eventTimeGapFlush: random in-order replay == naive gap clustering (fences + compaction on the way)") {
    withRocksDb {
      // 600 random rows over 12 keys fed in event-time order across
      // 8 micro-batches with watermark 0: sessions close INCREMENTALLY
      // as the watermark advances (each flush fences dead rows, some
      // batches cross the half-dead compaction threshold), and the
      // total flushed output must equal the naive sort-and-split gap
      // clustering of everything fed — the end-to-end contract of the
      // r13 append-only-log layout under its normal operating regime
      val rnd = new scala.util.Random(20260815L)
      val gap = 10000L
      val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
      // DISTINCT timestamps: with watermark delay 0, an equal-ts pair
      // straddling a micro-batch boundary is dropped by Spark's
      // late-row filter (row ts <= previous batch's watermark) before
      // the processor ever sees it — engine semantics, not part of
      // the clustering contract under test
      val rows = rnd.shuffle((0 until 3000).toList).take(600).sorted
        .map(i => (1L + rnd.nextInt(12), base + i * 1000L,
          rnd.nextInt(1000000).toString)).toIndexedSeq
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val flushed = StatefulV2.eventTimeGapFlush(
        mem.toDS().withWatermark("_2", "0 seconds"), gapMs = gap)
      val table = freshTable()
      val q = startMemorySink(flushed, table)
      rows.grouped(75).foreach { g =>
        mem.addData(g.map(r => (r._1, new java.sql.Timestamp(r._2), r._3)): _*)
        q.processAllAvailable()
      }
      // two sentinel jumps PAST the sample-space max (base+2,999,000)
      // plus gap — with margin, so the test doesn't hinge on the
      // seed's max draw or on timers firing at expiry == watermark:
      // close every remaining session, then deliver the firings
      mem.addData((99L, new java.sql.Timestamp(base + 4000000L), "wm"))
      q.processAllAvailable()
      mem.addData((99L, new java.sql.Timestamp(base + 5000000L), "wm2"))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Seq[String])].collect()
        .filter(_._1 != 99L)
        .map { case (k, vs) => (k, vs.toList) }.toSeq
        .sortBy(t => (t._1, t._2.mkString(",")))
      // naive reference: per key, sort rows by (ts, arrival), split
      // wherever the next row starts more than gap past the running max
      val want = rows.zipWithIndex.groupBy(_._1._1).toSeq.flatMap {
        case (k, krs) =>
          val sorted = krs.sortBy { case ((_, ts, _), i) => (ts, i) }
          val sessions = scala.collection.mutable.ArrayBuffer(
            scala.collection.mutable.ArrayBuffer(sorted.head))
          var mx = sorted.head._1._2
          sorted.tail.foreach { e =>
            if (e._1._2 - mx > gap) sessions += scala.collection.mutable.ArrayBuffer(e)
            else sessions.last += e
            mx = math.max(mx, e._1._2)
          }
          sessions.map(s => (k, s.map(_._1._3).toList))
      }.sortBy(t => (t._1, t._2.mkString(",")))
      assert(got == want,
        s"mismatch: got ${got.size} sessions, want ${want.size}")
      q.stop()
    }
  }

  test("gap-flush state writes stay within ~3x of input rows (no rewrite amplification)") {
    withRocksDb {
      // the r11-r12 breakdowns flagged ~6x state rowsUpdated per input
      // event on the gap processors (per-batch sums rewrite + per-end
      // timer list + flush-time buffer rewrite); the r13 append-only
      // log + single packed meta put + one timer chain bounds it by
      // ~(1 log append/event + a few puts per key per batch). Guard it
      // with the same telemetry the bench breakdown reads.
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val flushed = StatefulV2.eventTimeGapFlush(
        mem.toDS().withWatermark("_2", "0 seconds"), gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(flushed, table)
      val keys = 20
      val batches = 5
      val perBatch = 10
      (0 until batches).foreach { b =>
        val rows = for (k <- 1 to keys; i <- 0 until perBatch)
          yield (k.toLong, t(b * perBatch + i), s"v$b$i")
        mem.addData(rows: _*)
        q.processAllAvailable()
      }
      mem.addData((999L, java.sql.Timestamp.valueOf("2026-01-01 11:00:00"), "wm"))
      q.processAllAvailable()
      mem.addData((999L, java.sql.Timestamp.valueOf("2026-01-01 11:05:00"), "wm2"))
      q.processAllAvailable()
      val n = keys * batches * perBatch
      assert(spark.table(table).count() >= keys) // every session flushed
      val updated = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsUpdated).sum
      assert(updated <= 3L * n,
        s"state write amplification: $updated rowsUpdated for $n input rows")
      q.stop()
    }
  }

  test("funnelSteps: streamed changelog converges to the batch chained window-mins") {
    withRocksDb {
      // replay the events table in event-time order (the CDC-ish
      // arrival contract) and check the max-rev snapshot per user
      // equals the batch agg_funnel_steps pre-aggregate (t1, t2, t3)
      // exactly — stream ≡ batch for the funnel operator
      import org.apache.spark.sql.functions._
      val sf = "/root/testdata/sf0.001"
      val h = 259200000000L // 72 h in µs
      val evDf = graft.sources.Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val expected = evDf
        .withColumn("t1",
          min(when(col("event_type") === "view", col("tus"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" &&
            col("tus") >= col("t1") && col("tus") <= col("t1") + h,
            col("tus"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" &&
            col("tus") >= col("t2") && col("tus") <= col("t2") + h,
            col("tus"))).over(w))
        .groupBy("user_id")
        .agg(coalesce(first("t1"), lit(-1L)).as("t1"),
          coalesce(first("t2"), lit(-1L)).as("t2"),
          coalesce(first("t3"), lit(-1L)).as("t3"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
        .filter { case (_, (t1, t2, t3)) => (t1, t2, t3) != ((-1L, -1L, -1L)) }
      val steps = evDf.collect().flatMap { r =>
        val step = r.getString(2) match {
          case "view" => 1; case "click" => 2; case "purchase" => 3
          case _ => 0
        }
        if (step == 0) None else Some((r.getLong(0), r.getLong(1), step))
      }.sortBy(e => (e._2, e._3)).toIndexedSeq // (ts, step): equal-ts
      // pairs feed earlier-step-first, matching the in-batch sort
      val mem = MemoryStream[(Long, Long, Int)]
      val table = freshTable()
      val q = startMemorySink(StatefulV2.funnelSteps(mem.toDS(), h), table)
      steps.grouped(math.max(1, steps.length / 4)).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val got = spark.table(table).as[(Long, Long, Long, Long, Long)]
        .collect()
        .groupBy(_._1)
        .map { case (k, snaps) =>
          val last = snaps.maxBy(_._2)
          k -> ((last._3, last._4, last._5))
        }
      assert(got == expected,
        s"stream/batch funnel mismatch: ${
          (got.toSet -- expected.toSet).take(3)} vs ${
          (expected.toSet -- got.toSet).take(3)}")
    }
  }

  test("funnelSteps + heavyHitters: state and rev continuity across a query restart") {
    withRocksDb {
      // the changelog contract (latest row per key = max rev) only
      // holds if rev NEVER resets — restore must continue both the
      // slots/counters and the rev counter from the checkpoint
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-f").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-rec-f").toString
      val mem = MemoryStream[(Long, Long, Int)]
      def start() = StatefulV2.funnelSteps(mem.toDS(), 100L)
        .toDF("k", "rev", "t1", "t2", "t3")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((1L, 10L, 1))
      q1.processAllAvailable()
      q1.stop() // rev 1 emitted, slots (10, -1, -1) checkpointed
      val q2 = start()
      mem.addData((1L, 20L, 2), (1L, 30L, 3))
      q2.processAllAvailable()
      q2.stop()
      val got = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 1L, 10L, -1L, -1L), (1L, 2L, 10L, 20L, 30L)),
        s"funnel restart drift: $got")

      val ckpt2 = java.nio.file.Files.createTempDirectory("graft-ckpt-h").toString
      val outDir2 = java.nio.file.Files.createTempDirectory("graft-rec-h").toString
      val mem2 = MemoryStream[(Long, Long, Long)]
      def start2() = StatefulV2.heavyHitters(mem2.toDS(), k = 4)
        .toDF("k", "rev", "n", "err", "top")
        .writeStream.format("parquet").option("path", outDir2)
        .option("checkpointLocation", ckpt2)
        .outputMode("append").start()
      val h1 = start2()
      mem2.addData((1L, 7L, 5L), (1L, 8L, 3L))
      h1.processAllAvailable()
      h1.stop()
      val h2 = start2()
      mem2.addData((1L, 7L, 2L))
      h2.processAllAvailable()
      h2.stop()
      val snaps = spark.read.parquet(outDir2)
        .as[(Long, Long, Long, Long, Seq[(Long, Long)])].collect()
      val last = snaps.maxBy(_._2)
      assert(snaps.map(_._2).sorted.toSeq == Seq(1L, 2L) &&
        last._3 == 10L && last._5.toMap == Map(7L -> 7L, 8L -> 3L),
        s"heavy-hitters restart drift: ${snaps.toSeq}")
    }
  }

  test("tdigestQuantiles: streamed snapshots stay within rank bound across folds") {
    withRocksDb {
      // skewed values over several micro-batches; the final (max-rev)
      // snapshot's q50/q95 must sit within ±2% rank of the exact
      // quantiles of everything fed — the same contract the batch
      // tdigest_agg test pins, now across incremental folds
      val rnd = new scala.util.Random(7L)
      val vals = IndexedSeq.fill(4000)(math.exp(rnd.nextDouble() * 5))
      val mem = MemoryStream[(Long, Double)]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.tdigestQuantiles(mem.toDS(), compression = 100.0,
          qs = Seq(0.5, 0.95)), table)
      vals.grouped(1000).foreach { g =>
        mem.addData(g.map((1L, _)): _*); q.processAllAvailable()
      }
      q.stop()
      val snaps = spark.table(table)
        .as[(Long, Long, Long, Seq[Double])].collect()
      assert(snaps.length == 4)
      val last = snaps.maxBy(_._2)
      assert(last._3 == 4000L)
      val sorted = vals.sorted
      def rankOf(x: Double): Double =
        sorted.count(_ <= x).toDouble / sorted.size
      val Seq(q50, q95) = last._4
      assert(math.abs(rankOf(q50) - 0.5) <= 0.02, s"q50=$q50 rank=${rankOf(q50)}")
      assert(math.abs(rankOf(q95) - 0.95) <= 0.02, s"q95=$q95 rank=${rankOf(q95)}")
    }
  }

  test("mergeShards: max srev per shard wins, stored shards re-merge, rev counts batches") {
    withRocksDb {
      // (shard, srev, payload) snapshots merged by a plain sum
      val mem = MemoryStream[(Long, Long, Long)]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.mergeShards(mem.toDS()) { (rev, xs: Seq[Long]) => (rev, xs.sum) },
        table)
      def got = spark.table(table).as[(Long, Long)].collect().sortBy(_._1).toSeq
      // shard 0's newer snapshot arrives last, shard 1's first: the
      // higher srev wins either way
      mem.addData((0L, 1L, 10L), (0L, 2L, 20L), (1L, 5L, 7L), (1L, 4L, 100L))
      q.processAllAvailable()
      assert(got == Seq((1L, 27L)))
      // a batch touching only shard 2 still merges the stored 0 and 1
      mem.addData((2L, 1L, 1000L))
      q.processAllAvailable()
      assert(got == Seq((1L, 27L), (2L, 1027L)))
      // an empty batch runs and emits nothing
      val lastBatch = q.lastProgress.batchId
      mem.addData(Seq.empty[(Long, Long, Long)]: _*)
      q.processAllAvailable()
      assert(q.lastProgress.batchId > lastBatch && q.lastProgress.numInputRows == 0)
      assert(got == Seq((1L, 27L), (2L, 1027L)))
      q.stop()
    }
  }

  test("tdigestQuantilesGlobal: sharded digest union stays within rank bound") {
    withRocksDb {
      // GLOBAL form: value-hash shards fold digests in parallel, a
      // one-key stage merges them; the merged read-out must keep the
      // same ±2%-rank contract vs the exact quantiles of the WHOLE
      // stream — t-digest mergeability across the shard split
      val rnd = new scala.util.Random(11L)
      val vals = IndexedSeq.fill(6000)(math.exp(rnd.nextDouble() * 5))
      val mem = MemoryStream[Double]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.tdigestQuantilesGlobal(mem.toDS(), compression = 100.0,
          qs = Seq(0.5, 0.95), shards = 8), table)
      vals.grouped(1500).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val snaps = spark.table(table).as[(Long, Long, Seq[Double])].collect()
      assert(snaps.nonEmpty, "global digest stage emitted nothing")
      val (_, n, qsOut) = snaps.maxBy(_._1)
      assert(n == 6000L, s"n=$n")
      val sorted = vals.sorted
      def rankOf(x: Double): Double =
        sorted.count(_ <= x).toDouble / sorted.size
      val Seq(q50, q95) = qsOut
      assert(math.abs(rankOf(q50) - 0.5) <= 0.02, s"q50=$q50 rank=${rankOf(q50)}")
      assert(math.abs(rankOf(q95) - 0.95) <= 0.02, s"q95=$q95 rank=${rankOf(q95)}")
    }
  }

  test("sampleFixedGlobal: exact uniform k-sample of the whole stream, replay-deterministic") {
    withRocksDb {
      // distinct values so membership/duplication is checkable; the
      // final snapshot must be k distinct input elements with
      // n = everything seen, and a bit-identical replay (same seed,
      // same batching) must produce the SAME sample — the determinism
      // contract the per-key reservoir keeps, preserved through the
      // hypergeometric merge (draws keyed on (seed, rev))
      val vals = (0L until 5000L).toIndexedSeq
      def run(): (Long, Seq[Long]) = {
        val mem = MemoryStream[Long]
        val table = freshTable()
        val q = startMemorySink(
          StatefulV2.sampleFixedGlobal(mem.toDS(), k = 50, seed = 42L,
            shards = 8), table)
        vals.grouped(1250).foreach { g =>
          mem.addData(g: _*); q.processAllAvailable()
        }
        q.stop()
        val (_, n, sample) = spark.table(table)
          .as[(Long, Long, Seq[Long])].collect().maxBy(_._1)
        (n, sample)
      }
      val (n1, s1) = run()
      assert(n1 == 5000L, s"n=$n1")
      assert(s1.size == 50 && s1.distinct.size == 50, s"sample: $s1")
      assert(s1.forall(v => v >= 0L && v < 5000L), s"foreign element: $s1")
      val (n2, s2) = run()
      assert(n2 == n1 && s2 == s1,
        s"replay non-determinism:\n s1=$s1\n s2=$s2")
      // under-full stream: everything returned
      val mem3 = MemoryStream[Long]
      val t3 = freshTable()
      val q3 = startMemorySink(
        StatefulV2.sampleFixedGlobal(mem3.toDS(), k = 50, seed = 1L,
          shards = 4), t3)
      mem3.addData(1L, 2L, 3L); q3.processAllAvailable(); q3.stop()
      val (_, n3, s3) = spark.table(t3)
        .as[(Long, Long, Seq[Long])].collect().maxBy(_._1)
      assert(n3 == 3L && s3.sorted == Seq(1L, 2L, 3L), s"under-full: $s3")
    }
  }

  test("topKGlobal: every snapshot == batch orderBy-limit of the replayed prefix; shard-independent") {
    withRocksDb {
      // EXACT contract (unlike the sketch globals): the k greatest
      // elements under a total order. After every fed chunk the latest
      // snapshot must equal the batch engine's orderBy(desc).limit(k)
      // over exactly the rows replayed so far, and the answer must not
      // depend on the shard count (top-k is mergeable under any
      // partition)
      val rnd = new scala.util.Random(23L)
      val vals = IndexedSeq.tabulate(4000)(i =>
        (math.floor(rnd.nextDouble() * 500), i.toLong)) // forced score ties
      implicit val ord: Ordering[(Double, Long)] =
        Ordering.by[(Double, Long), Double](_._1).orElseBy(_._2)
      val k = 25
      def batchTopK(prefix: Seq[(Double, Long)]): Seq[(Double, Long)] =
        prefix.toDF("v", "id")
          .orderBy(col("v").desc, col("id").desc).limit(k)
          .as[(Double, Long)].collect().toSeq
      def run(shards: Int): Seq[(Double, Long)] = {
        val mem = MemoryStream[(Double, Long)]
        val table = freshTable()
        val q = startMemorySink(
          StatefulV2.topKGlobal(mem.toDS(), k, shards = shards), table)
        var fed = 0
        vals.grouped(900).foreach { g =>
          mem.addData(g: _*); q.processAllAvailable()
          fed += g.size
          val (_, n, top) = spark.table(table)
            .as[(Long, Long, Seq[(Double, Long)])].collect().maxBy(_._1)
          assert(n == fed.toLong, s"n=$n after feeding $fed")
          assert(top == batchTopK(vals.take(fed)),
            s"snapshot at $fed rows != batch orderBy.limit($k)")
        }
        q.stop()
        spark.table(table).as[(Long, Long, Seq[(Double, Long)])]
          .collect().maxBy(_._1)._3
      }
      val top8 = run(8)
      assert(top8 == run(3), "top-k depends on shard count")
    }
  }

  test("topKPerKey: latest snapshot per key == per-key sort-take; under-full key keeps all") {
    withRocksDb {
      val rnd = new scala.util.Random(31L)
      val rows = IndexedSeq.tabulate(600)(i =>
          (1L + rnd.nextInt(4), (rnd.nextDouble(), i.toLong)))
        .appended((9L, (0.5, 999L))) // key with n=1 < k
      implicit val ord: Ordering[(Double, Long)] =
        Ordering.by[(Double, Long), Double](_._1).orElseBy(_._2)
      val k = 7
      val mem = MemoryStream[(Long, (Double, Long))]
      val table = freshTable()
      val q = startMemorySink(StatefulV2.topKPerKey(mem.toDS(), k), table)
      rows.grouped(150).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      q.stop()
      val got = spark.table(table)
        .as[(Long, Long, Long, Seq[(Double, Long)])].collect()
        .groupBy(_._1).map { case (kk, s) =>
          val last = s.maxBy(_._2); kk -> ((last._3, last._4.toList))
        }
      val want = rows.groupBy(_._1).map { case (kk, krs) =>
        kk -> ((krs.size.toLong,
          krs.map(_._2).sorted(ord.reverse).take(k).toList))
      }
      assert(got == want, s"per-key top-k drift:\n got=$got\nwant=$want")
      assert(got(9L) == ((1L, List((0.5, 999L)))))
    }
  }

  test("topKGlobal: both two-stage operators' state survives a query restart") {
    withRocksDb {
      // TWO chained transformWithState operators restoring from ONE
      // checkpoint: the per-shard k-heaps AND the merge stage's
      // shard-snapshot MapState + rev counter must all come back —
      // a lost heap under-ranks the post-restart snapshot, a reset
      // rev counter duplicates snapshot ids
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-topk").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-rec-topk").toString
      val rnd = new scala.util.Random(47L)
      val vals = IndexedSeq.tabulate(2000)(i =>
        (math.floor(rnd.nextDouble() * 300), i.toLong))
      implicit val ord: Ordering[(Double, Long)] =
        Ordering.by[(Double, Long), Double](_._1).orElseBy(_._2)
      val k = 10
      val mem = MemoryStream[(Double, Long)]
      def start() = StatefulV2.topKGlobal(mem.toDS(), k, shards = 4)
        .toDF("rev", "n", "top")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData(vals.take(1000): _*)
      q1.processAllAvailable()
      q1.stop()
      val q2 = start()
      mem.addData(vals.drop(1000): _*)
      q2.processAllAvailable()
      q2.stop()
      val snaps = spark.read.parquet(outDir)
        .as[(Long, Long, Seq[(Double, Long)])].collect()
      assert(snaps.map(_._1).sorted.toSeq == Seq(1L, 2L),
        s"rev counter lost/duplicated across restart: ${snaps.map(_._1).toSeq}")
      val (_, n, top) = snaps.maxBy(_._1)
      assert(n == 2000L, s"element count lost across restart: n=$n")
      assert(top == vals.sorted(ord.reverse).take(k),
        "post-restart top-k under-ranks: a shard heap failed to restore")
    }
  }

  test("sampleFixedPerKey: streamed reservoir == reference Algorithm R fold, exactly") {
    withRocksDb {
      // determinism contract: the reservoir is a pure function of
      // (seed, key, arrival order) — the streamed result across
      // arbitrary micro-batch splits must equal a reference fold of
      // the same draw sequence; keys with fewer than k items keep
      // everything in arrival order
      val rnd = new scala.util.Random(5L)
      val rows = IndexedSeq.tabulate(500)(i => (1L + rnd.nextInt(4), i.toLong))
        .appended((9L, 777L)) // a key with n=1 < k
      val k = 8
      val seed = 42L
      val mem = MemoryStream[(Long, Long)]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.sampleFixedPerKey(mem.toDS(), k, seed), table)
      rows.grouped(120).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val got = spark.table(table).as[(Long, Long, Long, Seq[Long])].collect()
        .groupBy(_._1).map { case (kk, s) =>
          val last = s.maxBy(_._2); kk -> ((last._3, last._4.toList))
        }
      val want = rows.groupBy(_._1).map { case (kk, krs) =>
        val kh = StatefulV2.keyDrawHash(kk)
        val buf = scala.collection.mutable.ArrayBuffer[Long]()
        var n = 0L
        krs.map(_._2).foreach { v =>
          if (n < k) buf += v
          else {
            val j = StatefulV2.reservoirDraw(seed, kh, n)
            if (j < k) buf(j.toInt) = v
          }
          n += 1
        }
        kk -> ((n, buf.toList))
      }
      assert(got == want, s"reservoir drift:\n got=$got\nwant=$want")
      assert(got(9L) == ((1L, List(777L)))) // under-full key keeps all
    }
  }

  test("approxDistinct: streamed HLL within rsd; emitted bytes compose with native hll_* SQL") {
    withRocksDb {
      // 3 keys × overlapping item ranges over several batches; the
      // final per-key estimate must sit within ~5% of exact, AND the
      // emitted sketch BYTES must be directly consumable by Spark's
      // native hll_sketch_estimate / hll_union_agg — streamed state
      // composing with batch SQL analytics (one sketch library)
      val rnd = new scala.util.Random(17L)
      val rows = IndexedSeq.fill(6000)(
        (1L + rnd.nextInt(3), "item" + rnd.nextInt(2000)))
      val exact = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val globalExact = rows.map(_._2).distinct.size
      val mem = MemoryStream[(Long, String)]
      val table = freshTable()
      val q = startMemorySink(StatefulV2.approxDistinct(mem.toDS(), lgK = 12),
        table)
      rows.grouped(1500).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val snaps = spark.table(table)
        .as[(Long, Long, Long, Long, Array[Byte])].collect()
      val latest = snaps.groupBy(_._1).map { case (_, s) => s.maxBy(_._2) }
      assert(latest.size == 3)
      latest.foreach { case (k, _, n, est, _) =>
        assert(n == rows.count(_._1 == k))
        assert(math.abs(est - exact(k)).toDouble / exact(k) <= 0.05,
          s"key $k est $est exact ${exact(k)}")
      }
      // native-function interop on the emitted rows
      import spark.implicits._
      latest.toSeq.map { case (k, rev, n, est, b) => (k, est, b) }
        .toDF("k", "est", "sk").createOrReplaceTempView("hll_snaps")
      val inter = spark.sql("""
        SELECT sum(CASE WHEN hll_sketch_estimate(sk) = est THEN 1 ELSE 0 END),
               hll_sketch_estimate(hll_union_agg(sk))
        FROM hll_snaps""").collect().head
      assert(inter.getLong(0) == 3, "native estimate disagrees with streamed estimate")
      assert(math.abs(inter.getLong(1) - globalExact).toDouble / globalExact <= 0.05,
        s"union estimate ${inter.getLong(1)} vs exact $globalExact")
    }
  }

  test("anomalyZScore: prequential flags after warm-up, none before") {
    withRocksDb {
      // 30 values ~ N-ish around 10 (warm-up), then an outlier at 100:
      // the outlier scores against the PRE-outlier stats (prequential)
      // and flags; the warm-up values themselves never emit, and a
      // second normal value after the outlier scores against stats
      // that now include it (no retroactive re-scoring)
      val warm = (1 to 30).map(i => (1L, 10.0 + (i % 5) - 2))
      val mem = MemoryStream[(Long, Double)]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.anomalyZScore(mem.toDS(), threshold = 2.5, minN = 30L),
        table)
      mem.addData(warm: _*)
      q.processAllAvailable()
      assert(spark.table(table).count() == 0) // warm-up: nothing flagged
      mem.addData((1L, 100.0), (1L, 10.0))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, Double, Double)].collect().toSeq
      // reference z from the exact warm-up stats
      val mean = warm.map(_._2).sum / warm.size
      val sd = math.sqrt(warm.map(x => math.pow(x._2 - mean, 2)).sum / (warm.size - 1))
      val zRef = (100.0 - mean) / sd
      assert(got.size == 1 && got.head._2 == 100.0 &&
        math.abs(got.head._3 - zRef) < 1e-9, s"got $got want z=$zRef")
      q.stop()
    }
  }

  test("heavyHitters: streamed Misra-Gries snapshots keep the deterministic bounds") {
    withRocksDb {
      // feed a skewed item stream across several micro-batches; the
      // final (max-rev) snapshot must satisfy est <= true <= est+err,
      // err <= n/(k+1), and contain every item with true count > err
      // — while state stays at <= k counters per key
      val rnd = new scala.util.Random(99L)
      val items = IndexedSeq.fill(600) {
        val it = math.min(29, (30 * math.pow(rnd.nextDouble(), 3)).toInt)
        (1L, it.toLong, 1L)
      }
      val exact = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val k = 8
      val mem = MemoryStream[(Long, Long, Long)]
      val table = freshTable()
      val q = startMemorySink(StatefulV2.heavyHitters(mem.toDS(), k), table)
      items.grouped(150).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val snaps = spark.table(table)
        .as[(Long, Long, Long, Long, Seq[(Long, Long)])].collect()
      assert(snaps.length == 4) // one snapshot per touched batch
      val last = snaps.maxBy(_._2)
      val (_, _, n, err, top) = last
      assert(n == 600L && err <= n / (k + 1) && top.size <= k)
      val est = top.toMap
      exact.foreach { case (x, t) =>
        val e = est.getOrElse(x, 0L)
        assert(e <= t && t <= e + err, s"item $x est $e true $t err $err")
        assert(t <= err || est.contains(x), s"heavy item $x missing")
      }
    }
  }

  test("heavyHittersGlobal: sharded two-stage merge keeps the deterministic bounds") {
    withRocksDb {
      // GLOBAL form (no user key): stage 1 shards BY ITEM, stage 2
      // merges the per-shard summaries under one key. Against exact
      // batch counts the final snapshot must keep est <= true <=
      // est + err for every reported item, err <= max over shards of
      // n_shard/(k+1), and COVER every item whose true count exceeds
      // err — across micro-batch splits, with 4 shards exercising the
      // disjoint-union merge path
      val rnd = new scala.util.Random(7L)
      val hot = (0 until 5).flatMap(h => Seq.fill(200)("hot" + h))
      val tail = IndexedSeq.fill(1000)("tail" + rnd.nextInt(400))
      val items = rnd.shuffle(hot ++ tail).map(i => (i, 1L)).toIndexedSeq
      val exact = items.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val k = 8
      val mem = MemoryStream[(String, Long)]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.heavyHittersGlobal(mem.toDS(), k, shards = 4), table)
      items.grouped(500).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val snaps = spark.table(table)
        .as[(Long, Long, Long, Seq[(String, Long)])].collect()
      assert(snaps.nonEmpty, "global merge stage emitted nothing")
      val (_, n, err, top) = snaps.maxBy(_._1)
      assert(n == items.size.toLong, s"n=$n")
      // full (untruncated) union: ≤ shards × k counters, est-descending
      assert(top.size <= 4 * k, s"union overflow: ${top.size}")
      assert(top.map(_._2) == top.map(_._2).sorted(Ordering[Long].reverse))
      // single published bound valid for every item (max shard err);
      // each shard saw <= n items, so err <= n/(k+1) grossly
      assert(err <= n / (k + 1), s"err=$err n=$n")
      val est = top.toMap
      est.foreach { case (x, e) =>
        val t = exact(x)
        assert(e <= t && t <= e + err, s"item $x est $e true $t err $err")
      }
      // coverage contract, asserted EXHAUSTIVELY: every item whose
      // true count exceeds the published err must be present (this is
      // why the union is not truncated to k)
      exact.foreach { case (x, t) =>
        assert(t <= err || est.contains(x),
          s"covered item $x (true=$t > err=$err) missing")
      }
    }
  }

  test("approxDistinctGlobal: sharded HLL union within rsd; bytes compose with native hll_*") {
    withRocksDb {
      val rnd = new scala.util.Random(23L)
      val items = IndexedSeq.fill(6000)("item" + rnd.nextInt(2000))
      val exact = items.distinct.size
      val mem = MemoryStream[String]
      val table = freshTable()
      val q = startMemorySink(
        StatefulV2.approxDistinctGlobal(mem.toDS(), lgK = 12, shards = 8),
        table)
      items.grouped(1500).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      q.stop()
      val snaps = spark.table(table)
        .as[(Long, Long, Long, Array[Byte])].collect()
      assert(snaps.nonEmpty, "global union stage emitted nothing")
      val (_, n, est, bytes) = snaps.maxBy(_._1)
      assert(n == items.size.toLong, s"n=$n")
      assert(math.abs(est - exact).toDouble / exact <= 0.05,
        s"est $est exact $exact")
      // the emitted union bytes are directly consumable by the native
      // hll_* SQL surface — same contract as the per-key form
      import spark.implicits._
      Seq((est, bytes)).toDF("est", "sk").createOrReplaceTempView("ghll")
      val native = spark.sql(
        "SELECT hll_sketch_estimate(sk) FROM ghll").collect().head.getLong(0)
      assert(native == est, s"native $native streamed $est")
    }
  }

  test("funnelSteps: a late lower t1 cascades — t2/t3 unset, then re-fill") {
    withRocksDb {
      // horizon 5: view@10, click@12 fills (10, 12, -1); a LATE view@1
      // lowers t1 and pushes t2=12 past 1+5 → snapshot (1, -1, -1);
      // click@4 then purchase@8 re-fill within the new windows
      val mem = MemoryStream[(Long, Long, Int)]
      val table = freshTable()
      val q = startMemorySink(StatefulV2.funnelSteps(mem.toDS(), 5L), table)
      mem.addData((7L, 10L, 1), (7L, 12L, 2))
      q.processAllAvailable()
      mem.addData((7L, 1L, 1))
      q.processAllAvailable()
      mem.addData((7L, 4L, 2), (7L, 8L, 3))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(table).as[(Long, Long, Long, Long, Long)]
        .collect().sortBy(_._2).toSeq
      assert(got == Seq((7L, 1L, 10L, 12L, -1L), (7L, 2L, 1L, -1L, -1L),
        (7L, 3L, 1L, 4L, 8L)), s"got $got")
    }
  }

  test("streaming MATCH_RECOGNIZE SQL over FIXED windows: matches confined per window") {
    withRocksDb {
      import graft.operators.MatchRecognizeSql
      val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val df = mem.toDF().toDF("user_id", "ts", "etype", "value")
      // 30-second tumbling windows
      val out = MatchRecognizeSql.streamWindowed(df, FunnelClause,
        tsCol = "ts", delay = "0 seconds", windowMs = 30000L)
      val table = freshTable()
      val q = startMemorySink(out, table)
      // window [10:00:00, 10:00:30): click+click+purchase → match;
      // boundary straddle: click at :29, purchase at :31 → NO match
      // (different windows); window [10:00:30, 10:01:00): click at :31?
      // no — purchase alone in w2 can't match C+ P
      mem.addData(
        (1L, t(1), "click", 0.0), (1L, t(2), "click", 0.0),
        (1L, t(3), "purchase", 11.0),
        (2L, t(29), "click", 0.0), (2L, t(31), "purchase", 99.0))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm", 0.0))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2", 0.0))
      q.processAllAvailable()
      val got = spark.table(table)
        .as[(Long, Long, Long, Double)].collect().toSet
      // only user 1's within-window funnel; user 2's straddle is dead
      assert(got == Set((1L, 1L, 2L, 11.0)), s"got $got")
      q.stop()
    }
  }

  test("streaming MATCH_RECOGNIZE SQL over SLIDING windows: one match per covering window") {
    withRocksDb {
      import graft.operators.MatchRecognizeSql
      val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val df = mem.toDF().toDF("user_id", "ts", "etype", "value")
      // 30 s windows sliding every 10 s: a funnel at 00:21..00:23 is
      // covered by windows starting 00:00, 00:10, 00:20 → Beam's
      // SlidingWindows semantics report it in EACH (3 matches)
      val out = MatchRecognizeSql.streamSliding(df, FunnelClause,
        tsCol = "ts", delay = "0 seconds", windowMs = 30000L,
        slideMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(out, table)
      mem.addData((1L, t(21), "click", 0.0), (1L, t(22), "click", 0.0),
        (1L, t(23), "purchase", 5.0))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "wm", 0.0))
      q.processAllAvailable()
      mem.addData((9L, java.sql.Timestamp.valueOf("2026-01-01 10:06:00"), "wm2", 0.0))
      q.processAllAvailable()
      val rows = spark.table(table)
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(rows.count(_ == ((1L, 1L, 2L, 5.0))) == 3, s"got $rows")
      assert(rows.size == 3)
      q.stop()
    }
  }

  test("streaming MATCH_RECOGNIZE SQL == batch clause per session (unification)") {
    withRocksDb {
      import graft.operators.MatchRecognizeSql
      // every user's events fit inside one gap → one session per user,
      // so the batch run over the same rows must produce the identical
      // result set (the as-of join unification argument, for the NFA)
      val rows = Seq(
        (1L, t(1), "click", 0.0), (1L, t(2), "click", 0.0),
        (1L, t(3), "purchase", 10.0), (1L, t(5), "click", 0.0),
        (1L, t(7), "purchase", 20.0), // second match, same session
        (2L, t(2), "click", 0.0), (2L, t(4), "purchase", 7.0),
        (3L, t(1), "purchase", 5.0), // no click first → no match
        (4L, t(3), "click", 0.0)) // no purchase → no match
      val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val df = mem.toDF().toDF("user_id", "ts", "etype", "value")
      val out = MatchRecognizeSql.stream(df, FunnelClause,
        tsCol = "ts", delay = "0 seconds", gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(out, table)
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((9L, t(50), "noise", 0.0))
      q.processAllAvailable()
      mem.addData((9L, t(55), "noise", 0.0))
      q.processAllAvailable()
      val streamed = spark.table(table)
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = MatchRecognizeSql(
        rows.toDF("user_id", "ts", "etype", "value"), FunnelClause)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch.nonEmpty)
      q.stop()
    }
  }

  test("streaming MATCH_RECOGNIZE SQL sorts a session as batch ORDER BY does: NULLs, LONGs above 2^53") {
    withRocksDb {
      import graft.operators.MatchRecognizeSql
      // one timestamp, so the secondary key `seq` orders the session:
      // NULL, 2^53 and 2^53 + 1 (equal as doubles). Spark sorts NULLS
      // FIRST ascending and NULLS LAST descending; each pattern matches
      // only in that order
      val big = 1L << 53
      val rows = Seq((1L, t(1), Option(big + 1), "c"), (1L, t(1), Option(big), "b"),
        (1L, t(1), Option.empty[Long], "a"))
      Seq("seq" -> "A B C", "seq DESC" -> "C B A").foreach { case (seqOrder, pattern) =>
        val clause = s"""
          PARTITION BY user_id
          ORDER BY ts, $seqOrder
          MEASURES COUNT(*) AS n
          ONE ROW PER MATCH
          PATTERN ($pattern)
          DEFINE A AS A.etype = 'a', B AS B.etype = 'b', C AS C.etype = 'c'"""
        val mem = MemoryStream[(Long, java.sql.Timestamp, Option[Long], String)]
        val df = mem.toDF().toDF("user_id", "ts", "seq", "etype")
        val out = MatchRecognizeSql.stream(df, clause,
          tsCol = "ts", delay = "0 seconds", gapMs = 10000L)
        val table = freshTable()
        val q = startMemorySink(out, table)
        mem.addData(rows: _*)
        q.processAllAvailable()
        mem.addData((9L, t(50), Option(0L), "noise"))
        q.processAllAvailable()
        mem.addData((9L, t(55), Option(0L), "noise"))
        q.processAllAvailable()
        val streamed = spark.table(table).as[(Long, Long)].collect().toSet
        q.stop()
        val batch = MatchRecognizeSql(rows.toDF("user_id", "ts", "seq", "etype"), clause)
          .as[(Long, Long)].collect().toSet
        assert(batch == Set((1L, 3L)), s"ORDER BY ts, $seqOrder: batch $batch")
        assert(streamed == batch, s"ORDER BY ts, $seqOrder: stream $streamed != batch $batch")
      }
    }
  }

  test("MATCH_RECOGNIZE DEFINE compares LONGs above 2^53 exactly, in apply and stream") {
    withRocksDb {
      import graft.operators.MatchRecognizeSql
      // 2^53 and 2^53 + 1 are equal as doubles; B.v > PREV(B.v) holds
      // for the second row only as LONGs
      val big = 1L << 53
      val rows = Seq((1L, t(1), big), (1L, t(2), big + 1))
      val clause = """
        PARTITION BY user_id
        ORDER BY ts
        MEASURES COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (A B)
        DEFINE B AS B.v > PREV(B.v)"""
      val batch = MatchRecognizeSql(rows.toDF("user_id", "ts", "v"), clause)
        .as[(Long, Long)].collect().toSeq
      assert(batch == Seq((1L, 2L)), s"apply: $batch")
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val out = MatchRecognizeSql.stream(mem.toDF().toDF("user_id", "ts", "v"),
        clause, tsCol = "ts", delay = "0 seconds", gapMs = 10000L)
      val table = freshTable()
      val q = startMemorySink(out, table)
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData((9L, t(50), 0L))
      q.processAllAvailable()
      mem.addData((9L, t(55), 0L))
      q.processAllAvailable()
      val streamed = spark.table(table).as[(Long, Long)].collect().toSeq
      q.stop()
      assert(streamed == Seq((1L, 2L)), s"stream: $streamed")
    }
  }

  // ===== r19: Multimap / OrderedList user-state KINDS (VERDICT r18
  // #6 — MultimapState.java:33, OrderedListState.java:28 as thin
  // encodings over MapState with range-read support)

  test("multimapGroup: put/get/keys/entries semantics across micro-batches") {
    withRocksDb {
      val mem = MemoryStream[(Long, String, Long)]
      val out = StatefulV2.multimapGroup(mem.toDS())
      val table = freshTable()
      val q = startMemorySink(out, table)
      // bags accumulate ACROSS batches per (user key, map key)
      mem.addData((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 1L))
      q.processAllAvailable()
      mem.addData((1L, "a", 11L))
      q.processAllAvailable()
      assert(spark.table(table).count() == 0, "nothing drains before marker")
      mem.addData((1L, "__drain__", 0L))
      q.processAllAvailable()
      val got = spark.table(table).as[(Long, String, Seq[Long])]
        .collect().toSet
      // per-mapkey bags in arrival order; key 2 untouched
      assert(got == Set((1L, "a", Seq(10L, 11L)), (1L, "b", Seq(20L))),
        s"got $got")
      // remove() cleared the bags: a second drain emits nothing new
      mem.addData((1L, "__drain__", 0L))
      q.processAllAvailable()
      assert(spark.table(table).count() == 2, "bags not cleared by remove()")
      q.stop()
    }
  }

  test("multimap state survives a query restart (checkpoint recovery)") {
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-mmck").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-mmout").toString
      val mem = MemoryStream[(Long, String, Long)]
      def start() = StatefulV2.multimapGroup(mem.toDS())
        .toDF("key", "mk", "vals")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((1L, "a", 10L), (1L, "a", 11L), (1L, "b", 20L))
      q1.processAllAvailable()
      q1.stop() // bags buffered, nothing drained
      val q2 = start()
      mem.addData((1L, "__drain__", 0L))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .as[(Long, String, Seq[Long])].collect().toSet
      assert(got == Set((1L, "a", Seq(10L, 11L)), (1L, "b", Seq(20L))),
        s"multimap bags lost across restart: $got")
      q2.stop()
    }
  }

  test("orderedReplay: watermark drains the ripe prefix in (ts, value) order; batch == stream") {
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val out = StatefulV2.orderedReplay(
        mem.toDS().withWatermark("_2", "0 seconds"))
      val table = freshTable()
      val q = startMemorySink(out, table)
      // out-of-order WITHIN a batch (the buffer must sort), plus a
      // same-timestamp pair (tie breaks by value)
      mem.addData((1L, t(5), 50L), (1L, t(2), 20L), (1L, t(5), 40L))
      q.processAllAvailable()
      mem.addData((9L, t(7), 0L)) // watermark -> 10:00:05: drains <= t5
      q.processAllAvailable()
      // t(10) is AHEAD of the watermark (10:00:07) — buffered, not
      // late-dropped; a t(30) co-rider moves the frontier past it
      mem.addData((1L, t(10), 10L), (9L, t(30), 1L))
      q.processAllAvailable()
      mem.addData((9L, t(50), 2L)) // watermark -> 10:00:30: drains t10
      q.processAllAvailable()
      mem.addData((9L, t(55), 3L))
      q.processAllAvailable()
      val streamed = spark.table(table).filter("_1 = 1")
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
      // seq follows (ts, value) order: 20@2, 40@5, 50@5, 10@10
      assert(streamed.map(r => (r._2, r._4)) ==
        Seq((1L, 20L), (2L, 40L), (3L, 50L), (4L, 10L)), s"got $streamed")
      q.stop()

      // the BATCH path (emitOnInput, TimeMode.None) over the same rows
      // must produce the same ordered sequence — one processor, two
      // execution modes
      val batch = StatefulV2.orderedReplay(
          Seq((1L, t(5), 50L), (1L, t(2), 20L), (1L, t(5), 40L),
            (1L, t(10), 10L)).toDS(), emitOnInput = true)
        .collect().toSeq.sortBy(_._2)
      assert(batch.map(r => (r._2, r._4)) ==
        streamed.map(r => (r._2, r._4)), s"batch $batch != stream $streamed")
    }
  }

  test("orderedReplay state survives a query restart (checkpoint recovery)") {
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-orck").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft-orout").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
      def start() = StatefulV2.orderedReplay(
          mem.toDS().withWatermark("_2", "0 seconds"))
        .toDF("key", "seq", "ts", "v")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      mem.addData((1L, t(5), 50L), (1L, t(2), 20L))
      q1.processAllAvailable()
      q1.stop() // both buffered in the ordered list, nothing ripe
      val q2 = start()
      mem.addData((9L, t(40), 0L)) // watermark past both
      q2.processAllAvailable()
      mem.addData((9L, t(50), 0L))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir).filter("key = 1")
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
      assert(got.map(r => (r._2, r._4)) == Seq((1L, 20L), (2L, 50L)),
        s"ordered buffer lost across restart: $got")
      q2.stop()
    }
  }

  /** Feeds `chunks` to `op`, one micro-batch each, and returns the
    * output batches by batch id: each batch's rows with byte arrays
    * as Seqs, stably sorted by their first column (a key's rows keep
    * their emission order). `restartAfter = i` stops the query after
    * chunk i and resumes it from the same checkpoint. */
  private def replayChunks[I: org.apache.spark.sql.Encoder](
      chunks: Seq[Seq[I]], restartAfter: Int = -1)(
      op: org.apache.spark.sql.Dataset[I] => org.apache.spark.sql.Dataset[_])
      : Seq[(Long, Seq[Seq[Any]])] = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-replay").toString
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Seq[Any]])]()
    val mem = MemoryStream[I]
    def start() = op(mem.toDS()).toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.collect().toSeq.map(_.toSeq.map {
          case a: Array[Byte] => a.toSeq
          case x => x
        })
        if (rows.nonEmpty) out.add((id, rows.sortBy(_.head.toString)))
        ()
      }.start()
    var q = start()
    chunks.zipWithIndex.foreach { case (c, i) =>
      mem.addData(c: _*)
      q.processAllAvailable()
      if (i == restartAfter) { q.stop(); q = start() }
    }
    q.stop()
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  /** A restarted run's output equals a one-shot run's; every key's
    * revs (column `revCol`, when given) run 1, 2, 3, … */
  private def assertRestartMatchesOneShot[I: org.apache.spark.sql.Encoder](
      chunks: Seq[Seq[I]], revCol: Option[Int])(
      op: org.apache.spark.sql.Dataset[I] => org.apache.spark.sql.Dataset[_]): Unit =
    withRocksDb {
      val oneShot = replayChunks(chunks)(op)
      val restarted = replayChunks(chunks, restartAfter = chunks.length / 2 - 1)(op)
      assert(oneShot.nonEmpty)
      assert(restarted == oneShot,
        s"restart drift:\n restarted=${restarted.take(3)}\n  one-shot=${oneShot.take(3)}")
      revCol.foreach { c =>
        oneShot.flatMap(_._2).groupBy(_.head).foreach { case (k, rs) =>
          assert(rs.map(_(c)) == (1L to rs.length.toLong), s"key $k revs ${rs.map(_(c))}")
        }
      }
    }

  test("tdigestQuantiles: output and rev continuity across a query restart == one-shot run") {
    val rnd = new scala.util.Random(61L)
    val rows = IndexedSeq.fill(2000)((1L + rnd.nextInt(3), math.exp(rnd.nextDouble() * 4)))
    assertRestartMatchesOneShot(rows.grouped(400).toSeq, Some(1)) { ds =>
      StatefulV2.tdigestQuantiles(ds, compression = 50.0, qs = Seq(0.1, 0.5, 0.9))
    }
  }

  test("sampleFixedPerKey: output and rev continuity across a query restart == one-shot run") {
    val rnd = new scala.util.Random(62L)
    val rows = IndexedSeq.tabulate(1200)(i => (1L + rnd.nextInt(4), i.toLong))
    assertRestartMatchesOneShot(rows.grouped(300).toSeq, Some(1)) { ds =>
      StatefulV2.sampleFixedPerKey(ds, k = 6, seed = 9L)
    }
  }

  test("approxDistinct: output and rev continuity across a query restart == one-shot run") {
    val rnd = new scala.util.Random(63L)
    val rows = IndexedSeq.fill(2400)((1L + rnd.nextInt(3),
      if (rnd.nextInt(50) == 0) null else "item" + rnd.nextInt(900)))
    assertRestartMatchesOneShot(rows.grouped(600).toSeq, Some(1)) { ds =>
      StatefulV2.approxDistinct(ds, lgK = 10)
    }
  }

  test("groupIntoBatchesTws: buffered remainders survive a query restart == one-shot run") {
    val rnd = new scala.util.Random(64L)
    val rows = IndexedSeq.tabulate(150)(i => (1L + rnd.nextInt(4), i.toLong))
    assertRestartMatchesOneShot(rows.grouped(25).toSeq, None) { ds =>
      StatefulV2.groupIntoBatchesTws(ds, maxSize = 7, flushTimeoutMs = -1L)
    }
  }

  test("groupIntoBatchesByWeight: buffered remainders survive a query restart == one-shot run") {
    val rnd = new scala.util.Random(65L)
    // value = id * 1000 + weight; weights 0..24 against a budget of 20
    val rows = IndexedSeq.tabulate(150)(i =>
      (1L + rnd.nextInt(4), i * 1000L + rnd.nextInt(25)))
    assertRestartMatchesOneShot(rows.grouped(25).toSeq, None) { ds =>
      StatefulV2.groupIntoBatchesByWeight(ds, maxWeight = 20L,
        flushTimeoutMs = -1L)(_ % 1000L)
    }
  }

  /** Sequential GroupIntoBatches reference for one key's arrivals, one
    * micro-batch at a time: (micro-batch index, batch) per flush. The
    * weight check runs before an element joins (an element at or over
    * the budget goes out alone), the count check after it joins. */
  private def referenceBatches(chunks: Seq[Seq[Long]], maxSize: Long,
      maxWeight: Long, weigh: Long => Long): Seq[(Int, Seq[Long])] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Seq[Long])]()
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    var w = 0L
    chunks.zipWithIndex.foreach { case (c, b) =>
      def flush(): Unit = { out += ((b, buf.toList)); buf.clear(); w = 0L }
      c.foreach { v =>
        val vw = math.max(0L, weigh(v))
        if (vw >= maxWeight) {
          if (buf.nonEmpty) flush()
          out += ((b, List(v)))
        } else {
          if (buf.nonEmpty && w + vw > maxWeight) flush()
          buf += v; w += vw
          if (buf.length >= maxSize) flush()
        }
      }
    }
    out.toSeq
  }

  test("groupIntoBatches property: count and weight modes == sequential reference, per micro-batch") {
    withRocksDb {
      // no flush timeout → TimeMode.None, so every flush is a pure
      // function of arrival order and the micro-batch split
      def check(chunks: Seq[Seq[(Long, Long)]], maxSize: Long, maxWeight: Long)(
          op: org.apache.spark.sql.Dataset[(Long, Long)] =>
            org.apache.spark.sql.Dataset[_]): Unit = {
        val got = replayChunks(chunks)(op)
        val keys = chunks.flatten.map(_._1).distinct
        val want = keys.flatMap { k =>
          referenceBatches(chunks.map(_.filter(_._1 == k).map(_._2)),
            maxSize, maxWeight, _ % 1000L).map { case (b, vs) => (b, k, vs) }
        }.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rs) =>
          (b.toLong, rs.map { case (_, k, vs) => Seq[Any](k, vs) }
            .sortBy(_.head.toString))
        }
        assert(got == want, s"\n got=$got\nwant=$want")
      }
      val rnd = new scala.util.Random(66L)
      (1 to 3).foreach { trial =>
        val maxSize = 1 + rnd.nextInt(5)
        val maxWeight = 5L + rnd.nextInt(16)
        val n = 40 + rnd.nextInt(40)
        // value = id * 1000 + weight: zero weights, weights at or over
        // the budget, and ordinary ones
        val rows = IndexedSeq.tabulate(n) { i =>
          val wt = rnd.nextInt(10) match {
            case 0 | 1 => 0L
            case 2 => maxWeight + rnd.nextInt(3)
            case _ => 1L + rnd.nextInt(maxWeight.toInt - 1)
          }
          (1L + rnd.nextInt(3), i * 1000L + wt)
        }
        val chunks = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long)]]()
        var rest: Seq[(Long, Long)] = rows
        while (rest.nonEmpty) {
          val (c, r) = rest.splitAt(1 + rnd.nextInt(15)); chunks += c; rest = r
        }
        withClue(s"trial $trial, maxSize $maxSize: ") {
          check(chunks.toSeq, maxSize, Long.MaxValue) { ds =>
            StatefulV2.groupIntoBatchesTws(ds, maxSize, flushTimeoutMs = -1L)
          }
        }
        withClue(s"trial $trial, maxWeight $maxWeight: ") {
          check(chunks.toSeq, Long.MaxValue, maxWeight) { ds =>
            StatefulV2.groupIntoBatchesByWeight(ds, maxWeight,
              flushTimeoutMs = -1L)(_ % 1000L)
          }
        }
      }
      // a micro-batch of exactly maxSize rows on an empty buffer goes
      // out in that same micro-batch
      val exact = Seq(Seq((1L, 1L), (1L, 2L), (1L, 3L)), Seq((1L, 4L)))
      check(exact, 3L, Long.MaxValue) { ds =>
        StatefulV2.groupIntoBatchesTws(ds, maxSize = 3, flushTimeoutMs = -1L)
      }
      assert(referenceBatches(exact.map(_.map(_._2)), 3L, Long.MaxValue, _ => 0L) ==
        Seq((0, Seq(1L, 2L, 3L))))
    }
  }
}
