package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming._

/** Beam State/Timer parity on Spark 4's `transformWithState` — the
  * successor to `flatMapGroupsWithState`, and this repo's one per-key
  * state API — with the full Beam state-cell vocabulary (SURVEY §2.10):
  *
  * | Beam (state/)                    | here                        |
  * |----------------------------------|-----------------------------|
  * | ValueState (ValueState.java:27)  | handle.getValueState        |
  * | BagState (BagState.java:31)      | handle.getListState         |
  * | MapState (MapState.java:33)      | handle.getMapState          |
  * | MultimapState (MultimapState.java:33) | [[MultimapUserState]]  |
  * | OrderedListState (OrderedListState.java:28) | [[OrderedListUserState]] |
  * | @TimerId / Timer (Timer.java:42) | handle.registerTimer        |
  * | state TTL (Deduplicate.java:70)  | TTLConfig(Duration)         |
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass` =
  * `...state.RocksDBStateStoreProvider`) — which is also the provider
  * to run at 100 TB: per-key state lives off-heap/on-disk per
  * partition, checkpointed incrementally via changelog.
  */
object StatefulV2 {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Prepare a session for BATCH `transformWithState` (r19): the
    * executor-side store still loads through the provider (only
    * RocksDB implements the TWS column families), and the provider's
    * load path reports to the driver's StateStoreCoordinator RPC
    * endpoint — which Spark only creates when a STREAMING query
    * starts. A pure-batch session (graft.Verify) therefore fails with
    * `RpcEndpointNotFoundException: ...StateStoreCoordinator` unless
    * the coordinator is touched first; the accessor is public on the
    * classic StreamingQueryManager. */
  def ensureBatchTws(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDbProvider)
    // `private[sql]` in Scala but public at the JVM level — reflect
    spark.streams.getClass.getMethod("stateStoreCoordinator")
      .invoke(spark.streams)
    ()
  }

  /** `toArray` for an unbounded-generic buffer without threading a
    * ClassTag through every processor's public signature: ListState's
    * appendList/put only ITERATE the array (T is erased), so an
    * Object-array cast is safe here. */
  private def toArr[T](b: scala.collection.mutable.ArrayBuffer[T]): Array[T] =
    b.toArray[Any](scala.reflect.ClassTag.Any).asInstanceOf[Array[T]]

  // ===== Beam's two remaining user-state KINDS (r19, VERDICT r18 #6):
  // MultimapState and OrderedListState as thin, documented encodings
  // over the handle's MapState — constructed inside any processor's
  // init() from a MapState it owns, so they compose with timers/TTL
  // exactly like the primitive cells.

  /** Beam MultimapState (sdks/java/core/.../state/MultimapState.java:33
    * — put/get/remove/keys/entries where get returns a BAG per map
    * key), encoded over `MapState[MK, Seq[MV]]`: one state row per map
    * key holding that key's bag. put() is read-modify-write of ONE
    * bag row (Beam's runners pay the same per-mapkey rewrite); at
    * 100 TB a hot map key's bag is the row that grows — same contract
    * as Beam, worth a window/TTL bound in the owning processor. */
  final class MultimapUserState[MK, MV](m: MapState[MK, Seq[MV]]) {
    def put(k: MK, v: MV): Unit =
      m.updateValue(k, (if (m.containsKey(k)) m.getValue(k) else Seq.empty[MV]) :+ v)
    /** The bag under `k` (empty if absent) — MultimapState.get(). */
    def get(k: MK): Seq[MV] =
      if (m.containsKey(k)) m.getValue(k) else Seq.empty[MV]
    def containsKey(k: MK): Boolean = m.containsKey(k)
    /** Drop the whole bag under `k` — MultimapState.remove(). */
    def remove(k: MK): Unit = m.removeKey(k)
    def keys(): Iterator[MK] = m.keys()
    /** Flattened (key, value) pairs — MultimapState.entries(). */
    def entries(): Iterator[(MK, MV)] =
      m.iterator().flatMap { case (k, vs) => vs.iterator.map((k, _)) }
    def clear(): Unit = m.clear()
  }

  /** Beam OrderedListState (state/OrderedListState.java:28 —
    * timestamped values readable/clearable by TIMESTAMP RANGE),
    * encoded over `MapState[Long, Seq[V]]` keyed by the timestamp
    * (multiple values per instant keep arrival order in their bag).
    * Range reads filter the map iterator and sort client-side — the
    * map holds one row per DISTINCT timestamp, so a read touches only
    * resident rows of this user key, and clearRange() deletes whole
    * timestamp rows (the GC path a watermark-driven replay needs). */
  final class OrderedListUserState[V](m: MapState[Long, Seq[V]]) {
    def add(tsMs: Long, v: V): Unit =
      m.updateValue(tsMs, (if (m.containsKey(tsMs)) m.getValue(tsMs)
        else Seq.empty[V]) :+ v)
    /** All (ts, value) pairs with minMs <= ts < maxMs, ts-ascending;
      * values at equal ts in insertion order — readRange(). */
    def readRange(minMs: Long, maxMs: Long): Seq[(Long, V)] =
      m.iterator().filter { case (ts, _) => ts >= minMs && ts < maxMs }
        .toSeq.sortBy(_._1)
        .flatMap { case (ts, vs) => vs.map((ts, _)) }
    /** The full ordered contents — OrderedListState.read(). */
    def read(): Seq[(Long, V)] = readRange(Long.MinValue, Long.MaxValue)
    /** Delete every entry with minMs <= ts < maxMs — clearRange(). */
    def clearRange(minMs: Long, maxMs: Long): Unit =
      m.keys().filter(ts => ts >= minMs && ts < maxMs).toSeq
        .foreach(m.removeKey)
    def isEmpty: Boolean = !m.keys().hasNext
    def clear(): Unit = m.clear()
  }

  /** Ordered-buffer REPLAY through [[OrderedListUserState]]: buffer
    * (ts, value) per key, emit in (ts, value) order with a per-key
    * sequence index. Streaming: each watermark advance drains exactly
    * the ripe prefix via readRange(−∞, watermark) + clearRange (the
    * range-read contract OrderedListState exists for) — late-arriving
    * rows inside the watermark still sort into their place because
    * emission happens only when their timestamp range closes.
    * `emitOnInput = true` is the BATCH path (timers never fire in a
    * batch run): buffer then drain at the end of the input iterator —
    * same code path through the state encoding, spec'd ≡ streaming. */
  class OrderedReplayProcessor[K](emitOnInput: Boolean)
      extends StatefulProcessor[K, (K, java.sql.Timestamp, Long), (K, Long, Long, Long)] {
    @transient private var buf: OrderedListUserState[Long] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = new OrderedListUserState[Long](
        getHandle.getMapState[Long, Seq[Long]]("buf", Encoders.scalaLong,
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[Seq[Long]](), TTLConfig.NONE))
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    private def drain(key: K, uptoMs: Long): Iterator[(K, Long, Long, Long)] = {
      val ripe = buf.readRange(Long.MinValue, uptoMs)
      if (ripe.isEmpty) Iterator.empty
      else {
        buf.clearRange(Long.MinValue, uptoMs)
        var s = if (seq.exists()) seq.get() else 0L
        val out = ripe.sortBy(p => (p._1, p._2)).map { case (ts, v) =>
          s += 1; (key, s, ts, v)
        }
        seq.update(s)
        out.iterator
      }
    }

    override def handleInputRows(key: K,
        rows: Iterator[(K, java.sql.Timestamp, Long)],
        timers: TimerValues): Iterator[(K, Long, Long, Long)] = {
      rows.foreach { case (_, ts, v) => buf.add(ts.getTime, v) }
      if (emitOnInput) drain(key, Long.MaxValue)
      else {
        // one timer at the current frontier; re-registered every batch
        // so each watermark advance ripens the next prefix
        getHandle.registerTimer(timers.getCurrentWatermarkInMs() + 1)
        Iterator.empty
      }
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(K, Long, Long, Long)] = {
      // ripe = ts <= watermark (the watermark PASSED the instant);
      // re-arm while anything is still buffered so the next watermark
      // advance wakes this key even without new input (the armChain
      // discipline every event-time processor here follows)
      val out = drain(key, timers.getCurrentWatermarkInMs() + 1)
      if (!buf.isEmpty)
        getHandle.registerTimer(timers.getCurrentWatermarkInMs() + 1)
      out
    }
  }

  /** [[OrderedReplayProcessor]] as an operator: input (key, ts,
    * value), output (key, seq, tsMs, value) in per-key (ts, value)
    * order. Batch and streaming from the ONE processor — the batch
    * path sets `emitOnInput` and runs TimeMode.None (timers cannot
    * fire in batch runs); streaming callers attach `.withWatermark`
    * on the ts column first. */
  def orderedReplay[K: Encoder](ds: Dataset[(K, java.sql.Timestamp, Long)],
      emitOnInput: Boolean = false)(
      implicit outEnc: Encoder[(K, Long, Long, Long)]): Dataset[(K, Long, Long, Long)] =
    ds.groupByKey(_._1).transformWithState(
      new OrderedReplayProcessor[K](emitOnInput),
      if (emitOnInput) TimeMode.None() else TimeMode.EventTime(),
      OutputMode.Append())

  /** Ordered processing by explicit SEQUENCE NUMBER (Beam's
    * extensions/ordered/ OrderedEventProcessor): per key, release
    * events in contiguous sequence order starting at 0. An event whose
    * predecessor has not arrived waits in the `pending` MapState;
    * duplicates of already-released numbers drop (a re-sent pending
    * number replaces the waiting value). `next` (ValueState) is the
    * lowest unreleased number. Unlike [[orderedReplay]] — event-time
    * order under the watermark — a gap here blocks release until it
    * fills or the key goes stale.
    *
    * With `staleTimeoutMs > 0` a processing-time timer, re-armed on
    * every input, fires once the key has been idle that long: pending
    * events flush in sequence order (the gap is given up on) and `next`
    * advances past them as a TOMBSTONE, so duplicates of flushed
    * numbers still drop; a second idle firing with nothing pending
    * clears the key's state — bounding the store for quiescent keys,
    * like Beam's ordered-processing status/TTL handling. */
  class SequenceOrderProcessor[K, V](staleTimeoutMs: Long)(
      implicit vEnc: Encoder[V])
      extends StatefulProcessor[K, (K, Long, V), (K, Long, V)] {

    @transient private var next: ValueState[Long] = _
    @transient private var pending: MapState[Long, V] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      next = getHandle.getValueState[Long]("next", Encoders.scalaLong,
        TTLConfig.NONE)
      pending = getHandle.getMapState[Long, V]("pending", Encoders.scalaLong,
        vEnc, TTLConfig.NONE)
    }

    override def handleInputRows(key: K, rows: Iterator[(K, Long, V)],
        timers: TimerValues): Iterator[(K, Long, V)] = {
      var n = if (next.exists()) next.get() else 0L
      val out = scala.collection.mutable.ArrayBuffer[(K, Long, V)]()
      rows.foreach { case (_, seq, v) =>
        if (seq == n) {
          out += ((key, seq, v))
          n += 1
          while (pending.containsKey(n)) {
            out += ((key, n, pending.getValue(n)))
            pending.removeKey(n)
            n += 1
          }
        } else if (seq > n) pending.updateValue(seq, v)
      }
      next.update(n)
      if (staleTimeoutMs > 0) {
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(
          timers.getCurrentProcessingTimeInMs() + staleTimeoutMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(K, Long, V)] = {
      val flushed = pending.iterator().toSeq.sortBy(_._1)
      if (flushed.isEmpty) {
        next.clear()
        Iterator.empty
      } else {
        pending.clear()
        next.update(flushed.last._1 + 1)
        getHandle.registerTimer(
          timers.getCurrentProcessingTimeInMs() + staleTimeoutMs)
        flushed.iterator.map { case (seq, v) => (key, seq, v) }
      }
    }
  }

  /** [[SequenceOrderProcessor]] as an operator: input and output
    * (key, seq, value). Without a stale timeout the query runs in
    * TimeMode.None (see [[groupIntoBatchesTws]]). */
  def orderedBySequence[K: Encoder, V: Encoder](
      ds: Dataset[(K, Long, V)], staleTimeoutMs: Long = -1L)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.groupByKey(_._1).transformWithState(
      new SequenceOrderProcessor[K, V](staleTimeoutMs),
      if (staleTimeoutMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
      OutputMode.Append())

  /** Multimap GROUP-AND-DRAIN through [[MultimapUserState]]: per user
    * key, values bag up under their map key (attribute); a foreign
    * `drainMarker` row drains every bag, emitting (key, mapKey,
    * values-in-arrival-order) and clearing — the smallest op that
    * exercises put/get/keys/entries/remove across batches. */
  class MultimapGroupProcessor[K](drainMarker: String)
      extends StatefulProcessor[K, (K, String, Long), (K, String, Seq[Long])] {
    @transient private var mm: MultimapUserState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      mm = new MultimapUserState[String, Long](
        getHandle.getMapState[String, Seq[Long]]("mm", Encoders.STRING,
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[Seq[Long]](), TTLConfig.NONE))

    override def handleInputRows(key: K, rows: Iterator[(K, String, Long)],
        timers: TimerValues): Iterator[(K, String, Seq[Long])] = {
      var drain = false
      rows.foreach { case (_, mk, v) =>
        if (mk == drainMarker) drain = true else mm.put(mk, v)
      }
      if (!drain) Iterator.empty
      else {
        val out = mm.keys().toSeq.sorted.map(mk => (key, mk, mm.get(mk)))
        out.foreach { case (_, mk, _) => mm.remove(mk) }
        out.iterator
      }
    }
  }

  /** [[MultimapGroupProcessor]] as an operator. */
  def multimapGroup[K: Encoder](ds: Dataset[(K, String, Long)],
      drainMarker: String = "__drain__")(
      implicit outEnc: Encoder[(K, String, Seq[Long])]): Dataset[(K, String, Seq[Long])] =
    ds.groupByKey(_._1).transformWithState(
      new MultimapGroupProcessor[K](drainMarker),
      TimeMode.None(), OutputMode.Append())

  /** Beam GroupIntoBatches (transforms/GroupIntoBatches.java:108,
    * `ofByteSize` at :149) as ONE processor with the Beam
    * implementation's state/timer cell layout: a BagState buffer, a
    * (weight, count) ValueState and a processing-time flush timer per
    * key. For each element, in arrival order:
    *   - the weight check runs BEFORE it joins: an element whose own
    *     weight reaches `maxWeight` closes the open batch (arrival order
    *     preserved) and goes out alone; one that would push the open
    *     batch past `maxWeight` closes it first, so batches never
    *     exceed the budget;
    *   - the count check runs AFTER it joins: a batch that reaches
    *     `maxSize` elements goes out in the same micro-batch.
    * The remainder flushes when the key's timer fires. The timer
    * covers the CURRENT remainder: it is re-armed whenever a flush
    * emptied the buffer (a stale timer would fire early for rows
    * buffered after it) and dropped when nothing is pending.
    * Negative weights count as zero. */
  class GroupIntoBatchesProcessor[K, V](maxSize: Long, maxWeight: Long,
      flushTimeoutMs: Long, weigh: V => Long)(implicit vEnc: Encoder[V])
      extends StatefulProcessor[K, (K, V), (K, Seq[V])] {
    require(maxWeight > 0, s"maxWeight must be positive, got $maxWeight")

    @transient private var buf: ListState[V] = _
    @transient private var wc: ValueState[(Long, Long)] = _ // (weight, count)
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[V]("buf", vEnc, TTLConfig.NONE)
      wc = getHandle.getValueState[(Long, Long)]("wc",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: K, rows: Iterator[(K, V)],
        timers: TimerValues): Iterator[(K, Seq[V])] = {
      val out = scala.collection.mutable.ArrayBuffer[(K, Seq[V])]()
      var (w, cnt) = if (wc.exists()) wc.get() else (0L, 0L)
      // no-flush batches APPEND without reading or rewriting the
      // buffer (pendingNew); the persisted tail materializes only
      // when a flush actually needs its content — state traffic is
      // O(appends + flushes + 1) per key per batch, never O(buffer)
      val pendingNew = scala.collection.mutable.ArrayBuffer[V]()
      var tail: scala.collection.mutable.ArrayBuffer[V] = null
      var flushed = false
      def flushTail(): Unit = {
        if (tail == null) {
          tail = scala.collection.mutable.ArrayBuffer[V]()
          val it = buf.get()
          while (it.hasNext) tail += it.next()
          tail ++= pendingNew
        }
        out += ((key, tail.toSeq))
        tail.clear(); w = 0L; cnt = 0L
        flushed = true
      }
      rows.foreach { case (_, v) =>
        val vw = math.max(0L, weigh(v))
        if (vw >= maxWeight) {
          if (cnt > 0) flushTail()
          out += ((key, Seq(v)))
          flushed = true
        } else {
          if (cnt > 0 && w + vw > maxWeight) flushTail()
          if (tail != null) tail += v else pendingNew += v
          w += vw; cnt += 1
          if (cnt >= maxSize) flushTail()
        }
      }
      // flushed && tail == null ⟺ every flush was an oversize element
      // on an EMPTY buffer (the persisted buf is known empty and was
      // never read) — rows buffered after it sit only in pendingNew
      // and must still append. Persist in ONE put/appendList (per-row
      // appendValue is O(appends-this-batch) per call — see
      // SessionLog.flush).
      if (flushed && tail != null) {
        if (tail.isEmpty) buf.clear() else buf.put(toArr(tail))
      } else if (pendingNew.nonEmpty) buf.appendList(toArr(pendingNew))
      wc.update((w, cnt))
      if (flushTimeoutMs > 0) {
        val hadTimer = armed.exists()
        if (cnt == 0L) {
          if (hadTimer) { getHandle.deleteTimer(armed.get()); armed.clear() }
        } else if (flushed || !hadTimer) {
          if (hadTimer) getHandle.deleteTimer(armed.get())
          val at = timers.getCurrentProcessingTimeInMs() + flushTimeoutMs
          getHandle.registerTimer(at)
          armed.update(at)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[(K, Seq[V])] = {
      val pending = buf.get().toSeq
      buf.clear(); wc.clear(); armed.clear()
      if (pending.nonEmpty) Iterator((key, pending)) else Iterator.empty
    }
  }

  /** GroupIntoBatches via transformWithState: batches of `maxSize`
    * elements per key ([[GroupIntoBatchesProcessor]] with only its
    * count limit); the remainder flushes when the per-key
    * processing-time timer fires. With no flush timeout the query runs
    * in TimeMode.None — ProcessingTime mode makes the engine schedule
    * continuous no-data micro-batches to advance the timer clock,
    * which is wasted work when no timers exist. */
  def groupIntoBatchesTws[K: Encoder, V: Encoder](
      ds: Dataset[(K, V)], maxSize: Int, flushTimeoutMs: Long)(
      implicit outEnc: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    groupIntoBatches(ds, maxSize.toLong, Long.MaxValue, flushTimeoutMs)(_ => 0L)

  /** GroupIntoBatches.ofByteSize via transformWithState: batches of at
    * most `maxWeight` total `weigh` per key ([[GroupIntoBatchesProcessor]]
    * with only its weight limit; an element at or over the budget goes
    * out alone). The remainder flushes on the per-key processing-time
    * timer (flushTimeoutMs <= 0 → no timer, TimeMode.None). This is
    * the streaming form of the token-budget sequence packing a
    * training-data loader runs (`pipeline_seq_packing` is the batch
    * twin): weight = token count, budget = context length. */
  def groupIntoBatchesByWeight[K: Encoder, V: Encoder](
      ds: Dataset[(K, V)], maxWeight: Long, flushTimeoutMs: Long)(
      weigh: V => Long)(
      implicit outEnc: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    groupIntoBatches(ds, Long.MaxValue, maxWeight, flushTimeoutMs)(weigh)

  private def groupIntoBatches[K: Encoder, V: Encoder](ds: Dataset[(K, V)],
      maxSize: Long, maxWeight: Long, flushTimeoutMs: Long)(weigh: V => Long)(
      implicit outEnc: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    ds.groupByKey(_._1).transformWithState(
      new GroupIntoBatchesProcessor[K, V](maxSize, maxWeight, flushTimeoutMs,
        weigh),
      if (flushTimeoutMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
      OutputMode.Append())

  /** Beam Deduplicate (transforms/Deduplicate.java:70) as explicit
    * MapState + TTL: ids expire after `ttl`, so re-arrivals beyond the
    * horizon pass through again — bounded state, Beam's exact TTL-timer
    * design (vs dropDuplicatesWithinWatermark's watermark coupling). */
  class TtlDedupProcessor[K, V](ttl: java.time.Duration)(
      implicit vEnc: Encoder[V])
      extends StatefulProcessor[K, (K, Long, V), (K, Long, V)] {

    @transient private var seen: MapState[Long, Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[Long, Boolean]("seen",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig(ttl))

    override def handleInputRows(key: K, rows: Iterator[(K, Long, V)],
        timers: TimerValues): Iterator[(K, Long, V)] =
      rows.flatMap { case (k, id, v) =>
        if (seen.containsKey(id)) None
        else { seen.updateValue(id, true); Some((k, id, v)) }
      }
  }

  /** Exactly-once-by-id within a TTL horizon, per key. */
  def dedupWithTtl[K: Encoder, V: Encoder](
      ds: Dataset[(K, Long, V)], ttl: java.time.Duration)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.groupByKey(_._1).transformWithState(
      new TtlDedupProcessor[K, V](ttl),
      TimeMode.ProcessingTime(), OutputMode.Append())

  /** Streaming SCD2 (type-2 dimension maintenance — the continuous
    * form of `operators/Scd.history`): ONE ValueState per key holding
    * the current (state, valid_from, tie) triple. An arriving change
    * row whose state DIFFERS closes the previous span — emitting
    * (key, prevState, prevValidFrom, validTo = new row's ts) — and
    * becomes current; consecutive identical states are absorbed
    * without touching the store. The open row per key lives only in
    * state; the serving history is (emitted closed rows ∪ open
    * state), batch-equivalent to `Scd.history` over the full change
    * log (spec-asserted).
    *
    * Contract and scale shape: input respects the CDC-log
    * commit-order contract per key ((ts, tie) monotone across
    * batches — the log's commit order); within a micro-batch rows are
    * sorted by (ts, tie) before application. State is O(keys) and
    * write traffic is ONE ValueState put per key per batch that saw a
    * change — the minimal CDC write amplification (contrast the
    * windowed batch build's full-shuffle). */
  class Scd2Processor[K, S](implicit sEnc: Encoder[S])
      extends StatefulProcessor[K, (K, S, Long, Long), (K, S, Long, Long)] {

    @transient private var cur: ValueState[(S, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[(S, Long, Long)]("cur",
        Encoders.tuple(sEnc, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[(K, S, Long, Long)],
        timers: TimerValues): Iterator[(K, S, Long, Long)] = {
      val sorted = rows.toVector.sortBy(r => (r._3, r._4))
      val out = Vector.newBuilder[(K, S, Long, Long)]
      var c = if (cur.exists()) Some(cur.get()) else None
      var dirty = false
      sorted.foreach { case (_, st, ts, tie) =>
        c match {
          case Some((ps, pvf, _)) if ps != st =>
            out += ((key, ps, pvf, ts))
            c = Some((st, ts, tie)); dirty = true
          case Some(_) => () // same state: absorbed, no state write
          case None => c = Some((st, ts, tie)); dirty = true
        }
      }
      if (dirty) c.foreach(cur.update)
      out.result().iterator
    }
  }

  /** [[Scd2Processor]] over a keyed change stream (key, state, ts,
    * tie): emits each CLOSED span (key, state, valid_from, valid_to)
    * as soon as its successor arrives; open spans stay in state. */
  def scd2Changes[K: Encoder, S: Encoder](
      ds: Dataset[(K, S, Long, Long)])(
      implicit outEnc: Encoder[(K, S, Long, Long)]): Dataset[(K, S, Long, Long)] =
    ds.groupByKey(_._1).transformWithState(
      new Scd2Processor[K, S](),
      // no timers, no TTL → TimeMode.None: the engine schedules no
      // clock-driven no-data batches (and processAllAvailable drains
      // deterministically in tests)
      TimeMode.None(), OutputMode.Append())

  /** Beam's Combine.perKey (transforms/Combine.java:88) as ONE
    * rev-stamped processor: a ValueState `(rev, A)` per key holds the
    * accumulator, `zero` when the key is new (createAccumulator). Each
    * micro-batch folds a key's rows with `add` (addInput): `None` means
    * nothing was counted or changed, so the key writes nothing and
    * emits nothing; `Some(a)` is written in ONE put and emitted as
    * `emit(key, rev, a)` (extractOutput), `rev` strictly increasing per
    * key — a changelog whose max-rev row per key is the live state. */
  class CombineProcessor[K, I, A, O](zero: A,
      add: (K, A, Iterator[I]) => Option[A], emit: (K, Long, A) => O)(
      implicit aEnc: Encoder[A])
      extends StatefulProcessor[K, I, O] {

    @transient private var st: ValueState[(Long, A)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, A)]("acc",
        Encoders.tuple(Encoders.scalaLong, aEnc), TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timers: TimerValues): Iterator[O] = {
      val (rev, acc) = if (st.exists()) st.get() else (0L, zero)
      add(key, acc, rows) match {
        case Some(next) =>
          st.update((rev + 1L, next))
          Iterator.single(emit(key, rev + 1L, next))
        case None => Iterator.empty
      }
    }
  }

  /** [[CombineProcessor]] over a grouped stream; no timers, no TTL →
    * TimeMode.None (see scd2Changes). */
  private def combine[K, I, A, O](grouped: KeyValueGroupedDataset[K, I],
      zero: A)(add: (K, A, Iterator[I]) => Option[A])(
      emit: (K, Long, A) => O)(
      implicit aEnc: Encoder[A], outEnc: Encoder[O]): Dataset[O] =
    grouped.transformWithState(new CombineProcessor(zero, add, emit),
      TimeMode.None(), OutputMode.Append())

  /** Streaming step-funnel — the continuous form of the batch
    * `agg_funnel_steps` chained window-mins: per key, three slots
    * (t1, t2, t3) = earliest step-1 time, earliest step-2 time within
    * `horizonMs` of t1, earliest step-3 time within `horizonMs` of t2,
    * over a keyed step stream (key, ts, step ∈ 1..3; ts in any fixed
    * unit consistent with `horizonMs`). Beam's state-API funnel pattern
    * (one `@StateId` cell per step, `sdks/java/core/.../transforms/
    * DoFn.java:516` vocabulary) on a [[CombineProcessor]] whose
    * accumulator is the slots. Emits a (rev, t1, t2, t3) snapshot (-1 =
    * unset, rev strictly increasing per key) for each key in each
    * batch where its slots CHANGED — a changelog whose max-rev row per
    * key is the live funnel state, so downstream conversion counts are
    * a latest-per-key aggregate away.
    *
    * Ordering contract (same as Beam's arrival-order state pattern):
    * rows sort by ts within each micro-batch; under event-time-ordered
    * replay the final state equals the batch query's chained
    * window-mins EXACTLY (spec-asserted against the same sf table). A
    * cross-batch late row that lowers a slot cascades: a lower t1 can
    * push t2 past t1 + horizon, unsetting t2/t3 until later qualifying
    * events re-fill them — the bounded-state tradeoff (exact
    * out-of-order mins would buffer every step-2/3 candidate until the
    * watermark passes t1 + horizon). State is O(keys); write traffic
    * is one 3-slot put per key per batch that changed — the same
    * minimal shape as [[Scd2Processor]]. */
  def funnelSteps[K: Encoder](ds: Dataset[(K, Long, Int)], horizonMs: Long)(
      implicit outEnc: Encoder[(K, Long, Long, Long, Long)]): Dataset[(K, Long, Long, Long, Long)] =
    combine(ds.groupByKey(_._1), (-1L, -1L, -1L)) { (_, before, rows) =>
      // sort (ts, step): an equal-ts later step must see the earlier
      // step's slot first (batch window-mins allow ts >= t1 / >= t2,
      // so a click at the view's exact timestamp qualifies)
      val after = rows.toVector.sortBy(r => (r._2, r._3)).foldLeft(before) {
        case (st, (_, ts, step)) => funnelStep(st, ts, step, horizonMs)
      }
      Option.when(after != before)(after)
    } { case (k, rev, (t1, t2, t3)) => (k, rev, t1, t2, t3) }(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong), outEnc)

  /** One funnel slot transition (pure; property-tested against the
    * batch chained-window-min reference in RandomizedSpec): apply a
    * step event at `ts` to the (t1, t2, t3) slots, -1 = unset. */
  private[graft] def funnelStep(st: (Long, Long, Long), ts: Long,
      step: Int, horizonMs: Long): (Long, Long, Long) = {
    var (t1, t2, t3) = st
    step match {
      case 1 if t1 == -1L || ts < t1 =>
        t1 = ts
        // a lower t1 can push t2 past t1 + horizon — cascade (the
        // t2 >= t1 bound can't break: t1 only moved down)
        if (t2 != -1L && t2 > t1 + horizonMs) { t2 = -1L; t3 = -1L }
      case 2 if t1 != -1L && ts >= t1 && ts <= t1 + horizonMs &&
          (t2 == -1L || ts < t2) =>
        t2 = ts
        if (t3 != -1L && t3 > t2 + horizonMs) t3 = -1L
      case 3 if t2 != -1L && ts >= t2 && ts <= t2 + horizonMs &&
          (t3 == -1L || ts < t3) =>
        t3 = ts
      case _ => () // non-qualifying or unknown step: absorbed
    }
    (t1, t2, t3)
  }

  /** Streaming heavy hitters per key — a [[graft.functions.MisraGries]]
    * k-counter summary held in per-key state: counters in MapState
    * (≤ k entries, only CHANGED entries write back per batch — the
    * batch first folds into an exact in-memory count map, so a
    * million-row batch still writes ≤ k+1 state rows per key),
    * (rev, err, n) bookkeeping in one packed ValueState. Each batch
    * that touches a key emits a rev-stamped snapshot
    * (key, rev, n, err, top counters): est ≤ true ≤ est + err with
    * err ≤ n/(k+1), and every item with true count > err is present —
    * the deterministic streaming hot-items guarantee (Beam analog:
    * SketchFrequencies / Top.perKey over triggered panes; the
    * MERGEABLE shrink also lets per-shard summaries combine
    * downstream, Agarwal et al. PODS 2012). State is O(k) per key
    * FOREVER — the bounded-state contrast to exact streaming top-k,
    * whose state grows with distinct items. */
  class HeavyHittersProcessor[K, I](k: Int)(implicit iEnc: Encoder[I])
      extends StatefulProcessor[K, (K, I, Long), (K, Long, Long, Long, Seq[(I, Long)])] {
    require(k >= 1, s"k must be >= 1, got $k")

    @transient private var counters: MapState[I, Long] = _
    @transient private var mgMeta: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counters = getHandle.getMapState[I, Long]("mg", iEnc,
        Encoders.scalaLong, TTLConfig.NONE)
      mgMeta = getHandle.getValueState[(Long, Long, Long)]("mgMeta",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)
    }

    override def handleInputRows(key: K, rows: Iterator[(K, I, Long)],
        timers: TimerValues): Iterator[(K, Long, Long, Long, Seq[(I, Long)])] = {
      val (rev, err, n) =
        if (mgMeta.exists()) mgMeta.get() else (0L, 0L, 0L)
      val cur = scala.collection.mutable.Map[I, Long]()
      val it = counters.iterator()
      while (it.hasNext) { val e = it.next(); cur += (e._1 -> e._2) }
      // exact fold of this batch, then ONE summary merge. Weights are
      // validated RAW, before netting: a negative netted away by a
      // positive in the same batch would silently void the
      // est ≤ true ≤ est + err contract that MisraGries.addAll's own
      // require (which only sees the net sums) exists to protect.
      // Loud-failure policy as elsewhere (ANSI): non-positive weights
      // are upstream bugs to filter before this operator.
      val batch = scala.collection.mutable.Map[I, Long]()
      var any = false
      rows.foreach { case (_, i, w) =>
        require(w > 0,
          s"heavyHitters weights must be > 0, got $w for item $i")
        batch += (i -> (batch.getOrElse(i, 0L) + w)); any = true
      }
      if (!any) return Iterator.empty
      val before = graft.functions.MisraGries.Summary(cur.toMap, err, n)
      val after = graft.functions.MisraGries.addAll(before, batch, k)
      // write back only the delta: changed counters + shrunk-away keys
      after.counters.foreach { case (i, c) =>
        if (cur.getOrElse(i, -1L) != c) counters.updateValue(i, c)
      }
      cur.keysIterator.foreach { i =>
        if (!after.counters.contains(i)) counters.removeKey(i)
      }
      mgMeta.update((rev + 1L, after.err, after.n))
      Iterator.single((key, rev + 1L, after.n, after.err, after.topK(k)))
    }
  }

  /** Add a packed [mean, weight, …] centroid list to `buf`. */
  private def addPacked(buf: graft.functions.TDigest.Buf,
      packed: Seq[Double]): Unit = {
    var i = 0
    while (i < packed.length) { buf.add(packed(i), packed(i + 1)); i += 2 }
  }

  /** Quantiles at `qs` off a packed [mean, weight, …] centroid list. */
  private def packedQuantiles(packed: Seq[Double],
      qs: Seq[Double]): Seq[Double] = {
    val m = packed.length / 2
    val means = new Array[Double](m)
    val weights = new Array[Double](m)
    var i = 0
    while (i < m) {
      means(i) = packed(2 * i); weights(i) = packed(2 * i + 1); i += 1
    }
    qs.map(q => graft.functions.TDigest.quantile(means, weights, q))
  }

  private def requireQs(qs: Seq[Double]): Unit =
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"bad qs: $qs")

  /** Fold a batch of values into a packed (n, [mean, weight, …])
    * digest — the [[CombineProcessor]] `add` of both t-digest ops. */
  private def digestAdd[K](compression: Double)
      : (K, (Long, Seq[Double]), Iterator[(K, Double)]) => Option[(Long, Seq[Double])] = {
    require(compression >= 20, s"compression too small: $compression")
    (_, acc, rows) => Option.when(rows.hasNext) {
      val buf = new graft.functions.TDigest.Buf(compression)
      addPacked(buf, acc._2)
      var n = acc._1
      rows.foreach { case (_, v) => buf.add(v, 1.0); n += 1 }
      buf.compact()
      val out = new Array[Double](2 * buf.n)
      var j = 0
      while (j < buf.n) {
        out(2 * j) = buf.means(j); out(2 * j + 1) = buf.weights(j); j += 1
      }
      (n, out.toSeq)
    }
  }

  private def digestEnc: Encoder[(Long, Seq[Double])] =
    Encoders.product[(Long, Seq[Double])]

  /** Streaming per-key t-digest quantiles — the third mergeable
    * sketch in the streaming family (with [[heavyHitters]]'
    * Misra-Gries and native HLL): Beam's TDigestQuantiles
    * (sdks/java/extensions/sketching/src/main/java/org/apache/beam/
    * sdk/extensions/sketching/TDigestQuantiles.java:86) as a
    * [[CombineProcessor]] fold over the SAME [[graft.functions.TDigest]]
    * core the batch aggregates use — one estimator, two execution
    * modes, so batch and stream agree on the rank-error contract.
    * The accumulator per key is (n, compressed centroid list —
    * O(compression) doubles FOREVER, interleaved [mean, weight, …]),
    * one ValueState put per touched key per batch; each touched key
    * emits a rev-stamped (rev, n, quantile values at `qs`) snapshot —
    * latest row per key = max rev, as [[heavyHitters]]. */
  def tdigestQuantiles[K: Encoder](ds: Dataset[(K, Double)],
      compression: Double = 100.0, qs: Seq[Double] = Seq(0.5, 0.95, 0.99))(
      implicit outEnc: Encoder[(K, Long, Long, Seq[Double])]): Dataset[(K, Long, Long, Seq[Double])] = {
    requireQs(qs)
    combine(ds.groupByKey(_._1), (0L, Seq.empty[Double]))(
      digestAdd[K](compression)) {
      case (k, rev, (n, packed)) => (k, rev, n, packedQuantiles(packed, qs))
    }(digestEnc, outEnc)
  }

  /** GLOBAL (cross-key) streaming t-digest quantiles — Beam's
    * TDigestQuantiles.globally (sdks/java/extensions/sketching/src/
    * main/java/org/apache/beam/sdk/extensions/sketching/
    * TDigestQuantiles.java:86) in the same two-stage form as
    * [[heavyHittersGlobal]]: value-hash shards fold per-shard digests
    * in parallel (mergeable, so the partition is free to be anything
    * deterministic), then [[mergeShards]] keeps the latest packed
    * digest per shard (≤ shards × O(compression) doubles FOREVER) and
    * does one centroid-level merge + compact per batch — the union
    * digest keeps the rank-error contract of the per-shard folds.
    * Emits rev-stamped (rev, n, quantile values at `qs`). */
  def tdigestQuantilesGlobal(ds: Dataset[Double],
      compression: Double = 100.0, qs: Seq[Double] = Seq(0.5, 0.95, 0.99),
      shards: Int = 32)(
      implicit outEnc: Encoder[(Long, Long, Seq[Double])]): Dataset[(Long, Long, Seq[Double])] = {
    requireQs(qs)
    val digests = shardSnapshots(ds, shards, (0L, Seq.empty[Double]))(
      digestAdd[Long](compression))(Encoders.scalaDouble, digestEnc)
    mergeShards(digests) { (rev, perShard: Seq[(Long, Seq[Double])]) =>
      val buf = new graft.functions.TDigest.Buf(compression)
      perShard.foreach { case (_, packed) => addPacked(buf, packed) }
      buf.compact()
      val means = java.util.Arrays.copyOf(buf.means, buf.n)
      val weights = java.util.Arrays.copyOf(buf.weights, buf.n)
      (rev, perShard.iterator.map(_._1).sum,
        qs.map(q => graft.functions.TDigest.quantile(means, weights, q)))
    }(digestEnc, outEnc)
  }

  /** Exact k-sample of the UNION of per-shard uniform reservoirs —
    * the merge half of [[sampleFixedGlobal]], pure and deterministic
    * in (seed, rev). Sequential sampling without replacement over the
    * shard POPULATION counts (multivariate-hypergeometric allocation:
    * draw d picks shard i with probability remaining_i / remainingΣ,
    * then a uniformly-drawn UNUSED element of i's reservoir —
    * Fisher-Yates partial shuffle; reservoir slots are NOT
    * exchangeable under Algorithm R, so popping sequentially would
    * bias toward early arrivals). Each shard's takes never exceed its
    * reservoir (takes_i ≤ min(k, n_i) = |reservoir_i|), and a uniform
    * sub-subset of a uniform subset is uniform over the shard — so
    * the result is an exact uniform k-subset of all n elements.
    * Property-tested for per-element selection uniformity in
    * RandomizedSpec. */
  private[graft] def mergeReservoirs[V](
      shards: Seq[(Long, Seq[V])], k: Int, seed: Long, rev: Long): Seq[V] = {
    // contract: each reservoir holds min(k, n_i) elements (the stage-1
    // Algorithm R invariant when both stages share k) — it guarantees
    // takes_i ≤ |reservoir_i| (shard i is drawn at most min(k, n_i)
    // times), so the merge never runs a reservoir dry
    shards.foreach { case (n, sample) =>
      require(sample.size >= math.min(k.toLong, n),
        s"reservoir underfull: ${sample.size} < min($k, $n)")
    }
    val pops = shards.map(_._1).toArray // remaining population per shard
    val bufs = shards.map(s => scala.collection.mutable.ArrayBuffer(s._2: _*))
    val avail = bufs.map(_.length).toArray
    var totalRemaining = pops.sum
    val take = math.min(k.toLong, totalRemaining).toInt
    val out = scala.collection.mutable.ArrayBuffer[V]()
    var d = 0
    while (d < take) {
      // shard choice ∝ remaining population
      var r = Math.floorMod(
        mix64(seed ^ (rev * 0x9e3779b97f4a7c15L) ^ (d.toLong << 1)),
        totalRemaining)
      var i = 0
      while (r >= pops(i)) { r -= pops(i); i += 1 }
      // uniform unused element of shard i's reservoir
      val j = Math.floorMod(
        mix64(seed ^ (rev * 0xbf58476d1ce4e5b9L) ^ ((d.toLong << 1) | 1L)),
        avail(i)).toInt
      out += bufs(i)(j)
      bufs(i)(j) = bufs(i)(avail(i) - 1)
      avail(i) -= 1
      pops(i) -= 1
      totalRemaining -= 1
      d += 1
    }
    out.toSeq
  }

  /** GLOBAL (cross-key) streaming fixed-size uniform sample — Beam's
    * Sample.fixedSizeGlobally (sdks/java/core/src/main/java/org/
    * apache/beam/sdk/transforms/Sample.java:47) in the two-stage
    * form: value-hash shards each hold a deterministic Algorithm R
    * reservoir (as [[sampleFixedPerKey]] — ANY deterministic partition
    * is valid, since hypergeometric merge allocation is exact over
    * disjoint shard populations), then [[mergeShards]] keeps the
    * latest (n, reservoir) per shard (≤ shards × k values FOREVER) and
    * re-merges them via [[mergeReservoirs]] on each emit. The merge is
    * STATELESS given the shard reservoirs, so every snapshot is an
    * exact uniform k-sample of everything seen. Emits rev-stamped
    * (rev, n, sample). */
  def sampleFixedGlobal[V: Encoder](ds: Dataset[V], k: Int,
      seed: Long = 42L, shards: Int = 32)(
      implicit shardEnc: Encoder[(Long, Seq[V])],
      outEnc: Encoder[(Long, Long, Seq[V])]): Dataset[(Long, Long, Seq[V])] = {
    val reservoirs = shardSnapshots(ds, shards, (0L, Seq.empty[V]))(
      reservoirAdd[Long, V](k, seed))
    mergeShards(reservoirs) { (rev, perShard: Seq[(Long, Seq[V])]) =>
      (rev, perShard.iterator.map(_._1).sum,
        mergeReservoirs(perShard, k, seed, rev))
    }
  }

  /** SplitMix64 finalizer — the deterministic pseudo-random mix behind
    * [[reservoirDraw]] (public-domain constant schedule; same mixer
    * the JDK's SplittableRandom uses). */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit per-key draw-stream seed: value hash in the low word,
    * string-form hash in the high word, mixed through [[mix64]] — two
    * independent 32-bit hashes must BOTH collide before two keys share
    * a draw sequence (see [[sampleFixedPerKey]]'s determinism note). */
  private[graft] def keyDrawHash(key: Any): Long =
    mix64(key.hashCode().toLong ^ (key.toString.hashCode.toLong << 32))

  /** Uniform draw in [0, n] for the (n+1)-th element of a key's
    * stream (Algorithm R's j) — a pure function of (seed, key hash,
    * element index), so the whole sample is REPLAYABLE: a pure
    * function of arrival order, exactly reproducible across runs and
    * spec-checkable against a reference fold. */
  private[graft] def reservoirDraw(seed: Long, keyHash: Long, n: Long): Long =
    Math.floorMod(mix64(seed ^ keyHash ^ (n * 0x632be59bd9b4e019L)), n + 1)

  /** Algorithm R over a batch into an (n, k-slot reservoir)
    * accumulator — the [[CombineProcessor]] `add` of both reservoir
    * ops; draws from [[reservoirDraw]] under the key's [[keyDrawHash]]. */
  private def reservoirAdd[K, V](k: Int, seed: Long)
      : (K, (Long, Seq[V]), Iterator[(K, V)]) => Option[(Long, Seq[V])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    (key, acc, rows) => Option.when(rows.hasNext) {
      var n = acc._1
      val kh = keyDrawHash(key)
      val buf = scala.collection.mutable.ArrayBuffer[V](acc._2: _*)
      rows.foreach { case (_, v) =>
        if (n < k) buf += v
        else {
          val j = reservoirDraw(seed, kh, n)
          if (j < k) buf(j.toInt) = v
        }
        n += 1
      }
      (n, buf.toSeq)
    }
  }

  /** Streaming fixed-size uniform sample per key — Beam's
    * Sample.fixedSizePerKey (sdks/java/core/src/main/java/org/apache/
    * beam/sdk/transforms/Sample.java:61) run continuously: classic
    * Algorithm R (Vitter) per key on a [[CombineProcessor]] whose
    * accumulator is (n, k-slot reservoir) — O(k) FOREVER. Each batch
    * folds locally into one state put; each TOUCHED key emits a
    * rev-stamped (rev, n, sample) snapshot — latest row per key = max
    * rev, the live uniform sample of everything that key has seen.
    * Draws come from [[reservoirDraw]] (deterministic in (seed, key,
    * index)), so two runs over the same arrival order produce
    * byte-identical samples — the reproducibility contract the batch
    * sampling queries keep via portable-hash ordering. The per-key
    * draw stream is seeded by [[keyDrawHash]]: a 64-bit combination
    * of the key's value hash and string form mixed through SplitMix64,
    * so two keys share a draw sequence only on a full 64-bit collision
    * (~2^-64, vs 2^-32 for raw hashCode). Determinism across runs
    * assumes value-stable `hashCode`/`toString` key types (primitives,
    * Strings, case classes — NOT raw arrays, which are also unsound as
    * groupByKey keys for the same identity-hash reason). */
  def sampleFixedPerKey[K: Encoder, V](ds: Dataset[(K, V)],
      k: Int, seed: Long = 42L)(
      implicit outEnc: Encoder[(K, Long, Long, Seq[V])],
      accEnc: Encoder[(Long, Seq[V])]): Dataset[(K, Long, Long, Seq[V])] =
    combine(ds.groupByKey(_._1), (0L, Seq.empty[V]))(
      reservoirAdd[K, V](k, seed)) { case (key, rev, (n, sample)) =>
      (key, rev, n, sample)
    }

  /** Fold a batch of items into an (n, compact HLL image) accumulator
    * — the [[CombineProcessor]] `add` of both distinct-count ops. Null
    * items are skipped AND excluded from n, matching
    * COUNT(DISTINCT x)'s NULL semantics; a batch of only nulls counts
    * nothing. The compact image is smaller than the updatable form (no
    * warm-up coupon headroom / aux slack) and equally heapify-able by
    * this fold and the native hll_* functions. */
  private def hllAdd[K](lgK: Int)
      : (K, (Long, Array[Byte]), Iterator[(K, String)]) => Option[(Long, Array[Byte])] = {
    require(lgK >= 4 && lgK <= 21, s"lgK out of range: $lgK")
    (_, acc, rows) => {
      val (n0, bytes) = acc
      val sk =
        if (bytes.isEmpty) new org.apache.datasketches.hll.HllSketch(lgK)
        else org.apache.datasketches.hll.HllSketch.heapify(bytes)
      var n = n0
      rows.foreach { case (_, item) =>
        if (item != null) { sk.update(item); n += 1 }
      }
      Option.when(n != n0)((n, sk.toCompactByteArray))
    }
  }

  private def hllEnc: Encoder[(Long, Array[Byte])] =
    Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)

  /** Streaming per-key approximate distinct count — Beam's
    * ApproximateUnique.perKey (sdks/java/core/src/main/java/org/
    * apache/beam/sdk/transforms/ApproximateUnique.java:82) run
    * continuously under the global window: a DataSketches HllSketch
    * folds per key in a [[CombineProcessor]] accumulator (n, compact
    * bytes — O(2^lgK) FOREVER, never O(distinct items)), one put per
    * touched key per batch, each touched key emitting a rev-stamped
    * (rev, n, estimate, sketch bytes) snapshot. The bytes are the
    * SAME library/format Spark's native `hll_sketch_agg` family uses
    * (org.apache.datasketches.hll), so downstream SQL can
    * `hll_sketch_estimate` an emitted sketch directly or
    * `hll_union_agg` the latest per-key sketches into group/global
    * distincts — stream state composes with batch analytics instead
    * of dead-ending (spec-asserted both ways). Standard HLL rsd
    * ≈ 1.04/√2^lgK (~1.6% at the lgK=12 default). */
  def approxDistinct[K: Encoder](ds: Dataset[(K, String)], lgK: Int = 12)(
      implicit outEnc: Encoder[(K, Long, Long, Long, Array[Byte])]): Dataset[(K, Long, Long, Long, Array[Byte])] =
    combine(ds.groupByKey(_._1), (0L, Array.empty[Byte]))(hllAdd[K](lgK)) {
      case (k, rev, (n, bytes)) => (k, rev, n, Math.round(
        org.apache.datasketches.hll.HllSketch.heapify(bytes).getEstimate), bytes)
    }(hllEnc, outEnc)

  /** The merge half of Beam's `Combine.globally(fn).withFanout(n)`
    * (transforms/Combine.java:88) for the GLOBAL streaming sketches:
    * stage 1 folds value-hash shards in parallel and emits
    * rev-stamped `(shard, srev, S)` snapshots; this one-key stage keeps
    * the latest (max-srev) snapshot per shard in one
    * `MapState[Long, S]` (only shards that emitted this batch
    * rewrite), bumps one `rev` ValueState and emits
    * `merge(rev, allShards)` — one output row per batch that carries a
    * snapshot, none otherwise. ≤ one snapshot per shard per batch
    * arrives by construction; the max-srev guard is defensive. A
    * single-key stage is only safe because its INPUT is O(shards)
    * summaries per batch, never the event stream. */
  class ShardMergeProcessor[S, O](merge: (Long, Seq[S]) => O)(
      implicit sEnc: Encoder[S])
      extends StatefulProcessor[Int, (Long, Long, S), O] {

    @transient private var perShard: MapState[Long, S] = _
    @transient private var rev: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      perShard = getHandle.getMapState[Long, S]("shard", Encoders.scalaLong,
        sEnc, TTLConfig.NONE)
      rev = getHandle.getValueState[Long]("rev", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Int, rows: Iterator[(Long, Long, S)],
        timers: TimerValues): Iterator[O] = {
      val srevs = scala.collection.mutable.Map[Long, Long]()
      val fresh = scala.collection.mutable.Map[Long, S]()
      rows.foreach { case (shard, srev, s) =>
        if (srevs.get(shard).forall(_ < srev)) {
          srevs(shard) = srev; fresh(shard) = s
        }
      }
      if (fresh.isEmpty) return Iterator.empty
      fresh.foreach { case (shard, s) => perShard.updateValue(shard, s) }
      val r = (if (rev.exists()) rev.get() else 0L) + 1L
      rev.update(r)
      Iterator.single(merge(r, perShard.iterator().map(_._2).toVector))
    }
  }

  /** [[ShardMergeProcessor]] over a stage-1 snapshot stream
    * `(shard, srev, S)`: one rev-stamped `merge(rev, latest S per
    * shard)` per batch. */
  private[graft] def mergeShards[S, O](snapshots: Dataset[(Long, Long, S)])(
      merge: (Long, Seq[S]) => O)(
      implicit sEnc: Encoder[S], outEnc: Encoder[O]): Dataset[O] =
    snapshots.groupByKey(_ => 0)(Encoders.scalaInt)
      .transformWithState(new ShardMergeProcessor[S, O](merge),
        TimeMode.None(), OutputMode.Append())

  /** Encoder of a [[mergeShards]] input row `(shard, srev, S)`. */
  private def snapshotEnc[S](implicit sEnc: Encoder[S]): Encoder[(Long, Long, S)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, sEnc)

  /** Stage 1 of a GLOBAL sketch: [[combine]] over value-hash shards
    * ([[shardOf]]), emitting the `(shard, srev, A)` snapshots that
    * [[mergeShards]] merges. */
  private def shardSnapshots[V: Encoder, A](ds: Dataset[V], shards: Int,
      zero: A)(add: (Long, A, Iterator[(Long, V)]) => Option[A])(
      implicit aEnc: Encoder[A]): Dataset[(Long, Long, A)] = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val keyedEnc: Encoder[(Long, V)] =
      Encoders.tuple(longEnc, implicitly[Encoder[V]])
    combine(ds.map(v => (shardOf(v, shards), v)).groupByKey(_._1), zero)(add)(
      (shard, srev, a) => (shard, srev, a))(aEnc, snapshotEnc[A])
  }

  /** Shard assignment for the GLOBAL sketch forms: the item's own
    * value routes it — hash-sharding by item means an item's ENTIRE
    * count lands in exactly one shard, which is what lets per-shard
    * summaries compose without splitting any item's frequency. 64-bit
    * mixed ([[keyDrawHash]]) so shard skew is hash-collision-grade
    * only; same value-stable hashCode/toString caveat. */
  private[graft] def shardOf(item: Any, shards: Int): Long =
    Math.floorMod(keyDrawHash(item), shards.toLong)

  /** GLOBAL (cross-key) streaming heavy hitters — Beam's
    * SketchFrequencies / Top.largest over the whole stream
    * (sdks/java/extensions/sketching/src/main/java/org/apache/beam/
    * sdk/extensions/sketching/SketchFrequencies.java:90) in the
    * scale-safe two-stage form: stage 1 shards BY ITEM VALUE
    * (hash(item) % shards — parallel across the cluster, O(k) state
    * per shard) and runs the per-key [[HeavyHittersProcessor]]; stage
    * 2 ([[mergeShards]]) keeps the latest Misra-Gries summary per
    * shard (≤ `shards` entries × k counters FOREVER) and merges them.
    * Because sharding is BY ITEM, shard summaries cover disjoint item
    * sets: the global summary is their plain union, est(x) = its
    * shard's est, and x's true undercount is bounded by its own
    * shard's err — so the published single bound `err = max(shard
    * errs)` is valid for every item (tighter than
    * [[graft.functions.MisraGries.merge]]'s general-case err sum,
    * which pays for overlapping summaries that cannot arise here),
    * and coverage holds: true(x) > err ≥ errShard(x) ⇒ x survives in
    * its shard. Emits rev-stamped global snapshots
    * (rev, n, err, counters est-descending): est ≤ true ≤ est + err
    * deterministic, and EVERY item with true count > err is present.
    * The list is the FULL union (≤ shards × k entries), never
    * truncated to k: a take(k) would silently break the coverage
    * contract when more than k items exceed err (consumers wanting
    * exactly k take the prefix). Input: (item, weight); non-positive
    * weights would void the bounds and are rejected by the per-shard
    * stage. */
  def heavyHittersGlobal[I: Encoder](ds: Dataset[(I, Long)], k: Int,
      shards: Int = 32)(
      implicit midEnc: Encoder[(Long, Long, Long, Long, Seq[(I, Long)])],
      shardEnc: Encoder[(Long, Long, Seq[(I, Long)])],
      outEnc: Encoder[(Long, Long, Long, Seq[(I, Long)])]): Dataset[(Long, Long, Long, Seq[(I, Long)])] = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    implicit val keyedEnc: Encoder[(Long, I, Long)] =
      Encoders.tuple(Encoders.scalaLong, implicitly[Encoder[I]],
        Encoders.scalaLong)
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    val sharded = ds.map { case (i, w) => (shardOf(i, shards), i, w) }
    val summaries = heavyHitters[Long, I](sharded, k)
      .map { case (shard, srev, n, err, cs) => (shard, srev, (n, err, cs)) }(
        snapshotEnc(shardEnc))
    mergeShards(summaries) { (rev, perShard: Seq[(Long, Long, Seq[(I, Long)])]) =>
      (rev, perShard.iterator.map(_._1).sum,
        perShard.iterator.map(_._2).foldLeft(0L)(math.max),
        perShard.flatMap(_._3).sortBy { case (_, c) => -c })
    }
  }

  /** Fold a batch into an (n, top-k descending under `ord`)
    * accumulator — the [[CombineProcessor]] `add` of both top-K ops:
    * buffer-and-compact, amortized O(log k) per element, buffer bounded
    * at k + 1024 regardless of batch size. */
  private def topKAdd[K, V](k: Int, ord: Ordering[V])
      : (K, (Long, Seq[V]), Iterator[(K, V)]) => Option[(Long, Seq[V])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    (_, acc, rows) => Option.when(rows.hasNext) {
      var n = acc._1
      val desc = ord.reverse
      val buf = scala.collection.mutable.ArrayBuffer[V](acc._2: _*)
      rows.foreach { case (_, v) =>
        buf += v
        // periodic compaction keeps memory bounded on huge batches
        // while amortizing the sort across ~1024 arrivals
        if (buf.length >= k + 1024) {
          val keep = buf.sorted(desc).take(k)
          buf.clear(); buf ++= keep
        }
        n += 1
      }
      (n, buf.sorted(desc).take(k).toSeq)
    }
  }

  /** Streaming per-key top-K by comparator — Beam's Top.perKey
    * (sdks/java/core/src/main/java/org/apache/beam/sdk/transforms/
    * Top.java:58, the Top.of comparator form) run continuously under
    * the global window: the k GREATEST elements per key under `ord`,
    * held in a [[CombineProcessor]] accumulator (n, top-k descending —
    * O(k) FOREVER), one state put and one rev-stamped
    * (key, rev, n, topK) snapshot per touched key per batch — latest
    * row per key = max rev. Top-k is a mergeable fold, so the result
    * is EXACT for any arrival order; tie order among ord-equal
    * elements is unspecified (pass a total order for replay-stable
    * output — same contract as Beam's comparator). */
  def topKPerKey[K: Encoder, V](ds: Dataset[(K, V)], k: Int)(
      implicit ord: Ordering[V],
      outEnc: Encoder[(K, Long, Long, Seq[V])],
      accEnc: Encoder[(Long, Seq[V])]): Dataset[(K, Long, Long, Seq[V])] =
    combine(ds.groupByKey(_._1), (0L, Seq.empty[V]))(topKAdd[K, V](k, ord)) {
      case (key, rev, (n, top)) => (key, rev, n, top)
    }

  /** GLOBAL (cross-key) streaming top-K by comparator — Beam's
    * Top.of/largest/smallest on unbounded input (sdks/java/core/src/
    * main/java/org/apache/beam/sdk/transforms/Top.java:58) in the same
    * two-stage form as [[heavyHittersGlobal]]: value-hash shards each
    * keep a bounded k-heap in parallel (unlike the heavy-hitter
    * summaries, top-k is mergeable under ANY partition — hashing is
    * purely for balance), then [[mergeShards]] keeps the latest
    * (n, top-k) per shard (≤ shards × k values FOREVER) and re-merges
    * them on each emit as union → sort desc → take k. Emits
    * rev-stamped (rev, n, topK descending) — EXACT, not approximate:
    * the merge is stateless given the shard snapshots, and any element
    * of the true global top-k is, a fortiori, in the top-k of
    * whichever shard it landed in. */
  def topKGlobal[V: Encoder](ds: Dataset[V], k: Int, shards: Int = 32)(
      implicit ord: Ordering[V],
      shardEnc: Encoder[(Long, Seq[V])],
      outEnc: Encoder[(Long, Long, Seq[V])]): Dataset[(Long, Long, Seq[V])] = {
    val tops = shardSnapshots(ds, shards, (0L, Seq.empty[V]))(
      topKAdd[Long, V](k, ord))
    mergeShards(tops) { (rev, perShard: Seq[(Long, Seq[V])]) =>
      (rev, perShard.iterator.map(_._1).sum,
        perShard.flatMap(_._2).sorted(ord.reverse).take(k))
    }
  }

  /** GLOBAL (cross-key) streaming approximate distinct count — Beam's
    * ApproximateUnique.globally (sdks/java/core/src/main/java/org/
    * apache/beam/sdk/transforms/ApproximateUnique.java:82) in the same
    * two-stage form as [[heavyHittersGlobal]]: per-shard HLLs (as
    * [[approxDistinct]]), then [[mergeShards]] keeps the latest sketch
    * bytes per shard (≤ `shards` compact images FOREVER) and runs one
    * DataSketches union over them per batch. Item-value sharding makes
    * shard item sets disjoint, but HLL union is exact under ANY
    * overlap — the bound is the plain union-sketch rsd. Emits
    * rev-stamped (rev, n, estimate, union sketch bytes) — the bytes
    * compose with the native hll_* SQL functions exactly like the
    * per-key form. */
  def approxDistinctGlobal(ds: Dataset[String], lgK: Int = 12,
      shards: Int = 32)(
      implicit outEnc: Encoder[(Long, Long, Long, Array[Byte])]): Dataset[(Long, Long, Long, Array[Byte])] = {
    val sketches = shardSnapshots(ds.filter((i: String) => i != null),
      shards, (0L, Array.empty[Byte]))(hllAdd[Long](lgK))(
      Encoders.STRING, hllEnc)
    mergeShards(sketches) { (rev, perShard: Seq[(Long, Array[Byte])]) =>
      val union = new org.apache.datasketches.hll.Union(lgK)
      perShard.foreach { case (_, bytes) =>
        union.update(org.apache.datasketches.hll.HllSketch.heapify(bytes))
      }
      val sk = union.getResult
      (rev, perShard.iterator.map(_._1).sum, Math.round(sk.getEstimate),
        sk.toCompactByteArray)
    }(hllEnc, outEnc)
  }

  /** Streaming per-key z-score anomaly detection — the continuous
    * form of the batch `anomaly_zscore` fit-and-flag (reference:
    * sdks/python/apache_beam/ml/anomaly/detectors/zscore.py over the
    * incremental univariate trackers): ONE packed ValueState per key
    * holds the landmark Welford (n, mean, M2); each arriving value
    * scores PREQUENTIALLY — z against the statistics of the values
    * before it — then folds in (so an extreme value never masks
    * itself by inflating the variance it is judged against). Emits
    * (key, value, z) for |z| > threshold once the tracker has seen
    * `minN` values (the warm-up gate every online detector needs;
    * sd = sample stddev, sqrt(M2/(n-1))). A deviation from a
    * CONSTANT warm-up (sd == 0, v != mean) is the clearest possible
    * anomaly, not a blind spot: it flags with the sentinel
    * z = ±Infinity (signed toward the deviation) — mathematically
    * honest (the value is unboundedly many sample-sds away) and
    * trivially past any finite threshold. State is O(keys) × 3
    * numbers, one put per touched key per batch — nothing buffers. */
  class ZScoreProcessor[K](threshold: Double, minN: Long)
      extends StatefulProcessor[K, (K, Double), (K, Double, Double)] {
    require(minN >= 2, s"minN must be >= 2 (sample stddev), got $minN")

    @transient private var st: ValueState[(Long, Double, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double, Double)]("welford",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
          Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[(K, Double)],
        timers: TimerValues): Iterator[(K, Double, Double)] = {
      var cur = if (st.exists()) st.get() else (0L, 0.0, 0.0)
      val out = scala.collection.mutable.ArrayBuffer[(K, Double, Double)]()
      var any = false
      rows.foreach { case (_, v) =>
        val (n, mean, m2) = cur
        if (n >= minN) {
          val sd = math.sqrt(m2 / (n - 1))
          if (sd > 0) {
            val z = (v - mean) / sd
            if (math.abs(z) > threshold) out += ((key, v, z))
          } else if (v != mean) {
            // constant-valued warm-up broken: infinitely many sds away
            out += ((key, v, math.signum(v - mean) * Double.PositiveInfinity))
          }
        }
        cur = welfordAdd(cur, v)
        any = true
      }
      if (any) st.update(cur)
      out.iterator
    }
  }

  /** One Welford accumulation step (pure; property-tested against the
    * exact two-pass mean/variance in RandomizedSpec). */
  private[graft] def welfordAdd(st: (Long, Double, Double),
      v: Double): (Long, Double, Double) = {
    val (n0, mean0, m20) = st
    val n = n0 + 1
    val d = v - mean0
    val mean = mean0 + d / n
    (n, mean, m20 + d * (v - mean))
  }

  /** [[ZScoreProcessor]] over a keyed value stream: per-key online
    * anomaly flags (key, value, z). */
  def anomalyZScore[K: Encoder](ds: Dataset[(K, Double)],
      threshold: Double = 2.5, minN: Long = 30L)(
      implicit outEnc: Encoder[(K, Double, Double)]): Dataset[(K, Double, Double)] =
    ds.groupByKey(_._1).transformWithState(
      new ZScoreProcessor[K](threshold, minN),
      // no timers, no TTL → TimeMode.None (see scd2Changes)
      TimeMode.None(), OutputMode.Append())

  /** [[HeavyHittersProcessor]] over a keyed item stream
    * (key, item, weight): per-key rev-stamped frequent-items
    * snapshots; latest row per key = max rev. */
  def heavyHitters[K: Encoder, I: Encoder](ds: Dataset[(K, I, Long)], k: Int)(
      implicit outEnc: Encoder[(K, Long, Long, Long, Seq[(I, Long)])]): Dataset[(K, Long, Long, Long, Seq[(I, Long)])] =
    ds.groupByKey(_._1).transformWithState(
      new HeavyHittersProcessor[K, I](k),
      // no timers, no TTL → TimeMode.None (see scd2Changes)
      TimeMode.None(), OutputMode.Append())

  /** Gap-flush on the event-time watermark — Beam's
    * `Window.into(Sessions.withGapDuration(gap))` under the default
    * AfterWatermark trigger: values buffer per key into event-time
    * session clusters, each emitted as one batch (in event-time order)
    * when the watermark passes its last event + gap. `ds` must carry a
    * watermark on its timestamp column (`.withWatermark("_2", …)`
    * upstream — EventTime mode requires it). See [[eventTimeGapApply]]. */
  def eventTimeGapFlush[K: Encoder, V: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, V)], gapMs: Long)(
      implicit outEnc: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    eventTimeGapApply(ds, gapMs)((k, vs) => Iterator((k, vs)))

  /** [[eventTimeGapFlush]] with the group transform applied INSIDE the
    * stateful processor at flush time — avoids materializing a
    * `(K, Seq[V])` dataset (and its Seq encoder) when the caller only
    * wants the per-session result, e.g. the streaming MATCH_RECOGNIZE
    * front door running its NFA on each watermark-closed session.
    *
    * Sessions are EVENT-TIME clusters, not arrival-time ones: rows
    * sorted by event time split wherever the next row starts more than
    * `gapMs` past the cluster's max — so an event arriving (in
    * processing time) before an older session closes, but carrying an
    * event time a full gap later, opens a NEW session instead of
    * silently extending the old one, and a late within-watermark row
    * that bridges two open clusters merges them. This is the
    * count-trigger pane machine ([[TriggeredSessionProcessor]]) over
    * [[WindowFn.Sessions]] with no element triggers, no allowed
    * lateness and discarding panes, so the one pane each session
    * fires is its closing ON_TIME pane, and `f(key, values)` runs on
    * it. */
  def eventTimeGapApply[K: Encoder, V: Encoder, O](
      ds: Dataset[(K, java.sql.Timestamp, V)], gapMs: Long)(
      f: (K, Seq[V]) => Iterator[O])(
      implicit outEnc: Encoder[O]): Dataset[O] =
    ds.groupByKey(_._1).transformWithState(
      new TriggeredSessionProcessor[K, V, O](WindowFn.Sessions(gapMs), 0L,
        Never, Never, accumulating = false)(p => f(p._1, p._6)),
      TimeMode.EventTime(), OutputMode.Append())

  /** FIXED (tumbling) event-time windows with an apply at close —
    * Beam's per-key-AND-window grouping under the default
    * AfterWatermark trigger: rows buffer per (key, windowStart), ONE
    * timer arms at window end, and `f(key, windowStart, rows)` runs
    * when the watermark passes it (rows in event-time order). The
    * fixed-window sibling of [[eventTimeGapApply]]'s sessions. */
  def eventTimeWindowApply[K: Encoder, V: Encoder, O](
      ds: Dataset[(K, java.sql.Timestamp, V)], windowMs: Long)(
      f: (K, Long, Seq[V]) => Iterator[O])(
      implicit outEnc: Encoder[O]): Dataset[O] = {
    // fail at plan time, not as an executor-side floorDiv / by zero
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    implicit val keyEnc: Encoder[(K, Long)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong)
    ds.groupByKey { case (k, ts, _) =>
      (k, Math.floorDiv(ts.getTime, windowMs) * windowMs)
    }.transformWithState(
      new EventTimeWindowProcessor[K, K, V, O](windowMs, f),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** SLIDING event-time windows with an apply at close — rows are
    * replicated to every covering window (one per `slideMs` step, the
    * Beam SlidingWindows assignment), each (key, windowStart) group
    * buffers independently and flushes via `f` when the watermark
    * passes ITS window end. windowMs must be a multiple of slideMs'
    * granularity in spirit; any positive pair works (assignment is
    * start ∈ {…, floor(t/slide)·slide} with start > t − window). */
  def eventTimeSlidingApply[K: Encoder, V: Encoder, O](
      ds: Dataset[(K, java.sql.Timestamp, V)], windowMs: Long,
      slideMs: Long)(f: (K, Long, Seq[V]) => Iterator[O])(
      implicit outEnc: Encoder[O]): Dataset[O] = {
    require(windowMs > 0 && slideMs > 0 && slideMs <= windowMs,
      s"bad sliding windows: window=$windowMs slide=$slideMs")
    implicit val keyEnc: Encoder[(K, Long)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong)
    implicit val expEnc: Encoder[((K, Long), java.sql.Timestamp, V)] =
      Encoders.tuple(keyEnc, Encoders.TIMESTAMP, implicitly[Encoder[V]])
    val exploded = ds.flatMap { case (k, ts, v) =>
      val t = ts.getTime
      Iterator.iterate(Math.floorDiv(t, slideMs) * slideMs)(_ - slideMs)
        .takeWhile(s => s > t - windowMs)
        .map(s => ((k, s), ts, v))
    }
    exploded.groupByKey(_._1).transformWithState(
      new EventTimeWindowProcessor[(K, Long), K, V, O](windowMs, f),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Processor behind [[eventTimeWindowApply]] / [[eventTimeSlidingApply]]:
    * key = (user key, windowStart); buffer + one end-of-window
    * event-time timer. `A` is the input row's first slot (the bare key
    * for fixed windows, the composite for pre-exploded sliding ones) —
    * only the timestamp and value slots are read. */
  class EventTimeWindowProcessor[A, K, V, O](windowMs: Long,
      flushFn: (K, Long, Seq[V]) => Iterator[O])(implicit vEnc: Encoder[V])
      extends StatefulProcessor[(K, Long), (A, java.sql.Timestamp, V), O] {

    @transient private var buf: ListState[(Long, V)] = _
    @transient private var armed: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[(Long, V)]("buf",
        Encoders.tuple(Encoders.scalaLong, vEnc), TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed",
        Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(key: (K, Long),
        rows: Iterator[(A, java.sql.Timestamp, V)],
        timers: TimerValues): Iterator[O] = {
      // ONE appendList per key per batch — see SessionLog.flush
      val local = scala.collection.mutable.ArrayBuffer[(Long, V)]()
      rows.foreach { case (_, ts, v) => local += ((ts.getTime, v)) }
      if (local.nonEmpty) buf.appendList(toArr(local))
      if (!armed.exists()) {
        getHandle.registerTimer(key._2 + windowMs)
        armed.update(true)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: (K, Long), timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[O] = {
      val rows = buf.get().toSeq.sortBy(_._1).map(_._2)
      buf.clear(); armed.clear()
      if (rows.nonEmpty) flushFn(key._1, key._2, rows) else Iterator.empty
    }
  }

  /** Beam's trigger language (windowing/Trigger.java) as ONE
    * serializable tree for every pane processor, implicitly wrapped in
    * `Repeatedly.forever` (Repeatedly.java:38): each firing resets the
    * repeatable shapes, so panes always re-arm.
    *
    *  - [[AfterCount]]`(n)` — AfterPane.elementCountAtLeast(n)
    *    (AfterPane.java:33)
    *  - [[AfterDelay]]`(d)` — AfterProcessingTime
    *    .pastFirstElementInPane().plusDelayOf(d)
    *    (AfterProcessingTime.java:39), anchored at the first element
    *    since the previous firing
    *  - [[AfterFirst]] / [[AfterAll]] — ready when ANY / EVERY child is
    *    (AfterFirst.java:31, AfterAll.java:30)
    *  - [[AfterEach]] / [[OrFinally]] — the two stateful composites
    *    (AfterEach.java:43, OrFinallyTrigger.java:31)
    *  - [[Never]] — no element-driven pane, only the watermark's
    *
    * One tree, two readings. The event-time clock
    * ([[TriggeredSessionProcessor]]) asks after every element through
    * the count-state contract ([[onElement]], [[finished]],
    * [[mergeState]]) and rejects [[AfterDelay]]; the wall clock
    * ([[MixedTriggerSessionProcessor]]) asks [[readyAt]] for the tree's
    * deadline and rejects the stateful composites, whose progress would
    * need the pane slot it keeps its anchor in. */
  sealed trait PaneTrigger extends Serializable {
    /** Ready on `since` elements alone, for the stateless shapes. */
    def shouldFire(since: Long): Boolean
    /** Stateless shapes — the composites may only nest these, so one
      * Long can encode the whole per-window trigger state. */
    def isPure: Boolean = true
    /** The tree holds an [[AfterDelay]], which only the wall clock reads. */
    def hasDelay: Boolean = false
    /** Stateful contract: given the opaque per-window trigger state
      * (0 at window open and after the on-time reset) and the count
      * since the last firing, decide (fire?, nextState). Pure shapes
      * ignore the state. */
    def onElement(state: Long, since: Long): (Boolean, Long) =
      (shouldFire(since), state)
    /** A finished composite never fires again in this window (the
      * on-time / close panes are AfterWatermark's and still fire). */
    def finished(state: Long): Boolean = false
    /** Combine the trigger states of two MERGING windows (sessions) —
      * Beam's onMerge trigger-state merge (ReduceFnRunner.java:97 over
      * Sessions.java:57-66). Progress composites join at the furthest
      * point; [[OrFinally]] overrides to SUM the until-counts (Beam
      * merges AfterPane element counts by summing the combining
      * state). Pure shapes carry no state. */
    def mergeState(a: Long, b: Long): Long = math.max(a, b)
    /** Earliest wall-clock instant at which the pure tree is (or
      * becomes) ready, holding the element count fixed: `Some(ts)` with
      * ts ≤ now means ready NOW; `None` means no amount of waiting alone
      * satisfies it (an unsatisfied count condition). All children share
      * the pane's single anchor — equivalent to Beam's per-subtrigger
      * anchors because the whole tree resets together on every firing. */
    def readyAt(cnt: Long, anchorMs: Long): Option[Long] =
      throw new UnsupportedOperationException(s"$this has no wall-clock reading")
  }
  final case class AfterCount(n: Int) extends PaneTrigger {
    require(n > 0, "AfterCount needs n > 0")
    def shouldFire(since: Long): Boolean = since >= n
    override def readyAt(cnt: Long, anchorMs: Long): Option[Long] =
      if (cnt >= n) Some(0L) else None
  }
  final case class AfterDelay(delayMs: Long) extends PaneTrigger {
    require(delayMs > 0, "AfterDelay needs delayMs > 0")
    def shouldFire(since: Long): Boolean = false
    override def hasDelay: Boolean = true
    override def readyAt(cnt: Long, anchorMs: Long): Option[Long] =
      if (cnt > 0) Some(anchorMs + delayMs) else None
  }
  final case class AfterFirst(ts: PaneTrigger*) extends PaneTrigger {
    require(ts.nonEmpty && ts.forall(_.isPure), "AfterFirst nests >= 1 pure triggers")
    def shouldFire(since: Long): Boolean = ts.exists(_.shouldFire(since))
    override def hasDelay: Boolean = ts.exists(_.hasDelay)
    override def readyAt(cnt: Long, anchorMs: Long): Option[Long] =
      ts.flatMap(_.readyAt(cnt, anchorMs)).minOption
  }
  final case class AfterAll(ts: PaneTrigger*) extends PaneTrigger {
    require(ts.nonEmpty && ts.forall(_.isPure), "AfterAll nests >= 1 pure triggers")
    def shouldFire(since: Long): Boolean = ts.forall(_.shouldFire(since))
    override def hasDelay: Boolean = ts.exists(_.hasDelay)
    override def readyAt(cnt: Long, anchorMs: Long): Option[Long] = {
      val r = ts.map(_.readyAt(cnt, anchorMs))
      Option.when(r.forall(_.isDefined))(r.flatten.max)
    }
  }
  case object Never extends PaneTrigger {
    def shouldFire(since: Long): Boolean = false
    override def readyAt(cnt: Long, anchorMs: Long): Option[Long] = None
  }
  /** Beam AfterEach.inOrder: run the children in SEQUENCE — child i
    * must fire before child i+1 starts being evaluated; after the last
    * child fires the composite is finished for the window. Each child
    * sees the element count since the composite's previous firing (its
    * own fresh pane). State = index of the active child. */
  final case class AfterEach(children: PaneTrigger*) extends PaneTrigger {
    require(children.nonEmpty && children.forall(_.isPure),
      "AfterEach needs >= 1 pure children")
    override def isPure: Boolean = false
    override def hasDelay: Boolean = children.exists(_.hasDelay)
    def shouldFire(since: Long): Boolean = children.head.shouldFire(since)
    override def onElement(state: Long, since: Long): (Boolean, Long) =
      if (state >= children.size) (false, state)
      else if (children(state.toInt).shouldFire(since)) (true, state + 1)
      else (false, state)
    override def finished(state: Long): Boolean = state >= children.size
  }
  /** Beam OrFinallyTrigger (`Repeatedly.forever(main).orFinally(until)`):
    * behaves as `main`, but when `until` fires the composite fires ONE
    * last pane and is finished for the window. Beam resets only the
    * repeated `main` on each firing while `until` keeps its state —
    * mirrored here by evaluating `until` against the element count
    * since WINDOW start (carried in the trigger state), while `main`
    * sees the pane-local count. State = (untilCount << 1) | finishedBit. */
  final case class OrFinally(main: PaneTrigger, until: PaneTrigger)
      extends PaneTrigger {
    require(main.isPure && until.isPure, "OrFinally nests pure triggers only")
    override def isPure: Boolean = false
    override def hasDelay: Boolean = main.hasDelay || until.hasDelay
    def shouldFire(since: Long): Boolean = main.shouldFire(since)
    override def onElement(state: Long, since: Long): (Boolean, Long) =
      if ((state & 1L) == 1L) (false, state)
      else {
        val untilCount = (state >> 1) + 1
        if (until.shouldFire(untilCount)) (true, 1L) // fire, then finish
        else (main.shouldFire(since), untilCount << 1)
      }
    override def finished(state: Long): Boolean = (state & 1L) == 1L
    override def mergeState(a: Long, b: Long): Long =
      (((a >> 1) + (b >> 1)) << 1) | ((a | b) & 1L)
  }

  /** One fired pane of a [[PaneProcessor]]:
    * (key, windowStart, paneIndex, timing, isFinal, values). Timing ∈
    * EARLY / ON_TIME / LATE — Beam's PaneInfo.Timing
    * (windowing/PaneInfo.java:45) — or RETRACT; paneIndex increments
    * per firing of the same window; isFinal marks the window-closing
    * (GC) pane. */
  type Pane[K, V] = (K, Long, Long, String, Boolean, Seq[V])

  /** Nexmark Q3's incremental join (nexmark/.../queries/Query3.java —
    * THE Beam state+timers showcase): per key, one LEFT ("person") value
    * arrives at some point; RIGHT ("auction") values arriving BEFORE it
    * buffer in BagState and flush the moment the person appears; rights
    * arriving after join immediately against the ValueState. First
    * person wins (Q3's semantics — person records are immutable).
    *
    * Input rows carry exactly one side: (key, Some(l), None) or
    * (key, None, Some(r)). Output: one (key, l, r) per joined pair. */
  class IncrementalJoinProcessor[K, L, R](ttl: TTLConfig = TTLConfig.NONE)(
      implicit lEnc: Encoder[L], rEnc: Encoder[R])
      extends StatefulProcessor[K, (K, Option[L], Option[R]), (K, L, R)] {

    @transient private var person: ValueState[L] = _
    @transient private var pending: ListState[R] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // the GC story: with a TTL, a person (and any never-joined
      // buffered rights) ages out `ttl` after its last update — bounded
      // state for keys that stop arriving. NONE matches Beam Q3's
      // forever-persons exactly.
      person = getHandle.getValueState[L]("person", lEnc, ttl)
      pending = getHandle.getListState[R]("pending", rEnc, ttl)
    }

    override def handleInputRows(key: K, rows: Iterator[(K, Option[L], Option[R])],
        timers: TimerValues): Iterator[(K, L, R)] = {
      val out = scala.collection.mutable.ArrayBuffer[(K, L, R)]()
      // rights buffer locally; ONE appendList persists the batch's
      // still-unjoined remainder — see SessionLog.flush
      val local = scala.collection.mutable.ArrayBuffer[R]()
      // one state read per key per batch: `get()` is null when absent,
      // which is all `exists()` tests
      var current: Option[L] = Option(person.get())
      rows.foreach {
        case (_, Some(l), _) if current.isEmpty =>
          person.update(l)
          current = Some(l)
          val buffered = pending.get().toSeq ++ local
          pending.clear(); local.clear()
          buffered.foreach(r => out += ((key, l, r)))
        case (_, Some(_), _) => // duplicate person: first wins
        case (_, None, Some(r)) => current match {
          case Some(l) => out += ((key, l, r))
          case None => local += r
        }
        case _ => // (None, None): ignore
      }
      if (local.nonEmpty) pending.appendList(toArr(local))
      out.iterator
    }
  }

  /** Streaming Nexmark-Q3 join — see [[IncrementalJoinProcessor]].
    * Pass a `ttl` to bound state for keys that never complete
    * (TTL requires ProcessingTime mode). */
  def incrementalJoin[K: Encoder, L: Encoder, R: Encoder](
      ds: Dataset[(K, Option[L], Option[R])],
      ttl: TTLConfig = TTLConfig.NONE)(
      implicit outEnc: Encoder[(K, L, R)]): Dataset[(K, L, R)] =
    ds.groupByKey(_._1).transformWithState(
      new IncrementalJoinProcessor[K, L, R](ttl),
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime(),
      OutputMode.Append())

  /** Streaming TEMPORAL (as-of) join — enrich each left event with the
    * right-side version in effect at the event's timestamp (greatest
    * version ts <= event ts): the streaming form of `Joins.asofJoin`,
    * Flink's temporal-table join, and the keyed state+timers pattern
    * Beam users hand-build over CoGBK for CDC-dimension enrichment.
    *
    * Correctness under out-of-order arrival: event e can only resolve
    * once no version with ts' <= e.ts can still arrive — i.e. once the
    * event-time WATERMARK (Spark takes the min across both unioned
    * inputs) has passed e.ts. Events buffer per key and resolve inside
    * an event-time timer armed at the earliest pending event ts; a
    * version arriving before the watermark passes an already-buffered
    * event is therefore SEEN by that event, which a naive lookup-join
    * against "current" state would miss. Rows older than the watermark
    * are dropped by the engine's late-row filter before reaching the
    * processor (allowed lateness 0 — tune via the watermark delay).
    *
    * GC: after each flush, every version strictly older than the newest
    * version <= watermark is superseded for all future events and
    * drops; state per key stays O(unresolved events + live versions).
    *
    * Input rows carry exactly one side: (k, ts, Some(v), None) = event,
    * (k, ts, None, Some(r)) = version. Output: (k, ts, v, Option[r]) —
    * left-outer as-of (None when no version predates the event). */
  class TemporalJoinProcessor[K, V, R](
      implicit vEnc: Encoder[V], rEnc: Encoder[R])
      extends StatefulProcessor[K, (K, java.sql.Timestamp, Option[V], Option[R]),
        (K, java.sql.Timestamp, V, Option[R])] {

    @transient private var versions: MapState[Long, R] = _
    @transient private var pending: ListState[(Long, V)] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      versions = getHandle.getMapState[Long, R]("versions",
        Encoders.scalaLong, rEnc, TTLConfig.NONE)
      pending = getHandle.getListState[(Long, V)]("pending",
        Encoders.tuple(Encoders.scalaLong, vEnc), TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    /** Re-register the wake-up timer. `firedTs`: the timestamp of a
      * timer currently mid-expiry — the engine rejects re-registering
      * that exact ts during the callback (it still exists) and then
      * deletes it afterwards, so aim one ms past it (resolution needs
      * the watermark strictly beyond the event anyway). */
    private def rearm(firedTs: Long = Long.MinValue): Unit = {
      var minTs = Long.MaxValue
      pending.get().foreach(p => if (p._1 < minTs) minTs = p._1)
      val targetRaw =
        if (minTs != Long.MaxValue) minTs
        else {
          // versions-only key (no pending events): arm at the SECOND-
          // smallest version ts, so the superseded older version GCs
          // when the watermark passes it — without this, a dimension
          // key that updates but is never probed accumulates state
          // forever (the #1 long-running-stream failure mode).
          var lo = Long.MaxValue
          var lo2 = Long.MaxValue
          versions.keys().foreach { t =>
            if (t < lo) { lo2 = lo; lo = t } else if (t < lo2) lo2 = t
          }
          lo2
        }
      val target =
        if (targetRaw != Long.MaxValue && targetRaw <= firedTs) firedTs + 1
        else targetRaw
      if (target == Long.MaxValue) {
        if (armed.exists()) { getHandle.deleteTimer(armed.get()); armed.clear() }
      } else if (!armed.exists() || armed.get() != target) {
        if (armed.exists()) getHandle.deleteTimer(armed.get())
        getHandle.registerTimer(target)
        armed.update(target)
      }
    }

    override def handleInputRows(key: K,
        rows: Iterator[(K, java.sql.Timestamp, Option[V], Option[R])],
        timers: TimerValues): Iterator[(K, java.sql.Timestamp, V, Option[R])] = {
      // events buffer locally, ONE appendList — see SessionLog.flush
      val local = scala.collection.mutable.ArrayBuffer[(Long, V)]()
      rows.foreach {
        case (_, ts, Some(v), _) => local += ((ts.getTime, v))
        case (_, ts, _, Some(r)) => versions.updateValue(ts.getTime, r)
        case _ => // (None, None): ignore
      }
      if (local.nonEmpty) pending.appendList(toArr(local))
      rearm()
      Iterator.empty
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[(K, java.sql.Timestamp, V, Option[R])] = {
      val wm = timers.getCurrentWatermarkInMs()
      // ts == wm could still gain a version at exactly wm → only < wm
      // is safe to resolve; the rest re-arm.
      val (ready, rest) = pending.get().toSeq.partition(_._1 < wm)
      val vers = versions.iterator().map(p => (p._1, p._2)).toArray.sortBy(_._1)
      val out = ready.sortBy(_._1).map { case (ts, v) =>
        // floor lookup: newest version at-or-before the event
        var floor: Option[R] = None
        var i = 0
        while (i < vers.length && vers(i)._1 <= ts) { floor = Some(vers(i)._2); i += 1 }
        (key, new java.sql.Timestamp(ts), v, floor)
      }
      if (ready.nonEmpty) {
        if (rest.isEmpty) pending.clear()
        else pending.put(rest.toArray)
      }
      // GC: the newest version <= wm stays (floor candidate for every
      // future on-time event); all strictly older ones are unreachable
      val live = vers.filter(_._1 <= wm)
      if (live.length > 1) live.iterator.take(live.length - 1)
        .foreach(p => versions.removeKey(p._1))
      // the engine DELETES the fired timer after this callback (and
      // rejects re-registering its exact ts during it) — clear `armed`
      // unconditionally and aim past the fired ts, or the key stalls
      // permanently when the watermark lands exactly on the earliest
      // pending event.
      armed.clear()
      rearm(firedTs = timer.getExpiryTimeInMs())
      out.iterator
    }
  }

  /** Streaming as-of join — see [[TemporalJoinProcessor]]. Tags, unions
    * and watermarks the two inputs (`delay` on both sides; the engine
    * runs on the min watermark), then resolves per key at watermark
    * passage. */
  def temporalJoin[K: Encoder, V: Encoder, R: Encoder](
      events: Dataset[(K, java.sql.Timestamp, V)],
      versions: Dataset[(K, java.sql.Timestamp, R)],
      delay: String = "0 seconds")(
      implicit unionEnc: Encoder[(K, java.sql.Timestamp, Option[V], Option[R])],
      outEnc: Encoder[(K, java.sql.Timestamp, V, Option[R])])
      : Dataset[(K, java.sql.Timestamp, V, Option[R])] = {
    val l = events
      .map { case (k, ts, v) => (k, ts, Option(v), Option.empty[R]) }
      .withWatermark("_2", delay)
    val r = versions
      .map { case (k, ts, rr) => (k, ts, Option.empty[V], Option(rr)) }
      .withWatermark("_2", delay)
    l.union(r).groupByKey(_._1).transformWithState(
      new TemporalJoinProcessor[K, V, R](),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Nexmark Q9 "winning bids" (nexmark/.../queries/Query9.java): per
    * key, an auction row opens a window of `durationMs`; bid rows
    * compete by (price desc, time asc, id asc); when the WATERMARK
    * passes the auction close, the winning bid emits and state clears.
    * Bids arriving before their auction buffer and replay once it opens
    * (out-of-order arrival, Beam's Q9 join contract); bids outside the
    * auction window drop at replay/arrival time.
    *
    * Input: (key, eventTime, isAuction, id, value).
    * Output: (key, auctionId, bidId, price).
    *
    * GC story: auction state clears at the close timer. Bids buffered
    * for a key whose auction NEVER arrives would leak — when
    * `orphanTtlMs` > 0, the first orphan bid arms a cleanup timer at
    * (bidTime + orphanTtlMs); if no auction has opened by then, the
    * buffer drops (bounded state under key churn). */
  class WinningBidProcessor[K](durationMs: Long, orphanTtlMs: Long = 0L)
      extends StatefulProcessor[K, (K, java.sql.Timestamp, Boolean, Long, Double), (K, Long, Long, Double)] {

    @transient private var auction: ValueState[(Long, Long)] = _      // (openMs, auctionId)
    @transient private var best: ValueState[(Double, Long, Long)] = _ // (value, tsMs, bidId)
    @transient private var early: ListState[(Long, Long, Double)] = _ // (tsMs, bidId, value)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      auction = getHandle.getValueState[(Long, Long)]("auction",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      best = getHandle.getValueState[(Double, Long, Long)]("best",
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)
      early = getHandle.getListState[(Long, Long, Double)]("early",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaDouble), TTLConfig.NONE)
    }

    override def handleInputRows(key: K,
        rows: Iterator[(K, java.sql.Timestamp, Boolean, Long, Double)],
        timers: TimerValues): Iterator[(K, Long, Long, Double)] = {
      // best/early fold into LOCALS, persisted once at the end —
      // per-row ValueState get/update and ListState appendValue pay a
      // per-call store overhead that grows within a batch (see
      // SessionLog.flush)
      var bestLocal: (Double, Long, Long) = null
      var bestLoaded = false
      var bestDirty = false
      def offer(openMs: Long, tsMs: Long, bidId: Long, value: Double): Unit =
        if (tsMs >= openMs && tsMs < openMs + durationMs) {
          if (!bestLoaded) {
            bestLocal = if (best.exists()) best.get() else null
            bestLoaded = true
          }
          val better = bestLocal == null || {
            val (bv, bts, bid) = bestLocal
            value > bv || (value == bv && (tsMs < bts ||
              (tsMs == bts && bidId < bid)))
          }
          if (better) { bestLocal = (value, tsMs, bidId); bestDirty = true }
        }
      val localEarly = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      var storeProbed = false
      var storeNonEmpty = false
      def storeHasRows: Boolean = {
        if (!storeProbed) { storeNonEmpty = early.get().hasNext; storeProbed = true }
        storeNonEmpty
      }
      rows.foreach { case (_, ts, isAuction, id, value) =>
        if (isAuction) {
          if (!auction.exists()) {
            val openMs = ts.getTime
            auction.update((openMs, id))
            getHandle.registerTimer(openMs + durationMs)
            early.get().foreach { case (bts, bid, bv) => offer(openMs, bts, bid, bv) }
            localEarly.foreach { case (bts, bid, bv) => offer(openMs, bts, bid, bv) }
            early.clear(); localEarly.clear()
          }
        } else {
          if (auction.exists()) offer(auction.get()._1, ts.getTime, id, value)
          else {
            if (orphanTtlMs > 0 && localEarly.isEmpty && !storeHasRows)
              getHandle.registerTimer(ts.getTime + orphanTtlMs)
            localEarly += ((ts.getTime, id, value))
          }
        }
      }
      if (localEarly.nonEmpty) early.appendList(localEarly.toArray)
      if (bestDirty) best.update(bestLocal)
      Iterator.empty
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[(K, Long, Long, Double)] = {
      if (!auction.exists()) {
        // orphan-bid horizon passed with no auction: drop only the
        // bids whose OWN horizon this expiry covers. A stale timer (its
        // cohort was consumed by an auction that itself already closed)
        // must not clear bids buffered for the NEXT auction — those
        // keep their buffer and a re-armed timer at the earliest
        // survivor's horizon.
        val expiry = timer.getExpiryTimeInMs()
        val keep =
          if (orphanTtlMs <= 0) Seq.empty // unreachable defensively
          else early.get().filter(_._1 + orphanTtlMs > expiry).toSeq
        if (keep.isEmpty) early.clear()
        else {
          early.put(keep.toArray)
          getHandle.registerTimer(keep.iterator.map(_._1).min + orphanTtlMs)
        }
        Iterator.empty
      } else if (timer.getExpiryTimeInMs() ==
          auction.get()._1 + durationMs) {
        val out =
          if (best.exists()) {
            val (_, auctionId) = auction.get()
            val (value, _, bidId) = best.get()
            Iterator((key, auctionId, bidId, value))
          } else Iterator.empty
        auction.clear(); best.clear(); early.clear()
        out
      } else Iterator.empty // stale orphan timer; the auction did open
    }
  }

  /** Streaming Nexmark-Q9 winning bids — see [[WinningBidProcessor]].
    * `ds` must carry a watermark on the timestamp column. */
  def winningBid[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Boolean, Long, Double)],
      durationMs: Long, orphanTtlMs: Long = 0L)(
      implicit outEnc: Encoder[(K, Long, Long, Double)]): Dataset[(K, Long, Long, Double)] =
    ds.groupByKey(_._1).transformWithState(
      new WinningBidProcessor[K](durationMs, orphanTtlMs),
      TimeMode.EventTime(), OutputMode.Append())

  /** Fixed windows with Beam's early/on-time/late trigger panes — the
    * count-trigger pane machine ([[TriggeredSessionProcessor]]) over
    * [[WindowFn.Fixed]], e.g.
    * `early = AfterFirst(AfterCount(100), AfterAll(...))`. `ds` must
    * carry `.withWatermark(tsCol, s"$allowedLatenessMs milliseconds")`,
    * and `allowedLatenessMs < windowMs`. The default `early = Never` is
    * Beam's default trigger: no early firings. */
  def triggeredWindows[K: Encoder, V: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, V)], windowMs: Long,
      allowedLatenessMs: Long = 0L, early: PaneTrigger = Never,
      late: PaneTrigger = AfterCount(1), accumulating: Boolean = false,
      retractions: Boolean = false)(
      implicit outEnc: Encoder[Pane[K, V]]): Dataset[Pane[K, V]] =
    ds.groupByKey(_._1).transformWithState(
      new TriggeredSessionProcessor[K, V, Pane[K, V]](WindowFn.Fixed(windowMs),
        allowedLatenessMs, early, late, accumulating, retractions)(Iterator.single),
      TimeMode.EventTime(), OutputMode.Append())

  /** Beam's WindowFn for the pane processors: which window an element
    * lands in, where that window ends, when a row is too late for it,
    * and what the event-time clock can carry. Every shape keys window
    * state by window START in the per-key [[SessionPanes.St]]
    * summaries over ONE append-only [[SessionLog]]; fixed windows never
    * overlap and a key has one global window, so the log's liveness
    * test and `maybeRewrite`'s predecessor lookup stay exact for them. */
  sealed trait WindowFn extends Serializable {
    /** Locate the window for an element at `t`, mutating `m`: returns
      * (windowStart, state-before-append). `nextPos` = the log position
      * the element will be appended at; a newly opened (or rekeyed)
      * window's liveness cutoff starts there, so stale log rows of
      * since-closed windows in the same ts range never resurrect.
      * `combine5` merges slot 5 of two merging windows and `retract`
      * runs for every pane a window-identity change invalidates
      * (merging windows only — see [[WindowFn.Sessions]]). */
    private[graft] def upsert(m: scala.collection.mutable.TreeMap[Long, SessionPanes.St],
        t: Long, nextPos: Long,
        combine5: (Boolean, Long, Boolean, Long) => Long,
        retract: (Long, SessionPanes.St) => Unit): (Long, SessionPanes.St)

    /** End of the window keyed at `min`: Beam's end of window, the
      * instant the watermark must pass for the ON_TIME pane. */
    private[graft] def end(min: Long, st: SessionPanes.St): Long

    /** End of the window an element at `t` opens on arrival (a session
      * element's proto-window [t, t + gap)): once the watermark passes
      * it plus the allowed lateness, the element is droppable — Beam's
      * window-end drop rule. */
    private[graft] def dropPoint(t: Long): Long

    /** Reject what the event-time clock cannot carry: a window that
      * never ends, or a lateness that puts the on-time timer, armed at
      * (end − lateness), at or before an element of the window — see
      * [[TriggeredSessionProcessor]]. */
    private[graft] def requireEventTime(allowedLatenessMs: Long): Unit
  }

  object WindowFn {
    /** Non-merging assignment: the element joins the window keyed at
      * `w` (opened at `nextPos` when absent) and only its maxTs moves. */
    private def assign(m: scala.collection.mutable.TreeMap[Long, SessionPanes.St],
        w: Long, t: Long, nextPos: Long): (Long, SessionPanes.St) =
      m.get(w) match {
        case Some(st) => (w, st.copy(_6 = math.max(st._6, t)))
        case None => (w, (Seq((w, nextPos)), 0L, 0L, false, 0L, t, 0L))
      }

    /** Beam's GlobalWindows: one window per key, keyed at Long.MinValue,
      * that never ends, never drops a row and never merges — so no
      * watermark transition ever falls due and only the trigger fires
      * its panes. The wall clock runs it ([[compositeTriggerPanes]]);
      * the event-time clock, whose panes end at the watermark, rejects
      * it. */
    case object Global extends WindowFn {
      private[graft] def upsert(m: scala.collection.mutable.TreeMap[Long, SessionPanes.St],
          t: Long, nextPos: Long,
          combine5: (Boolean, Long, Boolean, Long) => Long,
          retract: (Long, SessionPanes.St) => Unit): (Long, SessionPanes.St) =
        assign(m, Long.MinValue, t, nextPos)

      private[graft] def end(min: Long, st: SessionPanes.St): Long = Long.MaxValue

      private[graft] def dropPoint(t: Long): Long = Long.MaxValue

      private[graft] def requireEventTime(allowedLatenessMs: Long): Unit =
        throw new IllegalArgumentException("a Global window never ends: " +
          "the event-time clock can neither fire its ON_TIME pane nor close it")
    }

    /** Tumbling windows of `sizeMs` (Beam FixedWindows): an element at
      * `t` belongs to [floor(t / size)·size, +size); windows never
      * merge or rekey, so the merge callbacks never run. */
    final case class Fixed(sizeMs: Long) extends WindowFn {
      require(sizeMs > 0, s"windowMs must be positive, got $sizeMs")

      private def start(t: Long): Long = Math.floorDiv(t, sizeMs) * sizeMs

      private[graft] def upsert(m: scala.collection.mutable.TreeMap[Long, SessionPanes.St],
          t: Long, nextPos: Long,
          combine5: (Boolean, Long, Boolean, Long) => Long,
          retract: (Long, SessionPanes.St) => Unit): (Long, SessionPanes.St) =
        assign(m, start(t), t, nextPos)

      private[graft] def end(min: Long, st: SessionPanes.St): Long = min + sizeMs

      private[graft] def dropPoint(t: Long): Long = start(t) + sizeMs

      private[graft] def requireEventTime(allowedLatenessMs: Long): Unit =
        require(allowedLatenessMs < sizeMs,
          s"allowedLatenessMs ($allowedLatenessMs) must be < windowMs " +
            s"($sizeMs): the on-time timer arms at windowEnd - lateness, " +
            "which must fall strictly inside the window")
    }

    /** Merging gap sessions (Beam Sessions, Sessions.java:42,57-66):
      * per-key event-time clusters whose consecutive elements are at
      * most `gapMs` apart; a session ends at its max element + gap. */
    final case class Sessions(gapMs: Long) extends WindowFn {
      require(gapMs > 0, s"gapMs must be positive, got $gapMs")

      /** Gap connectivity: extend the predecessor, move a successor's
        * start down (REKEY), bridge-merge both, or open a singleton.
        * `retract(windowStart, partState)` runs for both parts of a
        * two-sided merge AND the old start of a downward rekey (the
        * session's windowStart changes, so a pane published under the
        * old start must be retracted before panes appear under the new
        * one); the invalidated lineage restarts with lastFirePos = 0. */
      private[graft] def upsert(m: scala.collection.mutable.TreeMap[Long, SessionPanes.St],
          t: Long, nextPos: Long,
          combine5: (Boolean, Long, Boolean, Long) => Long,
          retract: (Long, SessionPanes.St) => Unit): (Long, SessionPanes.St) = {
        val predKey = m.rangeTo(t).lastOption.map(_._1)
        val succKey = m.rangeFrom(t + 1).headOption.map(_._1)
        val joinsPred = predKey.exists(p => t <= m(p)._6 + gapMs)
        val joinsSucc = succKey.exists(s => s - t <= gapMs)
        (joinsPred, joinsSucc) match {
          case (true, true) =>
            val p = predKey.get; val s = succKey.get
            val a = m(p); val b = m(s)
            val (ac, asn, ap, af, a5, amx, _) = a
            val (bc, bsn, bp, bf, b5, bmx, _) = b
            m.remove(s)
            retract(p, a)
            retract(s, b)
            // cuts concatenate in key order (part spans are disjoint,
            // all of a's tsLo < s ≤ b's tsLo) — each part keeps its own
            // liveness fence across the merge; equal adjacent fences
            // collapse, and a log compaction collapses ALL fences to 0
            // (see SessionLog.maybeRewrite), bounding cuts length
            (p, (SessionPanes.compact(ac ++ bc), asn + bsn, math.max(ap, bp),
              af || bf, combine5(af, a5, bf, b5), math.max(amx, bmx), 0L))
          case (true, false) =>
            val p = predKey.get
            val (c, sn, pn, f, s5, mx, pl) = m(p)
            (p, (c, sn, pn, f, s5, math.max(mx, t), pl))
          case (false, true) =>
            val s = succKey.get
            val st = m(s)
            m.remove(s) // start moves down to t — new window identity
            retract(s, st)
            (t, st.copy(_1 = (t, nextPos) +: st._1, _7 = 0L))
          case (false, false) =>
            (t, (Seq((t, nextPos)), 0L, 0L, false, 0L, t, 0L))
        }
      }

      private[graft] def end(min: Long, st: SessionPanes.St): Long = st._6 + gapMs

      private[graft] def dropPoint(t: Long): Long = t + gapMs

      private[graft] def requireEventTime(allowedLatenessMs: Long): Unit =
        require(allowedLatenessMs < gapMs,
          s"allowedLatenessMs ($allowedLatenessMs) must be < gapMs ($gapMs): " +
            "the on-time timer arms at sessionEnd - lateness, which must " +
            "fall strictly after the session's max element timestamp")
    }
  }

  /** The per-window pane state both clocks share and the pure helpers
    * over it: the state shape, liveness fences and pane value order.
    * Window assignment lives in [[WindowFn]]; the pane machine in
    * [[PaneProcessor]]. */
  private[graft] object SessionPanes {
    /** (cuts(tsLo, cutoffPos), countSinceLastFire, paneIndex,
      * onTimeFired, slot5, maxTs, lastFirePos).
      *
      * The row buffer is NOT here: rows live in a per-key APPEND-ONLY
      * log ([[SessionLog]]) and the session state holds only summaries
      * + offsets — Beam's BagState-append shape
      * (runners/core-java/.../ReduceFnRunner.java:97 never rewrites the
      * bag), so a session alive across B micro-batches serializes
      * O(batch) per batch through RocksDB, not O(B·n).
      *
      * `cuts` is the piecewise-constant liveness cutoff over the
      * session's event-time span: a log row (pos, ts) is LIVE for
      * session [min..maxTs] iff min ≤ ts ≤ maxTs and
      * pos ≥ cutoff(cuts, ts). Segments are sorted by tsLo with
      * cuts.head.tsLo == min; one segment is added per downward rekey
      * and per merge part (bounded by merges since the last clear), and
      * a discarding-mode clear collapses them to the single segment
      * (min, currentLogPos). `lastFirePos` = the log position fence of
      * the last EMITTED (un-retracted) pane — the retraction baseline
      * (0 = none): that pane's content is exactly the live rows with
      * pos < lastFirePos, because cutoffs are monotone per ts within a
      * session and appends are monotone in pos. */
    type St = (Seq[(Long, Long)], Long, Long, Boolean, Long, Long, Long)

    /** The WHOLE per-key bookkeeping row (r14 packed-meta layout): log
      * counters (nextPos, total, garbage), the single timer-chain slot,
      * and every open session's summary, sorted by session min ts.
      * Open sessions per key are bounded by the gap structure (disjoint
      * spans > gap apart inside the lateness horizon) and a summary is
      * ~10 numbers, so the row stays small — and packing it means a
      * batch writes ONE ValueState put per touched key instead of
      * logMeta + timer slot + one MapState put per dirty session (+ a
      * removeKey per close): the r13 gap-processor discipline
      * (6× → 1.9× rowsUpdated/event there) applied to the session-pane
      * family. A key whose sessions all closed and whose log compacted
      * empty CLEARS the row — zero resident state for idle keys. */
    type Packed = (Long, Long, Long, Long, Seq[(Long, St)])

    /** V-free state shape → one static encoder, no caller plumbing. */
    val packedEnc: Encoder[Packed] = Encoders.product[Packed]

    /** Liveness cutoff for a row at `ts`: the segment with the
      * greatest tsLo ≤ ts (head's cutoff below the first — defensive;
      * such rows do not arise while the invariant head.tsLo == min
      * holds). Binary search — segments are tsLo-sorted, and a
      * many-merge accumulating session carries one segment per merge
      * part since its last fence collapse. */
    def cutoff(cuts: Seq[(Long, Long)], ts: Long): Long = {
      val cs: IndexedSeq[(Long, Long)] = cuts match {
        case i: IndexedSeq[(Long, Long)] @unchecked => i
        case s => s.toIndexedSeq
      }
      var lo = 0; var hi = cs.length // first segment with tsLo > ts
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cs(mid)._1 <= ts) lo = mid + 1 else hi = mid
      }
      if (lo == 0) cs.head._2 else cs(lo - 1)._2
    }

    /** Collapse adjacent segments carrying the same cutoff — the
      * lookup is piecewise-constant, so a run of equal fences is one
      * segment. Keeps `cuts` at O(distinct live fences) across merge
      * chains whose parts share a fence (e.g. parts cleared at the
      * same compaction). */
    def compact(cuts: Seq[(Long, Long)]): Seq[(Long, Long)] =
      if (cuts.length < 2) cuts
      else {
        val b = Vector.newBuilder[(Long, Long)]
        var last = cuts.head
        b += last
        cuts.iterator.drop(1).foreach { seg =>
          if (seg._2 != last._2) { b += seg; last = seg }
        }
        b.result()
      }

    /** Is log row (pos, ts) live for the session keyed at `min`? */
    def live(min: Long, st: St, pos: Long, ts: Long): Boolean =
      ts >= min && ts <= st._6 && pos >= cutoff(st._1, ts)

    /** Pane values in event-time order, ties in log (arrival) order. */
    def paneValues[V](buf: Seq[(Long, V)]): Seq[V] =
      buf.sortBy(_._1).map(_._2)
  }

  /** Per-invocation view over a key's append-only row log — the state
    * half of [[SessionPanes]]. Entries are (pos, ts, value) with
    * monotone virtual positions (a ValueState counter), so cutoffs and
    * pane fences in session summaries survive log rewrites. Appends go
    * straight to the ListState (O(batch) serialization per batch); the
    * full log is READ at most once per invocation (to build the
    * ts-sorted index), and each pane fire/retraction then reads ONLY
    * its session's ts-span through a binary-searched slice — a hot key
    * with many live sessions pays O(its own span) per fire, not
    * O(whole log). `garbage` counts rows dead to every session
    * (discarding-mode clears AND closed sessions — a closed span can
    * never be re-covered: new sessions and downward rekeys fence at
    * the append position, and the gap-separation + lateness-drop
    * arithmetic keeps any live neighbor from ever extending over a
    * closed span, so close-purge is safely lazy); the one O(log)
    * rewrite runs when garbage reaches half the log — classic
    * amortized-O(1)-per-append compaction. */
  private[graft] final class SessionLog[V](
      log: ListState[(Long, Long, V)],
      nextPos0: Long = 0L, total0: Long = 0L, garbage0: Long = 0L) {
    // counters arrive from (and return to) the caller's packed meta
    // row — the log itself persists no scalar state of its own
    var nextPos: Long = nextPos0
    var total: Long = total0
    var garbage: Long = garbage0
    private var cache: scala.collection.mutable.ArrayBuffer[(Long, Long, V)] = null
    // cache[0, baseLen) sorted by (ts, pos); appends after index build
    // land past baseLen and are scanned linearly (O(this batch))
    private var baseSorted: scala.collection.mutable.ArrayBuffer[(Long, Long, V)] = null
    private var baseLen = 0
    // this invocation's appends, persisted by flush() in ONE
    // appendList call: per-row appendValue pays a per-call store
    // overhead that GROWS with the calls already made this batch —
    // the ScaleProbe measured O(batch²) per invocation (a 20k-row
    // batch ~13× slower PER EVENT than a 2k-row batch on identical
    // accumulated state; one appendList restored the 60× loss)
    private val pending = scala.collection.mutable.ArrayBuffer[(Long, Long, V)]()

    def rows(): scala.collection.mutable.ArrayBuffer[(Long, Long, V)] = {
      if (cache == null) {
        cache = scala.collection.mutable.ArrayBuffer[(Long, Long, V)]()
        val it = log.get()
        while (it.hasNext) cache += it.next()
        cache ++= pending // appends made before the first read
      }
      cache
    }

    private def ensureIndex(): Unit = if (baseSorted == null) {
      val r = rows()
      baseLen = r.length
      val b = new scala.collection.mutable.ArrayBuffer[(Long, Long, V)](baseLen)
      var i = 0
      while (i < baseLen) { b += r(i); i += 1 }
      b.sortInPlaceBy(e => (e._2, e._1))
      baseSorted = b
    }

    def append(t: Long, v: V): Unit = {
      val e = (nextPos, t, v)
      pending += e
      if (cache != null) cache += e
      nextPos += 1; total += 1
    }

    /** Persist this invocation's appends — ONE appendList call; must
      * run before the invocation returns (a compaction that already
      * folded them into its rewrite empties `pending` first). */
    def flush(): Unit = if (pending.nonEmpty) {
      log.appendList(pending.toArray)
      pending.clear()
    }

    /** The live rows of the session keyed at `min`, below `beforePos`:
      * a binary-searched slice of the (ts, pos)-sorted index plus this
      * invocation's unindexed appends. Equal-ts rows come out in pos
      * (= arrival) order, so paneValues' stable ts-sort keeps ties
      * stable, as the old in-state buffers did. */
    def content(min: Long, st: SessionPanes.St,
        beforePos: Long = Long.MaxValue): Seq[(Long, V)] = {
      ensureIndex()
      val out = scala.collection.mutable.ArrayBuffer[(Long, V)]()
      var lo = 0; var hi = baseLen // first index with ts >= min
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (baseSorted(mid)._2 < min) lo = mid + 1 else hi = mid
      }
      val mx = st._6
      var i = lo
      while (i < baseLen && baseSorted(i)._2 <= mx) {
        val e = baseSorted(i)
        if (e._1 < beforePos && e._1 >= SessionPanes.cutoff(st._1, e._2))
          out += ((e._2, e._3))
        i += 1
      }
      val c = cache
      var j = baseLen
      while (j < c.length) {
        val e = c(j)
        if (e._1 < beforePos && SessionPanes.live(min, st, e._1, e._2))
          out += ((e._2, e._3))
        j += 1
      }
      out.toSeq
    }

    /** Threshold-driven compaction: rewrite the log keeping only rows
      * live for some open session — when garbage (closed-session and
      * cleared-pane rows; callers account closes via `garbage +=`)
      * reaches half the log, or any session's fence list outgrew
      * `maxCuts` (a long accumulating merge chain). On rewrite, every
      * surviving row is live, so each session's fence list in `m` is
      * COLLAPSED here to the trivial (min, 0) segment — which is what
      * bounds cuts length at O(merges since last compaction), i.e.
      * O(1) amortized. Returns true when it rewrote: the caller must
      * then write back EVERY entry of `m` (the fences changed). */
    def maybeRewrite(m: scala.collection.mutable.TreeMap[Long, SessionPanes.St],
        maxCuts: Int = 32): Boolean = {
      val overflow = m.valuesIterator.exists(_._1.length > maxCuts)
      // the (m.isEmpty && total > 0) arm is defensive: the last close
      // pushes garbage to total anyway, but an undercount must never
      // strand dead rows under an empty session map forever
      if (garbage * 2 < total && !overflow && !(m.isEmpty && total > 0))
        return false
      val keep = rows().filter { case (p, t, _) =>
        m.rangeTo(t).lastOption.exists { case (min, st) =>
          SessionPanes.live(min, st, p, t)
        }
      }
      // rows() includes this invocation's pending appends, so the
      // rewrite persists them too — drop the buffer, then ONE put
      pending.clear()
      if (keep.isEmpty) log.clear() else log.put(keep.toArray)
      cache = keep
      baseSorted = null; baseLen = 0
      total = keep.size.toLong
      garbage = 0L
      m.keys.toSeq.foreach { k => m(k) = m(k).copy(_1 = Seq((k, 0L))) }
      true
    }

    /** Loud detector for a pre-r14 (separate logMeta/MapState layout)
      * checkpoint restore: the caller found NO packed meta row for this
      * key, so the log must be physically empty — rows under an absent
      * meta mean the key's state was written by the r11-r13 layout
      * (sessions2 + logMeta + timer slot), whose summaries restore
      * empty under the renamed variable. Fail fast instead of silently
      * dropping every in-flight session. Cheap: for a genuinely new key
      * the iterator is empty and this is one O(1) probe. */
    def checkFreshLayout(): Unit =
      if (rows().nonEmpty)
        throw new IllegalStateException(
          "session state layout mismatch: row log is non-empty but the " +
            "packed session meta is absent — this checkpoint was written " +
            "by a pre-r14 state layout and cannot be restored; restart " +
            "from a fresh checkpoint")
  }

  /** Beam's trigger/pane state machine — a reduced ReduceFnRunner
    * (runners/core-java/.../ReduceFnRunner.java:97) over a [[WindowFn]]
    * (global, fixed or merging sessions), the part both clocks share.
    * Per key, every open window carries its pane summary
    * ([[SessionPanes.St]], keyed by window start):
    *
    *  - EARLY panes fire before the (conceptual Beam) watermark passes
    *    the window end, as the subclass's trigger decides;
    *  - the ON_TIME pane fires exactly once when it does — even with
    *    nothing new buffered (Beam's OnTimeBehavior.FIRE_ALWAYS);
    *  - LATE panes fire for rows within `allowedLatenessMs` beyond it;
    *  - at end + lateness the window CLOSES: a final pane
    *    (isFinal=true) flushes any unfired remainder and its state is
    *    GC'd — ReduceFnRunner's onGarbageCollection.
    *  - `accumulating=true` ⇒ each pane carries ALL window values so far
    *    (Beam accumulatingFiredPanes); false ⇒ only values since the
    *    previous pane (discardingFiredPanes).
    *  - `retractions=true` (requires accumulating) ⇒ before each
    *    non-first pane, a RETRACT pane re-emits the PREVIOUS pane's
    *    contents so downstream consumers can subtract it — Beam's
    *    accumulatingAndRetractingFiredPanes (`Window.java:259-270` /
    *    the retraction region of beam_runner_api.proto; Beam itself
    *    never shipped runner support — the mode exists here end to end).
    *
    * Pane values come out in event-time order, ties in arrival order
    * (Beam panes are unordered bags).
    *
    * MERGING windows (Sessions.java:57-66, the interplay SURVEY §7.4
    * names as Beam's single most intricate behavior): when a bridging
    * element merges two sessions their pane state merges too — rows
    * concatenate, counts-since-last-fire SUM, the pane index continues
    * from the furthest part (max), slot 5 merges per clock
    * ([[combine5]]) and `fired` (on-time emitted) ORs, so a merged
    * session one of whose parts already fired its ON_TIME pane is
    * post-on-time and fires LATE from then on (at most one ON_TIME pane
    * per session lineage). A merge or downward rekey changes window
    * identity: with retractions each part's last pane retracts under
    * its OWN window start (downstream subtracts the per-window results
    * the merge invalidated), and the merged lineage starts clean — a
    * merged session's later panes can carry an EARLIER windowStart than
    * its early panes, exactly Beam's merging-window model.
    *
    * State: rows live in a per-key append-only [[SessionLog]]; the
    * window summaries, log counters and the clock's single timer-chain
    * slot pack into ONE ValueState row ([[SessionPanes.Packed]]) — one
    * put per touched key per batch, and a key with no open window and
    * an empty log holds no state at all. The row is NAMED "panes3" so
    * a checkpoint of an older layout (MapState per window, or the
    * r11-r13 sessions2 + logMeta + timer slot) can never be decoded as
    * this schema; a renamed variable legally restores EMPTY under state
    * evolution, so [[SessionLog.checkFreshLayout]] makes the restore
    * loud for any checkpoint that carried this processor's "log" (rows
    * under an absent meta are impossible in this layout).
    *
    * Each fired pane passes through `emit` on its way out. Subclasses
    * supply the clock: how panes trigger between watermark
    * transitions, where those transitions fall in their clock
    * ([[onTimeAt]]) and the timer chain that wakes the key. */
  abstract class PaneProcessor[K, V, O](wf: WindowFn, allowedLatenessMs: Long,
      accumulating: Boolean, retractions: Boolean,
      emit: Pane[K, V] => Iterator[O])(implicit vEnc: Encoder[V])
      extends StatefulProcessor[K, (K, java.sql.Timestamp, V), O] {
    require(allowedLatenessMs >= 0)
    require(!retractions || accumulating,
      "retractions require accumulating mode (a discarding pane has nothing to retract)")

    protected type Windows = scala.collection.mutable.TreeMap[Long, SessionPanes.St]
    protected type Out = scala.collection.mutable.ArrayBuffer[Pane[K, V]]

    @transient private var packed: ValueState[SessionPanes.Packed] = _
    @transient private var log: ListState[(Long, Long, V)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      packed = getHandle.getValueState[SessionPanes.Packed]("panes3",
        SessionPanes.packedEnc, TTLConfig.NONE)
      log = getHandle.getListState[(Long, Long, V)]("log",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, vEnc),
        TTLConfig.NONE)
    }

    /** The clock's instant for the ON_TIME transition of a window
      * ending at `end`; the close + GC transition falls
      * `allowedLatenessMs` later. */
    protected def onTimeAt(end: Long): Long

    /** Slot 5 of a merged window from its parts' (fired, slot5). */
    protected def combine5(af: Boolean, a5: Long, bf: Boolean, b5: Long): Long

    /** (log view, timer slot, window summaries) off the packed row. */
    protected def loadPacked(): (SessionLog[V], Long, Windows) =
      if (packed.exists()) {
        val (np, tot, gb, slot, ss) = packed.get()
        (new SessionLog[V](log, np, tot, gb), slot,
          scala.collection.mutable.TreeMap.from(ss))
      } else {
        val lv = new SessionLog[V](log)
        lv.checkFreshLayout() // older-layout checkpoint → loud, not data loss
        (lv, 0L, scala.collection.mutable.TreeMap.empty)
      }

    /** Persist the invocation and hand its panes to `emit`: compact the
      * log when due (collapsing fences in `m` itself), ONE appendList
      * for this batch's rows, then ONE meta put — or a full clear when
      * the key went idle (no windows, compacted-empty log, no timer). */
    protected def commit(lv: SessionLog[V], slot: Long, m: Windows,
        out: Out): Iterator[O] = {
      lv.maybeRewrite(m)
      lv.flush()
      if (m.isEmpty && lv.total == 0L && slot == 0L) packed.clear()
      else packed.update((lv.nextPos, lv.total, lv.garbage, slot, m.toSeq))
      out.iterator.flatMap(emit)
    }

    /** [[WindowFn.upsert]] with merge/rekey retractions into `out`. */
    protected def upsert(key: K, m: Windows, t: Long, lv: SessionLog[V],
        out: Out): (Long, SessionPanes.St) =
      wf.upsert(m, t, lv.nextPos, combine5,
        (w, st) => retractionOf(key, w, st, lv, out))

    /** RETRACT pane for a window's last emitted content, if any. */
    private def retractionOf(key: K, min: Long, st: SessionPanes.St,
        lv: SessionLog[V], out: Out): Unit =
      if (retractions && st._7 > 0)
        out += ((key, min, st._3 - 1, "RETRACT", false,
          SessionPanes.paneValues(lv.content(min, st, beforePos = st._7))))

    /** Fire the window's pane under `timing` (after the RETRACT of its
      * last emitted pane) and return the state after the firing: count
      * reset, index advanced, retraction baseline at the log head. A
      * discarding or final pane fences its rows dead (they purge
      * lazily at compaction); the caller drops a final pane's window. */
    protected def firePane(key: K, min: Long, st: SessionPanes.St,
        timing: String, isFinal: Boolean, lv: SessionLog[V],
        out: Out): SessionPanes.St = {
      retractionOf(key, min, st, lv, out)
      val vals = SessionPanes.paneValues(lv.content(min, st))
      out += ((key, min, st._3, timing, isFinal, vals))
      val discard = isFinal || !accumulating
      if (discard) lv.garbage += vals.size
      (if (discard) Seq((min, lv.nextPos)) else st._1, 0L, st._3 + 1,
        st._4, st._5, st._6, lv.nextPos)
    }

    /** The watermark transitions of every open window, in window-start
      * order, against its CURRENT end: the ON_TIME pane once `clock`
      * reaches [[onTimeAt]] (closing at once with no allowed lateness),
      * then close + GC `allowedLatenessMs` later, flushing an unfired
      * remainder as the final LATE pane. */
    protected def closeDue(key: K, clock: Long, lv: SessionLog[V], m: Windows,
        out: Out): Unit =
      m.keys.toSeq.foreach { min =>
        var st = m(min)
        val onTime = onTimeAt(wf.end(min, st))
        var open = true
        if (!st._4 && onTime <= clock) {
          val closing = allowedLatenessMs == 0
          st = firePane(key, min, st, "ON_TIME", closing, lv, out)
          if (closing) { m.remove(min); open = false }
          else { st = st.copy(_4 = true, _5 = 0L); m(min) = st }
        }
        if (open && st._4 && onTime + allowedLatenessMs <= clock) {
          if (st._2 > 0) firePane(key, min, st, "LATE", isFinal = true, lv, out)
          else lv.garbage += lv.content(min, st).size
          m.remove(min)
        }
      }

    /** Earliest pending transition over the open windows (non-empty
      * `m`): on-time for an unfired window, close + GC for a fired one. */
    protected def nextDue(m: Windows): Long =
      m.iterator.map { case (min, st) =>
        val onTime = onTimeAt(wf.end(min, st))
        if (st._4) onTime + allowedLatenessMs else onTime
      }.min
  }

  /** The pane machine under element-COUNT triggers on the event-time
    * clock — Beam's canonical compound trigger
    * `AfterWatermark.pastEndOfWindow()                    // AfterWatermark.java:60
    *    .withEarlyFirings(early)   // AfterPane.elementCountAtLeast, AfterPane.java:33
    *    .withLateFirings(late)`
    * in any element-count [[PaneTrigger]] composition; the trigger state
    * lives in slot 5, reset at the on-time transition so the late
    * trigger starts fresh, and merged per [[PaneTrigger.mergeState]]
    * (when fired-ness differs the fired part's state wins: the merged
    * window continues under the late trigger). A tree holding an
    * [[AfterDelay]], and a [[WindowFn.Global]] window, are rejected at
    * construction: this clock has no wall time and never closes a
    * window that does not end.
    *
    * Watermark mapping: Spark has ONE watermark (max event − delay),
    * Beam two concepts (watermark + allowed lateness beyond it). The
    * caller MUST set the upstream watermark delay to
    * `allowedLatenessMs` (`.withWatermark(ts, s"$allowedLatenessMs
    * milliseconds")`); the conceptual Beam watermark is then Spark's +
    * allowedLateness, so the on-time transition falls at
    * (end − allowedLateness) and the close + GC at end in Spark's
    * domain. Spark drops rows below its watermark by ELEMENT time where
    * Beam drops by WINDOW end — rows early in their window arriving
    * near the lateness horizon can be dropped slightly sooner than Beam
    * would; same bounded-staleness contract, documented difference
    * ([[MixedTriggerSessionProcessor]] has Beam's exact rule).
    *
    * Constraint (enforced, [[WindowFn]]): `allowedLatenessMs` < the
    * window size or session gap. With a larger lateness the on-time
    * expiry would land at or before the window's last element, below
    * the registration watermark, and rows conceptually on-time/late
    * would be mis-classified EARLY. Larger horizons want a wider window
    * or a two-level (window, horizon) state design — rejected here
    * rather than silently mis-labelled.
    *
    * Timers: ONE event-time timer chain per key (the packed slot),
    * aimed at the earliest pending transition; its fire sweeps EVERY
    * window the watermark has passed, then re-arms. One timer per
    * window end would pay one fire per closing window per batch, each
    * re-reading the key's windows — O(windows²) state traffic per batch
    * where the chain pays O(windows). A chain timer left early by a
    * since-extended or merged session fires as a cheap no-op. */
  class TriggeredSessionProcessor[K, V, O](wf: WindowFn, allowedLatenessMs: Long,
      early: PaneTrigger, late: PaneTrigger,
      accumulating: Boolean, retractions: Boolean = false)(
      emit: Pane[K, V] => Iterator[O])(implicit vEnc: Encoder[V])
      extends PaneProcessor[K, V, O](wf, allowedLatenessMs, accumulating,
        retractions, emit) {
    wf.requireEventTime(allowedLatenessMs)
    require(!early.hasDelay && !late.hasDelay,
      "AfterDelay needs the processing-time clock: the event-time clock of " +
        "triggeredWindows / triggeredSessions fires on element counts and " +
        "the watermark only (use mixedTriggerWindows / mixedTriggerSessions " +
        "or compositeTriggerPanes)")

    protected def onTimeAt(end: Long): Long = end - allowedLatenessMs

    protected def combine5(af: Boolean, a5: Long, bf: Boolean, b5: Long): Long = {
      val trig = if (af || bf) late else early
      if (af == bf) trig.mergeState(a5, b5)
      else if (af) a5 else b5
    }

    /** Re-aim the key's timer chain at the earliest pending transition.
      * Only ever moves EARLIER — a timer left too early by a
      * since-extended session fires as a no-op and re-arms itself.
      * Returns the new slot value (0 = no timer); `consumed` = the
      * expiry this invocation is firing for, already spent. */
    private def armNext(m: Windows, slot: Long, consumed: Long = 0L): Long = {
      val pending = if (slot == consumed) 0L else slot
      if (m.isEmpty) {
        if (pending != 0L) getHandle.deleteTimer(pending)
        return 0L
      }
      val need = nextDue(m)
      if (pending == 0L || need < pending) {
        if (pending != 0L) getHandle.deleteTimer(pending)
        getHandle.registerTimer(need)
        need
      } else pending
    }

    override def handleInputRows(key: K,
        rows: Iterator[(K, java.sql.Timestamp, V)],
        timers: TimerValues): Iterator[O] = {
      val out: Out = scala.collection.mutable.ArrayBuffer()
      val (lv, slot, m) = loadPacked()
      rows.foreach { case (_, ts, v) =>
        val t = ts.getTime
        val (w, st0) = upsert(key, m, t, lv, out)
        lv.append(t, v)
        val since = st0._2 + 1
        val trig = if (st0._4) late else early
        val (fire, trigSt) = trig.onElement(st0._5, since)
        val st = st0.copy(_2 = since, _5 = trigSt)
        m(w) = if (!fire) st
          else firePane(key, w, st, if (st._4) "LATE" else "EARLY",
            isFinal = false, lv, out)
      }
      commit(lv, armNext(m, slot), m, out)
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[O] = {
      val expiry = timer.getExpiryTimeInMs()
      val out: Out = scala.collection.mutable.ArrayBuffer()
      val (lv, slot, m) = loadPacked()
      // sweep by the WATERMARK, not the firing expiry: every window the
      // watermark has passed is equally final, so one fire drains all
      // of them — identical per-batch output to per-end timers
      closeDue(key, math.max(expiry, timers.getCurrentWatermarkInMs()),
        lv, m, out)
      commit(lv, armNext(m, slot, consumed = expiry), m, out)
    }
  }

  /** Session windows with early/late count firings + pane metadata —
    * see [[TriggeredSessionProcessor]]. `ds` must carry
    * `.withWatermark(tsCol, s"$allowedLatenessMs milliseconds")`, and
    * `allowedLatenessMs < gapMs`. The default `early = Never` is Beam's
    * default trigger: no early firings. */
  def triggeredSessions[K: Encoder, V: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, V)], gapMs: Long,
      allowedLatenessMs: Long = 0L, early: PaneTrigger = Never,
      late: PaneTrigger = AfterCount(1), accumulating: Boolean = false,
      retractions: Boolean = false)(
      implicit outEnc: Encoder[Pane[K, V]]): Dataset[Pane[K, V]] =
    ds.groupByKey(_._1).transformWithState(
      new TriggeredSessionProcessor[K, V, Pane[K, V]](WindowFn.Sessions(gapMs),
        allowedLatenessMs, early, late, accumulating, retractions)(Iterator.single),
      TimeMode.EventTime(), OutputMode.Append())

  /** The pane machine on the WALL clock, under Beam's MIXED time-mode
    * compound trigger — the one trigger shape a single-time-mode
    * processor can't express:
    *
    * `AfterWatermark.pastEndOfWindow()                 // event time
    *    .withEarlyFirings(early)                       // WALL CLOCK
    *    .withLateFirings(late)`
    * where `early` / `late` are repeatable [[PaneTrigger]] trees over
    * element counts and AfterProcessingTime.pastFirstElementInPane()
    * .plusDelayOf(d) (AfterWatermark.java:60 + AfterProcessingTime.java:39
    * — Beam's most common production trigger: "emit a preview every N
    * seconds of wall time, the real answer at the watermark, corrections
    * for late data"). Over [[WindowFn.Global]] no watermark transition
    * ever falls due and `early` alone fires the panes: Beam's
    * global-window `Repeatedly.forever(trigger)`
    * ([[compositeTriggerPanes]]).
    *
    * HOW the two clocks coexist on one `transformWithState` processor:
    * it runs in TimeMode.ProcessingTime (wall-clock timers drive
    * early/late panes), while the EVENT-time transitions read
    * `TimerValues.getCurrentWatermarkInMs()` — Spark propagates the
    * event-time watermark of the upstream `.withWatermark` into every
    * invocation regardless of the processor's own time mode, and
    * (unlike TimeMode.EventTime) the operator applies NO late-row
    * filter, so lateness policy is entirely ours:
    *
    *  - a row is dropped once the watermark passes the end of the
    *    window it lands in (a session row's proto-window end
    *    ts + gap) plus allowedLateness — Beam's exact WINDOW-end drop
    *    rule, with no `lateness < window` restriction
    *    ([[TriggeredSessionProcessor]] documents its element-time
    *    approximation);
    *  - EARLY / LATE panes fire when the window's tree is ready
    *    ([[PaneTrigger.readyAt]]) over the elements buffered since the
    *    last firing, its delays anchored at the wall time of the FIRST
    *    of them (slot 5 = that anchor, 0 = none; later arrivals never
    *    push it out, and a merge keeps the EARLIEST). A ready tree fires
    *    on the element path (a count condition mid-batch), else on the
    *    key's timer at its deadline;
    *  - ON_TIME at watermark ≥ end, close + GC at end + lateness, both
    *    against each window's CURRENT end (a session's end moves as
    *    elements arrive and merge), observed on the next timer or input
    *    invocation after the watermark advances.
    *
    * Timers: ONE processing-time chain per key (the packed slot),
    * aimed at the earliest trigger deadline of any window and at a
    * sweep tick for the nearest watermark transition (`armNext`). A key
    * with no open window holds zero state and zero timers; a Global
    * key keeps its window, and a timer only while a deadline is
    * pending. */
  class MixedTriggerSessionProcessor[K, V, O](
      wf: WindowFn, allowedLatenessMs: Long,
      early: PaneTrigger, late: PaneTrigger,
      accumulating: Boolean, retractions: Boolean = false)(
      emit: Pane[K, V] => Iterator[O])(implicit vEnc: Encoder[V])
      extends PaneProcessor[K, V, O](wf, allowedLatenessMs, accumulating,
        retractions, emit) {
    require(early.isPure && late.isPure,
      "AfterEach / OrFinally need the event-time clock: the processing-time " +
        "clock keeps its wall-clock anchor in the slot they keep their progress in")

    // The sweep tick's bounds. The chain assumes the watermark advances
    // at wall-clock rate, so where it outpaces wall time (replay,
    // backfill) an idle key's on-time or GC pane can trail the
    // watermark by up to MaxSweepLagMs: the EMISSION-LATENCY bound.
    // HeartbeatMs floors the polling interval.
    private final val HeartbeatMs = 200L
    private final val MaxSweepLagMs = 5000L

    protected def onTimeAt(end: Long): Long = end

    protected def combine5(af: Boolean, a5: Long, bf: Boolean, b5: Long): Long =
      (a5, b5) match {
        case (0L, x) => x
        case (x, 0L) => x
        case (x, y) => math.min(x, y) // earliest promised pane
      }

    /** The wall-clock instant the window's trigger tree is ready at. */
    private def readyAt(st: SessionPanes.St): Option[Long] =
      (if (st._4) late else early).readyAt(st._2, st._5)

    /** Fire the window's EARLY / LATE pane; the next element re-anchors. */
    private def fireTrigger(key: K, min: Long, st: SessionPanes.St,
        lv: SessionLog[V], out: Out): SessionPanes.St =
      firePane(key, min, st, if (st._4) "LATE" else "EARLY",
        isFinal = false, lv, out).copy(_5 = 0L)

    /** The watermark transitions, then the EARLY / LATE pane of every
      * window whose trigger is ready by `clock` — in that order, so
      * elements pending when the watermark passes the end land in
      * ON_TIME. */
    private def fireDue(key: K, wm: Long, clock: Long, lv: SessionLog[V],
        m: Windows, out: Out): Unit = {
      closeDue(key, wm, lv, m, out)
      m.mapValuesInPlace { (w, st) =>
        if (readyAt(st).exists(_ <= clock)) fireTrigger(key, w, st, lv, out)
        else st
      }
    }

    /** Re-aim the key's timer chain at the earliest future trigger
      * deadline or sweep tick. The sweep maps the nearest pending
      * event-time transition to the wall clock under the steady-state
      * assumption that the watermark advances at wall rate:
      * now + clamp(nearestNeed − wm, HeartbeatMs, MaxSweepLagMs). A
      * stalled watermark self-paces (the deficit stays put, so so does
      * the polling interval); a watermark racing ahead of wall time is
      * observed within MaxSweepLagMs; every invocation re-aims the chain
      * at the fresh estimate. A Global window never ends, so it arms no
      * sweep. Spark fires a batch's due timers after its input rows, so
      * an input invocation replaces even a due slot, whose work
      * [[fireDue]] just did; a timer invocation leaves a due slot to
      * fire. Returns the new slot (0 = no timer). */
    private def armNext(now: Long, wm: Long, m: Windows, slot: Long,
        onInput: Boolean): Long = {
      val sweep =
        if (m.isEmpty || wf == WindowFn.Global) None
        else Some(now + math.max(HeartbeatMs, math.min(nextDue(m) - wm, MaxSweepLagMs)))
      val target = (m.valuesIterator.flatMap(readyAt).filter(_ > now) ++ sweep)
        .minOption.getOrElse(0L)
      if (slot > now && target != 0L && target >= slot) slot
      else {
        if (slot > now || (slot != 0L && onInput)) getHandle.deleteTimer(slot)
        if (target != 0L) getHandle.registerTimer(target)
        target
      }
    }

    override def handleInputRows(key: K,
        rows: Iterator[(K, java.sql.Timestamp, V)],
        timers: TimerValues): Iterator[O] = {
      val wm = timers.getCurrentWatermarkInMs()
      val now = timers.getCurrentProcessingTimeInMs()
      val out: Out = scala.collection.mutable.ArrayBuffer()
      val (lv, slot, m) = loadPacked()
      rows.foreach { case (_, ts, v) =>
        val t = ts.getTime
        if (wm - allowedLatenessMs < wf.dropPoint(t)) { // else: expired window
          val (w, st0) = upsert(key, m, t, lv, out)
          lv.append(t, v)
          // the first element of a pane anchors its wall-clock delays
          val st = st0.copy(_2 = st0._2 + 1,
            _5 = if (st0._5 != 0L) st0._5 else now)
          // a ready tree fires on the element path (a count condition
          // mid-batch) unless the watermark already passed the window's
          // end: the ON_TIME pane takes those elements
          m(w) = if ((st._4 || wf.end(w, st) > wm) && readyAt(st).exists(_ <= now))
            fireTrigger(key, w, st, lv, out)
          else st
        }
      }
      fireDue(key, wm, now, lv, m, out)
      commit(lv, armNext(now, wm, m, slot, onInput = true), m, out)
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[O] = {
      val wm = timers.getCurrentWatermarkInMs()
      val now = timers.getCurrentProcessingTimeInMs()
      val expiry = timer.getExpiryTimeInMs()
      val out: Out = scala.collection.mutable.ArrayBuffer()
      val (lv, slot0, m) = loadPacked()
      val slot = if (slot0 == expiry) 0L else slot0 // chain slot consumed
      fireDue(key, wm, math.max(now, expiry), lv, m, out)
      commit(lv, armNext(now, wm, m, slot, onInput = false), m, out)
    }
  }

  /** Fixed windows with Beam's mixed-clock compound trigger — wall-
    * clock early/late panes, `earlyDelayMs` / `lateDelayMs` after the
    * first element since the last firing, inside event-time windows;
    * see [[MixedTriggerSessionProcessor]]. `ds` must carry a watermark
    * on its timestamp column (any delay; the processor reads the
    * watermark but does its own window-end lateness drops). Where the
    * watermark outpaces wall time (replay, backfill), an idle key's
    * on-time pane can trail it by up to the processor's 5 s sweep lag. */
  def mixedTriggerWindows[K: Encoder, V: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, V)], windowMs: Long,
      allowedLatenessMs: Long = 0L,
      earlyDelayMs: Long = 1000L, lateDelayMs: Long = 1000L,
      accumulating: Boolean = false, retractions: Boolean = false)(
      implicit outEnc: Encoder[Pane[K, V]]): Dataset[Pane[K, V]] =
    ds.groupByKey(_._1).transformWithState(
      new MixedTriggerSessionProcessor[K, V, Pane[K, V]](WindowFn.Fixed(windowMs),
        allowedLatenessMs, AfterDelay(earlyDelayMs), AfterDelay(lateDelayMs),
        accumulating, retractions)(Iterator.single),
      TimeMode.ProcessingTime(), OutputMode.Append())

  /** Session windows with Beam's mixed-clock compound trigger — see
    * [[MixedTriggerSessionProcessor]] and [[mixedTriggerWindows]]. `ds`
    * must carry a watermark on its timestamp column (any delay; the
    * processor reads the watermark but does its own proto-window-end
    * lateness drops). */
  def mixedTriggerSessions[K: Encoder, V: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, V)], gapMs: Long,
      allowedLatenessMs: Long = 0L,
      earlyDelayMs: Long = 1000L, lateDelayMs: Long = 1000L,
      accumulating: Boolean = false, retractions: Boolean = false)(
      implicit outEnc: Encoder[Pane[K, V]]): Dataset[Pane[K, V]] =
    ds.groupByKey(_._1).transformWithState(
      new MixedTriggerSessionProcessor[K, V, Pane[K, V]](WindowFn.Sessions(gapMs),
        allowedLatenessMs, AfterDelay(earlyDelayMs), AfterDelay(lateDelayMs),
        accumulating, retractions)(Iterator.single),
      TimeMode.ProcessingTime(), OutputMode.Append())

  /** Beam's global-window trigger `Repeatedly.forever(trigger)` per key:
    * the wall-clock pane machine ([[MixedTriggerSessionProcessor]]) over
    * [[WindowFn.Global]], which never ends, so `trigger` alone fires the
    * panes — on the element path when a count condition trips
    * (mid-batch), on the key's timer at the tree's earliest deadline.
    * A pane always holds ≥ 1 new element. Output: (key, paneIndex,
    * values in arrival order). Beam's "every 100 elements or at most
    * every 10 s, whichever comes first":
    * {{{
    * compositeTriggerPanes(ds, AfterFirst(AfterCount(100), AfterDelay(10000L)))
    * }}}
    * and its canonical "emit what you have every N seconds" (Nexmark
    * Q12's processing-time windows) is `AfterDelay(n)` alone. */
  def compositeTriggerPanes[K: Encoder, V: Encoder](
      ds: Dataset[(K, V)], trigger: PaneTrigger,
      accumulating: Boolean = false)(
      implicit outEnc: Encoder[(K, Long, Seq[V])]): Dataset[(K, Long, Seq[V])] = {
    // one event time for every row: the global window ignores it, and
    // equal timestamps keep pane values in arrival order
    val epoch = new java.sql.Timestamp(0L)
    ds.map { case (k, v) => (k, epoch, v) }(Encoders.tuple(
        implicitly[Encoder[K]], Encoders.TIMESTAMP, implicitly[Encoder[V]]))
      .groupByKey(_._1).transformWithState(
        new MixedTriggerSessionProcessor[K, V, (K, Long, Seq[V])](WindowFn.Global,
          0L, trigger, Never, accumulating)(p => Iterator((p._1, p._3, p._6))),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
