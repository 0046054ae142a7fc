package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming operators matching Beam's unbounded-PCollection
  * surface (SURVEY §2.10). Beam's defining feature — one transform graph
  * for bounded and unbounded data — maps to Spark's one DataFrame API:
  * every builder here takes a DataFrame that may be batch or streaming
  * (`df.isStreaming`) and returns the same declarative plan.
  *
  * Reference semantics being matched:
  *  - FixedWindows (sdks/java/core/.../windowing/FixedWindows.java:38)
  *  - SlidingWindows (windowing/SlidingWindows.java:42)
  *  - Sessions (windowing/Sessions.java:42)
  *  - Window.withAllowedLateness (windowing/Window.java:288) →
  *    `withWatermark` delay
  *  - Deduplicate (transforms/Deduplicate.java:70) →
  *    `dropDuplicatesWithinWatermark`
  *  - BeamCoGBKJoinRel unbounded×unbounded once-per-window join
  *    (extensions/sql/.../rel/BeamCoGBKJoinRel.java:139-160) →
  *    stream-stream join with watermark range condition
  *  - BeamSideInputJoinRel (rel/BeamSideInputJoinRel.java:69) →
  *    stream-static join
  *
  * Trigger/pane mapping (SURVEY §7.4): Beam's default trigger
  * (emit once when watermark passes window end) ≡ append output mode;
  * early firings ≡ update mode re-emitting per micro-batch; panes beyond
  * that (accumulating+retracting, per-pane metadata) are out of the
  * declared surface and handled by [[StatefulV2]] where needed.
  */
object StreamOps {

  /** Event-time tumbling-window aggregation with lateness handling.
    * Batch and streaming: identical plan; streaming adds the watermark.
    */
  def tumblingAgg(df: DataFrame, tsCol: String, size: String,
      lateness: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, lateness) else df
    wm.groupBy((window(col(tsCol), size) +: keys): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** PANE-BASED sliding-window aggregation — Beam's own sliding
    * strategy (windowing/SlidingWindows.java:42 assigns size/slide
    * windows per element, but the runner's combiner lifting
    * — beam_runner_api.proto:383-407 — partial-aggregates BEFORE the
    * per-window fan-out). The naive streaming form writes size/slide
    * durable state rows per touched (key, window) per batch (4× write
    * amplification at 1 h / 15 m — measured 385k RocksDB writes per
    * 100k events in the r19 sf0.1 replay); this form cuts it to ~1×:
    *
    *  1. partial-aggregate per SLIDE-GRAIN TUMBLING PANE — one state
    *     row per (key, pane), written once per touched key per batch
    *     (Catalyst's map-side partial agg), closed when the watermark
    *     passes the pane end;
    *  2. fan each CLOSED pane (one row per (key, pane), not per
    *     event) into the ⌈size/slide⌉ sliding windows containing it —
    *     `window(window_time(pane), size, slide)`, the chained-window
    *     form — and sum the pane partials per (key, window);
    *  3. per-window argmax read-out (Nexmark Q5's hot item).
    *
    * Three chained stateful operators in append mode (Spark 3.5+
    * multi-stateful support); stages 2–3 run at PANE-CLOSE grain, so
    * their state traffic scales with distinct (key, pane), not events.
    * `aggs` must be DECOMPOSABLE over panes (count/sum/min/max — the
    * same CombineFn-associativity Beam's lifting requires); each
    * `(paneAgg, mergeAgg)` pair gives the pane partial and the
    * cross-pane merge of the column named by the partial's alias.
    * Requires size = k × slide (slide-aligned panes tile windows
    * exactly; enforced). Batch and streaming: identical plan.
    */
  def slidingAggPaned(df: DataFrame, tsCol: String, itemCol: String,
      size: String, slide: String, lateness: String,
      paneAggs: Seq[Column], mergeAggs: Seq[Column]): DataFrame = {
    require(paneAggs.nonEmpty && paneAggs.size == mergeAggs.size,
      "paneAggs and mergeAggs must pair up")
    val wm = if (df.isStreaming) df.withWatermark(tsCol, lateness) else df
    val panes = wm
      .groupBy(window(col(tsCol), slide).as("pane"), col(itemCol))
      .agg(paneAggs.head, paneAggs.tail: _*)
    panes
      .groupBy(window(window_time(col("pane")), size, slide).as("w"),
        col(itemCol))
      .agg(mergeAggs.head, mergeAggs.tail: _*)
  }

  /** Nexmark Q5 "hot items" over TRUE sliding windows (reference:
    * nexmark/.../queries/Query5.java — Count.perElement within the
    * window, then Max over the counts), in the state-grain-per-WINDOW
    * form: ONE stateful aggregation keyed by the sliding window whose
    * buffer is the per-item count map ([[graft.functions.HotItemAgg]]),
    * argmax evaluated at window close. Count ties break to the
    * smallest item (the batch `win_hot_items` convention).
    *
    * Why not groupBy(window, item) + re-agg: that faithful-textbook
    * plan keeps one DURABLE state row per (item, window) — size/slide
    * amplification on every touched item — and a second stateful
    * operator for the argmax; measured 7.6–9.2k ev/s vs this form
    * (r19 replay, sf0.1, where distinct (item, window) ≈ events
    * so pane pre-aggregation has nothing to combine). Here state rows
    * = windows and per-batch writes = windows TOUCHED by the batch's
    * time span (time-ordered streams touch a bounded frontier);
    * Catalyst's partial aggregation merges each partition's events
    * into one map partial before the exchange — Beam's combiner
    * lifting, with the map as the accumulator. Scale trade: the map
    * buffer is O(distinct items per window) — bounded for
    * Nexmark-style item universes; for unbounded per-window item
    * cardinality prefer [[slidingAggPaned]] (O(1) rows, size/slide of
    * them per item). */
  def hotItemsSliding(df: DataFrame, tsCol: String, itemCol: String,
      size: String, slide: String, lateness: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val wm = if (df.isStreaming) df.withWatermark(tsCol, lateness) else df
    wm.groupBy(window(col(tsCol), size, slide).as("w"))
      .agg(expr(s"hot_item_agg($itemCol)").as("h"))
      .select(col("w"), col("h.hot_item").as("hot_item"),
        col("h.n_hot").as("n_hot"))
  }

  /** Session windows (gap-merged per key) — native `session_window`,
    * including merge across micro-batches backed by the state store. */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
      lateness: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    sessionAggDynamic(df, tsCol, lit(gap), lateness, keys, aggs)

  /** [[sessionAgg]] with a DYNAMIC per-row gap expression — Beam's
    * data-driven Sessions (a WindowFn reading the element,
    * windowing/Sessions.java generalized); Spark's `session_window`
    * accepts a gap Column in streaming too, so e.g. purchase events
    * can hold a session open longer than views. Rows whose gap
    * evaluates ≤ 0 are dropped by the operator (Spark's documented
    * dynamic-gap contract). */
  def sessionAggDynamic(df: DataFrame, tsCol: String, gap: Column,
      lateness: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, lateness) else df
    wm.groupBy((session_window(col(tsCol), gap) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Latest-snapshot view of a REV-STAMPED CHANGELOG — the one-liner
    * every consumer of this engine's streaming snapshot ops needs
    * (heavyHitters / tdigestQuantiles / approxDistinct / funnelSteps /
    * sampleFixedPerKey / scd2 open rows all emit (key, rev, …) with
    * "latest row per key = max rev"): one `max_by(struct(…), rev)` per
    * key, column names and order preserved. Scale: a single hash
    * aggregate with a map-side partial max_by — one shuffle of one row
    * per key per partition, never a window sort over the full
    * changelog (the `row_number() = 1` anti-idiom this replaces).
    * `revCol` must be unique per key (every emitter here stamps a
    * strictly increasing rev). Batch consumption of an appended sink;
    * for a live streaming view, aggregate in update mode instead. */
  def latestByRev(df: DataFrame, keyCols: Seq[String],
      revCol: String): DataFrame = {
    require(keyCols.nonEmpty && !keyCols.contains(revCol),
      s"keyCols must be non-empty and exclude revCol: $keyCols / $revCol")
    val others = df.columns.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(revCol)).as("_latest"))
      .select(keyCols.map(col) ++
        others.map(c => col(s"_latest.`$c`").as(c)): _*)
  }

  /** Beam Deduplicate: drop duplicate ids arriving within the watermark
    * horizon. State is GC'd once the watermark passes — bounded memory
    * at any scale (the 100 TB property Beam gets from its TTL timer). */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, lateness: String,
      idCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Nexmark Q8's monitor-new-users in the form Beam itself uses — ONE
    * windowed CoGBK, not a symmetric stream-stream join (reference:
    * sdks/java/testing/nexmark/.../queries/Query8.java co-groups the
    * two inputs per (person, window) with a single CoGroupByKey):
    * filter to the two event types, group by (user, window), count
    * each type conditionally, keep the users that have BOTH. ONE
    * stateful operator with ONE state row per (user, window) — no
    * two-sided join buffering, no symmetric-hash per-key residue floor
    * (SCALE.md §3), and Catalyst's map-side partial aggregation means
    * each key writes its state row once per micro-batch regardless of
    * event multiplicity. The r16 shape was a symmetric-hash self-join
    * buffering RAW events on both sides (~40k RocksDB join-state
    * writes+removes per 100k events); a dedup-before-join variant was
    * measured WORSE (8.1k ev/s) — this data has ~1% duplicate
    * (user, hour) pairs, so dedup added two stateful operators and
    * removed nothing.
    *
    * OUTPUT GRAIN (ADVICE r17): the reference Query8 emits one row per
    * (person, auction) pair — per RIGHT event — where the default here
    * emits one AGGREGATED row per (user, window) with counts and the
    * summed right `value`: strictly less state and output than the
    * reference. `emitPerRight = true` restores the reference grain —
    * the aggregation additionally collects the right-side values
    * (state per key grows by the right-event list, still written once
    * per touched key per batch) and the post-aggregation projection
    * explodes them, one output row per right event carrying `n_left`
    * and that event's `right_value`. Beam's persons are unique per id
    * per window, so the pair grain is n_right rows per key; an exact
    * n_left × n_right cross (both sides multi) would need the left
    * list collected too and is not the reference's shape. Published-bar
    * comparisons (BASELINE.md Q8) must quote the `emitPerRight = true`
    * form.
    *
    * @param df columns (user_id, ts, event_type, value); may be batch
    *           or streaming
    * @param lateness watermark delay on `ts`. The type filter runs
    *           BEFORE the watermark is assigned, so ONLY rows of the
    *           two kept types advance it: a watermark-advancing
    *           sentinel/heartbeat must carry `leftType` or `rightType`
    *           — a foreign-typed heartbeat is dropped before event-time
    *           stats and flushes nothing.
    * @param emitPerRight false = one aggregated row per (user, window);
    *           true = the reference's per-right-event grain (above) */
  def newUsersJoin(df: DataFrame, windowSize: String, lateness: String,
      leftType: String, rightType: String,
      emitPerRight: Boolean = false): DataFrame = {
    // filter FIRST, then watermark: the kept-type requirement on
    // watermark advancement is structural, not an artifact of Catalyst
    // predicate pushdown below the watermark node (ADVICE r17)
    val typed = df.filter(col("event_type").isin(leftType, rightType))
    val wm = if (df.isStreaming) typed.withWatermark("ts", lateness) else typed
    val aggs = Seq(
      count(when(col("event_type") === leftType, 1)).as("n_left"),
      count(when(col("event_type") === rightType, 1)).as("n_right"),
      sum(when(col("event_type") === rightType, col("value")))
        .as("right_value")) ++
      (if (emitPerRight)
        // collect a STRUCT, not the bare value: collect_list skips
        // nulls, so a right event with a NULL value would be counted
        // in n_right yet emit no row — diverging from the reference
        // grain's one-row-per-right-event contract (ADVICE r18). The
        // struct wrapper is non-null whenever the type matches, so
        // every right event survives the collect.
        Seq(collect_list(when(col("event_type") === rightType,
          struct(col("value")))).as("right_values"))
      else Nil)
    val agged = wm
      .groupBy(col("user_id"), window(col("ts"), windowSize).as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_left") > 0 && col("n_right") > 0)
    if (emitPerRight)
      agged.select(col("user_id"), col("w"), col("n_left"),
        explode(col("right_values")).as("rv"))
        .select(col("user_id"), col("w"), col("n_left"),
          col("rv.value").as("right_value"))
    else agged
  }

  /** [[newUsersJoin]]'s per-right-event grain with the STATE FLIPPED
    * TO WINDOW GRAIN (r19): ONE stateful aggregation keyed by the
    * tumbling window whose buffer packs the per-user accumulation
    * ([[graft.functions.NewUsersAgg]] — left count + right values per
    * user), exploded to the reference's per-(person, auction) rows at
    * window close. Output ≡ `newUsersJoin(emitPerRight = true)`
    * (spec'd); state rows = windows instead of (user, window) —
    * measured 39,489 → ~900 RocksDB writes per 100k events on data
    * where distinct (user, window) ≈ events (r19 replay sweep).
    * Scale trade: one window's state row is O(its active users); for
    * pathologically hot windows use [[newUsersJoin]] (O(1) rows).
    * Same watermark contract as [[newUsersJoin]]: the type filter
    * precedes the watermark, so only kept-type rows advance it. */
  def newUsersJoinPacked(df: DataFrame, windowSize: String,
      lateness: String, leftType: String, rightType: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val typed = df.filter(col("event_type").isin(leftType, rightType))
    val wm = if (df.isStreaming) typed.withWatermark("ts", lateness) else typed
    wm.groupBy(window(col("ts"), windowSize).as("w"))
      .agg(expr(s"new_users_agg(user_id, event_type = '$leftType', value)")
        .as("pairs"))
      .select(col("w"), explode(col("pairs")).as("p"))
      .select(col("p.user_id").as("user_id"), col("w"),
        col("p.n_left").as("n_left"),
        col("p.right_value").as("right_value"))
  }

  /** Stream-stream join bounded by an event-time range: the Spark
    * equivalent of Beam's windowed CoGBK join. Both sides carry
    * watermarks; the range condition lets the state store GC rows.
    * Outer variants carry Beam's windowed-CoGBK close-out semantics:
    * an unmatched row emits (with nulls for the other side) only once
    * the watermark proves no in-range partner can still arrive. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, lateness: String,
      keyCond: Column, maxDelta: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, keyCond &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $maxDelta") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelta"), joinType)
  }

  /** Streaming INTERVAL join (Flink's interval join; the asymmetric
    * generalization of [[streamStreamJoin]]): same-key pairs where
    * `right.ts ∈ [left.ts + lower, left.ts + upper]` — lower/upper are
    * INTERVAL strings, either may be negative-by-shape (e.g. lower
    * "0 seconds", upper "6 hours" = strictly-after window). Native
    * Spark stream-stream join: the range condition bounds state, the
    * watermark GCs it — the streaming twin of
    * [[graft.operators.Joins.intervalJoin]] (batch ≡ stream spec'd). */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, lateness: String,
      keyCond: Column, lower: String, upper: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, keyCond &&
      col(rightTs) >= col(leftTs) + expr(s"INTERVAL $lower") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upper"), joinType)
  }

  /** Stream × static (side-input) join — Beam's broadcast side input for
    * unbounded mains. The static side is re-read per micro-batch by
    * Spark; broadcast keeps it off the shuffle path. */
  def streamStaticJoin(stream: DataFrame, static: DataFrame,
      cond: Column, joinType: String = "inner"): DataFrame =
    stream.join(broadcast(static), cond, joinType)

  /** Replay the driver's `events` table as a stream: the parquet stores
    * TIMESTAMP(NANOS), which the vectorized reader only surfaces as long
    * nanos (legacy flag) — read that shape, then downcast to micros so
    * the streaming frame matches [[graft.sources.Tables.events]]. */
  def replayEvents(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int = 1): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = graft.sources.Tables.parquet(spark, s"$sfDir/events.parquet") // schema probe
    // The file stream source wants a directory to watch (Beam's
    // FileIO.match continuously matching a glob); stage the single
    // driver-written file into one.
    val dir = java.nio.file.Files.createTempDirectory("graft-replay")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir.toString)
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // `div`, not `/`: double division loses the final microsecond at
      // epoch-nanos magnitude (see Tables.events).
      stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      // micros-written files surface as TIMESTAMP_NTZ; normalize to
      // LTZ like the batch reader (value-preserving under UTC session)
      graft.sources.Tables.normalizeNtz(stream)
  }

  /** Beam PeriodicImpulse / GenerateSequence (unbounded) — rate source. */
  def periodicImpulse(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** Generalized Beam `Watch` (transforms/Watch.java:129 — poll a
    * growth function, emit each newly-discovered output once): a rate
    * impulse drives `poll` once per tick on the executors; results
    * keyed by `id` dedupe through the stream so only GROWTH reaches
    * the sink. `poll` must be serializable and idempotent (it re-runs
    * every trigger — Beam's poll-interval contract). The seen-id state
    * grows with the watched set, exactly like Beam's Watch state per
    * input; termination (Beam's Growth.TerminationCondition) maps to
    * stopping the query. */
  def watchGrowth[T](spark: SparkSession, pollsPerSecond: Int,
      poll: () => Seq[T], id: T => String)(
      implicit tEnc: org.apache.spark.sql.Encoder[T],
      pairEnc: org.apache.spark.sql.Encoder[(String, T)]): org.apache.spark.sql.Dataset[T] = {
    import spark.implicits._
    periodicImpulse(spark, pollsPerSecond)
      .select(col("value")).as[Long]
      .flatMap(_ => poll().map(t => (id(t), t)))
      .dropDuplicates("_1")
      .map(_._2)
  }
}
