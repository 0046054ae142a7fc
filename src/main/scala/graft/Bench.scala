package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times the [[timed]] queries at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Each query is
  * forced with a count() after a warmup of the table reads (so parquet
  * footer/OS-cache effects don't dominate the first query measured).
  */
object Bench {
  /** The timed set: every registry query not marked `timed = false`,
    * in registry order. */
  private[graft] def timed: Seq[String] =
    graft.queries.Registry.all.filter(_.timed).map(_.name)

  /** Drop every cached Dataset and persisted/localCheckpointed RDD. */
  private def dropCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  // Host-speed calibration probe (round-11 directive): a FIXED
  // ten-query subset spanning the main families (scan-agg, multi-join,
  // window, dedup shuffle, vector, text scan, TPC-DS chain, regex,
  // sort, sketch), re-timed at the END of the batch section in a
  // quiesced JVM (caches dropped, System.gc(), fully JIT-warm). The
  // subset's code never changes round over round, so its aggregate
  // moves ONLY with host conditions — divide a round's per-query
  // deltas by the calibration ratio before calling anything a
  // regression (identical code swung ±15-60%/query, -15% aggregate,
  // between BENCH_r11 and BENCH_r12 on host noise alone).
  // cal_version 2 (r20, VERDICT r19 item 6): agg_tpcds_q78 was BOTH a
  // probe member and a top-5 optimization target — optimizing it would
  // have silently re-anchored the "fixed never-changing" probe. It is
  // swapped for agg_tpcds_q93 (same family: a TPC-DS fact-chain join +
  // agg, comparable weight, untouched by any optimization round) and
  // the emitted JSON carries "cal_version":2 so cross-round tooling
  // knows the v1 and v2 totals are NOT directly comparable.
  // bench_diff.py normalizes v1-vs-v2 comparisons with the NINE
  // unchanged members' in-run times instead of the quiesced totals.
  // The members keep their DataFrame forms even where an oracle text
  // plans the same (`Q.sql`): building from text would change their
  // build path and so the probe.
  private[graft] val calVersion = 2
  private[graft] val calibration = Seq(
    "agg_tpch_q1", "agg_tpch_q6", "join_multiway", "window_running",
    "dedup_minhash_pairs", "vec_cosine_topk", "text_stats",
    "agg_tpcds_q93", "pattern_match", "agg_approx_quantiles")

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
  private def jitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    // Locale is pinned PER FORMAT via num() — NOT Locale.setDefault:
    // a ROOT default locale breaks embedded Derby database creation
    // ("XBM0X: Supplied locale description '' is invalid"), which
    // silently failed io_jdbc_roundtrip when tried
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    // Teardown hygiene (VERDICT r18 — clean artifact tail): stopping a
    // wall-clock-triggered query (streaming_proc_time, the suite's last
    // op) can kill an in-flight measurement-sink batch, and the
    // task-side "ERROR DataWritingSparkTask: Aborted commit" lines land
    // on stdout immediately before the metric line — reading like a
    // failure to anyone skimming BENCH_r{N}.json. At deliberate stop
    // the abort is EXPECTED (noop/temp sinks, work discarded by
    // design); real write failures still surface as the op's -1.0
    // sentinel, so silence this one logger at the source.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
      org.apache.logging.log4j.Level.OFF)
    // Disk hygiene (ADVICE r18): the final halt(0) skips JVM shutdown
    // hooks, so Spark's own local dirs (spark-*, blockmgr-*) leak one
    // tree per bench run. Sweep STALE ones (>2 h — never this run's,
    // and a concurrently-running session's are younger too) at startup.
    sweepStaleTempDirs()
    val all = SparkEntry.queries
    // dev-only subset filter (comma-separated; the driver sets no env)
    // — mirrors StreamingBench's SBENCH_OPS for fast optimization
    // iteration on individual batch queries with the exact bench
    // methodology (warmup + interleaved best-of-reps + dropCaches)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = timed.filter(n => only.forall(_.contains(n)))
    // warmup: touch every table once so IO cache state is uniform, and
    // fill the schema memo of graft.sources.Tables
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings").foreach { t =>
      // events needs its reader flag (TIMESTAMP(NANOS) files)
      try (if (t == "events") graft.sources.Tables.events(spark, sfDir)
           else graft.sources.Tables.load(spark, sfDir, t)).count()
      catch { case e: Throwable => failed(s"warmup $t", e) }
    }
    // plan/codegen warmup at the smallest SF (untimed): Catalyst
    // analysis + Janino compilation of each query's generated code
    // dominates a cold first run; warming it means the timed pass below
    // measures steady-state execution — the quantity that scales.
    names.foreach { name =>
      try all(name)(spark, "/root/testdata/sf0.001").count()
      catch { case e: Throwable => failed(s"warmup $name", e) }
    }
    dropCaches(spark)
    // One timed rep: wall seconds of the query's count(), or None after
    // one stderr line naming the failure. Then release the query's
    // cached/localCheckpointed blocks so storage never accumulates
    // across the 100+ query session — at a fixed heap that
    // accumulation evicts into GC thrash and taxes every later shuffle
    // join. Cleanup is untimed.
    def timeOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val dt =
        try { all(name)(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => failed(name, e); None }
      dropCaches(spark)
      dt
    }
    // Each query is timed `reps` times and the BEST run reported:
    // single-shot timings on this shared-host VM swing 2x+ with
    // neighbor noise, and the minimum is the standard steady-state
    // estimator under one-sided noise. Reps are INTERLEAVED as full
    // passes over the query list (pass 1 all queries, then pass 2, …)
    // rather than back-to-back per query: noise arrives in multi-second
    // BURSTS that would cover every back-to-back rep of several
    // consecutive queries, while under interleaving a burst lands on
    // different queries in each pass and the per-query minimum shakes
    // it off. A query that throws on every rep reports -1.0 so
    // failures stay detectable in BENCH_r{N}.json.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val best = scala.collection.mutable.Map[String, Double]()
    (1 to reps).foreach { _ =>
      // Session-growth hygiene (r20, VERDICT r19 item 9 — UNTIMED,
      // runs between passes, never inside a query's t0..dt window):
      // a full pass over 256 queries leaves tenured garbage (plan
      // trees, broadcast blocks, codegen classes) that later passes
      // pay for as GC pauses landing inside their timed windows — the
      // uniform ~10% sub-second drift the r19 common-set comparison
      // read as regression. Collect it at each pass boundary instead.
      System.gc()
      names.foreach { name =>
        timeOnce(name).foreach(dt =>
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt))
      }
    }
    val results = names.map(n => n -> best.getOrElse(n, -1.0))
    val total = results.map(_._2).sum
    // Calibration pass: quiesce, then best-of-3 interleaved over the
    // fixed subset. GC/JIT deltas across the pass attribute any
    // residual swing (a high gc_ms with a flat wall total = heap
    // pressure, not host slowdown).
    // The subset is a FIXED never-changing probe — a renamed/removed
    // member would silently shrink the denominator and make the
    // cross-round `cal` totals non-comparable, so fail loudly instead.
    val calMissing = calibration.filterNot(all.contains)
    require(calMissing.isEmpty,
      s"calibration queries missing from registry: ${calMissing.mkString(", ")}")
    val calNames = calibration
    val calBest = scala.collection.mutable.Map[String, Double]()
    dropCaches(spark); System.gc()
    val (calGc0, calJit0) = (gcMs, jitMs)
    val calT0 = System.nanoTime()
    (1 to 3).foreach { _ =>
      calNames.foreach { name =>
        timeOnce(name).foreach(dt =>
          calBest(name) = math.min(calBest.getOrElse(name, Double.MaxValue), dt))
      }
    }
    val calWallSec = (System.nanoTime() - calT0) / 1e9
    val calResults = calNames.map(n => n -> calBest.getOrElse(n, -1.0))
    // a probe member that failed every rep poisons the denominator —
    // publish a loudly-invalid total instead of one silently shrunk by
    // the -1 sentinel (bench_diff treats total <= 0 as "no cal block")
    val calTotal =
      if (calResults.exists(_._2 < 0)) -1.0 else calResults.map(_._2).sum
    val calJson = {
      val qs = calResults.map { case (k, v) => "\"" + k + "\":" + num("%.3f", v) }
        .mkString("{", ",", "}")
      s"""{"total":${num("%.3f", calTotal)},"cal_version":$calVersion,""" +
        s""""wall_sec":${num("%.1f", calWallSec)},""" +
        s""""gc_ms":${gcMs - calGc0},"jit_ms":${jitMs - calJit0},""" +
        s""""queries":$qs}"""
    }
    // Streaming throughput section (events/s; BASELINE's Nexmark
    // numbers are a streaming bench — this is the like-for-like side).
    // Each op isolates its own failure as -1.0 (the batch rows'
    // contract); the outer catch only covers suite setup (the events
    // replay collect).
    val streaming: Seq[(String, Double, StreamingBench.OpBreakdown)] =
      if (sys.env.getOrElse("SPARK_GRAFT_STREAMING", "1") == "0") Seq.empty
      else
        try StreamingBench.run(spark, sfDir)
        catch { case e: Throwable =>
          failed("streaming_suite", e)
          // -1 sentinels, NOT zeros: an all-zeros breakdown is
          // indistinguishable from "ran with zero state traffic"
          Seq(("streaming_suite", -1.0, StreamingBench.failedBreakdown)) }
    val streamingJson = streaming
      .map { case (k, v, _) => "\"" + k + "\":" + num("%.1f", v) }
      .mkString("{", ",", "}")
    // per-op state-read/-write vs processing split (round-9 directive:
    // NexmarkPerf-style separate rate tracking) — details file only
    val streamingBreakdownJson = streaming
      .map { case (k, _, b) => "\"" + k + "\":" + b.json }
      .mkString("{", ",", "}")
    // Full per-query detail goes to a FILE: the bench driver captures
    // only the tail of stdout (observed: last ~2000 chars), so a
    // 127-entry JSON line gets front-truncated and fails to parse —
    // which is exactly what happened to BENCH_r01..r05 (parsed:null).
    val full = results.map { case (k, v) => "\"" + k + "\":" + num("%.3f", v) }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${num("%.3f", total)},"unit":"sec","reps":$reps,"queries":$full,"calibration":$calJson,"streaming":$streamingJson,"streaming_breakdown":$streamingBreakdownJson,"sf":"${jsonPath(sfDir)}"}"""
    // best-effort: never let a read-only/foreign cwd kill the stdout
    // line the driver parses — but say on stderr that the file is stale
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_details.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => failed("bench_details.json write", e) }
    // The ONE stdout JSON line carries the total plus as many per-query
    // entries as fit under the tail window, highest-signal first:
    // BASELINE.md Nexmark anchors, then the TPC-H suite, then the
    // dedup/vector north-star ops, then everything else.
    // The driver-compared perfAnchors are GUARANTEED on the line —
    // they fill before the streaming block (VERDICT r19 item 2).
    val guaranteed = perfAnchors.filter(names.contains)
    val anchorsFirst: Seq[String] = {
      val anchors = guaranteed ++
        names.filter(_.startsWith("agg_tpch_")) ++
        names.filter(n => n.startsWith("dedup_") || n.startsWith("vec_"))
      (anchors ++ names).distinct
    }
    val byName = results.toMap
    emitFinalLineAndHalt(spark, stdoutLine(total, reps, names.size, calTotal,
      anchorsFirst.map(n => n -> byName(n)),
      streaming.map { case (k, v, _) => (k, v) }, sfDir,
      nAnchors = guaranteed.size,
      subsetOf = only.map(_ => names.size)))
  }

  /** One stderr line per failed warmup step or timed rep: a broken
    * table or query must not pass silently. `print`, not a line print:
    * the metric line is this file's only one (BenchLineSpec). */
  private def failed(what: String, e: Throwable): Unit =
    System.err.print(s"[bench] $what: ${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("") + "\n")

  /** Best-effort startup sweep of STALE temp trees from prior bench
    * runs (ADVICE r18: halt(0) skips the shutdown hooks that would
    * have removed them): graft_* (this repo's checkpoint/sink temp
    * dirs) and spark-* / blockmgr-* (Spark local dirs) under
    * java.io.tmpdir, last modified more than 2 hours ago. Age-gated so
    * the CURRENT session's dirs (created after this sweep) and any
    * live concurrent session's are never touched. */
  private def sweepStaleTempDirs(): Unit = try {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    val stale = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.lastModified() < cutoff &&
        (f.getName.startsWith("graft_") || f.getName.startsWith("spark-") ||
          f.getName.startsWith("blockmgr-")))
    stale.foreach(d => graft.tools.ReplayHarness.deleteTree(d.toPath))
  } catch { case _: Throwable => () }

  /** Print the metric line as the process's FINAL stdout bytes, then
    * halt. BENCH_r17.json was parsed:null — not a width failure (the
    * line fit the budget) but TRAILING noise: `spark.stop()` raced a
    * streaming-teardown, and the async TaskKilled /
    * RejectedExecutionException scheduler logging landed on stdout
    * AFTER the println, pushing the line out of the driver's
    * ~2000-char tail capture. The ordering here is the fix, and
    * BenchLineSpec's source guard pins it: (1) stop + await every
    * still-active streaming query, (2) logger OFF so late async
    * scheduler events can't write, (3) `spark.stop()` BEFORE printing
    * so any teardown bytes that escape land ahead of the line,
    * (4) print + flush, (5) `halt` — skipping shutdown hooks, so
    * nothing in the JVM can write after the line. */
  private def emitFinalLineAndHalt(spark: SparkSession, line: String): Unit = {
    spark.streams.active.foreach { q =>
      try { q.stop(); q.awaitTermination(30000) }
      catch { case _: Throwable => () }
    }
    try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    System.out.flush(); System.err.flush()
    println(line)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Hard budget for the ONE stdout JSON line. The bench driver
    * captures only the LAST ~2000 chars of stdout, so a line past
    * that front-truncates — losing `"metric"/"value"` and the `cal`
    * field bench_diff's host normalization needs (the exact
    * parsed:null failure of BENCH_r01..r05 and again r14 when the
    * query/streaming maps grew).
    *
    * r20: 1600 → 1900. The capture window is exactly 2000 chars
    * (measured: the `tail` field of BENCH_r17/r18/r19.json is 2000
    * chars each), and [[emitFinalLineAndHalt]] guarantees the line
    * holds the FINAL stdout bytes, so the only residual failure mode
    * is the line itself exceeding 2000 — 1900 keeps 5% margin. The
    * old 20% headroom guarded against trailing teardown noise, which
    * the halt-ordering contract (BenchLineSpec source guard)
    * eliminated in r17; meanwhile the 1600 cap silently dropped the
    * driver-compared agg_tpch_q8/q9 entries in r19 (PERF_r19
    * "dropped_from_bench" — a near-false-regression verdict). */
  private[graft] val stdoutLineBudget = 1900

  /** The driver-compared anchor queries (PERF_r{N}.json's common set:
    * the Nexmark analogs, the win_* suite, TPC-H q1–q9). These entries
    * fill the stdout line FIRST — before the streaming block — so a
    * growing streaming section can never push a cross-round comparison
    * anchor off the printed line again (VERDICT r19 item 2: the r19
    * line lost agg_tpch_q8/q9 to streaming growth and the driver,
    * which compares only the printed line, reported them dropped).
    * BenchLineSpec asserts every member fits at worst-case widths. */
  private[graft] val perfAnchors = Seq(
    "nexmark_q0_passthrough", "nexmark_q1_convert", "nexmark_q2_filter",
    "nexmark_q3_join", "nexmark_q4_avg_price", "nexmark_q6_avg_last10",
    "nexmark_q9_winning_bid", "nexmark_q10_shard",
    "win_hot_items", "win_highest_value", "win_new_users", "win_session",
    "agg_tpch_q1", "agg_tpch_q2", "agg_tpch_q3", "agg_tpch_q4",
    "agg_tpch_q5", "agg_tpch_q6", "agg_tpch_q7", "agg_tpch_q8",
    "agg_tpch_q9")

  /** Locale-pinned numeric formatting for the machine-parsed line:
    * the `f` interpolator uses the default locale, and a comma-decimal
    * locale would make the JSON invalid (ADVICE r15). */
  private def num(pattern: String, v: Double): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(v))

  /** JSON-escape + bound a path for the stdout line: quote/backslash/
    * control chars escaped (a raw quote would break the driver's
    * parse), middle elided past 120 chars (an unbounded path would eat
    * the entry budget — ADVICE r15). */
  private[graft] def jsonPath(s: String): String = {
    val bounded =
      if (s.length <= 120) s else s.take(58) + "..." + s.takeRight(59)
    bounded.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
  }

  /** Assemble the stdout line UNDER [[stdoutLineBudget]] by
    * construction: the scalar fields (total, cal, n_queries — the
    * ones the driver and bench_diff require) are unconditional; the
    * first `nAnchors` query entries (the driver-compared
    * [[perfAnchors]]) fill FIRST — cross-round comparison anchors can
    * never be pushed off by streaming growth (the r19 q8/q9 drop);
    * streaming rows (the BASELINE.md like-for-like side, in suite
    * order) fill next but always leave ≥300 chars for further batch
    * entries; remaining batch query entries (caller's priority order)
    * fill the remainder. Dropped entries are NOT lost — the full map
    * is in bench_details.json, which main() writes before printing.
    *
    * `subsetOf` (ADVICE r19): when the dev-only SPARK_GRAFT_ONLY
    * filter is active, the line carries a loud `"subset":N` marker so
    * a filtered run can never be mistaken for a full one. */
  private[graft] def stdoutLine(total: Double, reps: Int, nQueries: Int,
      cal: Double, queries: Seq[(String, Double)],
      streaming: Seq[(String, Double)], sfDir: String,
      nAnchors: Int = 0, subsetOf: Option[Int] = None): String = {
    val subset = subsetOf.map(n => s""""subset":$n,""").getOrElse("")
    val head = s"""{"metric":"total","value":${num("%.3f", total)},"unit":"sec",""" +
      s""""reps":$reps,"n_queries":$nQueries,$subset"cal":${num("%.3f", cal)},""" +
      s""""cal_version":$calVersion,"detail":"bench_details.json""""
    val tail = s""","sf":"${jsonPath(sfDir)}"}"""
    // greedy in-order fill: stop at the FIRST entry that would
    // overflow (a skip-and-continue fill would reorder the map's
    // priority semantics — later low-priority short names sneaking in
    // past dropped high-priority long ones)
    def fill(entries: Seq[String], cap: Int): String = {
      val sb = new StringBuilder
      var open = true
      entries.foreach { e =>
        val sep = if (sb.nonEmpty) 1 else 0
        if (open && sb.length + e.length + sep <= cap) {
          if (sep == 1) sb.append(',')
          sb.append(e)
        } else open = false
      }
      sb.toString
    }
    val wrappers = ",\"queries\":{}".length + ",\"streaming\":{}".length
    val avail = math.max(0,
      stdoutLineBudget - head.length - tail.length - wrappers)
    val qEntries = queries.map { case (k, v) =>
      "\"" + k + "\":" + num("%.2f", v) }
    val (anchorEntries, restEntries) = qEntries.splitAt(math.max(0, nAnchors))
    val aBody = fill(anchorEntries, avail)
    // post-streaming reserve shrunk 300 → 100 (r20): the driver-compared
    // anchors are ALREADY guaranteed ahead of the streaming block, so
    // the reserve only keeps a couple of north-star extras on the line
    // at worst-case widths — 300 would starve the streaming rows instead
    val sBody = fill(
      streaming.map { case (k, v) => "\"" + k + "\":" + num("%.1f", v) },
      math.max(0, avail - aBody.length - 100))
    // the rest of the batch entries join aBody with one comma
    val restCap = avail - aBody.length - sBody.length -
      (if (aBody.nonEmpty) 1 else 0)
    val rBody = fill(restEntries, math.max(0, restCap))
    val qBody =
      if (aBody.isEmpty) rBody
      else if (rBody.isEmpty) aBody
      else aBody + "," + rBody
    head + s""","queries":{$qBody},"streaming":{$sBody}""" + tail
  }
}
