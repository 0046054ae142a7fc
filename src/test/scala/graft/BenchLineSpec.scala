package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench's ONE stdout JSON line against the parsed:null
  * regression (BENCH_r01..r05, r14): the driver captures only the
  * LAST ~2000 chars of stdout, so the line must stay under
  * [[Bench.stdoutLineBudget]] (1900; the capture window measured
  * exactly 2000 chars across BENCH_r17–r19) no matter how large the
  * timed/streaming suites grow — the scalar fields (`value`,
  * `cal`, `n_queries`) are what bench_diff's host normalization needs
  * and must never be front-truncated away, and the driver-compared
  * [[Bench.perfAnchors]] must all stay on the line (r19 lost
  * agg_tpch_q8/q9 to streaming growth → a near-false "dropped"
  * verdict). */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The REAL current suites, with worst-case-width values: batch
    * seconds up to 3 digits before the decimal, streaming ev/s up to
    * 6 digits — wider than anything observed, so the guard holds with
    * margin. Streaming names come from [[StreamingBench.opNames]] —
    * the SAME list Bench.main's section iterates — so suite growth can
    * never leave this guard testing a stale universe (ADVICE r15).
    * Queries ride in main()'s priority order: perfAnchors first. */
  private def realLine(extraStreaming: Seq[String] = Nil): String = {
    val ordered = (Bench.perfAnchors.filter(Bench.timed.contains) ++
      Bench.timed).distinct
    val qs = ordered.map(n => n -> 999.99)
    val ss = (StreamingBench.opNames ++ extraStreaming).map(n => n -> 999999.9)
    Bench.stdoutLine(total = 999.999, reps = 3, nQueries = qs.size,
      cal = 99.999, queries = qs, streaming = ss,
      sfDir = "/root/testdata/sf0.1",
      nAnchors = Bench.perfAnchors.count(Bench.timed.contains))
  }

  test("stdout line stays under the driver tail-capture budget") {
    val line = realLine()
    assert(line.length <= Bench.stdoutLineBudget,
      s"stdout line ${line.length} chars > budget ${Bench.stdoutLineBudget}" +
        " — the driver's ~2000-char tail capture would front-truncate it" +
        " (the BENCH_r14 parsed:null failure); trim the anchor/streaming" +
        " maps in Bench.stdoutLine")
  }

  test("every driver-compared perfAnchor fits on the line (VERDICT r19 #2)") {
    // all perfAnchors must be timed registry queries (a renamed/removed
    // member would silently shrink the guaranteed set)...
    val missing = Bench.perfAnchors.filterNot(Bench.timed.contains)
    assert(missing.isEmpty,
      s"perfAnchors not in the timed set: ${missing.mkString(", ")}")
    // ...and at worst-case widths with the FULL streaming suite plus a
    // hypothetical growth row, every anchor must still be printed —
    // streaming growth degrades its own tail rows, never the anchors.
    val node = mapper.readTree(
      realLine(extraStreaming = Seq("streaming_hypothetical_next")))
    val kept = {
      val it = node.get("queries").fieldNames()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    val dropped = Bench.perfAnchors.filterNot(kept.contains)
    assert(dropped.isEmpty,
      s"driver-compared anchors fell off the stdout line: " +
        s"${dropped.mkString(", ")} — the PERF_r19 q8/q9 regression " +
        "shape; grow stdoutLineBudget or trim the streaming reserve")
  }

  test("SPARK_GRAFT_ONLY runs carry a loud subset marker (ADVICE r19)") {
    val line = Bench.stdoutLine(1.0, 3, 5, 1.0, Seq("q" -> 1.0),
      Seq("s" -> 1.0), "/tmp/x", subsetOf = Some(5))
    val node = mapper.readTree(line)
    assert(node.has("subset") && node.get("subset").asInt() == 5,
      "a filtered bench run must be distinguishable from a full one")
    // and a full run must NOT carry it
    assert(!mapper.readTree(realLine()).has("subset"))
  }

  test("stdout line is valid JSON with the fields bench_diff needs") {
    val node = mapper.readTree(realLine())
    for (f <- Seq("metric", "value", "unit", "reps", "n_queries", "cal",
        "detail", "queries", "streaming", "sf"))
      assert(node.has(f), s"stdout line missing field $f")
    assert(node.get("value").asDouble() == 999.999)
    assert(node.get("cal").asDouble() == 99.999)
    assert(node.get("n_queries").asInt() == Bench.timed.size)
    // the streaming block is the BASELINE like-for-like side: with
    // today's suite sizes EVERY streaming row must fit (only batch
    // anchors overflow to bench_details.json)
    assert(node.get("streaming").size() == StreamingBench.opNames.size,
      s"expected all ${StreamingBench.opNames.size} streaming rows on " +
        s"the stdout line, got ${node.get("streaming").size()}")
  }

  test("streaming block has headroom for the NEXT row (growth degrades by choice)") {
    // VERDICT r16 #7: without headroom, the round that adds streaming
    // row N+1 discovers the overflow only when a row silently degrades
    // to bench_details.json (or worse, at the driver's tail capture).
    // Guard: today's full suite PLUS one worst-case-width hypothetical
    // row must still fit every streaming entry on the line, so the
    // next addition either fits or fails THIS test at build time.
    val line = realLine(extraStreaming = Seq("streaming_hypothetical_next"))
    assert(line.length <= Bench.stdoutLineBudget)
    val node = mapper.readTree(line)
    val ssSize = StreamingBench.opNames.size + 1
    assert(node.get("streaming").size() == ssSize,
      s"no headroom left: a ${ssSize}th streaming row would silently " +
        s"degrade to bench_details.json (got ${node.get("streaming").size()}" +
        " on-line rows) — grow stdoutLineBudget headroom or consciously" +
        " route new rows to the details file")
  }

  test("pathological sfDir stays valid JSON under the budget") {
    // quote + backslash + a 500-char path: the escaping/eliding in
    // Bench.jsonPath must keep the line parseable and bounded
    // (ADVICE r15 — an unescaped quote broke the parse, an unbounded
    // path defeated the truncation fix)
    val evil = "/tmp/we\"ird\\dir/" + ("x" * 500)
    val line = Bench.stdoutLine(1.0, 3, 1, 1.0, Seq("q" -> 1.0),
      Seq("s" -> 1.0), evil)
    assert(line.length <= Bench.stdoutLineBudget)
    val node = mapper.readTree(line)
    val sf = node.get("sf").asText()
    assert(sf.startsWith("/tmp/we\"ird\\dir/"), s"sf mangled: $sf")
    assert(sf.length <= 130, s"sf not elided: ${sf.length} chars")
  }

  test("nothing can follow the metric line on stdout (BENCH_r17 parsed:null)") {
    // BENCH_r17 was the first machine-unreadable artifact since r5 — a
    // NEW failure mode: the line printed fine but async streaming/
    // scheduler teardown stack traces landed on stdout AFTER it,
    // pushing it out of the driver's tail capture. The fix is an
    // ordering contract in Bench.emitFinalLineAndHalt (stop+await
    // queries → logger OFF → spark.stop → println+flush → halt, which
    // skips shutdown hooks). Process-exit ordering can't be exercised
    // in-JVM by a spec, so this guard pins the contract at the source
    // level: the ONE println in Bench.scala lives inside
    // emitFinalLineAndHalt, after spark.stop, before halt, and main
    // delegates its line to it.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val printlns = "println\\(".r.findAllMatchIn(src).map(_.start).toSeq
    assert(printlns.size == 1,
      s"Bench.scala must contain exactly ONE println (the metric line); " +
        s"found ${printlns.size} — extra prints risk landing after the " +
        "line in the driver's tail capture")
    val bodyStart = src.indexOf("def emitFinalLineAndHalt")
    assert(bodyStart >= 0, "emitFinalLineAndHalt missing from Bench.scala")
    val p = printlns.head
    assert(p > bodyStart, "the println must live inside emitFinalLineAndHalt")
    val body = src.substring(bodyStart)
    val stopIdx = body.indexOf("spark.stop()")
    val printIdx = body.indexOf("println(")
    val haltIdx = body.indexOf("Runtime.getRuntime.halt(0)")
    assert(stopIdx >= 0 && printIdx >= 0 && haltIdx >= 0,
      "emitFinalLineAndHalt must stop Spark, print, and halt")
    assert(stopIdx < printIdx && printIdx < haltIdx,
      "ordering broken: need spark.stop() BEFORE println and halt(0) " +
        "AFTER it — teardown bytes must land ahead of the metric line " +
        "and nothing may write after it")
    assert(src.indexOf("setLogLevel(\"OFF\")") >= 0,
      "logger must be silenced before the final line (async scheduler " +
        "events write through log4j after spark.stop)")
    assert(src.indexOf("emitFinalLineAndHalt(spark,") >= 0,
      "main must emit its line through emitFinalLineAndHalt")
    // r19 (VERDICT r18: clean tail): stopping the wall-clock-triggered
    // last op kills an in-flight measurement-sink batch; its
    // task-side "ERROR DataWritingSparkTask: Aborted commit" landed on
    // the r18 artifact tail immediately before the metric line. The
    // bench silences that one logger at startup (real failures still
    // surface as -1 sentinels).
    assert(src.contains("DataWritingSparkTask") &&
      src.contains("Configurator.setLevel"),
      "bench startup must silence the DataWritingSparkTask abort " +
        "logger — deliberate-stop aborts of measurement sinks " +
        "otherwise land in the artifact tail as ERROR lines")
  }

  test("fill order is priority-preserving and parse survives overflow") {
    // 400 long-named queries: far past any budget — the line must
    // still be valid JSON of bounded length, keeping a PREFIX of the
    // given (priority) order
    val qs = (1 to 400).map(i => f"extremely_long_query_name_number_$i%03d" -> 1.0)
    val line = Bench.stdoutLine(1.0, 3, qs.size, 1.0, qs,
      (1 to 60).map(i => s"streaming_op_with_a_long_name_$i" -> 1.0),
      "/root/testdata/sf0.1")
    assert(line.length <= Bench.stdoutLineBudget)
    val node = mapper.readTree(line)
    val kept = {
      val it = node.get("queries").fieldNames()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(kept.nonEmpty, "overflow must still keep >= 1 batch anchor")
    assert(kept == qs.map(_._1).take(kept.size),
      "queries block must be a prefix of the priority order")
  }
}
