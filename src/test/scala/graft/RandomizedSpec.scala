package graft

import org.apache.spark.sql.functions._
import graft.operators.{Joins, Relational, Windowing}

/** Seeded randomized properties: each operator checked against a naive
  * driver-side reference on pseudo-random instances (PAssert-style
  * order-insensitive compare; fixed seeds keep runs reproducible).
  * ScalaTest-only (the scalatest↔scalacheck bridge artifact isn't in
  * the offline cache), so these are explicit seeded trials — same
  * falsification power on this instance space, deterministic CI. */
class RandomizedSpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoin == naive last-right-at-or-before scan on random instances") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val nKeys = 4
      val left = Seq.fill(120)((rnd.nextInt(nKeys).toLong,
        rnd.nextInt(500).toLong, rnd.nextInt(1000).toLong))
      // rights get UNIQUE (k, ts) pairs: equal-timestamp rights have no
      // deterministic winner in either engine or reference
      val right = rnd.shuffle(
        (0 until nKeys).flatMap(k => (0 until 500).map(ts => (k.toLong, ts.toLong))))
        .take(60).map { case (k, ts) => (k, ts, rnd.nextDouble()) }
      val lDf = left.toDF("k", "ts", "lval")
      val rDf = right.toDF("k", "ts", "rval")
      val got = Joins.asOfJoin(lDf, rDf, "k", "ts",
        leftCols = Seq("lval"), valueCols = Seq("rval"))
        .select("k", "ts", "lval", "r_rval")
        .as[(Long, Long, Long, Option[Double])].collect().toSeq
        .sortBy(t => (t._1, t._2, t._3))
      // naive reference: for each left row, the latest right row at or
      // before its timestamp for the same key
      val byKey = right.groupBy(_._1)
      val want = left.map { case (k, ts, lv) =>
        val cand = byKey.getOrElse(k, Seq.empty).filter(_._2 <= ts)
        val rv = if (cand.isEmpty) None else Some(cand.maxBy(_._2)._3)
        (k, ts, lv, rv)
      }.sortBy(t => (t._1, t._2, t._3))
      assert(got == want, s"trial $trial asOfJoin mismatch")
    }
  }

  test("mergeIntervals == naive interval merge on random instances") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val rows = Seq.fill(150) {
        val k = rnd.nextInt(3).toLong
        val s = rnd.nextInt(300).toLong
        (k, s, s + 1 + rnd.nextInt(20).toLong)
      }
      val got = Windowing.mergeIntervals(rows.toDF("k", "s", "e"),
        Seq(col("k")), col("s"), col("e"))
        .select("k", "win_start", "win_end", "n_rows")
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
      // naive: sort by (start, end), chain-merge while start <= max end
      val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sortBy(identity)
        val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        sorted.foreach { case (s, e) =>
          if (acc.nonEmpty && s <= acc.last._2)
            acc(acc.size - 1) = (acc.last._1, math.max(acc.last._2, e),
              acc.last._3 + 1)
          else acc += ((s, e, 1L))
        }
        acc.map(a => (k, a._1, a._2, a._3))
      }.sortBy(t => (t._1, t._2))
      assert(got == want, s"trial $trial mergeIntervals mismatch")
    }
  }

  test("saltedAgg == direct aggregation on random skewed instances") {
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      // zipf-ish skew: 80% of rows land on one hot key
      val rows = Seq.fill(500) {
        val k = if (rnd.nextInt(10) < 8) 0L else rnd.nextInt(5).toLong
        (k, rnd.nextInt(1000).toLong)
      }
      val df = rows.toDF("k", "v")
      val got = Relational.saltedAgg(df, Seq(col("k")), fanout = 8,
        stage1Aggs = Seq(sum("v").as("s"), count(lit(1)).as("c")),
        stage2Aggs = Seq(sum("s").as("sum_v"), sum("c").as("n")))
        .select("k", "sum_v", "n")
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      val want = rows.groupBy(_._1).toSeq.map { case (k, rs) =>
        (k, rs.map(_._2).sum, rs.size.toLong)
      }.sortBy(_._1)
      assert(got == want, s"trial $trial saltedAgg mismatch")
    }
  }

  // ===== MATCH_RECOGNIZE NFA vs java.util.regex ==========================
  // For UNCORRELATED step predicates the NFA is exactly a backtracking
  // regex engine over the row sequence: single-row predicates are
  // character classes, quantifiers map 1:1 (both greedy-with-backtrack,
  // longest run first), alternation is leftmost-preferred in both, and
  // the scan loop (anchored attempt at pos; on match emit + resume at
  // end [SKIP PAST LAST ROW] or pos+1 [SKIP TO NEXT ROW]; on failure or
  // empty match slide one row) is replicated with Matcher.region +
  // lookingAt. Random patterns × random inputs × both skip modes must
  // then produce IDENTICAL match spans. Correlated (PREV/FIRST/LAST)
  // conditions are outside regex reach and covered by PipelineOpsSpec.
  test("sortValuesStreamed == collect_list secondary sort on random instances") {
    val rnd = new scala.util.Random(42L)
    for (trial <- 1 to 3) {
      val rows = Seq.fill(400 + trial)((rnd.nextInt(15).toLong,
        rnd.nextInt(50), rnd.nextInt(50), rnd.nextInt(1000)))
      val df = rows.toDF("k", "a", "b", "v")
      val streamed = Relational.sortValuesStreamed[Long, (Long, Int, Int, Int),
          (Long, String)](
          df.as[(Long, Int, Int, Int)], _._1,
          Seq(col("a"), col("b"), col("v"))) { (k, it) =>
          Iterator.single((k, it.map(_._4).mkString(",")))
        }.collect().toMap
      val collected = df.groupBy("k")
        .agg(concat_ws(",", transform(
          sort_array(collect_list(struct(col("a"), col("b"), col("v")))),
          x => x.getField("v").cast("string"))).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == collected, s"trial $trial")
    }
  }

  test("Scd.applyCdcBatch over random wave splits == full-rebuild history") {
    // the CDC idempotence contract: under commit-order delivery
    // ((ts, tie)-sorted), incrementally applying ANY partition of the
    // change log into batches yields exactly the history a single
    // batch build over the full log produces — including keys whose
    // entire state churn happens inside one wave, keys split across
    // every wave, and absorbed consecutive duplicates at wave edges
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val rows = Seq.fill(200)((rnd.nextInt(6).toLong,
          s"s${rnd.nextInt(3)}", rnd.nextInt(40).toLong))
        .zipWithIndex
        .map { case ((k, st, ts), i) => (k, st, ts, i.toLong) }
        .sortBy(t => (t._3, t._4)) // commit order
      // random wave boundaries (1..6 waves)
      val nWaves = 1 + rnd.nextInt(6)
      val cuts = (Seq(0, rows.length) ++
        Seq.fill(nWaves - 1)(rnd.nextInt(rows.length + 1))).distinct.sorted
      val waves = cuts.zip(cuts.tail).map { case (a, b) => rows.slice(a, b) }
      var store = Seq.empty[(Long, String, Long, Long)]
        .toDF("k", "state", "ts", "tie")
      waves.filter(_.nonEmpty).foreach { wv =>
        store = graft.operators.Scd.applyCdcBatch(store,
          wv.toDF("k", "state", "ts", "tie"), "k", "state", "ts", "tie")
          .localCheckpoint(true)
      }
      def hist(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Scd.history(df, "k", "state", "ts", "tie")
          .select(col("k"), col("state"), col("ts"), col("valid_to"),
            col("is_current"))
          .collect().map(_.toSeq).toSet
      val got = hist(store)
      val want = hist(rows.toDF("k", "state", "ts", "tie"))
      assert(got == want,
        s"trial $trial (waves=$nWaves): incremental != rebuild")
    }
  }

  test("t-digest rank error stays bounded across random distributions") {
    // Pure-function trials (no Spark): build the digest exactly as the
    // aggregate does — per-chunk buffers, cross-chunk merge, compress —
    // and check every estimated quantile's TRUE RANK against its target
    // on adversarial shapes: uniform, heavy-tail, bimodal, near-constant,
    // and discrete. 2% rank tolerance (gate uses the same).
    import graft.functions.TDigest
    val rnd = new scala.util.Random(20260813L)
    val dists: Seq[(String, Int => Double)] = Seq(
      ("uniform", _ => rnd.nextDouble()),
      ("heavy-tail", _ => math.exp(6.0 * rnd.nextDouble())),
      ("bimodal", _ => if (rnd.nextBoolean()) rnd.nextGaussian()
                       else 100.0 + rnd.nextGaussian()),
      ("near-constant", i => if (i % 1000 == 0) rnd.nextDouble() else 42.0),
      ("discrete", _ => rnd.nextInt(7).toDouble))
    for ((label, gen) <- dists) {
      val n = 50000
      val xs = Array.tabulate(n)(gen)
      // simulate partial aggregation: 16 shards, each its own buffer,
      // merged pairwise like the exchange does
      val shards = xs.grouped(n / 16).map { chunk =>
        val b = new TDigest.Buf(100.0)
        chunk.foreach(b.add(_, 1.0))
        b
      }.toSeq
      val merged = shards.reduce { (a, b) =>
        var i = 0
        while (i < b.n) { a.add(b.means(i), b.weights(i)); i += 1 }
        a
      }
      merged.compact()
      val sorted = xs.sorted
      for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
        val est = TDigest.quantile(merged.means.take(merged.n),
          merged.weights.take(merged.n), q)
        // true rank of the estimate (fraction of values <= est)
        val lo = sorted.count(_ < est).toDouble / n
        val hi = sorted.count(_ <= est).toDouble / n
        // est's rank interval must intersect [q ± 2%]
        assert(lo <= q + 0.02 && hi >= q - 0.02,
          s"$label q=$q: est=$est rank=[$lo,$hi]")
      }
    }
  }

  test("t-digest degenerate inputs: empty, singleton, all-equal") {
    import graft.functions.TDigest
    val b1 = new TDigest.Buf(100.0)
    b1.add(7.5, 1.0); b1.compact()
    assert(TDigest.quantile(b1.means.take(b1.n), b1.weights.take(b1.n), 0.5) == 7.5)
    val b2 = new TDigest.Buf(100.0)
    (1 to 10000).foreach(_ => b2.add(3.0, 1.0))
    b2.compact()
    assert(b2.n >= 1 && b2.n < 100, s"all-equal should collapse, n=${b2.n}")
    for (q <- Seq(0.0, 0.01, 0.5, 0.99, 1.0))
      assert(TDigest.quantile(b2.means.take(b2.n), b2.weights.take(b2.n), q) == 3.0)
    intercept[IllegalArgumentException] {
      TDigest.quantile(Array.empty, Array.empty, 0.5)
    }
  }

  test("correlated down-run NFA == naive maximal-descent scanner on random series") {
    // PATTERN (A B+) DEFINE B AS B.value < PREV(B.value), SKIP PAST
    // LAST ROW — the correlated-condition path the uncorrelated
    // regex-equivalence trials can't reach. Naive reference: walk the
    // series left to right; at each position not yet consumed, a match
    // is the maximal strictly-descending run of length >= 2 starting
    // there; consume it wholly (skip-past-last-row) and continue after.
    import graft.operators.MatchRecognize
    val steps = Seq(
      MatchRecognize.Step[Double]("A", _ => true),
      MatchRecognize.CtxStep[Double]("B",
        (t, ctx) => ctx.prev().exists(p => t < p), 1, Int.MaxValue))
    def naive(xs: IndexedSeq[Double]): Seq[(Double, Double, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Double, Double, Int)]()
      var i = 0
      while (i < xs.length) {
        var j = i
        while (j + 1 < xs.length && xs(j + 1) < xs(j)) j += 1
        if (j > i) { out += ((xs(i), xs(j), j - i)); i = j + 1 }
        else i += 1
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 200) {
      // small value alphabet forces ties and immediate-restart shapes
      val n = 1 + rnd.nextInt(24)
      val xs = IndexedSeq.fill(n)(rnd.nextInt(6).toDouble)
      val got = MatchRecognize.matchRows(1L, xs, steps) { m =>
        (m.captured("A").head, m.captured("B").last, m.captured("B").size)
      }
      assert(got == naive(xs), s"trial $trial xs=$xs got=$got want=${naive(xs)}")
    }
  }

  test("DEFINE SUM cap segmentation == naive greedy simulator on random series") {
    // PATTERN (B+) DEFINE B AS SUM(B.value) <= cap, SKIP PAST LAST ROW
    // — the running-aggregate DEFINE path (AggOp). Naive reference:
    // walk left to right accumulating; close the match when the next
    // value would exceed the cap; a value alone above the cap matches
    // nothing and the scan resumes after it.
    import graft.operators.MatchRecognize
    def naive(xs: IndexedSeq[Double], cap: Double): Seq[(Int, Double)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
      var i = 0
      while (i < xs.length) {
        if (xs(i) > cap) i += 1
        else {
          var j = i
          var acc = xs(i)
          while (j + 1 < xs.length && acc + xs(j + 1) <= cap) {
            j += 1; acc += xs(j)
          }
          out += ((j - i + 1, acc))
          i = j + 1
        }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(13L)
    for (trial <- 1 to 200) {
      val n = 1 + rnd.nextInt(24)
      val cap = (2 + rnd.nextInt(8)).toDouble
      // integer values 0..4: zeros exercise ties, values > cap exercise
      // the no-match singleton path when cap is small
      val xs = IndexedSeq.fill(n)(rnd.nextInt(5).toDouble)
      val steps = Seq(MatchRecognize.CtxStep[Double]("B",
        (t, ctx) => {
          val sofar = ctx.rowsOf("B").sum + t // candidate included
          sofar <= cap
        }, 1, Int.MaxValue))
      val got = MatchRecognize.matchRows(1L, xs, steps) { m =>
        (m.captured("B").size, m.captured("B").sum)
      }
      assert(got == naive(xs, cap),
        s"trial $trial cap=$cap xs=$xs got=$got want=${naive(xs, cap)}")
    }
  }

  test("matchRows spans == java.util.regex on random uncorrelated patterns") {
    import graft.operators.MatchRecognize
    import MatchRecognize.{Alt, Elem, SkipMode, SkipPastLastRow, SkipToNextRow, Step}

    val alphabet = "abcd"
    val rnd = new scala.util.Random(41)

    final case class GenStep(chars: Set[Char], min: Int, max: Int,
        reluctant: Boolean)
    def genStep(): GenStep = {
      val nc = 1 + rnd.nextInt(2)
      val chars = Set.fill(nc)(alphabet(rnd.nextInt(alphabet.length)))
      val (mn, mx) = rnd.nextInt(7) match {
        case 0 => (1, 1)
        case 1 => (0, 1)
        case 2 => (1, Int.MaxValue)
        case 3 => (0, Int.MaxValue)
        case 4 => (2, 3)
        case 5 => (2, 2)
        case 6 => (1, 3)
      }
      // ~1/3 of non-exact quantifiers go reluctant — java.util.regex's
      // lazy `?` suffix is the oracle for the shortest-first order
      val rel = (mn, mx) != (1, 1) && mx != mn && rnd.nextInt(3) == 0
      GenStep(chars, mn, mx, rel)
    }
    def stepRegex(g: GenStep): String = {
      val cls = s"[${g.chars.mkString}]"
      val q = (g.min, g.max) match {
        case (1, 1) => ""
        case (0, 1) => "?"
        case (1, Int.MaxValue) => "+"
        case (0, Int.MaxValue) => "*"
        case (m, Int.MaxValue) => s"{$m,}"
        case (m, n) => s"{$m,$n}"
      }
      cls + q + (if (g.reluctant) "?" else "")
    }
    var nameSeq = 0
    def toElem(g: GenStep): Elem[(Int, Char)] = {
      nameSeq += 1
      Step(s"V$nameSeq", (t: (Int, Char)) => g.chars.contains(t._2),
        g.min, g.max, g.reluctant)
    }

    def oracleSpans(s: String, rx: java.util.regex.Pattern,
        skip: SkipMode): Seq[(Int, Int)] = {
      val m = rx.matcher(s)
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var pos = 0
      while (pos < s.length) {
        m.region(pos, s.length)
        if (m.lookingAt() && m.end > m.start) {
          out += ((m.start, m.end))
          pos = skip match {
            case SkipPastLastRow => m.end
            case SkipToNextRow => pos + 1
          }
        } else pos += 1
      }
      out.toSeq
    }

    (1 to 300).foreach { trial =>
      // random pattern: 1-4 elements, ~1/4 of them 2-branch alternations
      val (elems, regex) = {
        val parts = (1 to 1 + rnd.nextInt(3)).map { _ =>
          if (rnd.nextInt(4) == 0) {
            val br1 = Seq.fill(1 + rnd.nextInt(2))(genStep())
            val br2 = Seq.fill(1 + rnd.nextInt(2))(genStep())
            val elem: Elem[(Int, Char)] =
              Alt(br1.map(toElem), br2.map(toElem))
            val rx = "(?:" + br1.map(stepRegex).mkString +
              "|" + br2.map(stepRegex).mkString + ")"
            (elem, rx)
          } else {
            val g = genStep()
            (toElem(g), stepRegex(g))
          }
        }
        (parts.map(_._1), parts.map(_._2).mkString)
      }
      val s = (0 until rnd.nextInt(41)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val rows: IndexedSeq[(Int, Char)] = s.zipWithIndex.map(_.swap).toIndexedSeq
      val rx = java.util.regex.Pattern.compile(regex)

      Seq(SkipPastLastRow, SkipToNextRow).foreach { skip =>
        val got = MatchRecognize.matchRows(0, rows, elems, skip) { m =>
          val idxs = m.captured.values.flatten.map(_._1).toSeq.sorted
          // invariant: captured rows tile the span exactly once
          assert(idxs == (idxs.head to idxs.last).toSeq,
            s"trial $trial: captured rows not contiguous ($idxs) " +
              s"pattern=$regex input=$s")
          (idxs.head, idxs.last + 1)
        }
        val want = oracleSpans(s, rx, skip)
        assert(got == want,
          s"trial $trial skip=$skip pattern=$regex input=$s: " +
            s"nfa=$got regex=$want")
      }
    }
  }

  test("SessionPanes.upsert maintains exact gap-clusters under random insertion order") {
    import graft.streaming.StatefulV2.{SessionPanes, WindowFn}
    // the incremental locate/extend/rekey/merge must reproduce, after
    // EVERY insertion, exactly the gap-connected components a full
    // re-cluster of the inserted timestamps would give — plus the
    // bookkeeping invariants the trigger machinery relies on
    val rnd = new scala.util.Random(11)
    val sizes = new scala.util.Random(12) // fixed-window sizes
    (1 to 200).foreach { trial =>
      val gap = 1 + rnd.nextInt(10)
      val n = 1 + rnd.nextInt(40)
      val ts = IndexedSeq.fill(n)(rnd.nextInt(120).toLong)
      val m = scala.collection.mutable.TreeMap
        .empty[Long, SessionPanes.St]
      // the append-only row log the state design pairs with the
      // summaries: (pos, ts, value), positions strictly increasing
      val log = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
      var retracts = 0
      ts.zipWithIndex.foreach { case (t, i) =>
        val pos = i.toLong
        val (skey, st0) = WindowFn.Sessions(gap).upsert(m, t, pos,
          combine5 = (_, a5, _, b5) => math.max(a5, b5),
          retract = (_, _) => retracts += 1)
        log += ((pos, t, s"v$i"))
        m(skey) = st0.copy(_2 = st0._2 + 1)
        // expected components: sort inserted so-far, split on > gap
        val sorted = ts.take(i + 1).sorted
        val expected = sorted.tail.foldLeft(
          Vector(Vector(sorted.head))) { (acc, x) =>
          if (x - acc.last.last > gap) acc :+ Vector(x)
          else acc.init :+ (acc.last :+ x)
        }.map(c => (c.head, c.last))
        val got = m.toSeq.map { case (k, st) => (k, st._6) }
        assert(got == expected,
          s"trial $trial gap=$gap after ${i + 1} inserts: " +
            s"got=$got expected=$expected ts=${ts.take(i + 1)}")
        // cuts invariants: head segment starts at the session min and
        // segments are strictly increasing in tsLo
        m.foreach { case (k, st) =>
          assert(st._1.head._1 == k,
            s"trial $trial: cuts head ${st._1.head} != session min $k")
          assert(st._1.map(_._1) == st._1.map(_._1).sorted.distinct,
            s"trial $trial: cuts not strictly sorted: ${st._1}")
        }
        // LIVE log rows tile the inserted multiset: each row live for
        // exactly one session, with its ts inside that session's span
        val liveFor = log.map { case (p, rt, _) =>
          m.toSeq.filter { case (k, st) => SessionPanes.live(k, st, p, rt) }
        }
        assert(liveFor.forall(_.size == 1),
          s"trial $trial: a log row is live for ${liveFor.map(_.size)} sessions")
        assert(liveFor.flatten.groupBy(_._1).forall { case (k, ss) =>
          ss.size == m(k)._2
        }, s"trial $trial: live-row tiling != per-session counts")
        // counts sum to the inserted total (merges never drop counts)
        assert(m.values.map(_._2).sum == i + 1L, s"trial $trial: count drift")
      }
      // the same insertion order through FIXED windows: every row is
      // live in exactly its floor window, whose summary spans exactly
      // that window's rows — fixed windows never merge, rekey or retract
      val size = 1 + sizes.nextInt(20)
      val fixed = WindowFn.Fixed(size)
      val fm = scala.collection.mutable.TreeMap.empty[Long, SessionPanes.St]
      def floor(x: Long) = Math.floorDiv(x, size.toLong) * size
      ts.zipWithIndex.foreach { case (t, i) =>
        val (w, st0) = fixed.upsert(fm, t, i.toLong,
          combine5 = (_, _, _, _) => fail(s"trial $trial: fixed windows merged"),
          retract = (_, _) => fail(s"trial $trial: fixed windows retracted"))
        assert(w == floor(t), s"trial $trial size=$size: $t keyed at $w")
        fm(w) = st0.copy(_2 = st0._2 + 1)
        val seen = ts.take(i + 1)
        val expected = seen.groupBy(floor).map { case (k, xs) => (k, xs.max) }
          .toSeq.sorted
        assert(fm.toSeq.map { case (k, st) => (k, st._6) } == expected,
          s"trial $trial size=$size after $seen: ${fm.keys}")
        seen.zipWithIndex.foreach { case (rt, p) =>
          val liveIn = fm.toSeq.collect {
            case (k, st) if SessionPanes.live(k, st, p.toLong, rt) => k
          }
          assert(liveIn == Seq(floor(rt)),
            s"trial $trial size=$size: row ($p, $rt) live in $liveIn")
        }
        assert(fm.forall { case (k, st) => st._2 == seen.count(floor(_) == k) },
          s"trial $trial size=$size: per-window count drift")
      }
    }
  }

  test("SessionLog: hundreds of merges into one session keep cuts bounded; span reads == full-scan reference") {
    import graft.streaming.StatefulV2.{SessionPanes, SessionLog, WindowFn}
    // in-memory state fakes (the trait surface the processors use)
    class FakeList[T] extends org.apache.spark.sql.streaming.ListState[T] {
      var buf = scala.collection.mutable.ArrayBuffer.empty[T]
      def exists(): Boolean = buf.nonEmpty
      def get(): Iterator[T] = buf.iterator
      def put(s: Array[T]): Unit = { buf.clear(); buf ++= s }
      def appendValue(v: T): Unit = buf += v
      def appendList(s: Array[T]): Unit = buf ++= s
      def clear(): Unit = buf.clear()
    }
    val logState = new FakeList[(Long, Long, String)]
    // the packed-meta counters the processors persist between
    // invocations (r14 layout: they travel in the one ValueState row)
    var meta3 = (0L, 0L, 0L)
    def freshLog() =
      new SessionLog[String](logState, meta3._1, meta3._2, meta3._3)
    val m = scala.collection.mutable.TreeMap.empty[Long, SessionPanes.St]
    // the merge mill: 301 singletons at even ts (gap=1 keeps them
    // apart), then 300 odd-ts bridges, each merging the growing left
    // session with the next singleton — the accumulating-mode shape
    // where pre-compaction cuts would grow one segment per merge
    val singles = (0 to 300).map(_ * 2L)
    val bridges = (0 until 300).map(_ * 2L + 1)
    var merges = 0
    var maxCuts = 0
    var rewrites = 0
    (singles ++ bridges).foreach { t =>
      // fresh view per "invocation", as the processors construct one
      val lv = freshLog()
      val (skey, st0) = WindowFn.Sessions(1L).upsert(m, t, lv.nextPos,
        combine5 = (_, a5, _, b5) => math.max(a5, b5),
        retract = (_, _) => merges += 1)
      lv.append(t, s"v$t")
      m(skey) = st0.copy(_2 = st0._2 + 1)
      // maybeRewrite collapses every session's fences in m itself
      // (the processors' contract: persist all of m afterwards);
      // flush() persists the invocation's appends in one appendList
      if (lv.maybeRewrite(m)) rewrites += 1
      lv.flush()
      meta3 = (lv.nextPos, lv.total, lv.garbage)
      maxCuts = math.max(maxCuts, m.values.map(_._1.length).max)
      // span-indexed content == brute-force full-log liveness filter
      m.foreach { case (k, st) =>
        val want = logState.buf
          .filter { case (p, rt, _) => SessionPanes.live(k, st, p, rt) }
          .map { case (_, rt, v) => (rt, v) }.toSeq
        val got = freshLog().content(k, st)
        assert(got.sorted == want.sorted,
          s"content mismatch for session $k at insert $t")
      }
    }
    assert(merges >= 300, s"merge mill only produced $merges merges")
    assert(m.size == 1, "bridges should leave exactly one session")
    assert(m.head._2._2 == 601L, "merged session must hold every insert")
    assert(maxCuts <= 33,
      s"cuts grew to $maxCuts segments — fence compaction not bounding")
    // one overflow-triggered compaction collapses every fence to 0;
    // equal-fence compaction then keeps merged cuts at ONE segment
    // forever after — bounded even tighter than the 32-segment ceiling
    assert(rewrites >= 1, s"fence-collapse compaction never engaged")
    // and the final session's content is the full multiset
    val fin = freshLog().content(m.head._1, m.head._2)
    assert(fin.map(_._1).sorted == (0L to 600L).toSeq, "final content drift")
    // layout guard: a physically non-empty log under an ABSENT packed
    // meta (the pre-r14 restore signature) throws via checkFreshLayout;
    // an empty log (clean start) passes
    intercept[IllegalStateException] {
      new SessionLog[String](logState).checkFreshLayout()
    }
    new SessionLog[String](new FakeList[(Long, Long, String)]())
      .checkFreshLayout()
  }

  test("Misra-Gries: est <= true <= est + err, err <= n/(k+1), heavy coverage — any split/merge order") {
    // the mergeable-summaries contract: fold a random weighted stream
    // in random batch chunks (the streaming path), AND independently
    // summarize random shards then merge in random order (the
    // distributed combine path) — both must satisfy the deterministic
    // bounds vs exact counts
    import graft.functions.MisraGries
    val rnd = new scala.util.Random(20260815L)
    (1 to 150).foreach { trial =>
      val k = 1 + rnd.nextInt(12)
      val nItems = 1 + rnd.nextInt(30)
      // Zipf-ish: low ids heavy
      val stream = Seq.fill(30 + rnd.nextInt(300)) {
        val item = math.min(nItems - 1,
          (nItems * math.pow(rnd.nextDouble(), 3)).toInt)
        (item, 1L + rnd.nextInt(4))
      }
      val exact = stream.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toMap
      val n = stream.map(_._2).sum
      def check(s: MisraGries.Summary[Int], label: String): Unit = {
        assert(s.n == n, s"trial $trial $label n drift")
        assert(s.err <= n / (k + 1),
          s"trial $trial $label err ${s.err} > ${n / (k + 1)}")
        exact.foreach { case (x, t) =>
          val e = s.est(x)
          assert(e <= t && t <= e + s.err,
            s"trial $trial $label item $x est $e true $t err ${s.err}")
          assert(t <= s.err || s.counters.contains(x),
            s"trial $trial $label heavy item $x (true $t > err ${s.err}) missing")
        }
      }
      // streaming fold in random chunks
      var folded = MisraGries.empty[Int]
      var rest = stream
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(rest.size)
        val (chunk, later) = rest.splitAt(take)
        folded = MisraGries.addAll(folded,
          chunk.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap, k)
        rest = later
      }
      check(folded, "fold")
      // shard + random-order merge
      val nShards = 1 + rnd.nextInt(6)
      val shards = stream.zipWithIndex.groupBy(_._2 % nShards).values.toSeq
        .map(sh => MisraGries.addAll(MisraGries.empty[Int],
          sh.map(_._1).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap, k))
      val merged = rnd.shuffle(shards)
        .reduce((a, b) => MisraGries.merge(a, b, k))
      check(merged, "merge")
    }
  }

  test("reservoirDraw: Algorithm R selection is uniform across keys") {
    // k=1 over 10 items per key, 3000 distinct keys: each item index
    // survives for ~300 keys. The draw is deterministic per (seed,
    // key, index), so uniformity must come from the mix — a biased
    // mixer shows up as a skewed histogram
    import graft.streaming.StatefulV2.reservoirDraw
    val counts = new Array[Int](10)
    (0 until 3000).foreach { key =>
      val kh = key.toLong * 2654435761L // spread key hashes
      var kept = 0
      (0L until 10L).foreach { n =>
        if (n == 0L || reservoirDraw(42L, kh, n) == 0L) kept = n.toInt
      }
      counts(kept) += 1
    }
    counts.zipWithIndex.foreach { case (c, i) =>
      assert(c > 180 && c < 450, s"index $i selected $c/3000 — biased")
    }
  }

  test("mergeReservoirs: exact uniform k-subset of the shard union") {
    import graft.streaming.StatefulV2.mergeReservoirs
    // (a) uniformity: shards whose reservoirs ARE their populations
    // (n_i == |sample_i|), so selection frequency of every element
    // across revs must approach k/N exactly — skewed shard sizes make
    // a mis-weighted shard choice visible immediately
    val shards = Seq(
      (6L, Seq(0L, 1L, 2L, 3L, 4L, 5L)),
      (3L, Seq(6L, 7L, 8L)),
      (1L, Seq(9L)))
    val k = 4
    val trials = 3000
    val counts = new Array[Int](10)
    (1 to trials).foreach { rev =>
      val got = mergeReservoirs(shards, k, seed = 42L, rev = rev.toLong)
      assert(got.size == k && got.distinct.size == k, s"rev $rev: $got")
      got.foreach(v => counts(v.toInt) += 1)
    }
    // expected k/N = 0.4 per element; bound generous vs sqrt variance
    counts.zipWithIndex.foreach { case (c, i) =>
      val f = c.toDouble / trials
      assert(f > 0.34 && f < 0.46, s"element $i selected at $f — biased")
    }
    // (b) true-reservoir shape: a population far exceeding its
    // reservoir (|sample| = k, the stage-1 invariant) next to a tiny
    // full shard. The POPULATION weighting is the testable property:
    // expected takes from the n=2 shard are k·2/1002 ≈ 0.012 per rev
    // (≈ 6 over 500 revs), where a mis-weighted UNIFORM shard choice
    // would take ~1500 — the bound below separates them by 20×
    var smallTakes = 0
    (1 to 500).foreach { rev =>
      val got = mergeReservoirs(
        Seq((1000L, Seq(1L, 2L, 3L, 4L, 5L, 11L)), (2L, Seq(6L, 7L))),
        k = 6, seed = 7L, rev = rev.toLong)
      assert(got.size == 6 && got.distinct.size == 6, s"rev $rev: $got")
      smallTakes += got.count(v => v == 6L || v == 7L)
    }
    assert(smallTakes <= 60,
      s"small shard drawn $smallTakes/500 revs — population weighting broken")
    assert(mergeReservoirs(Seq((2L, Seq(1L, 2L))), 10, 1L, 1L)
      .sorted == Seq(1L, 2L))
    // an underfull reservoir (contract violation) fails loudly
    intercept[IllegalArgumentException] {
      mergeReservoirs(Seq((1000L, Seq(1L, 2L))), 6, 1L, 1L)
    }
    // (c) deterministic in (seed, rev)
    assert(mergeReservoirs(shards, k, 42L, 17L) ==
      mergeReservoirs(shards, k, 42L, 17L))
  }

  test("welfordAdd fold == exact two-pass mean/variance on random streams") {
    val rnd = new scala.util.Random(31L)
    (1 to 200).foreach { trial =>
      val xs = Seq.fill(2 + rnd.nextInt(200))(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6)))
      val (n, mean, m2) = xs.foldLeft((0L, 0.0, 0.0)) {
        (st, v) => graft.streaming.StatefulV2.welfordAdd(st, v)
      }
      val exactMean = xs.sum / xs.size
      val exactM2 = xs.map(x => (x - exactMean) * (x - exactMean)).sum
      assert(n == xs.size)
      assert(math.abs(mean - exactMean) <=
        1e-9 * math.max(1.0, math.abs(exactMean)),
        s"trial $trial mean $mean != $exactMean")
      assert(math.abs(m2 - exactM2) <= 1e-6 * math.max(1.0, exactM2),
        s"trial $trial m2 $m2 != $exactM2")
    }
  }

  test("funnelStep fold == batch chained window-mins on random in-order streams") {
    // the streaming funnel's contract: under event-time-ordered
    // arrival (any batch split), the folded 3-slot state equals the
    // batch query's chained window-mins t1/t2/t3 exactly
    val rnd = new scala.util.Random(13L)
    (1 to 300).foreach { trial =>
      val h = 5L + rnd.nextInt(20)
      // (ts, step) order — the processor's in-batch sort: an equal-ts
      // later step processes after the earlier step it depends on
      val evs = Seq.fill(1 + rnd.nextInt(60))(
        (rnd.nextInt(100).toLong, 1 + rnd.nextInt(3))).sorted
      val got = evs.foldLeft((-1L, -1L, -1L)) { case (st, (ts, step)) =>
        graft.streaming.StatefulV2.funnelStep(st, ts, step, h)
      }
      // batch reference: t1 = min step-1 ts; t2 = min step-2 ts in
      // [t1, t1+h]; t3 = min step-3 ts in [t2, t2+h]
      val t1 = evs.collect { case (ts, 1) => ts }
        .minOption.getOrElse(-1L)
      val t2 = if (t1 == -1L) -1L
        else evs.collect { case (ts, 2) if ts >= t1 && ts <= t1 + h => ts }
          .minOption.getOrElse(-1L)
      val t3 = if (t2 == -1L) -1L
        else evs.collect { case (ts, 3) if ts >= t2 && ts <= t2 + h => ts }
          .minOption.getOrElse(-1L)
      assert(got == ((t1, t2, t3)),
        s"trial $trial h=$h evs=$evs: $got != ${(t1, t2, t3)}")
    }
  }
}
