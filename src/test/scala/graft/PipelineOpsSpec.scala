package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import graft.operators.{Enrichment, Inference, MatchRecognize, Multimodal, Similarity}
import graft.operators.MatchRecognize.Step
import graft.queries.{PmEvent, PmMatch}

/** Specs for the pipeline operators added in round 2: MATCH_RECOGNIZE
  * NFA, count-min sketch, enrichment lookup, multimodal plumbing,
  * batched inference, and the compiled cosine kernel. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- MatchRecognize ----

  private def matches(events: Seq[PmEvent], steps: Seq[Step[PmEvent]]) =
    MatchRecognize.matchRecognize[Long, PmEvent, PmMatch](
      events.toDS(), _.user_id, Seq(col("ts_us"), col("event_id")), steps) { m =>
      PmMatch(m.key, m.matchSeq,
        m.captured.getOrElse("V", Seq.empty).size.toLong,
        m.captured.getOrElse("P", Seq.empty).headOption.map(_.event_id).getOrElse(-1L))
    }.collect().toSeq.sortBy(m => (m.user_id, m.match_id))

  private val vPlusP = Seq(
    Step[PmEvent]("V", _.event_type == "view", 1, Int.MaxValue),
    Step[PmEvent]("P", _.event_type == "purchase"))

  private def ev(id: Long, t: String, ts: Long, u: Long = 1) =
    PmEvent(u, id, t, ts)

  test("matchRecognize: greedy V+ P consumes the whole view run") {
    val got = matches(Seq(
      ev(1, "view", 10), ev(2, "view", 20), ev(3, "purchase", 30)), vPlusP)
    assert(got == Seq(PmMatch(1, 1, 2, 3)))
  }

  test("matchRecognize: SKIP PAST LAST ROW — matches never overlap") {
    val got = matches(Seq(
      ev(1, "view", 10), ev(2, "purchase", 20),
      ev(3, "purchase", 30), // no preceding view → unmatched
      ev(4, "view", 40), ev(5, "purchase", 50)), vPlusP)
    assert(got == Seq(PmMatch(1, 1, 1, 2), PmMatch(1, 2, 1, 5)))
  }

  test("matchRecognize: non-matching interleave blocks the pattern") {
    val got = matches(Seq(
      ev(1, "view", 10), ev(2, "click", 20), ev(3, "purchase", 30)), vPlusP)
    assert(got.isEmpty)
  }

  test("matchRecognize: backtracking — greedy step yields rows to the rest") {
    // pattern A+ B where both match 'x': A+ must give one 'x' back to B
    val steps = Seq(
      Step[PmEvent]("A", _.event_type == "x", 1, Int.MaxValue),
      Step[PmEvent]("B", _.event_type == "x"))
    val got = MatchRecognize.matchRecognize[Long, PmEvent, (Long, Long)](
      Seq(ev(1, "x", 10), ev(2, "x", 20), ev(3, "x", 30)).toDS(),
      _.user_id, Seq(col("ts_us")), steps) { m =>
      (m.captured("A").size.toLong, m.captured("B").head.event_id)
    }.collect().toSeq
    assert(got == Seq((2L, 3L))) // A grabs 2 greedily, B gets the last
  }

  test("matchRecognize: optional step (min=0) can match empty") {
    val steps = Seq(
      Step[PmEvent]("V", _.event_type == "view", 0, Int.MaxValue),
      Step[PmEvent]("P", _.event_type == "purchase"))
    val got = matches(Seq(ev(1, "purchase", 10)), steps)
    assert(got == Seq(PmMatch(1, 1, 0, 1)))
  }

  test("matchRecognize: keys are independent") {
    val got = matches(Seq(
      ev(1, "view", 10, u = 1), ev(2, "purchase", 20, u = 2)), vPlusP)
    assert(got.isEmpty) // view and purchase are on different keys
  }

  // ---- MatchRecognize: correlated conditions + alternation ----

  test("matchRecognize: correlated PREV — down-runs A B+ with B < PREV(B)") {
    // PATTERN (A B+) DEFINE B AS B.value < PREV(B.value)
    val steps = Seq(
      MatchRecognize.Step[Double]("A", _ => true),
      MatchRecognize.CtxStep[Double]("B",
        (t, ctx) => ctx.prev().exists(p => t < p), 1, Int.MaxValue))
    val got = MatchRecognize.matchRows(1L,
      IndexedSeq(5.0, 4.0, 3.0, 6.0, 2.0, 1.0), steps) { m =>
      (m.captured("A").head, m.captured("B").last, m.captured("B").size)
    }
    assert(got == Seq((5.0, 3.0, 2), (6.0, 1.0, 2)))
  }

  test("matchRecognize: FIRST/LAST navigation — strictly increasing runs") {
    // B extends while above the last matched B (falling back to A's row)
    val steps = Seq(
      MatchRecognize.Step[Double]("A", _ => true),
      MatchRecognize.CtxStep[Double]("B",
        (t, ctx) => ctx.last("B").orElse(ctx.first("A")).exists(b => t > b),
        1, Int.MaxValue))
    val got = MatchRecognize.matchRows(1L,
      IndexedSeq(1.0, 2.0, 5.0, 4.0), steps) { m =>
      (m.captured("A").head, m.captured("B"))
    }
    assert(got == Seq((1.0, Seq(2.0, 5.0))))
  }

  test("matchRecognize: NEXT lookahead — peak detection") {
    // A is a peak: higher than both physical neighbours
    val steps = Seq(
      MatchRecognize.CtxStep[Double]("A", (t, ctx) =>
        ctx.prev().exists(t > _) && ctx.next().exists(t > _)))
    val got = MatchRecognize.matchRows(1L,
      IndexedSeq(1.0, 5.0, 2.0, 7.0, 3.0), steps)(m => m.captured("A").head)
    assert(got == Seq(5.0, 7.0))
  }

  test("matchRecognize: alternation (A|B) — leftmost branch preferred") {
    val alt = MatchRecognize.Alt[String](
      Seq(MatchRecognize.Step[String]("A", _ == "view")),
      Seq(MatchRecognize.Step[String]("B", _ == "click")))
    val steps = Seq(alt, MatchRecognize.Step[String]("P", _ == "purchase"))
    val viaA = MatchRecognize.matchRows(1L,
      IndexedSeq("view", "purchase"), steps)(m => m.captured.keySet)
    val viaB = MatchRecognize.matchRows(1L,
      IndexedSeq("click", "purchase"), steps)(m => m.captured.keySet)
    assert(viaA == Seq(Set("A", "P")) && viaB == Seq(Set("B", "P")))
    // both branches feasible (predicate overlap): leftmost must win
    val both = MatchRecognize.Alt[String](
      Seq(MatchRecognize.Step[String]("L", _.nonEmpty)),
      Seq(MatchRecognize.Step[String]("R", _ == "view")))
    val won = MatchRecognize.matchRows(1L, IndexedSeq("view"),
      Seq(both))(m => m.captured.keySet)
    assert(won == Seq(Set("L")))
  }

  test("MatchRecognizeSql: full clause == DSL down-run results") {
    import graft.operators.MatchRecognizeSql
    val df = Seq(
      (1L, 1L, 5.0), (1L, 2L, 4.0), (1L, 3L, 3.0), (1L, 4L, 9.0),
      (1L, 5L, 8.0), (2L, 6L, 1.0), (2L, 7L, 2.0))
      .toDF("user_id", "seq", "value")
    val got = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS match_seq, COUNT(B.*) AS n_down,
               FIRST(A.value) AS peak, LAST(B.value) AS trough
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B+)
      DEFINE B AS B.value < PREV(B.value)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    // user 1: run 5,4,3 (A=5, B=4,3) then run 9,8; user 2 ascends → none
    assert(got == Set((1L, 1L, 2L, 5.0, 3.0), (1L, 2L, 1L, 9.0, 8.0)))
  }

  test("MatchRecognizeSql: AFTER MATCH SKIP TO NEXT ROW reports overlapping matches") {
    import graft.operators.MatchRecognizeSql
    val df = Seq( // one 4-step descent: 9, 7, 6, 5
      (1L, 1L, 9.0), (1L, 2L, 7.0), (1L, 3L, 6.0), (1L, 4L, 5.0))
      .toDF("user_id", "seq", "value")
    def run(skipClause: String) = MatchRecognizeSql(df, s"""
      PARTITION BY user_id
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS m, FIRST(A.value) AS a_val, LAST(B.value) AS b_val
      ONE ROW PER MATCH
      $skipClause
      PATTERN (A B)
      DEFINE B AS B.value < PREV(B.value)""")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    // past-last: (9,7) then (6,5) — the (7,6) pair is consumed
    assert(run("AFTER MATCH SKIP PAST LAST ROW") ==
      Set((1L, 9.0, 7.0), (2L, 6.0, 5.0)))
    // to-next: all three overlapping adjacent pairs
    assert(run("AFTER MATCH SKIP TO NEXT ROW") ==
      Set((1L, 9.0, 7.0), (2L, 7.0, 6.0), (3L, 6.0, 5.0)))
  }

  test("MatchRecognizeSql: alternation, string literals, AND/OR in DEFINE") {
    import graft.operators.MatchRecognizeSql
    val df = Seq(
      (1L, 1L, "view", 10.0), (1L, 2L, "click", 0.0), (1L, 3L, "purchase", 99.0),
      (1L, 4L, "view", 1.0), (1L, 5L, "purchase", 2.0))
      .toDF("user_id", "seq", "etype", "value")
    val got = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS m, COUNT(*) AS n, LAST(P.value) AS amt
      PATTERN (V* C* P)
      DEFINE V AS V.etype = 'view',
             C AS C.etype = 'click' AND C.value <= 0,
             P AS P.etype = 'purchase' AND (P.value > 50 OR P.value < 5)""")
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSet
    // match 1: view,click,purchase(99); match 2: view,purchase(2)
    assert(got == Set((3L, 99.0), (2L, 2.0)))
    // single-level alternation through the SQL path
    val alt = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS m, COUNT(*) AS n
      PATTERN ((V | C) P)
      DEFINE V AS V.etype = 'view',
             C AS C.etype = 'click',
             P AS P.etype = 'purchase'""")
      .collect().map(_.getLong(2)).toSet
    assert(alt == Set(2L)) // click+purchase and view+purchase, both n=2
  }

  test("MatchRecognizeSql: arithmetic MEASURES — FINAL, RUNNING, null/zero edges") {
    import graft.operators.MatchRecognizeSql
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 8.0), (1L, 3L, 5.0), (1L, 4L, 9.0))
      .toDF("user_id", "seq", "value")
    val clause = """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES FIRST(A.value) - LAST(B.value) AS drop_amt,
               100 * COUNT(B.*) / COUNT(*) AS pct_down,
               (FIRST(A.value) + LAST(B.value)) / 2 AS midpoint,
               -COUNT(*) AS neg_n,
               SUM(B.value) / COUNT(B.*) AS alt_avg,
               2 * MATCH_NUMBER() AS twice_m
      ONE ROW PER MATCH
      PATTERN (A B+)
      DEFINE B AS B.value < PREV(B.value)"""
    val r = MatchRecognizeSql(df, clause).collect()
    assert(r.length == 1) // one down-run: 10, 8, 5
    val row = r.head
    assert(row.getDouble(row.fieldIndex("drop_amt")) == 5.0)
    assert(math.abs(row.getDouble(row.fieldIndex("pct_down")) - 200.0 / 3) < 1e-12)
    assert(row.getDouble(row.fieldIndex("midpoint")) == 7.5)
    assert(row.getDouble(row.fieldIndex("neg_n")) == -3.0)
    assert(row.getDouble(row.fieldIndex("alt_avg")) == 6.5)
    assert(row.getDouble(row.fieldIndex("twice_m")) == 2.0)
    // RUNNING arithmetic in ALL ROWS: prefix semantics per output row,
    // NULL-propagating while B hasn't matched yet
    val all = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES RUNNING FIRST(A.value) - LAST(B.value) AS run_drop
      ALL ROWS PER MATCH
      PATTERN (A B+)
      DEFINE B AS B.value < PREV(B.value)""")
      .select("seq", "run_drop").collect()
      .map(r0 => (r0.getLong(0),
        if (r0.isNullAt(1)) null else r0.getDouble(1))).toSeq
    assert(all == Seq((1L, null), (2L, 2.0), (3L, 5.0)), all.toString)
    // division by zero -> NULL (COUNT of an unmatched optional var)
    val z = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES COUNT(*) / COUNT(C.*) AS div0
      ONE ROW PER MATCH
      PATTERN (A B+ C?)
      DEFINE B AS B.value < PREV(B.value), C AS C.value > 100""")
      .collect()
    assert(z.length == 1 && z.head.isNullAt(z.head.fieldIndex("div0")))
    // CLASSIFIER() is non-numeric: arithmetic over it must fail by name
    val err = intercept[IllegalArgumentException] {
      MatchRecognizeSql(df, """
        PARTITION BY user_id
        ORDER BY seq
        MEASURES CLASSIFIER() + 1 AS bad
        PATTERN (A B+)
        DEFINE B AS B.value < PREV(B.value)""")
    }
    assert(err.getMessage.contains("CLASSIFIER"))
  }

  test("MatchRecognizeSql: arithmetic in DEFINE — percentage drop, grouping, negatives") {
    import graft.operators.MatchRecognizeSql
    // values 100, 95, 80, 78: strict drop runs everywhere, but >10%
    // drops only at 95→80 — the CEP condition needs PREV * 0.9
    val df = Seq((1L, 1L, 100.0), (1L, 2L, 95.0), (1L, 3L, 80.0),
      (1L, 4L, 78.0)).toDF("user_id", "seq", "value")
    def run(define: String) = MatchRecognizeSql(df, s"""
      PARTITION BY user_id
      ORDER BY seq
      MEASURES LAST(B.value) AS b_val
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B)
      DEFINE $define""").collect()
      .map(r => r.getDouble(r.fieldIndex("b_val"))).toSet
    // plain drop: all three adjacent descents match
    assert(run("B AS B.value < PREV(B.value)") == Set(95.0, 80.0, 78.0))
    // >10% drop: only 95 -> 80
    assert(run("B AS B.value < PREV(B.value) * 0.9") == Set(80.0))
    // arithmetic grouping on the left side + AND with a second clause
    assert(run("B AS (B.value + 10) < PREV(B.value) AND B.value > 0") ==
      Set(80.0))
    // unary minus / negative literal: -(PREV - cur) < -10 ⇔ drop > 10
    assert(run("B AS -(PREV(B.value) - B.value) < -10") == Set(80.0))
    // boolean group with '(' still parses (the backtrack path)
    assert(run("B AS (B.value < PREV(B.value) AND B.value > 79)") ==
      Set(95.0, 80.0))
    // division: ratio form of the same condition; PREV at row 0 is
    // NULL -> NULL ratio -> false (three-valued logic preserved)
    assert(run("B AS B.value / PREV(B.value) < 0.9") == Set(80.0))
  }

  test("MatchRecognizeSql: pattern exclusion {- A -} omits rows, keeps state") {
    import graft.operators.MatchRecognizeSql
    val df = Seq((1L, 1L, 100.0), (1L, 2L, 95.0), (1L, 3L, 80.0))
      .toDF("user_id", "seq", "value")
    val rows = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES CLASSIFIER() AS v, RUNNING COUNT(*) AS n_so_far
      ALL ROWS PER MATCH
      PATTERN ({- A -} B+)
      DEFINE B AS B.value < PREV(B.value)""")
      .select("seq", "v", "n_so_far").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // the A row (seq 1) matched but is not emitted; RUNNING COUNT(*)
    // at the first emitted row is 2 — the excluded row advanced state
    assert(rows == Seq((2L, "B", 2L), (3L, "B", 3L)), rows.toString)
    // exclusion is an ALL ROWS feature
    val e1 = intercept[IllegalArgumentException] {
      MatchRecognizeSql(df, """
        PARTITION BY user_id
        ORDER BY seq
        MEASURES COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN ({- A -} B+)
        DEFINE B AS B.value < PREV(B.value)""")
    }
    assert(e1.getMessage.contains("ALL ROWS"), e1.getMessage)
    // an excluded variable may not reappear outside the exclusion
    val e2 = intercept[IllegalArgumentException] {
      MatchRecognizeSql(df, """
        PARTITION BY user_id
        ORDER BY seq
        MEASURES COUNT(*) AS n
        ALL ROWS PER MATCH
        PATTERN (B {- B -})
        DEFINE B AS B.value > 0""")
    }
    assert(e2.getMessage.contains("also appear outside"), e2.getMessage)
  }

  test("MatchRecognizeSql: RUNNING aggregates in DEFINE — cumulative caps") {
    import graft.operators.MatchRecognizeSql
    // cumulative cap: B rows accumulate while SUM(B.value) <= 100
    // (candidate row INCLUDED — SQL:2016 running semantics in DEFINE)
    val df = Seq((1L, 1L, 40.0), (1L, 2L, 30.0), (1L, 3L, 40.0),
      (1L, 4L, 10.0), (1L, 5L, 200.0), (1L, 6L, 60.0))
      .toDF("user_id", "seq", "value")
    val got = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS m, COUNT(B.*) AS n, SUM(B.value) AS total
      ONE ROW PER MATCH
      PATTERN (B+)
      DEFINE B AS SUM(B.value) <= 100""").collect()
      .map(r => (r.getLong(r.fieldIndex("m")), r.getLong(r.fieldIndex("n")),
        r.getDouble(r.fieldIndex("total")))).toSeq.sortBy(_._1)
    // 40+30 = 70 (next 40 would hit 110) | 40+10 = 50 (200 breaks) |
    // 200 alone exceeds the cap -> no match | 60
    assert(got == Seq((1L, 2L, 70.0), (2L, 2L, 50.0), (3L, 1L, 60.0)),
      got.toString)
    // COUNT cap (quantifier-independent), aggregate over ANOTHER var,
    // and COUNT(*) over the whole match-so-far
    val df2 = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 12.0),
      (1L, 4L, 18.0), (1L, 5L, 100.0)).toDF("user_id", "seq", "value")
    val r2 = MatchRecognizeSql(df2, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb
      ONE ROW PER MATCH
      PATTERN (A+ B+)
      DEFINE A AS COUNT(A.*) <= 2,
        B AS B.value > AVG(A.value) AND COUNT(*) <= 4""").collect()
    // A greedy to 2 rows (10, 20); B: 12 < avg(10,20)=15? no -> B must
    // be > 15: 12 fails as B... but A can't take it (count cap) ->
    // backtrack: A = (10), then B: 20 > 10 ok, 12 > 10 ok, 18 > 10 ok,
    // COUNT(*) cap 4 stops at 4 total rows
    assert(r2.length == 1)
    assert(r2.head.getLong(r2.head.fieldIndex("na")) == 1L)
    assert(r2.head.getLong(r2.head.fieldIndex("nb")) == 3L)
    // only COUNT takes V.* / *
    val err = intercept[IllegalArgumentException] {
      MatchRecognizeSql(df2, """
        PARTITION BY user_id
        ORDER BY seq
        MEASURES COUNT(*) AS n
        PATTERN (B+)
        DEFINE B AS SUM(B.*) <= 2""")
    }
    assert(err.getMessage.contains("only COUNT"))
  }

  test("MatchRecognizeSql.sql: full statement with outer projection/filter/sort") {
    import graft.operators.MatchRecognizeSql
    Seq((1L, 1L, 100.0), (1L, 2L, 95.0), (1L, 3L, 80.0), (1L, 4L, 90.0),
      (2L, 1L, 50.0), (2L, 2L, 40.0))
      .toDF("user_id", "seq", "value")
      .createOrReplaceTempView("mr_stmt_events")
    // ') inside a string literal' in DEFINE must not confuse the
    // clause-extent scan; alias + WHERE + ORDER BY run in spark.sql
    val got = MatchRecognizeSql.sql(spark, """
      SELECT m.user_id, m.drop_total * 2 AS dbl
      FROM mr_stmt_events MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY seq
        MEASURES FIRST(A.value) - LAST(B.value) AS drop_total
        ONE ROW PER MATCH
        PATTERN (A B+)
        DEFINE A AS A.value > 0 AND ')' = ')', B AS B.value < PREV(B.value)
      ) AS m
      WHERE m.drop_total > 15
      ORDER BY m.user_id""").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // user 1: 100-80 = 20 (>15, kept, doubled); user 2: 50-40 = 10 (dropped)
    assert(got == Seq((1L, 40.0)), got.toString)
    // statement-shape errors fail by name
    val e1 = intercept[IllegalArgumentException] {
      MatchRecognizeSql.sql(spark, "SELECT * FROM t")
    }
    assert(e1.getMessage.contains("no MATCH_RECOGNIZE"))
    val e2 = intercept[IllegalArgumentException] {
      MatchRecognizeSql.sql(spark,
        "SELECT * FROM (SELECT 1) MATCH_RECOGNIZE (X)")
    }
    assert(e2.getMessage.contains("temp view"))
    // 'FROM'/'MATCH_RECOGNIZE' text inside SELECT-list string literals
    // must not shift the keyword scan (quote-aware, like the clause
    // sections) — the literal even ends with FROM right before the
    // real table reference
    val got2 = MatchRecognizeSql.sql(spark, """
      SELECT 'A MATCH_RECOGNIZE came FROM' AS lit, m.user_id
      FROM mr_stmt_events MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY seq
        MEASURES COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (A B+)
        DEFINE A AS A.value > 0, B AS B.value < PREV(B.value)
      ) AS m
      ORDER BY m.user_id""").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got2 == Seq(("A MATCH_RECOGNIZE came FROM", 1L),
      ("A MATCH_RECOGNIZE came FROM", 2L)), got2.toString)
  }

  test("MatchRecognizeSql: FIRST/LAST logical offsets in MEASURES and DEFINE") {
    import graft.operators.MatchRecognizeSql
    // one partition, one down-run: A=100 then B = 95, 80, 78
    val df = Seq((1L, 1L, 100.0), (1L, 2L, 95.0), (1L, 3L, 80.0),
      (1L, 4L, 78.0)).toDF("user_id", "seq", "value")
    val r = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES FIRST(B.value) AS b0, FIRST(B.value, 1) AS b1,
               LAST(B.value, 1) AS pen, LAST(B.value) AS bn,
               FIRST(B.value, 3) AS beyond,
               LAST(B.value, 1) - FIRST(B.value, 1) AS diff
      ONE ROW PER MATCH
      PATTERN (A B+)
      DEFINE B AS B.value < PREV(B.value)""").collect().head
    def d(n: String): Any =
      if (r.isNullAt(r.fieldIndex(n))) null else r.getDouble(r.fieldIndex(n))
    assert(d("b0") == 95.0); assert(d("b1") == 80.0)
    assert(d("pen") == 80.0); assert(d("bn") == 78.0)
    assert(d("beyond") == null)  // only 3 B rows: offset 3 out of range
    assert(d("diff") == 0.0)     // arithmetic composes over offset navs
    // RUNNING semantics: LAST(B.value, 1) at each output row sees only
    // rows so far (null until two B rows have arrived)
    val all = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES RUNNING LAST(B.value, 1) AS pen_so_far,
               RUNNING FIRST(B.value, 1) AS b1_so_far
      ALL ROWS PER MATCH
      PATTERN (A B+)
      DEFINE B AS B.value < PREV(B.value)""")
      .select("seq", "pen_so_far", "b1_so_far").collect()
      .map(x => (x.getLong(0),
        if (x.isNullAt(1)) null else x.getDouble(1),
        if (x.isNullAt(2)) null else x.getDouble(2))).toSeq
    assert(all == Seq((1L, null, null), (2L, null, null),
      (3L, 95.0, 80.0), (4L, 80.0, 80.0)), all.toString)
    // DEFINE honors offsets too — offset 0 vs 1 changes the match:
    // B rows are [95, 96]; C=95.5
    val df2 = Seq((1L, 1L, 100.0), (1L, 2L, 95.0), (1L, 3L, 96.0),
      (1L, 4L, 95.5)).toDF("user_id", "seq", "value")
    def n(defineC: String): Long = MatchRecognizeSql(df2, s"""
      PARTITION BY user_id
      ORDER BY seq
      MEASURES COUNT(*) AS n
      ONE ROW PER MATCH
      PATTERN (A B B C)
      DEFINE A AS A.value > 99, B AS B.value < 99, C AS $defineC""").count()
    assert(n("C.value > FIRST(B.value, 0)") == 1) // 95.5 > 95
    assert(n("C.value > FIRST(B.value, 1)") == 0) // 95.5 > 96 fails
    assert(n("C.value < LAST(B.value, 0)") == 1)  // 95.5 < 96
    assert(n("C.value < LAST(B.value, 1)") == 0)  // 95.5 < 95 fails
  }

  test("MatchRecognizeSql: aggregates over row expressions — SUM(B.price * B.qty)") {
    import graft.operators.MatchRecognizeSql
    val df = Seq(
      (1L, 1L, "a", 10.0, 2.0), (1L, 2L, "b", 3.0, 4.0),
      (1L, 3L, "b", 5.0, 6.0))
      .toDF("user_id", "seq", "etype", "price", "qty")
    val got = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES SUM(B.price * B.qty) AS revenue,
               AVG(B.price * B.qty + 1) AS avg_rev1,
               MAX(B.qty - B.price) AS max_margin,
               SUM(B.price * B.qty) / COUNT(B.*) AS rev_per_item
      ONE ROW PER MATCH
      PATTERN (A B+)
      DEFINE A AS A.etype = 'a', B AS B.etype = 'b'""").collect()
    assert(got.length == 1)
    val r = got.head
    // B rows: 3*4=12, 5*6=30
    assert(r.getDouble(r.fieldIndex("revenue")) == 42.0)
    assert(r.getDouble(r.fieldIndex("avg_rev1")) == 22.0)
    assert(r.getDouble(r.fieldIndex("max_margin")) == 1.0)
    assert(r.getDouble(r.fieldIndex("rev_per_item")) == 21.0)
    // RUNNING form stays one incremental pass in ALL ROWS
    val all = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES RUNNING SUM(B.price * B.qty) AS run_rev
      ALL ROWS PER MATCH
      PATTERN (A B+)
      DEFINE A AS A.etype = 'a', B AS B.etype = 'b'""")
      .select("seq", "run_rev").collect()
      .map(r0 => (r0.getLong(0),
        if (r0.isNullAt(1)) null else r0.getDouble(1))).toSeq
    assert(all == Seq((1L, null), (2L, 12.0), (3L, 42.0)), all.toString)
    // an aggregate cannot mix pattern variables
    val err = intercept[IllegalArgumentException] {
      MatchRecognizeSql(df, """
        PARTITION BY user_id
        ORDER BY seq
        MEASURES SUM(A.price * B.qty) AS bad
        PATTERN (A B+)
        DEFINE A AS A.etype = 'a', B AS B.etype = 'b'""")
    }
    assert(err.getMessage.contains("mixes variables"))
  }

  test("MEASURES arithmetic property: 100 random trees + chains match a reference evaluator") {
    import graft.operators.MatchRecognizeSql
    // one deterministic match: A=10 then B=4, B=6 (C? never matches)
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 4.0), (1L, 3L, 6.0))
      .toDF("user_id", "seq", "value")
    // leaves: rendered form -> value under that match (None = SQL NULL)
    val leaves: Vector[(String, Option[Double])] = Vector(
      "FIRST(A.value)" -> Some(10.0), "LAST(B.value)" -> Some(6.0),
      "SUM(B.value)" -> Some(10.0), "AVG(B.value)" -> Some(5.0),
      "MIN(B.value)" -> Some(4.0), "MAX(B.value)" -> Some(6.0),
      "COUNT(*)" -> Some(3.0), "COUNT(B.*)" -> Some(2.0),
      "COUNT(C.*)" -> Some(0.0), "SUM(C.value)" -> None,
      "MATCH_NUMBER()" -> Some(1.0),
      "7" -> Some(7.0), "2.5" -> Some(2.5), "0" -> Some(0.0))
    val rnd = new scala.util.Random(42)
    def binOp(c: Char)(a: Double, b: Double): Option[Double] = c match {
      case '+' => Some(a + b)
      case '-' => Some(a - b)
      case '*' => Some(a * b)
      case '/' => if (b == 0.0) None else Some(a / b)
    }
    def lift(c: Char)(a: Option[Double], b: Option[Double]): Option[Double] =
      (a, b) match { case (Some(x), Some(y)) => binOp(c)(x, y); case _ => None }
    // random fully-parenthesized tree: (rendered, expected)
    def tree(depth: Int): (String, Option[Double]) =
      if (depth == 0 || rnd.nextInt(3) == 0) leaves(rnd.nextInt(leaves.size))
      else rnd.nextInt(5) match {
        case 4 =>
          val (s, v) = tree(depth - 1); (s"-($s)", v.map(-_))
        case k =>
          val op = "+-*/".charAt(k)
          val (ls, lv) = tree(depth - 1); val (rs, rv) = tree(depth - 1)
          (s"($ls $op $rs)", lift(op)(lv, rv))
      }
    // flat chain without parens: precedence computed by an INDEPENDENT
    // two-pass reference (products first, then left-assoc sums)
    def chain(n: Int): (String, Option[Double]) = {
      val ls = Vector.fill(n)(leaves(rnd.nextInt(leaves.size)))
      val ops = Vector.fill(n - 1)("+-*/".charAt(rnd.nextInt(4)))
      val rendered = ls.head._1 + ops.zip(ls.tail).map {
        case (o, (s, _)) => s" $o $s"
      }.mkString
      // pass 1: fold * and / runs into single terms
      var terms = Vector(ls.head._2)
      var termOps = Vector.empty[Char]
      ops.zip(ls.tail).foreach { case (o, (_, v)) =>
        if (o == '*' || o == '/') terms = terms.init :+ lift(o)(terms.last, v)
        else { termOps :+= o; terms :+= v }
      }
      // pass 2: left-assoc + and -
      val value = termOps.zip(terms.tail)
        .foldLeft(terms.head) { case (acc, (o, v)) => lift(o)(acc, v) }
      (rendered, value)
    }
    val cases = (0 until 60).map(_ => tree(3)) ++
      (0 until 40).map(_ => chain(2 + rnd.nextInt(4)))
    val measureLines = cases.zipWithIndex
      .map { case ((s, _), i) => s"$s AS m$i" }.mkString(",\n               ")
    val out = MatchRecognizeSql(df, s"""
      PARTITION BY user_id
      ORDER BY seq
      MEASURES $measureLines
      ONE ROW PER MATCH
      PATTERN (A B B C?)
      DEFINE B AS B.value > 0, C AS C.value > 100""").collect()
    assert(out.length == 1)
    val row = out.head
    cases.zipWithIndex.foreach { case ((s, expect), i) =>
      val idx = row.fieldIndex(s"m$i")
      // a bare-leaf case parses as the PRIMITIVE measure (possibly
      // LongType) rather than an arithmetic DOUBLE — read numerically
      val got = if (row.isNullAt(idx)) None
        else Some(row.get(idx).asInstanceOf[Number].doubleValue())
      (got, expect) match {
        case (None, None) => ()
        case (Some(g), Some(e)) =>
          assert(g == e || math.abs(g - e) < 1e-9,
            s"case $i: '$s' -> $g, expected $e")
        case _ => fail(s"case $i: '$s' -> $got, expected $expect")
      }
    }
  }

  test("DEFINE predicate property: 150 random predicates match a reference evaluator") {
    import graft.operators.MatchRecognizeSql
    // PATTERN (A B B C) with A and B undefined (any row) and SKIP TO NEXT
    // ROW: the attempt at start i maps A = row i, B = rows i+1 and i+2,
    // and tests C's predicate at row i+3 — so a partition's match count
    // is the number of starts i at which its predicate holds. Partition
    // p runs predicate p (DEFINE C AS (C.user_id = p AND pred_p) OR …).
    val vals: Vector[Option[Double]] = Vector(Some(5.0), Some(3.0), None,
      Some(8.0), Some(8.0), Some(-2.0), Some(0.0), Some(7.0), Some(4.0),
      Some(6.0), Some(2.5), Some(9.0))
    val n = vals.size
    val starts = 0 until n - 3
    type V = Option[Double]
    // a variable's rows at start i: A → [i], B → [i+1, i+2], and the row
    // under test for C (DEFINE aggregates include it)
    def rowsOf(v: Char): Int => Seq[Int] = v match {
      case 'A' => i => Seq(i)
      case 'B' => i => Seq(i + 1, i + 2)
      case 'C' => i => Seq(i + 3)
    }
    val rnd = new scala.util.Random(20261020)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def at(j: Int): V = if (j >= 0 && j < n) vals(j) else None
    // leaves: rendered text plus their value at start i (None = SQL NULL)
    def leaf(): (String, Int => V) = rnd.nextInt(8) match {
      case 0 => // V.col: the current row for C, LAST(V.col) otherwise
        val v = pick('A', 'B', 'C')
        (s"$v.value", i => vals(rowsOf(v)(i).last))
      case 1 => // PREV/NEXT: physical rows around the row under test
        val (f, sign) = pick(("PREV", -1), ("NEXT", 1))
        val k = pick(1, 2, 3, 4)
        val text = if (k == 1 && rnd.nextBoolean()) s"$f(${pick('A', 'B', 'C')}.value)"
          else s"$f(${pick('A', 'B', 'C')}.value, $k)"
        (text, i => at(i + 3 + sign * k))
      case 2 => // FIRST/LAST(V.col, k) over V's mapped rows (C has none yet)
        val f = pick("FIRST", "LAST")
        val v = pick('A', 'B', 'C')
        val k = pick(0, 0, 1, 2)
        val text = if (k == 0 && rnd.nextBoolean()) s"$f($v.value)" else s"$f($v.value, $k)"
        (text, { i =>
          val rows = if (v == 'C') Seq.empty else rowsOf(v)(i)
          val ordered = if (f == "FIRST") rows else rows.reverse
          ordered.lift(k).flatMap(vals)
        })
      case 3 => // SUM/AVG/MIN/MAX(V.col): NULL-skipping, empty → NULL
        val f = pick("SUM", "AVG", "MIN", "MAX")
        val v = pick('A', 'B', 'C')
        (s"$f($v.value)", { i =>
          val xs = rowsOf(v)(i).flatMap(vals)
          if (xs.isEmpty) None else Some(f match {
            case "SUM" => xs.foldLeft(0.0)(_ + _)
            case "AVG" => xs.foldLeft(0.0)(_ + _) / xs.size
            case "MIN" => xs.min
            case "MAX" => xs.max
          })
        })
      case 4 => // COUNT(*), COUNT(V.*), COUNT(V.col)
        pick(0, 1, 2) match {
          case 0 => ("COUNT(*)", _ => Some(4.0))
          case 1 =>
            val v = pick('A', 'B', 'C')
            (s"COUNT($v.*)", i => Some(rowsOf(v)(i).size.toDouble))
          case _ =>
            val v = pick('A', 'B', 'C')
            (s"COUNT($v.value)", i => Some(rowsOf(v)(i).count(vals(_).isDefined).toDouble))
        }
      case _ =>
        val x = pick(0.0, 1.0, 2.0, 3.0, 5.0, 8.0, 2.5, 0.5)
        (if (x == x.floor) x.toLong.toString else x.toString, _ => Some(x))
    }
    def arith(op: Char)(a: V, b: V): V = (a, b) match {
      case (Some(x), Some(y)) => op match {
        case '+' => Some(x + y)
        case '-' => Some(x - y)
        case '*' => Some(x * y)
        case '/' => if (y == 0.0) None else Some(x / y)
      }
      case _ => None
    }
    // value expressions: random parenthesized trees, unary minus, and
    // flat chains whose precedence the reference computes in two passes
    def value(depth: Int): (String, Int => V) =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(6) match {
        case 4 => val (s, f) = value(depth - 1); (s"-($s)", i => f(i).map(-_))
        case 5 =>
          val ls = Vector.fill(2 + rnd.nextInt(2))(leaf())
          val ops = Vector.fill(ls.size - 1)(pick('+', '-', '*', '/'))
          val text = ls.head._1 + ops.zip(ls.tail).map { case (o, (s, _)) => s" $o $s" }.mkString
          (text, { i =>
            var terms = Vector(ls.head._2(i))
            var termOps = Vector.empty[Char]
            ops.zip(ls.tail).foreach { case (o, (_, f)) =>
              if (o == '*' || o == '/') terms = terms.init :+ arith(o)(terms.last, f(i))
              else { termOps :+= o; terms :+= f(i) }
            }
            termOps.zip(terms.tail).foldLeft(terms.head) { case (acc, (o, v)) => arith(o)(acc, v) }
          })
        case k =>
          val op = "+-*/".charAt(k)
          val (ls, lf) = value(depth - 1); val (rs, rf) = value(depth - 1)
          (s"($ls $op $rs)", i => arith(op)(lf(i), rf(i)))
      }
    // a comparison with a NULL side is false (the SQL three-valued outcome)
    def comparison(): (String, Int => Boolean) = {
      val (ls, lf) = value(2); val (rs, rf) = value(2)
      val (op, test) = pick[(String, Int => Boolean)](("<", _ < 0), ("<=", _ <= 0),
        (">", _ > 0), (">=", _ >= 0), ("=", _ == 0), ("<>", _ != 0), ("!=", _ != 0))
      (s"$ls $op $rs", i => (lf(i), rf(i)) match {
        case (Some(a), Some(b)) => test(java.lang.Double.compare(a, b))
        case _ => false
      })
    }
    def predicate(depth: Int): (String, Int => Boolean) =
      if (depth == 0 || rnd.nextInt(3) == 0) comparison()
      else {
        val (ls, lf) = predicate(depth - 1); val (rs, rf) = predicate(depth - 1)
        rnd.nextInt(3) match {
          case 0 => (s"(($ls) AND ($rs))", i => lf(i) && rf(i))
          case 1 => (s"($ls OR $rs)", i => lf(i) || rf(i))
          case _ => // unparenthesized: AND binds tighter than OR
            val (ms, mf) = comparison(); val (ns, nf) = comparison()
            (s"$ls OR $ms AND $ns", i => lf(i) || (mf(i) && nf(i)))
        }
      }
    val preds = Vector.fill(150)(predicate(2))
    val define = preds.zipWithIndex
      .map { case ((s, _), p) => s"(C.user_id = $p AND ($s))" }.mkString("\n OR ")
    val df = preds.indices.flatMap(p => vals.zipWithIndex.map { case (v, i) =>
      (p.toLong, i.toLong, v) }).toDF("user_id", "seq", "value")
    val got = MatchRecognizeSql(df, s"""
      PARTITION BY user_id
      ORDER BY seq
      MEASURES COUNT(*) AS n
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B B C)
      DEFINE C AS $define""")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val expected = preds.map { case (_, f) => starts.count(f).toLong }
    preds.zipWithIndex.foreach { case ((s, _), p) =>
      assert(got.getOrElse(p, 0L) == expected(p),
        s"predicate $p: '$s' matched ${got.getOrElse(p, 0L)} starts, expected ${expected(p)}")
    }
    // the generator must exercise both outcomes, not only all-or-nothing
    assert(expected.count(c => c > 0 && c < starts.size) >= 30,
      s"too few discriminating predicates: ${expected.mkString(",")}")
  }

  test("MatchRecognizeSql: unsupported syntax errors, missing sections error") {
    import graft.operators.MatchRecognizeSql
    val df = Seq((1L, 1L, 1.0)).toDF("user_id", "seq", "value")
    intercept[IllegalArgumentException] {
      MatchRecognizeSql(df, "PATTERN (A) DEFINE A AS A.value > 0")
    }
    intercept[IllegalArgumentException] {
      MatchRecognizeSql(df, """PARTITION BY user_id ORDER BY seq
        MEASURES COUNT(*) AS n PATTERN (A)
        DEFINE A AS A.value BETWEEN 1 AND 2""").collect()
    }
  }

  test("MatchRecognizeSql: malformed expressions fail in Catalyst's parser, unsupported nodes by name") {
    import graft.operators.MatchRecognizeSql
    import org.apache.spark.sql.catalyst.parser.ParseException
    val df = Seq((1L, 1L, 1.0)).toDF("user_id", "seq", "value")
    def clause(measures: String, define: String) = s"""PARTITION BY user_id
      ORDER BY seq
      MEASURES $measures
      PATTERN (A B)
      DEFINE $define"""
    // a malformed DEFINE or MEASURES expression: Spark's syntax error
    // with its position in the expression text
    val p1 = intercept[ParseException] {
      MatchRecognizeSql(df, clause("COUNT(*) AS n", "B AS B.value < PREV(B.value"))
    }
    assert(p1.getMessage.contains("PARSE_SYNTAX_ERROR") && p1.getMessage.contains("pos"),
      p1.getMessage)
    val p2 = intercept[ParseException] {
      MatchRecognizeSql(df, clause("FIRST(A.value) / / 2 AS d", "B AS B.value > 0"))
    }
    assert(p2.getMessage.contains("PARSE_SYNTAX_ERROR") && p2.getMessage.contains("pos"),
      p2.getMessage)
    // well-formed SQL the interpreter does not take: named, not mis-run
    def unsupported(measures: String, define: String): String =
      intercept[IllegalArgumentException] {
        MatchRecognizeSql(df, clause(measures, define))
      }.getMessage
    assert(unsupported("COUNT(*) AS n", "B AS B.value BETWEEN 1 AND 2")
      .toLowerCase.contains("between"))
    assert(unsupported("CASE WHEN LAST(B.value) > 0 THEN 1 ELSE 0 END AS c",
      "B AS B.value > 0").contains("CASE"))
    assert(unsupported("COUNT(*) AS n", "B AS value > 0").contains("unqualified column 'value'"))
    assert(unsupported("COUNT(*) AS n", "B AS B.value > 0 AND B.value")
      .contains("B.value"))
    assert(unsupported("PREV(B.value) AS p", "B AS B.value > 0").contains("DEFINE-only"))
    assert(unsupported("COUNT(*) AS n", "B AS MATCH_NUMBER() > 0").contains("MEASURES-only"))
  }

  test("MatchRecognizeSql: PARTITION BY keys are injective (NULL vs 'null', embedded separators)") {
    import graft.operators.MatchRecognizeSql
    // PATTERN (X Y) matches only when an 'x' row and a 'y' row share one
    // partition; each pair below is two DIFFERENT partitions
    def matches(df: org.apache.spark.sql.DataFrame, partitionBy: String): Long =
      MatchRecognizeSql(df, s"""
        PARTITION BY $partitionBy
        ORDER BY seq
        MEASURES COUNT(*) AS n
        PATTERN (X Y)
        DEFINE X AS X.etype = 'x', Y AS Y.etype = 'y'""").count()
    val nulls = Seq[(Option[String], Long, String)](
      (None, 1L, "x"), (Some("null"), 2L, "y")).toDF("k", "seq", "etype")
    assert(matches(nulls, "k") == 0, "NULL and 'null' shared a partition")
    val seps = Seq(("a\u001fb", "c", 1L, "x"), ("a", "b\u001fc", 2L, "y"))
      .toDF("k1", "k2", "seq", "etype")
    assert(matches(seps, "k1, k2") == 0, "embedded separators merged two keys")
    // equal keys, NULL included, still group
    val same = Seq[(Option[String], Long, String)](
      (None, 1L, "x"), (None, 2L, "y"), (Some("a\u0000"), 3L, "x"),
      (Some("a\u0000"), 4L, "y")).toDF("k", "seq", "etype")
    assert(matches(same, "k") == 2)
  }

  test("matchRecognize: alternation backtracks into the next branch") {
    // (A A | A) P over [x, purchase]: the two-row first branch cannot
    // leave a row for P — the single-row second branch must be taken
    val alt = MatchRecognize.Alt[String](
      Seq(MatchRecognize.Step[String]("A1", _ == "x"),
        MatchRecognize.Step[String]("A2", _ == "x")),
      Seq(MatchRecognize.Step[String]("A3", _ == "x")))
    val steps = Seq(alt, MatchRecognize.Step[String]("P", _ == "purchase"))
    val got = MatchRecognize.matchRows(1L, IndexedSeq("x", "purchase"),
      steps)(m => m.captured.keySet)
    assert(got == Seq(Set("A3", "P")))
  }

  test("parsePattern: SQL PATTERN clause text drives the matcher") {
    // PATTERN (A B+ (C|D)) DEFINE B AS B.v < PREV(B.v) — SQL-text front
    // door over the same NFA
    val define = Map[String, (Double, MatchRecognize.MatchCtx[Double]) => Boolean](
      "B" -> ((t, ctx) => ctx.prev().exists(p => t < p)),
      "C" -> ((t, _) => t == 0.0),
      "D" -> ((t, _) => t >= 100.0))
    val steps = MatchRecognize.parsePattern("A B+ (C|D)", define)
    val got = MatchRecognize.matchRows(1L,
      IndexedSeq(5.0, 4.0, 3.0, 100.0, 9.0, 8.0, 0.0), steps) { m =>
      (m.captured("B").size, m.captured.contains("C"), m.captured.contains("D"))
    }
    // [5,4,3,100]: B takes 4,3 then D matches 100; [9,8,0]: C matches 0
    assert(got == Seq((2, false, true), (1, true, false)))
    // quantifier forms parse to the right bounds
    val q = MatchRecognize.parsePattern[Double]("X{2,5} Y* Z?", Map.empty)
    val bounds = q.collect { case MatchRecognize.CtxStep(n, _, mn, mx, _) => (n, mn, mx) }
    assert(bounds == Seq(("X", 2, 5), ("Y", 0, Int.MaxValue), ("Z", 0, 1)))
  }

  test("parsePattern: unsupported syntax is a parse error, never dropped") {
    // a quantified group used to parse as the bare group with the '+'
    // silently discarded — wrong match semantics instead of an error
    val err = intercept[IllegalArgumentException] {
      MatchRecognize.parsePattern[Double]("(A|B)+", Map.empty)
    }
    assert(err.getMessage.contains("unsupported syntax"))
    intercept[IllegalArgumentException] {
      MatchRecognize.parsePattern[Double]("A % B", Map.empty)
    }
    // whitespace between tokens is still fine
    assert(MatchRecognize.parsePattern[Double]("  A   B+  ", Map.empty).size == 2)
  }

  test("reluctant quantifiers match java.util.regex lazy semantics (property)") {
    // rows are chars. A{1,3}? B with A = any, B = 'b'  ≡  regex
    // .{1,3}?b (lazy); the greedy forms must equal .{1,3}b. matchRows
    // under SKIP PAST LAST ROW ≡ Matcher.find() resuming at match end,
    // so the per-string match TEXT sequences must agree exactly.
    val rnd = new scala.util.Random(20260813)
    def spans(steps: Seq[MatchRecognize.Elem[Char]], s: String): Seq[String] =
      MatchRecognize.matchRows(0L, s.toIndexedSeq, steps)(
        _.ordered.map(_._2).mkString)
    def reSpans(p: java.util.regex.Pattern, s: String): Seq[String] = {
      val m = p.matcher(s)
      val out = Seq.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }
    val lazySteps = Seq(
      MatchRecognize.Step[Char]("A", _ => true, 1, 3, reluctant = true),
      MatchRecognize.Step[Char]("B", _ == 'b'))
    val greedySteps = Seq(
      MatchRecognize.Step[Char]("A", _ => true, 1, 3),
      MatchRecognize.Step[Char]("B", _ == 'b'))
    val lazyRe = java.util.regex.Pattern.compile(".{1,3}?b")
    val greedyRe = java.util.regex.Pattern.compile(".{1,3}b")
    var diverged = false
    for (_ <- 1 to 300) {
      val s = Seq.fill(rnd.nextInt(12) + 1)(
        if (rnd.nextBoolean()) 'a' else 'b').mkString
      assert(spans(lazySteps, s) == reSpans(lazyRe, s), s"lazy on '$s'")
      assert(spans(greedySteps, s) == reSpans(greedyRe, s), s"greedy on '$s'")
      if (spans(lazySteps, s) != spans(greedySteps, s)) diverged = true
    }
    assert(diverged, "property test never exercised a lazy≠greedy case")
    // the SQL-text spellings parse to the reluctant flag
    val parsed = MatchRecognize.parsePattern[Char]("A+? B*? C?? D{1,3}?",
      Map.empty)
    assert(parsed.collect {
      case MatchRecognize.CtxStep(n, _, mn, mx, rel) => (n, mn, mx, rel)
    } == Seq(("A", 1, Int.MaxValue, true), ("B", 0, Int.MaxValue, true),
      ("C", 0, 1, true), ("D", 1, 3, true)))
  }

  test("PERMUTE expands to the alternation of all orderings (Calcite rewrite)") {
    val q = MatchRecognize.parsePattern[String]("PERMUTE(V, C) P",
      Map("V" -> ((t, _) => t == "view"),
        "C" -> ((t, _) => t == "click"),
        "P" -> ((t, _) => t == "purchase")))
    // both orderings must match; a missing permutation branch would
    // drop one of these sequences
    def matches(rows: String*): Int =
      MatchRecognize.matchRows(0L, rows.toIndexedSeq, q)(_ => 1).size
    assert(matches("view", "click", "purchase") == 1)
    assert(matches("click", "view", "purchase") == 1)
    assert(matches("view", "view", "purchase") == 0)
    // factorial blowup is capped, by name
    val err = intercept[IllegalArgumentException] {
      MatchRecognize.parsePattern[String]("PERMUTE(A,B,C,D,E,F,G)", Map.empty)
    }
    assert(err.getMessage.contains("PERMUTE"))
  }

  test("AFTER MATCH SKIP TO FIRST/LAST: resume points and SQL:2016 error cases") {
    // strictly rising run: A B+ greedy over [1..5] consumes everything;
    // SKIP TO LAST B resumes AT row 4 (value 5) — a 1-row tail can't
    // re-match, so exactly one match. SKIP TO FIRST B resumes at row 1:
    // the next match starts where the first B row was (chained matches).
    val steps = Seq(
      MatchRecognize.Step[Int]("A", _ => true),
      MatchRecognize.CtxStep[Int]("B",
        (t, ctx) => ctx.prev().exists(p => t > p), 1, Int.MaxValue))
    val rows = IndexedSeq(1, 2, 3, 4, 5)
    val toFirst = MatchRecognize.matchRows(0L, rows, steps,
      MatchRecognize.SkipToFirst("B"))(m => m.ordered.map(_._2))
    // match 1 = [1,2,3,4,5], resumes at index of first B (value 2)
    assert(toFirst == Seq(Seq(1, 2, 3, 4, 5), Seq(2, 3, 4, 5),
      Seq(3, 4, 5), Seq(4, 5)))
    val toLast = MatchRecognize.matchRows(0L, rows, steps,
      MatchRecognize.SkipToLast("B"))(m => m.ordered.map(_._2))
    assert(toLast == Seq(Seq(1, 2, 3, 4, 5)))
    // SKIP TO FIRST A = resume at the match start: the standard's
    // infinite-loop runtime error, thrown by name
    val loop = intercept[IllegalArgumentException] {
      MatchRecognize.matchRows(0L, rows, steps,
        MatchRecognize.SkipToFirst("A"))(identity)
    }
    assert(loop.getMessage.contains("infinite loop"))
    // skip target variable matched nothing → error, not a silent skip
    val optSteps = Seq(
      MatchRecognize.Step[Int]("A", _ => true),
      MatchRecognize.Step[Int]("Z", _ => false, 0, 1))
    val unmatched = intercept[IllegalArgumentException] {
      MatchRecognize.matchRows(0L, rows, optSteps,
        MatchRecognize.SkipToLast("Z"))(identity)
    }
    assert(unmatched.getMessage.contains("matched no rows"))
  }

  test("MatchRecognizeSql: RUNNING vs FINAL measures in ALL ROWS PER MATCH") {
    import graft.operators.MatchRecognizeSql
    val df = Seq(
      (1L, 1L, 10.0), (1L, 2L, 8.0), (1L, 3L, 5.0), (1L, 4L, 9.0)
    ).toDF("user_id", "seq", "value")
    val got = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS ms, CLASSIFIER() AS v,
               RUNNING COUNT(B.*) AS nb_run,
               RUNNING SUM(B.value) AS sum_run,
               RUNNING LAST(B.value) AS last_run,
               FINAL SUM(B.value) AS sum_fin
      ALL ROWS PER MATCH
      PATTERN (A B+)
      DEFINE B AS B.value < PREV(B.value)""")
      .orderBy("seq")
      .collect().map(r => (r.getAs[String]("v"), r.getAs[Long]("nb_run"),
        Option(r.getAs[java.lang.Double]("sum_run")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("last_run")).map(_.toDouble),
        r.getAs[Double]("sum_fin"))).toSeq
    // one match: A=10, B=[8,5]; row 4 (9.0) not matched.
    // RUNNING at the A row sees no B yet (count 0, sums NULL);
    // FINAL is 13.0 on every row of the match.
    assert(got == Seq(
      ("A", 0L, None, None, 13.0),
      ("B", 1L, Some(8.0), Some(8.0), 13.0),
      ("B", 2L, Some(13.0), Some(5.0), 13.0)))
  }

  test("MatchRecognizeSql: SUBSET union variables resolve in MEASURES") {
    import graft.operators.MatchRecognizeSql
    val df = Seq(
      (1L, 1L, "view", 2.0), (1L, 2L, "click", 3.0), (1L, 3L, "purchase", 7.0)
    ).toDF("user_id", "seq", "etype", "value")
    val got = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES COUNT(E.*) AS n_engage, SUM(E.value) AS v_engage,
               FIRST(E.etype) AS first_e, LAST(E.etype) AS last_e,
               COUNT(*) AS n_all
      PATTERN (V C P)
      SUBSET E = (V, C)
      DEFINE V AS V.etype = 'view',
             C AS C.etype = 'click',
             P AS P.etype = 'purchase'""").collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_engage") == 2L)
    assert(r.getAs[Double]("v_engage") == 5.0)
    assert(r.getAs[String]("first_e") == "view")
    assert(r.getAs[String]("last_e") == "click")
    // a SUBSET does not count its members' rows twice
    assert(r.getAs[Long]("n_all") == 3L)
  }

  test("MatchRecognizeSql: AFTER MATCH SKIP TO LAST var via SQL text") {
    import graft.operators.MatchRecognizeSql
    val df = Seq(
      (1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0)
    ).toDF("user_id", "seq", "value")
    // A B (any rows): matches (1,2); SKIP TO LAST B resumes AT row 2 →
    // (2,3) also matches: the overlapping chain
    val got = MatchRecognizeSql(df, """
      PARTITION BY user_id
      ORDER BY seq
      MEASURES FIRST(A.value) AS a_v, LAST(B.value) AS b_v
      AFTER MATCH SKIP TO LAST B
      PATTERN (A B)""").collect()
      .map(r => (r.getAs[Double]("a_v"), r.getAs[Double]("b_v"))).toSeq
    assert(got == Seq((1.0, 2.0), (2.0, 3.0)))
  }

  // ---- Count-min sketch ----

  test("countmin estimate >= actual for every key; exact when no collision") {
    val df = Seq.tabulate(300)(i => s"k${i % 7}").toDF("s")
    val sk = df.agg(call_function("countmin_agg", col("s"), lit(4), lit(64)).as("sk"))
    val est = df.distinct().crossJoin(sk)
      .select(col("s"),
        call_function("countmin_est", col("sk"), col("s"), lit(4), lit(64)).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val actual = df.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    actual.foreach { case (k, n) => assert(est(k) >= n, s"est(${k}) < actual") }
    // 7 keys in 64 buckets × 4 independent rows: collisions in every row
    // are vanishingly unlikely — estimates should be exact here
    assert(est == actual)
  }

  test("countmin sketches merge across partitions (partial aggregation)") {
    val df = spark.range(1000).repartition(7)
      .select(concat(lit("k"), (col("id") % 5)).as("s"))
    val est = df.agg(call_function("countmin_agg", col("s"), lit(4), lit(64)).as("sk"))
      .select(call_function("countmin_est", col("sk"), lit("k0"), lit(4), lit(64)))
      .collect().head.getLong(0)
    assert(est == 200L)
  }

  // ---- Enrichment ----

  test("enrich attaches looked-up values, null when missing") {
    val df = Seq((1L, "a"), (2L, "b"), (9L, "c")).toDF("k", "v")
    val client = () => new Enrichment.MapClient(Map(1L -> "one", 2L -> "two"))
    val got = Enrichment.enrich(df, "k", StructField("name", StringType), client)
    assertRows(got, Seq(Seq(1L, "a", "one"), Seq(2L, "b", "two"),
      Seq(9L, "c", null)))
  }

  // ---- Multimodal ----

  test("multimodal: payload bytes + stub decode + frame sampling") {
    val df = Seq((1L, "abcdef")).toDF("doc_id", "text") // 6 bytes
    val meta = Multimodal.decodeMeta(
      Multimodal.withPayload(df, "text", "payload"), "payload", "meta")
    val row = meta.select("meta.n_bytes", "meta.format", "meta.width",
      "meta.height", "meta.n_frames").collect().head
    assert(row.toSeq == Seq(6L, "png", 22, 22, 7))
    val frames = Multimodal.sampleFrames(meta, "meta", stride = 3)
      .select("frame_idx").as[Int].collect().toSeq
    assert(frames == Seq(0, 3, 6))
  }

  test("multimodal: batched decode crosses batch boundaries intact") {
    val df = (1 to 150).map(i => (i.toLong, "x" * i)).toDF("doc_id", "text")
    val meta = Multimodal.decodeMeta(
      Multimodal.withPayload(df, "text", "payload"), "payload", "meta",
      batchSize = 64)
    val got = meta.select(col("doc_id"), col("meta.n_bytes")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 150 && (1 to 150).forall(i => got(i.toLong) == i.toLong))
  }

  test("multimodal: REAL BMP codec round-trips dimensions and size law") {
    // encode with the real writer, decode with the real parser — and
    // the byte count must obey 54 + ceil(3w/4)*4*h exactly
    val bytes = Multimodal.encodeBmp(5, 3, seed = 42L)
    assert(bytes.length == 54 + ((5 * 3 + 3) / 4) * 4 * 3)
    val codec = new Multimodal.BmpCodec
    assert(codec.decodeBatch(Seq(bytes)) == Seq((bytes.length.toLong, "bmp", 5, 3, 1)))
    // determinism: same (dims, seed) → identical bytes
    assert(java.util.Arrays.equals(bytes, Multimodal.encodeBmp(5, 3, 42L)))
    // corrupt framing fails by name — a real parser, not a stub
    val bad = bytes.clone(); bad(0) = 'X'.toByte
    val err = intercept[IllegalArgumentException] {
      codec.decodeBatch(Seq(bad))
    }
    assert(err.getMessage.contains("not a BMP"))
    // distributed path: per-row payloads through the batched decoder
    val df = Seq((1L, 4, 2), (2L, 10, 7)).toDF("doc_id", "w", "h")
      .withColumn("seed", col("doc_id"))
    val meta = Multimodal.decodeMeta(
      Multimodal.withBmpPayload(df, "w", "h", "seed", "payload"),
      "payload", "meta", () => new Multimodal.BmpCodec)
    val got = meta.select(col("doc_id"), col("meta.width"), col("meta.height"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 4, 2), (2L, 10, 7)))
  }

  test("multimodal: REAL PNG/JPEG decode via javax.imageio (header-only dims)") {
    val codec = new Multimodal.ImageIoCodec
    // real compressed bytes round-trip their dimensions exactly
    val png = Multimodal.encodePng(7, 4, seed = 9L)
    val jpg = Multimodal.encodeJpeg(12, 5, seed = 10L)
    val Seq(pMeta, jMeta) = codec.decodeBatch(Seq(png, jpg))
    assert(pMeta == (png.length.toLong, "png", 7, 4, 1))
    assert(jMeta == (jpg.length.toLong, "jpeg", 12, 5, 1))
    // PNG magic really is PNG; JPEG magic really is JFIF/SOI
    assert((png(1), png(2), png(3)) == ('P'.toByte, 'N'.toByte, 'G'.toByte))
    assert((jpg(0) & 0xFF, jpg(1) & 0xFF) == (0xFF, 0xD8))
    // the codec also reads the BMP our own writer emits (one registry,
    // dispatched on magic bytes)
    assert(codec.decodeBatch(Seq(Multimodal.encodeBmp(5, 3, 1L))) ==
      Seq((Multimodal.encodeBmp(5, 3, 1L).length.toLong, "bmp", 5, 3, 1)))
    // unknown magic fails by name — never pseudo-metadata
    val err = intercept[IllegalArgumentException] {
      codec.decodeBatch(Seq(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)))
    }
    assert(err.getMessage.contains("no javax.imageio reader"))
    // distributed path: parity-dispatched payloads through decodeMeta
    val df = Seq((2L, 4, 2), (3L, 10, 7)).toDF("doc_id", "w", "h")
      .withColumn("seed", col("doc_id"))
    val meta = Multimodal.decodeMeta(
      Multimodal.withImagePayload(df, "w", "h", "seed", "payload"),
      "payload", "meta", () => new Multimodal.ImageIoCodec)
    val got = meta.select(col("doc_id"), col("meta.format"),
        col("meta.width"), col("meta.height"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3))).toSet
    assert(got == Set((2L, "png", 4, 2), (3L, "jpeg", 10, 7)))
  }

  test("multimodal: REAL animated GIF — container frame count + exact sampled-frame pixels") {
    val gif = Multimodal.encodeAnimatedGif(6, 4, nFrames = 3, seed = 5L)
    assert(new String(gif.take(4), "US-ASCII") == "GIF8")
    val codec = new Multimodal.ImageIoCodec
    // n_frames comes from the real container index (getNumImages)
    assert(codec.decodeBatch(Seq(gif)) ==
      Seq((gif.length.toLong, "gif", 6, 4, 3)))
    // palette-lossless: every decoded frame is EXACTLY its solid color
    (0 until 3).foreach { i =>
      val (r, g, b) = Multimodal.frameColor(5L, i)
      assert(Multimodal.frameMeanRgb(gif, i) ==
        ((r.toDouble, g.toDouble, b.toDouble)), s"frame $i")
    }
    // distributed pipeline: payload -> header meta -> frame sampling ->
    // pixel decode of ONLY the sampled frames
    val df = Seq((1L, 3, 2, 4), (2L, 2, 3, 3)).toDF("doc_id", "w", "h", "nf")
      .withColumn("seed", col("doc_id"))
    val withP = Multimodal.withGifPayload(df, "w", "h", "nf", "seed", "payload")
    val meta2 = Multimodal.decodeMeta(withP, "payload", "meta",
      () => new Multimodal.ImageIoCodec)
    val feat = Multimodal.withFrameFeatures(
      Multimodal.sampleFrames(meta2, "meta", stride = 2),
      "payload", "frame_idx")
    val got = feat.select(col("doc_id"), col("frame_idx"),
        col("avg_r"), col("avg_g"), col("avg_b"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val expect = (for {
      (id, nf) <- Seq((1L, 4), (2L, 3)); i <- 0 until nf by 2
    } yield {
      val (r, g, b) = Multimodal.frameColor(id, i)
      (id, i, r.toDouble, g.toDouble, b.toDouble)
    }).toSet
    assert(got == expect, s"got $got expect $expect")
  }

  test("multimodal: REAL WAV codec — RIFF chunk walk, size law, exact RMS") {
    val wav = Multimodal.encodeWav(sampleRate = 8000, nSamples = 6, amp = 100)
    assert(wav.length == 44 + 12) // RIFF law: 44 + 2n
    val codec = new Multimodal.WavCodec
    // square wave: RMS == amp EXACTLY (every sample is ±amp)
    assert(codec.decodeBatch(Seq(wav)) ==
      Seq((56L, 8000, 1, 16, 6L, 0L, 100.0)))
    // silence: amp 0 → rms 0
    assert(codec.decodeBatch(Seq(Multimodal.encodeWav(16000, 4, 0))).head._7 == 0.0)
    // corrupt framing fails by name
    val bad = wav.clone(); bad(0) = 'X'.toByte
    val err = intercept[IllegalArgumentException] {
      codec.decodeBatch(Seq(bad))
    }
    assert(err.getMessage.contains("not a WAV"))
    // truncated data chunk fails the chunk-walk bound check
    val cut = java.util.Arrays.copyOf(wav, wav.length - 4)
    intercept[IllegalArgumentException] { codec.decodeBatch(Seq(cut)) }
    // distributed: per-row synth + decode through withWavMeta
    val df = Seq((1L, 8000, 8, 50), (2L, 16000, 16, 200))
      .toDF("doc_id", "rate", "n", "amp")
    val got = Multimodal.withWavMeta(df, "rate", "n", "amp", "meta")
      .select(col("doc_id"), col("meta.n_samples"), col("meta.rms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 8L, 50.0), (2L, 16L, 200.0)))
  }

  test("multimodal: REAL image resize — real PNG in, target dims out") {
    val src = Multimodal.encodePng(10, 6, seed = 3L)
    val out = Multimodal.resizeImage(src, 4, 3)
    val codec = new Multimodal.ImageIoCodec
    val Seq((_, fmt, w, h, _)) = codec.decodeBatch(Seq(out))
    assert((fmt, w, h) == (("png", 4, 3)))
    // works across input formats (jpeg in, png out)
    val fromJpeg = Multimodal.resizeImage(Multimodal.encodeJpeg(9, 9, 4L), 2, 5)
    assert(codec.decodeBatch(Seq(fromJpeg)).head match {
      case (_, "png", 2, 5, _) => true; case _ => false
    })
    // distributed: per-row targets through withResizedPayload
    val df = Seq((2L, 8, 6, 3, 2), (3L, 5, 7, 6, 4))
      .toDF("doc_id", "w0", "h0", "tw", "th")
      .withColumn("seed", col("doc_id"))
    val withP = Multimodal.withImagePayload(df, "w0", "h0", "seed", "payload")
    val resized = Multimodal.withResizedPayload(withP, "payload", "tw", "th",
      "resized")
    val got = Multimodal.decodeMeta(resized, "resized", "meta",
        () => new Multimodal.ImageIoCodec)
      .select(col("doc_id"), col("meta.width"), col("meta.height"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((2L, 3, 2), (3L, 6, 4)))
  }

  // ---- Inference ----

  test("batched inference scores match a driver-side reference") {
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.5f, -0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val handler = new Inference.LinearScorer(2)
    val got = Inference.runInference(df, "embedding", "score", handler, batchSize = 1)
      .select("vec_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = Inference.weights(2)
    vecs.foreach { case (id, v) =>
      val z = v.zip(w).map { case (x, wi) => x.toDouble * wi }.sum
      assert(math.abs(got(id) - 1.0 / (1.0 + math.exp(-z))) < 1e-12)
    }
  }

  test("per-key inference: each key scores under its own model") {
    val vecs = Seq((1L, 0, Array(1.0f, 0.5f)), (2L, 1, Array(1.0f, 0.5f)),
      (3L, 2, Array(-0.5f, 1.0f)), (4L, 0, Array(-0.5f, 1.0f)))
    val df = vecs.toDF("vec_id", "label", "embedding")
    val got = Inference.runInferencePerKey(df, "label", "embedding",
        "score", k => new Inference.ScaledLinearScorer(2,
          1.0 + k.asInstanceOf[Int] * 0.1), batchSize = 3,
        maxModelsPerWorker = 2)
      .select("vec_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = Inference.weights(2)
    vecs.foreach { case (id, label, v) =>
      val scale = 1.0 + label * 0.1
      val z = v.zip(w).map { case (x, wi) => x.toDouble * (wi * scale) }.sum
      assert(math.abs(got(id) - 1.0 / (1.0 + math.exp(-z))) < 1e-12,
        s"vec $id (label $label)")
    }
    // same embedding, different label ⇒ different model ⇒ different score
    assert(got(1L) != got(2L))
  }

  test("per-key inference: LRU model cache stays within the worker cap") {
    PipelineOpsSpec.loads.set(0)
    val n = 60
    // labels interleave 0,1,2,0,1,2,… so a cap of 1 must thrash while a
    // cap of 3 loads each model exactly once per partition
    val df = (1 to n).map(i => (i.toLong, i % 3, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "label", "embedding").coalesce(1)
    def run(cap: Int): Int = {
      PipelineOpsSpec.loads.set(0)
      Inference.runInferencePerKey(df, "label", "embedding", "score",
        k => new PipelineOpsSpec.CountingScorer(
          1.0 + k.asInstanceOf[Int] * 0.1), batchSize = 7,
        maxModelsPerWorker = cap).count()
      PipelineOpsSpec.loads.get()
    }
    assert(run(3) == 3)   // one load per distinct key, then cache hits
    assert(run(1) > 3)    // cap of 1 ⇒ eviction + reload on interleave
  }

  // ---- Similarity kernel parity ----

  test("cosinePairsAboveBlocked == declarative cosinePairsAbove") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val a = Similarity.cosinePairsAbove(emb, "vec_id", "embedding", 0.3)
      .collect().map(_.toSeq).toSet
    val b = Similarity.cosinePairsAboveBlocked(emb, "vec_id", "embedding", 0.3,
      nBlocks = 5)
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("cosinePairsAboveBlocked: non-numeric ids fail loudly, never drop") {
    // blocking is on a hash of the id, so a non-long-castable id can't
    // silently land in a null block — the long output cast errors
    val bad = Seq(("a1", Array(1.0f, 0.0f)), ("a2", Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    intercept[Throwable] {
      Similarity.cosinePairsAboveBlocked(bad, "vec_id", "embedding", 0.5,
        nBlocks = 3).collect()
    }
    // numeric STRING ids are fine and hash into blocks like longs do
    val ok = Seq(("1", Array(1.0f, 0.0f)), ("2", Array(1.0f, 0.0f)),
      ("3", Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.cosinePairsAboveBlocked(ok, "vec_id", "embedding",
      0.99, nBlocks = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("exactByKeyAgg == exactByKey on the keep-smallest contract") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val win = graft.operators.Dedup.exactByKey(ev,
        Seq("user_id", "event_type"), col("ts").asc, col("event_id").asc)
      .collect().map(_.toSeq).toSet
    val agg = graft.operators.Dedup.exactByKeyAgg(ev,
      Seq("user_id", "event_type"), col("ts"), col("event_id"))
    assert(agg.collect().map(_.toSeq).toSet == win)
    // the point of the agg form: map-side combine before ONE exchange,
    // no Window operator shipping full payloads. After execution the
    // AQE plan string prints BOTH "== Final Plan ==" and "== Initial
    // Plan ==" sections — count nodes in the final section only.
    val plan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), plan)
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert("Aggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregate nodes:\n$plan")
  }

  test("operators handle empty inputs without failure") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.minHashCandidates(
      emptyDocs, "doc_id", "text").count() == 0)
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.cosinePairsAboveBlocked(
      emptyVecs, "vec_id", "embedding", 0.5).count() == 0)
    val noMatches = matches(Seq.empty, vPlusP)
    assert(noMatches.isEmpty)
  }

  test("srpBucket raises on vector-length/dim mismatch") {
    val emb = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      emb.select(Similarity.srpBucket(col("embedding"), bits = 4, dim = 64))
        .collect()
    }
    assert(ex.getMessage.contains("srp_bucket") ||
      ex.getCause != null && ex.getCause.getMessage.contains("srp_bucket"))
  }

  test("inference: null vectors score NULL; short handler batches fail fast") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Seq(1.0f, 0.0f)), Row(2L, null), Row(3L, Seq(0.5f, 0.5f))),
      schema)
    val got = Inference.runInference(df, "embedding", "score",
        new Inference.LinearScorer(2), batchSize = 2)
      .select("vec_id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(got(2L) == null, "null vector must stay NULL, not sigmoid(0)")
    assert(got(1L) != null && got(3L) != null)

    // a handler that silently drops an input must be rejected
    val shortHandler = new Inference.ModelHandler[Unit] {
      override def loadModel(): Unit = ()
      override def runInference(m: Unit,
          batch: Seq[Array[Float]]): Seq[Double] = batch.drop(1).map(_ => 0.5)
    }
    val err = intercept[org.apache.spark.SparkException] {
      Inference.runInference(df, "embedding", "score", shortHandler).count()
    }
    assert(err.getMessage.contains("scores") ||
      Option(err.getCause).exists(_.getMessage.contains("scores")))
  }

  test("AdaptiveThrottler: healthy traffic passes, overload rejects client-side, window recovery") {
    import graft.operators.AdaptiveThrottler
    val t = new AdaptiveThrottler(samplePeriodMs = 10000L, bucketMs = 1000L,
      overloadRatio = 2.0, rng = new java.util.Random(42))
    var now = 1000000L
    // healthy: every request accepted → probability pinned at 0
    (1 to 100).foreach { _ =>
      assert(!t.throttleRequest(now))
      t.successfulRequest(now)
      now += 50
    }
    assert(t.throttlingProbability(now) == 0.0)
    // brownout: the backend stops accepting → probability climbs to
    // (all - 0) / (all + 1) over the window and most attempts reject
    (1 to 200).foreach { _ => t.throttleRequest(now); now += 50 }
    assert(t.throttlingProbability(now) > 0.8,
      s"p=${t.throttlingProbability(now)}")
    val rejected = (1 to 100).count { _ => val r = t.throttleRequest(now); now += 10; r }
    assert(rejected > 70, s"only $rejected/100 throttled under full overload")
    // recovery: the failure window slides out → probability back to 0
    now += 20000L
    assert(t.throttlingProbability(now) == 0.0)
    assert(!t.throttleRequest(now))
  }

  test("Throttle.call backs off while overloaded, then completes when the window clears") {
    import graft.operators.{AdaptiveThrottler, Throttle}
    val t = new AdaptiveThrottler(samplePeriodMs = 5000L, bucketMs = 1000L,
      overloadRatio = 2.0, rng = new java.util.Random(7))
    var now = 1000000L
    // drive it into full overload: requests sent, none accepted
    (1 to 100).foreach { _ => t.throttleRequest(now); now += 10 }
    assert(t.throttlingProbability(now) > 0.8)
    // a wrapped call on a now-healthy backend: backoff advances the
    // clock (the test's sleep), so the reject window self-heals and
    // the call eventually goes through with success fed back
    var backoffs = 0
    val clock = () => now
    val backoff = () => { backoffs += 1; now += 1000L }
    val result = Throttle.call(t, clock, backoff)((x: Int) => x * 2)(21)
    assert(result == 42)
    assert(backoffs > 0, "overloaded throttler must delay before sending")
    assert(t.throttlingProbability(now) < 0.8,
      "success must feed back and pull the reject probability down")
  }

  // ===== r19: mp4 / ISO BMFF header-only codec (the video-container
  // decision record — Multimodal.encodeMp4 / Mp4Codec)

  test("mp4 codec: header fields round-trip; mdat is skipped, not read") {
    import graft.operators.Multimodal
    val bytes = Multimodal.encodeMp4(width = 640, height = 480,
      nSamples = 24, durationMs = 2500L, seed = 7L)
    val codec = new Multimodal.Mp4Codec
    val (n, ts, dur, nt, w, h, ns) = codec.decodeBatch(Seq(bytes)).head
    assert(n == bytes.length.toLong)
    assert(ts == 1000L && dur == 2500L && nt == 1L)
    assert(w == 640L && h == 480L && ns == 24L)
    // corrupting the mdat PAYLOAD must not change any parsed field —
    // proof the parser skips codec bytes rather than reading them
    val corrupted = bytes.clone()
    val mdatAt = {
      var p = 0
      while (new String(bytes, p + 4, 4, "US-ASCII") != "mdat")
        p += java.nio.ByteBuffer.wrap(bytes, p, 4).getInt
      p
    }
    (mdatAt + 8 until mdatAt + 16).foreach(i => corrupted(i) = 0x5a)
    assert(codec.decodeBatch(Seq(corrupted)).head ==
      (n, ts, dur, nt, w, h, ns))
  }

  test("mp4 codec: corrupt box framing and non-BMFF payloads fail by name") {
    import graft.operators.Multimodal
    val codec = new Multimodal.Mp4Codec
    val notMp4 = "RIFF....WAVE".getBytes("US-ASCII")
    val e1 = intercept[IllegalArgumentException](
      codec.decodeBatch(Seq(notMp4)))
    assert(e1.getMessage.contains("ISO BMFF"), e1.getMessage)
    val bytes = Multimodal.encodeMp4(16, 16, 1, 500L, 1L)
    val bad = bytes.clone()
    // declare a box size past the payload end
    val bb = java.nio.ByteBuffer.wrap(bad)
    bb.putInt(0, bad.length * 2)
    val e2 = intercept[IllegalArgumentException](
      codec.decodeBatch(Seq(bad)))
    assert(e2.getMessage.contains("corrupt box"), e2.getMessage)
  }
}

/** Shared JVM-wide load counter for the per-key inference cache spec
  * (valid under local[*]: all tasks share this JVM). */
object PipelineOpsSpec {
  val loads = new java.util.concurrent.atomic.AtomicInteger(0)

  final class CountingScorer(scale: Double)
      extends graft.operators.Inference.ModelHandler[Array[Double]] {
    private val inner =
      new graft.operators.Inference.ScaledLinearScorer(2, scale)
    override def loadModel(): Array[Double] = {
      loads.incrementAndGet(); inner.loadModel()
    }
    override def runInference(model: Array[Double],
        batch: Seq[Array[Float]]): Seq[Double] =
      inner.runInference(model, batch)
  }
}
