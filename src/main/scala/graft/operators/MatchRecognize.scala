package graft.operators

import org.apache.spark.sql.{Dataset, Encoder}

/** Row-pattern matching (SQL MATCH_RECOGNIZE) over keyed, time-sorted
  * data — the one relational operator Spark lacks entirely.
  *
  * Reference: `BeamMatchRel` (extensions/sql/.../rel/BeamMatchRel.java:76)
  * compiles a MATCH_RECOGNIZE pattern into CEP classes (impl/cep/) and
  * runs an NFA (impl/nfa/NFA.java:55) over per-key, timestamp-sorted
  * input. We re-express the same semantics Spark-first: the pattern is a
  * sequence of quantified steps matched by a backtracking regex engine
  * inside `KeyValueGroupedDataset.flatMapSortedGroups` — the runner
  * shuffles once on the key and sort-merges each group (spill-safe,
  * codegen'd sort), and the per-group matcher is a tight JVM loop.
  *
  * Scale: one shuffle on the key; group size is bounded by per-key
  * activity (not dataset size), which is the same contract as Beam's
  * per-key-and-window NFA state. For streaming, the identical matcher
  * ([[matchRows]]) runs on the session groups that
  * `StatefulV2.eventTimeGapFlush` (transformWithState) closes.
  *
  * Semantics implemented (the MATCH_RECOGNIZE core):
  *  - quantifiers `{min,max}` per step (greedy, with backtracking — a
  *    step prefers the longest run that still lets the remainder match);
  *  - CORRELATED DEFINE conditions ([[CtxStep]]): predicates see the
  *    match-so-far through [[MatchCtx]] — `PREV(n)` physical-row
  *    navigation plus `FIRST`/`LAST`/`COUNT` per pattern variable
  *    (Beam compiles these via impl/cep/CEPOperation into the NFA's
  *    `PREV`/`FIRST`/`LAST` row navigation, impl/nfa/NFA.java:55);
  *  - ALTERNATION ([[Alt]]): `(A | B)` sub-patterns, leftmost branch
  *    preferred (SQL alternation order);
  *  - AFTER MATCH SKIP modes ([[SkipMode]]): PAST LAST ROW (default —
  *    matches never overlap) and TO NEXT ROW (scan resumes one row
  *    after the match START, so overlapping matches are reported —
  *    Calcite/SQL:2016's other deterministic mode);
  *  - unmatched rows are skipped one at a time (match start slides).
  */
object MatchRecognize {

  /** AFTER MATCH SKIP strategy (SQL:2016 12.2; Calcite
    * SqlMatchRecognize.AfterOption). */
  sealed trait SkipMode
  /** AFTER MATCH SKIP PAST LAST ROW — resume after the match end;
    * matches never overlap (the default). */
  case object SkipPastLastRow extends SkipMode
  /** AFTER MATCH SKIP TO NEXT ROW — resume one row after the match
    * START; overlapping matches are reported. */
  case object SkipToNextRow extends SkipMode
  /** AFTER MATCH SKIP TO FIRST `variable` — resume AT the first row the
    * variable matched. SQL:2016 makes a resume point that does not
    * advance past the match start a runtime error (infinite loop), and
    * a match where the variable matched nothing likewise; both throw. */
  final case class SkipToFirst(variable: String) extends SkipMode
  /** AFTER MATCH SKIP TO LAST `variable` — resume AT the last row the
    * variable matched (same error conditions as [[SkipToFirst]]). */
  final case class SkipToLast(variable: String) extends SkipMode

  /** A pattern element: a quantified step, a context-aware step, or an
    * alternation of sub-patterns. */
  sealed trait Elem[T]

  /** One quantified pattern step: matches `pred`-satisfying rows
    * between `min` and `max` times. `Step("A", p)` ≡ `A`,
    * `Step("A", p, 1, Int.MaxValue)` ≡ `A+`, `(0, MaxValue)` ≡ `A*`,
    * `(0, 1)` ≡ `A?`. Greedy by default (longest run that still lets
    * the remainder match); `reluctant = true` is SQL:2016's `+?`/`*?`/
    * `??`/`{m,n}?` — shortest run first, extending only when the
    * remainder cannot match. */
  final case class Step[T](name: String, pred: T => Boolean,
      min: Int = 1, max: Int = 1, reluctant: Boolean = false) extends Elem[T]

  /** A quantified step whose DEFINE condition sees the match-so-far —
    * SQL conditions like `B.value < PREV(B.value)` become
    * `CtxStep("B", (t, ctx) => ctx.prev().exists(p => t.value < p.value))`. */
  final case class CtxStep[T](name: String, pred: (T, MatchCtx[T]) => Boolean,
      min: Int = 1, max: Int = 1, reluctant: Boolean = false) extends Elem[T]

  /** Alternation `(branch₁ | branch₂ | …)`: each branch is a full
    * sub-pattern; branches try in declared order (leftmost preferred). */
  final case class Alt[T](branches: Seq[Elem[T]]*) extends Elem[T]

  /** Navigation over the match-so-far, passed to [[CtxStep]] predicates
    * evaluated at (0-based) partition index `posIdx`. Mirrors the SQL
    * DEFINE navigation ops: PREV/NEXT are PHYSICAL partition rows;
    * FIRST/LAST navigate a variable's matched rows. */
  final class MatchCtx[T] private[MatchRecognize] (part: IndexedSeq[T],
      val matchStartIdx: Int, val posIdx: Int,
      assigned: List[(String, Int)]) {

    /** SQL PREV(col, n): the n-th previous physical row of the
      * partition (may precede the match start); None before row 0. */
    def prev(n: Int = 1): Option[T] = {
      val i = posIdx - n
      if (i >= 0 && n >= 1) Some(part(i)) else None
    }

    /** SQL NEXT(col, n): the n-th following physical row of the
      * partition (lookahead); None past the end. */
    def next(n: Int = 1): Option[T] = {
      val i = posIdx + n
      if (i < part.length && n >= 1) Some(part(i)) else None
    }

    /** SQL FIRST(X.col, off): the row `off` rows AFTER the earliest row
      * matched to variable `name` so far in this match attempt — among
      * `name`'s matched rows (SQL:2016 logical offset; default 0 = the
      * earliest). None when fewer than off+1 rows are mapped. */
    def first(name: String, off: Int = 0): Option[T] = {
      require(off >= 0, s"FIRST offset must be >= 0, got $off")
      // `assigned` is most-recent-first: the (off+1)-th-from-earliest is
      // the (count-1-off)-th from the head
      var n = 0
      var it = assigned
      while (it.nonEmpty) { if (it.head._1 == name) n += 1; it = it.tail }
      if (n <= off) None else last(name, n - 1 - off)
    }

    /** SQL LAST(X.col, off): the row `off` rows BEFORE the most recent
      * row matched to `name` (default 0 = the most recent). */
    def last(name: String, off: Int = 0): Option[T] = {
      require(off >= 0, s"LAST offset must be >= 0, got $off")
      var skip = off
      var it = assigned
      while (it.nonEmpty) {
        if (it.head._1 == name) {
          if (skip == 0) return Some(part(it.head._2))
          skip -= 1
        }
        it = it.tail
      }
      None
    }

    /** SQL COUNT(X.*) over the match so far. */
    def count(name: String): Int = assigned.count(_._1 == name)

    /** Rows matched to `name` so far, in MATCH order (earliest first) —
      * the running-aggregate view SQL:2016 DEFINE aggregates read. */
    def rowsOf(name: String): List[T] = {
      var out: List[T] = Nil
      var it = assigned
      while (it.nonEmpty) { // assigned is most-recent-first: prepend
        if (it.head._1 == name) out = part(it.head._2) :: out
        it = it.tail
      }
      out
    }

    /** ALL rows of the match so far in match order (COUNT(*) etc.). */
    def allRows: List[T] = {
      var out: List[T] = Nil
      var it = assigned
      while (it.nonEmpty) { out = part(it.head._2) :: out; it = it.tail }
      out
    }
  }

  /** One complete match: the per-key ordinal (1-based, in row order),
    * the rows captured by each step (in order), and the full match in
    * ROW order with each row's variable — the CLASSIFIER() stream that
    * ALL ROWS PER MATCH emits. */
  final case class Match[K, T](key: K, matchSeq: Long,
      captured: Map[String, Seq[T]],
      ordered: Seq[(String, T)] = Seq.empty)

  /** Parse a SQL `PATTERN (...)` clause body into pattern elements —
    * the front-door syntax of `MATCH_RECOGNIZE` (Beam parses it via
    * Calcite into `CEPPattern`, extensions/sql/.../impl/cep/): variable
    * names with quantifiers `+ * ? {m} {m,} {m,n}` and single-level
    * alternation groups `(A|B C|D)`. DEFINE conditions come from the
    * `define` map (a variable absent from it matches any row — SQL's
    * undefined-variable rule).
    *
    * `parsePattern("A B+ (C|D) E{2,5}", Map("B" -> pred, ...))` ≡
    * `Seq(CtxStep(A), CtxStep(B,1,∞), Alt(Seq(C),Seq(D)), CtxStep(E,2,5))`.
    *
    * Reluctant quantifiers (SQL:2016 / java.util.regex syntax): a
    * trailing `?` on any quantifier (`B+?`, `B*?`, `B??`, `B{2,5}?`)
    * matches the SHORTEST run first. `PERMUTE(A, B, …)` expands to the
    * alternation of all orderings in lexical order — exactly Calcite's
    * expansion — so `PERMUTE(A, B)` ≡ `(A B|B A)`. */
  def parsePattern[T](pattern0: String,
      define: Map[String, (T, MatchCtx[T]) => Boolean]): Seq[Elem[T]] = {
    // PERMUTE(A, B, C) → (A B C|A C B|…): Calcite's own rewrite
    // (SqlMatchRecognize PERMUTE is syntax sugar for the alternation)
    val Permute = """(?i)PERMUTE\s*\(([^()|]*)\)""".r
    val pattern = Permute.replaceAllIn(pattern0, m => {
      val vars = m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(vars.nonEmpty, s"empty PERMUTE in pattern: $pattern0")
      require(vars.size <= 6,
        s"PERMUTE of ${vars.size} variables expands to ${vars.size}! " +
          s"branches — cap is 6 (720): $pattern0")
      scala.util.matching.Regex.quoteReplacement(
        vars.permutations.map(_.mkString(" ")).mkString("(", "|", ")"))
    })
    val Tok = """([A-Za-z_][A-Za-z_0-9]*)(\+\??|\*\??|\?\??|\{\d+(?:,\d*)?\}\??)?|(\()|(\))|(\|)""".r
    def predOf(name: String): (T, MatchCtx[T]) => Boolean =
      define.getOrElse(name, (_: T, _: MatchCtx[T]) => true)
    def mkStep(name: String, quant0: String): CtxStep[T] = {
      // a trailing '?' on a MULTI-char quantifier marks it reluctant
      // (bare "?" is the greedy optional; "??" is the reluctant one)
      val (quant, rel) =
        if (quant0 != null && quant0.length > 1 && quant0.endsWith("?"))
          (quant0.dropRight(1), true)
        else (quant0, false)
      quant match {
        case null | ""  => CtxStep(name, predOf(name))
        case "+"        => CtxStep(name, predOf(name), 1, Int.MaxValue, rel)
        case "*"        => CtxStep(name, predOf(name), 0, Int.MaxValue, rel)
        case "?"        => CtxStep(name, predOf(name), 0, 1, rel)
        case b =>
          val body = b.stripPrefix("{").stripSuffix("}")
          body.split(",", -1) match {
            case Array(m)     => CtxStep(name, predOf(name), m.toInt, m.toInt, rel)
            case Array(m, "") => CtxStep(name, predOf(name), m.toInt, Int.MaxValue, rel)
            case Array(m, n)  => CtxStep(name, predOf(name), m.toInt, n.toInt, rel)
          }
      }
    }
    // single-pass with one level of (…|…) grouping
    val top = scala.collection.mutable.ArrayBuffer[Elem[T]]()
    var branches: scala.collection.mutable.ArrayBuffer[Seq[Elem[T]]] = null
    var current: scala.collection.mutable.ArrayBuffer[Elem[T]] = null
    // Tokens must COVER the input (whitespace aside): findAllMatchIn
    // alone silently skips unmatched text, so "(A|B)+" would parse as
    // "(A|B)" with the quantifier dropped and garbage would be ignored
    // — unsupported syntax has to be a parse error, not a semantics
    // change.
    var pos = 0
    def gapTo(start: Int): Unit = {
      val gap = pattern.substring(pos, start)
      require(gap.forall(_.isWhitespace),
        s"unsupported syntax at '${gap.trim}' in pattern: $pattern " +
          "(supported: variables with + * ? {m} {m,} {m,n}, one level " +
          "of (A|B) alternation; quantified groups are not)")
    }
    Tok.findAllMatchIn(pattern).foreach { m =>
      gapTo(m.start); pos = m.end
      if (m.group(3) != null) { // '('
        require(branches == null, s"nested groups unsupported: $pattern")
        branches = scala.collection.mutable.ArrayBuffer.empty
        current = scala.collection.mutable.ArrayBuffer.empty
      } else if (m.group(4) != null) { // ')'
        require(branches != null, s"unbalanced ')': $pattern")
        branches += current.toSeq
        top += (if (branches.size == 1) branches.head.head match {
          case single if branches.head.size == 1 => single
          case _ => Alt[T](branches.head)
        } else Alt[T](branches.toSeq: _*))
        branches = null; current = null
      } else if (m.group(5) != null) { // '|'
        require(branches != null, s"'|' outside a group: $pattern")
        branches += current.toSeq
        current = scala.collection.mutable.ArrayBuffer.empty
      } else {
        val step = mkStep(m.group(1), m.group(2))
        if (current != null) current += step else top += step
      }
    }
    gapTo(pattern.length)
    require(branches == null, s"unbalanced '(': $pattern")
    require(top.nonEmpty, s"empty pattern: $pattern")
    top.toSeq
  }

  /** Backtracking matcher over one key's sorted rows. Greedy
    * quantifiers try their longest feasible run first, backing off
    * until the remaining pattern matches; reluctant quantifiers try the
    * shortest run first, extending only when the remainder fails (the
    * prefix-feasibility precompute is shared — a row's condition only
    * sees what precedes it, so run feasibility is monotone in length
    * and both orders walk the same candidate set). Alternation tries
    * branches leftmost first. Variable→row assignments thread through
    * as a prepend list so context predicates see the match-so-far.
    * Returns (end-exclusive index, assignments in row order). */
  private def tryMatch[T](rows: IndexedSeq[T], start: Int,
      elems: Seq[Elem[T]]): Option[(Int, Seq[(String, Int)])] = {

    def go(pos: Int, rest: List[Elem[T]],
        assigned: List[(String, Int)]): Option[(Int, List[(String, Int)])] =
      rest match {
        case Nil => Some((pos, assigned))
        case (st: Step[T @unchecked]) :: tail =>
          quant(pos, st.name, (t, _) => st.pred(t), st.min, st.max,
            st.reluctant, tail, assigned)
        case (cs: CtxStep[T @unchecked]) :: tail =>
          quant(pos, cs.name, cs.pred, cs.min, cs.max,
            cs.reluctant, tail, assigned)
        case (alt: Alt[T @unchecked]) :: tail =>
          alt.branches.iterator
            .map(branch => go(pos, branch.toList ::: tail, assigned))
            .collectFirst { case Some(r) => r }
      }

    def quant(pos: Int, name: String, pred: (T, MatchCtx[T]) => Boolean,
        min: Int, max: Int, reluctant: Boolean, tail: List[Elem[T]],
        assigned: List[(String, Int)]): Option[(Int, List[(String, Int)])] = {
      // longest feasible run; each extension sees assignments including
      // the run's own earlier rows (a row's condition only depends on
      // what precedes it, so truncating the run on backtrack cannot
      // invalidate the kept prefix)
      var runAssigned = assigned
      var hi = pos
      while (hi < rows.length && (hi - pos) < max &&
          pred(rows(hi), new MatchCtx(rows, start, hi, runAssigned))) {
        runAssigned = (name, hi) :: runAssigned
        hi += 1
      }
      val feasible = hi - pos
      var res: Option[(Int, List[(String, Int)])] = None
      // greedy walks take from feasible down to min; reluctant from min
      // up to feasible
      var take = if (reluctant) min else feasible
      while (res.isEmpty &&
          (if (reluctant) take <= feasible else take >= min)) {
        var acc = assigned
        var i = 0
        while (i < take) { acc = (name, pos + i) :: acc; i += 1 }
        res = go(pos + take, tail, acc)
        take += (if (reluctant) 1 else -1)
      }
      res
    }

    go(start, elems.toList, Nil).map { case (end, assigned) =>
      (end, assigned.reverse) // row-index order (consumption is monotone)
    }
  }

  /** Run the pattern over one key's already-sorted rows — the reusable
    * core for streaming composition: feed it window-closed groups (e.g.
    * the output of [[graft.streaming.StatefulV2.eventTimeGapFlush]]) to
    * get MATCH_RECOGNIZE over unbounded input, which is exactly Beam's
    * per-key-and-window NFA execution model. */
  def matchRows[K, T, O](key: K, rows: IndexedSeq[T], steps: Seq[Elem[T]],
      skip: SkipMode = SkipPastLastRow)(
      measure: Match[K, T] => O): Seq[O] = {
    val out = scala.collection.mutable.ArrayBuffer[O]()
    var pos = 0
    var matchSeq = 1L
    while (pos < rows.length) {
      tryMatch(rows, pos, steps) match {
        case Some((end, assignedIdx)) if end > pos =>
          val ordered = assignedIdx.map { case (n, i) => (n, rows(i)) }
          val captured = assignedIdx.groupBy(_._1)
            .map { case (n, xs) => n -> xs.map(x => rows(x._2)) }
          out += measure(Match(key, matchSeq, captured, ordered))
          matchSeq += 1
          pos = skip match {
            case SkipPastLastRow => end // resume after the match
            case SkipToNextRow => pos + 1 // overlap allowed
            case SkipToFirst(v) => skipTarget(v, assignedIdx, pos, first = true)
            case SkipToLast(v) => skipTarget(v, assignedIdx, pos, first = false)
          }
        case _ =>
          pos += 1
      }
    }
    out.toSeq
  }

  /** Resume index for SKIP TO FIRST/LAST `v` — SQL:2016's error cases
    * enforced: the variable must have matched rows, and the resume
    * point must advance past the match start (otherwise every rescan
    * would rediscover the same match: an infinite loop, which the
    * standard makes a runtime error rather than silently skipping). */
  private def skipTarget(v: String, assignedIdx: Seq[(String, Int)],
      matchStart: Int, first: Boolean): Int = {
    val hits = assignedIdx.collect { case (n, i) if n == v => i }
    require(hits.nonEmpty,
      s"AFTER MATCH SKIP TO ${if (first) "FIRST" else "LAST"} $v: " +
        s"variable '$v' matched no rows in this match (SQL:2016 error)")
    val target = if (first) hits.min else hits.max
    require(target > matchStart,
      s"AFTER MATCH SKIP TO ${if (first) "FIRST" else "LAST"} $v: resume " +
        s"point $target does not advance past the match start $matchStart " +
        "— infinite loop (SQL:2016 error)")
    target
  }

  /** Run the pattern over every key group of `ds`, sorted by `sortCols`
    * within the group (Beam's @RequiresTimeSortedInput contract — the
    * sort rides the shuffle via Spark's spill-safe group sort, not an
    * in-memory comparator), and map each match through `measure`.
    *
    * @param sortCols ORDER BY clause of MATCH_RECOGNIZE (e.g. ts, id)
    * @param measure  MEASURES clause: builds the output row from a Match
    */
  def matchRecognize[K: Encoder, T: Encoder, O: Encoder](
      ds: Dataset[T], key: T => K,
      sortCols: Seq[org.apache.spark.sql.Column],
      steps: Seq[Elem[T]],
      skip: SkipMode = SkipPastLastRow)(measure: Match[K, T] => O): Dataset[O] = {
    ds.groupByKey(key).flatMapSortedGroups(sortCols: _*) {
      (k: K, it: Iterator[T]) =>
        matchRows(k, it.toIndexedSeq, steps, skip)(measure).iterator
    }
  }
}
