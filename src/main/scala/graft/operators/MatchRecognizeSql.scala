package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, BinaryArithmetic, BinaryComparison, EqualNullSafe, EqualTo, Expression, Literal, Not, Or, UnaryMinus, UnaryPositive}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First, Last}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** SQL-TEXT front door for [[MatchRecognize]] — the full
  * `MATCH_RECOGNIZE (...)` clause body parsed and run over a DataFrame,
  * completing the path Beam takes through Calcite
  * (extensions/sql/.../rel/BeamMatchRel.java:76 + the impl/cep/
  * CEPOperation compiler): PARTITION BY, ORDER BY, MEASURES,
  * ONE/ALL ROWS PER MATCH, AFTER MATCH SKIP PAST LAST ROW, PATTERN
  * (via [[MatchRecognize.parsePattern]]: quantifiers + one level of
  * alternation), SUBSET and DEFINE.
  *
  * Expressions: each DEFINE predicate and each MEASURES entry is parsed
  * once, on the driver, by Spark SQL's expression grammar
  * (`CatalystSqlParser.parseExpression`), and that one Catalyst tree is
  * interpreted. Accepted nodes:
  *  - `V.col` (column indices resolve against the input schema at
  *    compile time), `PREV/NEXT(V.col[, k])`, `FIRST/LAST(V.col[, k])`;
  *  - `COUNT(*)`, `COUNT(V.*)`, `COUNT(expr)` and `SUM/AVG/MIN/MAX(expr)`,
  *    where `expr` is a per-row expression over ONE variable's columns
  *    (`SUM(B.price * B.qty + 1)`; null-skipping, DOUBLE result);
  *  - `MATCH_NUMBER()` and `CLASSIFIER()` (MEASURES only);
  *  - numeric and string literals, `+ - * /`, unary minus, `< <= > >=
  *    = <> !=`, AND/OR and parentheses.
  * Arithmetic is DOUBLE and NULL-propagating, and division by zero is
  * NULL (documented deviation from ANSI's error). Two error kinds: a
  * malformed expression fails with Catalyst's `ParseException` and its
  * position; a well-formed but unsupported node (BETWEEN, CASE, an
  * unqualified column, …) fails with an `IllegalArgumentException`
  * naming it.
  *
  * Semantics notes (SQL:2016 row-pattern matching):
  *  - in DEFINE of variable V, `V.col` is the CURRENT row; another
  *    variable's `W.col` means `LAST(W.col)` (its most recent match);
  *  - PREV/NEXT navigate PHYSICAL partition rows (may cross the match
  *    start), FIRST/LAST navigate a variable's matched rows with a
  *    logical offset (out of range → NULL); PREV/NEXT are DEFINE-only;
  *  - a comparison with a NULL side (e.g. PREV at row 0) is false, the
  *    SQL three-valued outcome;
  *  - DEFINE aggregates run over the rows matched so far, including the
  *    row under test when it is mapped to the referenced variable or
  *    when counting all rows — the cumulative-cap family
  *    `B AS SUM(B.amount) <= 100`. Each evaluation re-walks those rows:
  *    O(match²) per match, acceptable because a cap bounds the match
  *    length (an uncapped `COUNT(*) >= 0` degrades quadratically);
  *  - MEASURES: `V.col` ≡ `LAST(V.col)`; an unmatched optional variable
  *    yields NULL (COUNT yields 0); COUNT and MATCH_NUMBER are non-null
  *    LONG, CLASSIFIER is non-null STRING and may not appear in
  *    arithmetic, a bare FIRST/LAST/`V.col` keeps its column's type,
  *    aggregates and arithmetic are DOUBLE;
  *  - ALL ROWS PER MATCH emits one output row per matched input row
  *    (all source columns + measures, CLASSIFIER() per row) — ONE ROW
  *    PER MATCH emits partition cols + measures. Measures accept a
  *    RUNNING or FINAL prefix: RUNNING evaluates over the match prefix
  *    up to the output row (SQL:2016 §7.2) in one incremental pass with
  *    O(1) state per leaf, FINAL over the whole match. DEFAULT IS FINAL
  *    (deviation: the standard defaults to RUNNING in ALL ROWS mode) —
  *    write RUNNING explicitly;
  *  - PATTERN supports reluctant quantifiers (`B+?` `B*?` `B??`
  *    `B{m,n}?` — shortest run first) and `PERMUTE(A, B, …)` (expands
  *    to the alternation of all orderings, Calcite's own rewrite);
  *  - SUBSET U = (A, B) declares union variables usable in MEASURES
  *    (COUNT/FIRST/LAST/aggregates over the union's rows in row order);
  *  - AFTER MATCH SKIP TO FIRST/LAST `var` resume modes, with
  *    SQL:2016's no-advance and unmatched-variable runtime errors;
  *  - PARTITION BY keys are compared exactly (NULL is its own key) and
  *    the streaming paths sort each group as Spark's ORDER BY does.
  *
  * Scale: identical to the DSL path — one shuffle on the partition
  * key, sort-merged groups, tight JVM matcher per group.
  */
object MatchRecognizeSql {

  private type Ctx = MatchRecognize.MatchCtx[Row]
  private type Match = MatchRecognize.Match[String, Row]

  // ---- the leaves of a parsed expression, classified once ----
  private sealed trait Leaf
  /** `V.col`; `i` is the column's index in the input schema. */
  private final case class Col(v: String, i: Int) extends Leaf
  /** PREV/NEXT (physical rows) or FIRST/LAST (V's matched rows), `k`
    * rows away. */
  private final case class Nav(kind: String, v: String, i: Int, k: Int) extends Leaf
  /** COUNT/SUM/AVG/MIN/MAX of `arg` over V's rows ("" = all rows). */
  private final case class Agg(kind: String, v: String, arg: Row => Any) extends Leaf
  private case object MatchNumber extends Leaf
  private case object Classifier extends Leaf

  private def unsupported(e: Expression): Nothing = {
    val what = e match {
      case f: UnresolvedFunction => s"function ${f.nameParts.mkString(".")}"
      case UnresolvedAttribute(Seq(c)) => s"unqualified column '$c' (write VAR.$c)"
      case other => s"${other.nodeName} `$other`"
    }
    throw new IllegalArgumentException(s"unsupported in MATCH_RECOGNIZE: $what")
  }

  /** A function call as (upper-case name, arguments). The parser turns
    * FIRST/LAST without an offset into aggregate expressions. */
  private object Call {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case UnresolvedFunction(Seq(n), args, false, None, false, Seq(), _) =>
        Some((n.toUpperCase(java.util.Locale.ROOT), args))
      case AggregateExpression(First(c, false), _, false, None, _) => Some(("FIRST", Seq(c)))
      case AggregateExpression(Last(c, false), _, false, None, _) => Some(("LAST", Seq(c)))
      case _ => None
    }
  }

  private def isPredicate(e: Expression): Boolean = e match {
    case _: And | _: Or | Not(_: EqualTo) => true
    case c: BinaryComparison => !c.isInstanceOf[EqualNullSafe]
    case _ => false
  }

  private def num(a: Any): java.lang.Double = a match {
    case null => null
    case n: Number => n.doubleValue
    case other => throw new IllegalArgumentException(
      s"non-numeric value in MATCH_RECOGNIZE arithmetic: $other")
  }

  /** Two integral numbers compare as LONGs, so values above 2^53 that
    * are equal as doubles still order; any other numeric pair compares
    * as DOUBLEs. */
  private def compareVals(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) =>
      java.lang.Long.compare(x.longValue, y.longValue)
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => String.valueOf(a).compareTo(String.valueOf(b))
  }

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte => true
    case _ => false
  }

  /** Compile a parsed expression into a function of an environment X.
    * The combinators live here once: arithmetic (DOUBLE,
    * NULL-propagating, /0 → NULL), comparisons (a NULL side is false)
    * and AND/OR; every other node means what `leaf` makes of it. */
  private def interpret[X](e: Expression, leaf: Expression => X => Any): X => Any = {
    def go(e: Expression): X => Any = e match {
      case Literal(v, _: NumericType) =>
        val d = v match {
          case x: Decimal => x.toJavaBigDecimal.doubleValue
          case x: Number => x.doubleValue
        }
        _ => d
      case Literal(v, _: StringType) => val s = v.toString; _ => s
      case UnaryPositive(c) => go(c)
      case UnaryMinus(c, _) =>
        val f = go(c)
        x => { val a = num(f(x)); if (a == null) null else -a }
      case b: BinaryArithmetic if b.symbol.length == 1 && "+-*/".contains(b.symbol) =>
        val (l, r, op) = (go(b.left), go(b.right), b.symbol.head)
        x => {
          val p = num(l(x)); val q = num(r(x))
          if (p == null || q == null) null
          else op match {
            case '+' => p + q
            case '-' => p - q
            case '*' => p * q
            case '/' => if (q == 0.0) null else p / q
          }
        }
      case And(l, r) => val (p, q) = (bool(l), bool(r)); x => p(x) && q(x)
      case Or(l, r) => val (p, q) = (bool(l), bool(r)); x => p(x) || q(x)
      case Not(EqualTo(l, r)) => comparison(l, r, _ != 0)
      case c: BinaryComparison if isPredicate(c) =>
        comparison(c.left, c.right, c.symbol match {
          case "<" => _ < 0
          case "<=" => _ <= 0
          case ">" => _ > 0
          case ">=" => _ >= 0
          case "=" => _ == 0
        })
      case _ => leaf(e)
    }
    def bool(e: Expression): X => Boolean = {
      if (!isPredicate(e)) unsupported(e)
      val f = go(e)
      x => f(x).asInstanceOf[Boolean]
    }
    def comparison(l: Expression, r: Expression, test: Int => Boolean): X => Any = {
      val (p, q) = (go(l), go(r))
      x => {
        val a = p(x); val b = q(x)
        a != null && b != null && test(compareVals(a, b))
      }
    }
    go(e)
  }

  /** COUNT/SUM/AVG/MIN/MAX over the values added so far: NULLs are
    * skipped, COUNT is a LONG and an empty numeric aggregate is NULL. */
  private final class Acc(kind: String) {
    private var n = 0L
    private var sum, min, max = 0.0
    def add(a: Any): Unit = if (a != null) {
      if (kind != "COUNT") {
        val d: Double = num(a)
        if (n == 0 || d < min) min = d
        if (n == 0 || d > max) max = d
        sum += d
      }
      n += 1
    }
    def value: Any =
      if (kind == "COUNT") n
      else if (n == 0) null
      else kind match {
        case "SUM" => sum
        case "AVG" => sum / n
        case "MIN" => min
        case "MAX" => max
      }
  }

  private def cell(r: Row, i: Int): Any = if (r.isNullAt(i)) null else r.get(i)

  /** Classify a node that is not a combinator, against `schema`. */
  private def leafOf(schema: StructType)(e: Expression): Leaf = {
    def ref(a: Expression): (String, Int) = a match {
      case UnresolvedAttribute(Seq(v, c)) => (v, schema.fieldIndex(c))
      case _: UnresolvedAttribute => unsupported(a)
      case _ => throw new IllegalArgumentException(s"expected VAR.col, got `$a` in `$e`")
    }
    e match {
      case UnresolvedAttribute(Seq(_, _)) => val (v, i) = ref(e); Col(v, i)
      case Call(f @ ("PREV" | "NEXT" | "FIRST" | "LAST"), a +: offset) =>
        val (v, i) = ref(a)
        val k = offset match {
          case Seq() => if (f == "PREV" || f == "NEXT") 1 else 0
          case Seq(Literal(k: Int, IntegerType)) if k >= 0 => k
          case _ => throw new IllegalArgumentException(
            s"$f offset must be a non-negative integer literal: `$e`")
        }
        Nav(f, v, i, k)
      case Call(f @ ("COUNT" | "SUM" | "AVG" | "MIN" | "MAX"), Seq(arg)) => arg match {
        case UnresolvedStar(target) =>
          require(f == "COUNT", s"only COUNT aggregates V.* or *: `$e`")
          Agg(f, target.map(_.mkString(".")).getOrElse(""), r => r)
        case _: Literal if f == "COUNT" => Agg(f, "", r => r) // COUNT(*) parses as COUNT(1)
        case _ =>
          val vars = scala.collection.mutable.LinkedHashSet.empty[String]
          val fn = interpret[Row](arg, {
            case a: UnresolvedAttribute => val (v, i) = ref(a); vars += v; r => cell(r, i)
            case other => unsupported(other)
          })
          require(vars.size == 1, if (vars.isEmpty) s"$f needs a VAR.col argument: `$e`"
            else s"aggregate mixes variables ${vars.mkString(" and ")} — aggregate " +
              s"over ONE pattern variable's rows: `$e`")
          Agg(f, vars.head, fn)
      }
      case Call("MATCH_NUMBER", Seq()) => MatchNumber
      case Call("CLASSIFIER", Seq()) => Classifier
      case other => unsupported(other)
    }
  }

  // ---- what a leaf means in DEFINE and in MEASURES ----

  /** DEFINE of variable `self`: over the row under test and the match
    * so far. */
  private def defineLeaf(self: String)(leaf: Leaf): ((Row, Ctx)) => Any = leaf match {
    case Col(v, i) if v == self => { case (t, _) => cell(t, i) }
    case Col(v, i) => defineLeaf(self)(Nav("LAST", v, i, 0))
    case Nav(kind, v, i, k) => { case (_, c) =>
      (kind match {
        case "PREV" => c.prev(k)
        case "NEXT" => c.next(k)
        case "FIRST" => c.first(v, k)
        case "LAST" => c.last(v, k)
      }).map(cell(_, i)).orNull
    }
    case Agg(kind, v, arg) => { case (t, c) =>
      val acc = new Acc(kind)
      (if (v == "") c.allRows else c.rowsOf(v)).foreach(r => acc.add(arg(r)))
      if (v == "" || v == self) acc.add(arg(t))
      acc.value
    }
    case MatchNumber | Classifier => throw new IllegalArgumentException(
      s"MATCH_NUMBER() and CLASSIFIER() are MEASURES-only (DEFINE $self)")
  }

  /** MEASURES: given the match number, a fresh incremental state that
    * takes each match row (with its variable) in order and returns the
    * value over the rows so far — O(1) per row. That is the RUNNING
    * value; FINAL is the value after the match's last row. `in(v)` tells
    * which variables' rows count as V's (V itself, or a SUBSET's
    * members). */
  private def measureLeaf(in: String => String => Boolean)(leaf: Leaf)
      : Long => (String, Row) => Any = leaf match {
    case Col(v, i) => measureLeaf(in)(Nav("LAST", v, i, 0))
    case Nav("FIRST", v, i, k) => _ => {
      // the (k+1)-th mapped row's value once it arrives; NULL until then
      val mine = in(v); var seen = 0; var value: Any = null
      (vn, r) => {
        if (seen <= k && mine(vn)) {
          if (seen == k) value = cell(r, i)
          seen += 1
        }
        value
      }
    }
    case Nav(_, v, i, k) => _ => { // LAST: a ring of the k+1 newest values
      val mine = in(v); val ring = new Array[Any](k + 1); var n = 0L
      (vn, r) => {
        if (mine(vn)) { ring((n % (k + 1)).toInt) = cell(r, i); n += 1 }
        // k back from the newest is the ring's oldest slot
        if (n <= k) null else ring((n % (k + 1)).toInt)
      }
    }
    case Agg(kind, v, arg) => _ => {
      val mine = if (v == "") (_: String) => true else in(v)
      val acc = new Acc(kind)
      (vn, r) => { if (mine(vn)) acc.add(arg(r)); acc.value }
    }
    case MatchNumber => seq => (_, _) => seq
    case Classifier => _ => (vn, _) => vn
  }

  /** A compiled MEASURES entry: its output field, whether it is RUNNING,
    * and a per-match factory of its per-row function. The tree compiles
    * once, over the vector of its leaves' values. */
  private final case class Measure(field: StructField, running: Boolean,
      run: Long => (String, Row) => Any) {
    def fin(m: Match): Any = {
      val f = run(m.matchSeq)
      m.ordered.foldLeft(null: Any) { case (_, (vn, r)) => f(vn, r) }
    }
  }

  private def compileMeasure(text: String, schema: StructType,
      in: String => String => Boolean): Measure = {
    val up = text.toUpperCase(java.util.Locale.ROOT)
    val (body, running) =
      if (up.startsWith("RUNNING ")) (text.substring(8), true)
      else if (up.startsWith("FINAL ")) (text.substring(6), false)
      else (text, false)
    val (tree, name) = CatalystSqlParser.parseExpression(body) match {
      case Alias(t, n) => (t, n)
      case _ => throw new IllegalArgumentException(s"MEASURES entry needs AS: $text")
    }
    if (isPredicate(tree)) unsupported(tree)
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Leaf]
    var bare: Option[Leaf] = None // the whole entry is one leaf
    val fn = interpret[IndexedSeq[Any]](tree, { e =>
      val j = leaves.size
      leaves += leafOf(schema)(e)
      if (e eq tree) bare = Some(leaves(j))
      vals => vals(j)
    })
    leaves.foreach {
      case Nav(k @ ("PREV" | "NEXT"), _, _, _) => throw new IllegalArgumentException(
        s"$k() navigates physical rows and is DEFINE-only: $text")
      case _ =>
    }
    require(bare.contains(Classifier) || !leaves.contains(Classifier),
      s"CLASSIFIER() is not numeric — cannot appear in arithmetic: $text")
    val field = bare match {
      case Some(Agg("COUNT", _, _) | MatchNumber) => StructField(name, LongType, nullable = false)
      case Some(Classifier) => StructField(name, StringType, nullable = false)
      case Some(Col(_, i)) => StructField(name, schema(i).dataType)
      case Some(Nav(_, _, i, _)) => StructField(name, schema(i).dataType)
      case _ => StructField(name, DoubleType)
    }
    val runs = leaves.map(measureLeaf(in)).toIndexedSeq
    // CLASSIFIER() is per row in ALL ROWS PER MATCH, FINAL or not
    Measure(field, running || bare.contains(Classifier),
      seq => { val states = runs.map(_(seq)); (vn, r) => fn(states.map(_(vn, r))) })
  }

  /** Injective string key over the PARTITION BY values: a value keeps
    * its `String.valueOf` form, with U+0000 and U+001F escaped by a
    * U+0000; NULL is U+0000 'n'; values join with U+001F. So NULL and the
    * string 'null' are two keys, as are ("a␟b", "c") and ("a", "b␟c")
    * (␟ = U+001F); a value holding neither character keeps its old key. */
  private def partitionKey(vals: Seq[Any]): String = vals.map {
    case null => "\u0000n"
    case v => String.valueOf(v).replace("\u0000", "\u0000\u0000")
      .replace("\u001f", "\u0000\u001f")
  }.mkString("\u001f")

  /** Spark's default ORDER BY over one column's values: NULL sorts lowest
    * (NULLS FIRST ascending, NULLS LAST descending) and the rest by their
    * type's natural order — LONG keys exactly, not through a double. */
  private def sortCompare(a: Any, b: Any): Int =
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Split on `sep` at paren depth 0 (so COUNT(a, b) survives). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr = false // parens/separators inside '…' literals are text
    s.foreach {
      case '\'' => inStr = !inStr; cur += '\''
      case c if inStr => cur += c
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case c if c == sep && depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result()
  }

  /** Index of a whole-word, case-insensitive keyword at paren depth 0
    * and outside '…' string literals; -1 if absent. */
  private def findKeyword(s: String, kw: String): Int =
    keywordOccurrences(s, kw).headOption.getOrElse(-1)

  /** ALL whole-word, case-insensitive occurrences of `kw` at paren
    * depth 0 and outside '…' string literals — the shared quote-aware
    * scanner behind [[findKeyword]] and the full-statement [[sql]]
    * front door (a 'FROM' inside a SELECT-list literal must not count
    * as the table reference). */
  private def keywordOccurrences(s: String, kw: String): Seq[Int] = {
    val up = s.toUpperCase
    val kwu = kw.toUpperCase
    // '_' is an identifier character: 'FROM' inside `events_from` is
    // not the keyword (matches regex \b and the identifier scanners)
    def wordChar(c: Char) = c.isLetterOrDigit || c == '_'
    val out = Seq.newBuilder[Int]
    var depth = 0
    var inStr = false
    var i = 0
    while (i < up.length) {
      up.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case _ =>
      }
      if (!inStr && depth == 0 && i <= up.length - kwu.length &&
          up.regionMatches(i, kwu, 0, kwu.length) &&
          (i == 0 || !wordChar(up.charAt(i - 1))) &&
          (i + kwu.length == up.length ||
            !wordChar(up.charAt(i + kwu.length))))
        out += i
      i += 1
    }
    out.result()
  }

  /** Parse + compile a `MATCH_RECOGNIZE (...)` clause BODY against
    * `df`'s schema. Sections PARTITION BY / ORDER BY / PATTERN / DEFINE
    * are required; MEASURES is required (it defines the output); ONE or
    * ALL ROWS PER MATCH; all AFTER MATCH SKIP modes parse. Output
    * columns: partition cols (ONE ROW) / all source cols (ALL ROWS),
    * then measures. Shared by [[apply]] (batch) and [[stream]]. */
  private def compile(df: DataFrame, clause: String): CompiledClause = {
    val body = clause.trim
    // section slicing: each keyword found at depth 0, in order
    val keywords = Seq("PARTITION BY", "ORDER BY", "MEASURES",
      "ONE ROW PER MATCH", "ALL ROWS PER MATCH",
      "AFTER MATCH SKIP PAST LAST ROW",
      "AFTER MATCH SKIP TO NEXT ROW",
      "AFTER MATCH SKIP TO FIRST", "AFTER MATCH SKIP TO LAST",
      "PATTERN", "SUBSET", "DEFINE")
    val found = keywords.flatMap { kw =>
      val idx = findKeyword(body, kw)
      if (idx >= 0) Some((kw, idx)) else None
    }.sortBy(_._2)
    require(found.map(_._1).containsSlice(Seq("PARTITION BY", "ORDER BY")),
      "clause needs PARTITION BY and ORDER BY")
    def section(kw: String): Option[String] = {
      val i = found.indexWhere(_._1 == kw)
      if (i < 0) None
      else {
        val start = found(i)._2 + kw.length
        val end = if (i + 1 < found.length) found(i + 1)._2 else body.length
        Some(body.substring(start, end).trim)
      }
    }
    val partCols = splitTopLevel(section("PARTITION BY").get, ',')
      .map(_.trim).filter(_.nonEmpty)
    val patternText0 = {
      val p = section("PATTERN").get.trim
      require(p.startsWith("(") && p.endsWith(")"), s"PATTERN needs (...): $p")
      p.substring(1, p.length - 1)
    }
    // SQL:2016 pattern EXCLUSION `{- X -}`: rows matched inside the
    // markers still MATCH (and still feed RUNNING/FINAL measures) but
    // are omitted from ALL ROWS PER MATCH output — the standard's way
    // to emit, say, only a down-run's rows without its anchor. This
    // engine scopes exclusion to whole variables: an excluded variable
    // may not also appear outside an exclusion (positional exclusion
    // of one occurrence among several is not supported — rename the
    // variable instead).
    val Excl = """\{-(.*?)-\}""".r
    val exclVars: Set[String] = Excl.findAllMatchIn(patternText0)
      .flatMap(m => """[A-Za-z_][A-Za-z_0-9]*""".r.findAllIn(m.group(1)))
      .filterNot(_.equalsIgnoreCase("PERMUTE"))
      .toSet
    val patternText = Excl.replaceAllIn(patternText0,
      m => " " + scala.util.matching.Regex.quoteReplacement(m.group(1)) + " ")
    if (exclVars.nonEmpty) {
      val outside = Excl.replaceAllIn(patternText0, " ")
      val outsideVars =
        """[A-Za-z_][A-Za-z_0-9]*""".r.findAllIn(outside).toSet
      val both = exclVars.intersect(outsideVars)
      require(both.isEmpty,
        s"excluded variable(s) ${both.mkString(", ")} also appear outside " +
          s"the {- -} exclusion — rename the excluded occurrence: $patternText0")
    }
    // SUBSET U = (A, B), W = (C, D): union variables — measure
    // references to U aggregate over the union of A- and B-rows in row
    // order (SQL:2016 7.2; Calcite SqlMatchRecognize subsetList).
    // Supported in MEASURES; DEFINE predicates over subsets are not.
    val subsets: Map[String, Set[String]] =
      section("SUBSET").map { s =>
        splitTopLevel(s, ',').map(_.trim).filter(_.nonEmpty).map { entry =>
          val eq = entry.indexOf('=')
          require(eq > 0, s"SUBSET entry needs '=': $entry")
          val u = entry.substring(0, eq).trim
          val body = entry.substring(eq + 1).trim
          require(body.startsWith("(") && body.endsWith(")"),
            s"SUBSET needs U = (A, B): $entry")
          u -> body.substring(1, body.length - 1).split(",")
            .map(_.trim).filter(_.nonEmpty).toSet
        }.toMap
      }.getOrElse(Map.empty)
    val inSchema = df.schema
    val measures = splitTopLevel(section("MEASURES")
      .getOrElse(throw new IllegalArgumentException("MEASURES required")), ',')
      .map(_.trim).filter(_.nonEmpty)
      .map(compileMeasure(_, inSchema, v => subsets.getOrElse(v, Set(v))))

    val defines: Map[String, (Row, Ctx) => Boolean] =
      section("DEFINE").map { d =>
        splitTopLevel(d, ',').map(_.trim).filter(_.nonEmpty).map { entry =>
          val asIdx = findKeyword(entry, "AS")
          require(asIdx > 0, s"DEFINE entry needs AS: $entry")
          val v = entry.substring(0, asIdx).trim
          val tree = CatalystSqlParser.parseExpression(entry.substring(asIdx + 2))
          if (!isPredicate(tree)) unsupported(tree)
          val pred = interpret[(Row, Ctx)](tree, e => defineLeaf(v)(leafOf(inSchema)(e)))
          v -> ((t: Row, c: Ctx) => pred((t, c)).asInstanceOf[Boolean])
        }.toMap
      }.getOrElse(Map.empty)

    val skip: MatchRecognize.SkipMode =
      if (found.exists(_._1 == "AFTER MATCH SKIP TO NEXT ROW"))
        MatchRecognize.SkipToNextRow
      else if (found.exists(_._1 == "AFTER MATCH SKIP TO FIRST"))
        MatchRecognize.SkipToFirst(section("AFTER MATCH SKIP TO FIRST").get)
      else if (found.exists(_._1 == "AFTER MATCH SKIP TO LAST"))
        MatchRecognize.SkipToLast(section("AFTER MATCH SKIP TO LAST").get)
      else MatchRecognize.SkipPastLastRow

    val steps = MatchRecognize.parsePattern[Row](patternText, defines)

    val allRows = found.exists(_._1 == "ALL ROWS PER MATCH")
    require(exclVars.isEmpty || allRows,
      "pattern exclusion {- X -} requires ALL ROWS PER MATCH " +
        "(SQL:2016 — with ONE ROW PER MATCH there is no per-row output " +
        "to exclude from)")

    // output schema: ALL ROWS = every input column + measures;
    // ONE ROW = partition cols + measures
    val outFields =
      (if (allRows) inSchema.fields.toSeq
       else partCols.map(c => StructField(c, inSchema(c).dataType))) ++ measures.map(_.field)
    val outSchema = StructType(outFields.toArray)

    val partIdx = partCols.map(inSchema.fieldIndex)
    val keyFn = (r: Row) => partitionKey(partIdx.map(r.get))

    // per-match emitters, shared by the batch and streaming paths
    def emitAllRows(m0: Match): Seq[Row] = {
      // one output row per matched input row: the full source row plus
      // the measures — FINAL once per match, RUNNING from a fresh
      // incremental state per match
      val vals: Seq[Either[Any, (String, Row) => Any]] = measures.map { s =>
        if (s.running) Right(s.run(m0.matchSeq)) else Left(s.fin(m0))
      }
      m0.ordered.flatMap { case (varName, r) =>
        // RUNNING state must advance on EVERY match row — excluded
        // rows ({- X -}) update it but emit nothing
        val row = vals.map(_.fold(identity, _(varName, r)))
        if (exclVars.contains(varName)) None
        else Some(Row.fromSeq(r.toSeq ++ row))
      }
    }
    def emitOneRow(m0: Match): Row = {
      val anyRow = m0.ordered.head._2
      Row.fromSeq(partIdx.map(anyRow.get) ++ measures.map(_.fin(m0)))
    }
    val groupRunner: (String, IndexedSeq[Row]) => Seq[Row] =
      if (allRows)
        (k, rows) =>
          MatchRecognize.matchRows(k, rows, steps, skip)(emitAllRows).flatten
      else
        (k, rows) =>
          MatchRecognize.matchRows(k, rows, steps, skip)(emitOneRow)

    val sortKeys = splitTopLevel(section("ORDER BY").get, ',')
      .map(_.trim).filter(_.nonEmpty).map { sp =>
        val parts = sp.split("\\s+")
        (parts(0), parts.length > 1 && parts(1).equalsIgnoreCase("DESC"))
      }
    CompiledClause(keyFn, sortKeys, inSchema, outSchema, groupRunner)
  }

  /** The compiled form of a clause: key/sort extraction plus a
    * serializable per-group runner — reusable by batch (sorted groups
    * from the shuffle) and streaming (watermark-closed sessions sorted
    * in memory). */
  private final case class CompiledClause(
      keyFn: Row => String,
      sortKeys: Seq[(String, Boolean)],
      inSchema: StructType,
      outSchema: StructType,
      groupRunner: (String, IndexedSeq[Row]) => Seq[Row])

  /** Run a `MATCH_RECOGNIZE (...)` clause BODY over a batch DataFrame.
    * One shuffle on the partition key; the group sort rides the
    * exchange's spill-safe machinery. */
  def apply(df: DataFrame, clause: String): DataFrame = {
    val plan = compile(df, clause)
    val runner = plan.groupRunner
    df.groupByKey(plan.keyFn)(Encoders.STRING)
      .flatMapSortedGroups(plan.sortKeys.map { case (c, desc) =>
        if (desc) col(c).desc else col(c) }: _*) {
        (k: String, it: Iterator[Row]) =>
          runner(k, it.toIndexedSeq).iterator
      }(Encoders.row(plan.outSchema))
  }

  /** Full-STATEMENT front door: `SELECT … FROM <table> MATCH_RECOGNIZE
    * ( <clause> ) [AS alias] [WHERE …] [GROUP BY …] [ORDER BY …]`.
    *
    * Beam SQL accepts MATCH_RECOGNIZE inside a complete query (Calcite
    * parses it as a relational operand — `rel/BeamMatchRel.java:76`);
    * Spark's parser does not, so this extracts the clause, runs it on
    * the catalog-resolved table via [[apply]], registers the result as
    * a temp view, and hands the REWRITTEN statement (table + clause
    * replaced by the view, alias and trailing clauses untouched) to
    * `spark.sql` — the outer projection/filter/aggregate/sort all
    * plan and optimize in Catalyst as usual. */
  def sql(spark: SparkSession, statement: String): DataFrame = {
    // quote-aware keyword location: 'MATCH_RECOGNIZE' or 'FROM' text
    // inside a SELECT-list string literal must not mis-parse the
    // statement (same scanner as the clause-body sections)
    val mrHits = keywordOccurrences(statement, "MATCH_RECOGNIZE")
    require(mrHits.nonEmpty, "statement has no MATCH_RECOGNIZE clause")
    require(mrHits.size == 1,
      "only one MATCH_RECOGNIZE per statement is supported")
    val mrIdx = mrHits.head
    val open = statement.indexOf('(', mrIdx)
    require(open > 0 && statement.substring(mrIdx + 15, open).trim.isEmpty,
      "MATCH_RECOGNIZE must be followed by a parenthesized clause")
    // find the clause's closing paren (string literals may hold parens)
    var depth = 0; var close = -1; var i = open; var inStr = false
    while (i < statement.length && close < 0) {
      val ch = statement.charAt(i)
      if (inStr) { if (ch == '\'') inStr = false }
      else ch match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case _ => ()
      }
      i += 1
    }
    require(close > open, "unbalanced parens in MATCH_RECOGNIZE clause")
    val clause = statement.substring(open + 1, close)
    // the table reference is the word-bounded FROM nearest before the
    // keyword; subqueries as the MATCH_RECOGNIZE input are not
    // supported (materialize a temp view first)
    val fromIdx = {
      val hits = keywordOccurrences(statement.substring(0, mrIdx), "FROM")
      require(hits.nonEmpty, "no FROM before MATCH_RECOGNIZE")
      hits.last
    }
    val table = statement.substring(fromIdx + 4, mrIdx).trim
    require(table.matches("""[A-Za-z_][A-Za-z_0-9]*(\.[A-Za-z_][A-Za-z_0-9]*)*"""),
      s"MATCH_RECOGNIZE input must be a (qualified) table/view name, " +
        s"got '$table' — materialize subqueries as a temp view first")
    val out = apply(spark.table(table), clause)
    val view = "graft_mr_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    out.createOrReplaceTempView(view)
    try spark.sql(statement.substring(0, fromIdx) + "FROM " + view +
      statement.substring(close + 1))
    finally
      // spark.sql analyzes eagerly and analysis INLINES temp views into
      // the plan, so the returned DataFrame no longer references the
      // name — drop it immediately or every sql() call leaks a catalog
      // entry for the session's lifetime
      spark.catalog.dropTempView(view)
  }

  /** STREAMING MATCH_RECOGNIZE through the SQL front door: sessions
    * close when the event-time watermark passes `gapMs` beyond a key's
    * last row, and the identical clause/NFA machinery runs on each
    * closed session — Beam's per-key-and-window BeamMatchRel execution
    * model (and Flink CEP's session-scoped matching) on
    * `transformWithState`. Matches never span a session gap: the
    * session IS the window (use the batch form for unwindowed
    * retrospective matching). Per-key state is the open session's
    * buffered rows, GC'd at flush.
    *
    * @param tsCol TIMESTAMP column carrying event time (also name it in
    *              ORDER BY); `delay` is the watermark delay string
    *              (allowed lateness), e.g. "10 seconds". */
  def stream(df: DataFrame, clause: String, tsCol: String,
      delay: String, gapMs: Long): DataFrame = {
    val sp = compileStream(df, clause, tsCol, delay)
    graft.streaming.StatefulV2.eventTimeGapApply[String, Row, Row](
      sp.keyed, gapMs)(sp.apply)(Encoders.STRING, sp.rowEnc, sp.outEnc)
  }

  /** Shared streaming scaffolding for the three window models: the
    * compiled clause keyed + watermarked, plus the per-group
    * sort-and-run closure (a fix to keying, watermark placement, or
    * sort-ordering semantics lands ONCE here). */
  private final case class StreamPlan(
      keyed: org.apache.spark.sql.Dataset[(String, java.sql.Timestamp, Row)],
      apply: (String, Seq[Row]) => Iterator[Row],
      rowEnc: org.apache.spark.sql.Encoder[Row],
      outEnc: org.apache.spark.sql.Encoder[Row])

  private def compileStream(df: DataFrame, clause: String, tsCol: String,
      delay: String): StreamPlan = {
    val plan = compile(df, clause)
    val tsIdx = plan.inSchema.fieldIndex(tsCol)
    val rowEnc = Encoders.row(plan.inSchema)
    val tupEnc = Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, rowEnc)
    val keyFn = plan.keyFn
    // watermark is tagged AFTER the keying map: a typed map mints new
    // attributes, so an upstream event-time tag would not survive it
    // (EventTime transformWithState requires the tag on its input)
    val keyed = df
      .map(r => (keyFn(r), r.getTimestamp(tsIdx), r))(tupEnc)
      .withWatermark("_2", delay)
    // in-memory per-group sort by the clause's ORDER BY (groups are
    // bounded by per-key activity within one gap/window — the batch
    // group's contract, minus the shuffle's spill path)
    val keys = plan.sortKeys.map { case (n, desc) =>
      (plan.inSchema.fieldIndex(n), desc)
    }
    val ord: Ordering[Row] = new Ordering[Row] {
      override def compare(a: Row, b: Row): Int = {
        keys.foreach { case (i, desc) =>
          val c = sortCompare(a.get(i), b.get(i))
          if (c != 0) return if (desc) -c else c
        }
        0
      }
    }
    val runner = plan.groupRunner
    StreamPlan(keyed,
      (k, rows) => runner(k, rows.sorted(ord).toIndexedSeq).iterator,
      rowEnc, Encoders.row(plan.outSchema))
  }

  /** STREAMING MATCH_RECOGNIZE over FIXED (tumbling) event-time
    * windows — Beam's literal per-key-AND-window BeamMatchRel model
    * under the default AfterWatermark trigger: the clause runs on each
    * (partition key, window) group when the watermark passes the
    * window end; matches never cross a window boundary. The sibling of
    * [[stream]]'s session windows — pick the window model, the
    * clause/NFA machinery is identical. */
  def streamWindowed(df: DataFrame, clause: String, tsCol: String,
      delay: String, windowMs: Long): DataFrame = {
    val sp = compileStream(df, clause, tsCol, delay)
    graft.streaming.StatefulV2.eventTimeWindowApply[String, Row, Row](
      sp.keyed, windowMs) { (k, _, rows) => sp.apply(k, rows)
    }(Encoders.STRING, sp.rowEnc, sp.outEnc)
  }

  /** STREAMING MATCH_RECOGNIZE over SLIDING event-time windows —
    * Beam's SlidingWindows assignment: every row joins each covering
    * window, the clause runs independently per (key, window) at that
    * window's watermark close, so one physical event sequence can
    * match in several overlapping windows (Beam's semantics, by
    * design). Completes the window-model trio with [[stream]]
    * (sessions) and [[streamWindowed]] (fixed). */
  def streamSliding(df: DataFrame, clause: String, tsCol: String,
      delay: String, windowMs: Long, slideMs: Long): DataFrame = {
    val sp = compileStream(df, clause, tsCol, delay)
    graft.streaming.StatefulV2.eventTimeSlidingApply[String, Row, Row](
      sp.keyed, windowMs, slideMs) { (k, _, rows) => sp.apply(k, rows)
    }(Encoders.STRING, sp.rowEnc, sp.outEnc)
  }
}
