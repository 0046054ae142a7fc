package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * Beam's embedding surface (reference:
  * sdks/python/apache_beam/ml/transforms/base.py:259) produces
  * `array<float>` columns; similarity search over them is the hot loop
  * of near-dedup / ANN at 100 TB. A custom `Expression` with
  * `doGenCode` keeps the per-pair dot product inside whole-stage
  * codegen as a tight primitive loop — no HOF lambda-invocation
  * overhead, no boxing — which matters when a similarity join evaluates
  * it O(candidate-pairs) times.
  *
  * Semantics match a sequential left fold in double (same order as the
  * DuckDB oracle's list_reduce), so results are bit-identical.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left) && isFloatArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires (array<float>, array<float>), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Sequential-fold L2 norm of an `array<float>` column (double). */
case class VectorNorm(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_norm requires array<float>, got ${other.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < a.numElements()) {
      val x = a.getFloat(i).toDouble
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  $acc += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

/** `srp_buckets(vec, bits, dim, tables, seed)` → array<long> of one
  * SRP-LSH bucket id per hash table — the compiled form of
  * [[graft.operators.Similarity.srpBucket]], generalized to multiple
  * independent tables (table t's hyperplanes use seed `seed + t`).
  *
  * All `tables × bits` projections run in ONE interpreted dispatch per
  * row over a plan-time ±1 weight matrix (primitive arrays, sequential
  * double fold — identical arithmetic to the declarative `aggregate`
  * fold, so the two forms agree bit-for-bit). The HOF form evaluates
  * interpreted lambdas per vector element per hyperplane — two orders
  * of magnitude more dispatch on a 100 TB corpus scan.
  */
case class SrpBuckets(child: Expression, bits: Int, dim: Int, tables: Int,
    seed: Int)
    extends UnaryExpression with CodegenFallback {
  require(bits >= 1 && bits <= 63, s"srp_buckets bits must be in [1,63], got $bits")
  require(tables >= 1, "srp_buckets needs at least one table")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_buckets requires array<float>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "srp_buckets"

  // [tables*bits][dim] hyperplane weights from the same md5-parity
  // family as Similarity.srpWeights — plan-time, zero per-row hashing.
  private lazy val weights: Array[Array[Double]] =
    (0 until tables).flatMap { t =>
      graft.operators.Similarity.srpWeights(bits, dim, seed + t)
        .map(_.toArray)
    }.toArray

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim)
      throw new IllegalArgumentException(
        s"srp_buckets: vector length ${arr.numElements()} != dim=$dim — " +
        "a mismatch would zero-pad projections and collapse buckets")
    val vec = new Array[Double](dim)
    var i = 0
    while (i < dim) { vec(i) = arr.getFloat(i).toDouble; i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val w = weights(t * bits + b)
        var s = 0.0
        var j = 0
        while (j < dim) { s += vec(j) * w(j); j += 1 }
        if (s > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBuckets =
    copy(child = newChild)
}

/** `pq_encode(vec, books)` → array<int>: the product-quantization code
  * assignment — for each of the m codebook subspaces, the index of the
  * L2-nearest centroid to the vector's subvector (ties → lowest index).
  *
  * The codebooks are a plan-time literal turned into a flat
  * `float[][][]` reference object; the whole m × kCodes × (dim/m)
  * argmin runs as three tight primitive loops inside whole-stage
  * codegen. The equivalent Catalyst HOF tree (m · kCodes struct
  * expressions + array_sort per row) generates hundreds of janino
  * methods and falls off the codegen fast path — encoding a corpus is
  * the PQ hot loop, so it gets a native expression (same rationale as
  * [[VectorDot]]).
  */
case class PqEncode(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression {
  require(books.forall(_.nonEmpty),
    "pq_encode: every codebook subspace needs at least one centroid")
  private val m = books.length
  private val sd = if (m == 0) 0 else books(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull=true is tolerated at the type level (parquet arrays
    // are element-nullable by default) but an actual null element
    // fails by name at runtime — getFloat would silently read 0.0.
    case ArrayType(FloatType, _) if m > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<float> and non-empty codebooks, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    require(x.numElements() >= m * sd,
      s"pq_encode: vector has ${x.numElements()} dims, codebooks need ${m * sd}")
    var chk = 0
    while (chk < m * sd) {
      require(!x.isNullAt(chk), s"pq_encode: null vector element at $chk")
      chk += 1
    }
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cents = books(s)
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        var d = 0.0
        var p = 0
        while (p < sd) {
          val diff = x.getFloat(s * sd + p).toDouble - c(p)
          d += diff * diff
          p += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("pqBooks", books, "float[][][]")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val bestD = ctx.freshName("bestD")
      val best = ctx.freshName("best")
      val diff = ctx.freshName("diff")
      s"""
         |if ($a.numElements() < ${m * sd}) {
         |  throw new IllegalArgumentException("pq_encode: vector has " +
         |    $a.numElements() + " dims, codebooks need ${m * sd}");
         |}
         |for (int $p = 0; $p < ${m * sd}; $p++) {
         |  if ($a.isNullAt($p)) {
         |    throw new IllegalArgumentException(
         |      "pq_encode: null vector element at " + $p);
         |  }
         |}
         |int[] $out = new int[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  int $best = 0;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $j = 0; $j < $b[$s].length; $j++) {
         |    double $d = 0.0;
         |    for (int $p = 0; $p < $sd; $p++) {
         |      double $diff = (double) $a.getFloat($s * $sd + $p)
         |        - (double) $b[$s][$j][$p];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $j; }
         |  }
         |  $out[$s] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
}

/** `pq_lut(vec, books)` → array<array<double>>: the per-query ADC
  * lookup table — lut(s)(j) = dot(vec's subspace-s slice, centroid
  * c_{s,j}). Computed ONCE per query row (m·kCodes·(dim/m) = dim·kCodes
  * multiplies), then every candidate costs m array lookups. Native for
  * the same expression-tree-size reason as [[PqEncode]]. */
case class PqLut(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression {
  require(books.forall(_.nonEmpty),
    "pq_lut: every codebook subspace needs at least one centroid")
  private val m = books.length
  private val sd = if (m == 0) 0 else books(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // Null elements fail by name at runtime — see PqEncode.
    case ArrayType(FloatType, _) if m > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_lut requires array<float> and non-empty codebooks, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    require(x.numElements() >= m * sd,
      s"pq_lut: vector has ${x.numElements()} dims, codebooks need ${m * sd}")
    var chk = 0
    while (chk < m * sd) {
      require(!x.isNullAt(chk), s"pq_lut: null vector element at $chk")
      chk += 1
    }
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      val cents = books(s)
      val lut = new Array[Double](cents.length)
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        var acc = 0.0
        var p = 0
        while (p < sd) {
          acc += x.getFloat(s * sd + p).toDouble * c(p)
          p += 1
        }
        lut(j) = acc
        j += 1
      }
      rows(s) = new org.apache.spark.sql.catalyst.util.GenericArrayData(lut)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("pqBooks", books, "float[][][]")
      val rows = ctx.freshName("rows")
      val lut = ctx.freshName("lut")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() < ${m * sd}) {
         |  throw new IllegalArgumentException("pq_lut: vector has " +
         |    $a.numElements() + " dims, codebooks need ${m * sd}");
         |}
         |for (int $p = 0; $p < ${m * sd}; $p++) {
         |  if ($a.isNullAt($p)) {
         |    throw new IllegalArgumentException(
         |      "pq_lut: null vector element at " + $p);
         |  }
         |}
         |Object[] $rows = new Object[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  double[] $lut = new double[$b[$s].length];
         |  for (int $j = 0; $j < $b[$s].length; $j++) {
         |    double $acc = 0.0;
         |    for (int $p = 0; $p < $sd; $p++) {
         |      $acc += (double) $a.getFloat($s * $sd + $p)
         |        * (double) $b[$s][$j][$p];
         |    }
         |    $lut[$j] = $acc;
         |  }
         |  $rows[$s] = new org.apache.spark.sql.catalyst.util.GenericArrayData($lut);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
       """.stripMargin
    })
}

/** `pq_adc(lut, codes)` → double: the per-candidate ADC accumulation
  * Σ_s lut(s)(codes(s)) — the inner loop of IVF-PQ search, evaluated
  * once per (query, candidate) pair. The equivalent Catalyst tree —
  * m chained `element_at(element_at(lut, s), codes[s]+1)` nodes —
  * paid ~17µs/row in generic array dispatch (measured r20: the ADC
  * projection was 0.7 s of vec_ann_ivfpq's 2.0 s at sf0.1); this
  * native loop is the same arithmetic (ascending-s left fold in
  * double, bit-identical) in one expression node. Codes are 0-based
  * (the [[PqEncode]] output); out-of-range codes fail loudly rather
  * than the element_at chain's silent null. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires (array<array<double>>, array<int>), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(l: Any, c: Any): Any = {
    val lut = l.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val m = lut.numElements()
    require(codes.numElements() == m,
      s"pq_adc: ${codes.numElements()} codes vs $m lut subspaces")
    var acc = 0.0
    var s = 0
    while (s < m) {
      val row = lut.getArray(s)
      val j = codes.getInt(s)
      require(j >= 0 && j < row.numElements(),
        s"pq_adc: code $j out of range [0, ${row.numElements()}) at subspace $s")
      acc += row.getDouble(j)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = $lut.numElements();
         |if ($codes.numElements() != $m) {
         |  throw new IllegalArgumentException("pq_adc: " +
         |    $codes.numElements() + " codes vs " + $m + " lut subspaces");
         |}
         |double $acc = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $lut.getArray($s);
         |  int $j = $codes.getInt($s);
         |  if ($j < 0 || $j >= $row.numElements()) {
         |    throw new IllegalArgumentException("pq_adc: code " + $j +
         |      " out of range [0, " + $row.numElements() + ") at subspace " + $s);
         |  }
         |  $acc += $row.getDouble($j);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** `ivf_cells(vec, norm, seeds, n)` → array<int>: the query/corpus
  * side of IVF coarse quantization — the `n` nearest cells by cosine
  * (dot(vec, seed) / (norm · |seed|), ties → lowest cell id), best
  * first. Seeds are a plan-time literal turned into ONE `float[][]`
  * reference object; per-row work is a tight nCells·dim dot loop +
  * n-pass selection, so generated-code size is CONSTANT in nCells.
  * The equivalent Catalyst tree — sort_array over an nCells-wide
  * array(struct(vec_dot(...), ...)) — grew one janino method per cell
  * and blew whole-stage codegen's 64 KB method limit near nCells ≈ 200
  * (ScaleProbe's √N-scaled ANN witness fell back to interpreted
  * execution), the same expression-tree-size failure [[PqEncode]]
  * exists to avoid. Seed norms are precomputed once at construction
  * with the identical double arithmetic (sqrt of summed squares), so
  * rankings are bit-for-bit the old tree's. */
case class IvfCells(vec: Expression, norm: Expression,
    seeds: Array[Array[Float]], n: Int) extends BinaryExpression {
  require(seeds.nonEmpty, "ivf_cells: need at least one seed")
  require(n >= 1, s"ivf_cells: n must be >= 1, got $n")
  // |seed| in the same arithmetic order the old plan-time scala
  // computation used: sum of toDouble squares, then sqrt
  private val seedNorms: Array[Double] =
    seeds.map(s => math.sqrt(s.map(x => x.toDouble * x.toDouble).sum))

  override def left: Expression = vec
  override def right: Expression = norm
  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, norm.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ivf_cells requires (array<float>, double), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_cells"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfCells =
    copy(vec = newLeft, norm = newRight)

  override protected def nullSafeEval(v: Any, nv: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val qn = nv.asInstanceOf[Double]
    val nCells = seeds.length
    val sims = new Array[Double](nCells)
    var c = 0
    while (c < nCells) {
      val s = seeds(c)
      // each seed's OWN length, exactly as the generated code loops —
      // seeds(0).length here would silently diverge from codegen on
      // ragged seed arrays (review r16)
      val len = math.min(x.numElements(), s.length)
      var acc = 0.0
      var p = 0
      while (p < len) { acc += x.getFloat(p).toDouble * s(p); p += 1 }
      sims(c) = acc / (qn * seedNorms(c))
      c += 1
    }
    val take = math.min(n, nCells)
    val out = new Array[Int](take)
    val used = new Array[Boolean](nCells)
    var d = 0
    while (d < take) {
      // `best < 0` is the explicit "unset" flag: the first unused
      // non-NaN sim is always selectable — so -Inf sims (zero-norm
      // query/seed) order BEFORE NaN cells, exactly the old
      // struct(negSim, cell) sort (negSim=+Inf < NaN in Spark's total
      // order) — then strict > ⇒ ties resolve to the LOWEST cell id.
      // NaN sims (never >=) fall through to the first-unused fallback,
      // matching sort_array's NaN-last placement (ADVICE r16)
      var best = -1
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < nCells) {
        if (!used(i) && sims(i) >= bestSim && (best < 0 || sims(i) > bestSim)) {
          bestSim = sims(i); best = i
        }
        i += 1
      }
      if (best < 0) { best = 0; while (used(best)) best += 1 }
      out(d) = best
      used(best) = true
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, qn) => {
      val sd = ctx.addReferenceObj("ivfSeeds", seeds, "float[][]")
      val sn = ctx.addReferenceObj("ivfSeedNorms", seedNorms, "double[]")
      val sims = ctx.freshName("sims")
      val used = ctx.freshName("used")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      val len = ctx.freshName("len")
      val take = ctx.freshName("take")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestSim = ctx.freshName("bestSim")
      val i = ctx.freshName("i")
      s"""
         |double[] $sims = new double[${seeds.length}];
         |for (int $c = 0; $c < ${seeds.length}; $c++) {
         |  int $len = java.lang.Math.min($a.numElements(), $sd[$c].length);
         |  double $acc = 0.0;
         |  for (int $p = 0; $p < $len; $p++) {
         |    $acc += (double) $a.getFloat($p) * (double) $sd[$c][$p];
         |  }
         |  $sims[$c] = $acc / ($qn * $sn[$c]);
         |}
         |int $take = java.lang.Math.min($n, ${seeds.length});
         |int[] $out = new int[$take];
         |boolean[] $used = new boolean[${seeds.length}];
         |for (int $d = 0; $d < $take; $d++) {
         |  int $best = -1;
         |  double $bestSim = Double.NEGATIVE_INFINITY;
         |  for (int $i = 0; $i < ${seeds.length}; $i++) {
         |    if (!$used[$i] && $sims[$i] >= $bestSim &&
         |        ($best < 0 || $sims[$i] > $bestSim)) {
         |      $bestSim = $sims[$i]; $best = $i;
         |    }
         |  }
         |  if ($best < 0) { $best = 0; while ($used[$best]) $best++; }
         |  $out[$d] = $best;
         |  $used[$best] = true;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
}

/** Session-scoped registration of graft's native expressions; call once
  * per session (idempotent), then use via
  * `functions.call_function("vec_dot", a, b)`.
  */
object GraftFunctions {
  private def litInt(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => other.toString.toInt
  }

  /** Evaluate a plan-time array<array<array<float>>> literal into the
    * flat codebook reference object the PQ expressions loop over. */
  private def litBooks(e: Expression): Array[Array[Array[Float]]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { s =>
      val sub = ad.getArray(s)
      Array.tabulate(sub.numElements())(j => sub.getArray(j).toFloatArray())
    }
  }

  /** Evaluate a plan-time array<array<float>> literal into the flat
    * seed reference object [[IvfCells]] loops over. */
  private def litSeeds(e: Expression): Array[Array[Float]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toFloatArray())
  }

  /** name → expression builder, shared by the imperative
    * [[register]] path and the [[graft.GraftExtensions]] injection. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> ((e: Seq[Expression]) => VectorDot(e(0), e(1))),
    "ivf_cells" -> ((e: Seq[Expression]) =>
      IvfCells(e(0), e(1), litSeeds(e(2)), litInt(e(3)))),
    "pq_encode" -> ((e: Seq[Expression]) => PqEncode(e(0), litBooks(e(1)))),
    "pq_lut" -> ((e: Seq[Expression]) => PqLut(e(0), litBooks(e(1)))),
    "pq_adc" -> ((e: Seq[Expression]) => PqAdc(e(0), e(1))),
    "bpe_encode" -> ((e: Seq[Expression]) => BpeEncode(e(0), {
      // plan-time array<array<string>> literal → merge pairs
      val ad = e(1).eval().asInstanceOf[ArrayData]
      (0 until ad.numElements()).map { i =>
        val p = ad.getArray(i)
        (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
      }
    })),
    "vec_norm" -> ((e: Seq[Expression]) => VectorNorm(e(0))),
    "minhash_sig" -> ((e: Seq[Expression]) =>
      MinHashSignature(e(0), litInt(e(1)), litInt(e(2)))),
    "simhash" -> ((e: Seq[Expression]) => SimHash(e(0), litInt(e(1)))),
    "shingles" -> ((e: Seq[Expression]) => WordShingles(e(0), litInt(e(1)))),
    "countmin_agg" -> ((e: Seq[Expression]) =>
      CountMinSketchAgg(e(0), litInt(e(1)), litInt(e(2)))),
    "countmin_est" -> ((e: Seq[Expression]) =>
      CountMinEstimate(e(0), e(1), litInt(e(2)), litInt(e(3)))),
    "kmv_sketch_agg" -> ((e: Seq[Expression]) =>
      ThetaSketchAgg(e(0), litInt(e(1)))),
    "hot_item_agg" -> ((e: Seq[Expression]) => HotItemAgg(e(0))),
    "new_users_agg" -> ((e: Seq[Expression]) =>
      NewUsersAgg(e(0), e(1), e(2))),
    "zeta_hll_agg" -> ((e: Seq[Expression]) =>
      ZetaHllAgg(e(0), litInt(e(1)))),
    "zeta_hll_merge_agg" -> ((e: Seq[Expression]) => ZetaHllMergeAgg(e(0))),
    "zeta_hll_info" -> ((e: Seq[Expression]) => ZetaHllInfo(e(0))),
    "kmv_merge_agg" -> ((e: Seq[Expression]) =>
      ThetaMergeAgg(e(0), litInt(e(1)))),
    "tdigest_agg" -> ((e: Seq[Expression]) =>
      TDigestAgg(e(0), litInt(e(1)))),
    "tdigest_merge_agg" -> ((e: Seq[Expression]) =>
      TDigestMergeAgg(e(0), litInt(e(1)))),
    "tdigest_quantile" -> ((e: Seq[Expression]) =>
      TDigestQuantile(e(0), e(1))),
    "srp_buckets" -> ((e: Seq[Expression]) =>
      SrpBuckets(e(0), litInt(e(1)), litInt(e(2)), litInt(e(3)), litInt(e(4)))),
    "text_normalize" -> ((e: Seq[Expression]) => NormalizeText(e(0))),
    "char_entropy" -> ((e: Seq[Expression]) => CharEntropy(e(0))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // internal runtime row-filtering but does not register them as SQL
    // functions; exposing them makes the scan-pruning sketch a
    // user-level primitive (build once over the small side, prune the
    // 100 TB scan with a codegen'd membership test — no join, no
    // shuffle of the big side).
    "bloom_agg" -> ((e: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(e(0), e(1), e(2))),
    "bloom_contains" -> ((e: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(e(0), e(1))))

  /** Register every builder as a temporary function. A name whose
    * registry entry already holds the same builder object (an earlier
    * call, or a [[graft.GraftExtensions]] session) is left as it is. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      val id = new org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!reg.lookupFunctionBuilder(id).exists(_ eq b))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** Session-extension injection (`spark.sql.extensions=graft.GraftExtensions`). */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        b))
    }
}
