package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair encoding: the real subword tokenizer a training-data
  * pipeline counts/packs tokens with (Sennrich et al. 2016; the
  * GPT-2/RoBERTa tokenizer family), not a whitespace approximation.
  *
  * Scale shape: TRAINING is always histogram-based — one distributed
  * word-count aggregation, `topWords` rows kept (TakeOrdered — the
  * top of a Zipf distribution carries ~all pair mass), then the merge
  * loop runs driver-side over that bounded artifact (O(nMerges ·
  * histogram symbols), milliseconds at any corpus size). APPLY is one
  * narrow scan: the learned merge table rides into a native
  * [[BpeEncode]] expression as a plan-time reference object (the same
  * broadcast-fit-artifact pattern as vocab / DSIR / perplexity fits).
  *
  * Reference consumer shape: Beam's MLTransform text ops
  * (sdks/python/apache_beam/ml/transforms/tft.py — ComputeAndApply
  * Vocabulary et al.) fit a text artifact once and map it over the
  * corpus; BPE is the same contract with a merge table.
  *
  * Unicode: symbols are CODE POINTS (surrogate-pair safe), so
  * concatenating a word's pieces always reproduces the word —
  * byte-lossless roundtrip is part of the operator's contract and the
  * oracle gate asserts it corpus-wide.
  */
object Bpe {

  /** Split into code-point symbols (never splits surrogate pairs). */
  private[functions] def symbolsOf(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      out += word.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Train `nMerges` BPE merges from a (word, frequency) histogram.
    * Deterministic: the most frequent adjacent symbol pair wins each
    * round, ties broken by pair lexicographic order. Stops early when
    * no pair occurs twice. */
  def train(hist: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      hist.iterator.filter(_._1.nonEmpty)
        .map { case (w, f) => (symbolsOf(w), f) }.toArray
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), f, (a, b) => a + b)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestN = 1L // require frequency >= 2: merging singletons is noise
      counts.forEach { (p, n) =>
        if (n > bestN || (n == bestN && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2))))
          { best = p; bestN = n }
      }
      if (best == null) done = true
      else {
        merges += best
        val (a, b) = best
        val ab = a + b
        words = words.map { case (syms, f) =>
          if (syms.length < 2) (syms, f)
          else {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += ab; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), f)
          }
        }
      }
      round += 1
    }
    merges.result()
  }

  /** Merge table → rank lookup ((a, b) → merge priority). */
  def ranksOf(merges: Seq[(String, String)]): java.util.HashMap[(String, String), Integer] = {
    val m = new java.util.HashMap[(String, String), Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent((a, b), Integer.valueOf(i))
    }
    m
  }

  /** Encode one word: repeatedly merge the present pair with the LOWEST
    * merge rank (the order the merges were learned — the standard BPE
    * apply rule), left-to-right within a round. */
  def encode(word: String,
      ranks: java.util.HashMap[(String, String), Integer]): Array[String] = {
    var syms = symbolsOf(word)
    var changed = true
    while (changed && syms.length > 1) {
      changed = false
      // lowest-rank pair present
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get((syms(i), syms(i + 1)))
        if (r != null && r.intValue() < bestRank) bestRank = r.intValue()
        i += 1
      }
      if (bestRank != Int.MaxValue) {
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && {
            val r = ranks.get((syms(j), syms(j + 1)))
            r != null && r.intValue() == bestRank
          }) { out += syms(j) + syms(j + 1); j += 2 }
          else { out += syms(j); j += 1 }
        }
        syms = out.result()
        changed = true
      }
    }
    syms
  }

  /** Distributed fit: word histogram (one count aggregation, top
    * `topWords` by frequency — TakeOrdered, a bounded fit artifact)
    * then the driver-side merge loop. `textCol` tokenizes on
    * whitespace, matching [[graft.operators.TextAnalysis.tokens]]. */
  def fitMerges(df: DataFrame, textCol: String, nMerges: Int,
      topWords: Int = 1 << 14): Seq[(String, String)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df
      .select(explode(graft.operators.TextAnalysis.tokens(col(textCol)))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(topWords)
      .as[(String, Long)]
      .collect().toSeq // bounded: topWords-row histogram fit artifact
    train(hist, nMerges)
  }
}

/** `bpe_encode(word, merges)` → array<string>: BPE subword pieces of
  * one token under a learned merge table (a plan-time literal turned
  * into a rank HashMap reference object). The per-word merge loop runs
  * in [[Bpe.encode]], invoked as a single generated call so the
  * surrounding stage stays in whole-stage codegen. Concatenating the
  * pieces reproduces the word exactly (code-point symbols). */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  @transient private lazy val ranks = Bpe.ranksOf(merges)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires a string word, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  def encodeUtf8(w: UTF8String): GenericArrayData = {
    val pieces = Bpe.encode(w.toString, ranks)
    new GenericArrayData(
      pieces.map(p => UTF8String.fromString(p): Any))
  }

  override protected def nullSafeEval(v: Any): Any =
    encodeUtf8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w => {
      val self = ctx.addReferenceObj("bpeExpr", this,
        classOf[BpeEncode].getName)
      s"${ev.value} = $self.encodeUtf8($w);"
    })
}
