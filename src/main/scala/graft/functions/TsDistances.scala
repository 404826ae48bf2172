package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Edit-distance kernels for the fuzzy term-dictionary expansion — the
  * Spark analogue of iresearch's Levenshtein automata family
  * (/root/reference/libs/iresearch/.../levenshtein_filter.hpp;
  * `with_transpositions` defaults TRUE in the reference's surface,
  * server/connector/functions/ts_common.hpp:242). Spark's builtin
  * `levenshtein` is plain (no transpositions), so the Damerau path needs
  * its own kernel: OSA (optimal string alignment — each adjacent
  * transposition costs 1, substrings not re-edited), which is exactly the
  * semantics iresearch's parametric automaton implements. */
object TsDistances {

  /** Thresholded OSA distance; returns -1 when the distance exceeds `max`
    * (same contract as Spark's 3-arg levenshtein). Three-row DP, early
    * exit when a full row's minimum blows the threshold. */
  def osa(a: UTF8String, b: UTF8String, max: Int): Int =
    osaStr(a.toString, b.toString, max)

  def osaStr(a: String, b: String, max: Int): Int = {
    if (a == b) return 0
    val n = a.length; val m = b.length
    if (math.abs(n - m) > max) return -1
    if (n == 0) return if (m <= max) m else -1
    if (m == 0) return if (n <= max) n else -1
    var prev2 = new Array[Int](m + 1) // row i-2
    var prev = Array.tabulate(m + 1)(identity) // row i-1
    var curr = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      curr(0) = i
      var rowMin = curr(0)
      var j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var d = math.min(math.min(prev(j) + 1, curr(j - 1) + 1), prev(j - 1) + cost)
        if (i > 1 && j > 1 && a.charAt(i - 1) == b.charAt(j - 2) &&
            a.charAt(i - 2) == b.charAt(j - 1))
          d = math.min(d, prev2(j - 2) + 1)
        curr(j) = d
        if (d < rowMin) rowMin = d
        j += 1
      }
      if (rowMin > max) return -1
      val t = prev2; prev2 = prev; prev = curr; curr = t
      i += 1
    }
    if (prev(m) <= max) prev(m) else -1
  }

  /** Longest common subsequence length between the query's gram SEQUENCE
    * and a doc's position-ordered gram sequence — the match count the
    * reference's ngram-similarity filter measures
    * (ngram_similarity_query.cpp SerialPositionsChecker::Match walks query
    * grams in order, extending candidate chains only at strictly greater
    * doc positions; the longest chain is exactly an in-order common
    * subsequence). Classic two-row DP, O(|doc|·|query|); |query| is the
    * handful of grams a search string yields, |doc| is only the doc's
    * MATCHED positions on the indexed path, so per-doc work stays bounded.
    * Note the reference's checker is a greedy approximation of this value
    * (the class is literally `NGramApprox`) that can undercount on
    * adversarial interleavings; exact LCS is the documented semantic
    * ("longest common gram sequence") and agrees on all corpus goldens. */
  def lcsLen(query: IndexedSeq[String], doc: Iterable[String]): Int = {
    val k = query.length
    if (k == 0) return 0
    val dp = new Array[Int](k + 1)
    doc.foreach { b =>
      var prevDiag = 0
      var j = 1
      while (j <= k) {
        val tmp = dp(j)
        val ext = if (query(j - 1) == b) prevDiag + 1 else 0
        dp(j) = math.max(math.max(dp(j), dp(j - 1)), ext)
        prevDiag = tmp
        j += 1
      }
    }
    dp(k)
  }

  /** MinMatchCount (ngram_similarity_filter.cpp:34-39): ceil of threshold
    * over the FULL gram sequence length (duplicates included), clamped to
    * [1, n] — so threshold 0 still demands one common gram. The reference
    * multiplies and ceils in float_t, not double: at exact-boundary
    * thresholds the roundings differ (0.3f·50 rounds to a float just ABOVE
    * 15 → ceil 16, while 0.3·50 in double rounds to exactly 15.0 → 15;
    * 0.56f·25 rounds to exactly 14.0f → 14, while double gives
    * 14.000000000000002 → 15), so the multiply must happen at FLOAT
    * precision to match reference match sets (r17 ADVICE). A float→double
    * conversion is exact, so ceil on the widened product equals ceilf. */
  def minMatchCount(termsCount: Int, threshold: Double): Int = {
    val t = math.min(1.0f, math.max(0.0f, threshold.toFloat))
    val prod = termsCount.toFloat * t
    math.max(1, math.min(termsCount, math.ceil(prod.toDouble).toInt))
  }
}

/** osa_distance(term, query, max) → int, -1 when above max — the SQL
  * surface of the OSA kernel (a term-dictionary scan over the ts_dict
  * relations), codegen'd as a static call like Spark's plain
  * `levenshtein`. */
case class OsaDistanceExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"osa_distance expects (STRING, STRING, INT), got " +
        s"${Seq(first, second, third).map(_.dataType.simpleString).mkString(", ")}")
  protected override def nullSafeEval(a: Any, b: Any, m: Any): Any =
    TsDistances.osa(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      m.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, m) =>
      s"${ev.value} = graft.functions.TsDistances.osa($a, $b, $m);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
