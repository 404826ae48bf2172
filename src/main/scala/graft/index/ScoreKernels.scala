package graft.index

import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayMax, ArrayTransform, CaseWhen, Coalesce, CreateNamedStruct, Expression, GetStructField, Greatest, LambdaFunction, Literal, Log, Log2, NamedLambdaVariable, SortArray, Sqrt}
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** A scorer's per-doc formula over one [[TermBagScan]] row: `score` builds
  * the score expression from the leaf's column lookup, and `dropZero` drops
  * docs whose score is not positive. */
private[index] final case class ScoreKernel(score: (String => Expression) => Expression,
    dropZero: Boolean)

/** The nine term-bag scorers (the reference's registered scorers,
  * search.cpp:142-173) as Catalyst expressions over the leaf's columns:
  * `dlen`, and per distinct query term `i` (first-occurrence order) `i_tf`,
  * `i_df`, `i_ctf`, null where the doc lacks the term, and `gi_ctf`, the
  * term's collection frequency for every doc.
  *
  * Per-term partial scores are added in query-term order, so the double
  * additions happen in a fixed order and a score is reproducible bit for
  * bit (a groupBy sum would add in shuffle arrival order). */
private[index] object ScoreKernels {

  /** Scorer parameter `i`, numeric, `d` when absent. */
  private def num(scorer: String, params: Seq[Any], i: Int, d: Double): Double =
    params.lift(i) match {
      case Some(n: Number) => n.doubleValue
      case Some(other) => throw new IllegalArgumentException(
        s"$scorer: parameter ${i + 1} must be numeric, got $other")
      case None => d
    }

  /** tfidf's `with_norms` parameter, off when absent. */
  private def withNorms(params: Seq[Any]): Boolean = params.headOption.exists {
    case b: Boolean => b
    case other => throw new IllegalArgumentException(
      s"tfidf: with_norms must be boolean, got $other")
  }

  /** The kernel for a scorer name and its optional trailing parameters. */
  def apply(idx: InvertedIndex, scorer: String, terms: Seq[String],
      params: Seq[Any]): ScoreKernel = {
    def num(i: Int, d: Double): Double = ScoreKernels.num(scorer, params, i, d)
    scorer match {
      case "bm25" => bm25(idx, terms, k1 = num(0, 1.2), b = num(1, 0.75))
      case "tfidf" => tfidf(idx, terms, withNorms = ScoreKernels.withNorms(params))
      case "lm_dirichlet" => lmDirichlet(idx, terms, mu = num(0, 2000.0))
      case "lm_jelinek_mercer" | "lm_jm" =>
        lmJelinekMercer(idx, terms, lambda = num(0, 0.1))
      case "indri_dirichlet" => indriDirichlet(idx, terms, mu = num(0, 2000.0))
      case "dfi" => dfi(idx, terms, measure = params.headOption match {
        case Some(s: String) => s
        case Some(other) => throw new IllegalArgumentException(
          s"dfi: measure must be a string, got $other")
        case None => "standardized"
      })
      case "raw_tf" => rawTf(terms)
      case "raw_dl" => rawDl
      case "raw_boost" => rawBoost(1.0)
      case other => throw new IllegalArgumentException(s"unknown scorer $other")
    }
  }

  /** `coalesce(double(c), default)`. */
  private def dbl(c: Expression, default: Double): Expression =
    Coalesce(Seq(c.cast(DoubleType), Literal(default)))

  /** The sum over `terms` of `f(i)`, `i` the term's distinct index. */
  private def perTerm(terms: Seq[String])(f: Int => Expression): Expression = {
    val distinct = terms.distinct
    terms.map(t => f(distinct.indexOf(t))).reduce(_ + _)
  }

  /** Standard BM25 (k1 = 1.2, b = 0.75 by default, Lucene-style idf). */
  def bm25(idx: InvertedIndex, terms: Seq[String], k1: Double, b: Double): ScoreKernel =
    ScoreKernel(c => perTerm(terms) { i =>
      bm25Term(idx, k1, b)(dbl(c(s"${i}_tf"), 0.0), dbl(c(s"${i}_df"), 1.0), c("dlen"))
    }, dropZero = true)

  /** One term's bm25 contribution, from its `tf` and `df` as doubles, to a
    * doc of length `dlen`. */
  private def bm25Term(idx: InvertedIndex, k1: Double, b: Double)(tf: Expression,
      dfT: Expression, dlen: Expression): Expression = {
    val idf = Log(Literal(1.0) + (Literal(idx.numDocs.toDouble) - dfT + 0.5) / (dfT + 0.5))
    idf * tf * (k1 + 1.0) /
      (tf + Literal(k1) * (Literal(1.0 - b) + Literal(b) * dlen.cast(DoubleType) / idx.avgDl))
  }

  /** TFIDF (tfidf.hpp): Σ sqrt(tf) · idf with the reference's idf
    * log1p((N+1)/(df+1)) (tfidf.cpp:148-151); `with_norms` (off by
    * default, tfidf.hpp:38) divides each contribution by sqrt(dlen)
    * (tfidf.cpp:73-76). */
  def tfidf(idx: InvertedIndex, terms: Seq[String], withNorms: Boolean): ScoreKernel =
    ScoreKernel(c => perTerm(terms) { i =>
      tfidfTerm(idx, withNorms)(dbl(c(s"${i}_tf"), 0.0), dbl(c(s"${i}_df"), 1.0), c("dlen"), None)
    }, dropZero = true)

  /** One term's tfidf contribution, weighted by `w` before the norm. */
  private def tfidfTerm(idx: InvertedIndex, withNorms: Boolean)(tf: Expression,
      dfT: Expression, dlen: Expression, w: Option[Expression]): Expression = {
    val idf = Log(Literal(1.0) + (Literal(idx.numDocs.toDouble) + 1.0) / (dfT + 1.0))
    val base = w.foldLeft(Sqrt(tf) * idf)(_ * _)
    if (withNorms) base / Sqrt(dlen.cast(DoubleType)) else base
  }

  /** LM-Dirichlet query likelihood (lm_dirichlet.hpp): per term
    * log(1 + tf / (μ · p_c(t))) + log(μ / (dlen + μ)), p_c(t) = ctf / sumDl,
    * floored at zero (lm_dirichlet.cpp:57-68), so an unmatched term adds 0
    * and a long doc never drives a matched term negative. */
  def lmDirichlet(idx: InvertedIndex, terms: Seq[String], mu: Double): ScoreKernel = {
    require(mu >= 0.0 && !mu.isInfinite && !mu.isNaN,
      "lm_dirichlet: mu must be a non-negative finite value")
    val sumDlD = idx.sumDl.toDouble
    ScoreKernel(c => perTerm(terms) { i =>
      val tf = dbl(c(s"${i}_tf"), 0.0)
      val ctfT = dbl(c(s"${i}_ctf"), 1.0)
      Greatest(Seq(
        Log(Literal(1.0) + tf / (Literal(mu) * (ctfT / sumDlD))) +
          Log(Literal(mu) / (c("dlen").cast(DoubleType) + mu)),
        Literal(0.0)))
    }, dropZero = false)
  }

  /** LM-Jelinek-Mercer (lm_jelinek_mercer.hpp:33-46): per term
    * log(1 + ((1-λ)·tf/dlen) / (λ·p_c(t))), λ ∈ (0, 1], default 0.1. */
  def lmJelinekMercer(idx: InvertedIndex, terms: Seq[String], lambda: Double): ScoreKernel = {
    require(lambda > 0.0 && lambda <= 1.0,
      "lm_jelinek_mercer: lambda must be in (0, 1]")
    val sumDlD = idx.sumDl.toDouble
    ScoreKernel(c => perTerm(terms) { i =>
      val tf = dbl(c(s"${i}_tf"), 0.0)
      val ctfT = dbl(c(s"${i}_ctf"), 1.0)
      Log(Literal(1.0) +
        (Literal(1.0 - lambda) * tf / c("dlen").cast(DoubleType)) /
          (Literal(lambda) * (ctfT / sumDlD)))
    }, dropZero = true)
  }

  /** Indri-style Dirichlet (indri_dirichlet.hpp): per term
    * log((tf + μ·p_c(t)) / (dlen + μ)). Every query term contributes its
    * smoothed probability even at tf = 0, so it reads the term's global
    * `gi_ctf`, not the per-doc one. */
  def indriDirichlet(idx: InvertedIndex, terms: Seq[String], mu: Double): ScoreKernel = {
    require(mu >= 0.0 && !mu.isInfinite && !mu.isNaN,
      "indri_dirichlet: mu must be a non-negative finite value")
    val sumDlD = idx.sumDl.toDouble
    ScoreKernel(c => perTerm(terms) { i =>
      val tf = dbl(c(s"${i}_tf"), 0.0)
      val ctfT = dbl(c(s"g${i}_ctf"), 1.0)
      Log((tf + Literal(mu) * (ctfT / sumDlD)) / (c("dlen").cast(DoubleType) + mu))
    }, dropZero = false)
  }

  /** DFI — Divergence From Independence (dfi.hpp:30-49): expected
    * e = dl · (ctf + 1)/(sumDl + 1); a term scores log2(measure(tf, e) + 1)
    * when tf > e, else 0, with the three independence measures
    * (`standardized` default, `saturated`, `chi_squared`). */
  def dfi(idx: InvertedIndex, terms: Seq[String], measure: String): ScoreKernel = {
    val sumDlD = idx.sumDl.toDouble
    ScoreKernel(c => perTerm(terms) { i =>
      val tf = dbl(c(s"${i}_tf"), 0.0)
      val ctfT = dbl(c(s"${i}_ctf"), 0.0)
      val e = c("dlen").cast(DoubleType) * ((ctfT + 1.0) / (sumDlD + 1.0))
      val m = measure match {
        case "standardized" => (tf - e) / Sqrt(e)
        case "saturated" => (tf - e) / e
        case "chi_squared" => (tf - e) * (tf - e) / e
        case other => throw new IllegalArgumentException(s"dfi: invalid measure $other")
      }
      CaseWhen(Seq((tf > e, Log2(m + 1.0))), Some(Literal(0.0)))
    }, dropZero = true)
  }

  /** raw_tf (search.cpp:142-173): Σ tf over the query terms. */
  def rawTf(terms: Seq[String]): ScoreKernel =
    ScoreKernel(c => perTerm(terms)(i => dbl(c(s"${i}_tf"), 0.0)), dropZero = false)

  /** raw_dl: the doc length. */
  val rawDl: ScoreKernel = ScoreKernel(c => c("dlen").cast(DoubleType), dropZero = false)

  /** raw_boost (raw_boost.hpp): a constant score per matched doc. */
  def rawBoost(boost: Double): ScoreKernel =
    ScoreKernel(_ => Literal(boost), dropZero = false)

  /** The kernel over a [[TermBagScan.expansionLeaf]] row — the reference's
    * scored MultiTermQuery (multiterm_query.cpp:157-200): each `terms`
    * entry contributes `w` × the term's scorer contribution, and a doc
    * scores merge(contributions). The merge is Max for fuzzy
    * (levenshtein_filter.cpp:163-165), whose `w` is the similarity boost,
    * and Sum for prefix, range, wildcard and regexp (prefix_filter.cpp:77,
    * range_filter.cpp:121, automaton_utils.cpp:227-228).
    *
    * The Sum adds the `(term, contribution)` pairs in sorted order starting
    * from 0, so the double additions run in term byte order and a score is
    * reproducible bit for bit. The Max merge keeps docs at score 0: a
    * fuzzy boost can be exactly 0 (distance == the shorter code-point
    * length) and the reference keeps such matches; on the Sum paths a
    * match implies a positive contribution, so non-positive scores drop.
    *
    * bm25 and tfidf (tfidf.cpp:89-95 folds the same per-term boost), the two
    * the reference's index corpus pins with exact goldens, are supported;
    * every other scorer raises. */
  def expansion(idx: InvertedIndex, scorer: String, params: Seq[Any],
      mergeMax: Boolean): ScoreKernel = {
    def field(x: Expression, i: Int) =
      GetStructField(x, i, Some(TermBagScan.entryType(i).name))
    def tf(x: Expression) = field(x, 1).cast(DoubleType)
    def df(x: Expression) = field(x, 2).cast(DoubleType)
    // the contribution of entry `x` in a doc of length `dlen`
    val contrib: (Expression, Expression) => Expression = scorer match {
      case "bm25" =>
        val term = bm25Term(idx, num(scorer, params, 0, 1.2), num(scorer, params, 1, 0.75)) _
        (x, dlen) => term(tf(x), df(x), dlen) * field(x, 3)
      case "tfidf" =>
        val term = tfidfTerm(idx, withNorms(params)) _
        (x, dlen) => term(tf(x), df(x), dlen, Some(field(x, 3)))
      case other => throw new IllegalArgumentException(
        s"scorer $other does not support multi-term expansion scoring")
    }
    ScoreKernel(c => {
      val x = NamedLambdaVariable("x", TermBagScan.entryType, nullable = false)
      if (mergeMax)
        ArrayMax(ArrayTransform(c("terms"), LambdaFunction(contrib(x, c("dlen")), Seq(x))))
      else {
        val pair = CreateNamedStruct(Seq(Literal("term"), field(x, 0),
          Literal("c"), contrib(x, c("dlen"))))
        val pairs = SortArray(ArrayTransform(c("terms"), LambdaFunction(pair, Seq(x))),
          Literal(true))
        val acc = NamedLambdaVariable("acc", DoubleType, nullable = true)
        val y = NamedLambdaVariable("y", pairs.dataType.asInstanceOf[ArrayType].elementType,
          nullable = false)
        val out = NamedLambdaVariable("out", DoubleType, nullable = true)
        ArrayAggregate(pairs, Literal(0.0),
          LambdaFunction(acc + GetStructField(y, 1, Some("c")), Seq(acc, y)),
          LambdaFunction(out, Seq(out)))
      }
    }, dropZero = !mergeMax)
  }
}
