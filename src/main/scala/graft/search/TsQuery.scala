package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.index.{InvertedIndex, MatchScan}

/** TSQUERY — the composable search-query value of the reference
  * (/root/reference/server/connector/functions/search.h:31,82-91: operators
  * `&&` AND, `||` OR, `!!` NOT, `^` boost, `##` phrase; value codec
  * ts_query_codec.cpp). Mirroring the reference, a TSQUERY never materializes
  * in rows — it is a plan-time value compiled into index operations
  * (FoldTSQueryConstants, ts_query.cpp:341).
  */
sealed trait TsQuery {
  def &&(o: TsQuery): TsQuery = TsQuery.And(Seq(this, o))
  def ||(o: TsQuery): TsQuery = TsQuery.Or(Seq(this, o))
  def unary_! : TsQuery = TsQuery.Not(this)
  def ^(w: Double): TsQuery = TsQuery.Boost(this, w)
}

object TsQuery {
  /** Matches every indexed doc (ES match_all). */
  case object All extends TsQuery
  final case class Term(t: String) extends TsQuery
  final case class Prefix(p: String) extends TsQuery
  /** SQL-LIKE pattern over terms (`%`/`_` wildcards) — the reference's
    * `ts_like` TSQUERY constructor (search.h:43; wildcard_filter.hpp). */
  final case class Wildcard(pattern: String) extends TsQuery
  /** Regex over terms, unanchored find semantics (Spark `rlike`) —
    * `ts_regexp` (automaton_filter.hpp). */
  final case class Regexp(re: String) extends TsQuery
  /** Matches docs with any token in the (optionally open) lexicographic
    * range — the ES `range` clause (dsl.cpp:257) over our token-centric
    * emulation, and the ts_between/ts_lt/ts_gt surface. */
  final case class TermRange(lo: Option[String], hi: Option[String],
      loInc: Boolean, hiInc: Boolean) extends TsQuery
  /** Edit-distance leaf — the reference's `ts_levenshtein` TSQUERY
    * constructor (search.h:46; levenshtein_filter.hpp;
    * ts_levenshtein.cpp:34-76). `transpositions` selects OSA/Damerau
    * (adjacent swap costs 1) and defaults TRUE like the reference
    * (ts_common.hpp:242); `prefix` must match exactly, with the distance
    * computed over the remainder. */
  final case class Fuzzy(t: String, maxDist: Int,
      transpositions: Boolean = true, prefix: String = "") extends TsQuery
  /** Char-n-gram Jaccard leaf — `ts_ngram` (search.h:44;
    * ngram_similarity_filter.hpp). */
  final case class NgramSim(q: String, minJaccard: Double, n: Int = 3) extends TsQuery
  /** `ts_ngram` bound to a GRAM-TOKENIZED dictionary (reference
    * ngram_match.test over a `template = 'ngram'` index): the doc's TOKENS
    * already ARE its grams, the query tokenizes with the same dictionary,
    * and a doc matches when the longest common gram SEQUENCE (in-order,
    * strictly increasing doc positions — exact LCS; the reference's
    * SerialPositionsChecker greedily approximates the same value) reaches
    * MinMatchCount(|grams|, minRatio), duplicates kept in the count
    * (ngram_similarity_filter.cpp:34, ngram_similarity_query.cpp). `grams`
    * is the analyzer's FULL ordered output. Never spelled in SQL —
    * [[TsQuery.bindDict]] lowers NgramSim to this where the dictionary is
    * known; an empty gram list matches nothing (QueryBuilder::Empty). */
  final case class GramSim(grams: Seq[String], minRatio: Double) extends TsQuery
  final case class Phrase(terms: Seq[String]) extends TsQuery
  /** Phrase whose LAST slot matches any term with the given prefix — the ES
    * `match_phrase_prefix` clause (type-ahead). `init` may be empty (a bare
    * prefix). Indexed matching merges the prefix-expanded postings into one
    * position set per doc, so no driver-side expansion cap is needed. */
  final case class PhrasePrefix(init: Seq[String], prefix: String) extends TsQuery
  /** Positional phrase with per-gap [min,max] distance bounds — `<N>` in
    * tsquery syntax, `##` in the reference's operator surface. */
  final case class PhraseGap(terms: Seq[String], gaps: Seq[(Int, Int)]) extends TsQuery
  /** Move-budget sloppy phrase (Lucene slop; the reference's
    * `ts_phrase(..., slop := N)` / `"..."~N`, sloppy_phrase.test): matches
    * when the terms align with total displacement Σ|pᵢ₊₁ − pᵢ − 1| ≤ slop —
    * one inserted word costs 1, a transposed adjacent pair costs 2. The
    * budget is SHARED across gaps and order inversions are admitted, which
    * per-gap [[PhraseGap]] ranges cannot express. */
  final case class SlopPhrase(terms: Seq[String], slop: Int) extends TsQuery
  final case class And(qs: Seq[TsQuery]) extends TsQuery
  final case class Or(qs: Seq[TsQuery]) extends TsQuery
  final case class Not(q: TsQuery) extends TsQuery
  /** Scoring-only annotation; match semantics are the child's. */
  final case class Boost(q: TsQuery, weight: Double) extends TsQuery

  /** Dictionary-aware lowering, applied wherever the query meets its
    * dictionary (the ts_match row-eval UDFs and the claim rules): against a
    * gram TOKENIZER (`template = 'ngram'` / `'edgengram'`, possibly as the
    * last stage of a pipeline) an NgramSim leaf becomes [[GramSim]] over
    * the query's OWN grams under that dictionary — per-token char-gram
    * Jaccard would compare grams of grams and never match. Every other
    * dictionary leaves the tree untouched. */
  def bindDict(q: TsQuery, analyzer: graft.analysis.Analyzer): TsQuery = {
    def isGram(a: graft.analysis.Analyzer): Boolean = a match {
      case _: graft.analysis.NGramAnalyzer => true
      case _: graft.analysis.EdgeNGramAnalyzer => true
      case p: graft.analysis.PipelineAnalyzer => p.stages.lastOption.exists(isGram)
      case _ => false
    }
    if (!isGram(analyzer)) return q
    def walk(t: TsQuery): TsQuery = t match {
      // full ordered token sequence, duplicates kept: MinMatchCount and the
      // LCS both run over the sequence the analyzer actually produced
      // (ngram_similarity_filter.cpp:44 terms_count = ngrams.size())
      case NgramSim(s, j, _) => GramSim(analyzer.tokens(s), j)
      case And(qs) => And(qs.map(walk))
      case Or(qs) => Or(qs.map(walk))
      case Not(inner) => Not(walk(inner))
      case Boost(inner, w) => Boost(walk(inner), w)
      case other => other
    }
    walk(q)
  }
}

/** Compiles a [[TsQuery]] to doc_id sets over an [[InvertedIndex]] — the
  * Spark analogue of the reference's filter-tree build
  * (search_filter_builder.cpp: irs::Or/And/Not at :505-531,:1135-1151).
  *
  * An exact-term tree (terms, phrases, `And`/`Or`/`Not`/`Boost`/`All` over
  * them) is one leaf, [[MatchScan]]: a single task walks the tree over the
  * snapshot's postings, with no shuffle. Only a tree holding an expansion
  * leaf (`Prefix`, `Wildcard`, `Regexp`, `TermRange`, `Fuzzy`, `NgramSim`,
  * `GramSim`, `PhrasePrefix`) composes DataFrames: each expansion leaf is
  * a term-dictionary join, each exact-term subtree a leaf, and the nodes
  * joining them unions and semi/anti joins.
  *
  * Negation scoping matches the reference: NOT inside a conjunction becomes
  * an anti-join against the positive base (never materializing a complement);
  * a top-level NOT runs against the doc universe.
  */
object TsQueryExec {

  def matching(idx: InvertedIndex, q: TsQuery): DataFrame =
    if (MatchScan.exact(q)) MatchScan.frame(idx, q)
    else q match {
      case TsQuery.Prefix(p) => idx.prefix(p)
      case TsQuery.Wildcard(p) => idx.wildcard(p)
      case TsQuery.Regexp(r) => idx.regexp(r)
      case TsQuery.TermRange(lo, hi, loInc, hiInc) => idx.range(lo, hi, loInc, hiInc)
      case TsQuery.Fuzzy(t, d, tr, p) => idx.fuzzy(t, d, transpositions = tr, prefix = p)
      case TsQuery.NgramSim(q, j, n) => idx.ngramSimilarity(q, j, n)
      case TsQuery.GramSim(gs, r) => idx.gramSimilarity(gs, r)
      case TsQuery.PhrasePrefix(init, p) => idx.phrasePrefix(init, p)
      case TsQuery.Boost(inner, _) => matching(idx, inner)
      case TsQuery.Or(qs) =>
        qs.map(matching(idx, _)).reduce(_ unionByName _).distinct()
      case TsQuery.And(qs) =>
        val (negs, poss) = qs.partition(_.isInstanceOf[TsQuery.Not])
        val base =
          if (poss.nonEmpty)
            poss.map(matching(idx, _))
              .reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
          else universe(idx)
        negs.foldLeft(base) { (acc, n) =>
          acc.join(matching(idx, n.asInstanceOf[TsQuery.Not].q),
            Seq("doc_id"), "left_anti")
        }
      case TsQuery.Not(inner) =>
        universe(idx).join(matching(idx, inner), Seq("doc_id"), "left_anti")
      case other => throw new IllegalStateException(s"unhandled query node: $other")
    }

  /** BM25 over a STRUCTURED query with boost folding — the reference's
    * `BM25(...) WHERE body @@ (q ^ w)` surface (boost_score.test: "boost
    * must scale the BM25 contribution of every query shape"). Semantics:
    *  - Term: its bm25 contribution;
    *  - positional leaves (Phrase/SlopPhrase/PhraseGap): the sum of their
    *    terms' bm25 contributions over the leaf's MATCHING docs (the
    *    PhraseQuery shape);
    *  - multi-term leaves (Prefix/Wildcard/Regexp/TermRange): SUM of the
    *    matched dictionary terms' bm25 contributions per doc
    *    (MultiTermQuery Sum merge, automaton_utils.cpp:227-228,
    *    prefix_filter.cpp:77);
    *  - Fuzzy: MAX over matched terms of similarity × bm25 contribution
    *    (levenshtein_filter.cpp:49-54,163-165);
    *  - NgramSim/PhrasePrefix: constant score 1.0 per matching doc — boost
    *    still scales it;
    *  - OR: full-outer sum; AND: inner sum with NOTs as anti-joins;
    *  - Boost(q, w): w × subtree score.
    * Returns (doc_id, _score); every operator stays a doc_id-keyed
    * join/agg over bucket-pruned postings — no corpus scan. */
  def scoredBm25(idx: InvertedIndex, q: TsQuery): DataFrame =
    scoredScorer(idx, "bm25", q)

  /** [[scoredBm25]] generalized by scorer — the reference folds boost and
    * walks the same filter tree for every registered scorer (TfIdfScore
    * carries boost identically, tfidf.cpp:89-95). Multi-term leaves need a
    * per-scorer expansion kernel ([[InvertedIndex.scoreOverTerms]]: bm25 +
    * tfidf); term/phrase legs dispatch through
    * [[InvertedIndex.scoredTerms]]. */
  def scoredScorer(idx: InvertedIndex, scorer: String, q: TsQuery,
      params: Seq[Any] = Nil): DataFrame = q match {
    case TsQuery.Boost(inner, w) =>
      scoredScorer(idx, scorer, inner, params)
        .select(col("doc_id"), (col("_score") * w).as("_score"))
    case TsQuery.Term(t) => idx.scoredTerms(scorer, Seq(t), params)
    case p @ TsQuery.Phrase(ts) =>
      matching(idx, p).join(idx.scoredTerms(scorer, ts.distinct, params), "doc_id")
        .select(col("doc_id"), col("_score"))
    case p @ TsQuery.SlopPhrase(ts, _) =>
      matching(idx, p).join(idx.scoredTerms(scorer, ts.distinct, params), "doc_id")
        .select(col("doc_id"), col("_score"))
    case p @ TsQuery.PhraseGap(ts, _) =>
      matching(idx, p).join(idx.scoredTerms(scorer, ts.distinct, params), "doc_id")
        .select(col("doc_id"), col("_score"))
    case TsQuery.Or(qs) if qs.nonEmpty =>
      qs.map(scoredScorer(idx, scorer, _, params)).reduce { (a, b) =>
        a.select(col("doc_id"), col("_score").as("s1"))
          .join(b.select(col("doc_id"), col("_score").as("s2")),
            Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))).as("_score"))
      }
    case TsQuery.And(qs) if qs.nonEmpty =>
      val (negs, poss) = qs.partition(_.isInstanceOf[TsQuery.Not])
      require(poss.nonEmpty, "scoredScorer: pure-negative conjunction has no score")
      val pos = poss.map(scoredScorer(idx, scorer, _, params)).reduce { (a, b) =>
        a.select(col("doc_id"), col("_score").as("s1"))
          .join(b.select(col("doc_id"), col("_score").as("s2")), Seq("doc_id"))
          .select(col("doc_id"), (col("s1") + col("s2")).as("_score"))
      }
      negs.foldLeft(pos) { (acc, n) =>
        acc.join(matching(idx, n.asInstanceOf[TsQuery.Not].q),
          Seq("doc_id"), "left_anti")
      }
    case TsQuery.Prefix(p) =>
      idx.scoreOverTerms(idx.prefixTerms(p), scorer, params = params)
    case TsQuery.Wildcard(p) =>
      idx.scoreOverTerms(idx.wildcardTerms(p), scorer, params = params)
    case TsQuery.Regexp(r) =>
      idx.scoreOverTerms(idx.regexpTerms(r), scorer, params = params)
    case TsQuery.TermRange(lo, hi, loInc, hiInc) =>
      idx.scoreOverTerms(idx.rangeTerms(lo, hi, loInc, hiInc), scorer,
        params = params)
    case TsQuery.Fuzzy(t, d, tr, p) =>
      idx.scoreOverTerms(
        idx.fuzzyTerms(t, d, transpositions = tr, prefix = p), scorer,
        mergeMax = true, params = params)
    case other =>
      matching(idx, other).select(col("doc_id"), lit(1.0).as("_score"))
  }

  /** All indexed docs (docs with ≥1 token; zero-token docs cannot be
    * represented in postings and are excluded from NOT results — deviation
    * documented in InvertedIndex.build). */
  private def universe(idx: InvertedIndex): DataFrame = MatchScan.frame(idx, TsQuery.All)

  /** Plain two-row DP edit distance for the row-eval Fuzzy leaf (the
    * indexed path uses Spark's thresholded `levenshtein` over the term
    * dictionary instead). */
  private def levenshtein(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var curr = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      curr(0) = i
      var j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
        curr(j) = math.min(math.min(prev(j) + 1, curr(j - 1) + 1), sub)
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(b.length)
  }

  /** Row-level TSQUERY evaluation over an analyzed token stream — the
    * un-indexed fallback matcher (the reference's row-eval path for
    * residual/un-claimed predicates). Used by the SQL-visible `ts_match`
    * UDF and as the test oracle for the index path. */
  def evalTokens(q: TsQuery, toks: Seq[String]): Boolean = q match {
    case TsQuery.All => true
    case TsQuery.Term(t) => toks.contains(t)
    case TsQuery.Prefix(p) => toks.exists(_.startsWith(p))
    case TsQuery.Wildcard(p) =>
      // LIKE → anchored regex: % → .*, _ → ., and a backslash escapes the
      // NEXT char to a literal (`\_` matches an underscore — the same
      // escape Spark's like() applies on the index path; term_ops.test)
      val re = new StringBuilder
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        if (c == '\\' && i + 1 < p.length) {
          re ++= java.util.regex.Pattern.quote(p.charAt(i + 1).toString)
          i += 2
        } else {
          c match {
            case '%' => re ++= ".*"
            case '_' => re += '.'
            case x if "\\.[]{}()*+-?^$|".contains(x) => re += '\\'; re += x
            case x => re += x
          }
          i += 1
        }
      }
      val cp = java.util.regex.Pattern.compile("^" + re.result() + "$")
      toks.exists(t => cp.matcher(t).matches())
    case TsQuery.Regexp(r) =>
      // unanchored find — mirrors the dict-side `rlike`
      val cp = java.util.regex.Pattern.compile(r)
      toks.exists(t => cp.matcher(t).find())
    case TsQuery.TermRange(lo, hi, loInc, hiInc) => toks.exists { t =>
      lo.forall(v => if (loInc) t >= v else t > v) &&
        hi.forall(v => if (hiInc) t <= v else t < v)
    }
    case TsQuery.Fuzzy(t, d, tr, p) =>
      toks.exists { tok0 =>
        (p.isEmpty || tok0.startsWith(p)) && {
          val tok = if (p.isEmpty) tok0 else tok0.substring(p.length)
          math.abs(tok.length - t.length) <= d &&
            (if (tr) graft.functions.TsDistances.osaStr(tok, t, d) >= 0
             else levenshtein(tok, t) <= d)
        }
      }
    case TsQuery.NgramSim(q, j, n) =>
      // same gram/jaccard arithmetic as InvertedIndex.ngramSimilarity's
      // codegen'd dict-side expression (distinct grams on both sides;
      // terms shorter than n have no grams)
      val qg = (0 to q.length - n).map(i => q.substring(i, i + n)).distinct.toSet
      toks.exists { tok =>
        val tg = (0 to tok.length - n).map(i => tok.substring(i, i + n)).distinct.toSet
        val u = (tg ++ qg).size
        u > 0 && (tg & qg).size.toDouble / u >= j
      }
    case TsQuery.GramSim(gs, r) =>
      // reference semantics (ngram_similarity_query.cpp): longest common
      // gram SEQUENCE vs MinMatchCount over the FULL query gram list
      // (duplicates included) — same kernel the indexed path uses
      gs.nonEmpty && graft.functions.TsDistances.lcsLen(gs.toIndexedSeq, toks) >=
        graft.functions.TsDistances.minMatchCount(gs.size, r)
    case TsQuery.Phrase(ps) => ps.size <= toks.size && toks.sliding(ps.size).contains(ps)
    case TsQuery.PhrasePrefix(init, p) =>
      if (init.isEmpty) toks.exists(_.startsWith(p))
      else init.size < toks.size && toks.sliding(init.size + 1).exists(w =>
        w.init == init && w.last.startsWith(p))
    case TsQuery.PhraseGap(ts, gaps) =>
      val positions = ts.map(t => toks.zipWithIndex.collect { case (x, i) if x == t => i })
      gaps.zip(positions.drop(1)).foldLeft(positions.head) { case (chain, ((lo, hi), next)) =>
        next.filter(p => chain.exists(c => p >= c + lo && p <= c + hi))
      }.nonEmpty
    case TsQuery.SlopPhrase(ts, slop) =>
      // DP over (position of term i, min budget used) — same recurrence as
      // MatchScan's chain of (position, budget) pairs
      val positions = ts.map(t => toks.zipWithIndex.collect { case (x, i) if x == t => i })
      positions.drop(1).foldLeft(positions.head.map(p => (p, 0))) { (chain, next) =>
        next.flatMap { pp =>
          val costs = chain.collect {
            case (p, c) if p != pp => c + math.abs(pp - p - 1) }
          if (costs.isEmpty) None else Some((pp, costs.min))
        }.filter(_._2 <= slop)
      }.nonEmpty
    case TsQuery.And(qs) => qs.forall(evalTokens(_, toks))
    case TsQuery.Or(qs) => qs.exists(evalTokens(_, toks))
    case TsQuery.Not(inner) => !evalTokens(inner, toks)
    case TsQuery.Boost(inner, _) => evalTokens(inner, toks)
  }

  /** ts_compound — the reference's bool query
    * (/root/reference/server/connector/functions/ts_compound.cpp;
    * search.h:52-55): every `must` matches, no `mustNot` matches, and at
    * least `minShouldMatch` of `should` match (counted per distinct branch,
    * the ES bool/minimum_should_match semantics, dsl.cpp:326-349). */
  def compound(idx: InvertedIndex,
      must: Seq[TsQuery], mustNot: Seq[TsQuery],
      should: Seq[TsQuery], minShouldMatch: Int): DataFrame = {
    val posNeg = must ++ mustNot.map(TsQuery.Not.apply)
    val base =
      if (posNeg.isEmpty) universe(idx)
      else matching(idx, TsQuery.And(posNeg))
    val withShould =
      if (should.isEmpty || minShouldMatch <= 0) base
      else {
        val counted = should.zipWithIndex
          .map { case (q, i) =>
            matching(idx, q).select(col("doc_id")).distinct()
              .withColumn("branch", lit(i))
          }
          .reduce(_ unionByName _)
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("branch")).as("n_should"))
          .filter(col("n_should") >= minShouldMatch)
          .select(col("doc_id"))
        base.join(counted, Seq("doc_id"), "left_semi")
      }
    withShould
  }
}

/** Query-syntax parsers producing [[TsQuery]] — the reference's
  * to_tsquery family (/root/reference/server/connector/functions/ts_query.cpp
  * 993 LoC; ts_to_tsquery.cpp). Words and quoted phrases are run through the
  * index analyzer so query terms normalize exactly like indexed terms. */
object TsQueryParser {

  /** plainto_tsquery: analyze everything, AND the tokens. */
  def plainto(text: String, analyzer: Analyzer): TsQuery =
    TsQuery.And(analyzer.tokens(text).map(TsQuery.Term.apply))

  /** phraseto_tsquery: analyze everything, one positional phrase. */
  def phraseto(text: String, analyzer: Analyzer): TsQuery =
    TsQuery.Phrase(analyzer.tokens(text))

  private sealed trait Item
  private case object OrOp extends Item
  private final case class Leaf(text: String, phrase: Boolean, neg: Boolean) extends Item

  /** websearch_to_tsquery: space = AND, `"..."` = phrase, `OR`, `-item` = NOT.
    * OR binds tighter than the implicit AND, pg-style:
    * `a b OR c` → a && (b || c). */
  def websearch(query: String, analyzer: Analyzer): TsQuery = {
    val items = lex(query)
    val conjuncts = scala.collection.mutable.ListBuffer.empty[TsQuery]
    var orPending = false
    items.foreach {
      case OrOp => orPending = conjuncts.nonEmpty
      case Leaf(text, phrase, neg) =>
        val toks = analyzer.tokens(text)
        if (toks.nonEmpty) {
          val pos: TsQuery =
            if (phrase && toks.size > 1) TsQuery.Phrase(toks)
            else if (toks.size > 1) TsQuery.And(toks.map(TsQuery.Term.apply))
            else TsQuery.Term(toks.head)
          val q = if (neg) TsQuery.Not(pos) else pos
          if (orPending) conjuncts.update(conjuncts.size - 1,
            TsQuery.Or(Seq(conjuncts.last, q)))
          else conjuncts += q
        }
        orPending = false
    }
    if (conjuncts.isEmpty) TsQuery.Or(Seq.empty) else TsQuery.And(conjuncts.toSeq)
  }

  /** to_tsquery: the full boolean syntax — `&` AND, `|` OR, `!` NOT,
    * parentheses, `<->` adjacency, `<N>` exact distance, `term:*` prefix
    * (ts_query.cpp:1-993). Precedence: ! > <-> > & > |. */
  def toTsquery(query: String, analyzer: Analyzer): TsQuery = {
    val toks = lexTsquery(query)
    var pos = 0
    def peek: Option[String] = if (pos < toks.size) Some(toks(pos)) else None
    def take(): String = { val t = toks(pos); pos += 1; t }

    def parseOr(): TsQuery = {
      var l = parseAnd()
      while (peek.contains("|")) { take(); l = TsQuery.Or(Seq(l, parseAnd())) }
      l
    }
    def parseAnd(): TsQuery = {
      var l = parsePhrase()
      while (peek.contains("&")) { take(); l = TsQuery.And(Seq(l, parsePhrase())) }
      l
    }
    def parsePhrase(): TsQuery = {
      var l = parseNot()
      val dist = "<(\\d+|-)>".r
      while (peek.exists(dist.matches)) {
        val d = take() match { case s if s == "<->" => 1; case s => s.drop(1).dropRight(1).toInt }
        val r = parseNot()
        (l, r) match {
          case (TsQuery.Term(a), TsQuery.Term(b)) if d == 1 =>
            l = TsQuery.Phrase(Seq(a, b))
          case (TsQuery.Phrase(as), TsQuery.Term(b)) if d == 1 =>
            l = TsQuery.Phrase(as :+ b)
          case (TsQuery.Phrase(as), TsQuery.Term(b)) =>
            l = TsQuery.PhraseGap(as :+ b, as.drop(1).map(_ => (1, 1)) ++ Seq((d, d)))
          case (TsQuery.PhraseGap(as, gs), TsQuery.Term(b)) =>
            l = TsQuery.PhraseGap(as :+ b, gs :+ ((d, d)))
          case (TsQuery.Term(a), TsQuery.Term(b)) =>
            l = TsQuery.PhraseGap(Seq(a, b), Seq((d, d)))
          case _ =>
            throw new IllegalArgumentException("tsquery: <N> needs plain terms")
        }
      }
      l
    }
    def parseNot(): TsQuery = peek match {
      case Some("!") => take(); TsQuery.Not(parseNot())
      case Some("(") =>
        take()
        val inner = parseOr()
        require(peek.contains(")"), "tsquery: missing )")
        take()
        inner
      case Some(_) =>
        val w = take()
        val quoted = """^"(.*)"(?:~(\d+))?$""".r
        w match {
          case quoted(body, slopStr) =>
            val ts = analyzer.tokens(body)
            val slop = Option(slopStr).map(_.toInt).getOrElse(0)
            if (ts.isEmpty) TsQuery.Or(Seq.empty)
            else if (ts.size == 1) TsQuery.Term(ts.head)
            else if (slop == 0) TsQuery.Phrase(ts)
            else TsQuery.SlopPhrase(ts, slop)
          case _ if w.endsWith(":*") =>
            TsQuery.Prefix(analyzer.tokens(w.dropRight(2))
              .headOption.getOrElse(w.dropRight(2)))
          case _ =>
            val ts = analyzer.tokens(w)
            if (ts.isEmpty) TsQuery.Or(Seq.empty)
            else if (ts.size == 1) TsQuery.Term(ts.head)
            else TsQuery.Phrase(ts)
        }
      case None => throw new IllegalArgumentException("tsquery: unexpected end")
    }
    val out = parseOr()
    require(pos == toks.size, s"tsquery: trailing input at $pos: ${toks.drop(pos)}")
    out
  }

  private def lexTsquery(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if ("&|!()".contains(c)) { out += c.toString; i += 1 }
      else if (c == '<') {
        val end = s.indexOf('>', i)
        require(end > i, s"tsquery: bad distance operator at $i")
        out += s.substring(i, end + 1)
        i = end + 1
      } else if (c == '\'') {
        val end = s.indexOf('\'', i + 1)
        val stop = if (end < 0) s.length else end
        out += s.substring(i + 1, stop)
        i = stop + 1
      } else if (c == '"') {
        // Lucene-style quoted phrase, optional `~N` slop suffix
        // (reference to_tsquery('"quick fox"~1'), sloppy_phrase.test) —
        // quotes retained so parseNot can tell it from a bare word
        val end = s.indexOf('"', i + 1)
        require(end > i, s"tsquery: unterminated quote at $i")
        var k = end + 1
        if (k < s.length && s.charAt(k) == '~') {
          k += 1
          while (k < s.length && s.charAt(k).isDigit) k += 1
        }
        out += s.substring(i, k)
        i = k
      } else {
        var k = i
        while (k < s.length && !s.charAt(k).isWhitespace && !"&|!()<".contains(s.charAt(k))) k += 1
        out += s.substring(i, k)
        i = k
      }
    }
    out.toSeq
  }

  private def lex(s: String): Seq[Item] = {
    val out = scala.collection.mutable.ListBuffer.empty[Item]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else {
        var neg = false
        var j = i
        if (s.charAt(j) == '-') { neg = true; j += 1 }
        if (j < s.length && s.charAt(j) == '"') {
          val end = s.indexOf('"', j + 1)
          val stop = if (end < 0) s.length else end
          out += Leaf(s.substring(j + 1, stop), phrase = true, neg = neg)
          i = stop + 1
        } else {
          var k = j
          while (k < s.length && !s.charAt(k).isWhitespace) k += 1
          val word = s.substring(j, k)
          if (!neg && word.equalsIgnoreCase("or")) out += OrOp
          else if (word.nonEmpty) out += Leaf(word, phrase = false, neg = neg)
          i = k
        }
      }
    }
    out.toSeq
  }
}
