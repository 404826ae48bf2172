package graft.search

import java.util.regex.Pattern
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Coalesce, EqualTo, Expression, Literal, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.analysis.Analyzer
import graft.functions.TsDistances
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

/** The per-term predicate of each expansion leaf (`Prefix`, `Wildcard`,
  * `Regexp`, `TermRange`, `Fuzzy`, `NgramSim` and a `PhrasePrefix`'s last
  * slot), shared by row evaluation ([[TsQueryExec.evalTokens]]) and the
  * text-match leaf's dictionary expansion ([[MatchScan]]), so both give one
  * answer. The semantics are Spark's: LIKE through
  * `StringUtils.escapeLikeRegex` (`\` escapes the next `%`, `_` or `\`),
  * `rlike`'s unanchored find, ranges in `UTF8String` byte order, and code
  * points for n-grams and lengths. */
object TermPredicates {

  def apply(q: TsQuery): UTF8String => Boolean = q match {
    case TsQuery.Prefix(p) => startsWith(p)
    case TsQuery.PhrasePrefix(_, p) => startsWith(p)
    case TsQuery.Wildcard(p) =>
      val re = Pattern.compile(StringUtils.escapeLikeRegex(p, '\\'))
      t => re.matcher(t.toString).matches()
    case TsQuery.Regexp(r) =>
      val re = Pattern.compile(r)
      t => re.matcher(t.toString).find(0)
    case TsQuery.TermRange(lo, hi, loInc, hiInc) =>
      val (l, h) = (lo.map(UTF8String.fromString), hi.map(UTF8String.fromString))
      t => l.forall { v => val c = t.binaryCompare(v); c > 0 || (loInc && c == 0) } &&
        h.forall { v => val c = t.binaryCompare(v); c < 0 || (hiInc && c == 0) }
    case f: TsQuery.Fuzzy => fuzzyDistance(f, _) >= 0
    case TsQuery.NgramSim(s, j, n) =>
      val qg = grams(s, n)
      t => {
        val tg = grams(t.toString, n)
        val union = (tg ++ qg).size
        union > 0 && (tg & qg).size.toDouble / union >= j
      }
    case other => throw new IllegalArgumentException(s"not an expansion leaf: $other")
  }

  private def startsWith(p: String): UTF8String => Boolean = {
    val u = UTF8String.fromString(p)
    _.startsWith(u)
  }

  /** The distinct `n`-code-point grams of `s` (none when it is shorter). */
  private def grams(s: String, n: Int): Set[String] = {
    val cps = s.codePoints.toArray
    (0 to cps.length - n).map(i => new String(cps, i, n)).toSet
  }

  /** The edit distance from the fuzzy leaf's target to `term` past the
    * leaf's exact prefix, or -1 when `term` lacks the prefix or lies more
    * than `maxDist` away: OSA with transpositions (the reference default,
    * ts_common.hpp:242), Spark's `levenshtein` without. */
  def fuzzyDistance(f: TsQuery.Fuzzy, term: UTF8String): Int = {
    val (prefix, target) = (UTF8String.fromString(f.prefix), UTF8String.fromString(f.t))
    if (!term.startsWith(prefix)) return -1
    val rest = term.substring(prefix.numChars, term.numChars)
    if (math.abs(rest.numChars - target.numChars) > f.maxDist) -1
    else if (f.transpositions) TsDistances.osa(rest, target, f.maxDist)
    else rest.levenshteinDistance(target, f.maxDist)
  }

  /** The reference's similarity boost 1 − d / min(|rest|, |target|)
    * (levenshtein_filter.cpp:49-54) of a term within the fuzzy leaf's
    * distance — the rank of the `spark.graft.levenshteinMaxTerms` cap. */
  def fuzzySimilarity(f: TsQuery.Fuzzy, term: UTF8String): Double = {
    val rest = term.numChars - UTF8String.fromString(f.prefix).numChars
    val target = f.t.codePointCount(0, f.t.length)
    1.0 - fuzzyDistance(f, term).toDouble / math.max(math.min(rest, target), 1).toDouble
  }
}

/** Compiles a [[TsQuery]] to doc_id sets and scores over an
  * [[InvertedIndex]] — the Spark analogue of the reference's filter-tree
  * build (search_filter_builder.cpp: irs::Or/And/Not at :505-531,
  * :1135-1151).
  *
  * Every match is one leaf, [[MatchScan]]: a single task walks the tree
  * over the snapshot's postings, with no shuffle. Expansion leaves
  * (`Prefix`, `Wildcard`, `Regexp`, `TermRange`, `Fuzzy`, `NgramSim`,
  * `PhrasePrefix`) expand the term dictionary inside that task with
  * [[TermPredicates]], the predicates [[evalTokens]] applies to a row's
  * tokens. Every score ([[scoredPlan]]) is plan nodes over that leaf and
  * the scoring leaf [[graft.index.TermBagScan]], whose task expands the
  * scored multi-term leaves the same way.
  *
  * Negation scoping matches the reference: NOT inside a conjunction removes
  * docs from the positive base (never materializing a complement); a
  * top-level NOT runs against the doc universe.
  */
object TsQueryExec {

  def matching(idx: InvertedIndex, q: TsQuery): DataFrame = MatchScan.frame(idx, q)

  /** BM25 over a structured query, `(doc_id, _score)`: [[scoredPlan]] as
    * a frame. */
  def scoredBm25(idx: InvertedIndex, q: TsQuery): DataFrame =
    Frames.ofRows(idx.postings.sparkSession, scoredPlan(idx, "bm25", q))

  /** A scorer over a STRUCTURED query with boost folding — the reference's
    * `BM25(...) WHERE body @@ (q ^ w)` surface (boost_score.test: "boost
    * must scale the BM25 contribution of every query shape"), which walks
    * the same filter tree for every registered scorer (TfIdfScore carries
    * boost identically, tfidf.cpp:89-95). The plan `(doc_id, _score)` is
    * made of plan nodes over the two index leaves, so a claim rule splices
    * it into a query as is:
    *  - Term: the term-bag leaf's score ([[InvertedIndex.scoredTermsPlan]]);
    *  - positional leaves (Phrase/SlopPhrase/PhraseGap): the [[MatchScan]]
    *    leaf inner-joined to the term-bag score of the distinct terms (the
    *    PhraseQuery shape);
    *  - multi-term leaves (Prefix/Wildcard/Regexp/TermRange/Fuzzy): the
    *    expansion leaf ([[InvertedIndex.scoredExpansionPlan]]), SUM of the
    *    matched dictionary terms' contributions per doc (MultiTermQuery
    *    Sum merge, automaton_utils.cpp:227-228, prefix_filter.cpp:77), MAX
    *    of similarity × contribution for Fuzzy
    *    (levenshtein_filter.cpp:49-54,163-165); only bm25 and tfidf score
    *    them, other scorers raise;
    *  - NgramSim/GramSim/PhrasePrefix and any other node: the [[MatchScan]]
    *    leaf with a constant score of 1.0 per matching doc — boost still
    *    scales it;
    *  - OR: a full-outer join, scores coalesce-summed; AND: an inner join,
    *    scores summed, and a left-anti join to a [[MatchScan]] leaf per NOT;
    *  - Boost(q, w): a projection, w × subtree score. */
  def scoredPlan(idx: InvertedIndex, scorer: String, q: TsQuery,
      params: Seq[Any] = Nil): LogicalPlan = {
    def scored(q: TsQuery): LogicalPlan = scoredPlan(idx, scorer, q, params)
    def project(plan: LogicalPlan)(doc: NamedExpression, score: Expression): LogicalPlan =
      Project(Seq(doc, Alias(score, "_score")()), plan)
    q match {
      case TsQuery.Boost(inner, w) =>
        val p = scored(inner)
        project(p)(p.output.head, Multiply(p.output(1), Literal(w)))
      case TsQuery.Term(t) => idx.scoredTermsPlan(scorer, Seq(t), params)
      case TsQuery.Phrase(ts) => phrase(idx, scorer, q, ts, params)
      case TsQuery.SlopPhrase(ts, _) => phrase(idx, scorer, q, ts, params)
      case TsQuery.PhraseGap(ts, _) => phrase(idx, scorer, q, ts, params)
      case TsQuery.Or(qs) if qs.nonEmpty =>
        qs.map(scored).reduce { (a, b) =>
          val j = join(a, b, FullOuter)
          val Seq(d1, s1, d2, s2) = j.output
          val zero = Literal(0.0)
          project(j)(Alias(Coalesce(Seq(d1, d2)), "doc_id")(),
            Add(Coalesce(Seq(s1, zero)), Coalesce(Seq(s2, zero))))
        }
      case TsQuery.And(qs) if qs.nonEmpty =>
        val (negs, poss) = qs.partition(_.isInstanceOf[TsQuery.Not])
        require(poss.nonEmpty, "scoredPlan: pure-negative conjunction has no score")
        val pos = poss.map(scored).reduce { (a, b) =>
          val j = join(a, b, Inner)
          val Seq(d1, s1, _, s2) = j.output
          project(j)(d1, Add(s1, s2))
        }
        negs.foldLeft(pos) { (acc, n) =>
          join(acc, MatchScan.leaf(idx, n.asInstanceOf[TsQuery.Not].q), LeftAnti)
        }
      case _: TsQuery.Prefix | _: TsQuery.Wildcard | _: TsQuery.Regexp |
          _: TsQuery.TermRange | _: TsQuery.Fuzzy =>
        idx.scoredExpansionPlan(scorer, q, params)
      case other =>
        val m = MatchScan.leaf(idx, other)
        project(m)(m.output.head, Literal(1.0))
    }
  }

  /** A positional leaf's score: its matched docs joined to the term-bag
    * score of its distinct terms. */
  private def phrase(idx: InvertedIndex, scorer: String, q: TsQuery, ts: Seq[String],
      params: Seq[Any]): LogicalPlan = {
    val j = join(MatchScan.leaf(idx, q), idx.scoredTermsPlan(scorer, ts.distinct, params), Inner)
    val Seq(matched, _, score) = j.output
    Project(Seq(matched, score), j)
  }

  /** `l` joined to `r` on their first (`doc_id`) columns. */
  private def join(l: LogicalPlan, r: LogicalPlan, kind: JoinType): Join =
    Join(l, r, kind, Some(EqualTo(l.output.head, r.output.head)), JoinHint.NONE)

  /** Row-level TSQUERY evaluation over an analyzed token stream — the
    * un-indexed fallback matcher (the reference's row-eval path for
    * residual/un-claimed predicates). Used by the SQL-visible `ts_match`
    * UDF and as the test oracle for the index path. */
  def evalTokens(q: TsQuery, toks: Seq[String]): Boolean = q match {
    case TsQuery.All => true
    case TsQuery.Term(t) => toks.contains(t)
    case e @ (_: TsQuery.Prefix | _: TsQuery.Wildcard | _: TsQuery.Regexp |
        _: TsQuery.TermRange | _: TsQuery.Fuzzy | _: TsQuery.NgramSim) =>
      val p = TermPredicates(e)
      toks.exists(t => p(UTF8String.fromString(t)))
    case TsQuery.GramSim(gs, r) =>
      // reference semantics (ngram_similarity_query.cpp): longest common
      // gram SEQUENCE vs MinMatchCount over the FULL query gram list
      // (duplicates included) — same kernel the indexed path uses
      gs.nonEmpty && TsDistances.lcsLen(gs.toIndexedSeq, toks) >=
        TsDistances.minMatchCount(gs.size, r)
    case TsQuery.Phrase(ps) => ps.size <= toks.size && toks.sliding(ps.size).contains(ps)
    case pp @ TsQuery.PhrasePrefix(init, _) =>
      val last = TermPredicates(pp)
      if (init.isEmpty) toks.exists(t => last(UTF8String.fromString(t)))
      else init.size < toks.size && toks.sliding(init.size + 1).exists(w =>
        w.init == init && last(UTF8String.fromString(w.last)))
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
    // an empty conjunction is every indexed doc (docs with ≥1 token;
    // zero-token docs cannot be represented in postings — deviation
    // documented in InvertedIndex.build)
    val base = matching(idx, TsQuery.And(must ++ mustNot.map(TsQuery.Not.apply)))
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
