package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, GreaterThan, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.analysis.AnalyzerRegistry
import graft.search.TsQuery

/** Distributed inverted index over a document DataFrame.
  *
  * Spark-native re-expression of the reference's IResearch index
  * (/root/reference/server/catalog/inverted_index.h;
  * /root/reference/libs/iresearch/include/iresearch/formats/): instead of
  * per-segment posting files, the index is three DataFrames, persisted as
  * parquet segments by [[IndexStore]]:
  *
  *   - postings:  (term, doc_id, tf, positions[, bucket])  — one row per
  *     (doc, term); on disk, directory-partitioned by `bucket = hash(term)`
  *     so single-term lookups prune to 1/64 of the files;
  *   - termDict:  (term, df, ctf[, bucket]) — document frequency + collection
  *     term frequency; powers ts_dict_* facets directly (SURVEY.md §2.4) and
  *     fuzzy/prefix/regex/range term expansion;
  *   - docStats:  (doc_id, dlen) + collection stats (numDocs, sumDl) —
  *     the BM25 length-normalization inputs
  *     (/root/reference/libs/iresearch/include/iresearch/search/bm25.hpp).
  *
  * Scale notes: postings are built with one explode + one groupBy shuffle,
  * both keyed on (doc, term) so map-side partial aggregation applies; the
  * only global state is the (tiny) term dictionary and two scalars. Two
  * single-task leaves drive the reads: every scorer reads [[TermBagScan]]
  * — a term bag ([[scoredTermsPlan]]) or one multi-term leaf, prefix, wildcard,
  * regexp, range or fuzzy ([[scoredExpansionPlan]]), whose task expands the
  * term dictionary — and every boolean match
  * ([[graft.search.TsQueryExec.matching]]: terms, phrases, the expansion
  * leaves prefix, wildcard, regexp, range, fuzzy, n-gram and
  * phrase-prefix, and their boolean trees) reads [[MatchScan]], which
  * expands the term dictionary the same way. A structured query scores as
  * plan nodes over the two ([[graft.search.TsQueryExec.scoredPlan]]). Only
  * [[anyOfPrefixes]] stays a term-dictionary frame joined to postings.
  * Each task reads the query terms' bucket-pruned postings —
  * the reference's postings walk into a collector (max_score_iterator.hpp,
  * top_k_heap.hpp): cost is O(Σ df(term)) postings rows, never a corpus
  * scan of postings, with no shuffle. An index loaded through
  * [[IndexStore]] carries its reader snapshot's `files`, which the leaves
  * read directly; an index built in memory has none and the leaves read
  * its frames.
  */
final case class InvertedIndex(
    postings: DataFrame,
    termDict: DataFrame,
    docStats: DataFrame,
    totals: InvertedIndex.Totals,
    files: Option[IndexFiles] = None) {

  /** Every doc of the collection, zero-token docs included. */
  def numDocs: Long = totals.numDocs

  /** Σ doc length over the collection. */
  def sumDl: Long = totals.sumDl

  /** Exact collection average doc length; derived so segment merges stay
    * lossless (sumDl adds, avgDl wouldn't). */
  def avgDl: Double = if (numDocs == 0) 0.0 else sumDl.toDouble / numDocs

  private val hasBucket = postings.columns.contains("bucket")
  private val dictHasBucket = termDict.columns.contains("bucket")

  /** Postings rows for one exact term, pruned to its hash bucket when the
    * index was loaded from bucket-partitioned parquet (1/64 of the files). */
  def postingsFor(t: String): DataFrame = {
    val base = if (hasBucket) postings.filter(col("bucket") === IndexStore.bucketOf(t))
               else postings
    base.filter(col("term") === t)
  }

  private[index] def postingsForAny(terms: Seq[String]): DataFrame = {
    val base = if (hasBucket)
      postings.filter(col("bucket").isin(terms.map(IndexStore.bucketOf).distinct: _*))
    else postings
    base.filter(col("term").isin(terms: _*))
  }

  /** Term-dictionary rows for exact terms, bucket-pruned like postings. */
  def termDictFor(terms: Seq[String]): DataFrame = {
    val base = if (dictHasBucket)
      termDict.filter(col("bucket").isin(terms.map(IndexStore.bucketOf).distinct: _*))
    else termDict
    base.filter(col("term").isin(terms: _*))
  }

  /** Doc ids containing `term`. */
  def term(t: String): DataFrame = postingsFor(t).select(col("doc_id"))

  /** Docs matching at least `minMatch` of `terms` (ts_any, search.h:94-98). */
  def anyOf(terms: Seq[String], minMatch: Int = 1): DataFrame =
    postingsForAny(terms)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_matched"))
      .filter(col("n_matched") >= minMatch)
      .select(col("doc_id"))

  /** Docs containing every term (ts_all). */
  def allOf(terms: Seq[String]): DataFrame = anyOf(terms.distinct, terms.distinct.size)

  /** The dictionary terms matching `pred`, as a `(term)` frame to join to
    * postings ([[anyOfPrefixes]], the ts_dict cartesian facet) — the
    * reference's automaton-over-term-dict filters (prefix_filter.hpp). The
    * scored and matched expansions run inside the leaves' tasks instead. */
  def expandTerms(pred: Column): DataFrame = termDict.filter(pred).select(col("term"))

  private def docsForTerms(terms: DataFrame): DataFrame =
    postings.join(broadcast(terms), "term").select(col("doc_id")).distinct()

  /** Docs whose term starts with ANY of `prefixes` — one term-dict scan,
    * then one bucket-pruned postings join. Drives mixed-precision geo cell
    * coverings (a coarse covering cell is a prefix of every finer cell
    * inside it), where N separate prefix matches would mean N dict scans
    * and an N-way union.
    *
    * Small prefix sets become an OR of pushable term ranges; large ones
    * (fine-boundary coverings run to hundreds of cells) use ONE pushable
    * global range plus per-length set membership — `isin` over >10 values
    * optimizes to an O(1) hash-set probe (InSet), where an equally long
    * OR-of-ranges chain would blow up codegen. */
  def anyOfPrefixes(prefixes: Seq[String]): DataFrame = {
    require(prefixes.nonEmpty, "anyOfPrefixes needs at least one prefix")
    // prefix-free reduction: drop any prefix that has an ancestor in the set
    // (the ancestor matches a superset, so the matched terms are unchanged).
    // The >16 path's single global upper bound is exact ONLY for prefix-free
    // sets (round-7 ADVICE: with both 'b' and 'ba' present, ps.max = 'ba'
    // would bound out terms like 'bz' that 'b' should match). In sorted
    // order an element's longest kept ancestor is always acc.last — any
    // kept element between an ancestor and its descendant would itself
    // start with that ancestor and have been dropped.
    val ps = prefixes.distinct.sorted
      .foldLeft(Vector.empty[String]) { (acc, p) =>
        if (acc.nonEmpty && p.startsWith(acc.last)) acc else acc :+ p
      }
    val pred =
      if (ps.size <= 16) ps.map(prefixPred).reduce(_ || _)
      else {
        val lo = ps.min
        val hiBase = ps.max
        val range =
          if (hiBase.last >= Char.MaxValue ||
              Character.isSurrogate((hiBase.last + 1).toChar))
            col("term") >= lo
          else col("term") >= lo && col("term") < hiBase.init + (hiBase.last + 1).toChar
        // a term shorter than a level's length substrings to a shorter
        // string, which is never in that level's set — exactness holds
        val member = ps.groupBy(_.length).toSeq.sortBy(_._1)
          .map { case (l, cells) => substring(col("term"), 1, l).isin(cells: _*) }
          .reduce(_ || _)
        range && member
      }
    docsForTerms(expandTerms(pred))
  }

  /** Prefix match rewritten as a term RANGE (`term >= p AND term < p⁺`, with
    * p⁺ = p with its last char incremented) — byte-order-equivalent to
    * startsWith but pushed to parquet as min/max range filters, so term-dict
    * row groups outside the prefix band never decompress (the reference walks
    * a term-dict range the same way, prefix_filter.hpp). The residual
    * startsWith keeps semantics exact even if p⁺ overflows. */
  private def prefixPred(p: String): Column = {
    val base = col("term").startsWith(p)
    // p.last + 1 landing in the surrogate range would make the upper-bound
    // literal encode as '?' (lone surrogates aren't valid UTF-8), turning
    // the range empty — fall back to the bare startsWith there
    if (p.isEmpty || p.last >= Char.MaxValue ||
        Character.isSurrogate((p.last + 1).toChar)) base
    else {
      val upper = p.init + (p.last + 1).toChar
      col("term") >= p && col("term") < upper && base
    }
  }

  /** The scoring plan `(doc_id, _score)`: the term-bag leaf — one row per
    * doc matching ≥1 of `terms`, see [[TermBagScan]] — the kernel's score
    * over it, and the filter dropping non-positive scores where the kernel
    * asks for it. Cost is O(Σ df(term)) postings rows plus the docstats
    * read, in one task; with `wand` the task keeps only docs of the WAND
    * necessary prefix. The nodes are bound to the leaf's attributes, so a
    * claim rule splices the plan into a query as is and the outer optimizer
    * runs once. */
  private def scoredPlan(kernel: ScoreKernel, terms: Seq[String],
      wand: Option[TermBagScan.Wand]): LogicalPlan =
    scored(kernel, TermBagScan.leaf(this, terms, wand))

  /** `leaf` scored by `kernel`: `(doc_id, _score)`. */
  private def scored(kernel: ScoreKernel, leaf: LogicalPlan): LogicalPlan = {
    val byName = leaf.output.map(a => a.name -> (a: Expression)).toMap
    val plan = Project(
      Seq(leaf.output.head, Alias(kernel.score(byName), "_score")()), leaf)
    if (kernel.dropZero) Filter(GreaterThan(plan.output(1), Literal(0.0)), plan)
    else plan
  }

  private def scoredFrame(kernel: ScoreKernel, terms: Seq[String],
      wand: Option[TermBagScan.Wand] = None): DataFrame =
    Frames.ofRows(postings.sparkSession, scoredPlan(kernel, terms, wand))

  /** BM25 scores for a bag of query terms, one row per matching doc —
    * standard BM25 (k1=1.2, b=0.75, Lucene-style idf), see
    * [[ScoreKernels]]. */
  def bm25(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    scoredFrame(ScoreKernels.bm25(this, terms, k1, b), terms)

  /** The scoring plan `(doc_id, _score)` of a multi-term leaf (`Prefix`,
    * `Wildcard`, `Regexp`, `TermRange`, `Fuzzy`): the expansion leaf — one
    * task expands the dictionary and reads the expanded terms' postings,
    * see [[TermBagScan]] — and [[ScoreKernels.expansion]]'s merge over it,
    * Max for `Fuzzy` and Sum otherwise. bm25 and tfidf are supported; the
    * collection-stats scorers (lm_*, indri, dfi) raise. */
  private[graft] def scoredExpansionPlan(scorer: String, leaf: TsQuery,
      params: Seq[Any] = Nil): LogicalPlan = {
    val kernel = ScoreKernels.expansion(this, scorer, params,
      mergeMax = leaf.isInstanceOf[TsQuery.Fuzzy])
    scored(kernel, TermBagScan.expansionLeaf(this, leaf))
  }

  /** Scorer-name dispatch over the term-bag kernels — one place for the
    * reference's 9 registered scorers (search.cpp:142-173), used by both
    * the SQL claim rules and the structured-query scoring tree: the
    * `(doc_id, _score)` plan of [[scoredPlan]]. */
  private[graft] def scoredTermsPlan(scorer: String, terms: Seq[String],
      params: Seq[Any] = Nil): LogicalPlan =
    scoredPlan(ScoreKernels(this, scorer, terms, params), terms, None)

  def tfidf(terms: Seq[String], withNorms: Boolean = false): DataFrame =
    scoredFrame(ScoreKernels.tfidf(this, terms, withNorms), terms)

  def lmDirichlet(terms: Seq[String], mu: Double = 2000.0): DataFrame =
    scoredFrame(ScoreKernels.lmDirichlet(this, terms, mu), terms)

  def lmJelinekMercer(terms: Seq[String], lambda: Double = 0.1): DataFrame =
    scoredFrame(ScoreKernels.lmJelinekMercer(this, terms, lambda), terms)

  def indriDirichlet(terms: Seq[String], mu: Double = 2000.0): DataFrame =
    scoredFrame(ScoreKernels.indriDirichlet(this, terms, mu), terms)

  def dfi(terms: Seq[String], measure: String = "standardized"): DataFrame =
    scoredFrame(ScoreKernels.dfi(this, terms, measure), terms)

  def rawBoost(terms: Seq[String], boost: Double = 1.0): DataFrame =
    scoredFrame(ScoreKernels.rawBoost(boost), terms)

  def rawTf(terms: Seq[String]): DataFrame = scoredFrame(ScoreKernels.rawTf(terms), terms)

  def rawDl(terms: Seq[String]): DataFrame = scoredFrame(ScoreKernels.rawDl, terms)


  /** BM25 top-k with score pushdown: per-partition top-k heaps before the
    * global merge, the Spark shape of the reference's WAND collector
    * (/root/reference/server/connector/duckdb_table_function.h:176-194,
    * top_k_heap.hpp). `orderBy.limit` alone already plans the engine top-k
    * (partial top-k per partition, O(k) driver merge — no global sort). */
  def bm25TopK(terms: Seq[String], k: Int): DataFrame =
    bm25(terms)
      .orderBy(col("_score").desc, col("doc_id"))
      .limit(k)

  /** BM25 with a minimum-score floor — the reference's `min_score` WAND
    * threshold claim (duckdb_table_function.h:176-182; max_score_iterator.hpp).
    *
    * Two-level WAND, batch-shaped: per-term score UPPER BOUNDS come from the
    * live term statistics (idf × the tf-saturation ceiling at max_tf with
    * the dl→0 length bound). Sorting terms by bound, the NECESSARY set N is
    * the smallest prefix such that the remaining terms' bounds sum below the
    * floor: a doc matching no term of N can never reach it. The scoring
    * task computes N from the `df`/`max_tf` it reads and emits only docs
    * matching a term of N, so planning reads nothing. Exactness: the final
    * filter is the same `_score >= minScore` over fully-scored docs; bounds
    * only ever EXCLUDE docs that provably cannot pass (IndexSpec asserts
    * equality with the post-filter plan). */
  def bm25MinScore(terms: Seq[String], minScore: Double,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Frames.ofRows(postings.sparkSession, bm25MinScorePlan(terms, minScore, k1, b))

  /** [[bm25MinScore]] as a plan, `(doc_id, _score)`. */
  private[graft] def bm25MinScorePlan(terms: Seq[String], minScore: Double,
      k1: Double = 1.2, b: Double = 0.75): LogicalPlan = {
    val scored = scoredPlan(ScoreKernels.bm25(this, terms, k1, b), terms,
      Some(TermBagScan.Wand(minScore, k1, b)))
    Filter(GreaterThanOrEqual(scored.output(1), Literal(minScore)), scored)
  }

  /** [[InvertedIndex.wandNecessary]] over this index's term dictionary —
    * exposed so tests can assert a floor prunes the drive. */
  private[index] def wandNecessary(terms: Seq[String], minScore: Double,
      k1: Double, b: Double): (Seq[String], Int) = {
    val stats = termDictFor(terms.distinct)
      .select(col("term"), col("df").cast("double"), col("max_tf").cast("double"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    InvertedIndex.wandNecessary(terms, stats, numDocs, minScore, k1, b)
  }
}

object InvertedIndex {
  /** Terms sorted by bm25 score upper bound (desc) and the WAND
    * necessary-prefix size for `minScore`, from each term's `(df, max_tf)`
    * (`stats`; a term without stats bounds at 0). A query term repeated m
    * times bounds m-fold. */
  def wandNecessary(terms: Seq[String], stats: Map[String, (Double, Double)],
      numDocs: Long, minScore: Double, k1: Double, b: Double): (Seq[String], Int) = {
    val mult = terms.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val ub = stats.map { case (t, (dfT, maxTf)) =>
      val idf = math.log(1.0 + (numDocs.toDouble - dfT + 0.5) / (dfT + 0.5))
      t -> mult(t) * idf * maxTf * (k1 + 1.0) / (maxTf + k1 * (1.0 - b))
    }
    val byUb = terms.distinct.sortBy(t => -ub.getOrElse(t, 0.0))
    def tailSum(p: Int) = byUb.drop(p).map(ub.getOrElse(_, 0.0)).sum
    (byUb, (0 to byUb.size).find(tailSum(_) < minScore).getOrElse(byUb.size))
  }

  /** numDocs and sumDl of an index, each resolved on first use: segment
    * metadata for a loaded index, a pass over a fresh [[build]]'s source
    * (numDocs) or postings (sumDl). [[IndexStore.writeSegment]] takes sumDl
    * from the docstats it writes instead. */
  final class Totals(numDocsOf: () => Long, sumDlOf: () => Long) {
    lazy val numDocs: Long = numDocsOf()
    lazy val sumDl: Long = sumDlOf()
  }

  /** Build the index in ONE analyzer pass: analyze → posexplode →
    * groupBy(doc, term) → postings; termDict and docStats both derive from
    * postings (dlen = Σ tf), so the tokenizer UDF runs exactly once —
    * postings are persisted (memory-and-disk) until [[IndexStore.writeSegment]]
    * unpersists them after the durable write. `positions` are kept only when
    * `withPositions` (phrase support) — the reference's per-field `position`
    * feature toggle (/root/reference/server/pg/tokenizer_options.h:243-245).
    *
    * numDocs counts ALL docs (an exact count of `docs`: zero-token docs
    * are part of the collection for avgdl, matching the reference's
    * per-segment doc count) and sumDl every token; each is one job, run
    * when first asked for (a segment write asks only for numDocs).
    * docStats carries only docs with ≥1 token, which is the set that can
    * ever match a query.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      analyzerName: String = "whitespace",
      withPositions: Boolean = true): InvertedIndex = {
    val analyzer = AnalyzerRegistry.get(analyzerName)
    val tokenize = udf((s: String) => analyzer.tokens(s))

    val exploded = docs
      .select(col(idCol).as("doc_id"), posexplode(tokenize(col(textCol))).as(Seq("pos", "term")))

    val postings = {
      val base = exploded.groupBy(col("term"), col("doc_id"))
      if (withPositions)
        base.agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
      else
        base.agg(count(lit(1)).as("tf")).withColumn("positions", lit(null).cast("array<int>"))
    }.persist(StorageLevel.MEMORY_AND_DISK)

    val termDict = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"),
        max(col("tf")).as("max_tf")) // per-term tf ceiling → WAND upper bounds

    val docStats = postings.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("int").as("dlen"))

    val totals = new Totals(() => docs.count(), // parquet metadata count — no tokenize
      () => docStats.agg(coalesce(sum(col("dlen").cast("long")), lit(0L))).head().getLong(0))
    InvertedIndex(postings, termDict, docStats, totals)
  }
}
