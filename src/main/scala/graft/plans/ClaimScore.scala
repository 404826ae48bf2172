package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And => CAnd, Ascending, Attribute, AttributeReference, Cast, Coalesce, Descending, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression, ScalaUDF, SortOrder}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, Join, JoinHint, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String
import graft.analysis.AnalyzerRegistry
import graft.index.{IndexStore, InvertedIndex}
import graft.search.{IndexCatalog, SqlSurface, TsQuery, TsQueryCodec, TsQueryExec}

/** Shared pieces of the scorer-claim rules: recognizing a scorer stub call
  * (`bm25(col, 'query', 'dict')` and friends, registered by
  * [[graft.search.SqlSurface]]) and mapping it onto the index postings
  * drive. The scorers are claim-ONLY — the stub throws if it ever
  * row-evaluates (the reference's SearchStubFn surface, search.h:128-132) —
  * so these rules are what make the SQL text executable at all, exactly
  * like the reference's iresearch_plan claim walk
  * (server/connector/optimizer/iresearch_plan.cpp:870-885). */
private[plans] object ScorerShapes {
  private val names = SqlSurface.scorerNames.toSet

  /** Whether `e` contains a scorer stub call anywhere — layers holding one
    * must not be treated as plain row-reducing filters (the stub would throw
    * at row-eval); ClaimScoreFilter claims the threshold forms first. */
  def containsScorerStub(e: Expression): Boolean = e.exists {
    case u: ScalaUDF => u.udfName.exists(names.contains)
    case _ => false
  }

  /** A query argument that folds to a String at claim time: a literal, or
    * a TSQUERY-constructor call tree over literals — `boost(ts_phrase(..),
    * 2.0)` etc. are deterministic String→String functions that Catalyst
    * does not constant-fold (ScalaUDF is never foldable), so the claim
    * evaluates the closed subtree itself, exactly as the reference folds
    * TSQUERY constants before its claim walk (FoldTSQueryConstants,
    * ts_query.cpp:341). */
  private def constStr(e: Expression): Option[String] = e match {
    case Literal(q: UTF8String, _) => Option(q).map(_.toString)
    case _ if e.dataType == org.apache.spark.sql.types.StringType &&
        e.deterministic && e.references.isEmpty =>
      Option(e.eval(null)).map(_.toString)
    case _ => None
  }

  /** `(textAttr, scorerName, query, dict, params)` iff `e` is a scorer stub
    * over a plain column with a plan-time-constant query + literal dict.
    * Trailing literal args are the reference's optional scorer parameters
    * (search.cpp:142-173: bm25(k1, b), tfidf(with_norms), lm_jm(lambda),
    * lm_dirichlet/indri_dirichlet(mu), dfi(measure)). */
  def asScorer(e: Expression):
      Option[(AttributeReference, String, String, String, Seq[Any])] =
    e match {
      case u: ScalaUDF if u.udfName.exists(names.contains) =>
        u.children match {
          case Seq(a: AttributeReference, qe, Literal(d: UTF8String, _), rest @ _*)
              if rest.forall(_.isInstanceOf[Literal]) =>
            val params = rest.map {
              case Literal(s: UTF8String, _) => s.toString
              // SQL fractional literals arrive as DecimalType — normalize to
              // Double so the kernels' Number match sees them
              case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
              case Literal(v, _) => v
            }
            constStr(qe).map(q => (a, u.udfName.get, q, d.toString, params))
          case _ => None
        }
      case _ => None
    }

  def termsOf(query: String, dict: String): Seq[String] =
    AnalyzerRegistry.get(dict).tokens(query)

  /** A scorer's `(doc_id, _score)` plan for a RAW query string, as plan
    * nodes over the index leaves. A plain string is a term bag through the
    * index's analyzer ([[InvertedIndex.scoredTermsPlan]]); a TSQUERY-codec
    * string (ts_phrase / boost / ts_like / ts_levenshtein … constructors)
    * decodes to the structured query and scores through the boost-folding
    * tree ([[graft.search.TsQueryExec.scoredPlan]]) — the reference's
    * `BM25(...) WHERE body @@ (q ^ w)` surface (boost_score.test,
    * inverted_index_multiterm_score.test). Multi-term leaves score under
    * bm25 and tfidf only; others raise and the claim is declined, so the
    * stub fails loudly rather than mis-scoring. */
  def scoredPlan(idx: InvertedIndex, scorer: String, query: String,
      dict: String, params: Seq[Any]): LogicalPlan =
    if (TsQueryCodec.isEncoded(query))
      TsQueryExec.scoredPlan(idx, scorer,
        TsQueryCodec.decode(query, AnalyzerRegistry.get(dict)), params)
    else idx.scoredTermsPlan(scorer, termsOf(query, dict), params)

  /** A scorer top-k [[ClaimScoreTopK]] claims: `[Project p1] Sort(key
    * DESC) [Project p2] input` under its limit, the key a scorer call or a
    * `p2` alias of one; `input` the indexed scan of the scorer's column on
    * a full index, bare or under row-reducing layers (`candidate`, see
    * [[candidateScan]]); every output the scan's columns or the score
    * (`scoreIds`, every `p2` alias of the same scorer call). */
  final case class TopKClaim(input: LogicalPlan, textAttr: AttributeReference,
      scorer: String, query: String, dict: String, params: Seq[Any], lr: LogicalRelation,
      root: String, candidate: Option[LogicalPlan], entry: IndexCatalog.TextEntry,
      idAttr: AttributeReference, scoreIds: Set[ExprId], outList: Seq[NamedExpression],
      refs: Seq[Attribute])

  /** `inner` (the plan under a `GlobalLimit`/`LocalLimit`) as a claimable
    * scorer top-k. */
  def topKClaim(inner: LogicalPlan): Option[TopKClaim] = {
    val (p1, afterP1) = inner match {
      case Project(l, c) => (Some(l), c)
      case _ => (None, inner)
    }
    val (order, afterSort) = afterP1 match {
      case Sort(Seq(SortOrder(so, Descending, _, _)), true, c, _) => (so, c)
      case _ => return None
    }
    val (p2, input) = afterSort match {
      case Project(l, c) => (Some(l), c)
      case _ => (None, afterSort)
    }
    for {
      // the sort key: a scorer call directly, or an attribute bound to a
      // scorer alias in P2
      (textAttr, scorer, query, dict, params, scoreId) <- asScorer(order)
          .map { case (a, n, q, d, ps) => (a, n, q, d, ps, None: Option[ExprId]) }
          .orElse(order match {
            case a: AttributeReference =>
              p2.flatMap(_.collectFirst {
                case al @ Alias(u: ScalaUDF, _) if al.exprId == a.exprId && asScorer(u).isDefined =>
                  val (ta, n, q, d, ps) = asScorer(u).get
                  (ta, n, q, d, ps, Some(al.exprId): Option[ExprId])
              })
            case _ => None
          })
      // the sorted input: the bare indexed scan (fast path) or a stack of
      // row-reducing layers over it (the composed filter + top-k claim)
      (lr, root, candidate) <- candidateScan(input)
      if PlanShapes.isColumnOf(lr, textAttr, textAttr.name)
      entry <- IndexCatalog.lookupText(root, textAttr.name, dict)
      // partial indexes never drive scorer top-k (see indexedScanOf)
      if entry.predicate.isEmpty
      idAttr <- lr.output.collectFirst {
        case a: AttributeReference if a.name == entry.idCol => a }
      // duplicate-alias dedup (reference score_alias_dedup.test: "the
      // rewrite keeps one scorer + one virtual score column ... each
      // select-list slot gets its own column ref"): EVERY P2 alias of the
      // semantically-same scorer call maps onto the single score column
      scoreIds = p2.map(_.collect {
        case al @ Alias(u: ScalaUDF, _)
            if asScorer(u).exists { case (ta, n, q2, d2, ps2) =>
              ta.semanticEquals(textAttr) && n == scorer && q2 == query &&
                d2 == dict && ps2 == params } =>
          al.exprId
      }.toSet).getOrElse(Set.empty[ExprId]) ++ scoreId
      // P2 may hold only the scan's own columns + aliases of THE scorer
      // call — anything else computed there would be silently lost
      if p2.forall(_.forall {
        case a: AttributeReference => PlanShapes.isColumnOf(lr, a, a.name)
        case al: Alias => scoreIds.contains(al.exprId)
        case _ => false
      })
      // every output expression must read only scan columns / the score
      outList = p1.getOrElse(afterSort.output.map(a => a: NamedExpression))
      refs = outList.flatMap(_.references.toSeq).distinct
      if refs.forall(a =>
        PlanShapes.isColumnOf(lr, a, a.name) || scoreIds.contains(a.exprId))
    } yield TopKClaim(input, textAttr, scorer, query, dict, params, lr, root, candidate, entry,
      idAttr, scoreIds, outList, refs)
  }

  /** The `ts_match` conjuncts under claimable scorer top-ks that the scorer
    * makes redundant ([[absorbs]]), found before [[ClaimTsMatch]] builds a
    * text-match leg for them: the top-k claim drops them instead. */
  def absorbedMatches(plan: LogicalPlan): Set[Expression] = plan.collect {
    case GlobalLimit(Literal(_: Int, _), LocalLimit(_, inner)) =>
      topKClaim(inner).filter(_.candidate.isDefined).toSeq.flatMap { c =>
        candidateFilters(c.input).flatMap(TsPredicates.conjuncts)
          .filter(absorbs(_, c.textAttr, c.query, c.dict))
      }
  }.flatten.toSet

  /** The filter conditions of a candidate chain ([[candidateScan]]'s
    * shapes). */
  private def candidateFilters(plan: LogicalPlan): Seq[Expression] = plan match {
    case Filter(cond, child) => cond +: candidateFilters(child)
    case Join(l, _, LeftSemi | LeftAnti, _, _) => candidateFilters(l)
    case Project(_, child) => candidateFilters(child)
    case _ => Nil
  }

  /** Whether a conjunct is a `ts_match` the scorer `(textAttr, query,
    * dict)` makes redundant: on the same column and dictionary, whose query
    * is an OR of single terms covering every analyzed scorer term. Exact,
    * because a term-bag scorer returns only docs holding at least one of its
    * terms, and each such doc matches the OR. The scan stays in the tree, so
    * the top-k still joins the base table and a row deleted before its
    * REFRESH is still left out. */
  def absorbs(conj: Expression, textAttr: AttributeReference, query: String,
      dict: String): Boolean =
    !TsQueryCodec.isEncoded(query) && TsPredicates.matchTarget(conj).exists {
      case (a: AttributeReference, d) => a.exprId == textAttr.exprId && d == dict
      case _ => false
    } && TsPredicates.asTsMatch(conj).exists { case (_, _, build) =>
      val analyzer = AnalyzerRegistry.get(dict)
      orTerms(TsQuery.bindDict(build(analyzer), analyzer))
        .exists(termsOf(query, dict).toSet.subsetOf)
    }

  /** The terms of a query that matches exactly the docs holding at least
    * one of them: an OR (nested, boosted or not) of single terms. */
  private def orTerms(q: TsQuery): Option[Set[String]] = q match {
    case TsQuery.Term(t) => Some(Set(t))
    case TsQuery.Phrase(Seq(t)) => Some(Set(t))
    case TsQuery.SlopPhrase(Seq(t), _) => Some(Set(t))
    case TsQuery.Boost(inner, _) => orTerms(inner)
    case TsQuery.And(Seq(inner)) => orTerms(inner)
    case TsQuery.Or(qs) if qs.nonEmpty =>
      val parts = qs.map(orTerms)
      if (parts.forall(_.isDefined)) Some(parts.flatten.reduce(_ ++ _)) else None
    case _ => None
  }

  /** Resolves the sorted input to its underlying indexed scan. Accepted
    * shapes (the reference claims Sort/TopN over an already-claimed filter
    * tree, iresearch_plan.cpp:870-885):
    *   - Project-only chain over the scan → (lr, root, None): the bare fast
    *     path, no candidate restriction needed;
    *   - a stack of row-REDUCING-only layers — Filter (with no scorer stub
    *     left in the condition: threshold forms claim via ClaimScoreFilter
    *     on an earlier fixpoint pass) and LeftSemi/LeftAnti joins (the
    *     shapes ClaimTsMatch leaves behind) — over Projects over the scan
    *     → (lr, root, Some(subtree)): the top-k must drive over the
    *     restricted candidate set.
    * Anything else (row-adding or row-altering: other join types,
    * Aggregate, Window, Generate, Limit, …) bails the claim — the rewrite
    * would not preserve the query's semantics. */
  def candidateScan(plan: LogicalPlan):
      Option[(LogicalRelation, String, Option[LogicalPlan])] = {
    @annotation.tailrec
    def walk(p: LogicalPlan, reduced: Boolean): Option[(LogicalRelation, Boolean)] =
      p match {
        case Filter(cond, child) if !ScorerShapes.containsScorerStub(cond) =>
          walk(child, reduced = true)
        case Join(l, _, LeftSemi | LeftAnti, _, _) => walk(l, reduced = true)
        case Project(_, child) => walk(child, reduced)
        case lr: LogicalRelation => Some((lr, reduced))
        case _ => None
      }
    walk(plan, reduced = false).flatMap { case (lr, reduced) =>
      PlanShapes.scanRoot(lr).map(r => (lr, r, if (reduced) Some(plan) else None))
    }
  }

  /** The candidate subtree with the scan's id column threaded through any
    * column-pruning Projects, so the claim can join candidates to scored
    * postings even when the query never selected the id. */
  def widenWithId(plan: LogicalPlan, idAttr: AttributeReference): LogicalPlan =
    plan match {
      case Project(list, child) =>
        val c = widenWithId(child, idAttr)
        if (list.exists(_.exprId == idAttr.exprId)) Project(list, c)
        else Project(list :+ idAttr, c)
      case Filter(cond, child) => Filter(cond, widenWithId(child, idAttr))
      case j @ Join(l, _, LeftSemi | LeftAnti, _, _) =>
        j.copy(left = widenWithId(l, idAttr))
      case other => other
    }


  /** The reference's per-INDEX one-scorer rule, enforced over the WHOLE
    * statement before any claim rule consumes a stub
    * (inverted_index_score.test:311-321: mixing `BM25(...)` in the SELECT
    * list with a `TFIDF(...) > 0` WHERE threshold on the same index errors;
    * a per-Project check alone misses it because ClaimScoreFilter claims
    * the WHERE stub on an earlier pass). Scope is the index SCAN — grouped
    * by the text attribute's exprId + dict — so UNION branches stay
    * independent scoring scopes and two scorers over two DIFFERENT indexed
    * columns (two indexes) are allowed. Raised only when the column
    * actually resolves to an index: an unclaimable stub keeps its own
    * louder row-eval error. */
  def enforceOneScorerPerScan(plan: LogicalPlan): Unit = {
    val stubs = scala.collection.mutable.ArrayBuffer
      .empty[((ExprId, String), (AttributeReference, (String, String, Seq[Any])))]
    plan.foreach { node =>
      val exprs: Seq[Expression] = node match {
        case Project(list, _) => list
        case Filter(cond, _) => Seq(cond)
        case Sort(order, _, _, _) => order
        case _ => Nil
      }
      exprs.foreach(_.foreach {
        case u: ScalaUDF =>
          asScorer(u).foreach { case (a, n, q, d, ps) =>
            stubs += (((a.exprId, d), (a, (n, q, ps)))) }
        case _ => ()
      })
    }
    stubs.groupBy(_._1).foreach { case ((_, dict), group) =>
      val shapes = group.map(_._2._2).distinct
      if (shapes.size > 1 &&
          indexedScanOf(plan, group.head._2._1, dict).isDefined)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "USER_RAISED_EXCEPTION",
          messageParameters = Map("errorMessage" ->
            ("Only one scorer function is allowed per inverted index. " +
              "Use UNION to combine different score functions for the same " +
              "inverted index")))
    }
  }

  /** The indexed scan producing `textAttr` (exprId provenance) + its
    * catalog entry and id attribute — the same resolution ClaimTsMatch
    * uses. */
  def indexedScanOf(plan: LogicalPlan, textAttr: AttributeReference,
      dict: String): Option[(LogicalRelation, String, IndexCatalog.TextEntry, AttributeReference)] =
    plan.collectFirst {
      case lr: LogicalRelation if PlanShapes.isColumnOf(lr, textAttr, textAttr.name) =>
        for {
          root <- PlanShapes.scanRoot(lr)
          e <- IndexCatalog.lookupText(root, textAttr.name, dict)
          // scorer drives enumerate the index's postings as THE row source —
          // a partial index would silently hide out-of-predicate rows from
          // scoring, so score claims require a full index
          if e.predicate.isEmpty
          idAttr <- lr.output.collectFirst {
            case a: AttributeReference if a.name == e.idCol => a }
        } yield (lr, root, e, idAttr)
    }.flatten
}

/** Claims `ORDER BY bm25(col, 'query', 'dict') DESC LIMIT k` (and the other
  * five scorers) over an indexed scan into the index postings top-k drive —
  * the reference's flagship demo query (examples/demo0/demo.sql:39-48;
  * claim walk iresearch_plan.cpp:870-885). `orderBy(_score desc).limit(k)`
  * plans as the engine top-k ([[TopKExec]]): per-partition top-k heaps + an O(k) driver
  * merge, the Spark shape of the reference's WAND collector.
  *
  * Claimed shapes (all under GlobalLimit/LocalLimit):
  *   - `Sort(scorerUdf DESC, scan)` — SELECT * ORDER BY bm25(...) DESC
  *   - `Project(cols, Sort(scorerUdf DESC, scan))` — ORDER BY not in SELECT
  *   - `[Project(exprs,)] Sort(s DESC, Project([cols, bm25(...) AS s], scan))`
  *     — scorer aliased in the SELECT list (score value in the output)
  * The scored plan — a term bag's scorer leaf and score expression, or a
  * TSQUERY-constructor query's tree of joins and projections over the
  * index leaves ([[ScorerShapes.scoredPlan]]) — and every node the claim
  * adds are plan nodes, so the rule never runs the optimizer and the outer
  * optimizer runs once. One construction serves the bare scan and the
  * absorbed `ts_match` shape; the plan depends only on the index's
  * freshness and the outputs:
  *   - the sorted input is the bare indexed scan once absorbed, the index
  *     is byte-fresh with it ([[StatsShapes.indexFresh]]) and every output
  *     is the id or the score → the index-only top-k: Sort and limit over
  *     the scored leaf, 1 Spark job, no base-table bytes;
  *   - a stale index, residual filters or semi-joins → the scored leaf
  *     joins the candidate rows, so a row deleted before its REFRESH is
  *     left out;
  *   - a bare scan with outputs beyond the id and the score → one PK
  *     join-back (search_pk_lookup.h) to the covering columnstore or the
  *     base table, re-sorted by score.
  * Ties break by doc id — a deterministic refinement of the requested
  * score-only order.
  *
  * SEMANTICS NOTE (intentional deviation from literal SQL Sort+Limit): a
  * claimed scorer returns only docs matching ≥1 query term — the search
  * engine's contract (the reference scores index matches only) — so a
  * LIMIT k can return fewer than k rows when fewer than k docs match.
  * Un-matched docs have no defined score to sort by; SQL semantics would
  * have to invent zero-score fill rows in arbitrary order. */
case class ClaimScoreTopK(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // first rule of the scorer-claim batch to see the plan: the statement-
    // wide per-index conflict check must run before ANY stub is consumed
    ScorerShapes.enforceOneScorerPerScan(plan)
    plan.transformUp {
    case gl @ GlobalLimit(Literal(k: Int, _), LocalLimit(_, inner)) =>
      try claim(gl, k, inner).getOrElse(gl) catch {
        case e: Exception =>
          logWarning(s"scorer top-k claim failed, leaving plan unchanged: $e")
          gl
      }
    }
  }

  private def claim(gl: GlobalLimit, k: Int, inner: LogicalPlan): Option[LogicalPlan] =
    ScorerShapes.topKClaim(inner).map { c =>
      import c._
      val tree = candidate.map(absorbMatch(_, textAttr, query, dict)).getOrElse(input)
      val idOrScore = refs.forall(a =>
        a.exprId == idAttr.exprId || scoreIds.contains(a.exprId))
      val scored = ScorerShapes.scoredPlan(
        IndexStore.load(spark, entry.segDir), scorer, query, dict, params)
      if (candidate.isEmpty && !idOrScore)
        claimBare(lr, idAttr, entry, scored, k, root, refs, scoreIds, outList)
      else {
        if (idOrScore && indexOnly(tree, lr, entry))
          claimIndexOnly(scored, k, scoreIds, outList)
        else claimFiltered(tree, scored, k, idAttr, scoreIds, outList)
      }
    }

  /** Whether the index alone answers the top-k: the sorted input is the
    * bare indexed scan (the `ts_match` legs absorbed) and the index is
    * byte-fresh with it — the gate every index-only answer uses
    * ([[StatsShapes.indexFresh]], as in [[ClaimCountOnly]]). A row deleted
    * or added since the last REFRESH makes the scan's files differ from the
    * fingerprinted ones, so the top-k joins the scan instead. */
  private def indexOnly(tree: LogicalPlan, lr: LogicalRelation,
      entry: IndexCatalog.TextEntry): Boolean =
    (PlanShapes.stripProjects(tree), lr.relation) match {
      case (scan: LogicalRelation, rel: HadoopFsRelation) if scan == lr =>
        StatsShapes.indexFresh(spark, entry.segDir, rel)
      case _ => false
    }

  /** `candTree` without the `ts_match` conjuncts the scorer makes
    * redundant ([[ScorerShapes.absorbs]]), which [[ClaimTsMatch]] left
    * unclaimed for this rule ([[ScorerShapes.absorbedMatches]]). */
  private def absorbMatch(candTree: LogicalPlan, textAttr: AttributeReference, query: String,
      dict: String): LogicalPlan =
    candTree.transformUp {
      case Filter(cond, child) =>
        TsPredicates.conjuncts(cond).filterNot(ScorerShapes.absorbs(_, textAttr, query, dict))
          .reduceOption(CAnd(_, _)).fold(child)(Filter(_, child))
    }

  /** The bare-scan drive for outputs wider than the id and the score:
    * the index top-k, then one late-materializing join-back on the id to
    * the covering columnstore (when it holds every output column and
    * passes the index-only gate, [[StatsShapes.freshSidecar]]) or to the
    * scan itself, re-sorted by score — the k-row join-back of
    * search_pk_lookup.h. */
  private def claimBare(lr: LogicalRelation, idAttr: AttributeReference,
      entry: IndexCatalog.TextEntry, scored: LogicalPlan, k: Int, root: String,
      refs: Seq[Attribute], scoreIds: Set[ExprId],
      outList: Seq[NamedExpression]): LogicalPlan = {
    val Seq(docId, score) = scored.output
    val order = Seq(SortOrder(score, Descending), SortOrder(docId, Ascending))
    val needed = refs.filterNot(a => scoreIds.contains(a.exprId)).map(_.name).distinct
    // covered join-back (reference inverted_index_topk_include.test): when
    // every projected column is the id or INCLUDEd, the k-row late
    // materialization reads the narrow stored columnstore instead of the
    // wide base table; a sidecar that is not fresh with the scan joins the
    // scan, so a row deleted since the last REFRESH never comes back
    val covered = IndexCatalog.sidecarDirs(root).iterator
      .flatMap(StatsShapes.freshSidecar(spark, _, lr.relation))
      .find(side => side.spec.idCol == entry.idCol &&
        needed.forall(c => c == entry.idCol || side.spec.included.contains(c)))
    // the join-back side, its id, and the value of each scan column
    val (lookup, lookupId, column) = covered match {
      case Some(side) =>
        val stored = Frames.planOf(side.stored(spark))
        def attr(name: String): Attribute = stored.output.find(_.name == name).get
        (stored, attr("doc_id"),
          (a: AttributeReference) => if (a.exprId == idAttr.exprId) docId else attr(a.name))
      case None => (lr, idAttr, (a: AttributeReference) => a)
    }
    val joined = Join(topK(scored, k, order), lookup, Inner,
      Some(EqualTo(docId, cast(lookupId, docId.dataType))), JoinHint.NONE)
    // the join-back scrambles row order; the claim replaces a Sort, so
    // re-establish score order
    Project(reproject(outList, a => if (scoreIds.contains(a.exprId)) score else column(a)),
      Sort(order, global = true, joined))
  }

  /** The index-only top-k: `Sort(score desc, doc_id)` and the limit over the
    * scored leaf, the output's id and score read from the leaf's row. It
    * plans as a [[TopKExec]] over the leaf's one task: one Spark
    * job, no exchange, no base-table bytes — the reference's top-k from the
    * index scan alone (search_pk_lookup.h materializes only what it
    * returns, and this output holds nothing beyond the id). */
  private def claimIndexOnly(scored: LogicalPlan, k: Int, scoreIds: Set[ExprId],
      outList: Seq[NamedExpression]): LogicalPlan = {
    val Seq(docId, score) = scored.output
    val limited = topK(scored, k, Seq(SortOrder(score, Descending), SortOrder(docId, Ascending)))
    Project(reproject(outList, a => if (scoreIds.contains(a.exprId)) score else docId), limited)
  }

  /** `outList` over a claimed plan: every attribute reference becomes
    * `subst` of it, cast back to its type (the index stores ids as its own
    * integral type) under its own exprId; an attribute `subst` returns
    * unchanged stays as it is. */
  private def reproject(outList: Seq[NamedExpression],
      subst: AttributeReference => Expression): Seq[NamedExpression] = {
    def typed(a: AttributeReference): Expression = cast(subst(a), a.dataType)
    outList.map {
      case a: AttributeReference => typed(a) match {
        case `a` => a
        case r => Alias(r, a.name)(exprId = a.exprId)
      }
      case al @ Alias(c, n) =>
        Alias(c.transformUp { case a: AttributeReference => typed(a) }, n)(exprId = al.exprId)
      case other => other
    }
  }

  private def cast(e: Expression, to: org.apache.spark.sql.types.DataType): Expression =
    if (e.dataType == to) e else Cast(e, to)

  private def topK(plan: LogicalPlan, k: Int, order: Seq[SortOrder]): LogicalPlan =
    GlobalLimit(Literal(k), LocalLimit(Literal(k), Sort(order, global = true, plan)))

  /** The COMPOSED claim — filter + scorer top-k in ONE drive (the
    * reference's demo3 shape: `@@` predicates combined with BM25 ordering;
    * iresearch_plan.cpp:870-885 walks Sort/TopN over a scan whose filter
    * tree search_filter_builder.cpp already claimed). The candidate subtree
    * (residual Filters, the LeftSemi joins earlier claim rules left, or the
    * bare scan when the index is not fresh with it) restricts the scored
    * postings via one inner join on the id, so the k survivors are the
    * top-k of the FILTERED set of live rows — then Sort+Limit over the join
    * plans as a [[TopKExec]] (per-partition heaps, O(k) driver
    * merge). The candidate tree keeps its pushed-down pruned scan;
    * scan-column references flow through unchanged, so only the score
    * attribute needs substitution. */
  private def claimFiltered(candTree: LogicalPlan, scored: LogicalPlan, k: Int,
      idAttr: AttributeReference, scoreIds: Set[ExprId],
      outList: Seq[NamedExpression]): LogicalPlan = {
    val Seq(docId, scoreAttr) = scored.output
    val joined = Join(ScorerShapes.widenWithId(candTree, idAttr), scored, Inner,
      Some(EqualTo(idAttr, docId)), JoinHint.NONE)
    // ties break by doc id — the same deterministic refinement as the
    // index-only path; matched-docs-only semantics (can return < k rows,
    // see scaladoc)
    val limited = topK(joined,
      k, Seq(SortOrder(scoreAttr, Descending), SortOrder(idAttr, Ascending)))
    Project(reproject(outList, a => if (scoreIds.contains(a.exprId)) scoreAttr else a), limited)
  }

}

/** Claims score-threshold WHERE conjuncts — `bm25(col, 'q', 'dict') >= c`
  * (also `>`, and the mirrored literal-first forms) — into an index-driven
  * semi-join, built as plan nodes: the scored plan, a filter on the score
  * and a left-semi join on the id. For a plain bm25 term bag the floor
  * seeds the two-level WAND drive ([[InvertedIndex.bm25MinScorePlan]];
  * reference min_score claim, duckdb_table_function.h:176-182): the scoring
  * task keeps only docs of the necessary term set, computed from the term
  * statistics it reads, so the claim itself reads nothing. Other scorers
  * and TSQUERY-constructor queries score their matched docs
  * ([[ScorerShapes.scoredPlan]]) and filter. Non-claimable conjuncts stay
  * behind as residual filters. */
case class ClaimScoreFilter(spark: SparkSession) extends Rule[LogicalPlan] {

  /** `(scorerUdf, threshold, strict)` for the four comparison forms. */
  private def asThreshold(e: Expression): Option[(ScalaUDF, Double, Boolean)] = {
    def num(l: Any): Option[Double] = l match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case n: Number => Some(n.doubleValue)
      case _ => None
    }
    val parts = e match {
      case GreaterThan(u: ScalaUDF, Literal(c, _)) => Some((u, c, true))
      case GreaterThanOrEqual(u: ScalaUDF, Literal(c, _)) => Some((u, c, false))
      case LessThan(Literal(c, _), u: ScalaUDF) => Some((u, c, true))
      case LessThanOrEqual(Literal(c, _), u: ScalaUDF) => Some((u, c, false))
      case _ => None
    }
    parts.flatMap { case (u, c, strict) => num(c).map((u, _, strict)) }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    ScorerShapes.enforceOneScorerPerScan(plan)
    plan.transformUp {
      case fl @ Filter(cond, child)
          if cond.exists(e => asThreshold(e).exists(t => ScorerShapes.asScorer(t._1).isDefined)) =>
        try claim(fl, cond, child) catch {
          case e: Exception =>
            logWarning(s"scorer threshold claim failed, leaving plan unchanged: $e")
            fl
        }
    }
  }

  private def claim(fl: Filter, cond: Expression, child: LogicalPlan): LogicalPlan = {
    val parts = conjuncts(cond)
    val claimable = parts.flatMap { p =>
      for {
        (u, c, strict) <- asThreshold(p)
        (textAttr, scorer, query, dict, params) <- ScorerShapes.asScorer(u)
        (_, _, entry, idAttr) <- ScorerShapes.indexedScanOf(child, textAttr, dict)
        if child.outputSet.contains(idAttr)
      } yield (p, scorer, query, dict, params, c, strict, entry, idAttr)
    }
    if (claimable.isEmpty) return fl

    val joined = claimable.foldLeft(child) {
      case (acc, (_, scorer, query, dict, params, c, strict, entry, idAttr)) =>
        val idx = IndexStore.load(spark, entry.segDir)
        val floor = scorer match {
          // the WAND floor drives from per-term score upper bounds, which a
          // structured (boost/phrase/automaton) tree does not expose — those
          // score the folded tree and filter instead (default-param bm25
          // only: a non-default k1/b changes the per-term upper bounds)
          case "bm25" if !TsQueryCodec.isEncoded(query) && params.isEmpty =>
            idx.bm25MinScorePlan(ScorerShapes.termsOf(query, dict), c)
          case other =>
            val scored = ScorerShapes.scoredPlan(idx, other, query, dict, params)
            Filter(GreaterThanOrEqual(scored.output(1), Literal(c)), scored)
        }
        val matched =
          if (strict) Filter(GreaterThan(floor.output(1), Literal(c)), floor) else floor
        val docId = matched.output.head
        Join(acc, Project(Seq(docId), matched), LeftSemi,
          Some(EqualTo(idAttr, docId)), JoinHint.NONE)
    }
    val claimedSet = claimable.map(_._1).toSet
    parts.filterNot(claimedSet).reduceOption(CAnd(_, _))
      .map(Filter(_, joined)).getOrElse(joined)
  }
}

/** Claims scorer calls in a SELECT list whose sort (if any) is NOT the
  * score — the reference's "scan-order hint" shape (score_alias_dedup.test:
  * `SELECT kostya, BM25(...) AS s1 ... ORDER BY kostya DESC LIMIT 2` keeps
  * the limit in TOP_N; the scan still computes the virtual score column).
  * ClaimScoreTopK runs first in the batch, so any score-ordered top-k has
  * already been claimed when this rule sees the plan; what remains here is
  * a Project with scorer aliases over [Filters/semi-joins over] an indexed
  * scan. The rewrite joins the candidate rows LEFT OUTER to the scored
  * postings and substitutes `coalesce(_score, 0.0)` — SQL-faithful: every
  * surviving row keeps its score (0 for docs matching the filters but not
  * the scorer's query), and the enclosing Sort/Limit plan stays intact.
  *
  * Reference restriction enforced statement-wide by
  * [[ScorerShapes.enforceOneScorerPerScan]]: ONE scorer call shape per
  * index SCAN (score_alias_dedup.test's "Only one scorer function is
  * allowed per inverted index") — duplicate ALIASES of the same call are
  * fine (they share the single score column), different scorers or
  * different parameters on the same index are an error with UNION as the
  * documented workaround, while scorers over two DIFFERENT indexed columns
  * are two indexes and claim independently (each gets its own LEFT OUTER
  * score join). */
case class ClaimScoreProject(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    ScorerShapes.enforceOneScorerPerScan(plan)
    plan.transformUp {
    case pj @ Project(list, child)
        if list.exists(e => ScorerShapes.containsScorerStub(e)) =>
      // scorer calls may sit anywhere inside the projection expressions
      // (CollapseProject folds `s > 0 AS has_score` over `bm25(..) AS s`
      // into one Project), so collect and substitute SUBTREES, not aliases
      val calls = list.flatMap(_.collect {
        case u: ScalaUDF if ScorerShapes.asScorer(u).isDefined =>
          ScorerShapes.asScorer(u).get
      })
      val unrecognized = list.exists(_.exists {
        case u: ScalaUDF =>
          u.udfName.exists(SqlSurface.scorerNames.contains) &&
            ScorerShapes.asScorer(u).isEmpty
        case _ => false
      })
      val shapes = calls.distinct
      if (unrecognized || shapes.isEmpty) pj
      else try {
        resolveAndJoin(child, shapes).map { case (joined, subs) =>
          val newList = list.map { ne =>
            ne.transform {
              case u: ScalaUDF if ScorerShapes.asScorer(u).exists(subs.contains) =>
                subs(ScorerShapes.asScorer(u).get)
            }.asInstanceOf[NamedExpression]
          }
          Project(newList, joined): LogicalPlan
        }.getOrElse(pj)
      } catch {
        case e: Exception =>
          logWarning(s"scorer projection claim failed, leaving plan unchanged: $e")
          pj
      }

    // scorer calls left in SORT KEYS — shapes ClaimScoreTopK declines (no
    // limit, ASC, multi-key tiebreaks, or a projection DERIVING from the
    // score like `bm25(..) > 0 AS has_score`, inverted_index_score.test's
    // UNION branches). Same LeftOuter score join; the original output is
    // re-projected so the Sort stays arity-stable for its parents.
    case st @ Sort(orders, global, child, _)
        if orders.exists(o => ScorerShapes.containsScorerStub(o.child)) =>
      val calls = orders.flatMap(_.child.collect {
        case u: ScalaUDF if ScorerShapes.asScorer(u).isDefined =>
          ScorerShapes.asScorer(u).get
      })
      val shapes = calls.distinct
      if (shapes.isEmpty) st
      else try {
        resolveAndJoin(child, shapes).map { case (joined, subs) =>
          val newOrders = orders.map { o =>
            o.copy(child = o.child.transform {
              case u: ScalaUDF if ScorerShapes.asScorer(u).exists(subs.contains) =>
                subs(ScorerShapes.asScorer(u).get)
            })
          }
          Project(child.output.map(a => a: NamedExpression),
            Sort(newOrders, global, joined)): LogicalPlan
        }.getOrElse(st)
      } catch {
        case e: Exception =>
          logWarning(s"scorer sort-key claim failed, leaving plan unchanged: $e")
          st
      }
    }
  }

  private type Shape = (AttributeReference, String, String, String, Seq[Any])

  /** Claims EVERY shape or none: each resolves to ITS OWN indexed scan
    * anywhere in the child tree (exprId provenance — distinct indexed
    * columns are distinct indexes; the statement-wide conflict check
    * already rejected same-index mixes, and an inner join of two indexed
    * scans scores each side independently, the reference's multi-table
    * shape in inverted_index_score.test:873-880 — join row duplication is
    * fine because scores attach by doc id VALUE). The candidate rows join
    * LEFT OUTER to each scored drive in turn and every stub subtree
    * substitutes to its own `coalesce(_score, 0.0)`. A partial claim would
    * leave a stub to throw at row-eval, so any unresolvable shape (or an id
    * column not reachable in the output — widenWithId threads it through
    * Project/Filter/semi-join chains but not across other joins) bails the
    * whole Project. */
  private def resolveAndJoin(child: LogicalPlan, shapes: Seq[Shape])
      : Option[(LogicalPlan, Map[Shape, Expression])] = {
    // scoring requires an index-driven match restriction below (the
    // LeftSemi legs ClaimTsMatch leaves behind) — a bare or plain-filtered
    // scan keeps the reference's "unclaimable scorer fails loudly"
    // behavior (scorers_topk.test's stub-error case)
    val restricted = child.exists {
      case Join(_, _, LeftSemi | LeftAnti, _, _) => true
      case _ => false
    }
    val perShape = shapes.map { case shape @ (textAttr, _, _, dict, _) =>
      ScorerShapes.indexedScanOf(child, textAttr, dict).map {
        case (_, _, entry, idAttr) => (shape, entry, idAttr)
      }
    }
    if (!restricted || perShape.exists(_.isEmpty)) return None
    val resolved = perShape.flatten
    val widened = resolved.map(_._3).distinct
      .foldLeft(child)((acc, id) => ScorerShapes.widenWithId(acc, id))
    if (!resolved.forall(r => widened.outputSet.contains(r._3))) return None
    val zero = Literal(0.0, DoubleType)
    Some(resolved.foldLeft((widened, Map.empty[Shape, Expression])) {
      case ((acc, m), (shape @ (_, scorer, query, dict, params), entry, idAttr)) =>
        val scored = ScorerShapes.scoredPlan(
          IndexStore.load(spark, entry.segDir), scorer, query, dict, params)
        val j = Join(acc, scored, LeftOuter,
          Some(EqualTo(idAttr, scored.output.head)), JoinHint.NONE)
        // the join's own (nullable) score attribute: a non-nullable score
        // expression would let the optimizer drop the coalesce
        (j, m + (shape -> Coalesce(Seq(j.output.last, zero))))
    })
  }
}
