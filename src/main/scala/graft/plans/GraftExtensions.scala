package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo, ExprId, Expression, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.unsafe.types.UTF8String
import graft.search.IndexCatalog

/** Session extension installing the search-claim optimizer rules — the Spark
  * analogue of the reference registering its optimizer extensions with
  * DuckDB (/root/reference/server/connector/duckdb_storage_extension.cpp:
  * 126-134). Enabled via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (GraftSession sets it on every session it configures).
  *
  * Every rule resolves scans through [[graft.search.IndexCatalog]] — the
  * analogue of the reference's index source factory
  * (index_source_factory.h:40-46): `CREATE SEARCH INDEX` / `CREATE VECTOR
  * INDEX` on ANY table make its predicates claimable; no table or column
  * name is special-cased here. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(s => ClaimCountOnly(s))
    e.injectOptimizerRule(s => StatsPrune(s))
    e.injectOptimizerRule(s => ClaimCoveredProjection(s))
    e.injectOptimizerRule(s => ClaimTsMatch(s))
    e.injectOptimizerRule(s => PushdownTsDictAggregate(s))
    e.injectOptimizerRule(s => ClaimAnnTopK(s))
    e.injectOptimizerRule(s => ClaimAnnRange(s))
    e.injectOptimizerRule(s => ClaimScoreTopK(s))
    e.injectOptimizerRule(s => ClaimScoreFilter(s))
    // AFTER TopK/Filter in the batch: claims only the scorer aliases those
    // two left behind (non-score ORDER BY — the reference's scan-order
    // hint shape, score_alias_dedup.test)
    e.injectOptimizerRule(s => ClaimScoreProject(s))
    e.injectOptimizerRule(s => ClaimPkLookup(s))
    e.injectOptimizerRule(s => ClaimAnnDistanceRewrite(s))
    e.injectOptimizerRule(s => EnumOrder(s))
    e.injectResolutionRule(s => ResolveInformationSchema(s))
    e.injectResolutionRule(s => ResolveIndexRelation(s))
    e.injectResolutionRule(s => ReadTableVersions(s))
    e.injectPlannerStrategy(s => StrictClaimCheck(s))
    e.injectPlannerStrategy(s => RbacCheck(s))
    e.injectPlannerStrategy(s => IndexLeafStrategy(s))
    e.injectPlannerStrategy(s => TopKStrategy(s))
    e.injectColumnar(_ => BindFilterLiterals.columnarRule)
    e.injectParser((_, delegate) => new graft.search.GraftSqlParser(delegate))
    graft.sources.ReadTvfs.functions.foreach(e.injectTableFunction)
    graft.search.EsSql.functions.foreach(e.injectTableFunction)
    graft.functions.NativeVectorExpressions.functions.foreach(e.injectFunction)
    graft.functions.UnionFunctions.functions.foreach(e.injectFunction)
    // ts_offsets: the dictionary resolves at ANALYSIS time on the driver,
    // pinning inside a REPEATABLE READ block (ts_offsets_isolation.test)
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("ts_offsets"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.TsOffsetsExpr].getName, "ts_offsets"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val dict = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
            v.toString
          case other => throw new IllegalArgumentException(
            s"ts_offsets: dictionary argument must be a string literal, got $other")
        }
        val spark = org.apache.spark.sql.SparkSession.active
        val analyzer =
          if (graft.catalog.Txn.snapshotActive(spark))
            graft.catalog.Txn.pinned(spark, s"analyzer:$dict",
              graft.analysis.AnalyzerRegistry.get(dict))
              .asInstanceOf[graft.analysis.Analyzer]
          else graft.analysis.AnalyzerRegistry.get(dict)
        graft.functions.TsOffsetsExpr(args(0), args(1), analyzer, dict)
      }))
    // DuckDB list-dialect spellings used verbatim across the reference
    // corpus (ivf_panorama/table_rerank/shared_groups...): list_transform =
    // Spark's transform; scalar range([a,] b [, step]) = an END-EXCLUSIVE
    // integer list (sequence minus the endpoint). The scalar `range` lives
    // in the scalar registry and does not shadow the FROM-position range
    // TVF (separate table-function registry).
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("list_transform"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.ArrayTransform].getName,
        "list_transform"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.catalyst.expressions.ArrayTransform(args(0), args(1))))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("array_value"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.CreateArray].getName,
        "array_value"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.catalyst.expressions.CreateArray(args)))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("range"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.Sequence].getName, "range"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Literal => L,
          Subtract, Add, Sequence => Sq, If, Or, And, GreaterThan,
          GreaterThanOrEqual, LessThan, LessThanOrEqual}
        import org.apache.spark.sql.types.{ArrayType, IntegerType}
        // DuckDB returns [] for every empty range; Spark's Sequence is
        // end-INCLUSIVE with an inferred step, so the bare mapping gave
        // range(0) -> [0,-1] and threw 'illegal sequence boundaries' for
        // explicit-step empties (r18 ADVICE #1). Guard each shape with a
        // runtime emptiness predicate; the If coercion keeps the element
        // type identical to the unguarded Sequence's, so non-empty results
        // (what every declared query exercises) are bit-identical.
        val emptyArr = L.create(Array.empty[Int],
          ArrayType(IntegerType, containsNull = false))
        args.length match {
          case 1 => If(LessThanOrEqual(args(0), L(0)), emptyArr,
            Sq(L(0), Subtract(args(0), L(1)), None))
          case 2 => If(GreaterThanOrEqual(args(0), args(1)), emptyArr,
            Sq(args(0), Subtract(args(1), L(1)), None))
          case 3 =>
            // runtime sign handling covers non-literal steps too (the old
            // literal match computed wrong bounds for them)
            val step = args(2)
            val empty = Or(
              And(GreaterThan(step, L(0)), GreaterThanOrEqual(args(0), args(1))),
              And(LessThan(step, L(0)), LessThanOrEqual(args(0), args(1))))
            val endAdj = If(GreaterThan(step, L(0)),
              Subtract(args(1), L(1)), Add(args(1), L(1)))
            If(empty, emptyArr, Sq(args(0), endAdj, Some(step)))
          case n => throw new IllegalArgumentException(
            s"range([start,] stop[, step]) takes 1 to 3 arguments, got $n")
        }
      }))
    // pg `expr AT TIME ZONE 'z'` (PgDialect emits the call) and duck
    // strptime — result types depend on operand/format typing
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("at_time_zone"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.AtTimeZone].getName, "at_time_zone"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.AtTimeZone(args(0), args(1))))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("strptime"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.Strptime].getName, "strptime"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Strptime(args(0), args(1))))
    // pg `{...}` / duck `[...]` list-text casts of string LITERALS
    // (PgDialect emits the call; 2nd arg is the target type DDL)
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("from_pg_text"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.FromPgText].getName, "from_pg_text"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val ddl = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
            v.toString
          case other => throw new IllegalArgumentException(
            s"from_pg_text: type argument must be a string literal, got $other")
        }
        graft.functions.FromPgText(args(0), ddl)
      }))
    // Scorer stubs with OPTIONAL trailing parameters — the reference
    // registers every scorer as two overloads, bare and with its parameter
    // list (search.cpp:142-173: bm25(k1, b), tfidf(with_norms),
    // lm_jm(lambda), lm_dirichlet/indri_dirichlet(mu), dfi(measure)).
    // spark.udf.register is single-arity, so each name injects a builder
    // that constructs the ScalaUDF at whatever arity the call uses
    // (3 = col/query/dict, +0-2 params); the claim rules read the extra
    // literal children, the stub itself still always throws at row-eval.
    graft.search.SqlSurface.scorerNames.foreach { n =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(n),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.search.SqlSurface", n),
        (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(args.size >= 3 && args.size <= 5,
            s"$n expects 3-5 arguments (col, query, dict[, params…]), got ${args.size}")
          val fn: AnyRef = args.size match {
            case 3 => (_: Any, _: Any, _: Any) =>
              graft.search.SqlSurface.scorerStubThrow(n)
            case 4 => (_: Any, _: Any, _: Any, _: Any) =>
              graft.search.SqlSurface.scorerStubThrow(n)
            case _ => (_: Any, _: Any, _: Any, _: Any, _: Any) =>
              graft.search.SqlSurface.scorerStubThrow(n)
          }
          org.apache.spark.sql.catalyst.expressions.ScalaUDF(
            fn, org.apache.spark.sql.types.DoubleType, args,
            Nil, udfName = Some(n))
        }))
    }
    // ts_levenshtein(text[, dist[, transpositions[, prefix]]]) — variable
    // arity with the reference's auto-distance ladder + validation
    // (ts_levenshtein.cpp:34-76). Arguments must be constants (the
    // reference binds them the same way); the result folds to the encoded
    // TSQUERY literal at plan time.
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("ts_levenshtein"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.search.TsQueryCodec", "ts_levenshtein"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        require(args.nonEmpty && args.size <= 4,
          s"ts_levenshtein expects 1-4 arguments, got ${args.size}")
        def lit(i: Int): Option[Any] = args.lift(i).map {
          case Literal(v, _) if v != null => v
          case other => throw new IllegalArgumentException(
            s"ts_levenshtein arguments must be constants, got $other")
        }
        val text = lit(0).map(_.toString).get
        val dist = lit(1).map(_.toString.toInt).getOrElse(-1)
        val trans = lit(2).map(_.toString.toBoolean).getOrElse(true)
        val prefix = lit(3).map(_.toString).getOrElse("")
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
          graft.search.TsQueryCodec.levenshtein(text, dist, trans, prefix)),
          org.apache.spark.sql.types.StringType)
      }))
    // ts_ngram(query[, threshold]) — 1-arg form defaults the similarity
    // floor to 0.7 (ngram_match.test's "default threshold").
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("ts_ngram"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.search.TsQueryCodec", "ts_ngram"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        require(args.nonEmpty && args.size <= 2,
          s"ts_ngram expects 1-2 arguments, got ${args.size}")
        def lit(i: Int): Option[Any] = args.lift(i).map {
          case Literal(v, _) if v != null => v
          case other => throw new IllegalArgumentException(
            s"ts_ngram arguments must be constants, got $other")
        }
        val q = lit(0).map(_.toString).get
        val j = lit(1).map(_.toString.toDouble).getOrElse(0.7)
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
          graft.search.TsQueryCodec.ngram(q, j)),
          org.apache.spark.sql.types.StringType)
      }))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("osa_distance"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.OsaDistanceExpr].getName, "osa_distance"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.OsaDistanceExpr(args(0), args(1), args(2))))
    graft.functions.QuantizationExpressions.functions.foreach(e.injectFunction)
    graft.functions.MinHashExpr.functions.foreach(e.injectFunction)
    graft.functions.GeoWkb.functions.foreach(e.injectFunction)
    graft.functions.GeoGeom.functions.foreach(e.injectFunction)
    // DuckDB's array constructor spelling (the reference corpus writes
    // `array_value(x, y, z)` for vector expressions) — a pure alias of
    // Spark's CreateArray, codegen'd like the builtin
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("array_value"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.CreateArray].getName,
        "array_value"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.catalyst.expressions.CreateArray(args)))
  }
}

/** Resolves `information_schema.<view>` relations into analyzer-time
  * LocalRelation snapshots of catalog/RBAC metadata (the reference ships
  * information_schema as a pg module, server/pg/information_schema/).
  * Materializing at resolution means the views are always current with
  * zero registration or refresh machinery; pg's own information_schema is
  * likewise a set of catalog-heap projections. Only fires on the exact
  * two-part `information_schema.x` name, so no real table can collide
  * (Spark reserves no such database by default). */
case class ResolveInformationSchema(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("information_schema") =>
        graft.catalog.InfoSchema
          .relation(spark, u.multipartIdentifier(1).toLowerCase)
          .getOrElse(u)
    }
}

/** Opt-in strict stub surface — the reference's `SearchStubFn` behavior
  * (/root/reference/server/connector/functions/search.h:128-132: a search
  * stub that escapes the claim THROWS; scorer misuse
  * iresearch_plan.cpp:778-782). Under `spark.graft.strictClaims=true`, a
  * `ts_match` or scorer stub that survives every optimizer claim pass
  * raises an AnalysisException naming the missing index instead of
  * silently row-evaluating — a user who typo'd the DDL learns their index
  * is dark at plan time, not from a slow query. Implemented as a planner
  * strategy (never produces a physical plan) because strategies see each
  * node AFTER all optimizer batches have finished — an optimizer-rule
  * check could fire before a later pass claims the predicate. Default mode
  * keeps the safe fallback: row-eval is always result-correct. */
case class StrictClaimCheck(spark: SparkSession)
    extends org.apache.spark.sql.execution.SparkStrategy {
  private val stubNames = graft.search.SqlSurface.scorerNames.toSet ++
    graft.search.SqlSurface.sugarNames + "ts_match"

  /** Whether an index covering this stub's (scan, column, analyzer) IS
    * registered — then the problem is the query SHAPE, not a missing DDL,
    * and the error should say so (round-7 verdict item 9: name the actual
    * limitation, not a misleading "no matching index"). */
  private def indexExistsFor(plan: LogicalPlan, arg: Expression,
      dict: String): Boolean = arg match {
    case a: AttributeReference =>
      plan.exists {
        case lr: LogicalRelation if PlanShapes.isColumnOf(lr, a, a.name) =>
          PlanShapes.scanRoot(lr)
            .exists(root => IndexCatalog.lookupText(root, a.name, dict).isDefined)
        case _ => false
      }
    case e =>
      val attrs = e.references.toSeq
      attrs.nonEmpty && plan.exists {
        case lr: LogicalRelation if attrs.forall(lr.outputSet.contains) =>
          PlanShapes.scanRoot(lr).exists { root =>
            val bareSql = e.transform {
              case a: AttributeReference => a.withQualifier(Seq.empty)
            }.sql
            graft.search.ExprIndexes.lookup(root, bareSql, dict).isDefined
          }
        case _ => false
      }
  }

  override def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    if (spark.conf.get("spark.graft.strictClaims", "false").toBoolean) {
      // walk the whole subtree: the planner does not visit every logical
      // node individually (FileSourceStrategy consumes Project+Filter+Scan
      // in one shot), so a single-node check would miss a stub inside a
      // collapsed span. The root invocation covers the full plan.
      plan.foreach(node => node.expressions.foreach(_.foreach {
        case u: ScalaUDF if u.udfName.exists(stubNames.contains) =>
          val name = u.udfName.get
          val detail = u.children match {
            case Seq(arg, Literal(q: UTF8String, _), Literal(d: UTF8String, _)) =>
              if (indexExistsFor(plan, arg, d.toString))
                s"$name(${arg.sql}, '$q', '$d') has a matching registered " +
                  "index, but THIS query shape is not claimable — supported " +
                  "shapes: a WHERE conjunct over the indexed scan; ORDER BY " +
                  "<scorer> DESC LIMIT k (optionally composed with claimable " +
                  "WHERE conjuncts); a scorer score-threshold conjunct. " +
                  "Workaround: stage the non-claimable part into a temp view " +
                  "first, then run the claimable query over it"
              else
                s"$name(${arg.sql}, '$q', '$d') needs CREATE SEARCH INDEX ... " +
                  s"ON <table> (${arg.sql}) WITH (analyzer = '$d', ...) — no " +
                  "matching index is registered for this scan"
            case Seq(arg, qExpr, Literal(d: UTF8String, _))
                if TsPredicates.constQuery(qExpr).isDefined =>
              if (indexExistsFor(plan, arg, d.toString))
                s"$name(${arg.sql}, <constructor>, '$d') has a matching " +
                  "registered index, but THIS query shape is not claimable"
              else
                s"$name(${arg.sql}, <constructor>, '$d') needs CREATE SEARCH " +
                  s"INDEX ... ON <table> (${arg.sql}) WITH (analyzer = '$d', ...)"
            case _ => s"$name(...) with non-literal query/dict arguments can never claim"
          }
          throw new org.apache.spark.sql.AnalysisException(
            "USER_RAISED_EXCEPTION", Map("errorMessage" ->
              (s"strictClaims: $detail; the predicate would row-evaluate. " +
                "Fix the query/index or unset spark.graft.strictClaims.")))
        case _ => ()
      }))
    }
    Nil
  }
}

/** RBAC enforcement — the reference's plan-time privilege check
  * (optimizer/rbac.{h,cpp}) with its bypass-proofing contract
  * (rbac/enf_disable_optimizer_bypass.test: disabling the optimizer must
  * not skip enforcement). Two design consequences here:
  *
  *  - it is a planner STRATEGY, not an optimizer rule — strategies are
  *    not subject to `spark.sql.optimizer.excludedRules`, and they see
  *    the FINAL plan after every claim rewrite;
  *  - a claim may have replaced the protected table's scan with
  *    index-artifact reads, so scans under the index store are mapped
  *    back to the SOURCE table root through the index catalogs before
  *    the grant check — an index over a protected table is as protected
  *    as the table.
  *
  * With no `SET ROLE` in the session the check is a no-op (superuser). */
case class RbacCheck(spark: SparkSession)
    extends org.apache.spark.sql.execution.SparkStrategy {
  import graft.search.Rbac

  override def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    // engine-internal reads (DML rewrite machinery, catalog maintenance)
    // are authorized by the statement-level privilege checks, not the
    // scan gate — pg likewise charges DML table permissions once, at
    // ExecCheckPermissions, not per internal heap access
    if (!graft.catalog.ObjectCatalog.internal.value &&
        Rbac.active && Rbac.currentRole(spark).nonEmpty) {
      // COLUMN-grant precision only at the TRUE planner root (the
      // ReturnAnswer wrapper): there, a scan attr counts as used when any
      // operator references it or it escapes in the output — `count(*)`
      // uses none (PG: passes with any column privilege). planLater
      // subtree invocations see un-pruned relations (an Aggregate's bare
      // child claims every column), so they enforce the table-level gate
      // only — the root invocation has already charged the precise
      // column check for every relation in the query.
      val (atRoot, inner) = plan match {
        case org.apache.spark.sql.catalyst.plans.logical.ReturnAnswer(p) => (true, p)
        case p => (false, p)
      }
      // leaves excluded: LogicalRelation.expressions is its own output
      // attribute list, which would mark every column as used
      val used = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        inner.collect { case n if n.children.nonEmpty =>
          n.expressions.flatMap(_.references) }.flatten) ++
        inner.outputSet
      inner.foreach {
        case lr: LogicalRelation =>
          // an index leaf reads its artifacts inside its own task
          val leafDir = Some(lr.relation).collect { case l: graft.index.IndexLeaf => l }
            .flatMap(_.indexDir)
          PlanShapes.scanRoot(lr).orElse(leafDir).foreach { root =>
            // an index artifact counts as reading the SOURCE columns it
            // materializes (postings reveal the indexed column; the
            // covering sidecar carries source columns verbatim)
            val (src, usedCols) = IndexCatalog.sourceOfArtifact(spark, root) match {
              case Some((s, cols)) => (s, if (atRoot) cols else Set.empty[String])
              case None =>
                (root,
                  if (atRoot) lr.output.filter(used.contains).map(_.name).toSet
                  else Set.empty[String])
            }
            Rbac.check(spark, src, src.split("/").lastOption.getOrElse(src), usedCols)
          }
        case _ => ()
      }
    }
    Nil
  }
}

/** Shared plan-shape guards for the claim rules. A claim replaces a subtree
  * with an index read, so it is only sound when the replaced subtree is
  * EXACTLY the shape the index precomputes: a bare scan (modulo column
  * pruning). Any Filter/Join/Limit in between would be silently discarded by
  * the rewrite — the reference bails the same way when its pushdown walk
  * meets a node it cannot claim (iresearch_plan.cpp:1068 claim loop stops at
  * non-matching operators; ts_dict_plan.hpp only fires on the exact
  * aggregate-over-scan pattern). */
private[plans] object PlanShapes {
  import org.apache.spark.sql.catalyst.expressions.Attribute
  import org.apache.spark.sql.catalyst.plans.logical.Project

  /** Walks through column-pruning Projects only; returns the first
    * non-Project node. Anything row-reducing (Filter, Limit, Join, …) is
    * returned as-is and will fail the caller's pattern match — the
    * conservative bail. */
  @annotation.tailrec
  def stripProjects(plan: LogicalPlan): LogicalPlan = plan match {
    case Project(_, child) => stripProjects(child)
    case other => other
  }

  /** Give every leaf relation in `plan` fresh output exprIds (and remap the
    * references above them) — the manual analogue of the analyzer's
    * DeduplicateRelations for a rule-constructed self-join. */
  def freshRelationIds(plan: LogicalPlan): LogicalPlan = {
    val mapping = scala.collection.mutable.Map.empty[
      org.apache.spark.sql.catalyst.expressions.ExprId,
      org.apache.spark.sql.catalyst.expressions.Attribute]
    plan.transformUp {
      case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
        val fresh = m.newInstance()
        mapping ++= m.asInstanceOf[LogicalPlan].output.zip(fresh.output)
          .map { case (o, n) => o.exprId -> n }
        fresh
      case other => other.transformExpressions {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          mapping.getOrElse(a.exprId, a)
      }
    }
  }

  /** The (relation, root path) iff `plan` is a Project-only chain over a
    * single-root file scan — the catalog lookup key. */
  def bareScan(plan: LogicalPlan): Option[(LogicalRelation, String)] =
    stripProjects(plan) match {
      case lr: LogicalRelation => scanRoot(lr).map(r => (lr, r))
      case _ => None
    }

  /** Root path of a file-backed relation (catalog key form: no `file:`). */
  def scanRoot(lr: LogicalRelation): Option[String] = lr.relation match {
    case h: HadoopFsRelation =>
      h.location.rootPaths.headOption.map(_.toString.stripPrefix("file:"))
    case _ => None
  }

  /** Provenance: `attr` must BE the relation's column named `name` — same
    * exprId, not merely the same name. A same-named attribute produced by an
    * alias or another relation in a join must never be claimed against this
    * relation's index. */
  def isColumnOf(lr: LogicalRelation, attr: Attribute, name: String): Boolean =
    attr.name == name && lr.output.exists(o => o.name == name && o.exprId == attr.exprId)
}

/** Rewrites token-facet aggregates onto the index term dictionary — the
  * analogue of the reference's `PushdownTsDictAggregates`
  * (/root/reference/server/connector/optimizer/ts_dict_plan.hpp:17-28,
  * 2,094 LoC impl; semantics ts_dict.test:42-55): a GROUP BY over
  * `explode(ts_tokenize_sql(text, 'dict'))` computing `count(*)` (= total
  * term frequency, ctf) and/or `count(DISTINCT <id>)` (= document
  * frequency, df) never needs to tokenize anything — both aggregates are
  * precomputed per term in the index's term dictionary. Turns an
  * O(total tokens) explode+shuffle into a read of the (tiny) dictionary.
  *
  * Claimed shape: Aggregate(group=[token], aggs ⊆ {token, count(1),
  * count(distinct id)}) over Generate(explode(ts_tokenize_sql(col,
  * literal dict))) over a scan with a catalog-registered index on
  * (scan root, col, dict). Anything else is left alone.
  */
case class PushdownTsDictAggregate(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Project}
  import org.apache.spark.sql.catalyst.expressions.Explode

  /** The claimable shapes, checked strictly. Aggregate.child must be a
    * Project-only chain down to Generate(explode(ts_tokenize_sql(col,
    * 'dict'))), whose child (modulo Projects) is either
    *
    *  - a bare scan with a registered (root, col, dict) text index → the
    *    UNFILTERED facet: both aggregates are precomputed in the term
    *    dictionary (df/ctf); or
    *  - a LeftSemi join of that bare scan against an arbitrary match subtree
    *    on the scan's own id column — the shape ClaimTsMatch leaves behind
    *    for a fully-claimed `WHERE ts_match(...)` — → the FILTERED facet:
    *    counts are re-aggregated from the POSTINGS of the matched docs
    *    (semi-join postings on doc id, group by term), the reference's
    *    ts_dict WHERE-claim (ts_dict_plan.hpp:17-28). Nothing tokenizes in
    *    either shape.
    *
    * Any other Filter / Join / Limit on either leg means the index totals
    * would not match the query's input rows — bail, keep the explode plan
    * (the facet then tokenizes only what the residual filter passes; still
    * correct). The tokenized column and the id column are provenance-checked
    * by exprId against the scan, never by name. */
  private case class FacetClaim(tokenAttr: Attribute, segDir: String,
      lr: LogicalRelation, idCol: String,
      filtered: Option[(LogicalPlan, Attribute)])

  /** [[tokenizeGen]] plus an optional TOKEN-RESIDUAL: a deterministic
    * Filter above the Generate whose condition references ONLY the token
    * attribute. Such a predicate commutes with the facet aggregation (it
    * drops whole term groups), so it becomes a residual filter over the
    * DICTIONARY rows — the reference's `len` leg in ts_dict_cartesian.test:
    * `WHERE length(body) = 5` plans as a FILTER over the term projection of
    * the IRESEARCH_SCAN, never a tokenize. */
  private def tokenizeGenResidual(plan: LogicalPlan): Option[(FacetClaim, Option[Expression])] =
    PlanShapes.stripProjects(plan) match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, fc) if cond.deterministic =>
        tokenizeGen(fc)
          .filter(c => cond.references.subsetOf(
            org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(c.tokenAttr))))
          .map(c => (c, Some(cond)))
      case _ => tokenizeGen(plan).map((_, None))
    }

  private def tokenizeGen(plan: LogicalPlan): Option[FacetClaim] =
    PlanShapes.stripProjects(plan) match {
      case g @ Generate(Explode(u: ScalaUDF), _, _, _, _, _)
          if u.udfName.contains("ts_tokenize_sql") =>
        (u.children, g.generatorOutput) match {
          case (Seq(a: AttributeReference, Literal(d: UTF8String, _)), Seq(tokenAttr)) =>
            val dict = d.toString
            PlanShapes.stripProjects(g.child) match {
              case _: LogicalRelation =>
                for {
                  (lr, root) <- PlanShapes.bareScan(g.child)
                  if PlanShapes.isColumnOf(lr, a, a.name)
                  e <- IndexCatalog.lookupText(root, a.name, dict)
                  // a PARTIAL index covers a row subset — serving a facet
                  // from its dictionary would silently undercount
                  if e.predicate.isEmpty
                } yield FacetClaim(tokenAttr, e.segDir, lr, e.idCol, None)
              case Join(l, r, LeftSemi, Some(EqualTo(lk: AttributeReference, rk: AttributeReference)), _) =>
                for {
                  (lr, root) <- PlanShapes.bareScan(l)
                  if PlanShapes.isColumnOf(lr, a, a.name)
                  e <- IndexCatalog.lookupText(root, a.name, dict)
                  if e.predicate.isEmpty
                  // the join key must be the scan's own id column, either side
                  (lkey, rkey) = if (lr.output.exists(_.exprId == lk.exprId)) (lk, rk) else (rk, lk)
                  if PlanShapes.isColumnOf(lr, lkey, e.idCol) && r.outputSet.contains(rkey)
                } yield FacetClaim(tokenAttr, e.segDir, lr, e.idCol, Some((r, rkey)))
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Seq(groupAttr: Attribute), aggExprs, child, _) =>
      try {
        tokenizeGenResidual(child) match {
          case Some((c, residual)) if groupAttr.semanticEquals(c.tokenAttr) =>
            (c.filtered match {
              case None => rewrite(agg, aggExprs, c, residual)
              case Some((right, rightKey)) =>
                rewriteFiltered(agg, aggExprs, c, right, rightKey, residual)
            }).getOrElse(agg)
          case _ => agg
        }
      } catch {
        case e: Exception =>
          logWarning(s"ts_dict pushdown failed, keeping explode plan: $e")
          agg
      }
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      try {
        tokenizeGen(child) match {
          case Some(c) if c.filtered.isEmpty =>
            rewriteUngrouped(aggExprs, c).getOrElse(agg)
          // claimed-filter shape (ts_match → LeftSemi): the same aggregates
          // re-derive from the POSTINGS of the matched docs — min/max/NDV
          // over the semi-joined terms, total tokens = sum(tf)
          case Some(c) =>
            val (right, rightKey) = c.filtered.get
            rewriteUngroupedFiltered(aggExprs, c, right, rightKey).getOrElse(agg)
          case _ => agg
        }
      } catch {
        case e: Exception =>
          logWarning(s"ts_dict ungrouped pushdown failed, keeping explode plan: $e")
          agg
      }
  }

  /** Ungrouped min/max/NDV/token-count over a CLAIMED-filter facet — the
    * reference's ts_dict WHERE-claim applied to the convertible aggregates
    * (ts_dict_plan.hpp:17-28 + ts_dict_minmax_count.test): counts come from
    * the postings rows of the matched docs, so nothing tokenizes and only
    * matched postings aggregate. */
  private def rewriteUngroupedFiltered(aggExprs: Seq[NamedExpression],
      c: FacetClaim, right: LogicalPlan, rightKey: Attribute): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
    import org.apache.spark.sql.functions.{col => f}
    val mapped: Seq[Option[(Alias, String)]] = aggExprs.map {
      case al @ Alias(AggregateExpression(Min(a: Attribute), _, false, _, _), _)
          if a.semanticEquals(c.tokenAttr) => Some(al -> "__mn")
      case al @ Alias(AggregateExpression(Max(a: Attribute), _, false, _, _), _)
          if a.semanticEquals(c.tokenAttr) => Some(al -> "__mx")
      case al @ Alias(AggregateExpression(Count(Seq(a: Attribute)), _, true, _, _), _)
          if a.semanticEquals(c.tokenAttr) => Some(al -> "__nd")
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, _, _), _) =>
        Some(al -> "__nt")
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) return None
    val idx = graft.index.IndexStore.load(spark, c.segDir)
    val posts = idx.postings.select(f("term"), f("doc_id"), f("tf").cast("long").as("tf"))
    val pPlan = freshRelationIds(posts.queryExecution.optimizedPlan)
    val Seq(termA, docA, _) = pPlan.output
    val joined = Join(pPlan, right, LeftSemi, Some(EqualTo(docA, rightKey)), JoinHint.NONE)
    // aggregate over matched postings via the DataFrame API on a wrapped
    // plan is not available inside a rule — construct the Aggregate node
    val aggd = {
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Count => CCount, Max => CMax, Min => CMin, Sum => CSum}
      val mn = Alias(AggregateExpression(CMin(termA), Complete, isDistinct = false), "__mn")()
      val mx = Alias(AggregateExpression(CMax(termA), Complete, isDistinct = false), "__mx")()
      val nd = Alias(AggregateExpression(CCount(Seq(termA)), Complete, isDistinct = true), "__nd")()
      val nt = Alias(org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
        AggregateExpression(CSum(pPlan.output(2)), Complete, isDistinct = false),
        Literal(0L))), "__nt")()
      Aggregate(Nil, Seq(mn, mx, nd, nt), joined)
    }
    if (!aggd.resolved) {
      logWarning("filtered ungrouped ts_dict rewrite produced an unresolved plan, bailing:\n" +
        aggd.treeString)
      return None
    }
    val byName = aggd.output.map(a => a.name -> a).toMap
    Some(Project(
      mapped.flatten.map { case (al, key) =>
        Alias(byName(key), al.name)(exprId = al.exprId) },
      aggd))
  }

  /** Ungrouped dictionary aggregates — the reference's convertible-aggregate
    * claim (ts_dict_minmax_count.test: `count(DISTINCT col)`, `min(col)`,
    * `max(col)` over an indexed column are served from the term enumeration;
    * `ts_dict_min`/`ts_dict_max` stubs, search.h:110-111; min-only requests
    * stop at the first live term per segment — TsDictTermUses::kMin,
    * duckdb_search_full_scan.cpp:2660). Here: min/max(token) = the ends of
    * the byte-ordered dictionary, count(DISTINCT token) = dictionary row
    * count, count(*) (total tokens) = sum(ctf). Nothing tokenizes; the
    * aggregate runs over the (tiny) dictionary instead of every token. */
  private def rewriteUngrouped(aggExprs: Seq[NamedExpression],
      c: FacetClaim): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
    import org.apache.spark.sql.functions.{coalesce => fCoalesce, col => f, count => fCount, lit => fLit, max => fMax, min => fMin, sum => fSum}
    // every aggregate must map onto a dictionary-served value, else bail
    val mapped: Seq[Option[(Alias, String)]] = aggExprs.map {
      case al @ Alias(AggregateExpression(Min(a: Attribute), _, false, _, _), _)
          if a.semanticEquals(c.tokenAttr) => Some(al -> "__mn")
      case al @ Alias(AggregateExpression(Max(a: Attribute), _, false, _, _), _)
          if a.semanticEquals(c.tokenAttr) => Some(al -> "__mx")
      case al @ Alias(AggregateExpression(Count(Seq(a: Attribute)), _, true, _, _), _)
          if a.semanticEquals(c.tokenAttr) => Some(al -> "__nd")
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, _, _), _) =>
        Some(al -> "__nt")
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) return None
    val dict = graft.index.IndexStore.load(spark, c.segDir).termDict
    val aggd = dict.agg(
      fMin(f("term")).as("__mn"), fMax(f("term")).as("__mx"),
      fCount(fLit(1)).as("__nd"),
      fCoalesce(fSum(f("ctf")), fLit(0L)).cast("long").as("__nt"))
    val rPlan = freshRelationIds(aggd.queryExecution.optimizedPlan)
    val byName = rPlan.output.map(a => a.name -> a).toMap
    Some(Project(
      mapped.flatten.map { case (al, key) =>
        Alias(byName(key), al.name)(exprId = al.exprId) },
      rPlan))
  }

  private def freshRelationIds(plan: LogicalPlan): LogicalPlan =
    PlanShapes.freshRelationIds(plan)

  /** Filtered facet → postings-driven counts: LeftSemi(postings, matched) on
    * doc id, group by term; count(*) over the explode ≡ sum(tf), and
    * count(DISTINCT id) ≡ count(*) (postings hold one row per (term, doc)). */
  private def rewriteFiltered(agg: Aggregate, aggExprs: Seq[NamedExpression],
      c: FacetClaim, right: LogicalPlan, rightKey: Attribute,
      residual: Option[Expression] = None): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col => f}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Sum}
    val idx = graft.index.IndexStore.load(spark, c.segDir)
    val posts = idx.postings.select(f("term"), f("doc_id"), f("tf").cast("long").as("tf"))
    // `right` may hold these postings' leaf exprIds (loads of one snapshot
    // in one session share their frames): re-instancing keeps the
    // self-join's sides disjoint
    val pBase = freshRelationIds(posts.queryExecution.optimizedPlan)
    // token residual commutes with the per-term grouping — apply it to the
    // postings' term column BEFORE the semi-join (prunes earliest)
    val pPlan = residual match {
      case Some(cond) =>
        val bound = cond.transform {
          case a: Attribute if a.exprId == c.tokenAttr.exprId => pBase.output.head
        }
        org.apache.spark.sql.catalyst.plans.logical.Filter(bound, pBase)
      case None => pBase
    }
    val Seq(termA, docA, tfA) = pPlan.output
    val joined = Join(pPlan, right, LeftSemi, Some(EqualTo(docA, rightKey)), JoinHint.NONE)
    val mapped = aggExprs.map {
      case a: Attribute if a.semanticEquals(c.tokenAttr) =>
        Some(Alias(termA, a.name)(exprId = a.exprId))
      // `tok AS term` — a renamed group key is still the postings term
      case al @ Alias(a: Attribute, name) if a.semanticEquals(c.tokenAttr) =>
        Some(Alias(termA, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, _, _), name) =>
        Some(Alias(AggregateExpression(Sum(tfA), Complete, isDistinct = false), name)(
          exprId = al.exprId))
      case al @ Alias(AggregateExpression(Count(Seq(cc: Attribute)), _, true, _, _), name)
          if PlanShapes.isColumnOf(c.lr, cc, c.idCol) =>
        Some(Alias(AggregateExpression(Count(Literal(1)), Complete, isDistinct = false), name)(
          exprId = al.exprId))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None
    else {
      val out = agg.copy(groupingExpressions = Seq(termA),
        aggregateExpressions = mapped.flatten, child = joined)
      if (!out.resolved) {
        logWarning("filtered ts_dict rewrite produced an unresolved plan, bailing:\n" +
          out.treeString)
        None
      } else Some(out)
    }
  }

  private def rewrite(agg: Aggregate, aggExprs: Seq[NamedExpression],
      c: FacetClaim, residual: Option[Expression] = None): Option[LogicalPlan] = {
    val idx = graft.index.IndexStore.load(spark, c.segDir)
    val td = idx.termDict.select(
      org.apache.spark.sql.functions.col("term"),
      org.apache.spark.sql.functions.col("df").cast("long").as("df"),
      org.apache.spark.sql.functions.col("ctf").cast("long").as("ctf"))
    val tdBase = freshRelationIds(td.queryExecution.optimizedPlan)
    // token residual → dictionary residual: same predicate, token attr
    // re-bound to the dict's term column (the reference's FILTER over the
    // term projection, ts_dict_cartesian.test `len` leg)
    val tdPlan = residual match {
      case Some(cond) =>
        val bound = cond.transform {
          case a: Attribute if a.exprId == c.tokenAttr.exprId => tdBase.output.head
        }
        org.apache.spark.sql.catalyst.plans.logical.Filter(bound, tdBase)
      case None => tdBase
    }
    val Seq(termA, dfA, ctfA) = tdPlan.output

    // every output column must map onto a dictionary column, else bail
    val mapped = aggExprs.map {
      case a: Attribute if a.semanticEquals(c.tokenAttr) =>
        Some(Alias(termA, a.name)(exprId = a.exprId))
      // `tok AS term` — a renamed group key is still the dictionary term
      case al @ Alias(a: Attribute, name) if a.semanticEquals(c.tokenAttr) =>
        Some(Alias(termA, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, _, _), name) =>
        Some(Alias(ctfA, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(Count(Seq(cc: Attribute)), _, true, _, _), name)
          if PlanShapes.isColumnOf(c.lr, cc, c.idCol) =>
        Some(Alias(dfA, name)(exprId = al.exprId))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None
    else Some(Project(mapped.flatten, tdPlan))
  }
}

/** Shared ANN-claim helpers: the per-metric score mapping (the reference's
  * metric table, iresearch_plan.cpp:546-621 / duckdb_table_function.h:63-68)
  * and the query-vector literal decode. All three registered distance stubs
  * are ASC-best: `ann_l2` = squared L2, `ann_cosine` = 1 − cos, `ann_ip` =
  * −dot. */
private[plans] object AnnShapes {
  import org.apache.spark.sql.catalyst.util.ArrayData

  val Metrics: Map[String, String] =
    Map("ann_l2" -> "l2", "ann_cosine" -> "cosine", "ann_ip" -> "ip")

  /** `ann_<metric>(col, <const vector>)` → (column, query, metric). A
    * `sqrt(ann_l2(...))` wrapper — the pg `<->` spelling, true Euclidean —
    * is transparent here: sqrt is strictly monotone on the non-negative
    * squared distance, so distance ORDER is identical. */
  def annUdf(e: Expression): Option[(AttributeReference, Seq[Float], String)] = e match {
    case org.apache.spark.sql.catalyst.expressions.Sqrt(inner) =>
      annUdf(inner).filter(_._3 == "l2")
    case u: ScalaUDF =>
      Metrics.collectFirst {
        case (fn, metric) if u.udfName.contains(fn) => metric
      }.flatMap { metric =>
        u.children match {
          case Seq(a: AttributeReference, Literal(arr: ArrayData, t)) =>
            decode(arr, t).map(q => (a, q, metric))
          case _ => None
        }
      }
    case _ => None
  }

  def decode(arr: ArrayData,
      t: org.apache.spark.sql.types.DataType): Option[Seq[Float]] = t match {
    case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => Some(arr.toFloatArray().toSeq)
    case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) =>
      Some(arr.toDoubleArray().toSeq.map(_.toFloat))
    case _ => None
  }

  /** Unit-normalize a query for a cosine index (whose stored vectors are
    * normalized by IndexCatalog.annSource). */
  def normalize(q: Seq[Float]): Seq[Float] = {
    val n = math.sqrt(q.map(x => x.toDouble * x).sum)
    if (n == 0) q else q.map(x => (x / n).toFloat)
  }

  /** The lazily-ensured IVF index for a catalog entry. DDL builds eagerly,
    * so the normal path is the published version, already opened or a
    * metadata-only disk load; if
    * the on-disk artifact was deleted AFTER registration, the claim FAILS
    * (throw → caller's catch keeps the exact sort) rather than running a
    * training job inside the optimizer — plan time must never run jobs. */
  def ivfFor(spark: SparkSession, root: String,
      e: IndexCatalog.AnnEntry): graft.index.IvfIndex = {
    // e.lists is part of the artifact directory name (dirFor's
    // `-ivf<k>|auto-` tag) — resolving without it sent every lists>0 index
    // to the wrong path on a fresh JVM (r17 ADVICE)
    if (!graft.index.IvfIndex.available(spark, e.cacheKey, e.lists))
      throw new IllegalStateException(
        s"vector index ${e.cacheKey} is registered but its on-disk artifact " +
          "is gone — failing the claim (exact sort keeps the query correct); " +
          "re-run CREATE VECTOR INDEX to rebuild")
    graft.index.IvfIndex.ensure(spark,
      IndexCatalog.annSource(spark, root, e), e.cacheKey, e.lists)
  }
}

/** Claims `ORDER BY ann_<metric>(embedding, <const vector>) LIMIT k` over a
  * scan with a catalog-registered vector index into an IVF probe — the
  * analogue of the reference's `PushdownDistanceCall` / ANN top-k claim
  * (/root/reference/server/connector/optimizer/iresearch_plan.cpp:546-621):
  * distance order + limit over an ANN-indexed column becomes a
  * partition-pruned probe of the index's inverted lists with exact distance
  * inside and a global O(k) merge. The probe set comes from the static
  * ball bound (driver metadata only — no Spark job at plan time), so the
  * claimed result EQUALS the exact sort it replaces.
  *
  * Projections wider than the id column are claimed via PK-lookup late
  * materialization (the reference's search_pk_lookup.h): probe for ids,
  * then one join back to the scan for the other columns. */
case class ClaimAnnTopK(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, SortOrder}
  import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Project, Sort}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case gl @ GlobalLimit(Literal(k: Int, _), LocalLimit(_, inner)) =>
      try {
        val shaped = inner match {
          case Project(projList, Sort(Seq(SortOrder(so, Ascending, _, _)), true, grand, _)) =>
            Some((projList, so, grand))
          case Sort(Seq(SortOrder(so, Ascending, _, _)), true, grand, _) =>
            Some((inner.output, so, grand)) // SELECT * — claim all columns
          case _ => None
        }
        val claimed = shaped.flatMap { case (projList, so, grand) =>
            for {
              (embAttr, q, metric) <- AnnShapes.annUdf(so)
              // the sorted input must be the BARE indexed scan (modulo
              // column-pruning Projects): a Filter/Join/Limit under the Sort
              // would be discarded by the probe rewrite — leave those exact
              (lr, root) <- PlanShapes.bareScan(grand)
              if PlanShapes.isColumnOf(lr, embAttr, embAttr.name)
              entry <- IndexCatalog.lookupAnn(root, embAttr.name, metric, Some(spark))
              // every projected column must be the scan's own (id column →
              // direct probe output; others → PK-lookup join-back)
              outAttrs <- Some(projList.collect {
                case a: AttributeReference if PlanShapes.isColumnOf(lr, a, a.name) => a
              }).filter(_.size == projList.size)
              if outAttrs.nonEmpty
            } yield {
              val idx = AnnShapes.ivfFor(spark, root, entry)
              // a quant= declaration on the index is the user's opt-in to
              // the quantized probe (reference: quantized QVectorIterator
              // scoring with the exact raw reranker on the pool —
              // inverted_index_ivf_{sq8,sq4,pq,rabitq}.test); the probe set
              // is still the exact ball bound, so the only approximation is
              // pool escape, bounded by the generous rerank factor. The
              // code family must be LOADABLE here — never built: planning
              // must not run train+encode jobs inside transformUp (r17
              // ADVICE; e.g. a registration restored from the persisted
              // catalog on a fresh cluster) — a missing family falls back
              // to the raw IVF probe below, which ivfFor already verified.
              val quantDir = graft.index.IvfIndex.dirFor(entry.cacheKey, entry.lists)
              val liveQuant = entry.quant.filter(qk =>
                graft.index.QuantizedIvf.availableKind(spark, quantDir, qk))
              lazy val ids = liveQuant match {
                case Some(qk) =>
                  val qi = graft.index.QuantizedIvf.ensureKind(spark, idx,
                    quantDir, qk, entry.pqM)
                  metric match {
                    case "ip" => qi.knnIp(q, k, rerankFactor = 10)
                    case "cosine" => qi.knn(AnnShapes.normalize(q), k, rerankFactor = 10)
                    case _ => qi.knn(q, k, rerankFactor = 10)
                  }
                case None => metric match {
                  case "ip" => idx.knnIp(q, k)
                  case "cosine" => idx.knn(AnnShapes.normalize(q), k)
                  case _ => idx.knn(q, k)
                }
              }
              import org.apache.spark.sql.functions.{col => f}
              // the probe emits rows in distance order; the join-back would
              // scramble it, so carry dist through and re-sort afterwards —
              // the Sort this claim replaces promised distance-ordered output
              // (reference late materialization keeps score order,
              // search_pk_lookup.h)
              lazy val probed = ids.select(f("vec_id").as(entry.idCol), f("dist"))
              val rPlan =
                if (liveQuant.isEmpty && outAttrs.map(_.name) == Seq(entry.idCol))
                  // the raw probe as plan nodes, the id column only
                  metric match {
                    case "ip" => idx.probePlan(idx.ipProbes(q, k), q, k, ip = true)
                    case "cosine" =>
                      val n = AnnShapes.normalize(q)
                      idx.probePlan(idx.exactProbes(n, k), n, k, ip = false)
                    case _ => idx.probePlan(idx.exactProbes(q, k), q, k, ip = false)
                  }
                else {
                  // covered kNN (reference inverted_index_ann_include.test):
                  // when every projected column is the id or an INCLUDE of
                  // a sidecar fresh with the scan, the k-row join-back reads
                  // the narrow stored columnstore, never the base table
                  val covered = IndexCatalog.sidecarDirs(root).iterator
                    .flatMap(StatsShapes.freshSidecar(spark, _, lr.relation))
                    .find(side => side.spec.idCol == entry.idCol && outAttrs.forall(a =>
                      a.name == entry.idCol || side.spec.included.contains(a.name)))
                  val lookup = covered match {
                    case Some(side) =>
                      side.stored(spark).withColumnRenamed("doc_id", entry.idCol)
                    case None => graft.catalog.TableStore.readRoot(spark, root)
                      .getOrElse(spark.read.parquet(root))
                  }
                  probed.join(lookup, Seq(entry.idCol))
                    .orderBy(f("dist"), f(entry.idCol))
                    .select(outAttrs.map(a => f(a.name)): _*)
                    .queryExecution.optimizedPlan
                }
              Project(outAttrs.zip(rPlan.output).map { case (orig, out) =>
                Alias(out, orig.name)(exprId = orig.exprId)
              }, rPlan): LogicalPlan
            }
        }
        claimed.getOrElse(gl)
      } catch {
        case e: Exception =>
          logWarning(s"ANN claim failed, keeping exact sort: $e")
          gl
      }
  }
}

/** Rewrites a SURVIVING `ORDER BY ann_l2/ann_ip(col, <const>)` sort key —
  * the shapes the IVF claim must leave exact (a Filter/Join under the Sort:
  * no static probe set is exact under a filter; the library's adaptive
  * IvfIndex.knnFiltered is the runtime-refined index path, and the
  * reference likewise evaluates its filter tree inside the scan at runtime,
  * iresearch_plan.cpp:546-621) — from the row-eval ScalaUDF into the native
  * codegen'd kernel (L2SqrDistanceExpr / −InnerProductExpr). The fold is
  * the same left-to-right double accumulation as the UDF (and IEEE negation
  * is exact), so values, order AND ties are bit-identical — but the sort
  * key now runs inside whole-stage codegen with no per-row array
  * deserialization into Seq[Float]. Registered AFTER ClaimAnnTopK in the
  * batch, so bare-scan shapes still claim the index probe first.
  * `ann_cosine` keeps the UDF: its zero-norm convention (exactly 1.0) has
  * no loss-free native composition. */
case class ClaimAnnDistanceRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.UnaryMinus
  import org.apache.spark.sql.catalyst.plans.logical.Sort
  import org.apache.spark.sql.types.{ArrayType, FloatType}

  private def isFloatArray(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isAnnUdf(e: Expression): Boolean = e match {
    case u: ScalaUDF => u.udfName.exists(n => n == "ann_l2" || n == "ann_ip")
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Sort(order, _, _, _) if order.exists(_.child.exists(isAnnUdf)) =>
      s.copy(order = order.map(o => o.copy(child = o.child.transform {
        case u: ScalaUDF if isAnnUdf(u) =>
          u.children match {
            case Seq(a, l: Literal)
                if isFloatArray(a.dataType) && isFloatArray(l.dataType) =>
              if (u.udfName.contains("ann_l2"))
                graft.functions.L2SqrDistanceExpr(a, l)
              else UnaryMinus(graft.functions.InnerProductExpr(a, l))
            case _ => u
          }
      })))
  }
}

/** Claims `ann_l2(embedding, <const>) < r` filter conjuncts into a
  * list-pruned IVF range probe — the reference's `TryClaimAnnRange`
  * (iresearch_plan.cpp:927-965). Only lists whose ball overlaps the radius
  * are read (static metadata math); the exact distance filter inside keeps
  * the rewrite result-identical to the row-eval predicate it replaces.
  * Non-claimable conjuncts stay behind as residual filters. */
case class ClaimAnnRange(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{LessThan, LessThanOrEqual}

  /** `ann_l2(col, q) < r` / `<= r` with literal r (squared-L2 units, the
    * ann_l2 score mapping). */
  private def asRange(e: Expression): Option[(AttributeReference, Seq[Float], Double)] = {
    def num(l: Any): Option[Double] = l match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case n: Number => Some(n.doubleValue)
      case _ => None
    }
    val parts = e match {
      // strict < only: the probe's exact row filter is strict, and claiming
      // <= would shift boundary rows — leave <= to row-eval
      case LessThan(u: ScalaUDF, Literal(r, _)) => Some((u, r, false))
      // the pg `<->` spelling: sqrt(ann_l2) < r ⟺ ann_l2 < r² (r > 0 —
      // a non-positive radius matches nothing and stays row-eval)
      case LessThan(org.apache.spark.sql.catalyst.expressions.Sqrt(u: ScalaUDF),
          Literal(r, _)) => Some((u, r, true))
      case _ => None
    }
    parts.flatMap { case (u, r, sq) =>
      for {
        (a, q, metric) <- AnnShapes.annUdf(u)
        if metric == "l2"
        rv <- num(r)
        if !sq || rv > 0
      } yield (a, q, if (sq) rv * rv else rv)
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case fl @ Filter(cond, child) if cond.exists(asRange(_).isDefined) =>
      try {
        val parts = conjuncts(cond)
        val claimable = parts.flatMap { p =>
          for {
            (embAttr, q, rSq) <- asRange(p)
            lr <- child.collectFirst {
              case l: LogicalRelation if PlanShapes.isColumnOf(l, embAttr, embAttr.name) => l
            }
            root <- PlanShapes.scanRoot(lr)
            entry <- IndexCatalog.lookupAnn(root, embAttr.name, "l2", Some(spark))
            idAttr <- lr.output.collectFirst {
              case a: AttributeReference if a.name == entry.idCol => a }
            if child.outputSet.contains(idAttr)
          } yield (p, q, rSq, root, entry, idAttr)
        }
        if (claimable.isEmpty) fl
        else {
          val joined = claimable.foldLeft(child) {
            case (acc, (_, q, rSq, root, entry, idAttr)) =>
              val idx = AnnShapes.ivfFor(spark, root, entry)
              import org.apache.spark.sql.functions.{col => f}
              // ann_l2 scores in squared-L2 units — pass the threshold verbatim
              val ids = idx.rangeSearchSq(q, rSq)
                .select(f("vec_id").as(entry.idCol))
              val mPlan = ids.queryExecution.optimizedPlan
              Join(acc, mPlan, LeftSemi,
                Some(EqualTo(idAttr, mPlan.output.head)), JoinHint.NONE)
          }
          val claimedSet = claimable.map(_._1).toSet
          parts.filterNot(claimedSet).reduceOption(CAnd(_, _))
            .map(Filter(_, joined)).getOrElse(joined)
        }
      } catch {
        case e: Exception =>
          logWarning(s"ANN range claim failed, keeping row-eval filter: $e")
          fl
      }
  }
}

/** Claims `ts_match(col, 'websearch query', 'dict')` predicates over any
  * scan with a catalog-registered text index OUT of row-evaluated filters
  * and INTO an index-backed left-semi join — the direct analogue of the
  * reference's `IResearchPushdownComplexFilter` walk
  * (/root/reference/server/connector/optimizer/iresearch_plan.cpp:1068:
  * claim `@@`/ts_* stubs from filters into the iresearch_scan filter tree;
  * filter build search_filter_builder.cpp:505-531).
  *
  * Claim conditions: the filter's child scans a root registered in the
  * IndexCatalog for (root, column, dict), the first UDF argument is that
  * scanned column (exprId provenance), and query/dict are literals (the
  * reference likewise folds TSQUERY constants before claiming,
  * ts_query.cpp:341). Expression arguments resolve through the ExprIndexes
  * registry by semantic equality instead. Non-claimable conjuncts stay
  * behind as residual filters (ts_dict_residual_filter*.test) — and a claim
  * failure leaves the row-eval UDF in place, so the rewrite can only change
  * HOW the query runs, never its result. */
/** Predicate-shape helpers shared by [[ClaimTsMatch]] and
  * [[ClaimCoveredProjection]] — one algebra, two drive shapes. */
private[plans] object TsPredicates {

  /** A claimable text predicate: ts_match plus the reference's sugar
    * predicates (search.h:95-99), each mapped to the TsQuery leaf its
    * row-eval UDF evaluates — so the claimed and unclaimed paths share one
    * query algebra. Returns (text arg, dict name, analyzer→query). */
  /** Plan-time value of a constant query argument: a string literal, or a
    * TSQUERY-constructor tree (`ts_like('s%m')`, `boost(ts_phrase(...), 2)`
    * — deterministic pure-String UDFs over literals, TsQueryCodec) folded
    * by direct evaluation. Anything referencing a row bails. */
  def constQuery(e: Expression): Option[String] = e match {
    case Literal(q: UTF8String, _) => Some(q.toString)
    case u: ScalaUDF if u.deterministic && u.references.isEmpty &&
        graft.search.SqlSurface.constructorNames.contains(u.udfName.getOrElse("")) =>
      try Option(u.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
        .map(_.toString)
      catch { case scala.util.control.NonFatal(_) => None }
    case _ => None
  }

  private val matchNames = Set("ts_match", "tsquery_match", "has_any_tokens", "has_all_tokens",
    "phrase_matches", "phrase_slop_matches", "levenshtein_matches", "ngram_matches")

  /** The text argument and dictionary of a call that [[asTsMatch]] may
    * accept, read off the UDF's name and argument shape alone: nothing is
    * evaluated, so a rule can test every Filter with it and fold constant
    * queries only where it goes on to claim. */
  def matchTarget(e: Expression): Option[(Expression, String)] = e match {
    case u: ScalaUDF if matchNames.contains(u.udfName.getOrElse("")) =>
      (u.children.head, u.children.last) match {
        case (arg, Literal(d: UTF8String, _)) => Some((arg, d.toString))
        case _ => None
      }
    case _ => None
  }

  def asTsMatch(
      e: Expression): Option[(Expression, String, graft.analysis.Analyzer => graft.search.TsQuery)] = {
    import graft.search.TsQuery
    e match {
      case u: ScalaUDF =>
        (u.udfName.getOrElse(""), u.children) match {
          case ("ts_match", Seq(arg, qExpr, Literal(d: UTF8String, _)))
              if constQuery(qExpr).isDefined =>
            val qs = constQuery(qExpr).get
            Some((arg, d.toString, a => graft.search.TsQueryCodec.decode(qs, a)))
          case ("tsquery_match", Seq(arg, Literal(q: UTF8String, _), Literal(d: UTF8String, _))) =>
            val qs = q.toString
            Some((arg, d.toString, a => graft.search.TsQueryParser.toTsquery(qs, a)))
          case ("has_any_tokens", Seq(arg, Literal(q: UTF8String, _), Literal(d: UTF8String, _))) =>
            val qs = q.toString
            Some((arg, d.toString, a => TsQuery.Or(a.tokens(qs).map(TsQuery.Term.apply))))
          case ("has_all_tokens", Seq(arg, Literal(q: UTF8String, _), Literal(d: UTF8String, _))) =>
            val qs = q.toString
            Some((arg, d.toString, a => TsQuery.And(a.tokens(qs).map(TsQuery.Term.apply))))
          case ("phrase_matches", Seq(arg, Literal(q: UTF8String, _), Literal(d: UTF8String, _))) =>
            val qs = q.toString
            Some((arg, d.toString, a => TsQuery.Phrase(a.tokens(qs))))
          case ("phrase_slop_matches", Seq(arg, Literal(q: UTF8String, _),
              Literal(slop: Int, _), Literal(d: UTF8String, _))) =>
            val qs = q.toString
            Some((arg, d.toString, a => {
              val ts = a.tokens(qs)
              if (ts.size < 2) TsQuery.Phrase(ts) else TsQuery.SlopPhrase(ts, slop)
            }))
          case ("levenshtein_matches", Seq(arg, Literal(t: UTF8String, _),
              Literal(maxD: Int, _), Literal(d: UTF8String, _))) =>
            val ts = t.toString
            Some((arg, d.toString, _ => TsQuery.Fuzzy(ts, maxD)))
          case ("ngram_matches", Seq(arg, Literal(q: UTF8String, _),
              Literal(minJ: Double, _), Literal(d: UTF8String, _))) =>
            val qs = q.toString
            Some((arg, d.toString, _ => TsQuery.NgramSim(qs, minJ)))
          case _ => None
        }
      case _ => None
    }
  }

  /** A claimable typed-FIELD conjunct (reference Term / "Granular Range"
    * filter nodes inside IRESEARCH_SCAN, inverted_index_include_pushdown
    * .test): `attr op literal` comparisons and literal IN-lists — exactly
    * the null-excluding shapes whose satisfying row set equals a filter
    * over the field dataset's non-null `(v, doc_id)` rows. Returns the
    * attribute plus the predicate rewritten onto a `v` stand-in the caller
    * substitutes with the field dataset's value column. */
  def asFieldPred(e: Expression): Option[(AttributeReference, AttributeReference => Expression, Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions._
    // the Boolean is isPointLookup: equality/IN shapes (the reference's Term
    // filter — selective by nature) vs range shapes (Granular Range)
    e match {
      case EqualTo(a: AttributeReference, l: Literal) => Some((a, v => EqualTo(v, l), true))
      case EqualTo(l: Literal, a: AttributeReference) => Some((a, v => EqualTo(v, l), true))
      case GreaterThan(a: AttributeReference, l: Literal) => Some((a, v => GreaterThan(v, l), false))
      case GreaterThan(l: Literal, a: AttributeReference) => Some((a, v => LessThan(v, l), false))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => Some((a, v => GreaterThanOrEqual(v, l), false))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => Some((a, v => LessThanOrEqual(v, l), false))
      case LessThan(a: AttributeReference, l: Literal) => Some((a, v => LessThan(v, l), false))
      case LessThan(l: Literal, a: AttributeReference) => Some((a, v => GreaterThan(v, l), false))
      case LessThanOrEqual(a: AttributeReference, l: Literal) => Some((a, v => LessThanOrEqual(v, l), false))
      case LessThanOrEqual(l: Literal, a: AttributeReference) => Some((a, v => GreaterThanOrEqual(v, l), false))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some((a, v => In(v, vs), true))
      case _ => None
    }
  }

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }
}

case class ClaimTsMatch(spark: SparkSession) extends Rule[LogicalPlan] {
  import TsPredicates.{asTsMatch, conjuncts, matchTarget}

  /** Resolves the indexed scan that PRODUCED `textAttr` — matched by exprId,
    * not name, so a join partner exposing a same-named column can never have
    * its predicate claimed against this relation's index. Returns the
    * segment dir and that scan's own id attribute (the sound semi-join key
    * even when several joined relations expose same-named id columns). */
  private def indexedScanOf(plan: LogicalPlan, textAttr: AttributeReference,
      dict: String): Option[(String, AttributeReference, Option[String])] =
    plan.collectFirst {
      case lr: LogicalRelation if PlanShapes.isColumnOf(lr, textAttr, textAttr.name) =>
        for {
          root <- PlanShapes.scanRoot(lr)
          e <- IndexCatalog.lookupText(root, textAttr.name, dict)
          idAttr <- lr.output.collectFirst {
            case a: AttributeReference if a.name == e.idCol => a }
        } yield (e.segDir, idAttr, e.predicate)
    }.flatten

  /** Qualifier-free canonical SQL — the rendering partial-index predicates
    * are stored in at DDL time, so conjunct comparison is string-stable. */
  private def bareSql(e: Expression): String =
    e.transform { case a: AttributeReference => a.withQualifier(Seq.empty) }.sql

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // legs a scorer top-k above makes redundant are left to its claim,
    // which drops them, rather than built here
    lazy val absorbed = ScorerShapes.absorbedMatches(plan)
    plan.transformUp {
      case f @ Filter(cond, child) if cond.exists(matchTarget(_).isDefined) =>
        try claim(f, cond, child, absorbed) catch {
        // a failed claim must never break the query — the row-eval UDF
        // is still in the plan and remains correct
          case e: Exception =>
            logWarning(s"ts_match claim failed, keeping row-eval filter: $e")
            f
        }
    }
  }

  /** Resolves an EXPRESSION key (`ts_match(upper(text), ...)`-style) against
    * the ExprIndexes registry: every attribute inside the expression must
    * come from one parquet scan (exprId provenance), and the normalized
    * expression SQL + analyzer must have been registered by
    * `CREATE SEARCH INDEX ... ((expr))`. Returns the segment dir and the
    * scan's id attribute. */
  private def exprIndexOf(plan: LogicalPlan, e: Expression,
      dict: String): Option[(String, AttributeReference)] = {
    val attrs = e.references.toSeq
    if (attrs.isEmpty) return None
    plan.collectFirst {
      case lr: LogicalRelation if attrs.forall(lr.outputSet.contains) => lr
    }.flatMap { lr =>
      // render without view/table qualifiers so the SQL matches the
      // DDL-registered (unresolved-parse) form
      val bareSql = e.transform {
        case a: AttributeReference => a.withQualifier(Seq.empty)
      }.sql
      for {
        root <- PlanShapes.scanRoot(lr)
        (segDir, idCol) <- graft.search.ExprIndexes.lookup(root, bareSql, dict)
        docId <- lr.output.collectFirst {
          case a: AttributeReference if a.name == idCol => a }
      } yield (segDir, docId)
    }
  }

  private def claim(f: Filter, cond: Expression, child: LogicalPlan,
      absorbed: Set[Expression]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, Not}
    val parts = conjuncts(cond)

    def disjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
        disjuncts(l) ++ disjuncts(r)
      case other => Seq(other)
    }
    /** One claimable leaf: drive ingredients + the scan id it joins on. */
    def leafOf(e: Expression, requireFull: Boolean): Option[
        ((String, String, graft.analysis.Analyzer => graft.search.TsQuery),
          AttributeReference, Expression)] =
      for {
        (arg, dict) <- matchTarget(e)
        (segDir, docId, partialPred) <- arg match {
          case attr: AttributeReference => indexedScanOf(child, attr, dict)
          case ex => exprIndexOf(child, ex, dict).map { case (d, id) => (d, id, None) }
        }
        // the scan's id must still be visible at the filter for the
        // semi-join to be well-formed (it always is for the plain
        // scan→filter shape; a projection that dropped it bails here)
        if child.outputSet.contains(docId)
        // PARTIAL index: claimable only when the filter restricts to the
        // indexed subset — the predicate must appear verbatim among the
        // conjuncts (it stays in the residual, so semantics are unchanged;
        // the sound syntactic case of PG's predicate-implication test).
        // A NEGATED or OR-leaf claim needs a FULL index outright: docs
        // outside a partial predicate are absent from the drive, so an
        // anti-join would wrongly keep them and a union drive would
        // wrongly drop rows matched only through the partial leaf.
        if (!requireFull && partialPred.forall(ps =>
          parts.exists(c => bareSql(c).equalsIgnoreCase(ps)))) ||
          (requireFull && partialPred.isEmpty)
        // a constructor query folds only for a call on an indexed column
        (_, _, build) <- asTsMatch(e)
      } yield ((segDir, dict, build), docId, arg)

    // each conjunct classifies as: a single positive text claim; `NOT
    // <claim>` (anti-join, filter_optimizer_negation.test); or an OR whose
    // EVERY disjunct is a positive full-index claim on the SAME scan — the
    // reference's Or filter node (search_filter_builder.cpp irs::Or): the
    // union of the leaf drives is exact for OR because a row passes iff
    // some leaf is TRUE, and every true leaf's doc is in its drive.
    val claimable = parts.filterNot(absorbed).flatMap { p =>
      p match {
        case Not(i) =>
          leafOf(i, requireFull = true).map { case (leg, docId, arg) =>
            (p, Seq(leg), docId, true, Seq(arg)) }
        case _ =>
          val ds = disjuncts(p)
          if (ds.size == 1)
            leafOf(p, requireFull = false).map { case (leg, docId, arg) =>
              (p, Seq(leg), docId, false, Seq(arg)) }
          else {
            val leaves = ds.map(d => leafOf(d, requireFull = true))
            for {
              ls <- Some(leaves.flatten) if ls.size == ds.size
              docIds = ls.map(_._2).distinct if docIds.size == 1
            } yield (p, ls.map(_._1), docIds.head, false, ls.map(_._3))
          }
      }
    }
    if (claimable.isEmpty && !parts.exists(absorbed)) return f

    // typed-FIELD conjuncts (composite index sidecar): claimed only when a
    // text claim already drives the same Filter — the intersection then
    // happens on postings-sized doc-id sets — and only for the POINT
    // (equality/IN) shapes: a range conjunct evaluates for free on the
    // already-fetched join-back rows, so trading it for another semi-join
    // would add a shuffle for nothing. A STANDALONE field filter also
    // stays on the base scan on purpose: Catalyst already pushes it into
    // the parquet read there (the reference pushes standalone field
    // filters into IRESEARCH_SCAN because ITS base table is a row store;
    // ours is columnar parquet with native predicate pushdown).
    val textClaimed = claimable.map(_._1).toSet
    val fieldClaimable = parts.filterNot(textClaimed).flatMap { p =>
      for {
        (attr, mkPred, isPoint) <- TsPredicates.asFieldPred(p)
        if isPoint
        (side, idAttr) <- fieldIndexOf(child, attr)
        if child.outputSet.contains(idAttr)
      } yield (p, attr, mkPred, side, idAttr)
    }
    if (claimable.isEmpty && fieldClaimable.isEmpty) return f

    val joined = claimable.foldLeft(child) {
      case (acc, (_, legs, docId, negated, _)) =>
        val parsed = legs.map { case (segDir, dict, build) =>
          val a = graft.analysis.AnalyzerRegistry.get(dict)
          (segDir, dict, graft.search.TsQuery.bindDict(build(a), a))
        }
        val mPlan = MatchLeaves.union(spark, parsed.map { case (segDir, _, q) => segDir -> q })
        val rightId = mPlan.output.find(_.name == "doc_id").get
        Join(acc, mPlan,
          if (negated) org.apache.spark.sql.catalyst.plans.LeftAnti else LeftSemi,
          Some(EqualTo(docId, rightId)), JoinHint.NONE)
    }
    val joinedAll = fieldClaimable.foldLeft(joined) {
      case (acc, (_, attr, mkPred, side, idAttr)) =>
        val m = FieldDrives.matchedIds(spark, side, attr.name, mkPred)
        val rightId = m.output.find(_.name == "doc_id").get
        Join(acc, m, LeftSemi,
          Some(FieldDrives.idEq(idAttr, rightId)), JoinHint.NONE)
    }
    val claimedSet = textClaimed ++ fieldClaimable.map(_._1)
    // a negated claim keeps PG NULL semantics via a residual null guard:
    // `NOT ts_match(t, …)` is NULL (row dropped) for NULL t, but a NULL-t
    // row is absent from the drive and the anti-join would keep it
    val nullGuards = claimable.collect {
      case (_, _, _, true, args) => IsNotNull(args.head): Expression
    }
    (parts.filterNot(claimedSet) ++ nullGuards).reduceOption(CAnd(_, _))
      .map(Filter(_, joinedAll)).getOrElse(joinedAll)
  }

  /** Resolves the composite-index sidecar covering the scan that produced
    * `attr` as an indexed FIELD, plus that scan's id attribute. The claimed
    * conjunct leaves the filter, so the field dataset answers it alone:
    * the sidecar must pass the gate of every index-only answer
    * ([[StatsShapes.freshSidecar]]), or a row whose field was UPDATEd since
    * the last REFRESH would match on its old value. */
  private def fieldIndexOf(plan: LogicalPlan,
      attr: AttributeReference): Option[(graft.index.FieldStore.Sidecar, AttributeReference)] =
    plan.collectFirst {
      case lr: LogicalRelation if lr.outputSet.contains(attr) =>
        for {
          root <- PlanShapes.scanRoot(lr)
          side <- IndexCatalog.sidecarDirs(root).iterator
            .flatMap(StatsShapes.freshSidecar(spark, _, lr.relation))
            .find(_.spec.fields.contains(attr.name))
          idAttr <- lr.output.collectFirst {
            case a: AttributeReference if a.name == side.spec.idCol => a }
        } yield (side, idAttr)
    }.flatten
}

/** Text-match leaves ([[graft.index.MatchScan]]) as plan nodes for the
  * claim rules. */
private[plans] object MatchLeaves {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
  import org.apache.spark.sql.catalyst.plans.logical.{Project, Union}

  /** The docs matching any of `legs` (index dir, query): one leaf per
    * index, over the OR of its legs' queries, and a `Union` across indexes,
    * every branch's `doc_id` cast to the first's type. Not deduplicated:
    * semi/anti joins and distinct counts don't need it. */
  def union(spark: SparkSession, legs: Seq[(String, graft.search.TsQuery)]): LogicalPlan = {
    val leaves = legs.map(_._1).distinct.map { segDir =>
      val q = legs.collect { case (d, q) if d == segDir => q } match {
        case Seq(one) => one
        case qs => graft.search.TsQuery.Or(qs)
      }
      graft.index.MatchScan.leaf(graft.index.IndexStore.load(spark, segDir), q): LogicalPlan
    }
    val idType = leaves.head.output.head.dataType
    leaves match {
      case Seq(one) => one
      case _ => Union(leaves.map { l =>
        val id = l.output.head
        if (id.dataType == idType) l
        else Project(Seq(Alias(Cast(id, idType), "doc_id")()), l)
      })
    }
  }
}

/** Shared construction of typed-field index drives. */
private[plans] object FieldDrives {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast}
  import org.apache.spark.sql.catalyst.plans.logical.Project

  /** The matched doc_ids of one field predicate as a logical subtree:
    * `Project(doc_id, Filter(pred(v), <field dataset scan>))`. The field
    * dataset is range-partitioned + sorted by `v` (FieldStore), so
    * the Filter lands on the parquet scan and prunes to the files/row
    * groups whose min/max straddle the constants — the Spark analogue of
    * the reference's Term / Granular Range posting-list seek. */
  def matchedIds(spark: SparkSession, side: graft.index.FieldStore.Sidecar,
      field: String, mkPred: AttributeReference => Expression): LogicalPlan = {
    val fPlan = side.field(spark, field).queryExecution.analyzed
    val v = fPlan.output.collectFirst {
      case a: AttributeReference if a.name == "v" => a }.get
    val id = fPlan.output.collectFirst {
      case a: AttributeReference if a.name == "doc_id" => a }.get
    Project(Seq(id), Filter(mkPred(v), fPlan))
  }

  /** doc_id join condition; the sidecar stores ids as long, a narrower
    * scan id gets a widening cast (exact for all integral types). */
  /** Join-key equality with the NARROWER side upcast (never a lossy
    * downcast): the stored columnstore widens ids to long while postings
    * keep the table's native width, so covered drives join long↔int. */
  def idEq(left: Attribute, rightId: Attribute): Expression =
    if (left.dataType == rightId.dataType) EqualTo(left, rightId)
    else if (Cast.canUpCast(left.dataType, rightId.dataType))
      EqualTo(Cast(left, rightId.dataType), rightId)
    else EqualTo(left, Cast(rightId, left.dataType))
}

/** Covering-projection claim — the INCLUDE columnstore payoff
  * (reference `Lookup: columnstore` vs `Lookup: table`,
  * inverted_index_indexed_vs_included.test, inverted_index_topk_include
  * .test): a `Project(Filter(scan))` whose projected expressions touch
  * only the index's id + INCLUDE columns, and whose filter conjuncts are
  * all either index-claimable (text predicates, typed-field predicates)
  * or evaluable over INCLUDE columns, is rewritten to drive ENTIRELY from
  * the index artifacts: stored columnstore ⋉ matched-id sets, residual
  * conjuncts re-evaluated on the stored copies. The base table is not
  * read at all — at 100 TB that deletes the join-back against the wide
  * fact table, which dominates every covered search.
  *
  * Soundness: any projected expression or residual conjunct referencing a
  * non-covered column bails the whole rewrite (the plain [[ClaimTsMatch]]
  * path then still claims the text predicates with a base-table
  * join-back); output attributes keep their original exprIds via aliases,
  * so the parent plan is untouched. Injected BEFORE ClaimTsMatch so the
  * pristine Filter shape is still visible when it runs. */
case class ClaimCoveredProjection(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, NamedExpression}
  import org.apache.spark.sql.catalyst.plans.logical.Project
  import TsPredicates.{asFieldPred, asTsMatch, conjuncts}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList, Filter(cond, child)) =>
      try cover(p, projList, cond, child).getOrElse(p) catch {
        case e: Exception =>
          logWarning(s"covered-projection claim failed, keeping base scan: $e")
          p
      }
  }

  private def cover(orig: Project, projList: Seq[NamedExpression],
      cond: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    val (lr, root) = PlanShapes.bareScan(child) match {
      case Some(x) => x
      case None => return None
    }
    // the gate of every index-only answer: the version the statement reads
    // names the sidecar and is byte-fresh with the scan — a row deleted,
    // added or changed since the last REFRESH, or a streaming append that
    // published without the sidecar, falls back to the base-table path
    val side = IndexCatalog.sidecarDirs(root).iterator
      .flatMap(StatsShapes.freshSidecar(spark, _, lr.relation))
      .find(_.spec.included.nonEmpty).getOrElse(return None)
    val spec = side.spec
    val coveredNames = (spec.included :+ spec.idCol).toSet
    val covered: Map[org.apache.spark.sql.catalyst.expressions.ExprId, AttributeReference] =
      lr.output.collect {
        case a: AttributeReference if coveredNames.contains(a.name) => a.exprId -> a
      }.toMap
    def isCovered(e: Expression): Boolean = e.references.forall {
      case a: AttributeReference => covered.contains(a.exprId)
      case _ => false
    }
    if (!projList.forall(isCovered)) return None

    // classify every conjunct; any unclassifiable one bails the rewrite
    val parts = conjuncts(cond)
    val textClaims = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, graft.analysis.Analyzer => graft.search.TsQuery)]
    val fieldClaims = scala.collection.mutable.ArrayBuffer
      .empty[(String, AttributeReference => Expression)]
    val residuals = scala.collection.mutable.ArrayBuffer.empty[Expression]
    parts.foreach { c =>
      asTsMatch(c) match {
        case Some((arg: AttributeReference, dict, build))
            if lr.outputSet.contains(arg) &&
              IndexCatalog.lookupText(root, arg.name, dict).exists(_.predicate.isEmpty) =>
          textClaims +=
            ((IndexCatalog.lookupText(root, arg.name, dict).get.segDir, dict, build))
        case Some(_) => return None // text predicate with no (full) index
        case None => asFieldPred(c) match {
          // point (equality/IN) predicates on an indexed field drive the
          // field dataset — a Term seek that prunes the stored join. Range
          // predicates prefer residual eval on the stored copy when the
          // column is ALSO included (free on rows being read anyway), and
          // drive the field dataset only when it is the sole access path.
          case Some((attr, mk, isPoint)) if lr.outputSet.contains(attr) &&
              spec.fields.contains(attr.name) &&
              (isPoint || !spec.included.contains(attr.name)) =>
            fieldClaims += ((attr.name, mk))
          case _ =>
            if (isCovered(c)) residuals += c else return None
        }
      }
    }
    if (textClaims.isEmpty && fieldClaims.isEmpty) return None

    // drive: stored columnstore ⋉ each matched-id set
    val storedPlan = side.stored(spark).queryExecution.analyzed
    val sId = storedPlan.output.collectFirst {
      case a: AttributeReference if a.name == "doc_id" => a }.get
    var acc: LogicalPlan = storedPlan
    textClaims.foreach { case (segDir, dict, build) =>
      val idx = graft.index.IndexStore.load(spark, segDir)
      val a = graft.analysis.AnalyzerRegistry.get(dict)
      val m = graft.index.MatchScan.leaf(idx, graft.search.TsQuery.bindDict(build(a), a))
      val rightId = m.output.find(_.name == "doc_id").get
      // idEq, not EqualTo: the stored columnstore's doc_id is long while
      // postings keep the table's native id width (an INT-id table would
      // otherwise produce an unresolved long=int join key)
      acc = Join(acc, m, LeftSemi, Some(FieldDrives.idEq(sId, rightId)), JoinHint.NONE)
    }
    fieldClaims.foreach { case (field, mk) =>
      val m = FieldDrives.matchedIds(spark, side, field, mk)
      val rightId = m.output.find(_.name == "doc_id").get
      acc = Join(acc, m, LeftSemi, Some(FieldDrives.idEq(sId, rightId)), JoinHint.NONE)
    }

    // original covered attr → stored attr, the id column → the stored
    // `doc_id` (cast back when the columnstore widened the id)
    val byName = storedPlan.output.collect { case a: AttributeReference => a.name -> a }.toMap +
      (spec.idCol -> sId)
    def sub(e: Expression): Expression = e.transform {
      case a: AttributeReference if covered.contains(a.exprId) =>
        val s = byName.getOrElse(a.name,
          throw new IllegalStateException(s"stored columnstore lacks ${a.name}"))
        if (s.dataType == a.dataType) s else Cast(s, a.dataType)
    }
    residuals.map(sub).reduceOption(CAnd(_, _)).foreach(r => acc = Filter(r, acc))
    val outProj: Seq[NamedExpression] = projList.map {
      case a: AttributeReference => Alias(sub(a), a.name)(exprId = a.exprId)
      case al: Alias => Alias(sub(al.child), al.name)(exprId = al.exprId)
      case other => Alias(sub(other), other.name)(exprId = other.exprId)
    }
    Some(Project(outProj, acc))
  }
}
