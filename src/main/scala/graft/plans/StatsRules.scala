package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And => CAnd, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{IndexStore, MatchScan, PkIndex}
import graft.search.{IndexCatalog, TsQuery}

/** Shared helpers for the metadata/statistics claim rules. */
private[plans] object StatsShapes {

  /** Source fingerprint of a file relation from its (already-listed, cached)
    * FileIndex — format-compatible with the `_SOURCE_FP` the DDL persists at
    * CREATE/REFRESH (`count:bytes:maxMtime`, Ddl.sourceFingerprint). No FS
    * listing happens here: the relation's FileIndex already holds the file
    * statuses it scanned. */
  def relationFingerprint(rel: HadoopFsRelation): Option[String] =
    try {
      val files = rel.location.listFiles(Nil, Nil).flatMap(_.files)
      if (files.isEmpty) None
      else {
        var bytes = 0L; var mtime = 0L
        files.foreach { f =>
          bytes += f.getLen; mtime = math.max(mtime, f.getModificationTime)
        }
        Some(s"${files.length}:$bytes:$mtime")
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** True iff the index at `segDir` was built from EXACTLY the bytes this
    * relation scans — the soundness gate for answering a query from index
    * artifacts without touching the base table. Unknown (pre-fingerprint
    * index, non-file relation) counts as NOT fresh: fall back to the scan. */
  def indexFresh(spark: SparkSession, segDir: String, rel: HadoopFsRelation): Boolean = {
    val stored =
      if (IndexStore.exists(spark, s"$segDir/_SOURCE_FP"))
        Some(IndexStore.readString(spark, s"$segDir/_SOURCE_FP").trim)
      else None
    (stored, relationFingerprint(rel)) match {
      case (Some(a), Some(b)) => a == b
      case _ => false
    }
  }

  /** Row-count expression → output expressions, when the whole aggregate
    * list is countable from a row count alone: count(*) / count(1) /
    * count(<non-null literal>) count every row, count(NULL) is always 0,
    * and plain literal columns (tags like `SELECT 'all' AS leg, count(*)`)
    * pass through. DISTINCT, FILTER clauses, and column arguments bail. */
  def countOnlyAggs(aggs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
      : Option[Expression => Seq[Expression]] = {
    val legs: Seq[Option[Expression => Expression]] = aggs.map {
      case Alias(AggregateExpression(Count(args), _, false, None, _), _)
          if args.forall(_.isInstanceOf[Literal]) =>
        if (args.forall { case Literal(v, _) => v != null }) Some((rc: Expression) => rc)
        else Some((_: Expression) => Literal(0L))
      case Alias(l: Literal, _) => Some((_: Expression) => l)
      case _ => None
    }
    if (legs.forall(_.isDefined)) Some(rc => legs.map(_.get.apply(rc)))
    else None
  }

  /** One-row LocalRelation carrying the precomputed count values with the
    * aggregate's own output attributes — the plan-level "row-count only"
    * answer. */
  def countResult(agg: Aggregate, rowCount: Long): LocalRelation =
    LocalRelation(agg.output,
      Seq(InternalRow.fromSeq(
        countOnlyAggs(agg.aggregateExpressions).get.apply(Literal(rowCount)).map(_.eval()))))

  /** The aggregate's outputs, under its own attributes, projected over
    * `counted`: a one-row plan whose only column is the row count. */
  def countProjection(agg: Aggregate, counted: LogicalPlan): Project = {
    val values = countOnlyAggs(agg.aggregateExpressions).get.apply(counted.output.head)
    Project(agg.aggregateExpressions.zip(values).map { case (a, v) =>
      Alias(v, a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }, counted)
  }
}

/** Count-only fast paths over indexed scans — the Spark analogue of the
  * reference's IRESEARCH_SCAN `Output: row-count only` mode
  * (tests/sqllogic/sdb/pg/index/inverted_index_count_variants.test,
  * inverted_index_count_filter_modes.test):
  *
  *  1. `SELECT count(*) FROM t` over a bare indexed scan → answered from
  *     segment METADATA (per-segment numDocs, zero Spark jobs at run time)
  *     when a registered full-table text index is byte-fresh with the scan
  *     and carries no tombstones.
  *  2. `SELECT count(*) FROM t WHERE <all-claimable text predicates>` →
  *     counts the postings drive directly and never scans the base table:
  *     the claimed semi-join's left side contributes nothing to a count
  *     once every matched doc_id is known to exist in the scan (index
  *     fresh ⇒ drive ids ⊆ table ids). When every predicate is on one
  *     index, the conjunction of their queries is one tree and the count
  *     is the text-match leaf's count-only mode
  *     ([[graft.index.MatchScan.countLeaf]]) under a projection: one Spark
  *     job of one task, no exchange. Predicates on several indexes count
  *     the distinct ids of their leaves, unioned per conjunct and
  *     semi-joined across conjuncts. Both shapes are built as plan nodes,
  *     with no nested optimizer run.
  *
  * Both legs are gated on the `_SOURCE_FP` fingerprint (same bytes the DDL
  * fingerprinted at CREATE/REFRESH); anything stale, partial, deleted-from,
  * or unresolvable falls through to the ordinary claim path, which is
  * always result-correct. At 100 TB leg 1 replaces a 100k-file footer pass
  * with a handful of driver metadata reads, and leg 2 turns count queries
  * from "scan + semi-join" into "postings only".
  */
case class ClaimCountOnly(spark: SparkSession) extends Rule[LogicalPlan] {
  import StatsShapes._
  import TsPredicates.{asTsMatch, conjuncts}

  /** RBAC gate for a metadata answer: replacing the scan with a
    * LocalRelation would erase the node the RbacCheck strategy inspects, so
    * a denied table's ROW COUNT would leak to an unprivileged role — the
    * exact bypass enf_disable_optimizer_bypass.test forbids. A table the
    * current role cannot read keeps its scan (and is then denied by the
    * strategy); count(*) needs no columns, so any grant on the table
    * suffices (PG). */
  private def rbacAllows(root: String): Boolean =
    try { graft.search.Rbac.check(spark, root, root.split("/").last); true }
    catch { case _: Exception => false }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggs, child, _) if countOnlyAggs(aggs).isDefined =>
      try rewrite(agg, child) catch {
        case e: Exception =>
          logWarning(s"count-only claim failed, keeping the scan: $e")
          agg
      }
  }

  private def rewrite(agg: Aggregate, child: LogicalPlan): LogicalPlan =
    PlanShapes.stripProjects(child) match {
      // leg 1: bare scan → metadata count
      case lr: LogicalRelation =>
        (for {
          root <- PlanShapes.scanRoot(lr)
          if rbacAllows(root)
          rel <- Some(lr.relation).collect { case h: HadoopFsRelation => h }
          entry <- IndexCatalog.textEntriesFor(root)
            .find(e => e.predicate.isEmpty && indexFresh(spark, e.segDir, rel))
          n <- IndexStore.metaNumDocs(spark, entry.segDir)
        } yield countResult(agg, n)).getOrElse(agg)

      // leg 2: filter whose EVERY conjunct is a claimable text predicate →
      // count the postings drive, drop the base scan
      case Filter(cond, fchild) =>
        val (lr, root) = PlanShapes.bareScan(fchild) match {
          case Some(x) => x
          case None => return agg
        }
        val rel = lr.relation match {
          case h: HadoopFsRelation => h
          case _ => return agg
        }
        def disjuncts(e: Expression): Seq[Expression] = e match {
          case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
            disjuncts(l) ++ disjuncts(r)
          case other => Seq(other)
        }
        def leafQuery(e: Expression): Option[(String, graft.search.TsQuery)] =
          for {
            (arg, dict, build) <- asTsMatch(e)
            attr <- Some(arg).collect { case a: AttributeReference => a }
            if PlanShapes.isColumnOf(lr, attr, attr.name)
            e2 <- IndexCatalog.lookupText(root, attr.name, dict)
            // a PARTIAL index covers a subset; its residual predicate would
            // need base rows — bail to the ordinary claim path
            if e2.predicate.isEmpty
            if indexFresh(spark, e2.segDir, rel)
          } yield {
            val a = graft.analysis.AnalyzerRegistry.get(dict)
            (e2.segDir, graft.search.TsQuery.bindDict(build(a), a))
          }
        // each conjunct: a claimable leaf, or an OR whose every disjunct is
        // one
        val parts = conjuncts(cond).map(p => disjuncts(p).map(leafQuery))
        if (parts.isEmpty || parts.exists(_.exists(_.isEmpty))) return agg
        val legs = parts.map(_.flatten)
        // on one index, the conjunction is one query tree: an OR per
        // conjunct, ANDed — counted by the leaf itself
        legs.flatten.map(_._1).distinct match {
          case Seq(segDir) =>
            val tree = TsQuery.And(legs.map(ls => TsQuery.Or(ls.map(_._2))))
            countProjection(agg, MatchScan.countLeaf(IndexStore.load(spark, segDir), tree))
          case _ =>
            // across indexes: each conjunct's leaves unioned, the conjuncts
            // semi-joined on doc_id, the distinct ids counted
            val drive = legs.map(MatchLeaves.union(spark, _)).reduce { (l, r) =>
              Join(l, r, LeftSemi, Some(FieldDrives.idEq(l.output.head, r.output.head)),
                JoinHint.NONE)
            }
            agg.copy(child = Aggregate(Seq(drive.output.head), Seq(drive.output.head), drive))
        }

      case _ => agg
    }
}

/** File index holding statistics-pruned candidates (its own type so fixpoint
  * iterations recognize an already-pruned scan). */
class PrunedStatsFileIndex(spark: SparkSession, paths: Seq[Path])
  extends org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
    spark, paths, Map.empty, None)

/** Table-statistics propagation from secondary-index zone manifests — the
  * Spark analogue of the reference feeding search-table column statistics
  * into DuckDB's optimizer (tests/sqllogic/sdb/pg/index/
  * search_table_stats_propagation.test):
  *
  *  - a range/equality conjunct IMPOSSIBLE under the merged per-file
  *    [min,max] folds the whole Filter+scan to an empty relation at plan
  *    time (`WHERE x < 0` below the global minimum → EMPTY_RESULT);
  *  - a conjunct that holds for every NON-NULL value is replaced by
  *    `IS NOT NULL` (the reference's "always-true filter dropped, range
  *    that only holds for non-NULL becomes an IS NOT NULL check");
  *  - otherwise, files whose zone cannot satisfy the range are pruned from
  *    the scan (the file-level analogue of parquet row-group skipping —
  *    at 1000 executors this kills tasks before they are scheduled).
  *
  * Soundness: zone min/max aggregate NON-NULL keys only, and a comparison
  * with a literal is never satisfied by NULL — so an impossible range over
  * non-null values is impossible over all rows. Files rewritten since
  * CREATE SECONDARY INDEX are absent from the manifest: they block the
  * fold/IS-NOT-NULL legs entirely and always stay scan candidates (the
  * conservative reconcile ClaimPkLookup uses). Stats include deleted rows
  * by construction, so folds stay conservative after deletes — exactly the
  * reference's documented behavior. */
case class StatsPrune(spark: SparkSession) extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** `(attr, op, literal value)` of a claimable range/equality conjunct,
    * normalized so the attribute is on the left. */
  private def rangePred(e: Expression): Option[(AttributeReference, String, Any)] = {
    def ext(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case other => other
    }
    e match {
      case LessThan(a: AttributeReference, Literal(v, _)) if v != null => Some((a, "<", ext(v)))
      case GreaterThan(Literal(v, _), a: AttributeReference) if v != null => Some((a, "<", ext(v)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null => Some((a, "<=", ext(v)))
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) if v != null => Some((a, "<=", ext(v)))
      case GreaterThan(a: AttributeReference, Literal(v, _)) if v != null => Some((a, ">", ext(v)))
      case LessThan(Literal(v, _), a: AttributeReference) if v != null => Some((a, ">", ext(v)))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null => Some((a, ">=", ext(v)))
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) if v != null => Some((a, ">=", ext(v)))
      case EqualTo(a: AttributeReference, Literal(v, _)) if v != null => Some((a, "=", ext(v)))
      case EqualTo(Literal(v, _), a: AttributeReference) if v != null => Some((a, "=", ext(v)))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case fl @ Filter(cond, child) =>
      try claim(fl, cond, child) catch {
        case e: Exception =>
          logWarning(s"stats pruning failed, keeping the filter: $e")
          fl
      }
  }

  /** Ordering comparisons in the manifest's key domain. */
  private def cmp(kt: String, a: Any, b: Any): Int = kt match {
    case "long" => java.lang.Long.compare(
      a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
    case _ => a.toString.compareTo(b.toString)
  }

  private def claim(fl: Filter, cond: Expression, child: LogicalPlan): LogicalPlan = {
    val (lr, root) = PlanShapes.bareScan(child) match {
      case Some(x) => x
      case None => return fl
    }
    val rel = lr.relation match {
      case h: HadoopFsRelation if !h.location.isInstanceOf[PrunedStatsFileIndex] => h
      case _ => return fl
    }
    if (rel.partitionSchema.nonEmpty) return fl

    val live = rel.location.inputFiles
    val liveByKey = live.map(f => PkIndex.pathKey(f) -> f).toMap

    val parts = conjuncts(cond)
    var newConds: Option[Seq[Expression]] = None
    var bestCandidates: Option[Seq[String]] = None

    parts.foreach { p =>
      for {
        (attr, op, v) <- rangePred(p)
        if PlanShapes.isColumnOf(lr, attr, attr.name)
        entry <- IndexCatalog.lookupPk(root, attr.name)
        m <- PkIndex.load(spark, entry.dir)
      } {
        // keys of the manifest's key type only — a mismatched literal
        // (string vs long) is left to ordinary evaluation
        val typeOk = m.keyType match {
          case "long" => v.isInstanceOf[Number]
          case _ => v.isInstanceOf[String]
        }
        if (typeOk) {
          val unknown = liveByKey.keySet -- m.fileKeys
          val liveZones = m.zones.filter(z => liveByKey.contains(PkIndex.pathKey(z.file)))
          if (liveZones.nonEmpty) {
            def zMin(z: PkIndex.Zone): Any = if (m.keyType == "long") z.mnL else z.mnS
            def zMax(z: PkIndex.Zone): Any = if (m.keyType == "long") z.mxL else z.mxS
            val gMin = liveZones.map(zMin)
              .reduce((a, b) => if (cmp(m.keyType, a, b) <= 0) a else b)
            val gMax = liveZones.map(zMax)
              .reduce((a, b) => if (cmp(m.keyType, a, b) >= 0) a else b)
            // fold / always-true need TOTAL knowledge: every live file in
            // the manifest. The FOLD additionally needs RBAC clearance —
            // an empty LocalRelation erases the scan the RbacCheck
            // strategy would deny, leaking "0 rows" to an unprivileged
            // role (same bypass class as the count fast path).
            val rbacOk =
              try {
                // strictest sound column set: everything the filter output
                // could expose plus the stats column itself — a fold must
                // never be MORE permissive than running the query
                graft.search.Rbac.check(spark, root, root.split("/").last,
                  (fl.references ++ fl.output).map(_.name).toSet)
                true
              } catch { case _: Exception => false }
            if (unknown.isEmpty && rbacOk) {
              val impossible = op match {
                case "<" => cmp(m.keyType, v, gMin) <= 0
                case "<=" => cmp(m.keyType, v, gMin) < 0
                case ">" => cmp(m.keyType, v, gMax) >= 0
                case ">=" => cmp(m.keyType, v, gMax) > 0
                case "=" => cmp(m.keyType, v, gMin) < 0 || cmp(m.keyType, v, gMax) > 0
              }
              if (impossible) return LocalRelation(fl.output)
              val alwaysTrueNonNull = op match {
                case "<" => cmp(m.keyType, gMax, v) < 0
                case "<=" => cmp(m.keyType, gMax, v) <= 0
                case ">" => cmp(m.keyType, gMin, v) > 0
                case ">=" => cmp(m.keyType, gMin, v) >= 0
                case "=" => false
              }
              if (alwaysTrueNonNull) {
                val cur = newConds.getOrElse(parts)
                newConds = Some(cur.map(c => if (c eq p) IsNotNull(attr) else c))
              }
            }
            // file-level zone pruning (sound with unknown files retained).
            // Equality point shapes are ClaimPkLookup's claim — pruning
            // them here would shadow its PrunedPkFileIndex swap (and its
            // selectivity policy); this rule prunes RANGES only.
            if (op != "=") {
              val passing = liveZones.filter { z =>
                op match {
                  case "<" => cmp(m.keyType, zMin(z), v) < 0
                  case "<=" => cmp(m.keyType, zMin(z), v) <= 0
                  case ">" => cmp(m.keyType, zMax(z), v) > 0
                  case ">=" => cmp(m.keyType, zMax(z), v) >= 0
                }
              }.map(z => PkIndex.pathKey(z.file)).toSet
              val cand = liveByKey.collect {
                case (k, f) if passing(k) || unknown(k) => f
              }.toSeq
              if (cand.size < bestCandidates.map(_.size).getOrElse(live.length))
                bestCandidates = Some(cand)
            }
          }
        }
      }
    }

    val prunedChild = bestCandidates match {
      case Some(cand) if cand.size < live.length =>
        val pruned = new PrunedStatsFileIndex(spark, cand.map(new Path(_)))
        child.transformUp {
          case l: LogicalRelation if l eq lr =>
            l.copy(relation = rel.copy(location = pruned)(spark))
        }
      case _ => child
    }
    newConds match {
      case Some(cs) => Filter(cs.reduce(CAnd(_, _)), prunedChild)
      case None if prunedChild ne child => fl.copy(child = prunedChild)
      case None => fl
    }
  }
}
