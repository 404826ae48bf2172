package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, BinaryComparison, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LeafExpression, LessThan, LessThanOrEqual, Literal, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, LeafExecNode, ProjectExec, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.Plans
import org.apache.spark.sql.types.DataType
import graft.index.IndexLeaf

/** Plans each index leaf ([[IndexLeaf]]: `TermBagScan`, `MatchScan`) as one
  * [[IndexLeafExec]], with the projections and filters above it. A leaf's
  * files are opened when the plan executes, so planning reads and
  * broadcasts nothing. A filter over a value the projection computes (the
  * scorers' `_score > 0`, which the optimizer pushes below the scoring
  * projection by inlining the score) runs above that projection and reads
  * the computed column: each row's score is evaluated once. */
case class IndexLeafStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, lr: LogicalRelation) =>
      lr.relation match {
        case leaf: IndexLeaf => Seq(planned(projects, filters, lr.output, leaf))
        case _ => Nil
      }
    case _ => Nil
  }

  private def planned(projects: Seq[NamedExpression], filters: Seq[Expression],
      output: Seq[Attribute], leaf: IndexLeaf): SparkPlan = {
    val scan = IndexLeafExec(output, leaf)
    filters.reduceOption((l, r) => And(l, r): Expression) match {
      // no projection, or a renaming one (a claimed count's `count AS n`):
      // the leaf emits its columns under the projected names, so it stays
      // the root
      case None if renames(projects, output) => scan.copy(output = projects.map(_.toAttribute))
      case None => ProjectExec(projects, scan)
      case Some(cond) =>
        val computed = projects.collect {
          case a: Alias if !a.child.foldable && a.child.deterministic => a
        }
        val onComputed = cond.transformDown {
          case e if computed.exists(_.child.semanticEquals(e)) =>
            computed.find(_.child.semanticEquals(e)).get.toAttribute
        }
        if (onComputed != cond &&
            onComputed.references.subsetOf(AttributeSet(projects.map(_.toAttribute))))
          FilterExec(onComputed, ProjectExec(projects, scan))
        else ProjectExec(projects, FilterExec(cond, scan))
    }
  }

  /** Whether `projects` is `output`, column for column, each kept or
    * renamed. */
  private def renames(projects: Seq[NamedExpression], output: Seq[Attribute]): Boolean =
    projects.size == output.size && projects.zip(output).forall {
      case (a: Attribute, o) => a.exprId == o.exprId
      case (Alias(a: Attribute, _), o) => a.exprId == o.exprId
      case _ => false
    }
}

/** An index leaf as a physical operator: its one task opens the index's
  * files (or reads an in-memory index's frames) when the plan executes.
  * At the root of a plan — a claimed count — it collects its rows by one
  * job whose task function is an engine class. The leaf is transient: a
  * plan serialized into a task (a sort's generated code references its
  * plan) carries no index. */
case class IndexLeafExec(output: Seq[Attribute], @transient leaf: IndexLeaf)
    extends LeafExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] =
    Plans.unsafeRows(leaf.rows(), schema, longMetric("numOutputRows"))

  override def executeCollect(): Array[InternalRow] =
    executeQuery(Plans.runJob(execute(), new CopiedRows).flatten)

  override def simpleString(maxFields: Int): String =
    s"IndexScan $leaf ${output.mkString("[", ",", "]")}"
}

/** A task's rows, copied out of their reused buffers. */
private final class CopiedRows
    extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
  override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
    rows.map(_.copy()).toArray
}

/** Plans every top-k that Spark would plan as a `TakeOrderedAndProjectExec`
  * (`ORDER BY … LIMIT k` [`OFFSET n`] under Spark's top-k threshold, at the
  * root or below it) as a [[TopKExec]]: the claimed bm25 and ANN top-k, the
  * hybrid's result stage and TPC-H's ordered limits. */
case class TopKStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = Plans.specialLimits(spark, plan) match {
    case Seq(t: TakeOrderedAndProjectExec) =>
      Seq(TopKExec(t.limit, t.sortOrder, t.projectList, t.child, t.offset))
    case _ => Nil
  }
}

/** The engine's top-k. Collected at the root, it runs one job: each task
  * keeps its partition's first `limit` rows in `sortOrder` ([[TopKTask]]),
  * and the driver merges them, drops `offset` and projects. Every other
  * path (a top-k below the root, `take`, an iterator) is Spark's
  * `TakeOrderedAndProjectExec` over the same fields. */
case class TopKExec(limit: Int, sortOrder: Seq[SortOrder], projectList: Seq[NamedExpression],
    child: SparkPlan, offset: Int) extends UnaryExecNode {

  @transient private val spark =
    TakeOrderedAndProjectExec(limit, sortOrder, projectList, child, offset)

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = spark.outputOrdering
  override lazy val metrics = spark.metrics

  override protected def doExecute(): RDD[InternalRow] = spark.execute()

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val ord = new LazilyGeneratedOrdering(sortOrder, child.output)
    val merged = Plans.runJob(child.execute(), new TopKTask(limit, ord)).flatten
    java.util.Arrays.sort(merged, ord)
    val rows = merged.take(limit).drop(offset)
    if (projectList == child.output) rows
    else {
      val proj = UnsafeProjection.create(projectList, child.output)
      rows.map(r => proj(r).copy())
    }
  }

  override def simpleString(maxFields: Int): String = {
    val order = sortOrder.mkString("[", ",", "]")
    val out = projectList.mkString("[", ",", "]")
    s"TopK(limit=$limit, offset=$offset, orderBy=$order, output=$out)"
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKExec =
    copy(child = newChild)
}

/** One partition's first `limit` rows in `ord`, sorted: a bounded heap
  * holding copies of the rows it keeps. */
private final class TopKTask(limit: Int, ord: Ordering[InternalRow])
    extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
  override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
    if (limit <= 0) Array.empty
    else {
      val heap = new java.util.PriorityQueue[InternalRow](limit, ord.reverse)
      rows.foreach { r =>
        if (heap.size < limit) heap.add(r.copy())
        else if (ord.compare(r, heap.peek()) < 0) { heap.poll(); heap.add(r.copy()) }
      }
      val out = heap.toArray(new Array[InternalRow](heap.size))
      java.util.Arrays.sort(out, ord)
      out
    }
}

/** A comparison literal whose value generated code reads from the plan's
  * references (through a field set once per generated object), so one
  * compiled class serves every value of a statement shape. It evaluates,
  * prints and renders as SQL like the literal it stands for. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val read =
      if (!CodeGenerator.isPrimitiveType(dataType)) ref
      else ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(read, dataType))
  }
}

/** Binds the literal of each `column op literal` conjunct of a `FilterExec`
  * (`=`, `<=>`, `<`, `<=`, `>`, `>=`, a non-null atomic literal) as a
  * [[ParamLiteral]]: whole-stage codegen inlined a primitive literal, so
  * every new key of `WHERE pk = <key>` compiled new classes. The scan's
  * pushed filters keep their literals, so file and row-group pruning are
  * unchanged. Installed before codegen stages are collapsed, as a columnar
  * rule (it runs on every plan and, under AQE, on every stage). */
object BindFilterLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val parts = conjuncts(f.condition)
      val bound = parts.map(bind)
      if (bound == parts) f else f.copy(condition = bound.reduce((l, r) => And(l, r): Expression))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def bind(e: Expression): Expression = e match {
    case c @ (_: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual |
        _: GreaterThan | _: GreaterThanOrEqual) =>
      val cmp = c.asInstanceOf[BinaryComparison]
      (cmp.left, cmp.right) match {
        case (a: Attribute, l: Literal) if bindable(l) => cmp.withNewChildren(Seq(a, param(l)))
        case (l: Literal, a: Attribute) if bindable(l) => cmp.withNewChildren(Seq(param(l), a))
        case _ => e
      }
    case _ => e
  }

  private def bindable(l: Literal): Boolean =
    l.value != null && Plans.atomic(l.dataType)

  private def param(l: Literal): Expression = ParamLiteral(l.value, l.dataType)

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindFilterLiterals
  }
}
