package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.{AtomicType, DataType, StructType}

/** The planner and execution entry points the engine's physical operators
  * need that Spark keeps package-private: Spark's own top-k planning, an
  * RDD transformation without a closure scan, and a job whose task function
  * is a class. */
object Plans {

  /** What Spark's `SpecialLimits` strategy plans for `plan`: a
    * `TakeOrderedAndProjectExec` for every `ORDER BY … LIMIT` [`OFFSET`]
    * under the top-k threshold. */
  def specialLimits(spark: SparkSession, plan: LogicalPlan): Seq[SparkPlan] =
    spark.sessionState.planner.SpecialLimits(plan)

  /** Whether `t` is an atomic type (a number, string, binary, boolean,
    * date or time type). */
  def atomic(t: DataType): Boolean = t.isInstanceOf[AtomicType]

  /** `rows` as `UnsafeRow`s of `schema`, counted into `emitted`. */
  def unsafeRows(rows: RDD[InternalRow], schema: StructType,
      emitted: SQLMetric): RDD[InternalRow] =
    rows.mapPartitionsWithIndexInternal { (index, it) =>
      val proj = UnsafeProjection.create(schema)
      proj.initialize(index)
      it.map { r => emitted += 1; proj(r) }
    }

  /** Each partition of `rdd` through `task`, in one job. Spark's
    * `RDD.collect` and `takeOrdered` hand lambdas declared in `RDD` and
    * `SparkContext` to the closure cleaner, which reads and scans those
    * classes' bytecode on every call; a task function that is a class of
    * its own is not scanned. */
  def runJob[U: ClassTag](rdd: RDD[InternalRow],
      task: (TaskContext, Iterator[InternalRow]) => U): Array[U] = {
    val out = new Array[U](rdd.partitions.length)
    rdd.sparkContext.runJob(rdd, task, out.indices, (i: Int, r: U) => out(i) = r)
    out
  }
}
