package graft.queries

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Spark caches compiled generated classes in one JVM-wide LRU. One TPC-H
  * pass generates more distinct classes than Spark's default of 100 entries,
  * at which size the LRU evicts every class before its next use. The session
  * factory sizes the cache so that a repeated statement compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** Classes compiled while running `body`, from Spark's codegen metrics. */
  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def pass(): Unit =
    Tpch.all.keys.toSeq.sorted.foreach(q => Tpch.all(q)(spark, TestSpark.sfDir).collect())

  test("a second TPC-H Q1-Q22 pass compiles no generated class") {
    val first = compiled(pass())
    val second = compiled(pass())
    info(s"compiled classes: pass 1 = $first, pass 2 = $second")
    assert(Tpch.all.size == 22)
    assert(first > 100, "pass 1 must exceed Spark's default cache of 100 classes")
    assert(second == 0, s"pass 2 recompiled $second classes")
  }
}
