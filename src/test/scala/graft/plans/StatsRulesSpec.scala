package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** ClaimCountOnly + StatsPrune must (a) change the PLAN — a metadata count
  * loses its scan entirely, an impossible range folds to an empty relation,
  * a zone-prunable range loses files — and (b) never change the RESULT. */
class StatsRulesSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def ensureDocsIndex(): Unit = {
    Tables.documents(spark, TestSpark.sfDir)
      .createOrReplaceTempView("graft_documents")
    graft.search.SqlSurface.registerAll(spark)
    graft.search.Ddl.execute(spark,
      s"""CREATE SEARCH INDEX docs_claim_idx ON graft_documents (text)
         |WITH (id = 'doc_id', analyzer = 'whitespace', key = '${TestSpark.sfDir}-documents')""".stripMargin)
  }

  private def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  test("count(*) over a bare fresh-indexed scan is answered from metadata") {
    ensureDocsIndex()
    val df = spark.sql(
      "SELECT count(*) AS n, count(1) AS n1, count(NULL) AS nn FROM graft_documents")
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"expected a metadata-only LocalRelation, got:\n${df.queryExecution.optimizedPlan}")
    val want = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet").count()
    val r = df.head()
    assert(r.getLong(0) == want && r.getLong(1) == want && r.getLong(2) == 0L)
  }

  test("count(*) WHERE ts_match counts the postings drive, no corpus scan") {
    ensureDocsIndex()
    val df = spark.sql(
      "SELECT count(*) AS n FROM graft_documents WHERE ts_match(text, 'hash', 'whitespace')")
    val scans = scansOf(df)
    assert(df.queryExecution.optimizedPlan.exists {
      case lr: LogicalRelation => lr.relation.isInstanceOf[graft.index.IndexLeaf]
      case _ => false
    }, "the count must read the index segments through the text-match leaf")
    assert(!scans.exists(_.contains("documents.parquet")),
      s"count-only claim must not scan the corpus; scanned: $scans")
    // row-eval truth
    val want = Tables.documents(spark, TestSpark.sfDir)
      .filter(array_contains(split(lower(col("text")), "\\s+"), "hash")).count()
    assert(df.head().getLong(0) == want && want > 0)
  }

  test("count(*) over an OR of text predicates counts the union drive") {
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT count(*) AS n FROM graft_documents
        |WHERE ts_match(text, 'hash', 'whitespace')
        |   OR ts_match(text, 'stream', 'whitespace')""".stripMargin)
    assert(!scansOf(df).exists(_.contains("documents.parquet")),
      "the OR count must not scan the corpus")
    val want = Tables.documents(spark, TestSpark.sfDir)
      .filter(array_contains(split(lower(col("text")), "\\s+"), "hash") ||
        array_contains(split(lower(col("text")), "\\s+"), "stream")).count()
    assert(df.head().getLong(0) == want && want > 0)
  }

  test("a residual non-text conjunct bails the count fast path (claim still fires)") {
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT count(*) AS n FROM graft_documents
        |WHERE ts_match(text, 'hash', 'whitespace') AND n_chars > 100""".stripMargin)
    assert(scansOf(df).exists(_.contains("documents.parquet")),
      "a residual predicate needs corpus rows — base scan must survive")
    val want = Tables.documents(spark, TestSpark.sfDir)
      .filter(array_contains(split(lower(col("text")), "\\s+"), "hash") &&
        col("n_chars") > 100).count()
    assert(df.head().getLong(0) == want)
  }

  test("a stale index never answers a count") {
    val root = sys.props("java.io.tmpdir") + "/graft-statsrules-stale/documents"
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .write.mode("overwrite").parquet(root)
    spark.read.parquet(root).createOrReplaceTempView("stale_count_docs")
    // a previous JVM's artifact for this key would make CREATE take the
    // idempotent fast path and keep the OLD fingerprint — this test just
    // rewrote the source, so drop first for a genuinely fresh build
    try graft.search.Ddl.execute(spark, "DROP SEARCH INDEX stale_count_idx")
    catch { case _: Exception => () }
    graft.search.Ddl.execute(spark,
      s"""CREATE SEARCH INDEX stale_count_idx ON stale_count_docs (text)
         |WITH (id = 'doc_id', analyzer = 'whitespace', key = 'statsrules-stale')""".stripMargin)
    val fresh = spark.sql("SELECT count(*) AS n FROM stale_count_docs")
    assert(fresh.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    // rewrite the source (append more rows) — fingerprint now differs
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .write.mode("append").parquet(root)
    spark.read.parquet(root).createOrReplaceTempView("stale_count_docs")
    val stale = spark.sql("SELECT count(*) AS n FROM stale_count_docs")
    assert(!stale.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "stale index must fall back to the scan")
    assert(stale.head().getLong(0) == spark.read.parquet(root).count())
  }

  // ---- StatsPrune ---------------------------------------------------------

  private lazy val pkRoot: String = {
    val dir = sys.props("java.io.tmpdir") + "/graft-statsrules-pk/orders"
    Tables.orders(spark, TestSpark.sfDir)
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def setupPk(): (Long, Long) = {
    spark.read.parquet(pkRoot).createOrReplaceTempView("stats_pk_orders")
    spark.sql("CREATE SECONDARY INDEX stats_pk_idx ON stats_pk_orders (o_orderkey) " +
      "WITH (key = 'statsrules-pk-orders')")
    val mm = spark.read.parquet(pkRoot)
      .agg(min("o_orderkey"), max("o_orderkey")).head()
    (mm.getLong(0), mm.getLong(1))
  }

  test("an impossible range folds the scan to empty at plan time") {
    val (lo, hi) = setupPk()
    for (sql <- Seq(
        s"SELECT o_orderkey FROM stats_pk_orders WHERE o_orderkey < $lo",
        s"SELECT o_orderkey FROM stats_pk_orders WHERE o_orderkey > $hi",
        s"SELECT o_orderkey FROM stats_pk_orders WHERE o_orderkey = ${hi + 10}")) {
      val df = spark.sql(sql)
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collectFirst { case lr: LogicalRelation => lr }.isEmpty,
        s"expected plan-time fold for [$sql], got:\n$plan")
      assert(df.count() == 0)
    }
  }

  test("an always-true range becomes IS NOT NULL") {
    val (lo, _) = setupPk()
    val df = spark.sql(
      s"SELECT count(*) AS n FROM stats_pk_orders WHERE o_orderkey >= $lo")
    val conds = df.queryExecution.optimizedPlan.collect {
      case Filter(c, _) => c }
    assert(conds.forall(_.collectFirst {
      case _: org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual => ()
    }.isEmpty), s"range must be gone, conditions: $conds")
    assert(df.head().getLong(0) == spark.read.parquet(pkRoot).count())
  }

  test("a selective range prunes files by zone stats, result unchanged") {
    val (lo, _) = setupPk()
    val df = spark.sql(
      s"SELECT o_orderkey, o_custkey FROM stats_pk_orders WHERE o_orderkey <= $lo + 100")
    val loc = df.queryExecution.optimizedPlan.collectFirst {
      case lr: LogicalRelation =>
        lr.relation.asInstanceOf[HadoopFsRelation].location }.get
    assert(loc.isInstanceOf[PrunedStatsFileIndex],
      s"expected a zone-pruned scan, got ${loc.getClass}")
    assert(loc.inputFiles.length < 8,
      s"range prune must drop files, kept ${loc.inputFiles.length} of 8")
    val want = spark.read.parquet(pkRoot)
      .filter(col("o_orderkey") <= lo + 100)
      .select("o_orderkey", "o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want)
  }

  test("a column without a secondary index is untouched") {
    setupPk()
    val df = spark.sql(
      "SELECT o_orderkey FROM stats_pk_orders WHERE o_custkey < -5")
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectFirst { case lr: LogicalRelation => lr }.nonEmpty)
  }
}
