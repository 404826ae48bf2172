package graft.plans

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.analysis.WhitespaceAnalyzer
import graft.search.{TsQueryExec, TsQueryParser, SqlSurface}

/** The search-claim rule must (a) change the PLAN — ts_match leaves the
  * filter and becomes an index semi-join — and (b) not change the RESULT
  * vs row evaluation. */
@graft.SlowTest
class ClaimRuleSpec extends AnyFunSuite {

  /** All ScalaUDFs named `name` anywhere in the plan tree — `plan.expressions`
    * alone is NOT recursive, it sees only the root node's expressions. */
  private def udfsIn(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      name: String): Seq[ScalaUDF] =
    plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case u: ScalaUDF if u.udfName.contains(name) => u })

  /** The claim rules resolve scans through the IndexCatalog that DDL
    * maintains — register the fixture indexes the way a user would (keys
    * shared with the library-API entries, so builds are reused). */
  private def ensureDocsIndex(): Unit = {
    val spark = TestSpark.spark
    Tables.documents(spark, TestSpark.sfDir).createOrReplaceTempView("graft_documents")
    graft.search.Ddl.execute(spark,
      s"""CREATE SEARCH INDEX docs_claim_idx ON graft_documents (text)
         |WITH (id = 'doc_id', analyzer = 'whitespace', key = '${TestSpark.sfDir}-documents')""".stripMargin)
  }

  private def ensureEmbIndex(): Unit = {
    val spark = TestSpark.spark
    Tables.embeddings(spark, TestSpark.sfDir).createOrReplaceTempView("graft_embeddings")
    graft.search.Ddl.execute(spark,
      s"""CREATE VECTOR INDEX emb_claim_l2 ON graft_embeddings (embedding)
         |WITH (id = 'vec_id', key = '${TestSpark.sfDir}-embeddings')""".stripMargin)
  }

  private def claimedDf = {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE ts_match(text, 'stream -batch', 'whitespace') AND n_chars > 100""".stripMargin)
  }

  test("ts_match is claimed into a left-semi index join with residual filter") {
    val optimized = claimedDf.queryExecution.optimizedPlan
    val semiJoins = optimized.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semiJoins.nonEmpty, s"expected claimed semi-join, got:\n$optimized")
    val leftoverUdfs = udfsIn(optimized, "ts_match")
    assert(leftoverUdfs.isEmpty, "ts_match must not survive as a row-eval filter")
  }

  test("ts_dict aggregate pushdown replaces explode with a dictionary read") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT token, count(DISTINCT doc_id) AS docs, count(*) AS freq
        |FROM (SELECT doc_id, explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents)
        |GROUP BY token""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    val generates = optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.isEmpty, s"facet must read the term dict, not explode:\n$optimized")

    // and the dictionary read must equal the brute-force facet
    val ws = WhitespaceAnalyzer(lowercase = true)
    val toks = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> ws.tokens(r.getString(1)))
    val want = toks.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1)
      .map { case (t, rows) => (t, rows.map(_._2).distinct.size.toLong, rows.size.toLong) }
      .toSet
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("claimable-filtered facet is rewritten to postings-driven counts") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT token, count(DISTINCT doc_id) AS docs, count(*) AS freq
        |FROM (SELECT doc_id, explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents WHERE ts_match(text, 'stream', 'whitespace'))
        |GROUP BY token""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_tokenize_sql").isEmpty,
      s"filtered facet must not re-tokenize:\n$optimized")
    assert(udfsIn(optimized, "ts_match").isEmpty)
    val generates = optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.isEmpty, s"filtered facet must drive from postings:\n$optimized")

    // counts must equal the brute-force facet over matching docs only
    val ws = WhitespaceAnalyzer(lowercase = true)
    val toks = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> ws.tokens(r.getString(1)))
      .filter(_._2.contains("stream"))
    val want = toks.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1)
      .map { case (t, rows) => (t, rows.map(_._2).distinct.size.toLong, rows.size.toLong) }
      .toSet
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("ungrouped min/max/count-distinct facet is served from the dictionary ends") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT min(token) AS mn, max(token) AS mx,
        |       count(DISTINCT token) AS nd, count(*) AS nt
        |FROM (SELECT explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents)""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_tokenize_sql").isEmpty,
      s"ungrouped dict aggregates must not tokenize:\n$optimized")
    assert(optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty)
    // ground truth from the brute-force tokenize
    val ws = WhitespaceAnalyzer(lowercase = true)
    val all = Tables.documents(spark, TestSpark.sfDir)
      .select("text").collect().flatMap(r => ws.tokens(r.getString(0)))
    val row = df.collect().head
    assert(row.getString(0) == all.min)
    assert(row.getString(1) == all.max)
    assert(row.getLong(2) == all.distinct.length.toLong)
    assert(row.getLong(3) == all.length.toLong)
  }

  test("ungrouped facet over a CLAIMED ts_match filter drives from matched postings") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT min(token) AS mn, max(token) AS mx,
        |       count(DISTINCT token) AS nd, count(*) AS nt
        |FROM (SELECT doc_id, explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents WHERE ts_match(text, 'stream', 'whitespace'))""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_tokenize_sql").isEmpty,
      s"filtered ungrouped facet must not re-tokenize:\n$optimized")
    assert(udfsIn(optimized, "ts_match").isEmpty)
    assert(optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty, s"must drive from postings, not explode:\n$optimized")
    // ground truth over the matching docs only
    val ws = WhitespaceAnalyzer(lowercase = true)
    val matched = Tables.documents(spark, TestSpark.sfDir)
      .select("text").collect().map(r => ws.tokens(r.getString(0)))
      .filter(_.contains("stream"))
    val all = matched.flatten
    val row = df.collect().head
    assert(row.getString(0) == all.min)
    assert(row.getString(1) == all.max)
    assert(row.getLong(2) == all.distinct.length.toLong)
    assert(row.getLong(3) == all.length.toLong)
  }

  test("non-claimable filtered facet still bails to the explode plan") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT token, count(DISTINCT doc_id) AS docs, count(*) AS freq
        |FROM (SELECT doc_id, explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents WHERE lang = 'en')
        |GROUP BY token""".stripMargin)
    val generates = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.nonEmpty, "a non-claimable filter must keep the explode plan")
  }

  test("ANN order-by-limit is claimed into an IVF probe") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureEmbIndex()
    import org.apache.spark.sql.functions._
    val q = Tables.embeddings(spark, TestSpark.sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val df = Tables.embeddings(spark, TestSpark.sfDir)
      .orderBy(call_udf("ann_l2", col("embedding"), typedlit(q)))
      .limit(10)
      .select(col("vec_id"))
    val optimized = df.queryExecution.optimizedPlan
    val leftoverUdfs = udfsIn(optimized, "ann_l2")
    assert(leftoverUdfs.isEmpty, s"ann_l2 sort must be claimed into the IVF probe:\n$optimized")
    // quality: claimed result overlaps exact top-10 at >= 9
    val exact = graft.queries.Vectors.knnExact(spark, TestSpark.sfDir)
      .collect().map(_.getLong(0)).toSet
    val got = df.collect().map(_.getLong(0)).toSet
    assert((got & exact).size >= 9)
  }

  test("filtered facet is NOT claimed — the Filter must survive, counts must be filtered") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT token, count(DISTINCT doc_id) AS docs, count(*) AS freq
        |FROM (SELECT doc_id, explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents WHERE lang = 'en')
        |GROUP BY token""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    val generates = optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.nonEmpty,
      s"a facet over a FILTERED scan must keep the explode plan, not read the whole-corpus dict:\n$optimized")

    val ws = WhitespaceAnalyzer(lowercase = true)
    val toks = Tables.documents(spark, TestSpark.sfDir)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> ws.tokens(r.getString(1)))
    val want = toks.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1)
      .map { case (t, rows) => (t, rows.map(_._2).distinct.size.toLong, rows.size.toLong) }
      .toSet
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "filtered facet counts must reflect only lang='en' docs")
  }

  test("a token-only filter between aggregate and explode claims as a dictionary residual") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT token, count(*) AS freq
        |FROM (SELECT doc_id, explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents)
        |WHERE token LIKE 'z%' AND length(token) > 4
        |GROUP BY token""".stripMargin)
    // the predicate references only the token, so it commutes with the facet
    // and becomes a residual FILTER over the dictionary rows (the
    // reference's `len` leg, ts_dict_cartesian.test) — nothing tokenizes
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_tokenize_sql").isEmpty,
      s"token-residual facet must serve from the dictionary:\n$optimized")
    val ws = WhitespaceAnalyzer(lowercase = true)
    val want = Tables.documents(spark, TestSpark.sfDir)
      .select("text").collect()
      .flatMap(r => ws.tokens(r.getString(0)))
      .filter(t => t.startsWith("z") && t.length > 4)
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }.toSet
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet == want)
  }

  test("a filter touching NON-token columns still bails to the explode plan") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT token, count(*) AS freq
        |FROM (SELECT doc_id, explode(ts_tokenize_sql(text, 'whitespace')) AS token
        |      FROM graft_documents)
        |WHERE token LIKE 'z%' AND doc_id % 2 = 0
        |GROUP BY token""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_tokenize_sql").nonEmpty,
      "a doc-dependent filter must keep the explode plan — dict counts would be wrong")
    val ws = WhitespaceAnalyzer(lowercase = true)
    val want = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").collect()
      .filter(_.getLong(0) % 2 == 0)
      .flatMap(r => ws.tokens(r.getString(1)))
      .filter(_.startsWith("z"))
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }.toSet
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet == want)
  }

  test("filtered ANN order-by-limit keeps the exact sort and exact results") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureEmbIndex()
    import org.apache.spark.sql.functions._
    val q = Tables.embeddings(spark, TestSpark.sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val df = Tables.embeddings(spark, TestSpark.sfDir)
      .filter(col("vec_id") % 2 === 0)
      .orderBy(call_udf("ann_l2", col("embedding"), typedlit(q)))
      .limit(10)
      .select(col("vec_id"))
    val optimized = df.queryExecution.optimizedPlan
    // the IVF probe must NOT claim (it would drop the filter): the Sort
    // survives — but its row-eval UDF key is rewritten into the native
    // codegen'd kernel (ClaimAnnDistanceRewrite), bit-identical fold
    val sorts = optimized.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }
    assert(sorts.nonEmpty,
      s"a FILTERED ANN sort must stay exact — claiming would drop the filter:\n$optimized")
    assert(udfsIn(optimized, "ann_l2").isEmpty,
      s"the surviving sort key must be the native kernel, not the ScalaUDF:\n$optimized")
    assert(optimized.exists(_.expressions.exists(_.exists {
      case _: graft.functions.L2SqrDistanceExpr => true
      case _ => false
    })), s"expected L2SqrDistanceExpr in the sort key:\n$optimized")

    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val want = Tables.embeddings(spark, TestSpark.sfDir)
      .filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), l2(r.getSeq[Float](1), q)))
      .sortBy(_._2).take(10).map(_._1).toSet
    assert(df.collect().map(_.getLong(0)).toSet == want)
  }

  test("an aliased non-text column named 'text' is never claimed against the index") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    // `source AS text`: the attribute is NAMED text but is not the scanned
    // text column — provenance (exprId) must block the claim
    val df = spark.sql(
      """SELECT doc_id FROM
        |  (SELECT doc_id, source AS text FROM graft_documents)
        |WHERE ts_match(text, 'src1 OR src2', 'whitespace')""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    val leftoverUdfs = udfsIn(optimized, "ts_match")
    assert(leftoverUdfs.nonEmpty,
      s"ts_match over an aliased column must stay row-eval:\n$optimized")
    val want = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "source").collect()
      .filter(r => Set("src1", "src2").contains(r.getString(1)))
      .map(_.getLong(0)).toSet
    assert(df.collect().map(_.getLong(0)).toSet == want,
      "row-eval must run over the aliased source values, not the text index")
  }

  test("UNION of two scorer branches claims BOTH into independent postings drives") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id, 'bm25' AS leg FROM (
        |  SELECT doc_id FROM graft_documents
        |  ORDER BY bm25(text, 'vector dup query', 'whitespace') DESC LIMIT 10)
        |UNION ALL
        |SELECT doc_id, 'tfidf' AS leg FROM (
        |  SELECT doc_id FROM graft_documents
        |  ORDER BY tfidf(text, 'vector dup query', 'whitespace') DESC LIMIT 10)""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    // neither scorer stub survives row-eval anywhere in the tree
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"bm25 branch must claim inside the UNION:\n$optimized")
    assert(udfsIn(optimized, "tfidf").isEmpty,
      s"tfidf branch must claim inside the UNION:\n$optimized")
    // and each branch drives its own scoring leaf over the postings — two
    // index drives
    val postingsScans = optimized.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
          if r.relation.toString.startsWith("TermBagScan(") => 1
    }.sum
    assert(postingsScans >= 2,
      s"expected one postings drive per UNION branch:\n$optimized")
    // the union executes: 10 + 10 rows, no stub throw
    assert(df.count() == 20)
  }

  test("OR of claimable text predicates claims as one union drive") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE (ts_match(text, 'stream', 'whitespace')
        |       OR ts_match(text, 'vector', 'whitespace'))
        |  AND n_chars > 100""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_match").isEmpty,
      s"the whole disjunction must claim:\n$optimized")
    assert(optimized.collect {
      case j: Join if j.joinType == LeftSemi => j }.nonEmpty)
    import org.apache.spark.sql.functions._
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val want = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter((array_contains(toks, "stream") || array_contains(toks, "vector")) &&
        col("n_chars") > 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty)
    assert(df.collect().map(_.getLong(0)).toSet == want)

    // a disjunction with an UNCLAIMABLE leaf must fall back whole — OR
    // cannot claim partially
    val mixed = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE ts_match(text, 'stream', 'whitespace') OR n_chars < 50""".stripMargin)
    assert(udfsIn(mixed.queryExecution.optimizedPlan, "ts_match").nonEmpty,
      "a mixed OR must keep the row-eval filter")
    val wantMixed = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(array_contains(toks, "stream") || col("n_chars") < 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mixed.collect().map(_.getLong(0)).toSet == wantMixed)
  }

  test("NOT ts_match claims as an anti-join with PG null semantics") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE ts_match(text, 'stream', 'whitespace')
        |  AND NOT ts_match(text, 'vector', 'whitespace')""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_match").isEmpty,
      s"both the positive and the negated predicate must claim:\n$optimized")
    val antiJoins = optimized.collect {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j }
    assert(antiJoins.nonEmpty, s"negation must become LeftAnti:\n$optimized")
    // result identical to row-eval truth, including null-text exclusion
    import org.apache.spark.sql.functions._
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val want = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(array_contains(toks, "stream") && !array_contains(toks, "vector"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty)
    assert(df.collect().map(_.getLong(0)).toSet == want)

    // standalone negation (no positive conjunct) also claims; a NULL-text
    // row must NOT surface through the anti-join
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(when(col("doc_id") === 0, lit(null)).otherwise(col("text")).as("text"),
        col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite")
      .parquet(sys.props("java.io.tmpdir") + "/graft-notnull/docs")
    spark.read.parquet(sys.props("java.io.tmpdir") + "/graft-notnull/docs")
      .createOrReplaceTempView("notnull_docs")
    try graft.search.Ddl.execute(spark, "DROP SEARCH INDEX notnull_idx")
    catch { case _: Exception => () }
    graft.search.Ddl.execute(spark,
      s"""CREATE SEARCH INDEX notnull_idx ON notnull_docs (text)
         |WITH (id = 'doc_id', analyzer = 'whitespace', key = 'claimspec-notnull')""".stripMargin)
    val neg = spark.sql(
      """SELECT doc_id FROM notnull_docs
        |WHERE NOT ts_match(text, 'vector', 'whitespace')""".stripMargin)
    assert(udfsIn(neg.queryExecution.optimizedPlan, "ts_match").isEmpty)
    val got = neg.collect().map(_.getLong(0)).toSet
    assert(!got.contains(0L), "NULL text must not pass NOT ts_match (PG semantics)")
    val wantNeg = spark.table("notnull_docs")
      .filter(col("text").isNotNull &&
        !array_contains(filter(split(lower(col("text")), "\\s+"), t => t =!= ""), "vector"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == wantNeg)
  }

  test("a CTE referenced twice claims in every reference (cte_multiref)") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """WITH lex AS (
        |  SELECT doc_id, bm25(text, 'vector dup query', 'whitespace') AS s
        |  FROM graft_documents ORDER BY s DESC LIMIT 10),
        |c AS (SELECT doc_id FROM graft_documents
        |      WHERE ts_match(text, 'hash join', 'whitespace'))
        |SELECT 'norm' AS leg, doc_id,
        |  s / nullif((SELECT max(s) FROM lex), 0) AS v FROM lex
        |UNION ALL
        |SELECT 'dup' AS leg, doc_id, CAST(count(*) AS DOUBLE) AS v
        |FROM (SELECT doc_id FROM c UNION ALL SELECT doc_id FROM c)
        |GROUP BY doc_id""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"the scored CTE must claim through WithCTE + scalar subquery:\n$optimized")
    assert(udfsIn(optimized, "ts_match").isEmpty,
      s"the ts_match CTE must claim through both UNION references:\n$optimized")
    // both legs execute: 10 scored rows + the dedup'd match groups
    val legs = df.groupBy("leg").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(legs("norm") == 10 && legs("dup") > 0)
  }

  test("claimed plan returns exactly the row-eval result") {
    val spark = TestSpark.spark
    val ws = WhitespaceAnalyzer(lowercase = true)
    val q = TsQueryParser.websearch("stream -batch", ws)
    val want = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "n_chars").collect()
      .filter(r => TsQueryExec.evalTokens(q, ws.tokens(r.getString(1))) && r.getLong(2) > 100)
      .map(_.getLong(0)).toSet
    assert(claimedDf.collect().map(_.getLong(0)).toSet == want)
  }

  test("the claim fires on a NON-fixture table registered through DDL") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    Tables.events(spark, TestSpark.sfDir).createOrReplaceTempView("graft_events")
    graft.search.Ddl.execute(spark,
      s"""CREATE SEARCH INDEX events_type_idx ON graft_events (event_type)
         |WITH (id = 'event_id', analyzer = 'whitespace', key = '${TestSpark.sfDir}-events-type')""".stripMargin)
    val df = spark.sql(
      """SELECT event_id FROM graft_events
        |WHERE ts_match(event_type, 'click', 'whitespace')""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ts_match").isEmpty,
      s"ts_match on a DDL-indexed user table must be claimed:\n$optimized")
    val semiJoins = optimized.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semiJoins.nonEmpty)
    val want = Tables.events(spark, TestSpark.sfDir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(df.collect().map(_.getLong(0)).toSet == want)
  }

  test("ANN claim plans WITHOUT running a Spark job (no plan-time collect)") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureEmbIndex() // index build happens here, outside the listening window
    import org.apache.spark.sql.functions._
    val q = Tables.embeddings(spark, TestSpark.sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val df = Tables.embeddings(spark, TestSpark.sfDir)
      .orderBy(call_udf("ann_l2", col("embedding"), typedlit(q)))
      .limit(10)
      .select(col("vec_id"))
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val optimized = df.queryExecution.optimizedPlan
      assert(udfsIn(optimized, "ann_l2").isEmpty, "claim must fire in this window")
      Thread.sleep(500) // listener bus is async; zero-event check needs a beat
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(counter.get == 0,
      s"optimizing a claimable ANN query must not run Spark jobs, saw ${counter.get}")
  }

  test("ANN claim survives a projection wider than the id column (PK join-back)") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureEmbIndex()
    import org.apache.spark.sql.functions._
    val q = Tables.embeddings(spark, TestSpark.sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val df = Tables.embeddings(spark, TestSpark.sfDir)
      .orderBy(call_udf("ann_l2", col("embedding"), typedlit(q)))
      .limit(10)
      .select(col("vec_id"), col("label"))
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ann_l2").isEmpty,
      s"wide-projection ANN sort must be claimed:\n$optimized")
    // the only Sort allowed is the probe's own top-k over the list-pruned
    // (cluster-filtered) index scan — never a sort of the raw table scan
    val rawSorts = optimized.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if !s.exists {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.exists(_.name == "cluster")
            case _ => false
          } => s
    }
    assert(rawSorts.isEmpty, s"claimed plan must not re-sort the full scan:\n$optimized")
    // exactly one join-back for the extra column
    val joins = optimized.collect {
      case j: Join if j.joinType != LeftSemi => j }
    assert(joins.size == 1, s"expected one PK join-back:\n$optimized")

    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val want = Tables.embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (l2(r.getSeq[Float](1), q), r.getLong(0), r.getInt(2)))
      .sorted.take(10).map(t => (t._2, t._3)).toSet
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet == want)
  }

  test("bm25 ORDER BY ... DESC LIMIT k in SQL is claimed into the postings top-k drive") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |ORDER BY bm25(text, 'vector dup query', 'whitespace') DESC
        |LIMIT 10""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"bm25 is a claim-only stub — it must not survive optimization:\n$optimized")
    // result must equal the library postings drive, IN score order
    val want = graft.index.IndexStore.documents(spark, TestSpark.sfDir, "whitespace")
      .bm25TopK(Seq("vector", "dup", "query"), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(df.collect().map(_.getLong(0)).toSeq == want)
  }

  test("aliased bm25 in the SELECT list is claimed, score values + join-back in order") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id, CAST(round(s * 10000) AS BIGINT) AS score_q, lang
        |FROM (SELECT doc_id, bm25(text, 'vector dup query', 'whitespace') AS s, lang
        |      FROM graft_documents
        |      ORDER BY s DESC LIMIT 10)""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"aliased bm25 must be claimed:\n$optimized")
    val idx = graft.index.IndexStore.documents(spark, TestSpark.sfDir, "whitespace")
    import org.apache.spark.sql.functions.{col => f}
    val want = idx.bm25(Seq("vector", "dup", "query"))
      .orderBy(f("_score").desc, f("doc_id")).limit(10)
      .join(Tables.documents(spark, TestSpark.sfDir), "doc_id")
      .orderBy(f("_score").desc, f("doc_id"))
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 10000), r.getString(r.fieldIndex("lang"))))
      .toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want, "claimed output must carry score values and preserve score order")
  }

  test("the SAME scorer aliased twice claims once — one score column, two refs") {
    // reference score_alias_dedup.test: "aliasing the same score call twice
    // must not duplicate scorers or score columns"
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id,
        |       CAST(round(s1 * 10000) AS BIGINT) AS q1,
        |       CAST(round(s2 * 10000) AS BIGINT) AS q2
        |FROM (SELECT doc_id,
        |        bm25(text, 'vector dup query', 'whitespace') AS s1,
        |        bm25(text, 'vector dup query', 'whitespace') AS s2
        |      FROM graft_documents
        |      ORDER BY s1 DESC LIMIT 5)""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"duplicate-aliased bm25 must still claim (one virtual score column):\n$optimized")
    val rows = df.collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      "both aliases must carry the same score value"))
  }

  test("bm25 threshold WHERE is claimed into a min-score semi-join (WAND floor)") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE bm25(text, 'vector dup query', 'whitespace') >= 1.5 AND n_chars > 50""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"threshold bm25 must be claimed:\n$optimized")
    val semiJoins = optimized.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semiJoins.nonEmpty)
    val idx = graft.index.IndexStore.documents(spark, TestSpark.sfDir, "whitespace")
    import org.apache.spark.sql.functions.{col => f}
    val scoreOk = idx.bm25(Seq("vector", "dup", "query"))
      .filter(f("_score") >= 1.5).collect().map(_.getLong(0)).toSet
    val want = Tables.documents(spark, TestSpark.sfDir)
      .filter(f("n_chars") > 50).select("doc_id").collect()
      .map(_.getLong(0)).toSet & scoreOk
    assert(want.nonEmpty)
    assert(df.collect().map(_.getLong(0)).toSet == want)
  }

  test("WHERE filter + bm25 top-k compose into one claimed drive") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE n_chars > 100
        |ORDER BY bm25(text, 'vector dup query', 'whitespace') DESC
        |LIMIT 10""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"filtered scorer top-k must claim (round-7 verdict item 1):\n$optimized")
    // ground truth: top-k of the FILTERED docs, not a post-filter of the
    // global top-k
    import org.apache.spark.sql.functions.{col => f}
    val idx = graft.index.IndexStore.documents(spark, TestSpark.sfDir, "whitespace")
    val want = idx.bm25(Seq("vector", "dup", "query"))
      .join(Tables.documents(spark, TestSpark.sfDir).filter(f("n_chars") > 100)
        .select("doc_id"), "doc_id")
      .orderBy(f("_score").desc, f("doc_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(want.nonEmpty)
    assert(df.collect().map(_.getLong(0)).toSeq == want)
  }

  test("claimed ts_match conjunct + bm25 top-k compose — no row-eval UDF anywhere") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE ts_match(text, 'stream', 'whitespace')
        |ORDER BY bm25(text, 'vector dup query', 'whitespace') DESC
        |LIMIT 10""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty, s"bm25 must claim:\n$optimized")
    assert(udfsIn(optimized, "ts_match").isEmpty, s"ts_match must claim:\n$optimized")
    val semiJoins = optimized.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semiJoins.nonEmpty, "the claimed ts_match semi-join must drive the candidates")
    import org.apache.spark.sql.functions.{col => f}
    val idx = graft.index.IndexStore.documents(spark, TestSpark.sfDir, "whitespace")
    val matched = graft.search.TsQueryExec.matching(idx,
      graft.search.TsQuery.Term("stream")).select("doc_id")
    val want = idx.bm25(Seq("vector", "dup", "query"))
      .join(matched, "doc_id")
      .orderBy(f("_score").desc, f("doc_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(want.nonEmpty)
    assert(df.collect().map(_.getLong(0)).toSeq == want)
  }

  test("threshold + residual + scorer top-k compose — three claims, one fixpoint") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE bm25(text, 'vector dup query', 'whitespace') >= 1.5
        |  AND n_chars > 50
        |ORDER BY bm25(text, 'vector dup query', 'whitespace') DESC
        |LIMIT 10""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "bm25").isEmpty,
      s"both bm25 occurrences must claim:\n$optimized")
    import org.apache.spark.sql.functions.{col => f}
    val idx = graft.index.IndexStore.documents(spark, TestSpark.sfDir, "whitespace")
    val want = idx.bm25(Seq("vector", "dup", "query"))
      .filter(f("_score") >= 1.5)
      .join(Tables.documents(spark, TestSpark.sfDir).filter(f("n_chars") > 50)
        .select("doc_id"), "doc_id")
      .orderBy(f("_score").desc, f("doc_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(want.nonEmpty)
    assert(df.collect().map(_.getLong(0)).toSeq == want)
  }

  test("raw_tf in SQL claims like the other six scorers") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id, CAST(s AS BIGINT) AS tf_sum
        |FROM (SELECT doc_id, raw_tf(text, 'vector dup query', 'whitespace') AS s
        |      FROM graft_documents ORDER BY s DESC LIMIT 10)""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "raw_tf").isEmpty, s"raw_tf must claim:\n$optimized")
    import org.apache.spark.sql.functions.{col => f}
    val idx = graft.index.IndexStore.documents(spark, TestSpark.sfDir, "whitespace")
    val want = idx.rawTf(Seq("vector", "dup", "query"))
      .orderBy(f("_score").desc, f("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1).toLong)).toSeq
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
  }

  test("an unclaimed scorer throws the stub error instead of silently mis-scoring") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    // `source AS text` — provenance blocks the claim, so the stub row-evals
    val df = spark.sql(
      """SELECT doc_id FROM (SELECT doc_id, source AS text FROM graft_documents)
        |ORDER BY bm25(text, 'vector', 'whitespace') DESC LIMIT 5""".stripMargin)
    assert(udfsIn(df.queryExecution.optimizedPlan, "bm25").nonEmpty,
      "the claim must NOT fire across an alias boundary")
    val err = intercept[Exception](df.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => c.getMessage != null && c.getMessage.contains("scorer stub")),
      s"expected the scorer-stub diagnosis, got: $err")
  }

  test("sugar predicates claim into the matching TsQuery leaf") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val preds = Seq(
      "has_any_tokens(text, 'stream vector', 'whitespace')" -> "has_any_tokens",
      "has_all_tokens(text, 'stream vector', 'whitespace')" -> "has_all_tokens",
      "phrase_matches(text, 'hash join', 'whitespace')" -> "phrase_matches",
      "levenshtein_matches(text, 'qery', 1, 'whitespace')" -> "levenshtein_matches",
      "ngram_matches(text, 'vectr', 0.35, 'whitespace')" -> "ngram_matches")
    for ((pred, name) <- preds) {
      val df = spark.sql(s"SELECT doc_id FROM graft_documents WHERE $pred")
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty,
        s"$name must claim into a semi-join:\n$optimized")
      assert(udfsIn(optimized, name).isEmpty, s"$name must not survive as row-eval")
      // un-claimable shape (computed column, no expression index) row-evals
      // to the same rows — claimed and fallback paths share one algebra
      val fallback = spark.sql(
        s"""SELECT doc_id FROM
           |  (SELECT doc_id, concat(text, '') AS text FROM graft_documents) t
           |WHERE $pred""".stripMargin)
      assert(udfsIn(fallback.queryExecution.optimizedPlan, name).nonEmpty,
        s"$name over a computed column must stay row-eval")
      assert(df.collect().map(_.getLong(0)).toSet ==
        fallback.collect().map(_.getLong(0)).toSet, s"$name claimed != row-eval")
      assert(df.collect().nonEmpty, s"$name fixture query must match something")
    }
  }

  test("TSQUERY constructors fold at plan time and claim like text syntaxes") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val constructors = Seq(
      "ts_starts_with('st')", "ts_like('s%m')", "ts_regexp('^va..e$')",
      "ts_phrase('hash join')", "slop(ts_phrase('hash join'), 2)",
      "ts_between('batch', 'customer')", "ts_ge('window')",
      "ts_levenshtein('qery', 1)",
      "boost(ts_any('stream vector'), CAST(2.0 AS DOUBLE))",
      "ts_all('stream vector')")
    for (ctor <- constructors) {
      val df = spark.sql(
        s"SELECT doc_id FROM graft_documents WHERE ts_match(text, $ctor, 'whitespace')")
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty,
        s"$ctor must claim into a semi-join:\n$optimized")
      assert(udfsIn(optimized, "ts_match").isEmpty,
        s"ts_match($ctor) must not survive as row-eval")
      // same rows as the forced row-eval path (computed column blocks claim)
      val fallback = spark.sql(
        s"""SELECT doc_id FROM
           |  (SELECT doc_id, concat(text, '') AS text FROM graft_documents) t
           |WHERE ts_match(text, $ctor, 'whitespace')""".stripMargin)
      assert(df.collect().map(_.getLong(0)).toSet ==
        fallback.collect().map(_.getLong(0)).toSet, s"$ctor claimed != row-eval")
    }
  }

  test("a parameterized ts_match claims after named-parameter folding") {
    // the prepared-statement shape (reference tsquery_params.test): the
    // query text carries :q / :d placeholders; Spark's BindParameters folds
    // them to literals during analysis, so by optimization time the claim
    // rule sees the same constant-argument ts_match as inline SQL
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    val df = spark.sql(
      """SELECT doc_id FROM graft_documents
        |WHERE ts_match(text, :q, :d) AND n_chars > 100""".stripMargin,
      Map("q" -> "stream -batch", "d" -> "whitespace"))
    val optimized = df.queryExecution.optimizedPlan
    val semiJoins = optimized.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semiJoins.nonEmpty, s"parameterized ts_match must claim:\n$optimized")
    assert(udfsIn(optimized, "ts_match").isEmpty,
      "folded parameters must not leave a row-eval ts_match")
    // and the parameterized result equals the inline-literal result
    assert(df.collect().map(_.getLong(0)).toSet ==
      claimedDf.collect().map(_.getLong(0)).toSet)
  }

  test("strictClaims raises at plan time when a stub survives unclaimed") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureDocsIndex()
    spark.conf.set("spark.graft.strictClaims", "true")
    try {
      // a claimable query still plans and runs under strict mode
      assert(claimedDf.collect().nonEmpty)
      // an unclaimable stub (aliased column blocks provenance) must fail
      // PLANNING with a diagnosis, not row-evaluate silently
      val bad = spark.sql(
        """SELECT doc_id FROM (SELECT doc_id, source AS text FROM graft_documents)
          |WHERE ts_match(text, 'src1', 'whitespace')""".stripMargin)
      val e = intercept[org.apache.spark.sql.AnalysisException](bad.queryExecution.executedPlan)
      assert(e.getMessage.contains("strictClaims") && e.getMessage.contains("ts_match"),
        s"expected the strict-claims diagnosis, got: ${e.getMessage}")
      // the aliased column has NO registered index — the message must say so
      assert(e.getMessage.contains("no matching index is registered"),
        s"expected the missing-index diagnosis, got: ${e.getMessage}")

      // a shape the rules RECOGNIZE but cannot claim (ts_match inside an OR
      // disjunct — not a conjunct) over an INDEXED column: the message must
      // name the shape limitation + workaround, not claim the index is
      // missing (round-7 verdict item 9)
      val shapeBad = spark.sql(
        """SELECT doc_id FROM graft_documents
          |WHERE ts_match(text, 'stream', 'whitespace') OR n_chars > 10000""".stripMargin)
      val e2 = intercept[org.apache.spark.sql.AnalysisException](
        shapeBad.queryExecution.executedPlan)
      assert(e2.getMessage.contains("matching registered index") &&
        e2.getMessage.contains("not claimable") &&
        e2.getMessage.contains("Workaround"),
        s"expected the shape-limitation diagnosis, got: ${e2.getMessage}")
      assert(!e2.getMessage.contains("no matching index is registered"))
    } finally spark.conf.set("spark.graft.strictClaims", "false")
  }

  test("a registered ANN claim whose artifact was deleted keeps the exact sort (no plan-time build)") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureEmbIndex()
    import org.apache.spark.sql.functions._
    val q = Tables.embeddings(spark, TestSpark.sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    // delete the durable artifact out-of-band + forget the JVM cache.
    // Other suites (CoveredIndexSpec) may have re-registered the (root,
    // embedding, l2) entry with THEIR artifact key — a claim through any
    // still-live artifact would be correct behavior and not the bail under
    // test — so delete whatever artifact the CURRENT registration points
    // to, plus this suite's own key.
    val root = graft.plans.PlanShapes.scanRoot(
      Tables.embeddings(spark, TestSpark.sfDir).queryExecution.optimizedPlan
        .collectFirst {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
        }.get).get
    val registeredDirs = Seq("l2", "cosine", "ip").flatMap(m =>
      graft.search.IndexCatalog.lookupAnn(root, "embedding", m))
      .map(e => graft.index.IvfIndex.dirFor(e.cacheKey))
    val ivfDirs = (registeredDirs :+
      graft.index.IvfIndex.dirFor(s"${TestSpark.sfDir}-embeddings")).distinct
    ivfDirs.foreach { ivfDir =>
      val p = new org.apache.hadoop.fs.Path(ivfDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      graft.index.IvfIndex.invalidate(ivfDir)
    }
    try {
      val df = Tables.embeddings(spark, TestSpark.sfDir)
        .orderBy(call_udf("ann_l2", col("embedding"), typedlit(q)))
        .limit(10)
        .select(col("vec_id"))
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val optimized =
        try { val o = df.queryExecution.optimizedPlan; Thread.sleep(500); o }
        finally spark.sparkContext.removeSparkListener(listener)
      // the claim bails to the exact sort (whose UDF key is then rewritten
      // to the native kernel by ClaimAnnDistanceRewrite): still a Sort, and
      // still over the TABLE scan — not the index's vectors store
      assert(optimized.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.nonEmpty,
        s"a claim without its artifact must bail to the exact sort:\n$optimized")
      val scannedRoots = optimized.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.mkString(",")
      }
      assert(scannedRoots.exists(_.contains("embeddings.parquet")),
        s"the bailed plan must scan the table, not the index store: $scannedRoots")
      assert(counter.get == 0,
        s"failing the claim must not run a plan-time build job, saw ${counter.get}")
      // and the exact sort still answers correctly
      val exact = graft.queries.Vectors.knnExact(spark, TestSpark.sfDir)
        .collect().map(_.getLong(0)).toSet
      assert(df.collect().map(_.getLong(0)).toSet == exact)
    } finally {
      // rebuild the shared index for later tests (DROP clears the stale
      // catalog row so CREATE takes the full build path)
      graft.search.Ddl.execute(spark, "DROP VECTOR INDEX emb_claim_l2")
      ensureEmbIndex()
    }
  }

  test("ann_l2 radius predicate is claimed into a list-pruned range probe") {
    val spark = TestSpark.spark
    SqlSurface.registerAll(spark)
    ensureEmbIndex()
    import org.apache.spark.sql.functions._
    val q = Tables.embeddings(spark, TestSpark.sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val df = Tables.embeddings(spark, TestSpark.sfDir)
      .filter(call_udf("ann_l2", col("embedding"), typedlit(q)) < lit(1.5))
      .select(col("vec_id"))
    val optimized = df.queryExecution.optimizedPlan
    assert(udfsIn(optimized, "ann_l2").isEmpty,
      s"radius predicate must be claimed:\n$optimized")
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val want = Tables.embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "embedding").collect()
      .collect { case r if l2(r.getSeq[Float](1), q) < 1.5 => r.getLong(0) }.toSet
    assert(want.nonEmpty)
    assert(df.collect().map(_.getLong(0)).toSet == want)
  }
}
