package graft.search

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{RefreshJobCount, TestSpark}

/** The index reader snapshot behind `IndexStore.load`: warm claims plan
  * without launching a Spark job, every index write is seen by the next
  * statement, and one snapshot serves every session. Claimed answers are
  * checked against row evaluation of the same predicate over a copy of the
  * table that the claim rules cannot see (a local relation, not an indexed
  * scan). */
class ReaderSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)
  private val tbl = s"rs_docs_$tag"
  private val idx = s"rs_idx_$tag"
  private val dict = s"rs_dict_$tag"

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
  private def body(pk: Int): String =
    Seq(words(pk % 6), words(pk % 4), words(pk / 3 % 6), s"w$pk").mkString(" ")
  // distances to the hybrid query vector are all distinct: no LIMIT ties
  private def emb(pk: Int): Seq[Float] = Seq(pk.toFloat, 0f, 0f, 0f)
  private val schema = StructType(Seq(StructField("pk", IntegerType, nullable = false),
    StructField("body", StringType), StructField("emb", ArrayType(FloatType, containsNull = false))))

  private def run(s: SparkSession, sql: String): Array[Row] = s.sql(sql).collect()

  /** Spark jobs of the changeful REFRESH below (65 when its classify frame
    * was checkpointed and then grouped for the class counts, and each index
    * part opened by Spark's schema inference): the frame is materialized
    * by one job that also counts the classes. Three of them count the
    * delta segment's source, its exact numDocs. */
  private val ChangefulRefreshJobs = 30

  private def insert(pks: Range): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(
      pks.map(p => Row(p, body(p), emb(p))), 2), schema).createOrReplaceTempView(s"${tbl}_src")
    run(spark, s"INSERT INTO $tbl SELECT pk, body, emb FROM ${tbl}_src")
  }

  private def createIndex(): Unit =
    run(spark, s"CREATE INDEX $idx ON $tbl USING inverted(pk, body $dict, emb ivf (metric = 'l2'))")

  private def registerFunctions(s: SparkSession): Unit = {
    SqlSurface.registerAll(s)
    graft.catalog.CatalogDdl.registerFunctions(s)
  }

  private lazy val ready: Unit = {
    registerFunctions(spark)
    run(spark, s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    run(spark, s"CREATE TABLE $tbl(pk INTEGER PRIMARY KEY, body VARCHAR, emb FLOAT[4])")
    insert(1 to 40)
    createIndex()
  }

  private def m(q: String) = s"ts_match(body, $q, '$dict')"
  private val topK = s"SELECT pk FROM $idx WHERE ${m("'alpha'")} " +
    s"ORDER BY bm25(body, 'alpha', '$dict') DESC LIMIT 5"
  private val count = s"SELECT count(*) AS n FROM $idx WHERE ${m("'bravo'")}"
  private val threshold = s"SELECT pk FROM $idx WHERE bm25(body, 'alpha bravo', '$dict') >= 1.0"
  /** The search mix's bm25 shape: the text match is an OR of the scorer's
    * terms, so the top-k absorbs it. */
  private def canonical(k: Int) =
    s"SELECT pk, bm25(body, 'alpha bravo', '$dict') AS s FROM $idx " +
      s"WHERE ${m("ts_or(ts_phrase('alpha'), ts_phrase('bravo'))")} ORDER BY s DESC LIMIT $k"
  private val hybrid = s"SELECT pk FROM $idx WHERE ${m("'charlie'")} " +
    "ORDER BY emb <-> [20.3, 0.0, 0.0, 0.0]::FLOAT[4] LIMIT 5"
  /** Count filters: a term, an OR, an AND of two predicates, a phrase
    * ("bravo delta" opens the bodies of pk 7, 19, 31 and 43) and a prefix,
    * which expands the term dictionary. */
  private val countFilters = Seq(m("'bravo'"), m("ts_or(ts_phrase('alpha'), ts_phrase('delta'))"),
    s"${m("'bravo'")} AND ${m("'delta'")}", m("ts_phrase('bravo delta')"),
    m("ts_starts_with('ch')"))
  private def countOf(f: String) = s"SELECT count(*) AS n FROM $idx WHERE $f"

  /** No search stub (text match, scorer, vector distance) is left for
    * row-at-a-time evaluation. */
  private def claimed(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    val s = plan.toString
    !(s.contains("ts_match(") || s.contains("bm25(") || s.contains("ann_l2("))
  }

  private def pks(rows: Array[Row]): Set[Int] =
    rows.map(_.getAs[Number](0).intValue).toSet

  /** Filters checked after every write: single terms (one of them only on
    * rows inserted later), and two conjuncts whose legs both come from one
    * reader snapshot. */
  private val filters = Seq(m("'alpha'"), m("'w41'"), s"${m("'bravo'")} AND ${m("'delta'")}")

  /** A copy of the table's rows the claim rules cannot see, as `${tbl}_raw`;
    * returns the row count. */
  private def rawCopy(s: SparkSession): Int = {
    val rows = run(s, s"SELECT * FROM $tbl")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .createOrReplaceTempView(s"${tbl}_raw")
    rows.length
  }

  private def rawCount(s: SparkSession, f: String): Long =
    run(s, s"SELECT count(*) FROM ${tbl}_raw WHERE $f").head.getLong(0)

  /** Claimed answers (via the index relation) equal row evaluation. */
  private def assertAgrees(s: SparkSession, when: String): Unit = {
    val rows = rawCopy(s)
    assert(run(s, s"SELECT count(*) FROM $idx").head.getLong(0) == rows,
      s"$when: live-doc count")
    filters.foreach { f =>
      val want = pks(run(s, s"SELECT pk FROM ${tbl}_raw WHERE $f"))
      val df = s.sql(s"SELECT pk FROM $idx WHERE $f")
      assert(claimed(df.queryExecution.optimizedPlan), s"$when: $f must be claimed")
      assert(pks(df.collect()) == want, s"$when: $f")
      assert(run(s, s"SELECT count(*) FROM $idx WHERE $f").head.getLong(0) == want.size,
        s"$when: count of $f")
    }
  }

  private def semiJoins(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }.size

  test("warm claims plan with zero Spark jobs: bm25 top-k, ts_match count, hybrid") {
    ready
    // the bm25 floor's WAND prefix is worked out when the statement runs
    (Seq(topK, count, hybrid, threshold) ++ countFilters.map(countOf)).foreach { q =>
      spark.sql(q).queryExecution.optimizedPlan
      val (plan, jobs) = RefreshJobCount.jobsIn(spark, "claim-plan")(
        spark.sql(q).queryExecution.optimizedPlan)
      assert(claimed(plan), s"not claimed: $q\n$plan")
      assert(jobs == 0, s"planning launched $jobs Spark jobs: $q")
    }
  }

  test("every index write is seen by the next claimed statement") {
    ready
    assertAgrees(spark, "after CREATE INDEX")
    insert(41 to 48)
    run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    assertAgrees(spark, "after INSERT + refresh")
    run(spark, s"DELETE FROM $tbl WHERE pk IN (6, 12, 41)")
    run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    assertAgrees(spark, "after DELETE + refresh")
    run(spark, s"VACUUM (COMPACT_TABLE) $tbl")
    assertAgrees(spark, "after COMPACT")
    run(spark, s"DROP INDEX $idx")
    run(spark, s"DELETE FROM $tbl WHERE pk IN (18, 24, 42)")
    createIndex()
    assertAgrees(spark, "after DROP + re-CREATE INDEX")
  }

  test("a second session plans the same claimed answers from the shared snapshot") {
    ready
    val want = Seq(topK, count, hybrid).map(q => run(spark, q).toSeq)
    val s2 = spark.newSession()
    registerFunctions(s2)
    assert(Seq(topK, count, hybrid).map(q => run(s2, q).toSeq) == want)
    assertAgrees(s2, "second session")
  }

  test("a text match that misses a scorer term is not absorbed") {
    ready
    val q = s"SELECT pk FROM $idx WHERE ${m("'alpha'")} " +
      s"ORDER BY bm25(body, 'alpha bravo', '$dict') DESC LIMIT 40"
    val df = spark.sql(q)
    assert(claimed(df.queryExecution.optimizedPlan))
    assert(semiJoins(df.queryExecution.optimizedPlan) == 1, "the ts_match drive stays")
    val alpha = pks(run(spark, s"SELECT pk FROM $tbl WHERE body LIKE '%alpha%'"))
    val got = pks(df.collect())
    assert(got.nonEmpty && got.subsetOf(alpha), s"non-alpha docs in $got")
  }

  /** The bare bm25 shape: no text match, the id only. */
  private def bare(k: Int) =
    s"SELECT pk FROM $idx ORDER BY bm25(body, 'alpha bravo', '$dict') DESC LIMIT $k"

  /** Whether the plan reads a file relation (the base table). */
  private def readsFiles(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.exists {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case _ => false
    }

  test("the absorbed and the bare top-k: no drive, no base-table relation, 1 Spark job") {
    ready
    Seq(canonical(5), bare(5)).foreach { q =>
      val plan = spark.sql(q).queryExecution.optimizedPlan
      assert(claimed(plan))
      assert(semiJoins(plan) == 0, s"the ts_match drive must be absorbed\n$plan")
      assert(!readsFiles(plan), s"a fresh index answers the top-k alone\n$plan")
      run(spark, q)
      val (_, jobs) = RefreshJobCount.jobsIn(spark, "topk-exec")(run(spark, q))
      assert(jobs == 1, s"the warm top-k ran $jobs Spark jobs: $q")
    }
    assert(run(spark, bare(5)).map(_.getAs[Number](0).intValue).toSeq ==
      run(spark, canonical(5)).map(_.getAs[Number](0).intValue).toSeq)

    // between a DELETE and its REFRESH the index still scores the deleted
    // rows; the base-table join leaves them out and nothing else changes
    val all = run(spark, canonical(100)).map(r => r.getAs[Number](0).intValue -> r.getDouble(1))
    val gone = all.take(3).map(_._1)
    run(spark, s"DELETE FROM $tbl WHERE pk IN (${gone.mkString(", ")})")
    try {
      assert(readsFiles(spark.sql(canonical(5)).queryExecution.optimizedPlan))
      val after = run(spark, canonical(5)).map(r => r.getAs[Number](0).intValue -> r.getDouble(1))
      assert(after.toSeq == all.filterNot(p => gone.contains(p._1)).take(5).toSeq)
    } finally run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
  }

  test("a bare top-k between a DELETE and its REFRESH leaves the deleted rows out") {
    ready
    val all = run(spark, bare(100)).map(_.getAs[Number](0).intValue).toSeq
    val gone = all.take(2)
    run(spark, s"DELETE FROM $tbl WHERE pk IN (${gone.mkString(", ")})")
    try {
      val plan = spark.sql(bare(5)).queryExecution.optimizedPlan
      assert(claimed(plan) && readsFiles(plan), s"a stale index must join the table\n$plan")
      assert(run(spark, bare(5)).map(_.getAs[Number](0).intValue).toSeq ==
        all.filterNot(gone.contains).take(5))
    } finally run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    val refreshed = run(spark, bare(100)).map(_.getAs[Number](0).intValue)
    assert(refreshed.nonEmpty && !refreshed.exists(gone.contains), "after the REFRESH")
  }

  /** Effective runs of Spark's `ResolveEncodersInUDF` so far, from the
    * rule executor's metering table (`… effective runs / total runs`). */
  private def encoderResolutions(): Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().split("\n")
      .find(_.contains("ResolveEncodersInUDF"))
      .flatMap(l => "(\\d+) / (\\d+)\\s*$".r.findFirstMatchIn(l))
      .fold(0L)(_.group(1).toLong)

  test("analyzing warm search statements resolves no UDF encoder") {
    ready
    val knn = s"SELECT pk FROM $idx ORDER BY emb <-> [20.3, 0.0, 0.0, 0.0]::FLOAT[4] LIMIT 5"
    val statements = Seq(canonical(5), count, knn, hybrid)
    statements.foreach(q => spark.sql(q).queryExecution.optimizedPlan)
    val before = encoderResolutions()
    statements.foreach(q => spark.sql(q).queryExecution.analyzed)
    assert(encoderResolutions() == before,
      org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent())
  }

  test("row-evaluated search functions keep their answers, NULL inputs included") {
    ready
    val rows = run(spark,
      s"""SELECT ts_match(b, q, '$dict'), ann_l2(e, array(1.0, 4.0)),
         |  boost(q, NULL), boost('alpha', 2) = boost('alpha', 2.0),
         |  slop(ts_phrase('a b'), NULL), phrase_slop_matches(b, 'alpha charlie', 1, '$dict')
         |FROM VALUES ('alpha bravo charlie', 'alpha', array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))),
         |  (NULL, 'alpha', array(CAST(1 AS FLOAT), CAST(6 AS FLOAT))),
         |  ('alpha', NULL, array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))
         |  AS t(b, q, e)""".stripMargin)
    def cells(r: Row) = (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i))
    assert(cells(rows(0)) == Seq(true, 4.0, null, true, null, true))
    assert(cells(rows(1)) == Seq(null, 4.0, null, true, null, null))
    assert(cells(rows(2)) == Seq(null, 4.0, null, true, null, false))
  }

  test("CREATE INDEX and REFRESH log no exception") {
    ready
    val t2 = s"${tbl}_quiet"
    run(spark, s"CREATE TABLE $t2(pk INTEGER PRIMARY KEY, body VARCHAR, emb FLOAT[4])")
    run(spark, s"INSERT INTO $t2 SELECT pk, body, emb FROM $tbl")
    try {
      val (_, thrown) = graft.LogCapture.thrownIn {
        run(spark, s"CREATE INDEX ${idx}_quiet ON $t2 USING inverted(pk, body $dict)")
        run(spark, s"DELETE FROM $t2 WHERE pk = 1")
        run(spark, s"VACUUM (REFRESH_TABLE) $t2")
      }
      assert(thrown.isEmpty, thrown.mkString("\n"))
    } finally {
      run(spark, s"DROP INDEX IF EXISTS ${idx}_quiet")
      run(spark, s"DROP TABLE IF EXISTS $t2")
    }
  }

  test("a REFRESH that changes rows releases the RDDs it persisted") {
    ready
    val t2 = s"${tbl}_persist"
    run(spark, s"CREATE TABLE $t2(pk INTEGER PRIMARY KEY, body VARCHAR)")
    run(spark, s"INSERT INTO $t2 SELECT pk, body FROM $tbl")
    try {
      run(spark, s"CREATE INDEX ${idx}_persist ON $t2 USING inverted(pk, body $dict)")
      run(spark, s"DELETE FROM $t2 WHERE pk = 2")
      run(spark, s"INSERT INTO $t2 VALUES (900, 'alpha zulu')")
      val before = spark.sparkContext.getPersistentRDDs.size
      run(spark, s"VACUUM (REFRESH_TABLE) $t2")
      assert(run(spark, s"SELECT count(*) FROM ${idx}_persist WHERE ${m("'zulu'")}")
        .head.getLong(0) == 1, "the REFRESH changed the index")
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        spark.sparkContext.getPersistentRDDs.values.mkString("\n"))
    } finally {
      run(spark, s"DROP INDEX IF EXISTS ${idx}_persist")
      run(spark, s"DROP TABLE IF EXISTS $t2")
    }
  }

  test("a changeful REFRESH classifies in one job and leaves no RDD persisted") {
    ready
    val t2 = s"${tbl}_classify"
    run(spark, s"CREATE TABLE $t2(pk INTEGER PRIMARY KEY, body VARCHAR)")
    run(spark, s"INSERT INTO $t2 SELECT pk, body FROM $tbl")
    try {
      run(spark, s"CREATE INDEX ${idx}_classify ON $t2 USING inverted(pk, body $dict)")
      run(spark, s"DELETE FROM $t2 WHERE pk = 3")
      run(spark, s"INSERT INTO $t2 VALUES (901, 'alpha yankee')")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (_, jobs) = RefreshJobCount.jobsIn(spark, "refresh")(
        run(spark, s"VACUUM (REFRESH_TABLE) $t2"))
      info(s"changeful REFRESH: $jobs Spark jobs")
      assert(run(spark, s"SELECT count(*) FROM ${idx}_classify WHERE ${m("'yankee'")}")
        .head.getLong(0) == 1, "the REFRESH changed the index")
      assert(jobs <= ChangefulRefreshJobs, s"$jobs jobs")
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        spark.sparkContext.getPersistentRDDs.values.mkString("\n"))
    } finally {
      run(spark, s"DROP INDEX IF EXISTS ${idx}_classify")
      run(spark, s"DROP TABLE IF EXISTS $t2")
    }
  }

  test("a COMPACT releases the RDDs it persisted") {
    ready
    val t2 = s"${tbl}_cpersist"
    run(spark, s"CREATE TABLE $t2(pk INTEGER PRIMARY KEY, body VARCHAR)")
    run(spark, s"INSERT INTO $t2 SELECT pk, body FROM $tbl")
    try {
      run(spark, s"CREATE INDEX ${idx}_cpersist ON $t2 USING inverted(pk, body $dict)")
      run(spark, s"DELETE FROM $t2 WHERE pk = 2")
      run(spark, s"INSERT INTO $t2 VALUES (900, 'alpha zulu')")
      run(spark, s"VACUUM (REFRESH_TABLE) $t2")
      val segDir = IndexCatalog.textKeys.collectFirst {
        case (root, "body", `dict`) if root.contains(t2) =>
          IndexCatalog.lookupText(root, "body", dict).get.segDir
      }.get
      assert(graft.index.IndexStore.listSegments(spark, segDir).size >= 2)
      val before = spark.sparkContext.getPersistentRDDs.size
      run(spark, s"VACUUM (COMPACT_TABLE) $t2")
      assert(graft.index.IndexStore.listSegments(spark, segDir).size == 1,
        "the COMPACT merged the segments")
      assert(run(spark, s"SELECT count(*) FROM ${idx}_cpersist WHERE ${m("'zulu'")}")
        .head.getLong(0) == 1)
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        spark.sparkContext.getPersistentRDDs.values.mkString("\n"))
    } finally {
      run(spark, s"DROP INDEX IF EXISTS ${idx}_cpersist")
      run(spark, s"DROP TABLE IF EXISTS $t2")
    }
  }

  private def joins(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size

  test("a warm claimed count runs as 1 Spark job of the text-match leaf, tombstones included") {
    ready
    def check(when: String): Unit = {
      rawCopy(spark)
      countFilters.foreach { f =>
        val q = countOf(f)
        val plan = spark.sql(q).queryExecution.optimizedPlan
        assert(plan.toString.contains("MatchScan(count") && joins(plan) == 0,
          s"$when: $f must count through the leaf\n$plan")
        run(spark, q)
        val (rows, jobs) = RefreshJobCount.jobsIn(spark, "count-exec")(run(spark, q))
        assert(jobs == 1, s"$when: the warm count of $f ran $jobs Spark jobs")
        assert(rows.head.getLong(0) == rawCount(spark, f), s"$when: count of $f")
      }
    }
    check("warm")
    run(spark, s"DELETE FROM $tbl WHERE pk IN (7, 8, 9)")
    run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    check("after DELETE + refresh")
  }

  test("loads of an unchanged index share their frames in a session; a write brings new ones") {
    ready
    val segDir = IndexCatalog.textKeys.collectFirst {
      case (root, "body", `dict`) if s"\\b$tbl\\b".r.findFirstIn(root).nonEmpty =>
        IndexCatalog.lookupText(root, "body", dict).get.segDir
    }.get
    def frames(s: SparkSession) = {
      val i = graft.index.IndexStore.load(s, segDir)
      Seq(i.postings, i.termDict, i.docStats)
    }
    def same(a: Seq[AnyRef], b: Seq[AnyRef]) = a.zip(b).forall { case (x, y) => x eq y }
    def disjoint(a: Seq[AnyRef], b: Seq[AnyRef]) = a.zip(b).forall { case (x, y) => !(x eq y) }
    val first = frames(spark)
    assert(same(frames(spark), first), "a second load of an unchanged index built new frames")
    val s2 = spark.newSession()
    val other = frames(s2)
    assert(disjoint(other, first) && other.forall(_.sparkSession eq s2), "frames crossed sessions")
    val pk = run(spark, s"SELECT min(pk) FROM $tbl").head.getInt(0)
    run(spark, s"DELETE FROM $tbl WHERE pk = $pk")
    run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    val after = frames(spark)
    assert(disjoint(after, first), "a DELETE + REFRESH kept the old frames")
    assert(same(frames(spark), after))
    assert(after(2).filter(org.apache.spark.sql.functions.col("doc_id") === pk).isEmpty,
      s"the new frames still hold the deleted pk $pk")
  }

  test("a count between a DELETE and its REFRESH stays on the base-table semi-join") {
    ready
    run(spark, s"DELETE FROM $tbl WHERE pk IN (19, 20, 21)")
    try {
      rawCopy(spark)
      countFilters.foreach { f =>
        val df = spark.sql(countOf(f))
        val plan = df.queryExecution.optimizedPlan
        assert(claimed(plan), s"$f must be claimed\n$plan")
        assert(!plan.toString.contains("MatchScan(count") && semiJoins(plan) >= 1,
          s"a stale index must not answer the count of $f alone\n$plan")
        assert(df.collect().head.getLong(0) == rawCount(spark, f), s"count of $f")
      }
    } finally run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
  }
}
