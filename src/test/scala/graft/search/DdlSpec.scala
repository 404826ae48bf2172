package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** DDL statement semantics: create registers queryable index relations,
  * show lists the catalog, drop removes the segments, malformed input
  * fails loudly. */
@graft.SlowTest
class DdlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val dir = TestSpark.sfDir

  test("create / show / drop lifecycle") {
    Tables.documents(spark, dir).limit(50).createOrReplaceTempView("ddl_spec_docs")
    val created = Ddl.execute(spark,
      "CREATE SEARCH INDEX spec_idx ON ddl_spec_docs (text) " +
        "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'ddl-spec')")
    assert(created.collect().map(_.getString(0)).toSeq == Seq("created spec_idx"))

    // the index relations are live and consistent with a direct tokenization
    val dfTerms = spark.sql(
      "SELECT count(*) FROM spec_idx_termdict").collect()(0).getLong(0)
    assert(dfTerms > 0)

    val shown = Ddl.execute(spark, "SHOW SEARCH INDEXES")
    assert(shown.filter(shown("index_name") === "spec_idx").count() == 1)

    val dirPath = shown.filter(shown("index_name") === "spec_idx")
      .select("location").collect()(0).getString(0)
    Ddl.execute(spark, "DROP SEARCH INDEX spec_idx")
    assert(!new java.io.File(dirPath).exists())
    assert(Ddl.execute(spark, "SHOW SEARCH INDEXES")
      .filter(org.apache.spark.sql.functions.col("index_name") === "spec_idx")
      .count() == 0)

    // re-create under the same key must rebuild, not serve the dead cache
    Ddl.execute(spark,
      "CREATE SEARCH INDEX spec_idx ON ddl_spec_docs (text) " +
        "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'ddl-spec')")
    assert(spark.sql("SELECT count(*) FROM spec_idx_termdict")
      .collect()(0).getLong(0) == dfTerms)
    Ddl.execute(spark, "DROP SEARCH INDEX spec_idx")
  }

  test("expression-key index claims ts_match on the same expression") {
    val spark = this.spark
    graft.search.SqlSurface.registerAll(spark)
    graft.Tables.documents(spark, graft.TestSpark.sfDir)
      .createOrReplaceTempView("ddl_expr_docs")
    Ddl.execute(spark,
      s"CREATE SEARCH INDEX expr_spec_idx ON ddl_expr_docs ((upper(text))) " +
        s"WITH (id = 'doc_id', analyzer = 'whitespace', key = '${graft.TestSpark.sfDir}-documents-upper-spec')")

    // SQL-visible like any index
    assert(spark.sql("SELECT count(*) FROM expr_spec_idx_termdict").head().getLong(0) > 0)

    val df = spark.sql(
      """SELECT doc_id FROM ddl_expr_docs
        |WHERE ts_match(upper(text), 'vector', 'whitespace')""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    val semiJoins = optimized.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semiJoins.nonEmpty, s"expression key must be claimed:\n$optimized")
    val udfs = optimized.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
        if u.udfName.contains("ts_match") => u })
    assert(udfs.isEmpty, "ts_match over the indexed expression must not row-eval")

    // result still equals row evaluation semantics
    val ws = graft.analysis.WhitespaceAnalyzer(lowercase = true)
    val want = graft.Tables.documents(spark, graft.TestSpark.sfDir)
      .select("doc_id", "text").collect()
      .filter(r => ws.tokens(r.getString(1).toUpperCase).contains("vector"))
      .map(_.getLong(0)).toSet
    assert(df.collect().map(_.getLong(0)).toSet == want)

    // a DIFFERENT expression must not claim (stays row-eval, still correct)
    val other = spark.sql(
      """SELECT doc_id FROM ddl_expr_docs
        |WHERE ts_match(lower(text), 'vector', 'whitespace')""".stripMargin)
    val otherUdfs = other.queryExecution.optimizedPlan
      .collect { case n => n.expressions }.flatten.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
          if u.udfName.contains("ts_match") => u })
    assert(otherUdfs.nonEmpty, "an unindexed expression must not be claimed")

    Ddl.execute(spark, "DROP SEARCH INDEX expr_spec_idx")
  }

  test("a DDL-registered claim survives a session restart via the persisted catalog") {
    graft.search.SqlSurface.registerAll(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("persist_spec_docs")
    // a key of its own: DROP below deletes this index's segment dir, which
    // must never be the shared `$dir-documents` fixture other suites load
    def create(): Unit = Ddl.execute(spark,
      s"CREATE SEARCH INDEX persist_spec_idx ON persist_spec_docs (text) " +
        s"WITH (id = 'doc_id', analyzer = 'whitespace', key = '$dir-documents-persist-spec')")
    def claimedPlan() = spark.sql(
      """SELECT doc_id FROM persist_spec_docs
        |WHERE ts_match(text, 'stream', 'whitespace')""".stripMargin)
      .queryExecution.optimizedPlan
    def hasUdf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case n => n.expressions }.flatten.exists(_.exists {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF =>
          u.udfName.contains("ts_match")
        case _ => false
      })
    // isolate the persisted catalog from files other JVMs left in /tmp
    val tmpCat = java.nio.file.Files.createTempDirectory("graft-cat-spec").toString
    CatalogStore.baseDirOverride = Some(tmpCat)
    try {
      CatalogStore.reset()
      create()
      assert(!hasUdf(claimedPlan()), "claim must fire in the registering session")

      // simulate a fresh JVM: wipe every in-memory registry, then lazily
      // re-load from <GRAFT_INDEX_DIR>/_CATALOG on the next lookup
      CatalogStore.reset()
      assert(!hasUdf(claimedPlan()),
        "claim must fire in a FRESH session with no DDL re-run (persisted catalog)")

      // DROP removes the persisted row: after another restart the claim is
      // dark (and must NOT be resurrected by the catalog file)
      Ddl.execute(spark, "DROP SEARCH INDEX persist_spec_idx")
      CatalogStore.reset()
      assert(hasUdf(claimedPlan()),
        "after DROP + restart the catalog must not resurrect the index")
    } finally {
      // restore shared state: drop the override and re-load the real
      // persisted catalog lazily on the next lookup
      CatalogStore.baseDirOverride = None
      CatalogStore.reset()
    }
  }

  test("index DDL is first-class spark.sql text via the parser extension") {
    Tables.documents(spark, dir).limit(40).createOrReplaceTempView("sqlddl_docs")
    val created = spark.sql(
      "CREATE SEARCH INDEX sqlddl_idx ON sqlddl_docs (text) " +
        "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'sqlddl-spec')")
    assert(created.collect().map(_.getString(0)).toSeq == Seq("created sqlddl_idx"))

    val shown = spark.sql("SHOW SEARCH INDEXES")
    assert(shown.filter(shown("index_name") === "sqlddl_idx").count() == 1)
    // the SHOW output is a real relation: project/filter compose over it
    assert(spark.sql("SHOW SEARCH INDEXES").select("analyzer").columns.length == 1)

    assert(spark.sql("DROP SEARCH INDEX sqlddl_idx")
      .head().getString(0) == "dropped sqlddl_idx")

    // non-graft statements pass through to the Spark parser untouched
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    intercept[Exception](spark.sql("CREATE SEARCH NONSENSE"))
  }

  test("COMPACT and DESCRIBE maintenance verbs work over SQL text") {
    Tables.documents(spark, dir).limit(60).createOrReplaceTempView("maint_docs")
    spark.sql("CREATE SEARCH INDEX maint_idx ON maint_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'maint-spec')")
    val loc = Ddl.execute(spark, "SHOW SEARCH INDEXES")
      .filter(org.apache.spark.sql.functions.col("index_name") === "maint_idx")
      .select("location").head().getString(0)

    def stat(name: String): String = spark.sql("DESCRIBE SEARCH INDEX maint_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap.apply(name)
    val docsBefore = stat("num_docs").toLong
    assert(docsBefore > 0 && stat("kind") == "search")

    // delete a few docs -> tombstones; compact folds them into one segment
    // (ids taken from the index itself — limit(60) is an arbitrary slice)
    val victims = spark.sql("SELECT DISTINCT doc_id FROM maint_idx_postings LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(victims.size == 3)
    graft.index.IndexStore.delete(spark, loc, victims)
    val compacted = spark.sql("COMPACT SEARCH INDEX maint_idx").head().getString(0)
    assert(compacted.startsWith("compacted maint_idx"), compacted)
    assert(stat("num_segments") == "1")
    assert(stat("num_docs").toLong == docsBefore - 3)
    // and the index still answers correctly post-compaction
    assert(spark.sql("SELECT count(*) FROM maint_idx_termdict").head().getLong(0) > 0)

    intercept[IllegalArgumentException](
      Ddl.execute(spark, "COMPACT SEARCH INDEX never_created"))
    spark.sql("DROP SEARCH INDEX maint_idx")
  }

  test("REFRESH SEARCH INDEX appends only newly-arrived docs") {
    val docs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions.col
    // a previous failed run may have left the index (and its persisted
    // catalog row) behind — start from a clean slate
    try Ddl.execute(spark, "DROP SEARCH INDEX refresh_idx")
    catch { case _: IllegalArgumentException => () }
    docs.filter(col("doc_id") < 30).createOrReplaceTempView("refresh_docs")
    spark.sql("CREATE SEARCH INDEX refresh_idx ON refresh_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'refresh-spec')")
    def stats = spark.sql("DESCRIBE SEARCH INDEX refresh_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val n0 = stats("num_docs").toLong
    assert(n0 > 0 && stats("num_segments") == "1")

    // the source grows; refresh appends ONE segment holding only the delta
    docs.filter(col("doc_id") < 60).createOrReplaceTempView("refresh_docs")
    val msg = spark.sql("REFRESH SEARCH INDEX refresh_idx").head().getString(0)
    assert(msg.matches("refreshed refresh_idx \\(\\+\\d+ docs\\)"), msg)
    val n1 = stats("num_docs").toLong
    assert(n1 > n0, s"refresh must index the new docs ($n0 -> $n1)")
    assert(stats("num_segments") == "2")

    // idempotent: nothing new, nothing appended
    assert(spark.sql("REFRESH SEARCH INDEX refresh_idx")
      .head().getString(0) == "refreshed refresh_idx (+0 docs)")
    assert(stats("num_segments") == "2")

    // the refreshed index equals a from-scratch tokenization of the view
    val viaIndex = spark.sql(
      "SELECT count(DISTINCT doc_id) FROM refresh_idx_postings").head().getLong(0)
    val direct = docs.filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text")).collect()
      .count(r => graft.analysis.WhitespaceAnalyzer(lowercase = true)
        .tokens(r.getString(1)).nonEmpty)
    assert(viaIndex == direct)

    intercept[IllegalArgumentException](
      Ddl.execute(spark, "REFRESH SEARCH INDEX never_created"))
    spark.sql("DROP SEARCH INDEX refresh_idx")
  }

  test("VACUUM (REFRESH_TABLE) refreshes every index on the view") {
    val docs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions.col
    try Ddl.execute(spark, "DROP SEARCH INDEX vac_idx")
    catch { case _: IllegalArgumentException => () }
    docs.filter(col("doc_id") < 30).createOrReplaceTempView("vac_docs")
    spark.sql("CREATE SEARCH INDEX vac_idx ON vac_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'vacuum-spec')")
    docs.filter(col("doc_id") < 60).createOrReplaceTempView("vac_docs")
    // the reference's spelling (ts_dict.test:37): forces index visibility
    val msg = spark.sql("VACUUM (REFRESH_TABLE) vac_docs").head().getString(0)
    assert(msg == "vacuumed vac_docs (1 indexes refreshed)", msg)
    val stats = spark.sql("DESCRIBE SEARCH INDEX vac_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stats("num_segments") == "2", "vacuum must have appended the delta")
    intercept[IllegalArgumentException](
      Ddl.execute(spark, "VACUUM (REFRESH_TABLE) never_indexed_view"))
    spark.sql("DROP SEARCH INDEX vac_idx")
  }

  test("VACUUM extension-option matrix: INDEX/TABLE/ALL verbs + stats recompute") {
    val docs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions.col
    try Ddl.execute(spark, "DROP SEARCH INDEX vacopt_idx")
    catch { case _: IllegalArgumentException => () }
    docs.filter(col("doc_id") < 30).createOrReplaceTempView("vacopt_docs")
    spark.sql("CREATE SEARCH INDEX vacopt_idx ON vacopt_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'vacuumopt-spec', " +
      "hyperloglog = 'lang') INCLUDE (lang, n_chars)")
    // grow to 2 segments, then compact back to 1 through the VACUUM spelling
    docs.filter(col("doc_id") < 60).createOrReplaceTempView("vacopt_docs")
    spark.sql("VACUUM (REFRESH_INDEX) vacopt_idx")
    def seg(): String = spark.sql("DESCRIBE SEARCH INDEX vacopt_idx")
      .collect().map(r => r.getString(0) -> r.getString(1))
      .toMap.apply("num_segments")
    assert(seg() == "2")
    val cMsg = spark.sql("VACUUM (COMPACT_TABLE) vacopt_docs").head().getString(0)
    assert(cMsg.contains("compacted"), cMsg)
    assert(seg() == "1")
    spark.sql("VACUUM (COMPACT_INDEX) vacopt_idx") // idempotent no-op path
    // stats recompute re-profiles the covering store after the refresh
    val sMsg = spark.sql("VACUUM (RECOMPUTE_STATS_TABLE) vacopt_docs")
      .head().getString(0)
    assert(sMsg.contains("stat sets recomputed"), sMsg)
    val d = spark.sql("DESCRIBE SEARCH INDEX vacopt_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("stored_rowcount").toLong == 60)
    assert(d.contains("approx_unique.lang") && !d.contains("approx_unique.n_chars"))
    // two extension options in one statement: parser-level rejection
    intercept[IllegalArgumentException](
      Ddl.execute(spark, "VACUUM (REFRESH_INDEX, COMPACT_INDEX) vacopt_idx"))
    // instance-wide verb succeeds and reports a count
    val aMsg = spark.sql("VACUUM (REFRESH_ALL)").head().getString(0)
    assert(aMsg.matches("vacuumed \\d+ indexes \\(REFRESH\\)"), aMsg)
    spark.sql("DROP SEARCH INDEX vacopt_idx")
  }

  test("REFRESH is idempotent when the source holds zero-token docs") {
    import org.apache.spark.sql.functions.{col, lit, when}
    try Ddl.execute(spark, "DROP SEARCH INDEX zt_refresh_idx")
    catch { case _: IllegalArgumentException => () }
    // every fifth doc has EMPTY text: zero tokens, so it can never appear in
    // docStats — the pre-fix anti-join would count it as "new" on every
    // REFRESH, appending a segment each run and drifting numDocs/avgdl
    val src = Tables.documents(spark, dir).filter(col("doc_id") < 20)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, lit("")).otherwise(col("text")))
    src.createOrReplaceTempView("zt_refresh_docs")
    spark.sql("CREATE SEARCH INDEX zt_refresh_idx ON zt_refresh_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'zt-refresh-spec')")
    def stats = spark.sql("DESCRIBE SEARCH INDEX zt_refresh_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val n0 = stats("num_docs").toLong
    assert(stats("num_segments") == "1")
    // two refreshes with an unchanged source: +0 docs, no segment growth,
    // numDocs (hence idf/avgdl) stable
    (1 to 2).foreach { _ =>
      assert(spark.sql("REFRESH SEARCH INDEX zt_refresh_idx")
        .head().getString(0) == "refreshed zt_refresh_idx (+0 docs)")
    }
    assert(stats("num_segments") == "1")
    assert(stats("num_docs").toLong == n0)
    spark.sql("DROP SEARCH INDEX zt_refresh_idx")
  }

  test("persist merges concurrent sessions' catalog rows instead of dropping them") {
    val tmpCat = java.nio.file.Files.createTempDirectory("graft-cat-merge").toString
    CatalogStore.baseDirOverride = Some(tmpCat)
    try {
      CatalogStore.reset()
      // private keys: DROP below deletes these indexes' segment dirs, which
      // must never be the shared fixture other suites load
      Tables.documents(spark, dir).limit(20).createOrReplaceTempView("merge_spec_docs")
      Ddl.execute(spark,
        s"CREATE SEARCH INDEX merge_spec_a ON merge_spec_docs (text) " +
          s"WITH (id = 'doc_id', analyzer = 'whitespace', key = 'merge-spec-a')")
      // simulate ANOTHER session persisting a row after this JVM's load:
      // append a foreign text-index row to catalog.json through the Hadoop
      // FS API (as a real session would — keeps the .crc sidecar valid)
      val catPath = new org.apache.hadoop.fs.Path(s"$tmpCat/_CATALOG/catalog.json")
      val hfs = catPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val foreign = """{"kind":"text","root":"/other/session/table","column":"body",""" +
        """"analyzer":"whitespace","segDir":"/other/session/idx","idCol":"id"}"""
      val prior = {
        val in = hfs.open(catPath)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val out = hfs.create(catPath, true)
      try out.write((prior + foreign + "\n").getBytes("UTF-8")) finally out.close()
      def catContent() = {
        val in = hfs.open(catPath)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      // any DDL in THIS session persists again — the pre-fix rewrite-from-
      // memory would silently drop the foreign row (last-writer-wins)
      Ddl.execute(spark,
        s"CREATE SEARCH INDEX merge_spec_b ON merge_spec_docs (text) " +
          s"WITH (id = 'doc_id', analyzer = 'whitespace', key = 'merge-spec-b')")
      val after = catContent()
      assert(after.contains("/other/session/idx"),
        s"foreign session's row must survive this session's persist:\n$after")
      assert(after.contains("merge_spec_a") && after.contains("merge_spec_b"))
      // DROP tombstones: the dropped index must not be resurrected from the
      // on-disk copy on the next persist, while the foreign row stays
      Ddl.execute(spark, "DROP SEARCH INDEX merge_spec_b")
      val afterDrop = catContent()
      assert(!afterDrop.contains("merge_spec_b"))
      assert(afterDrop.contains("/other/session/idx"))
      Ddl.execute(spark, "DROP SEARCH INDEX merge_spec_a")
    } finally {
      CatalogStore.baseDirOverride = None
      CatalogStore.reset()
    }
  }

  test("crash-torn builds: a crash before publish leaves the previous version serving, " +
      "and a build never published is rebuilt") {
    try Ddl.execute(spark, "DROP SEARCH INDEX torn_idx")
    catch { case _: IllegalArgumentException => () }
    Tables.documents(spark, dir).limit(30).createOrReplaceTempView("torn_docs")
    val create = "CREATE SEARCH INDEX torn_idx ON torn_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'torn-spec')"
    spark.sql(create)
    def stats = spark.sql("DESCRIBE SEARCH INDEX torn_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val loc = stats("location")
    val n0 = stats("num_docs").toLong
    assert(n0 > 0 && stats("num_segments") == "1")

    // a KILLED append: segment data fully written, its version never
    // published — the staged segment must be invisible (readers see the OLD
    // index, never a torn one)
    graft.index.PublishCrash(spark, loc)(graft.index.IndexStore.appendSegment(
      graft.index.InvertedIndex.build(Tables.documents(spark, dir).limit(40),
        "doc_id", "text", "whitespace"), loc))
    assert(new java.io.File(s"$loc/seg=00001").isDirectory, "the segment was staged")
    assert(stats("num_segments") == "1",
      "a staged segment outside the published version must stay invisible")
    assert(stats("num_docs").toLong == n0)

    // a KILLED initial build: segment data present, no version published.
    // durable() is false, so CREATE must take the full rebuild path
    Ddl.execute(spark, "DROP SEARCH INDEX torn_idx")
    graft.index.PublishCrash(spark, loc)(Ddl.execute(spark, create))
    assert(new java.io.File(s"$loc/seg=00000").isDirectory, "the build was staged")
    assert(!graft.index.IndexStore.durable(spark, loc))
    val recreated = spark.sql(create)
    assert(recreated.head().getString(0) == "created torn_idx")
    assert(stats("num_segments") == "1")
    assert(stats("num_docs").toLong == n0, "rebuild must restore the index")
    spark.sql("DROP SEARCH INDEX torn_idx")
  }

  test("DESCRIBE surfaces staleness after a source rewrite; REFRESH clears it") {
    val spark = this.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-stale-src").toString
    Tables.documents(spark, dir).limit(80).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("stale_docs")
    Ddl.execute(spark,
      s"CREATE SEARCH INDEX stale_idx ON stale_docs (text) " +
        s"WITH (id = 'doc_id', analyzer = 'whitespace', key = 'stale-${System.nanoTime()}')")
    def staleVal: String = {
      val d = Ddl.execute(spark, "DESCRIBE SEARCH INDEX stale_idx")
      d.filter(d("stat") === "stale").head().getString(1)
    }
    assert(staleVal == "false", "freshly built index must not be stale")

    // rewrite the SOURCE files under the index
    Tables.documents(spark, dir).limit(160).write.mode("overwrite").parquet(tmp)
    spark.catalog.refreshByPath(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("stale_docs")
    assert(staleVal == "true", "source rewrite must flip the staleness flag")

    Ddl.execute(spark, "REFRESH SEARCH INDEX stale_idx")
    assert(staleVal == "false", "REFRESH must clear the staleness flag")
    Ddl.execute(spark, "DROP SEARCH INDEX stale_idx")
  }

  test("IF NOT EXISTS / OR REPLACE / IF EXISTS modifier spellings") {
    val docs = Tables.documents(spark, dir)
    docs.limit(20).createOrReplaceTempView("ddlmod_docs")
    try Ddl.execute(spark, "DROP SEARCH INDEX ddlmod_idx")
    catch { case _: Exception => () }
    // IF NOT EXISTS: create once, second is a skip
    val create = "ON ddlmod_docs (text) WITH (id = 'doc_id', " +
      "analyzer = 'whitespace', key = 'ddlmod-spec')"
    Ddl.execute(spark, s"CREATE SEARCH INDEX IF NOT EXISTS ddlmod_idx $create")
    val skip = Ddl.execute(spark,
      s"CREATE SEARCH INDEX IF NOT EXISTS ddlmod_idx $create").head().getString(0)
    assert(skip.contains("already exists"))
    // OR REPLACE drops + recreates (a fresh build, not the fast path)
    Ddl.execute(spark, s"CREATE OR REPLACE SEARCH INDEX ddlmod_idx $create")
    assert(spark.sql("SHOW SEARCH INDEXES").collect()
      .exists(_.getString(0) == "ddlmod_idx"))
    // DROP IF EXISTS: once real, once a skip — never an error
    Ddl.execute(spark, "DROP SEARCH INDEX IF EXISTS ddlmod_idx")
    val dskip = Ddl.execute(spark, "DROP SEARCH INDEX IF EXISTS ddlmod_idx")
      .head().getString(0)
    assert(dskip.contains("does not exist"))
    // dictionary spellings
    Ddl.execute(spark,
      "CREATE TEXT SEARCH DICTIONARY IF NOT EXISTS ddlmod_dict(template = 'keyword')")
    val dictSkip = Ddl.execute(spark,
      "CREATE TEXT SEARCH DICTIONARY IF NOT EXISTS ddlmod_dict(template = 'keyword')")
      .head().getString(0)
    assert(dictSkip.contains("already exists"))
    Ddl.execute(spark,
      "CREATE OR REPLACE TEXT SEARCH DICTIONARY ddlmod_dict(template = 'text', case = 'lower')")
    assert(graft.analysis.AnalyzerRegistry.get("ddlmod_dict")
      .tokens("Foo Bar") == Seq("foo", "bar"))
    Ddl.execute(spark, "DROP TEXT SEARCH DICTIONARY IF EXISTS ddlmod_dict")
    val ddskip = Ddl.execute(spark,
      "DROP TEXT SEARCH DICTIONARY IF EXISTS ddlmod_dict").head().getString(0)
    assert(ddskip.contains("does not exist"))
  }

  test("compression option: segments write the requested codec, maintenance inherits it") {
    val docs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions.col
    try Ddl.execute(spark, "DROP SEARCH INDEX zstd_idx")
    catch { case _: Exception => () }
    docs.filter(col("doc_id") < 30).createOrReplaceTempView("zstd_docs")
    spark.sql("CREATE SEARCH INDEX zstd_idx ON zstd_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'zstd-spec', " +
      "compression = 'zstd')")
    val d = spark.sql("DESCRIBE SEARCH INDEX zstd_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("compression") == "zstd")
    val idxDir = graft.index.IndexStore.dirFor("zstd-spec", "text", "whitespace")
    def codecFiles(): Array[java.io.File] = {
      def walk(f: java.io.File): Array[java.io.File] =
        if (f.isDirectory) f.listFiles().flatMap(walk) else Array(f)
      walk(new java.io.File(idxDir)).filter(_.getName.endsWith(".parquet"))
    }
    assert(codecFiles().nonEmpty &&
      codecFiles().forall(_.getName.contains("zstd")),
      "every segment parquet must carry the zstd codec")
    // REFRESH (new segment) and COMPACT (merged segment) inherit the codec
    docs.filter(col("doc_id") < 60).createOrReplaceTempView("zstd_docs")
    spark.sql("REFRESH SEARCH INDEX zstd_idx")
    spark.sql("COMPACT SEARCH INDEX zstd_idx")
    assert(codecFiles().forall(_.getName.contains("zstd")),
      "maintenance writers must inherit the codec")
    // and the index still answers correctly through the codec
    graft.search.SqlSurface.registerAll(spark)
    assert(spark.sql("SELECT count(*) FROM zstd_docs " +
      "WHERE ts_match(text, 'vector', 'whitespace')").head().getLong(0) > 0)
    spark.sql("DROP SEARCH INDEX zstd_idx")
  }

  test("AnnEntry persists lists and pq_m through the catalog round-trip") {
    // r17 ADVICE: `lists` is part of the artifact DIRECTORY name — a
    // registration restored without it resolves a lists>0 index at the
    // wrong path on a fresh JVM and every claim fails availability. Two
    // entries over ONE (column, metric) must also both survive (the
    // 4-tuple registry key, multi_vector_ivf.test).
    val tmpCat = java.nio.file.Files.createTempDirectory("graft-cat-ann").toString
    CatalogStore.baseDirOverride = Some(tmpCat)
    try {
      CatalogStore.reset()
      IndexCatalog.registerAnn("/tmp/ann-rt", "emb", "l2",
        IndexCatalog.AnnEntry("k-plain", "id", "emb", "l2"))
      IndexCatalog.registerAnn("/tmp/ann-rt", "emb", "l2",
        IndexCatalog.AnnEntry("k-quant", "id", "emb", "l2",
          Some("pq"), lists = 7, pqM = Some(4)))
      CatalogStore.persist(spark)
      CatalogStore.reset() // fresh JVM: registries empty, lazy re-load
      CatalogStore.ensureLoaded()
      val all = IndexCatalog.ann.collect {
        case ((r, _, _, _), e) if r == "/tmp/ann-rt" => e
      }.toSeq
      assert(all.size == 2, s"both registrations must survive: $all")
      val q = all.find(_.cacheKey == "k-quant").get
      assert(q.lists == 7 && q.pqM.contains(4) && q.quant.contains("pq"),
        s"lists/pqM/quant must round-trip: $q")
      // the claim lookup prefers the unquantized sibling deterministically
      assert(IndexCatalog.lookupAnn("/tmp/ann-rt", "emb", "l2")
        .exists(_.cacheKey == "k-plain"))
      IndexCatalog.unregisterAnn("k-plain")
      IndexCatalog.unregisterAnn("k-quant")
    } finally {
      CatalogStore.baseDirOverride = None
      CatalogStore.reset()
    }
  }

  test("malformed statements fail loudly") {
    intercept[IllegalArgumentException](
      Ddl.execute(spark, "CREATE SEARCH INDEX x ON v (c) WITH (analyzer = 'a')"))
    intercept[IllegalArgumentException](
      Ddl.execute(spark, "DROP SEARCH INDEX never_created"))
    intercept[IllegalArgumentException](
      Ddl.execute(spark, "ALTER SEARCH INDEX x"))
    // unknown options error loudly with the supported set named
    // (reference inverted_index_options.test)
    val e = intercept[IllegalArgumentException](
      Ddl.execute(spark,
        "CREATE SEARCH INDEX x ON v (c) WITH (id = 'i', analyzr = 'w')"))
    assert(e.getMessage.contains("analyzr") && e.getMessage.contains("analyzer"))
    intercept[IllegalArgumentException](
      Ddl.execute(spark,
        "CREATE VECTOR INDEX x ON v (c) WITH (id = 'i', metrik = 'l2')"))
  }
}
