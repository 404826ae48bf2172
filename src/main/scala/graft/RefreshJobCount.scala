package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the Spark JOB count of text-index paths: three REFRESHes over a
  * slice of the sf documents table — no-change, append-only growth, and a
  * change+remove reshape (a changeful refresh must stay at classify + delta
  * re-index, not 4+ source evaluations) — and the planning of a claimed
  * bm25 top-k on the warm index, which must launch no job at all (the
  * reader snapshot serves `IndexStore.load` without file listing or schema
  * inference), and the execution of that warm top-k and of the search
  * mix's absorbed `ts_match` + bm25 top-k (index-only on a fresh index: one
  * job each), of a warm claimed `ts_match` count and of one whose query
  * expands the term dictionary (the text-match leaf's count-only mode: one
  * job each), of a warm claimed phrase match and of a claimed bm25 top-k
  * over a prefix constructor (`ts_starts_with`). Last, the search
  * workload's set-up on 2,000 docs of the slice: the `INSERT … SELECT`
  * into a pg table with a primary key, and one pg `CREATE INDEX … USING
  * inverted(pk, body <dict>, emb ivf)` over its text and vectors, a pk
  * lookup with a key not seen before, a one-row DELETE and UPDATE of the
  * table and the pk lookup that first reads it after them. Each `*-exec`
  * line and the lookups also print the statement's broadcasts and
  * generated-class compiles.
  * Usage:
  * runMain graft.RefreshJobCount [sfDir]
  */
object RefreshJobCount {

  /** What a statement launched: Spark jobs, broadcasts (each job's task
    * binary is one) and generated classes compiled. */
  final case class Cost(jobs: Int, broadcasts: Long, compiles: Long)

  /** `body`'s result and its [[Cost]] on this thread. Jobs are counted by
    * job group from `statusTracker`. The status store is fed by the
    * listener bus in order, so once a marker job submitted after `body` is
    * visible, every job `body` launched is visible too — an exact count
    * with no settle sleep. Broadcasts are the ids `body` took from the
    * context's sequence, read off a probe broadcast before and after it;
    * compiles the count of Spark's codegen compile-time histogram. */
  def costIn[T](spark: SparkSession, label: String)(body: => T): (T, Cost) = {
    val sc = spark.sparkContext
    def nextBroadcast(): Long = { val b = sc.broadcast(0); b.destroy(); b.id }
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val group = s"jobcount-$label-${System.nanoTime()}"
    val (b0, c0) = (nextBroadcast(), compiled.getCount)
    sc.setJobGroup(group, label)
    val out = try body finally sc.clearJobGroup()
    val (b1, c1) = (nextBroadcast(), compiled.getCount)
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "status barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty) {
      require(System.nanoTime() < deadline, "status store never saw the marker job")
      Thread.sleep(5)
    }
    (out, Cost(sc.statusTracker.getJobIdsForGroup(group).length, b1 - b0 - 1, c1 - c0))
  }

  /** `body`'s result and the number of Spark jobs it launched on this
    * thread (see [[costIn]]). */
  def jobsIn[T](spark: SparkSession, label: String)(body: => T): (T, Int) = {
    val (out, cost) = costIn(spark, label)(body)
    (out, cost.jobs)
  }

  /** One line of a statement's cost: `JOBS[label] = j  BCAST[label] = b
    * COMPILES[label] = c`. */
  def costLine(spark: SparkSession, label: String)(body: => Unit): String = {
    val c = costIn(spark, label)(body)._2
    s"JOBS[$label] = ${c.jobs}  BCAST[$label] = ${c.broadcasts}  COMPILES[$label] = ${c.compiles}"
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.configure(
        SparkSession.builder()
          .master("local[32]")
          .config("spark.sql.shuffle.partitions", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.ensurePublicDb(spark)
    graft.search.SqlSurface.registerAll(spark)

    def counted(label: String)(body: => Unit): Unit =
      println(s"JOBS[$label] = ${jobsIn(spark, label)(body)._2}")

    val docs = Tables.documents(spark, dir)
    try graft.search.Ddl.execute(spark, "DROP SEARCH INDEX jobcount_idx")
    catch { case _: IllegalArgumentException => () }
    docs.filter(col("doc_id") < 300).createOrReplaceTempView("jobcount_docs")
    spark.sql("CREATE SEARCH INDEX jobcount_idx ON jobcount_docs (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'jobcount-spec')")

    counted("no-change")(spark.sql("REFRESH SEARCH INDEX jobcount_idx").collect())

    docs.filter(col("doc_id") < 600).createOrReplaceTempView("jobcount_docs")
    counted("append-only")(spark.sql("REFRESH SEARCH INDEX jobcount_idx").collect())

    // reshape: drop a stripe (removed), rewrite a stripe's text (changed)
    docs.filter(col("doc_id") < 600 && col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" r20changed")))
          .otherwise(col("text")))
      .createOrReplaceTempView("jobcount_docs")
    counted("change+remove")(spark.sql("REFRESH SEARCH INDEX jobcount_idx").collect())

    // scorers claim only over a full index of a plain scan, which the
    // filtered views above are not: index the whole table for the top-k.
    // The first plan warms the reader snapshot; the counted one is warm.
    docs.createOrReplaceTempView("jobcount_all")
    spark.sql("CREATE SEARCH INDEX jobcount_topk_idx ON jobcount_all (text) " +
      "WITH (id = 'doc_id', analyzer = 'whitespace', key = 'jobcount-topk')")
    val topk = "SELECT doc_id FROM jobcount_all " +
      "ORDER BY bm25(text, 'vector query', 'whitespace') DESC LIMIT 10"
    spark.sql(topk).queryExecution.optimizedPlan
    val (plan, jobs) = jobsIn(spark, "claim-plan")(spark.sql(topk).queryExecution.optimizedPlan)
    println(s"JOBS[claim-plan] = $jobs (claimed: ${!plan.toString.contains("bm25(")})")
    // the search mix's shape: a text match the scorer's terms make
    // redundant, absorbed into an index-only top-k (expected: 1 job)
    val absorbed = "SELECT doc_id FROM jobcount_all " +
      "WHERE ts_match(text, ts_or(ts_phrase('vector'), ts_phrase('query')), 'whitespace') " +
      "ORDER BY bm25(text, 'vector query', 'whitespace') DESC LIMIT 10"
    val count = "SELECT count(*) FROM jobcount_all " +
      "WHERE ts_match(text, ts_or(ts_phrase('vector'), ts_phrase('query')), 'whitespace')"
    // a prefix expands the term dictionary inside the count's one task
    val expansionCount = "SELECT count(*) FROM jobcount_all " +
      "WHERE ts_match(text, ts_starts_with('vec'), 'whitespace')"
    val phrase = "SELECT doc_id FROM jobcount_all " +
      "WHERE ts_match(text, ts_phrase('hash join'), 'whitespace')"
    // a TSQUERY-constructor scorer: the prefix expands the term dictionary
    // inside the scoring leaf's one task
    val structured = "SELECT doc_id FROM jobcount_all " +
      "ORDER BY bm25(text, ts_starts_with('vec'), 'whitespace') DESC LIMIT 10"
    Seq("topk-exec" -> topk, "topk-absorbed-exec" -> absorbed, "count-exec" -> count,
        "expansion-count-exec" -> expansionCount, "phrase-exec" -> phrase,
        "structured-topk-exec" -> structured).foreach {
      case (label, q) =>
        spark.sql(q).collect()
        println(costLine(spark, label)(spark.sql(q).collect()))
    }

    spark.sql("DROP SEARCH INDEX jobcount_topk_idx")
    spark.sql("DROP SEARCH INDEX jobcount_idx")

    // the search set-up: a pg table of (pk, body, emb) rows, then one
    // CREATE INDEX building the text segment and the IVF lists
    graft.catalog.CatalogDdl.registerFunctions(spark)
    val embs = Tables.embeddings(spark, dir)
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    docs.filter(col("doc_id") < 2000)
      .join(embs, col("doc_id") === col("vec_id"))
      .select(col("doc_id").cast("int").as("pk"), col("text").as("body"),
        col("embedding").as("emb"))
      .createOrReplaceTempView("jobcount_pg_src")
    spark.sql("DROP INDEX IF EXISTS jobcount_pg_idx")
    spark.sql("DROP TABLE IF EXISTS jobcount_pg")
    spark.sql(s"CREATE TABLE jobcount_pg(pk INTEGER PRIMARY KEY, body VARCHAR, emb FLOAT[$dim])")
    counted("insert")(spark.sql("INSERT INTO jobcount_pg SELECT pk, body, emb FROM jobcount_pg_src"))
    spark.sql("CREATE TEXT SEARCH DICTIONARY jobcount_dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    counted("create-index")(spark.sql("CREATE INDEX jobcount_pg_idx ON jobcount_pg " +
      "USING inverted(pk, body jobcount_dict, emb ivf (metric = 'l2'))"))
    // the search mix's pk lookup (unclaimed: a filter over the table's
    // scan), warmed with one key and measured with a key not seen before
    spark.sql("SELECT pk, body FROM jobcount_pg WHERE pk = 17").collect()
    println(costLine(spark, "pk-lookup-new-key")(
      spark.sql("SELECT pk, body FROM jobcount_pg WHERE pk = 1345").collect()))
    // table writes, then the first read after a commit
    counted("table-delete")(spark.sql("DELETE FROM jobcount_pg WHERE pk = 5"))
    counted("table-update")(spark.sql("UPDATE jobcount_pg SET body = 'updated' WHERE pk = 6"))
    println(costLine(spark, "pk-lookup-after-write")(
      spark.sql("SELECT pk, body FROM jobcount_pg WHERE pk = 1346").collect()))
    spark.sql("DROP INDEX jobcount_pg_idx")
    spark.sql("DROP TABLE jobcount_pg")
    spark.sql("DROP TEXT SEARCH DICTIONARY jobcount_dict")
    spark.stop()
  }
}
