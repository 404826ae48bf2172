package graft.search

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.{RefreshJobCount, TestSpark}

/** What a warm read pays beyond its own work: a claimed top-k and a
  * claimed count broadcast nothing but their jobs' task binaries (the
  * index leaves open their files with the session's reader conf, broadcast
  * once), a point filter with a key not seen before compiles no generated
  * class, and a `SET` of a parquet reader option reaches the next read. */
class StatementCostSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)
  private val tbl = s"sc_docs_$tag"
  private val idx = s"sc_idx_$tag"
  private val dict = s"sc_dict_$tag"

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
  private def body(pk: Int): String =
    Seq(words(pk % 6), words(pk % 4), words(pk / 3 % 6), s"w$pk").mkString(" ")
  private val schema = StructType(Seq(StructField("pk", IntegerType, nullable = false),
    StructField("body", StringType), StructField("emb", ArrayType(FloatType, containsNull = false))))

  private def run(s: SparkSession, sql: String): Array[Row] = s.sql(sql).collect()

  private lazy val ready: Unit = {
    SqlSurface.registerAll(spark)
    graft.catalog.CatalogDdl.registerFunctions(spark)
    run(spark, s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    run(spark, s"CREATE TABLE $tbl(pk INTEGER PRIMARY KEY, body VARCHAR, emb FLOAT[4])")
    spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to 40).map(p => Row(p, body(p), Seq(p.toFloat, 0f, 0f, 0f))), 2), schema)
      .createOrReplaceTempView(s"${tbl}_src")
    run(spark, s"INSERT INTO $tbl SELECT pk, body, emb FROM ${tbl}_src")
    run(spark, s"CREATE INDEX $idx ON $tbl USING inverted(pk, body $dict, emb ivf (metric = 'l2'))")
    created = true
  }
  @volatile private var created = false

  override def afterAll(): Unit = {
    if (created) {
      run(spark, s"DROP INDEX IF EXISTS $idx")
      run(spark, s"DROP TABLE IF EXISTS $tbl")
      run(spark, s"DROP TEXT SEARCH DICTIONARY $dict")
    }
    super.afterAll()
  }

  private def m(q: String) = s"ts_match(body, $q, '$dict')"
  private val topK = s"SELECT pk, bm25(body, 'alpha bravo', '$dict') AS s FROM $idx " +
    s"WHERE ${m("ts_or(ts_phrase('alpha'), ts_phrase('bravo'))")} ORDER BY s DESC LIMIT 5"
  private val count = s"SELECT count(*) AS n FROM $idx WHERE ${m("'bravo'")}"

  /** The cost of `sql` run warm: once untimed, then measured. */
  private def warmCost(sql: String): (Array[Row], RefreshJobCount.Cost) = {
    run(spark, sql)
    RefreshJobCount.costIn(spark, "warm")(run(spark, sql))
  }

  test("a warm claimed top-k and count broadcast only their task binaries") {
    ready
    Seq(topK -> "TopK(", count -> "IndexScan MatchScan(count").foreach { case (sql, node) =>
      assert(spark.sql(sql).queryExecution.executedPlan.toString.contains(node), sql)
      val (rows, cost) = warmCost(sql)
      assert(rows.nonEmpty)
      assert(cost.jobs == 1, sql)
      assert(cost.broadcasts == cost.jobs, s"$sql broadcast ${cost.broadcasts} times")
    }
  }

  test("a point filter compiles once per shape, not once per key") {
    ready
    val lookup = (k: Int) => s"SELECT pk, body FROM $tbl WHERE pk = $k"
    run(spark, lookup(3))
    val (rows, cost) = RefreshJobCount.costIn(spark, "new-key")(run(spark, lookup(29)))
    assert(rows.map(_.getInt(0)).toSeq == Seq(29))
    assert(cost.compiles == 0, s"a new key compiled ${cost.compiles} classes")
    // EXPLAIN still shows the key
    assert(spark.sql(lookup(31)).queryExecution.executedPlan.toString.contains("= 31)"))
  }

  test("a SET of a parquet reader option takes effect on the next read") {
    ready
    val n = run(spark, count).head.getLong(0)
    val key = "parquet.crypto.factory.class"
    spark.conf.set(key, "graft.NoSuchDecryptionFactory")
    try {
      val e = intercept[Exception](run(spark, count))
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(_.toString.contains("NoSuchDecryptionFactory")), e.toString)
    } finally spark.conf.unset(key)
    assert(run(spark, count).head.getLong(0) == n)
  }
}
