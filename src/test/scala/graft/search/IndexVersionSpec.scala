package graft.search

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.index.{Commit, IndexStore}

/** The index commit protocol under interleaved reads and writes: a
  * statement planned on one version of an index keeps reading that
  * version after a write publishes the next one, and a write publishes
  * exactly one version. */
class IndexVersionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)
  private val tbl = s"iv_docs_$tag"
  private val idx = s"iv_idx_$tag"
  private val dict = s"iv_dict_$tag"

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
  private def body(pk: Int): String =
    Seq(words(pk % 6), words(pk % 4), s"w$pk").mkString(" ")
  // distances to the query vector are all distinct: no LIMIT ties
  private def emb(pk: Int): Seq[Float] = Seq(pk.toFloat, 0f, 0f, 0f)
  private val schema = StructType(Seq(StructField("pk", IntegerType, nullable = false),
    StructField("body", StringType), StructField("emb", ArrayType(FloatType, containsNull = false))))

  private def run(s: SparkSession, sql: String): Array[Row] = s.sql(sql).collect()
  private def pks(rows: Array[Row]): Seq[Int] = rows.map(_.getInt(0)).toSeq

  private def insert(pks: Range): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(
      pks.map(p => Row(p, body(p), emb(p))), 2), schema).createOrReplaceTempView(s"${tbl}_src")
    run(spark, s"INSERT INTO $tbl SELECT pk, body, emb FROM ${tbl}_src")
  }

  private var created = false

  // the catalog is shared by every suite: leave no table behind
  override def afterAll(): Unit = if (created) {
    run(spark, s"DROP INDEX IF EXISTS $idx")
    run(spark, s"DROP TABLE IF EXISTS $tbl")
  }

  private lazy val ready: Unit = {
    created = true
    SqlSurface.registerAll(spark)
    graft.catalog.CatalogDdl.registerFunctions(spark)
    run(spark, s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    run(spark, s"CREATE TABLE $tbl(pk INTEGER PRIMARY KEY, body VARCHAR, emb FLOAT[4])")
    insert(1 to 40)
    run(spark, s"CREATE INDEX $idx ON $tbl USING inverted(pk, body $dict, emb ivf (metric = 'l2'))")
  }

  private val knn = s"SELECT pk FROM $idx ORDER BY emb <-> [20.3, 0.0, 0.0, 0.0]::FLOAT[4] LIMIT 5"

  /** Plans the kNN statement, deletes `removed`, runs `write` and only then
    * executes the statement: it must return the answer of the version it
    * was planned on, and the next statement the answer without `removed`. */
  private def plannedAcross(write: String, removed: Seq[Int]): Unit = {
    ready
    val before = pks(run(spark, knn))
    assert(removed.forall(before.contains), s"$removed must be in the top-k $before")
    val planned = spark.sql(knn)
    val plan = planned.queryExecution.executedPlan
    assert(plan.toString.contains("-ivfauto-"), s"the kNN must be claimed by the IVF probe\n$plan")
    run(spark, s"DELETE FROM $tbl WHERE pk IN (${removed.mkString(",")})")
    run(spark, write)
    assert(pks(planned.collect()) == before, "the planned statement reads its own version")
    val after = pks(run(spark, knn))
    assert(after.size == 5 && removed.forall(p => !after.contains(p)), after)
  }

  test("a kNN planned before a vector REFRESH with removals returns the pre-write answer") {
    plannedAcross(s"VACUUM (REFRESH_TABLE) $tbl", Seq(20, 21))
  }

  test("a kNN planned before a vector COMPACT returns the pre-write answer") {
    plannedAcross(s"VACUUM (COMPACT_TABLE) $tbl", Seq(19, 22))
  }

  test("a changeful text REFRESH advances the index by exactly one version") {
    ready
    val root = IndexCatalog.textKeys.collectFirst {
      case (r, "body", `dict`) if r.contains(tbl) => r
    }.get
    val dir = IndexCatalog.lookupText(root, "body", dict).get.segDir
    run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    val v0 = Commit.current(spark, dir).get
    run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    assert(Commit.current(spark, dir).get.number == v0.number,
      "a REFRESH with nothing to reconcile publishes nothing")
    insert(41 to 42)
    run(spark, s"DELETE FROM $tbl WHERE pk = 7")
    run(spark, s"UPDATE $tbl SET body = 'zulu' WHERE pk = 8")
    run(spark, s"VACUUM (REFRESH_TABLE) $tbl")
    val v1 = Commit.current(spark, dir).get
    assert(v1.number == v0.number + 1, s"REFRESH published ${v1.number - v0.number} versions")
    def count(files: Seq[String], prefix: String) = files.count(_.startsWith(prefix))
    assert(count(v1.files, "seg=") == count(v0.files, "seg=") + 1 &&
      count(v1.files, "del=") == count(v0.files, "del=") + 1,
      s"one version carries the delta segment and the tombstones: ${v0.files} -> ${v1.files}")
    def matching(term: String) =
      pks(run(spark, s"SELECT pk FROM $idx WHERE ts_match(body, '$term', '$dict')")).toSet
    assert(matching("zulu") == Set(8))
    assert(!matching("w7").contains(7) && !matching("w8").contains(8))
    assert(matching("w41") == Set(41))
  }

  test("a reader never finds the current version missing while versions publish") {
    val dir = s"${IndexStore.defaultRoot}/iv-pointer-$tag"
    var base = Commit.publish(spark, dir, None, Seq.empty)
    val stop = new java.util.concurrent.atomic.AtomicBoolean
    val misses = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() =>
      while (!stop.get)
        try IndexStore.readString(spark, s"$dir/_CURRENT")
        catch { case _: java.io.FileNotFoundException => misses.incrementAndGet() })
    reader.start()
    try (1 to 200).foreach(i => base = Commit.publish(spark, dir, Some(base), Seq.empty, "n" -> i))
    finally { stop.set(true); reader.join() }
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    assert(misses.get == 0, s"the pointer was missing on ${misses.get} reads")
    assert(base.number == 201)
  }
}
