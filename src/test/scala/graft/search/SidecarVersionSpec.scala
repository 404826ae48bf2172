package graft.search

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.CatalogDdl
import graft.index.{Commit, PublishCrash}

/** The composite-index sidecar (typed FIELDS + INCLUDE columnstore) is
  * part of its index's versions: a covered read answers without the base
  * table only from a version that names the sidecar and is fresh with the
  * table, so a row DELETEd before or after a REFRESH never comes back, a
  * FIELDS value UPDATEd since the last REFRESH is not matched on its old
  * value, a CREATE re-issued over rewritten files re-syncs the index, a
  * pk-keyed index is claimed like a `doc_id`-keyed one, reads interleaved
  * with REFRESH and COMPACT see one committed state, and a REFRESH that
  * crashes at its publish leaves the previous version serving. The shapes
  * after the DELETE are cases A, C and D of the stale covered reads this
  * guards against; D and C after the removals-only REFRESH are E and F. */
class SidecarVersionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)
  private val dict = s"sv_dict_$tag"
  private val tables = ArrayBuffer.empty[String]

  private def run(s: SparkSession, sql: String): Array[Row] = s.sql(sql).collect()

  private lazy val ready: Unit = {
    SqlSurface.registerAll(spark)
    CatalogDdl.registerFunctions(spark)
    run(spark, s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
  }

  // the catalog is shared by every suite: leave no table behind
  override def afterAll(): Unit = tables.foreach { t =>
    run(spark, s"DROP INDEX IF EXISTS ${t}_idx")
    run(spark, s"DROP TABLE IF EXISTS $t")
  }

  /** A composite index keyed by `key` (`pk INTEGER` or `doc_id BIGINT`)
    * over `body` with `lang` as a typed field and `tag` INCLUDEd; `other`
    * is in neither, so a projection of it reads the base table. Returns
    * the table name and the index directory. */
  private def table(name: String, key: String): (String, String) = {
    ready
    val t = s"${name}_$tag"
    tables += t
    run(spark, s"CREATE TABLE $t($key PRIMARY KEY, body VARCHAR, lang VARCHAR, tag VARCHAR, other VARCHAR)")
    run(spark, s"CREATE INDEX ${t}_idx ON $t USING inverted(${key.split(" ").head}, body $dict, lang) " +
      "INCLUDE (tag)")
    run(spark, s"INSERT INTO $t VALUES (1, 'alpha bravo', 'en', 'x1', 'o1'), " +
      "(2, 'alpha charlie', 'en', 'x2', 'o2'), (3, 'delta echo', 'de', 'x3', 'o3')")
    run(spark, s"VACUUM (REFRESH_TABLE) $t")
    val dir = Ddl.execute(spark, s"DESCRIBE SEARCH INDEX ${t}_idx").collect()
      .collectFirst { case r if r.getString(0) == "location" => r.getString(1) }.get
    (t, dir)
  }

  /** The three covered shapes over `t` (id column `k`): the scored top-k's
    * covered join-back (A), a text claim's covered projection (C) and a
    * field-only covered projection (D). */
  private def shapes(t: String, k: String): Seq[(String, String => String)] = Seq(
    "A" -> (cols => s"SELECT $cols FROM $t ORDER BY bm25(body, 'alpha', '$dict') DESC LIMIT 5"),
    "C" -> (cols => s"SELECT $cols FROM $t WHERE ts_match(body, ts_phrase('alpha'), '$dict')"),
    "D" -> (cols => s"SELECT $cols FROM $t WHERE lang = 'en'"))

  /** Whether `df` reads the INCLUDE columnstore and not the table. */
  private def covered(df: DataFrame, t: String): Boolean =
    df.inputFiles.exists(_.contains("/stored-")) &&
      (df.inputFiles.toSet & spark.table(t).inputFiles.toSet).isEmpty

  /** The ways the shapes fail: each shape's covered answer must equal its
    * non-covered answer (the same statement also projecting `other`) and
    * hold exactly `want` (the top-k: the ids containing `alpha`), and be
    * claimed from the columnstore iff `fresh`. */
  private def check(t: String, k: String, fresh: Boolean, step: String,
      want: Map[String, Seq[(Long, String)]]): Seq[String] =
    shapes(t, k).flatMap { case (name, sql) =>
      val df = spark.sql(sql(s"$k, tag"))
      val got = df.collect().map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSeq
      val plain = spark.sql(sql(s"$k, tag, other")).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSeq
      val order: Seq[(Long, String)] => Seq[(Long, String)] =
        if (name == "A") identity else _.sortBy(_._1)
      Seq(
        Some(s"$step, shape $name: covered $got, base $plain").filter(_ => order(got) != order(plain)),
        Some(s"$step, shape $name: $got, want ${want(name)}").filter(_ => order(got) != want(name)),
        Some(s"$step, shape $name must ${if (fresh) "" else "not "}read the columnstore:\n" +
          df.queryExecution.executedPlan).filter(_ => covered(df, t) != fresh)).flatten
    }

  Seq("pk INTEGER", "doc_id BIGINT").foreach { key =>
    val k = key.split(" ").head
    test(s"a deleted row never comes back through a $k-keyed composite index") {
      val (t, _) = table(s"sv_del_$k", key)
      val all = Map("A" -> Seq(1L -> "x1", 2L -> "x2"), "C" -> Seq(1L -> "x1", 2L -> "x2"),
        "D" -> Seq(1L -> "x1", 2L -> "x2"))
      val left = all.map { case (n, rows) => n -> rows.filterNot(_._1 == 1L) }
      val updated = left.map { case (n, rows) => n -> rows.map(r => (r._1, "y2")) }
      val failures = check(t, k, fresh = true, "before the DELETE", all) ++ {
        run(spark, s"DELETE FROM $t WHERE $k = 1")
        check(t, k, fresh = false, "after the DELETE", left)
      } ++ {
        run(spark, s"VACUUM (REFRESH_TABLE) $t")
        check(t, k, fresh = true, "after the removals-only REFRESH", left)
      } ++ {
        // an UPDATE of an INCLUDEd column alone changes no indexed text
        run(spark, s"UPDATE $t SET tag = 'y2' WHERE $k = 2")
        check(t, k, fresh = false, "after the UPDATE", updated)
      } ++ {
        run(spark, s"VACUUM (REFRESH_TABLE) $t")
        check(t, k, fresh = true, "after the REFRESH of the UPDATE", updated)
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    }
  }

  test("a FIELDS column UPDATEd since the last REFRESH is not answered from the sidecar") {
    val (t, _) = table("sv_field", "pk INTEGER")
    run(spark, s"INSERT INTO $t VALUES (4, 'alpha foxtrot', 'de', 'x4', 'o4')")
    run(spark, s"VACUUM (REFRESH_TABLE) $t")
    run(spark, s"UPDATE $t SET lang = 'de' WHERE pk = 2")
    run(spark, s"UPDATE $t SET lang = 'en' WHERE pk = 4")
    // covered (pk, tag) and not (other): the covered projection and the
    // text claim's field semi-join both drive from the `lang` dataset
    def answers(step: String, fresh: Boolean): Seq[String] =
      Seq("pk, tag", "pk, tag, other").flatMap { cols =>
        val df = spark.sql(s"SELECT $cols FROM $t " +
          s"WHERE ts_match(body, ts_phrase('alpha'), '$dict') AND lang = 'en'")
        val got = df.collect().map(_.getInt(0)).sorted.toSeq
        val drives = df.inputFiles.exists(_.contains("/fields-"))
        Seq(
          Some(s"$step, $cols: $got, want 1, 4").filter(_ => got != Seq(1, 4)),
          Some(s"$step, $cols must ${if (fresh) "" else "not "}read the field dataset:\n" +
            df.queryExecution.executedPlan).filter(_ => drives != fresh)).flatten
      }
    val failures = answers("before the REFRESH", fresh = false) ++ {
      run(spark, s"VACUUM (REFRESH_TABLE) $t")
      answers("after the REFRESH", fresh = true)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("re-issuing CREATE over rewritten source files re-syncs the index") {
    ready
    val root = sys.props("java.io.tmpdir") + s"/graft-sv-recreate-$tag/docs"
    val ss = spark
    import ss.implicits._
    def write(rows: Seq[(Long, String, String)]): Unit = {
      rows.toDF("doc_id", "body", "tag").write.mode("overwrite").parquet(root)
      spark.read.parquet(root).createOrReplaceTempView(s"sv_recreate_$tag")
    }
    val create = s"""CREATE SEARCH INDEX sv_recreate_idx_$tag ON sv_recreate_$tag (body)
                    |WITH (id = 'doc_id', analyzer = 'whitespace', key = 'sv-recreate-$tag')
                    |INCLUDE (tag)""".stripMargin
    val q = s"SELECT doc_id, tag FROM sv_recreate_$tag WHERE ts_match(body, 'alpha', 'whitespace')"
    try {
      write(Seq((1L, "alpha", "a1"), (2L, "alpha beta", "a2"), (3L, "gamma", "a3")))
      Ddl.execute(spark, create)
      write(Seq((1L, "alpha", "b1"), (3L, "gamma alpha", "b3")))
      Ddl.execute(spark, create)
      val df = spark.sql(q)
      assert(df.collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq ==
        Seq(1L -> "b1", 3L -> "b3"))
      assert(covered(df, s"sv_recreate_$tag"),
        s"the re-issued CREATE leaves the sidecar fresh\n${df.queryExecution.executedPlan}")
    } finally Ddl.execute(spark, s"DROP SEARCH INDEX sv_recreate_idx_$tag")
  }

  test("a CREATE that loads an existing vector index keeps the fingerprint it was synced with") {
    ready
    val root = sys.props("java.io.tmpdir") + s"/graft-sv-vec-$tag/emb"
    val ss = spark
    import ss.implicits._
    val view = s"sv_vec_$tag"
    def write(shift: Float): Unit = {
      (0 until 20).map(i => (i.toLong, Seq(i.toFloat + shift, 1f, 0f, 2f), s"l$i"))
        .toDF("vec_id", "embedding", "label").write.mode("overwrite").parquet(root)
      spark.read.parquet(root).createOrReplaceTempView(view)
    }
    // two index names over one key share the IVF directory
    def create(name: String) = Ddl.execute(spark, s"CREATE VECTOR INDEX $name ON $view (embedding) " +
      s"WITH (id = 'vec_id', metric = 'l2', key = 'sv-vec-$tag') INCLUDE (label)")
    try {
      write(0f)
      create(s"sv_vec_a_$tag")
      val dir = Ddl.execute(spark, s"DESCRIBE SEARCH INDEX sv_vec_a_$tag").collect()
        .collectFirst { case r if r.getString(0) == "location" => r.getString(1) }.get
      val synced = graft.index.IndexStore.sourceFp(spark, dir)
      write(100f)
      create(s"sv_vec_b_$tag")
      assert(synced.nonEmpty && graft.index.IndexStore.sourceFp(spark, dir) == synced,
        "the vectors of the old source must not look fresh with the new one")
    } finally Seq("a", "b").foreach(n =>
      try Ddl.execute(spark, s"DROP SEARCH INDEX sv_vec_${n}_$tag") catch { case NonFatal(_) => () })
  }

  test("covered reads interleaved with REFRESH and COMPACT see one committed state") {
    val (t, _) = table("sv_rw", "pk INTEGER")
    val reader = {
      val s = spark.newSession()
      SqlSurface.registerAll(s)
      CatalogDdl.registerFunctions(s)
      s
    }
    var live = Map(1 -> "x1", 2 -> "x2") // lang = 'en'
    val committed = ArrayBuffer(live)
    val answers = ArrayBuffer.empty[Map[Int, String]]
    val failures = ArrayBuffer.empty[String]
    @volatile var writing = true
    val reads = new Thread(() =>
      while (writing)
        try answers += reader.sql(s"SELECT pk, tag FROM $t WHERE lang = 'en'").collect()
          .map(r => r.getInt(0) -> r.getString(1)).toMap
        catch { case NonFatal(e) => failures += e.toString })
    reads.start()
    try (1 to 2).foreach { i =>
      val added = (10 * i) until (10 * i + 3)
      run(spark, s"INSERT INTO $t VALUES " +
        added.map(p => s"($p, 'alpha w$p', 'en', 't$p', 'o$p')").mkString(", "))
      live ++= added.map(p => p -> s"t$p")
      committed += live
      run(spark, s"VACUUM (REFRESH_TABLE) $t")
      run(spark, s"DELETE FROM $t WHERE pk = ${added.head}")
      live -= added.head
      committed += live
      run(spark, s"VACUUM (REFRESH_TABLE) $t")
      run(spark, s"UPDATE $t SET tag = 'u$i' WHERE pk = 2")
      live += 2 -> s"u$i"
      committed += live
      run(spark, s"VACUUM (REFRESH_TABLE) $t")
      run(spark, s"VACUUM (COMPACT_TABLE) $t")
    } finally {
      writing = false
      reads.join()
    }
    assert(failures.isEmpty, failures.take(3).mkString("\n"))
    assert(answers.nonEmpty)
    val unknown = answers.filterNot(committed.contains)
    assert(unknown.isEmpty, s"states no commit produced: ${unknown.take(3)}; committed $committed")
    val df = spark.sql(s"SELECT pk, tag FROM $t WHERE lang = 'en'")
    assert(covered(df, t), s"the last REFRESH leaves the sidecar fresh\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap == live)
  }

  test("a REFRESH that crashes at its publish leaves the previous version serving") {
    val (t, dir) = table("sv_crash", "pk INTEGER")
    val v0 = Commit.latest(spark, dir).get
    run(spark, s"UPDATE $t SET tag = 'y1' WHERE pk = 1")
    PublishCrash(spark, dir)(Ddl.execute(spark, s"REFRESH SEARCH INDEX ${t}_idx"))
    assert(Commit.latest(spark, dir).get.id == v0.id, "the crashed REFRESH published nothing")
    val want = Map("A" -> Seq(1L -> "y1", 2L -> "x2"), "C" -> Seq(1L -> "y1", 2L -> "x2"),
      "D" -> Seq(1L -> "y1", 2L -> "x2"))
    val failures = check(t, "pk", fresh = false, "after the crashed REFRESH", want) ++ {
      Ddl.execute(spark, s"REFRESH SEARCH INDEX ${t}_idx")
      check(t, "pk", fresh = true, "after the retried REFRESH", want)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
