package graft.catalog

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.index.{Commit, PublishCrash}

/** What a catalog table's directory holds: a write that crashes at its
  * publish leaves the previous version serving, the files of the current
  * and previous versions are all that autocommit writes keep, and an open
  * REPEATABLE READ block keeps the files of the version it pinned. */
class TableRetentionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val other = {
    val s = spark.newSession()
    graft.search.SqlSurface.registerAll(s)
    CatalogDdl.registerFunctions(s)
    s
  }
  private val tag = System.nanoTime().toString.takeRight(9)

  private def pks(t: String): Set[Int] =
    spark.sql(s"SELECT pk FROM $t").collect().map(_.getInt(0)).toSet

  /** The parquet files under the table's directory, relative to it. */
  private def onDisk(dir: String): Set[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      if (p.endsWith(".parquet")) out += p.stripPrefix(root.toUri.getPath + "/")
    }
    out.result()
  }

  private def files(dir: String): Set[String] = Commit.latest(spark, dir).get.files.toSet

  /** The staged-write directories under `_data` that the latest version
    * names no file of. */
  private def unnamedStaging(dir: String): Set[String] = {
    val data = new Path(dir, "_data")
    val named = files(dir).map(_.split("/").take(2).mkString("/"))
    data.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(data)
      .map(s => s"_data/${s.getPath.getName}").toSet -- named
  }

  private def withTable(name: String)(body: (String, String) => Unit): Unit = {
    val t = s"${name}_$tag"
    spark.sql(s"CREATE TABLE $t (pk INTEGER, v INTEGER)")
    try {
      // four INSERTs: four files, so a one-row DELETE rewrites one of them
      (0 until 4).foreach(i =>
        spark.sql(s"INSERT INTO $t SELECT CAST(id AS INT), 0 FROM range(${10 * i}, ${10 * i + 10})"))
      body(t, ObjectCatalog.table(t).get.dir)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("an INSERT or DELETE that fails at its publish leaves the previous version serving") {
    withTable("tr_crash") { (t, dir) =>
      val before = pks(t)
      PublishCrash(spark, dir)(spark.sql(s"INSERT INTO $t VALUES (100, 1)"))
      assert(pks(t) == before)
      assert(unnamedStaging(dir).isEmpty, "the failed INSERT deletes what it staged")
      PublishCrash(spark, dir)(spark.sql(s"DELETE FROM $t WHERE pk = 3"))
      assert(pks(t) == before)
      assert(unnamedStaging(dir).isEmpty, "the failed DELETE deletes what it staged")
      spark.sql(s"INSERT INTO $t VALUES (100, 1)")
      spark.sql(s"DELETE FROM $t WHERE pk = 3")
      assert(pks(t) == before + 100 - 3)
    }
  }

  test("after autocommit DELETEs the directory holds the current and previous versions' files") {
    withTable("tr_keep") { (t, dir) =>
      var previous = files(dir)
      (0 until 20).foreach { i =>
        spark.sql(s"DELETE FROM $t WHERE pk = $i")
        val current = files(dir)
        assert(onDisk(dir) == current ++ previous, s"after DELETE $i")
        previous = current
      }
      assert(pks(t) == (20 until 40).toSet)
      val manifests = new Path(dir, "_v")
      assert(manifests.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(manifests).count(_.getPath.getName.endsWith(".json")) == 2)
    }
  }

  test("an open REPEATABLE READ block keeps its version's files until COMMIT") {
    withTable("tr_rr") { (t, dir) =>
      other.sql("BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ")
      val pinned = try {
        assert(other.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 40)
        val pinned = files(dir)
        (0 until 3).foreach(i => spark.sql(s"DELETE FROM $t WHERE pk = ${10 * i}"))
        assert(pinned.subsetOf(onDisk(dir)), "a pinned version's files stay on disk")
        assert(other.sql(s"SELECT count(*), sum(pk) FROM $t").head().toSeq ==
          Seq(40L, (0 until 40).sum.toLong))
        pinned
      } finally other.sql("COMMIT")
      assert(other.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 37)
      val previous = files(dir)
      spark.sql(s"DELETE FROM $t WHERE pk = 35")
      assert(onDisk(dir) == files(dir) ++ previous)
      assert(!pinned.subsetOf(onDisk(dir)), "released files are retired by the next DELETE")
    }
  }
}
