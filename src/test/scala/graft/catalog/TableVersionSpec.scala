package graft.catalog

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Catalog tables under interleaved reads and writes: every read sees one
  * committed version of the table, and of two writers that build on the
  * same version, one publishes and the other fails without losing a row. */
class TableVersionSpec extends AnyFunSuite {
  private lazy val writer = TestSpark.spark
  private lazy val reader = {
    val s = writer.newSession()
    graft.search.SqlSurface.registerAll(s)
    CatalogDdl.registerFunctions(s)
    s
  }
  private val tag = System.nanoTime().toString.takeRight(9)

  private def state(pks: Iterable[Int]): (Long, Long) = (pks.size.toLong, pks.map(_.toLong).sum)

  test("a read interleaved with INSERT, DELETE and UPDATE commits sees one committed state") {
    val t = s"tv_rw_$tag"
    writer.sql(s"CREATE TABLE $t (pk INTEGER PRIMARY KEY, v INTEGER)")
    try {
      var live = (1 to 40).toSet
      writer.sql(s"INSERT INTO $t SELECT CAST(id AS INT), 0 FROM range(1, 41)")
      val committed = ArrayBuffer(state(live))
      @volatile var writing = true
      val answers = ArrayBuffer.empty[(Long, Long)]
      val failures = ArrayBuffer.empty[String]
      val reads = new Thread(() => {
        while (writing) {
          try {
            val r = reader.sql(s"SELECT count(*), sum(pk) FROM $t").head()
            answers += ((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
          } catch { case NonFatal(e) => failures += e.toString }
        }
      })
      reads.start()
      try {
        (1 to 6).foreach { i =>
          val added = (100 * i) until (100 * i + 5)
          writer.sql(s"INSERT INTO $t SELECT CAST(id AS INT), $i FROM range(${added.head}, ${added.last + 1})")
          live ++= added
          committed += state(live)
          writer.sql(s"DELETE FROM $t WHERE pk % 6 = $i % 6 AND pk < 100")
          live = live.filterNot(p => p < 100 && p % 6 == i % 6)
          committed += state(live)
          // moves one key: the sum changes, the count does not
          writer.sql(s"UPDATE $t SET pk = pk + 50 WHERE pk = ${100 * i}")
          live = live - 100 * i + (100 * i + 50)
          committed += state(live)
        }
      } finally {
        writing = false
        reads.join()
      }
      assert(failures.isEmpty, failures.take(3).mkString("\n"))
      assert(answers.nonEmpty)
      val unknown = answers.filterNot(committed.contains)
      assert(unknown.isEmpty, s"states no commit produced: ${unknown.take(5)}; committed $committed")
      val end = writer.sql(s"SELECT count(*), sum(pk) FROM $t").head()
      assert((end.getLong(0), end.getLong(1)) == committed.last)
    } finally writer.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("of two writers on one version, one publishes and the other fails without losing a row") {
    val t = s"tv_ww_$tag"
    writer.sql(s"CREATE TABLE $t (pk INTEGER, v INTEGER)")
    try {
      writer.sql(s"INSERT INTO $t VALUES (1, 0), (2, 0)")
      val tbl = ObjectCatalog.table(t).get
      // each write's task waits in `arrive` until both writes are staging,
      // so both read the same base version before either publishes
      val arrive = udf((v: Long) => { TableVersionSpec.arrive(); v.toInt })
      def rows(s: SparkSession, from: Int) =
        s.range(from, from + 5, 1, 1).select(col("id").cast("int").as("pk"), arrive(col("id")).as("v"))
      val outcomes = Seq(writer -> 10, reader -> 20).map { case (s, from) =>
        val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Unit]]()
        val th = new Thread(() => out.set(
          try Right(TableStore.append(s, tbl.dir, rows(s, from), 5L))
          catch { case NonFatal(e) => Left(e) }))
        th.start()
        (from, th, out)
      }.map { case (from, th, out) => th.join(); from -> out.get }
      val (won, lost) = outcomes.partition(_._2.isRight)
      assert(won.size == 1 && lost.size == 1, outcomes)
      assert(lost.head._2.left.toOption.get.getMessage.contains("could not serialize access"))
      def pks = writer.sql(s"SELECT pk FROM $t").collect().map(_.getInt(0)).toSet
      assert(pks == Set(1, 2) ++ (won.head._1 until won.head._1 + 5))
      // the losing write retried on the new version keeps both
      TableVersionSpec.reset()
      TableStore.append(writer, tbl.dir, rows(writer, lost.head._1), 5L)
      assert(pks == Set(1, 2) ++ (10 until 15) ++ (20 until 25))
    } finally writer.sql(s"DROP TABLE IF EXISTS $t")
  }
}

object TableVersionSpec {
  @volatile private var gate = new CountDownLatch(2)

  private def arrive(): Unit = {
    val g = gate
    g.countDown()
    g.await(60, TimeUnit.SECONDS)
  }

  private def reset(): Unit = gate = new CountDownLatch(0)
}
