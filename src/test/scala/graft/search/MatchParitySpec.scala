package graft.search

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.analysis.AnalyzerRegistry
import graft.index.IndexStore
import TsQuery._

/** Claimed text matches over index files equal row evaluation: random
  * exact-term query trees (phrases with repeated terms, slop and gap
  * phrases, nested AND/OR/NOT and boosts) and one tree mixing in a prefix
  * leaf, each run as a claimed `SELECT pk … WHERE` and a claimed
  * `count(*)`, against [[TsQueryExec.evalTokens]] over the table's rows.
  * The index has two segments and a live tombstone, so the answers also
  * check that the text-match leaf reads every live segment and leaves
  * deleted docs out. */
class MatchParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)
  private val tbl = s"mp_docs_$tag"
  private val idx = s"mp_idx_$tag"
  private val dict = s"mp_dict_$tag"

  // a small vocabulary, so phrases, gaps and repeats all match some docs
  private val words = Vector("alpha", "bravo", "charlie", "delta")
  private def body(pk: Int): String = {
    val rnd = new scala.util.Random(pk)
    Seq.fill(3 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")
  }

  private def run(sql: String): Array[Row] = spark.sql(sql).collect()

  private def insert(pks: Range): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(pks.map(p => Row(p, body(p))), 2),
      StructType(Seq(StructField("pk", IntegerType), StructField("body", StringType))))
      .createOrReplaceTempView(s"${tbl}_src")
    run(s"INSERT INTO $tbl SELECT pk, body FROM ${tbl}_src")
  }

  private lazy val ready: Unit = {
    SqlSurface.registerAll(spark)
    graft.catalog.CatalogDdl.registerFunctions(spark)
    run(s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    run(s"CREATE TABLE $tbl(pk INTEGER PRIMARY KEY, body VARCHAR)")
    insert(1 to 40)
    run(s"CREATE INDEX $idx ON $tbl USING inverted(pk, body $dict)")
    insert(41 to 60)
    run(s"VACUUM (REFRESH_TABLE) $tbl")
    run(s"DELETE FROM $tbl WHERE pk IN (3, 17, 44, 52)")
    run(s"VACUUM (REFRESH_TABLE) $tbl")
    val segDir = IndexCatalog.lookupText(
      IndexCatalog.textKeys.collectFirst { case (root, "body", `dict`) => root }.get,
      "body", dict).get.segDir
    assert(IndexStore.listSegments(spark, segDir).size >= 2, "two segments")
    assert(IndexStore.hasDeletes(spark, segDir), "a live tombstone")
  }

  // the catalog is shared by every suite in the JVM (EXPORT DATABASE
  // exports all of it): leave nothing behind
  override def afterAll(): Unit =
    try Seq(s"DROP INDEX IF EXISTS $idx", s"DROP TABLE IF EXISTS $tbl",
        s"DROP TEXT SEARCH DICTIONARY IF EXISTS $dict").foreach(run)
    finally super.afterAll()

  private def word(rnd: scala.util.Random) = words(rnd.nextInt(words.size))
  private def terms(rnd: scala.util.Random) = Seq.fill(2 + rnd.nextInt(2))(word(rnd))

  /** A random exact-term tree. `gaps` trees may hold `PhraseGap` and no
    * `Boost` (they render as to_tsquery text); the others the reverse
    * (they render as TSQUERY constructors). */
  private def tree(rnd: scala.util.Random, depth: Int, gaps: Boolean): TsQuery =
    if (depth == 0) rnd.nextInt(4) match {
      case 0 => Term(word(rnd))
      case 1 => Phrase(terms(rnd))
      case 2 => SlopPhrase(terms(rnd), 1 + rnd.nextInt(3))
      case _ if gaps =>
        val ts = terms(rnd)
        PhraseGap(ts, ts.indices.drop(1).map { _ => val d = rnd.nextInt(4); (d, d) })
      case _ => Phrase(Seq(word(rnd), word(rnd)))
    } else rnd.nextInt(5) match {
      case 0 => And(Seq(tree(rnd, depth - 1, gaps), tree(rnd, depth - 1, gaps)))
      case 1 => Or(Seq(tree(rnd, depth - 1, gaps), tree(rnd, depth - 1, gaps)))
      case 2 => Not(tree(rnd, depth - 1, gaps))
      case 3 if !gaps => Boost(tree(rnd, depth - 1, gaps), 2.0)
      case _ => tree(rnd, depth - 1, gaps)
    }

  /** The tree as TSQUERY constructor calls. */
  private def constructors(q: TsQuery): String = q match {
    case Term(t) => s"ts_phrase('$t')"
    case Phrase(ts) => s"ts_phrase('${ts.mkString(" ")}')"
    case SlopPhrase(ts, n) => s"slop(ts_phrase('${ts.mkString(" ")}'), $n)"
    case Prefix(p) => s"ts_starts_with('$p')"
    case Boost(inner, w) => s"boost(${constructors(inner)}, $w)"
    case And(Seq(a, b)) => s"ts_and(${constructors(a)}, ${constructors(b)})"
    case Or(Seq(a, b)) => s"ts_or(${constructors(a)}, ${constructors(b)})"
    case Not(inner) => s"ts_not(${constructors(inner)})"
    case other => throw new IllegalArgumentException(s"no constructor form: $other")
  }

  /** The tree as to_tsquery text. */
  private def tsquery(q: TsQuery): String = q match {
    case Term(t) => t
    case Phrase(ts) => ts.mkString("(", " <-> ", ")")
    case SlopPhrase(ts, n) => s""""${ts.mkString(" ")}"~$n"""
    case PhraseGap(ts, gs) =>
      ts.tail.zip(gs).map { case (t, (d, _)) => s" <$d> $t" }.mkString(s"(${ts.head}", "", ")")
    case And(Seq(a, b)) => s"(${tsquery(a)} & ${tsquery(b)})"
    case Or(Seq(a, b)) => s"(${tsquery(a)} | ${tsquery(b)})"
    case Not(inner) => s"!${tsquery(inner)}"
    case other => throw new IllegalArgumentException(s"no to_tsquery form: $other")
  }

  private def predicate(q: TsQuery, gaps: Boolean): String =
    if (gaps) s"tsquery_match(body, '${tsquery(q)}', '$dict')"
    else s"ts_match(body, ${constructors(q)}, '$dict')"

  private def check(q: TsQuery, gaps: Boolean, rows: Map[Int, Seq[String]]): Unit = {
    val f = predicate(q, gaps)
    val want = rows.collect { case (pk, toks) if TsQueryExec.evalTokens(q, toks) => pk }.toSet
    val select = spark.sql(s"SELECT pk FROM $idx WHERE $f")
    val plan = select.queryExecution.optimizedPlan.toString
    assert(!plan.contains("match("), s"$q must be claimed\n$plan")
    assert(select.collect().map(_.getInt(0)).toSet == want, s"$q: matched docs ($f)")
    val count = spark.sql(s"SELECT count(*) FROM $idx WHERE $f")
    val countPlan = count.queryExecution.optimizedPlan
    if (graft.index.MatchScan.exact(q))
      assert(countPlan.toString.contains("MatchScan(count") &&
        countPlan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.isEmpty,
        s"$q: the count is the leaf's count-only mode\n$countPlan")
    assert(count.collect().head.getLong(0) == want.size, s"$q: count ($f)")
  }

  test("random exact-term trees and a prefix mix: claimed answers equal row evaluation") {
    ready
    val analyzer = AnalyzerRegistry.get(dict)
    val rows = run(s"SELECT pk, body FROM $tbl")
      .map(r => r.getInt(0) -> analyzer.tokens(r.getString(1))).toMap
    val rnd = new scala.util.Random(4004)
    val trees = Seq.fill(12)(tree(rnd, 3, gaps = false) -> false) ++
      Seq.fill(12)(tree(rnd, 3, gaps = true) -> true)
    // every node kind is drawn at least once
    val kinds = trees.map(_._1.toString).mkString
    Seq("Phrase(", "SlopPhrase(", "PhraseGap(", "And(", "Or(", "Not(", "Boost(").foreach { k =>
      assert(kinds.contains(k), s"no $k drawn")
    }
    trees.foreach { case (q, gaps) => check(q, gaps, rows) }
    val mixed = And(Seq(Or(Seq(Prefix("ch"), Phrase(Seq("alpha", "bravo")))),
      Not(SlopPhrase(Seq("delta", "alpha"), 2))))
    assert(!graft.index.MatchScan.exact(mixed))
    check(mixed, gaps = false, rows)
  }
}
