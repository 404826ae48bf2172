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
  * query trees — phrases with repeated terms, slop and gap phrases, every
  * expansion leaf (prefix, wildcard, regexp, open and closed term ranges,
  * fuzzy with and without transpositions, n-gram similarity, phrase
  * prefix), nested AND/OR/NOT and boosts — each run as a claimed
  * `SELECT pk … WHERE` and a claimed `count(*)`, against
  * [[TsQueryExec.evalTokens]] over the table's rows. A phrase prefix has no
  * SQL constructor, so trees holding one run through the text-match leaf
  * directly. The index has two segments and a live tombstone, so the
  * answers also check that the leaf reads every live segment and leaves
  * deleted docs out; a capped fuzzy match whose closest term lives only in
  * a deleted doc, a term range across non-BMP text and a gram-similarity
  * match over an `ngram` dictionary get their own cases. */
class MatchParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)
  private val tbl = s"mp_docs_$tag"
  private val idx = s"mp_idx_$tag"
  private val dict = s"mp_dict_$tag"
  private val ngTbl = s"mp_ng_docs_$tag"
  private val ngIdx = s"mp_ng_idx_$tag"
  private val ngDict = s"mp_ng_dict_$tag"

  // a small vocabulary, so phrases, gaps and repeats all match some docs
  private val words = Vector("alpha", "bravo", "charlie", "delta")
  // terms outside it: "echo" only in a doc deleted below and its neighbour
  // "echos" in a live one; a BMP term past U+E000 and a non-BMP one, which
  // UTF-16 and UTF-8 order differently
  private val extra = Map(17 -> "echo", 20 -> "echos", 55 -> "ｚｚ", 56 -> "𝐚𝐛")
  private def body(pk: Int): String = {
    val rnd = new scala.util.Random(pk)
    (Seq.fill(3 + rnd.nextInt(8))(words(rnd.nextInt(words.size))) ++ extra.get(pk)).mkString(" ")
  }

  private def run(sql: String): Array[Row] = spark.sql(sql).collect()

  private def insert(table: String, rows: Seq[(Int, String)]): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2),
      StructType(Seq(StructField("pk", IntegerType), StructField("body", StringType))))
      .createOrReplaceTempView(s"${table}_src")
    run(s"INSERT INTO $table SELECT pk, body FROM ${table}_src")
  }

  private def segDirOf(d: String): String = IndexCatalog.lookupText(
    IndexCatalog.textKeys.collectFirst { case (root, "body", `d`) => root }.get, "body", d).get.segDir

  /** A table with a two-segment index and a live tombstone: `first` rows,
    * CREATE INDEX, `second` rows, REFRESH, DELETE `deleted`, REFRESH. */
  private def build(table: String, index: String, d: String, first: Seq[(Int, String)],
      second: Seq[(Int, String)], deleted: Seq[Int]): Unit = {
    run(s"CREATE TABLE $table(pk INTEGER PRIMARY KEY, body VARCHAR)")
    insert(table, first)
    run(s"CREATE INDEX $index ON $table USING inverted(pk, body $d)")
    insert(table, second)
    run(s"VACUUM (REFRESH_TABLE) $table")
    run(s"DELETE FROM $table WHERE pk IN (${deleted.mkString(", ")})")
    run(s"VACUUM (REFRESH_TABLE) $table")
    val segDir = segDirOf(d)
    assert(IndexStore.listSegments(spark, segDir).size >= 2, "two segments")
    assert(IndexStore.hasDeletes(spark, segDir), "a live tombstone")
  }

  private lazy val ready: Unit = {
    SqlSurface.registerAll(spark)
    graft.catalog.CatalogDdl.registerFunctions(spark)
    run(s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    build(tbl, idx, dict, (1 to 40).map(p => p -> body(p)), (41 to 60).map(p => p -> body(p)),
      Seq(3, 17, 44, 52))
  }

  // the catalog is shared by every suite in the JVM (EXPORT DATABASE
  // exports all of it): leave nothing behind
  override def afterAll(): Unit =
    try Seq(s"DROP INDEX IF EXISTS $idx", s"DROP TABLE IF EXISTS $tbl",
        s"DROP TEXT SEARCH DICTIONARY IF EXISTS $dict", s"DROP INDEX IF EXISTS $ngIdx",
        s"DROP TABLE IF EXISTS $ngTbl", s"DROP TEXT SEARCH DICTIONARY IF EXISTS $ngDict")
      .foreach(run)
    finally super.afterAll()

  private def word(rnd: scala.util.Random) = words(rnd.nextInt(words.size))
  private def terms(rnd: scala.util.Random) = Seq.fill(2 + rnd.nextInt(2))(word(rnd))

  /** The expansion leaves the trees draw from (all but the phrase prefix
    * as their SQL constructors decode them). */
  private val expansions: Seq[TsQuery] = Seq(
    Prefix("ch"), Prefix("b"), Wildcard("%ta"), Wildcard("_ravo"), Regexp("^[ad]l"),
    Regexp("ar"),
    TermRange(Some("bravo"), Some("charlie"), loInc = true, hiInc = true),
    TermRange(Some("charlie"), None, loInc = false, hiInc = false),
    TermRange(None, Some("bravo"), loInc = false, hiInc = true),
    Fuzzy("brava", 1), Fuzzy("dleta", 1), Fuzzy("dleta", 1, transpositions = false),
    NgramSim("charly", 0.3))

  /** How a tree is written: as TSQUERY constructors, as to_tsquery text
    * (which has `PhraseGap` and, of the expansion leaves, only `Prefix`,
    * and no `Boost`), or as a [[TsQuery]] value run through the leaf
    * directly (which also has `PhrasePrefix`). */
  private sealed trait Form
  private case object Constructors extends Form
  private case object ToTsquery extends Form
  private case object Direct extends Form

  private def tree(rnd: scala.util.Random, depth: Int, form: Form): TsQuery =
    if (depth == 0) rnd.nextInt(6) match {
      case 0 => Term(word(rnd))
      case 1 => Phrase(terms(rnd))
      case 2 => SlopPhrase(terms(rnd), 1 + rnd.nextInt(3))
      case 3 if form == ToTsquery =>
        val ts = terms(rnd)
        PhraseGap(ts, ts.indices.drop(1).map { _ => val d = rnd.nextInt(4); (d, d) })
      case 3 => Phrase(Seq(word(rnd), word(rnd)))
      case _ if form == ToTsquery => Prefix(word(rnd).take(1 + rnd.nextInt(2)))
      case 4 if form == Direct && rnd.nextBoolean() =>
        PhrasePrefix(Seq.fill(rnd.nextInt(3))(word(rnd)), word(rnd).take(1 + rnd.nextInt(2)))
      case _ => expansions(rnd.nextInt(expansions.size))
    } else rnd.nextInt(5) match {
      case 0 => And(Seq(tree(rnd, depth - 1, form), tree(rnd, depth - 1, form)))
      case 1 => Or(Seq(tree(rnd, depth - 1, form), tree(rnd, depth - 1, form)))
      case 2 => Not(tree(rnd, depth - 1, form))
      case 3 if form != ToTsquery => Boost(tree(rnd, depth - 1, form), 2.0)
      case _ => tree(rnd, depth - 1, form)
    }

  /** The tree as TSQUERY constructor calls. */
  private def constructors(q: TsQuery): String = q match {
    case Term(t) => s"ts_phrase('$t')"
    case Phrase(ts) => s"ts_phrase('${ts.mkString(" ")}')"
    case SlopPhrase(ts, n) => s"slop(ts_phrase('${ts.mkString(" ")}'), $n)"
    case Prefix(p) => s"ts_starts_with('$p')"
    case Wildcard(p) => s"ts_like('$p')"
    case Regexp(r) => s"ts_regexp('$r')"
    case TermRange(Some(lo), Some(hi), true, true) => s"ts_between('$lo', '$hi')"
    case TermRange(Some(b), None, inc, _) => s"ts_${if (inc) "ge" else "gt"}('$b')"
    case TermRange(None, Some(b), _, inc) => s"ts_${if (inc) "le" else "lt"}('$b')"
    case Fuzzy(t, d, tr, "") => s"ts_levenshtein('$t', $d, $tr)"
    case NgramSim(s, j, 3) => s"ts_ngram('$s', $j)"
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
    case Prefix(p) => s"$p:*"
    case And(Seq(a, b)) => s"(${tsquery(a)} & ${tsquery(b)})"
    case Or(Seq(a, b)) => s"(${tsquery(a)} | ${tsquery(b)})"
    case Not(inner) => s"!${tsquery(inner)}"
    case other => throw new IllegalArgumentException(s"no to_tsquery form: $other")
  }

  private def isAggregate(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]

  /** The claimed `SELECT pk` and `count(*)` of `pred` on `index` equal
    * `want`; the count is the leaf's count-only mode. */
  private def checkSql(index: String, pred: String, want: Set[Int], what: String): Unit = {
    val select = spark.sql(s"SELECT pk FROM $index WHERE $pred")
    val plan = select.queryExecution.optimizedPlan.toString
    assert(!plan.contains("match("), s"$what must be claimed\n$plan")
    assert(select.collect().map(_.getInt(0)).toSet == want, s"$what: matched docs ($pred)")
    val count = spark.sql(s"SELECT count(*) FROM $index WHERE $pred")
    val countPlan = count.queryExecution.optimizedPlan
    assert(countPlan.toString.contains("MatchScan(count") && !countPlan.exists(isAggregate),
      s"$what: the count is the leaf's count-only mode\n$countPlan")
    assert(count.collect().head.getLong(0) == want.size, s"$what: count ($pred)")
  }

  private def check(q: TsQuery, form: Form, rows: Map[Int, Seq[String]]): Unit = {
    val want = rows.collect { case (pk, toks) if TsQueryExec.evalTokens(q, toks) => pk }.toSet
    form match {
      case Constructors => checkSql(idx, s"ts_match(body, ${constructors(q)}, '$dict')", want, s"$q")
      case ToTsquery => checkSql(idx, s"tsquery_match(body, '${tsquery(q)}', '$dict')", want, s"$q")
      case Direct =>
        val index = IndexStore.load(spark, segDirOf(dict))
        assert(TsQueryExec.matching(index, q).collect().map(_.getInt(0)).toSet == want, s"$q")
        assert(org.apache.spark.sql.graft.Frames.ofRows(spark, graft.index.MatchScan.countLeaf(index, q))
          .collect().head.getLong(0) == want.size, s"$q: count")
    }
  }

  private def rows(table: String, d: String): Map[Int, Seq[String]] = {
    val analyzer = AnalyzerRegistry.get(d)
    run(s"SELECT pk, body FROM $table").map(r => r.getInt(0) -> analyzer.tokens(r.getString(1))).toMap
  }

  test("random trees with every node kind: claimed answers equal row evaluation") {
    ready
    val all = rows(tbl, dict)
    val rnd = new scala.util.Random(4004)
    // random trees, every expansion leaf alone, and a bare and a chained
    // phrase prefix
    val trees = Seq(Constructors, ToTsquery, Direct).flatMap(f => Seq.fill(14)(tree(rnd, 3, f) -> f)) ++
      expansions.map(_ -> Constructors) ++
      Seq(PhrasePrefix(Nil, "de"), And(Seq(PhrasePrefix(Seq("alpha", "bravo"), "c"), Not(Prefix("d")))))
        .map(_ -> Direct)
    val drawn = trees.map(_._1.toString).mkString
    Seq("Phrase(", "SlopPhrase(", "PhraseGap(", "And(", "Or(", "Not(", "Boost(")
      .foreach(k => assert(drawn.contains(k), s"no $k drawn"))
    trees.foreach { case (q, form) => check(q, form, all) }
  }

  test("a capped fuzzy match ranks only terms with a live posting") {
    ready
    // "echo" (distance 0) is closer than "echos" (distance 1) but lives only
    // in a deleted doc: a cap of 1 keeps "echos"
    val q = Fuzzy("echo", 1)
    spark.conf.set("spark.graft.levenshteinMaxTerms", "1")
    try {
      assert(rows(tbl, dict).collect { case (pk, ts) if TsQueryExec.evalTokens(q, ts) => pk }
        .toSet == Set(20))
      check(q, Constructors, rows(tbl, dict))
    } finally spark.conf.unset("spark.graft.levenshteinMaxTerms")
  }

  test("a term range over non-BMP text: UTF-8 byte order on both paths") {
    ready
    // U+1D41A sorts below U+FF5A in UTF-16 and above it in UTF-8
    val q = TermRange(Some("ｚ"), None, loInc = true, hiInc = false)
    val all = rows(tbl, dict)
    assert(all.collect { case (pk, ts) if TsQueryExec.evalTokens(q, ts) => pk }.toSet == Set(55, 56))
    check(q, Constructors, all)
  }

  test("gram similarity over an ngram dictionary") {
    ready
    run(s"CREATE TEXT SEARCH DICTIONARY $ngDict (template = 'ngram', mingram = 2, maxgram = 2, " +
      "frequency = true, position = true)")
    val texts = Seq("hello", "help", "world", "held", "hero", "shell", "yellow", "hell")
    build(ngTbl, ngIdx, ngDict, texts.indices.take(4).map(i => (i + 1) -> texts(i)),
      texts.indices.drop(4).map(i => (i + 1) -> texts(i)), Seq(2, 8))
    val all = rows(ngTbl, ngDict)
    Seq(0.3, 0.7).foreach { j =>
      val q = TsQuery.bindDict(NgramSim("hello", j), AnalyzerRegistry.get(ngDict))
      assert(q.isInstanceOf[GramSim])
      val want = all.collect { case (pk, ts) if TsQueryExec.evalTokens(q, ts) => pk }.toSet
      assert(want.nonEmpty, s"$q matches some doc")
      checkSql(ngIdx, s"ts_match(body, ts_ngram('hello', $j), '$ngDict')", want, s"$q")
    }
  }
}
