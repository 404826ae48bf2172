package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}
import graft.analysis.WhitespaceAnalyzer
import graft.search.{TsQuery, TsQueryExec}

/** Index-vs-fullscan equality (the reference's own cross-check pattern —
  * demo6 re-runs its search query without postings, examples/demo6/demo.sql)
  * plus segment append/compact invariance (SURVEY §7.4: BM25 stats must not
  * drift under incremental ingest). */
@graft.SlowTest
class IndexSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def docs = Tables.documents(spark, TestSpark.sfDir)

  private lazy val toks: Map[Long, Seq[String]] = {
    val ws = WhitespaceAnalyzer(lowercase = true)
    docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> ws.tokens(r.getString(1))).toMap
  }
  private lazy val idx = InvertedIndex.build(docs, "doc_id", "text", "whitespace")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("term matches full scan") {
    assert(ids(idx.term("vector")) ==
      toks.collect { case (id, ts) if ts.contains("vector") => id }.toSet)
  }

  test("anyOf with min-match matches full scan") {
    val q = Seq("join", "hash", "merge")
    assert(ids(idx.anyOf(q, minMatch = 2)) ==
      toks.collect { case (id, ts) if q.count(ts.contains) >= 2 => id }.toSet)
  }

  test("allOf matches full scan") {
    val q = Seq("window", "filter", "stream")
    assert(ids(idx.allOf(q)) ==
      toks.collect { case (id, ts) if q.forall(ts.contains) => id }.toSet)
  }

  test("prefix and wildcard match full scan") {
    assert(ids(TsQueryExec.matching(idx, TsQuery.Prefix("sc"))) ==
      toks.collect { case (id, ts) if ts.exists(_.startsWith("sc")) => id }.toSet)
    assert(ids(TsQueryExec.matching(idx, TsQuery.Wildcard("s%t"))) ==
      toks.collect { case (id, ts)
        if ts.exists(t => t.startsWith("s") && t.endsWith("t")) => id }.toSet)
  }

  test("anyOfPrefixes stays exact on a NON-prefix-free set through the >16 path") {
    // the round-7 ADVICE hazard: the set's lexicographic MAX ('re') is an
    // extension of another member ('r'), so the >16 path's global upper
    // bound derived from ps.max ('rf') would exclude terms like 'row'/'run'
    // that the shorter prefix should match. The prefix-free reduction must
    // make the result equal the per-prefix union regardless.
    val base = "abcdefghijklmnopqr".map(_.toString) // 18 singles > 16
    val nonPrefixFree = base ++ Seq("ba", "co", "qu", "re")
    val got = ids(idx.anyOfPrefixes(nonPrefixFree))
    val want = nonPrefixFree
      .map(p => toks.collect { case (id, ts) if ts.exists(_.startsWith(p)) => id }.toSet)
      .reduce(_ union _)
    assert(got == want)
  }

  test("phrase matches full scan sliding window") {
    val q = Seq("hash", "join")
    assert(ids(TsQueryExec.matching(idx, TsQuery.Phrase(q))) ==
      toks.collect { case (id, ts) if ts.sliding(2).contains(q) => id }.toSet)
  }

  test("sloppy phrase [1,3] matches full scan") {
    def slopMatch(ts: Seq[String]): Boolean =
      ts.zipWithIndex.exists { case (t, i) =>
        t == "hash" && ts.slice(i + 1, i + 4).contains("join")
      }
    assert(ids(TsQueryExec.matching(idx, TsQuery.PhraseGap(Seq("hash", "join"), Seq((1, 3))))) ==
      toks.collect { case (id, ts) if slopMatch(ts) => id }.toSet)
  }

  /** Brute-force BM25 replicating the plan's FP expression tree exactly. */
  private def bruteBm25TopK(terms: Seq[String], k: Int): Seq[Long] = {
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / toks.size
    val dfs = terms.map(t => t -> math.max(toks.values.count(_.contains(t)), 1).toDouble).toMap
    toks.toSeq.map { case (id, ts) =>
      val score = terms.map { t =>
        val tf = ts.count(_ == t).toDouble
        val df = dfs(t)
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        idf * tf * (1.2 + 1.0) /
          (tf + 1.2 * ((1.0 - 0.75) + 0.75 * ts.size.toDouble / avgdl))
      }.reduce(_ + _)
      (id, score)
    }.filter(_._2 > 0.0)
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }

  test("bm25 top-k matches brute force") {
    val got = idx.bm25TopK(Seq("vector", "dup", "query"), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteBm25TopK(Seq("vector", "dup", "query"), 10))
  }

  test("WAND min_score floor prunes the drive without changing the result") {
    val terms = Seq("vector", "dup", "query")
    // a floor high enough that the weakest term alone cannot reach it:
    // the necessary set must be a strict subset, and the pruned plan must
    // still equal the plain post-filter
    val (byUb, _) = idx.wandNecessary(terms, 0.0, 1.2, 0.75)
    assert(byUb.size == 3)
    val floors = Seq(1.5, 3.0, 5.0)
    floors.foreach { floor =>
      val brute = idx.bm25(terms).filter(org.apache.spark.sql.functions.col("_score") >= floor)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val wand = idx.bm25MinScore(terms, floor)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(wand == brute, s"floor=$floor")
    }
    // at least one realistic floor must actually prune terms from the drive
    val pruned = floors.map(f => idx.wandNecessary(terms, f, 1.2, 0.75)._2)
    assert(pruned.exists(p => p > 0 && p < 3),
      s"expected a strict necessary subset at some floor, got prefix sizes $pruned")
    // and an unreachable floor yields the empty result without scoring
    assert(idx.bm25MinScore(terms, 1e9).collect().isEmpty)
  }

  test("segment append keeps facets and scores identical to one-shot build") {
    val dir = sys.props("java.io.tmpdir") + s"/graft-test-idx-${System.nanoTime()}"
    val half1 = docs.filter(col("doc_id") < 250)
    val half2 = docs.filter(col("doc_id") >= 250)
    IndexStore.appendSegment(
      InvertedIndex.build(half1, "doc_id", "text", "whitespace"), dir)
    IndexStore.appendSegment(
      InvertedIndex.build(half2, "doc_id", "text", "whitespace"), dir)
    val loaded = IndexStore.load(spark, dir)

    assert(loaded.numDocs == idx.numDocs && loaded.sumDl == idx.sumDl)
    def dict(i: InvertedIndex): Set[(String, Long, Long)] =
      i.termDict.select(col("term"), col("df").cast("long"), col("ctf").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(dict(loaded) == dict(idx), "multi-segment termdict merge must be lossless")

    val want = idx.bm25TopK(Seq("vector", "dup", "query"), 10)
      .collect().map(_.getLong(0)).toSeq
    val got = loaded.bm25TopK(Seq("vector", "dup", "query"), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want, "BM25 stats must not drift across appended segments")

    // compaction: merge to one segment, same answers; the old segments are
    // retired, and deleted when the next compaction publishes
    assert(IndexStore.compact(spark, dir) == 2, "two pre-compaction segments")
    val compacted = IndexStore.load(spark, dir)
    assert(IndexStore.listSegments(spark, dir).size == 1)
    assert(dict(compacted) == dict(idx))
    assert(compacted.bm25TopK(Seq("vector", "dup", "query"), 10)
      .collect().map(_.getLong(0)).toSeq == want)
    def onDisk(seg: String) = new java.io.File(s"$dir/$seg").exists()
    assert(onDisk("seg=00000") && onDisk("seg=00001"), "retired segments stay one compaction")
    IndexStore.compact(spark, dir)
    assert(!onDisk("seg=00000") && !onDisk("seg=00001") && onDisk("seg=00002"))
    assert(ids(IndexStore.load(spark, dir).term("vector")) == ids(idx.term("vector")))
  }

  test("update path: delete + append replaces a doc's terms everywhere") {
    val dir = sys.props("java.io.tmpdir") + s"/graft-test-upd-${System.nanoTime()}"
    val spark2 = spark
    import spark2.implicits._
    IndexStore.appendSegment(
      InvertedIndex.build(docs, "doc_id", "text", "whitespace"), dir)
    // update doc 0: delete old version, append new content
    IndexStore.delete(spark, dir, Seq(0L))
    IndexStore.appendSegment(
      InvertedIndex.build(
        Seq((0L, "totally replacement zebra content")).toDF("doc_id", "text"),
        "doc_id", "text", "whitespace"), dir)
    val updated = IndexStore.load(spark, dir)
    assert(ids(updated.term("zebra")) == Set(0L))
    val oldToks = toks(0L).toSet -- Seq("totally", "replacement", "zebra", "content")
    oldToks.take(3).foreach { t =>
      assert(!ids(updated.term(t)).contains(0L), s"old term '$t' must not match doc 0")
    }
    assert(updated.numDocs == idx.numDocs, "update must not change doc count")
  }

  test("second delete after an update tombstones the re-inserted doc") {
    val dir = sys.props("java.io.tmpdir") + s"/graft-test-del2-${System.nanoTime()}"
    val spark2 = spark
    import spark2.implicits._
    IndexStore.appendSegment(
      InvertedIndex.build(docs, "doc_id", "text", "whitespace"), dir)
    // UPDATE doc 0 (delete + re-insert in a newer segment) …
    IndexStore.delete(spark, dir, Seq(0L))
    IndexStore.appendSegment(
      InvertedIndex.build(Seq((0L, "reborn zebra doc")).toDF("doc_id", "text"),
        "doc_id", "text", "whitespace"), dir)
    assert(ids(IndexStore.load(spark, dir).term("zebra")) == Set(0L))
    // … then DELETE it again: the tombstone must land at the new generation,
    // not be deduped away by the id-only check
    IndexStore.delete(spark, dir, Seq(0L))
    val after = IndexStore.load(spark, dir)
    assert(ids(after.term("zebra")).isEmpty,
      "a second delete of a re-inserted id must suppress the newer version")
    assert(after.numDocs == idx.numDocs - 1)
    IndexStore.compact(spark, dir)
    assert(ids(IndexStore.load(spark, dir).term("zebra")).isEmpty,
      "compaction must fold the double-delete away permanently")
  }

  test("predicate delete is a distributed write, same semantics as id lists") {
    val dir = sys.props("java.io.tmpdir") + s"/graft-test-delw-${System.nanoTime()}"
    IndexStore.appendSegment(
      InvertedIndex.build(docs, "doc_id", "text", "whitespace"), dir)
    // DELETE WHERE doc_id % 2 = 0 — the tombstones land as a parquet
    // dataset, never as a driver-side list
    IndexStore.deleteWhere(spark, dir, col("doc_id") % 2 === 0)
    val del = IndexStore.load(spark, dir)
    val expect = InvertedIndex.build(
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", "whitespace")
    assert(del.numDocs == expect.numDocs && del.sumDl == expect.sumDl)
    assert(ids(del.term("vector")) == ids(expect.term("vector")))
    assert(Commit.latest(spark, dir).get.files.exists(f =>
        f.startsWith("del=") && new java.io.File(s"$dir/$f").isDirectory),
      "predicate deletes must persist as a parquet dataset the version names")
    // a repeated identical delete must not double-subtract the stats
    IndexStore.deleteWhere(spark, dir, col("doc_id") % 2 === 0)
    val again = IndexStore.load(spark, dir)
    assert(again.numDocs == expect.numDocs && again.sumDl == expect.sumDl,
      "same-generation repeat deletes must dedup")
  }

  test("deletes: tombstones leave every result; compaction folds them away") {
    val dir = sys.props("java.io.tmpdir") + s"/graft-test-del-${System.nanoTime()}"
    IndexStore.appendSegment(
      InvertedIndex.build(docs, "doc_id", "text", "whitespace"), dir)
    IndexStore.delete(spark, dir, (0L until 50L).toSeq)

    val del = IndexStore.load(spark, dir)
    val expect = InvertedIndex.build(
      docs.filter(col("doc_id") >= 50), "doc_id", "text", "whitespace")
    assert(del.numDocs == expect.numDocs && del.sumDl == expect.sumDl)
    def dict(i: InvertedIndex): Set[(String, Long, Long)] =
      i.termDict.select(col("term"), col("df").cast("long"), col("ctf").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(dict(del) == dict(expect), "facets must be deletes-aware")
    assert(ids(del.term("vector")) == ids(expect.term("vector")))
    val terms = Seq("vector", "dup", "query")
    assert(del.bm25TopK(terms, 10).collect().map(_.getLong(0)).toSeq ==
      expect.bm25TopK(terms, 10).collect().map(_.getLong(0)).toSeq,
      "idf/avgdl must exclude deleted docs")

    IndexStore.compact(spark, dir)
    val compacted = IndexStore.load(spark, dir)
    assert(dict(compacted) == dict(expect))
    assert(compacted.numDocs == expect.numDocs && compacted.sumDl == expect.sumDl)
    assert(ids(compacted.term("vector")) == ids(expect.term("vector")))
  }

  test("segment_docs_max rotation publishes multiple segments, same results") {
    val spark = graft.TestSpark.spark
    val docs = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    val dir = IndexStore.dirFor("rotation-spec", "text", "whitespace")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    val n = docs.count()
    val rotated = IndexStore.ensureRotating(spark, docs, "rotation-spec",
      "doc_id", "text", "whitespace", docsMax = n / 4)
    val segs = IndexStore.listSegments(spark, dir)
    assert(segs.size >= 2, s"expected multiple committed segments, got $segs")
    assert(rotated.numDocs == n)
    // rotated build == single-segment build, observably
    val whole = IndexStore.documents(spark, graft.TestSpark.sfDir, "whitespace")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(rotated.term("vector")) == ids(whole.term("vector")))
    val phrase = TsQuery.Phrase(Seq("hash", "join"))
    assert(ids(TsQueryExec.matching(rotated, phrase)) == ids(TsQueryExec.matching(whole, phrase)))
    assert(rotated.sumDl == whole.sumDl)
  }

  test("levenshtein max-terms caps expansion to the closest terms") {
    // the reference's fixture (levenshtein_max_terms.test): 13 one-word
    // docs, all within distance 1 of 'cat'
    val s = spark
    import s.implicits._
    val words = Seq("cat", "bat", "rat", "hat", "mat", "cab", "can", "cap",
      "car", "cot", "cut", "cats", "act")
    val wdocs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val widx = InvertedIndex.build(wdocs, "doc_id", "text", "whitespace")
    // the cap is the session knob `spark.graft.levenshteinMaxTerms`; null
    // leaves the default (64)
    def fuzzy(cap: String, transpositions: Boolean = true): Set[Long] = {
      if (cap != null) spark.conf.set("spark.graft.levenshteinMaxTerms", cap)
      try ids(TsQueryExec.matching(widx, TsQuery.Fuzzy("cat", 1, transpositions)))
      finally if (cap != null) spark.conf.unset("spark.graft.levenshteinMaxTerms")
    }
    // all 13 are within Damerau distance 1 — 'act' is one transposition,
    // and transpositions default ON (reference ts_common.hpp:242); the
    // plain-Levenshtein path (transpositions = false) excludes it
    assert(fuzzy("0").size == 13)
    assert(fuzzy("0", transpositions = false).size == 12)
    // default session cap (64) leaves all of them
    assert(fuzzy(null).size == 13)
    // a cap of 5 keeps the 5 closest terms → 5 docs (one doc per word)
    assert(fuzzy("5").size == 5)
    // cap 1: the exact match wins outright (similarity 1.0 beats 1 - 1/3)
    assert(fuzzy("1") == Set(0L))
    // DICTIONARY ENUMERATION is exempt from the cap (reference
    // levenshtein_max_terms.test: "the automaton walk visits every
    // accepted term either way and truncating the list would just
    // return a wrong answer") — the termdict expansion path the
    // ts_dict fuzzy probes ride never routes through the capped fuzzy
    spark.conf.set("spark.graft.levenshteinMaxTerms", "1")
    try {
      val dictTerms = widx.expandTerms(
        abs(length(col("term")) - lit(3)) <= 1 &&
          levenshtein(col("term"), lit("cat"), 1).between(0, 1)).count()
      assert(dictTerms == 12, s"dict enumeration must stay uncapped: $dictTerms")
    } finally spark.conf.unset("spark.graft.levenshteinMaxTerms")
  }
}
