package graft.search

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.analysis.AnalyzerRegistry
import graft.index.{IndexLeaf, IndexStore}

/** Every term-bag scorer's claimed SQL answer, and bm25's and tfidf's
  * scores of random structured TSQUERY trees, equal a brute-force
  * evaluation of the formula over a row-eval copy of the table (the rows
  * collected to the driver and tokenized with the same dictionary, trees
  * matched with [[TsQueryExec.evalTokens]]). The index has two segments and
  * a live tombstone, so the scores also check that collection statistics
  * sum across segments and leave deleted docs out. */
class ScorerParitySpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)
  private val tbl = s"sp_docs_$tag"
  private val idx = s"sp_idx_$tag"
  private val dict = s"sp_dict_$tag"

  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo")
  // repeated words give tf > 1; doc lengths vary from 3 to 8 tokens
  private def body(pk: Int): String =
    (Seq(words(pk % 5), words(pk % 3), words(pk / 2 % 5)) ++
      Seq.fill(pk % 4)(words(pk % 2)) ++ Seq(s"w$pk")).mkString(" ")

  private def run(sql: String): Array[Row] = spark.sql(sql).collect()

  private def insert(pks: Range): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(
        pks.map(p => Row(p, body(p))), 2),
      StructType(Seq(StructField("pk", IntegerType), StructField("body", StringType))))
      .createOrReplaceTempView(s"${tbl}_src")
    run(s"INSERT INTO $tbl SELECT pk, body FROM ${tbl}_src")
  }

  private var segDir: String = _

  private lazy val ready: Unit = {
    SqlSurface.registerAll(spark)
    graft.catalog.CatalogDdl.registerFunctions(spark)
    run(s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    run(s"CREATE TABLE $tbl(pk INTEGER PRIMARY KEY, body VARCHAR)")
    insert(1 to 30)
    run(s"CREATE INDEX $idx ON $tbl USING inverted(pk, body $dict)")
    insert(31 to 45)
    run(s"VACUUM (REFRESH_TABLE) $tbl")
    run(s"DELETE FROM $tbl WHERE pk IN (5, 12, 33)")
    run(s"VACUUM (REFRESH_TABLE) $tbl")
    segDir = IndexCatalog.textKeys.collectFirst {
      case (root, "body", `dict`) => IndexCatalog.lookupText(root, "body", dict).get.segDir
    }.get
    assert(IndexStore.listSegments(spark, segDir).size >= 2, "two segments")
    assert(IndexStore.hasDeletes(spark, segDir), "a live tombstone")
  }

  /** The live rows, `pk -> tokens`. */
  private def liveDocs(): Map[Int, Seq[String]] = {
    val analyzer = AnalyzerRegistry.get(dict)
    run(s"SELECT pk, body FROM $tbl").map(r =>
      r.getInt(0) -> analyzer.tokens(r.getString(1))).toMap
  }

  /** `part(toks, t)`: term `t`'s partial score in a doc of tokens `toks`
    * under a scorer's formula; a term the doc lacks reads tf 0 and the
    * scorers' default df/ctf. */
  private def partial(docs: Map[Int, Seq[String]], scorer: String,
      params: Seq[Any]): (Seq[String], String) => Double = {
    val n = docs.size.toDouble
    val sumDl = docs.values.map(_.size).sum.toDouble
    val avgDl = sumDl / n
    val df = scala.collection.mutable.Map.empty[String, Double]
    val ctf = scala.collection.mutable.Map.empty[String, Double]
    def num(i: Int, d: Double) = params.lift(i).fold(d)(_.asInstanceOf[Number].doubleValue)
    def ln(x: Double) = StrictMath.log(x)
    (toks, t) => {
      val dl = toks.size.toDouble
      val dfT0 = df.getOrElseUpdate(t, docs.values.count(_.contains(t)).toDouble)
      val ctfT = ctf.getOrElseUpdate(t, docs.values.map(_.count(_ == t)).sum.toDouble)
      val tf = toks.count(_ == t).toDouble
      val has = tf > 0
      scorer match {
        case "bm25" =>
          val (k1, b) = (num(0, 1.2), num(1, 0.75))
          val dfT = if (has) dfT0 else 1.0
          val idf = ln(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
          idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgDl))
        case "tfidf" =>
          val dfT = if (has) dfT0 else 1.0
          val base = math.sqrt(tf) * ln(1.0 + (n + 1.0) / (dfT + 1.0))
          if (params.headOption.contains(true)) base / math.sqrt(dl) else base
        case "lm_dirichlet" =>
          val mu = num(0, 2000.0)
          val c = if (has) ctfT else 1.0
          math.max(ln(1.0 + tf / (mu * (c / sumDl))) + ln(mu / (dl + mu)), 0.0)
        case "lm_jm" =>
          val lambda = num(0, 0.1)
          val c = if (has) ctfT else 1.0
          ln(1.0 + ((1.0 - lambda) * tf / dl) / (lambda * (c / sumDl)))
        case "indri_dirichlet" =>
          val mu = num(0, 2000.0)
          val c = if (ctfT > 0) ctfT else 1.0
          ln((tf + mu * (c / sumDl)) / (dl + mu))
        case "dfi" =>
          val c = if (has) ctfT else 0.0
          val e = dl * ((c + 1.0) / (sumDl + 1.0))
          if (tf > e) ln((tf - e) / math.sqrt(e) + 1.0) / ln(2.0) else 0.0
        case "raw_tf" => tf
      }
    }
  }

  /** `pk -> score` from the brute-force formula, matched docs only. */
  private def brute(scorer: String, params: Seq[Any], terms: Seq[String]): Map[Int, Double] = {
    val docs = liveDocs()
    val part0 = partial(docs, scorer, params)
    docs.toSeq.flatMap { case (pk, toks) =>
      val dl = toks.size.toDouble
      def part(t: String): Double = part0(toks, t)
      if (!terms.exists(toks.contains)) None
      else {
        val s = scorer match {
          case "raw_dl" => dl
          case "raw_boost" => 1.0
          case _ => terms.map(part).reduce(_ + _)
        }
        val positiveOnly = Set("bm25", "tfidf", "lm_jm", "dfi")(scorer)
        if (positiveOnly && !(s > 0.0)) None else Some(pk -> s)
      }
    }.toMap
  }

  // a repeated term and a term no doc holds, so the query-order sum and the
  // absent-term defaults are both exercised
  private val query = "alpha bravo alpha zulu"
  private val terms = Seq("alpha", "bravo", "alpha", "zulu")
  private val cases: Seq[(String, Seq[Any])] = Seq(
    "bm25" -> Nil, "bm25" -> Seq(0.9, 0.4), "tfidf" -> Nil, "tfidf" -> Seq(true),
    "lm_dirichlet" -> Nil, "lm_dirichlet" -> Seq(50.0), "lm_jm" -> Seq(0.3),
    "indri_dirichlet" -> Nil, "dfi" -> Nil, "raw_tf" -> Nil, "raw_dl" -> Nil,
    "raw_boost" -> Nil)

  test("every term-bag scorer's claimed scores equal the brute-force formula") {
    ready
    cases.foreach { case (scorer, params) =>
      val args = params.map {
        case b: Boolean => b.toString
        case d: Double => d.toString
      }.map(", " + _).mkString
      val sql = s"SELECT pk, $scorer(body, '$query', '$dict'$args) AS s FROM $idx " +
        "ORDER BY s DESC LIMIT 1000"
      val df = spark.sql(sql)
      assert(!df.queryExecution.optimizedPlan.toString.contains(s"$scorer("),
        s"$scorer$args must be claimed")
      val got = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val want = brute(scorer, params, terms)
      assert(want.nonEmpty)
      assert(got.keySet == want.keySet, s"$scorer$args: matched docs")
      want.foreach { case (pk, w) =>
        assert(math.abs(got(pk) - w) <= 1e-12 * math.max(1.0, math.abs(w)),
          s"$scorer$args: pk $pk scored ${got(pk)}, formula gives $w")
      }
    }
  }

  test("a SELECT-list score reads 0 for a row the scorer does not match") {
    ready
    // constant and length scores are non-nullable expressions: the outer
    // join to the scored docs must still null them for unmatched rows
    Seq(s"raw_boost(body, 'bravo', '$dict')", s"raw_dl(body, 'bravo', '$dict')",
        s"bm25(body, ts_ngram('bravo', 0.5), '$dict')").foreach { sc =>
      val rows = run(s"SELECT pk, $sc AS s FROM $tbl WHERE ts_match(body, 'alpha', '$dict')")
      val want = liveDocs().filter(_._2.contains("alpha"))
      assert(rows.map(_.getInt(0)).toSet == want.keySet, sc)
      rows.foreach { r =>
        val matched = want(r.getInt(0)).contains("bravo")
        assert(!r.isNullAt(1) && (r.getDouble(1) > 0.0) == matched, s"$sc: $r")
      }
    }
  }

  // ---- structured trees ----------------------------------------------------

  /** A random tree over the corpus' words: every node kind the scorer tree
    * handles, `depth` levels of Boost/Or/And(+Not) over the leaves. */
  private def tree(r: scala.util.Random, depth: Int): TsQuery = {
    def word = words(r.nextInt(words.size))
    def pick[T](xs: T*): T = xs(r.nextInt(xs.size))
    def leaf: TsQuery = r.nextInt(12) match {
      case 0 => TsQuery.Term(pick(word, s"w${1 + r.nextInt(45)}"))
      case 1 => TsQuery.Phrase(Seq(word, word))
      case 2 => TsQuery.SlopPhrase(Seq(word, word, word), 1 + r.nextInt(3))
      case 3 => TsQuery.PhraseGap(Seq(word, word), Seq((1, 1 + r.nextInt(3))))
      case 4 => TsQuery.Prefix(pick(word.take(1 + r.nextInt(2)), "w1", "w"))
      case 5 => TsQuery.Wildcard(pick(s"%${word.charAt(1)}%", "w_", s"${word.head}%a"))
      case 6 => TsQuery.Regexp(pick("^[bc]", "ar", "l.h", "^w[24]"))
      case 7 => TsQuery.TermRange(Some(pick("b", "charlie", "w2")), Some(pick("delta", "w3")),
        r.nextBoolean(), r.nextBoolean())
      case 8 => pick(TsQuery.TermRange(Some(pick("c", "w1")), None, r.nextBoolean(), false),
        TsQuery.TermRange(None, Some(pick("d", "echo")), false, r.nextBoolean()))
      case 9 => TsQuery.Fuzzy(pick("alpho", "w12", "brovo", "w3"), 1 + r.nextInt(2),
        r.nextBoolean())
      case 10 => TsQuery.Fuzzy(pick("pha", "1"), 1, prefix = pick("al", "w"))
      case _ => TsQuery.NgramSim(word, pick(0.3, 0.5))
    }
    if (depth == 0) leaf
    else r.nextInt(4) match {
      case 0 => TsQuery.Boost(tree(r, depth - 1), pick(0.5, 2.0, 3.5))
      case 1 => TsQuery.Or(Seq.fill(2 + r.nextInt(2))(tree(r, depth - 1)))
      case 2 => TsQuery.And(Seq.fill(1 + r.nextInt(2))(tree(r, depth - 1)) ++
        Seq.fill(r.nextInt(2))(TsQuery.Not(tree(r, depth - 1))))
      case _ => leaf
    }
  }

  /** `q`'s `pk -> score` from the brute force: the per-term formula over
    * [[TsQueryExec.evalTokens]]' matches, with the tree's merges —
    * multi-term leaves sum their live dictionary terms' contributions in
    * term byte order (fuzzy: the max of similarity × contribution over its
    * `cap` most similar live terms), phrases sum their distinct terms,
    * n-grams score 1, OR sums over the union, AND over the intersection. */
  private def bruteTree(scorer: String, params: Seq[Any], q: TsQuery,
      cap: Int): Map[Int, Double] = {
    val docs = liveDocs()
    val part = partial(docs, scorer, params)
    val dictTerms = docs.values.flatten.toSeq.distinct
    def bytes(a: String, b: String) =
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0
    def eval(q: TsQuery, toks: Seq[String]): Option[Double] = q match {
      case TsQuery.Boost(inner, w) => eval(inner, toks).map(_ * w)
      case TsQuery.Term(t) => Some(part(toks, t)).filter(_ > 0 && toks.contains(t))
      case TsQuery.Phrase(ts) => phrase(q, ts, toks)
      case TsQuery.SlopPhrase(ts, _) => phrase(q, ts, toks)
      case TsQuery.PhraseGap(ts, _) => phrase(q, ts, toks)
      case f: TsQuery.Fuzzy =>
        val live = dictTerms.filter(t => TermPredicates(f)(UTF8String.fromString(t)))
        val sim = live.map(t => t -> TermPredicates.fuzzySimilarity(f, UTF8String.fromString(t))).toMap
        val kept = if (cap <= 0) live
          else live.sortWith((a, b) => if (sim(a) != sim(b)) sim(a) > sim(b) else bytes(a, b)).take(cap)
        val cs = kept.filter(toks.contains).map(t => part(toks, t) * sim(t))
        if (cs.isEmpty) None else Some(cs.max)
      case e @ (_: TsQuery.Prefix | _: TsQuery.Wildcard | _: TsQuery.Regexp | _: TsQuery.TermRange) =>
        val p = TermPredicates(e)
        val cs = toks.distinct.filter(t => p(UTF8String.fromString(t)))
          .map(t => (t, part(toks, t) * 1.0))
          .sortWith((a, b) => if (a._1 != b._1) bytes(a._1, b._1) else a._2 < b._2)
        Some(cs.foldLeft(0.0)(_ + _._2)).filter(_ > 0)
      case TsQuery.Or(qs) if qs.nonEmpty =>
        qs.map(eval(_, toks)).reduce { (a, b) =>
          if (a.isEmpty && b.isEmpty) None else Some(a.getOrElse(0.0) + b.getOrElse(0.0))
        }
      case TsQuery.And(qs) if qs.nonEmpty =>
        val (negs, poss) = qs.partition(_.isInstanceOf[TsQuery.Not])
        val pos = poss.map(eval(_, toks)).reduce((a, b) => for (x <- a; y <- b) yield x + y)
        pos.filter(_ => negs.forall(TsQueryExec.evalTokens(_, toks)))
      case other => if (TsQueryExec.evalTokens(other, toks)) Some(1.0) else None
    }
    def phrase(q: TsQuery, ts: Seq[String], toks: Seq[String]): Option[Double] =
      if (!TsQueryExec.evalTokens(q, toks)) None
      else Some(ts.distinct.map(part(toks, _)).reduce(_ + _)).filter(_ > 0)
    docs.flatMap { case (pk, toks) => eval(q, toks).map(pk -> _) }
  }

  /** `q` as a TSQUERY-constructor string, or None when the constructors
    * cannot spell a node of it (a phrase gap, a two-sided range with an
    * exclusive bound). */
  private def encode(q: TsQuery): Option[String] = q match {
    case TsQuery.Term(t) => Some(t)
    case TsQuery.Phrase(ts) => Some(TsQueryCodec.phrase(ts.mkString(" ")))
    case TsQuery.SlopPhrase(ts, n) => Some(TsQueryCodec.slop(TsQueryCodec.phrase(ts.mkString(" ")), n))
    case TsQuery.Prefix(p) => Some(TsQueryCodec.startsWith(p))
    case TsQuery.Wildcard(p) => Some(TsQueryCodec.like(p))
    case TsQuery.Regexp(p) => Some(TsQueryCodec.regexp(p))
    case TsQuery.TermRange(Some(lo), Some(hi), true, true) => Some(TsQueryCodec.between(lo, hi))
    case TsQuery.TermRange(Some(lo), None, inc, _) => Some(TsQueryCodec.cmp(if (inc) "ge" else "gt", lo))
    case TsQuery.TermRange(None, Some(hi), _, inc) => Some(TsQueryCodec.cmp(if (inc) "le" else "lt", hi))
    case TsQuery.Fuzzy(t, d, tr, p) => Some(TsQueryCodec.levenshtein(t, d, tr, p))
    case TsQuery.NgramSim(s, j, 3) => Some(TsQueryCodec.ngram(s, j))
    case TsQuery.Boost(inner, w) => encode(inner).map(TsQueryCodec.boost(_, w))
    case TsQuery.Not(inner) => encode(inner).map(TsQueryCodec.not)
    case TsQuery.Or(qs) if qs.nonEmpty =>
      qs.map(encode).reduce((a, b) => for (x <- a; y <- b) yield TsQueryCodec.or(x, y))
    // a left fold keeps a positive first child in every nested conjunction
    case TsQuery.And(qs) if qs.nonEmpty =>
      qs.map(encode).reduce((a, b) => for (x <- a; y <- b) yield TsQueryCodec.and(x, y))
    case _ => None
  }

  private def assertScores(label: String, got: Map[Int, Double], want: Map[Int, Double]): Unit = {
    assert(got.keySet == want.keySet, s"$label: matched docs")
    want.foreach { case (pk, w) =>
      assert(math.abs(got(pk) - w) <= 1e-12 * math.max(1.0, math.abs(w)),
        s"$label: pk $pk scored ${got(pk)}, brute force gives $w")
    }
  }

  /** Whether every leaf of `plan` is an index leaf relation. */
  private def indexLeavesOnly(plan: LogicalPlan): Boolean = plan.collectLeaves().forall {
    case lr: LogicalRelation => lr.relation.isInstanceOf[IndexLeaf]
    case _ => false
  }

  test("random structured trees score as plan nodes over the index leaves, equal to the brute force") {
    ready
    val r = new scala.util.Random(20261018L)
    val trees = Seq.fill(24)(tree(r, 2)) ++ Seq.fill(6)(tree(r, 0))
    val variants: Seq[(String, Seq[Any])] =
      Seq("bm25" -> Nil, "bm25" -> Seq(0.9, 0.4), "tfidf" -> Nil, "tfidf" -> Seq(true))
    val analyzer = AnalyzerRegistry.get(dict)
    val index = IndexStore.load(spark, segDir)
    var claimedSql = 0
    try {
      trees.zipWithIndex.foreach { case (q0, i) =>
        val cap = if (i % 2 == 0) 2 else 64
        spark.conf.set("spark.graft.levenshteinMaxTerms", cap.toString)
        // the claim sees the tree its constructor string decodes to
        val enc = encode(q0)
        val q = enc.map(TsQueryCodec.decode(_, analyzer)).getOrElse(q0)
        variants.foreach { case (scorer, params) =>
          val label = s"$scorer${params.mkString("(", ",", ")")} cap $cap $q"
          val want = bruteTree(scorer, params, q, cap)
          val (df, planJobs) = graft.RefreshJobCount.jobsIn(spark, "tree-plan") {
            val df = Frames.ofRows(spark, TsQueryExec.scoredPlan(index, scorer, q, params))
            df.queryExecution.executedPlan
            df
          }
          assert(planJobs == 0, s"$label: planning ran $planJobs Spark jobs")
          assert(indexLeavesOnly(df.queryExecution.optimizedPlan),
            s"$label: a relation other than an index leaf\n${df.queryExecution.optimizedPlan}")
          assertScores(label, df.collect().map(r => r.get(0).asInstanceOf[Number].intValue ->
            r.getDouble(1)).toMap, want)
          // the claimed top-k of the constructor string: the same scores
          enc.foreach { e =>
            val (sql, sqlJobs) = graft.RefreshJobCount.jobsIn(spark, "tree-claim") {
              val sql = spark.table(tbl).select(col("pk"),
                call_function(scorer, (Seq(col("body"), lit(e), lit(dict)) ++ params.map(lit)): _*)
                  .as("s")).orderBy(col("s").desc).limit(1000)
              sql.queryExecution.executedPlan
              sql
            }
            val plan = sql.queryExecution.optimizedPlan
            assert(!plan.toString.contains(s"$scorer("), s"$label must be claimed\n$plan")
            assert(sqlJobs == 0, s"$label: the claim planned with $sqlJobs Spark jobs")
            assert(!plan.exists {
              case lr: LogicalRelation => lr.relation match {
                case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains(segDir))
                case _ => false
              }
              case _ => false
            }, s"$label: the claim reads the index through a file relation\n$plan")
            assertScores(s"claimed $label", sql.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap,
              want)
            claimedSql += 1
          }
        }
      }
    } finally spark.conf.set("spark.graft.levenshteinMaxTerms", "64")
    assert(claimedSql >= 40, s"only $claimedSql claimed trees")
  }
}
