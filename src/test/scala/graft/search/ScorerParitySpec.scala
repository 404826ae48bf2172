package graft.search

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.analysis.AnalyzerRegistry
import graft.index.IndexStore

/** Every term-bag scorer's claimed SQL answer equals a brute-force
  * evaluation of its formula over a row-eval copy of the table (the rows
  * collected to the driver and tokenized with the same dictionary). The
  * index has two segments and a live tombstone, so the scores also check
  * that collection statistics sum across segments and leave deleted docs
  * out. */
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
    val segDir = IndexCatalog.textKeys.collectFirst {
      case (root, "body", `dict`) => IndexCatalog.lookupText(root, "body", dict).get.segDir
    }.get
    assert(IndexStore.listSegments(spark, segDir).size >= 2, "two segments")
    assert(IndexStore.hasDeletes(spark, segDir), "a live tombstone")
  }

  /** `pk -> score` from the brute-force formula, matched docs only. */
  private def brute(scorer: String, params: Seq[Any], terms: Seq[String]): Map[Int, Double] = {
    val analyzer = AnalyzerRegistry.get(dict)
    val docs = run(s"SELECT pk, body FROM $tbl").map(r =>
      r.getInt(0) -> analyzer.tokens(r.getString(1))).toMap
    val n = docs.size.toDouble
    val sumDl = docs.values.map(_.size).sum.toDouble
    val avgDl = sumDl / n
    val df = terms.map(t => t -> docs.values.count(_.contains(t)).toDouble).toMap
    val ctf = terms.map(t => t -> docs.values.map(_.count(_ == t)).sum.toDouble).toMap
    def num(i: Int, d: Double) = params.lift(i).fold(d)(_.asInstanceOf[Number].doubleValue)
    def ln(x: Double) = StrictMath.log(x)
    docs.toSeq.flatMap { case (pk, toks) =>
      val dl = toks.size.toDouble
      // a term the doc lacks reads tf 0 and the scorers' default df/ctf
      def part(t: String): Double = {
        val tf = toks.count(_ == t).toDouble
        val has = tf > 0
        scorer match {
          case "bm25" =>
            val (k1, b) = (num(0, 1.2), num(1, 0.75))
            val dfT = if (has) df(t) else 1.0
            val idf = ln(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
            idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgDl))
          case "tfidf" =>
            val dfT = if (has) df(t) else 1.0
            val base = math.sqrt(tf) * ln(1.0 + (n + 1.0) / (dfT + 1.0))
            if (params.headOption.contains(true)) base / math.sqrt(dl) else base
          case "lm_dirichlet" =>
            val mu = num(0, 2000.0)
            val c = if (has) ctf(t) else 1.0
            math.max(ln(1.0 + tf / (mu * (c / sumDl))) + ln(mu / (dl + mu)), 0.0)
          case "lm_jm" =>
            val lambda = num(0, 0.1)
            val c = if (has) ctf(t) else 1.0
            ln(1.0 + ((1.0 - lambda) * tf / dl) / (lambda * (c / sumDl)))
          case "indri_dirichlet" =>
            val mu = num(0, 2000.0)
            val c = if (ctf(t) > 0) ctf(t) else 1.0
            ln((tf + mu * (c / sumDl)) / (dl + mu))
          case "dfi" =>
            val c = if (has) ctf(t) else 0.0
            val e = dl * ((c + 1.0) / (sumDl + 1.0))
            if (tf > e) ln((tf - e) / math.sqrt(e) + 1.0) / ln(2.0) else 0.0
          case "raw_tf" => tf
        }
      }
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
}
