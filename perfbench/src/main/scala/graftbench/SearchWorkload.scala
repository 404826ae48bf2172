package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/** The search corpus as SQL: table, dictionary, hybrid inverted + IVF
  * index, and the seeded read mix with its answer checks. Shared by the
  * `search` and `ingest` workloads. */
object SearchWorkload {
  val Dict = "bdict"
  val Table = "docs"
  val Index = "docs_idx"
  val K = 10

  private val schema = StructType(Seq(StructField("pk", IntegerType, nullable = false),
    StructField("body", StringType), StructField("emb", ArrayType(FloatType, containsNull = false))))

  def frame(spark: SparkSession, c: Gen.Corpus, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.pk, c.text(d), d.emb.toSeq)), 4), schema)

  /** Bytes of user data: text, vector and key of every doc. */
  def userBytes(c: Gen.Corpus, docs: Iterable[Gen.Doc]): Long =
    docs.iterator.map(d => c.text(d).getBytes("UTF-8").length + 4L * Gen.Dim + 4L).sum

  /** Set-up statements; returns (step, ms) for each. */
  def load(spark: SparkSession, c: Gen.Corpus, docs: Seq[Gen.Doc],
      tracer: Option[Tracer]): Seq[(String, Double)] = {
    frame(spark, c, docs).createOrReplaceTempView("gen_docs")
    def step(name: String, sql: String): (String, Double) = {
      val t0 = System.nanoTime()
      tracer match {
        case Some(tr) => tr.span(name, s"setup-$name", 0L) { pid =>
          tr.groups.put(s"setup|$name", (pid, s"setup-$name"))
          spark.sparkContext.setJobGroup(s"setup|$name", name, interruptOnCancel = false)
          spark.sql(sql).collect()
        }
        case None => spark.sql(sql).collect()
      }
      spark.sparkContext.clearJobGroup()
      name -> (System.nanoTime() - t0) / 1e6
    }
    Seq(
      step("catalog.create", s"CREATE TABLE $Table(pk INTEGER PRIMARY KEY, body VARCHAR, emb FLOAT[${Gen.Dim}])"),
      step("catalog.insert", s"INSERT INTO $Table SELECT pk, body, emb FROM gen_docs"),
      step("analysis.dictionary", s"CREATE TEXT SEARCH DICTIONARY $Dict (template = 'text', " +
        "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)"),
      step("index.build", s"CREATE INDEX $Index ON $Table USING inverted(pk, body $Dict, emb ivf (metric = 'l2'))"))
  }

  def vecSql(v: Array[Float]): String =
    v.map(x => java.math.BigDecimal.valueOf(x.toDouble).setScale(4, java.math.RoundingMode.HALF_UP)
      .toPlainString).mkString("[", ",", s"]::FLOAT[${Gen.Dim}]")

  /** True when the optimizer claimed the statement into an index drive:
    * no search stub (text match, scorer, vector distance) is left for
    * row-at-a-time evaluation. */
  def claimed(plan: LogicalPlan): Boolean = {
    val s = plan.toString
    !(s.contains("ts_match(") || s.contains("bm25(") || s.contains("ann_l2("))
  }

  /** plans.claim_ratio over the traced search statements (all but point
    * lookups), with a report line naming unclaimed kinds. */
  def claims(outs: Seq[Outcome]): (Metric, String) = {
    val search = outs.filter(o => o.traced && o.read && o.kind != "pk")
    val unclaimed = search.filterNot(_.claimed.contains(true))
    val byKind = unclaimed.groupBy(_.kind).map { case (k, v) => s"$k=${v.size}" }
    (Metric("plans.claim_ratio", (search.size - unclaimed.size).toDouble / math.max(1, search.size), "ratio"),
      s"claims: ${search.size - unclaimed.size} of ${search.size} traced search statements claimed; " +
        s"unclaimed by kind: ${if (unclaimed.isEmpty) "none" else byKind.mkString(" ")}")
  }

  /** Collects recall@10 of the k-NN and hybrid answers. */
  final class Recall {
    private val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def add(r: Double): Unit = synchronized(xs += r)
    def values: Seq[Double] = synchronized(xs.toSeq)
  }

  /** The read mix for one client, as an endless stream of blocks. A block
    * is one statement of each shape — bm25 top-k, ts_match count, k-NN,
    * hybrid, point lookup — so fts (top-k and counts) is 40% and the other
    * kinds 20% each. The order within a block (rotated per client, so the
    * clients' heavy statements do not line up), the top-k term count and
    * limit and the count's operator follow the client and block number
    * alone: a run that measures whole blocks sends the same statement
    * shapes in the same order on every seed, and the seed picks terms,
    * vectors and ids. `refs` is called when a statement is drawn and
    * returns the check-time source of acceptable reference states (one
    * state for a read-only corpus). Phrases, query vectors and point
    * lookups draw from `source`, docs that stay live. */
  final class Mix(c: Gen.Corpus, r: SplittableRandom, refs: () => () => Seq[Reference],
      source: IndexedSeq[Gen.Doc], recall: Recall, client: Int) extends Iterator[Seq[Stmt]] {
    private val shapes = Seq("topk", "count", "knn", "hybrid", "pk")
    private var blocks = 0

    def hasNext = true

    def next(): Seq[Stmt] = {
      val cycle = client + blocks
      blocks += 1
      val rot = (2 * client) % shapes.size
      (shapes.drop(rot) ++ shapes.take(rot)).map { shape =>
        val win = refs()
        (shape match {
          case "topk" => topK(win, 1 + cycle % 3, if (cycle % 2 == 0) 10 else 100)
          case "count" => count(win, Seq("and", "or", "phrase")(cycle % 3))
          case "knn" => knn(win)
          case "hybrid" => hybrid(win)
          case _ => pk()
        }).copy(slot = shapes.indexOf(shape))
      }
    }

    private def terms(n: Int): Seq[Int] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (out.size < n) out += c.zipf.sample(r)
      out.toSeq
    }
    private def w(t: Int) = c.vocab(t)
    /** One term as text; several as nested binary ts_or / ts_and. */
    private def tsq(ts: Seq[Int], op: String): String =
      if (ts.size == 1) s"'${w(ts.head)}'"
      else ts.map(t => s"ts_phrase('${w(t)}')").reduceRight((a, b) => s"ts_$op($a, $b)")
    private def pks(rows: Array[Row]): Seq[Int] = rows.toSeq.map(_.get(0).asInstanceOf[Number].intValue)
    private def anyOk(win: () => Seq[Reference])(f: Reference => Option[String]): Option[String] = {
      val errs = win().map(f)
      if (errs.exists(_.isEmpty)) None else errs.headOption.flatten.orElse(Some("no reference state"))
    }

    private def topK(win: () => Seq[Reference], nTerms: Int, k: Int): Stmt = {
      val ts = terms(nTerms)
      val sql = s"SELECT pk FROM $Index WHERE ts_match(body, ${tsq(ts, "or")}, '$Dict') " +
        s"ORDER BY bm25(body, '${ts.map(w).mkString(" ")}', '$Dict') DESC LIMIT $k"
      Stmt("fts", read = true, sql, rows => anyOk(win) { ref =>
        val got = pks(rows)
        val want = ref.bm25TopK(ts, k)
        if (got.size != want.size) Some(s"bm25 top-$k: ${got.size} rows, want ${want.size}")
        else if (got.distinct.size != got.size) Some("bm25: duplicate rows")
        else got.zip(want).zipWithIndex.collectFirst {
          case ((g, (wp, ws)), pos) if !ref.byPk.contains(g) ||
              math.abs(ref.bm25(ts, g) - ws) > 1e-9 * math.max(1.0, ws) =>
            s"bm25 rank $pos: got pk $g, want pk $wp (score $ws)"
        }
      })
    }

    private def count(win: () => Seq[Reference], op: String): Stmt = {
      val (q, want): (String, Reference => Int) = op match {
        case "phrase" =>
          // two adjacent tokens of a live doc, so the phrase occurs
          val d = source(r.nextInt(source.size))
          val p = r.nextInt(d.tokens.length - 1)
          val ts = Seq(d.tokens(p), d.tokens(p + 1))
          (s"ts_phrase('${ts.map(w).mkString(" ")}')", ref => ref.phrase(ts).size)
        case "and" => val ts = terms(2); (tsq(ts, "and"), ref => ref.allOf(ts).size)
        case _ => val ts = terms(2); (tsq(ts, "or"), ref => ref.anyOf(ts).size)
      }
      val sql = s"SELECT count(*) AS n FROM $Index WHERE ts_match(body, $q, '$Dict')"
      Stmt("fts", read = true, sql, rows => anyOk(win) { ref =>
        val got = rows.head.getLong(0)
        if (got == want(ref)) None else Some(s"ts_match $op count $got, want ${want(ref)}")
      })
    }

    private def queryVector(): Array[Float] =
      c.queryVector(source(r.nextInt(source.size)).emb, r)

    private def knn(win: () => Seq[Reference]): Stmt = {
      val q = queryVector()
      val sql = s"SELECT pk FROM $Index ORDER BY emb <-> ${vecSql(q)} LIMIT $K"
      Stmt("knn", read = true, sql, rows => {
        val got = pks(rows)
        var best = -1.0
        val res = anyOk(win) { ref =>
          if (got.size != math.min(K, ref.numDocs)) Some(s"knn: ${got.size} rows")
          else if (got.distinct.size != got.size || !got.forall(ref.byPk.contains)) Some("knn: unknown or duplicate pk")
          else { best = math.max(best, ref.knn(q, K).intersect(got).size.toDouble / K); None }
        }
        if (res.isEmpty) recall.add(best)
        res
      })
    }

    private def hybrid(win: () => Seq[Reference]): Stmt = {
      val t = c.zipf.sample(r)
      val q = queryVector()
      val sql = s"SELECT pk FROM $Index WHERE ts_match(body, '${w(t)}', '$Dict') " +
        s"ORDER BY emb <-> ${vecSql(q)} LIMIT $K"
      Stmt("hybrid", read = true, sql, rows => {
        val got = pks(rows)
        var best = -1.0
        val res = anyOk(win) { ref =>
          val m = ref.docsWith(t)
          if (got.size != math.min(K, m.size)) Some(s"hybrid: ${got.size} rows, want ${math.min(K, m.size)}")
          else if (got.distinct.size != got.size || !got.forall(m.contains)) Some("hybrid: row outside the text match")
          else {
            if (m.nonEmpty) best = math.max(best,
              ref.knn(q, K, Some(m)).intersect(got).size.toDouble / math.min(K, m.size))
            None
          }
        }
        if (res.isEmpty && best >= 0) recall.add(best)
        res
      })
    }

    private def pk(): Stmt = {
      val d = source(r.nextInt(source.size))
      val id = d.pk
      val sql = s"SELECT pk, body FROM $Table WHERE pk = $id"
      val want = c.text(d)
      Stmt("pk", read = true, sql, rows =>
        if (rows.length == 1 && rows(0).getInt(0) == id && rows(0).getString(1) == want) None
        else Some(s"pk $id: ${rows.length} rows"))
    }
  }
}
