package graftbench

import scala.collection.mutable

/** Brute-force answers over a snapshot of the generated corpus: standard
  * BM25 (k1=1.2, b=0.75, Lucene idf) top-k with a doc-id tie-break, exact
  * match counts, and exact L2 k-NN. Terms are vocabulary ranks. */
final class Reference(docs: Iterable[Gen.Doc]) {
  val K1 = 1.2
  val B = 0.75

  val byPk: Map[Int, Gen.Doc] = docs.map(d => d.pk -> d).toMap
  private val all: Array[Gen.Doc] = byPk.values.toArray.sortBy(_.pk)
  val numDocs: Int = all.length
  val avgDl: Double = if (numDocs == 0) 0.0 else all.map(_.tokens.length.toLong).sum.toDouble / numDocs

  /** term -> (pk -> tf) */
  private val postings: mutable.HashMap[Int, mutable.HashMap[Int, Int]] = {
    val m = mutable.HashMap.empty[Int, mutable.HashMap[Int, Int]]
    all.foreach { d =>
      d.tokens.foreach { t =>
        val p = m.getOrElseUpdate(t, mutable.HashMap.empty[Int, Int])
        p.update(d.pk, p.getOrElse(d.pk, 0) + 1)
      }
    }
    m
  }

  def df(t: Int): Int = postings.get(t).map(_.size).getOrElse(0)
  def docsWith(t: Int): Set[Int] = postings.get(t).map(_.keySet.toSet).getOrElse(Set.empty)

  def anyOf(ts: Seq[Int]): Set[Int] = ts.map(docsWith).foldLeft(Set.empty[Int])(_ ++ _)
  def allOf(ts: Seq[Int]): Set[Int] = ts.map(docsWith).reduce(_ intersect _)

  /** Docs holding `ts` at consecutive positions. */
  def phrase(ts: Seq[Int]): Set[Int] =
    allOf(ts).filter { pk =>
      val tok = byPk(pk).tokens
      (0 to tok.length - ts.length).exists(i => ts.indices.forall(j => tok(i + j) == ts(j)))
    }

  def bm25(ts: Seq[Int], pk: Int): Double = {
    val dl = byPk(pk).tokens.length.toDouble
    ts.map { t =>
      val tf = postings.get(t).flatMap(_.get(pk)).getOrElse(0).toDouble
      if (tf == 0) 0.0
      else {
        val dfT = df(t).toDouble
        val idf = math.log(1.0 + (numDocs - dfT + 0.5) / (dfT + 0.5))
        idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgDl))
      }
    }.sum
  }

  /** Top-k of the docs matching any term, by score desc then pk asc. */
  def bm25TopK(ts: Seq[Int], k: Int): Seq[(Int, Double)] =
    anyOf(ts).toSeq.map(pk => pk -> bm25(ts, pk)).filter(_._2 > 0)
      .sortBy { case (pk, s) => (-s, pk) }.take(k)

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Exact k nearest pks by L2, optionally among `among` only. */
  def knn(q: Array[Float], k: Int, among: Option[Set[Int]] = None): Seq[Int] = {
    val pool = among.map(s => all.filter(d => s.contains(d.pk))).getOrElse(all)
    pool.map(d => (l2(q, d.emb), d.pk)).sortBy(identity).take(k).map(_._2).toSeq
  }
}
