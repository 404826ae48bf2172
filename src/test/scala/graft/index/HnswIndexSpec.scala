package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

class HnswIndexSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def embs = Tables.embeddings(spark, TestSpark.sfDir)

  private def l2sq(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum

  test("levels are deterministic and geometrically distributed") {
    val ls = (0L until 10000L).map(HnswIndex.levelOf(_, 16))
    assert(ls == (0L until 10000L).map(HnswIndex.levelOf(_, 16)))
    val l0 = ls.count(_ == 0) / 10000.0
    assert(l0 > 0.85 && l0 < 1.0, s"P(level 0) was $l0, expected ~1-1/M")
    assert(ls.max >= 2, "some nodes must reach upper layers")
  }

  test("partitioned graph search matches exact top-k on testdata") {
    val idx = HnswIndex.build(embs, m = 16, efConstruction = 64, partitions = 2)
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val q = all.find(_._1 == 0L).get._2
    val exact = all.map { case (id, e) => (l2sq(e, q), id) }.sorted.take(10).map(_._2).toSeq
    val got = idx.knn(q, 10, ef = 128).collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"got=$got exact=$exact")
  }

  test("append builds delta partition graphs; exhaustive search stays exact") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val embs = graft.Tables.embeddings(spark, TestSpark.sfDir)
    val key = "hnsw-append-spec"
    val dir = HnswIndex.dirFor(key)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    val twoThirds = embs.filter(col("vec_id") % 3 < 2).select("vec_id", "embedding")
    val rest = embs.filter(col("vec_id") % 3 === 2).select("vec_id", "embedding")
    HnswIndex.ensure(spark, twoThirds, key)
    val (added, rebuilt) = HnswIndex.append(spark, key, rest)
    assert(added == rest.count())
    assert(!rebuilt, "a small delta must append its own partition graphs, not rebuild")
    // load fresh and verify: exhaustive (ef<=0) per-partition scan + global
    // merge is exact over the grown store
    val idx = HnswIndex.ensure(spark, sys.error("must load, not rebuild"), key)
    val q = embs.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)
    def l2sq(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val got = idx.knn(q, 10, ef = 0).collect().map(_.getLong(0)).toSeq
    val want = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), l2sq(r.getSeq[Float](1), q)))
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
    assert(got == want, "post-append exhaustive knn must equal brute force")
    // beam search over the grown store keeps high overlap with exact
    val beam = idx.knn(q, 10, ef = 128).collect().map(_.getLong(0)).toSet
    assert((beam & want.toSet).size >= 9, s"beam recall dropped: $beam vs $want")
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("appends publish delta graphs until a rebuild replaces them; exhaustive search stays exact") {
    import org.apache.spark.sql.functions._
    val key = s"hnsw-rebuild-spec-${System.nanoTime()}"
    val dir = HnswIndex.dirFor(key)
    def part(r: Int) = embs.filter(col("vec_id") % 4 === r).select("vec_id", "embedding")
    try {
      HnswIndex.ensure(spark, part(0).unionByName(part(1)), key)
      val v1 = Commit.current(spark, dir).get
      // a delta graph is a root published beside the existing ones
      assert(HnswIndex.append(spark, key, part(2)) == ((part(2).count(), false)))
      val v2 = Commit.current(spark, dir).get
      assert(v2.files.size == 2 && v1.files.forall(v2.files.contains), s"${v1.files} -> ${v2.files}")
      // three partition graphs exceed twice what the corpus needs: one
      // rebuilt graph replaces every root
      assert(HnswIndex.append(spark, key, part(3)) == ((part(3).count(), true)))
      val v3 = Commit.current(spark, dir).get
      assert(v3.files.size == 1 && !v2.files.contains(v3.files.head), s"${v2.files} -> ${v3.files}")
      val idx = HnswIndex.ensure(spark, sys.error("must load, not rebuild"), key)
      val all = embs.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1))
      assert(idx.graph.count() == all.length)
      Seq(0L, 5L, 42L).foreach { id =>
        val q = all.find(_._1 == id).get._2
        val want = all.map { case (i, e) => (l2sq(e, q), i) }.sorted.take(10).map(_._2).toSeq
        assert(idx.knn(q, 10, ef = 0).collect().map(_.getLong(0)).toSeq == want)
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("graph serialization round-trips through rows") {
    val vecs = {
      val rnd = new scala.util.Random(3)
      (0L until 200L).map(i => i -> Array.fill(8)(rnd.nextFloat()))
    }
    val g = new LocalHnsw(8, 32)
    vecs.foreach { case (id, v) => g.insert(id, v) }
    val g2 = LocalHnsw.fromRows(8, 32, g.toRows(0))
    assert(g2.entry == g.entry)
    assert(g2.maxLevel == g.maxLevel)
    val q = vecs(17)._2
    assert(g2.knnLocal(q, 5, 64) == g.knnLocal(q, 5, 64))
  }

  test("beam search touches far fewer points than the corpus on clustered data") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(32)(Array.fill(dim)(rnd.nextDouble() * 20 - 10))
    val vecs = (0 until 8000).map { i =>
      val c = centers(i % 32)
      i.toLong -> c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
    }
    val g = new LocalHnsw(16, 64)
    vecs.foreach { case (id, v) => g.insert(id, v) }
    val q = vecs.head._2
    g.distEvals = 0
    val got = g.knnLocal(q, 10, ef = 64).map(_._2)
    val probes = g.distEvals
    assert(probes < 8000 / 4, s"beam touched $probes of 8000 points — not sublinear")
    val exact = vecs.map { case (id, v) => (l2sq(v.toSeq, q.toSeq), id) }
      .sorted.take(10).map(_._2)
    assert((got.toSet & exact.toSet).size >= 9, s"recall too low: got=$got exact=$exact")
  }
}
