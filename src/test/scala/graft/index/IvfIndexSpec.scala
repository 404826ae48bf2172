package graft.index

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}

@graft.SlowTest
class IvfIndexSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def embs = Tables.embeddings(spark, TestSpark.sfDir)

  private def l2sq(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum

  test("auto list count is ~sqrt(N)") {
    assert(IvfIndex.autoK(500) == 23)
    assert(IvfIndex.autoK(1000000) == 1000)
    assert(IvfIndex.autoK(10) == 4)
  }

  test("probe selection is pure driver math — no Spark job") {
    val idx = IvfIndex.build(embs)
    val q = embs.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      idx.ballProbes(q, 10)
      idx.knn(q, 10).queryExecution.optimizedPlan // plan, don't execute
      Thread.sleep(500) // listener bus is async; zero-event check needs a beat
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(counter.get == 0,
      s"ballProbes/knn planning must not run Spark jobs, saw ${counter.get}")
  }

  test("append assigns to existing centroids and the ball probe stays EXACT") {
    val dirKey = "ivf-append-spec"
    val dir = IvfIndex.dirFor(dirKey)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    val twoThirds = embs.filter(col("vec_id") % 3 < 2).select("vec_id", "embedding")
    val rest = embs.filter(col("vec_id") % 3 === 2).select("vec_id", "embedding")
    val before = IvfIndex.ensure(spark, twoThirds, dirKey)
    val nLists = before.numLists
    // append the last third (1.5x trained = the drift boundary, inclusive):
    // no retrain, radii/sizes merged
    val (added, reclustered) = IvfIndex.append(spark, dir, rest)
    assert(added == rest.count())
    assert(!reclustered, "a <=1.5x growth must append, not re-cluster")
    val after = IvfIndex.ensure(spark, sys.error("must load, not rebuild"), dirKey)
    assert(after.numLists == nLists, "centroids unchanged by append")
    assert(after.sizes.sum == embs.count(), "sizes must cover appended vectors")
    // the exact-by-construction ball probe must still be exact: merged radii
    // cover the appended points
    val q = embs.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val got = after.knn(q, 10).collect().map(_.getLong(0)).toSeq
    val want = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), l2sq(r.getSeq[Float](1), q)))
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
    assert(got == want, "post-append claimed knn must equal brute force")
    // idempotent: appending the same ids again is a no-op
    assert(IvfIndex.append(spark, dir,
      rest.join(IvfIndex.loadFrom(spark, dir).assignments.select("vec_id"),
        Seq("vec_id"), "left_anti"))._1 == 0)

    // drift: tripling the trained volume re-clusters at the new autoK
    val big = embs.select(
      (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      .union(embs.select((col("vec_id") + 2000000).as("vec_id"), col("embedding")))
    val (added2, reclustered2) = IvfIndex.append(spark, dir, big)
    assert(added2 == big.count())
    assert(reclustered2, "3x growth past the drift ratio must re-cluster")
    val rebuilt = IvfIndex.ensure(spark, sys.error("must load"), dirKey)
    assert(rebuilt.sizes.sum == embs.count() * 3)
    assert(rebuilt.numLists > nLists, "re-cluster must retrain at the new scale")
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("fingerprint manifest tracks build and append; an append that crashes before " +
      "publish leaves the previous version serving, and its staged files are never read") {
    val dirKey = "ivf-fps-spec"
    val dir = IvfIndex.dirFor(dirKey)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    val twoThirds = embs.filter(col("vec_id") % 3 < 2).select("vec_id", "embedding")
    val rest = embs.filter(col("vec_id") % 3 === 2).select("vec_id", "embedding")
    val built = IvfIndex.ensure(spark, twoThirds, dirKey)
    // build writes the manifest: one fp per stored vector, fp = xxhash64 of
    // the STORED embedding (so a source-side xxhash64 compares bit-equal)
    val fps = IvfIndex.fingerprints(spark, dir)
    assert(fps.count() == twoThirds.count())
    val stored = built.assignments.select(col("vec_id"), xxhash64(col("embedding")).as("want"))
    assert(fps.join(stored, "vec_id").filter(col("fp") =!= col("want")).count() == 0,
      "manifest fps must equal xxhash64 of the stored embeddings")
    // an append that crashes at its publish: the delta's vectors and
    // fingerprints are staged on disk, but the index still serves the
    // built version, vectors, sizes and fingerprints alike
    val v0 = Commit.latest(spark, dir).get
    PublishCrash(spark, dir)(IvfIndex.append(spark, dir, rest))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/vectors-${"%08d".format(v0.next)}")))
    assert(Commit.latest(spark, dir).get.id == v0.id)
    val served = IvfIndex.loadFrom(spark, dir)
    assert(served.sizes.toSeq == built.sizes.toSeq && served.assignments.count() == twoThirds.count())
    assert(IvfIndex.fingerprints(spark, dir).count() == twoThirds.count())
    // its retry stages over the leftovers and publishes once: the manifest
    // covers the delta exactly
    IvfIndex.append(spark, dir, rest)
    assert(Commit.latest(spark, dir).get.number == v0.number + 1)
    assert(IvfIndex.fingerprints(spark, dir).count() == embs.count())
    assert(IvfIndex.loadFrom(spark, dir).sizes.sum == embs.count())
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("the fingerprint manifest opens without a Spark job and covers the list sizes") {
    val dirKey = "ivf-sizes-spec"
    val dir = IvfIndex.dirFor(dirKey)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    try {
      IvfIndex.ensure(spark, embs.select("vec_id", "embedding"), dirKey)
      val (fps, jobs) = graft.RefreshJobCount.jobsIn(spark, "fps-open")(
        IvfIndex.fingerprints(spark, dir))
      assert(jobs == 0, s"opening the fingerprint manifest ran $jobs Spark jobs")
      val v = Commit.latest(spark, dir).get
      assert(fps.count() == embs.count())
      assert(v.field("sizes").get.elements().asScala.map(_.asLong).sum == embs.count())
    } finally f.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("filtered knn (adaptive probe) equals brute force over the candidates") {
    val idx = IvfIndex.build(embs)
    val q = embs.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    def check(mod: Int, rem: Int): Unit = {
      val cands = embs.filter(col("vec_id") % mod === rem).select("vec_id")
      val got = idx.knnFiltered(q, 10, cands).collect().map(_.getLong(0)).toSeq
      val want = embs.filter(col("vec_id") % mod === rem)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), l2sq(r.getSeq[Float](1), q)))
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      assert(got == want, s"filtered knn (mod=$mod) must equal brute force")
    }
    check(2, 1)  // half the corpus survives
    check(23, 3) // selective: forces the adaptive widening rounds
    // empty candidate set → empty result, loop terminates
    assert(idx.knnFiltered(q, 5,
      embs.filter(col("vec_id") < 0).select("vec_id")).count() == 0)
  }

  test("range search returns exactly the vectors inside the radius") {
    val idx = IvfIndex.build(embs)
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val q = all.find(_._1 == 0L).get._2
    val want = all.collect { case (id, e) if l2sq(e, q) < 1.5 => id }.toSet
    val got = idx.rangeSearchSq(q, 1.5).collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("inner-product knn is exact") {
    val idx = IvfIndex.build(embs)
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val q = all.find(_._1 == 0L).get._2
    def ip(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val want = all.map { case (id, e) => (-ip(e, q), id) }.sorted.take(10).map(_._2).toSeq
    val got = idx.knnIp(q, 10).collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("default (adaptive) probe is EXACT even on uniform data") {
    val idx = IvfIndex.build(embs)
    assert(idx.numLists == 23)
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val q = all.find(_._1 == 0L).get._2
    val exact = all.map { case (id, e) => (l2sq(e, q), id) }.sorted.take(10).map(_._2).toSeq
    val got = idx.knn(q, 10).collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"adaptive probe must return the exact top-k (got=$got exact=$exact)")
  }

  test("fixed-nprobe at half the lists keeps recall >= 0.9 on uniform data") {
    val idx = IvfIndex.build(embs)
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val q = all.find(_._1 == 0L).get._2
    val exact = all.map { case (id, e) => (l2sq(e, q), id) }.sorted.take(10).map(_._2).toSet
    val got = idx.knn(q, 10, nprobe = math.ceil(idx.numLists / 2.0).toInt)
      .collect().map(_.getLong(0)).toSet
    assert((got & exact).size / 10.0 >= 0.9)
  }

  test("adaptive probe prunes most lists on clustered data") {
    // 16 tight, well-separated clusters: the corpus shape IVF exists for
    // (the driver testdata is uniform-random, IVF's pathological case)
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextDouble() * 20 - 10))
    val rows = (0 until 1600).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val ss = spark
    import ss.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val idx = IvfIndex.build(df, k = 16)

    val q = rows.find(_._1 == 0L).get._2
    val (p1, p2) = idx.ballProbes(q, 10)
    assert(p1.size + p2.size <= idx.numLists / 2,
      s"clustered data must prune: probed ${p1.size + p2.size}/${idx.numLists}")

    val exact = rows.map { case (id, e) => (l2sq(e, q), id) }.sorted.take(10).map(_._2)
    val got = idx.knn(q, 10).collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("a recluster that crashes before publish leaves the previous version serving; " +
      "its retry publishes once and drops the old roots") {
    val dirKey = "ivf-crash-spec"
    val dir = IvfIndex.dirFor(dirKey)
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    val base = embs.select("vec_id", "embedding")
    val before = IvfIndex.ensure(spark, base, dirKey)
    val v0 = Commit.latest(spark, dir).get
    // tripling the trained volume re-clusters: a whole new index is staged
    val big = base.union(embs.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      .union(embs.select((col("vec_id") + 2000000).as("vec_id"), col("embedding")))
      .join(base.select("vec_id"), Seq("vec_id"), "left_anti")
    PublishCrash(spark, dir)(IvfIndex.append(spark, dir, big))
    val served = IvfIndex.loadFrom(spark, dir)
    assert(Commit.latest(spark, dir).get.id == v0.id, "nothing published")
    assert(served.centroids.map(_.toSeq).toSeq == before.centroids.map(_.toSeq).toSeq &&
      served.sizes.toSeq == before.sizes.toSeq, "the previous version serves")
    val rows = base.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val q = rows.head._2
    val exact = rows.map { case (id, e) => (l2sq(e, q), id) }.sorted.take(5).map(_._2).toSeq
    assert(served.knn(q, 5).collect().map(_.getLong(0)).toSeq == exact,
      "the staged recluster is never read")
    val (_, reclustered) = IvfIndex.append(spark, dir, big)
    assert(reclustered)
    val v1 = Commit.latest(spark, dir).get
    assert(v1.number == v0.number + 1 && v1.files.intersect(v0.files).isEmpty &&
      v1.retired.toSet == v0.files.toSet, s"${v0.files} -> ${v1.files}, retired ${v1.retired}")
    assert(IvfIndex.loadFrom(spark, dir).sizes.sum == embs.count() * 3)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
  }
}
