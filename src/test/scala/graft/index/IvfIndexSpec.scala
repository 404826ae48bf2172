package graft.index

import org.scalatest.funsuite.AnyFunSuite
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
    IvfIndex.invalidate(dir)
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
      rest.join(spark.read.parquet(s"$dir/vectors").select("vec_id"),
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
    IvfIndex.invalidate(dir)
  }

  test("fingerprint manifest tracks build and append; syncedFps self-heals") {
    val dirKey = "ivf-fps-spec"
    val dir = IvfIndex.dirFor(dirKey)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    IvfIndex.invalidate(dir)
    val twoThirds = embs.filter(col("vec_id") % 3 < 2).select("vec_id", "embedding")
    val rest = embs.filter(col("vec_id") % 3 === 2).select("vec_id", "embedding")
    IvfIndex.ensure(spark, twoThirds, dirKey)
    // build writes the manifest: one fp per stored vector, fp = xxhash64 of
    // the STORED embedding (so a source-side xxhash64 compares bit-equal)
    val fps = spark.read.parquet(s"$dir/fps")
    assert(fps.count() == twoThirds.count())
    val stored = spark.read.parquet(s"$dir/vectors")
      .select(col("vec_id"), xxhash64(col("embedding")).as("want"))
    assert(fps.join(stored, "vec_id").filter(col("fp") =!= col("want")).count() == 0,
      "manifest fps must equal xxhash64 of the stored embeddings")
    // append keeps the manifest covering the delta
    IvfIndex.append(spark, dir, rest)
    assert(spark.read.parquet(s"$dir/fps").count() == embs.count())
    // self-heal: a missing/short manifest (pre-r19 artifact, or a crash
    // between the vectors append and the fps append) re-derives in full
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/fps"), true)
    assert(IvfIndex.syncedFps(spark, dir).count() == embs.count())
    // _SIZES drift heal (r19 ADVICE #1): append() writes _SIZES before the
    // vectors parquet append, so a crash + retried REFRESH can leave the
    // _SIZES total permanently above the true row count — the heal must
    // reconcile _SIZES from the store so ONE re-derive restores the
    // zero-job steady path instead of re-deriving forever
    def readMeta(name: String): String = {
      val in = f.open(new org.apache.hadoop.fs.Path(s"$dir/$name"))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val trueSizes = readMeta("_SIZES").split("\n").filter(_.nonEmpty).map(_.toLong)
    IvfIndex.writeAtomic(spark, s"$dir/_SIZES",
      trueSizes.updated(0, trueSizes(0) + 7).mkString("\n")) // simulate drift
    assert(IvfIndex.syncedFps(spark, dir).count() == embs.count())
    val healed = readMeta("_SIZES").split("\n").filter(_.nonEmpty).map(_.toLong)
    assert(healed.toSeq == trueSizes.toSeq,
      "heal must rewrite _SIZES from actual per-cluster counts")
    assert(readMeta("_FPS_N").trim.toLong == healed.sum,
      "after one heal the sync counters must agree (steady path restored)")
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    IvfIndex.invalidate(dir)
  }

  test("syncedFps heals an absent _SIZES once: the next call neither heals nor warns") {
    val dirKey = "ivf-sizes-spec"
    val dir = IvfIndex.dirFor(dirKey)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    IvfIndex.invalidate(dir)
    IvfIndex.ensure(spark, embs.select("vec_id", "embedding"), dirKey)
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/_SIZES"), true)
    /** `syncedFps`'s row count, its Spark jobs and what it printed to stderr. */
    def synced(label: String): (Long, Int, String) = {
      val err = new java.io.ByteArrayOutputStream
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true))
      val (fps, jobs) = try graft.RefreshJobCount.jobsIn(spark, label)(IvfIndex.syncedFps(spark, dir))
        finally System.setErr(saved)
      (fps.count(), jobs, err.toString)
    }
    try {
      val (n1, _, warned) = synced("sizes-heal")
      assert(n1 == embs.count() && warned.contains("out of sync"), warned)
      val (n2, jobs, quiet) = synced("sizes-healed")
      assert(n2 == embs.count())
      // no corpus scan, no rewrite, and no schema inference: the manifest
      // opens with the schema its writer recorded
      assert(jobs == 0, s"the healed call ran $jobs Spark jobs")
      assert(!quiet.contains("out of sync"), quiet)
    } finally {
      f.delete(new org.apache.hadoop.fs.Path(dir), true)
      IvfIndex.invalidate(dir)
    }
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

  test("recluster swap is crash-safe: roll-forward after the commit marker, " +
      "rollback-by-cleanup before it") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val dirKey = "ivf-crash-spec"
    val dir = IvfIndex.dirFor(dirKey)
    val conf = spark.sparkContext.hadoopConfiguration
    val f = new Path(dir).getFileSystem(conf)
    f.delete(new Path(dir), true)
    IvfIndex.invalidate(dir)
    val base = embs.select("vec_id", "embedding")
    IvfIndex.ensure(spark, base, dirKey)
    def meta(name: String): String = {
      val in = f.open(new Path(s"$dir/$name"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val origMeta = Seq("_CENTROIDS", "_RADII", "_SIZES", "_TRAINED").map(n => n -> meta(n))

    // crash BEFORE the commit marker: staged leftovers, old index intact —
    // recovery (run inside ensure) must discard the staging
    FileUtil.copy(f, new Path(s"$dir/vectors"), f, new Path(s"$dir/vectors_next"),
      false, conf)
    val out = f.create(new Path(s"$dir/_RADII.next"), true)
    out.write("999.0".getBytes("UTF-8")); out.close()
    IvfIndex.invalidate(dir)
    IvfIndex.ensure(spark, sys.error("must load, not rebuild"), dirKey)
    assert(!f.exists(new Path(s"$dir/vectors_next")), "pre-commit staging discarded")
    assert(!f.exists(new Path(s"$dir/_RADII.next")))
    origMeta.foreach { case (n, v) => assert(meta(n) == v, s"$n untouched") }

    // crash AFTER the commit marker (all .next staged, dirs unswapped):
    // recovery must complete the swap and the probe must stay exact
    FileUtil.copy(f, new Path(s"$dir/vectors"), f, new Path(s"$dir/vectors_next"),
      false, conf)
    origMeta.foreach { case (n, v) =>
      val o = f.create(new Path(s"$dir/$n.next"), true)
      o.write(v.getBytes("UTF-8")); o.close()
    }
    val mk = f.create(new Path(s"$dir/_SWAP_PENDING"), true)
    mk.write("1".getBytes("UTF-8")); mk.close()
    IvfIndex.invalidate(dir)
    val idx = IvfIndex.ensure(spark, sys.error("must load, not rebuild"), dirKey)
    assert(!f.exists(new Path(s"$dir/_SWAP_PENDING")), "marker cleared")
    assert(!f.exists(new Path(s"$dir/vectors_next")) &&
      !f.exists(new Path(s"$dir/vectors_stale")), "swap completed and cleaned")
    origMeta.foreach { case (n, v) => assert(meta(n) == v, s"$n rolled forward") }
    val rows = base.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val q = rows.head._2
    val exact = rows.map { case (id, e) => (l2sq(e, q), id) }.sorted.take(5).map(_._2).toSeq
    assert(idx.knn(q, 5).collect().map(_.getLong(0)).toSeq == exact,
      "post-recovery probe equals brute force")
  }
}
