package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{RefreshJobCount, TestSpark}
import graft.analysis.AnalyzerRegistry

/** What a segment and an IVF build write, against brute forces computed on
  * the driver: postings, term dictionary, doc stats and the doc-id manifest
  * from `Analyzer.tokens`, the `meta.json` totals, one file per (segment,
  * bucket); IVF lists, radii and sizes from the stored vectors and the
  * centroids, and kNN from exact L2. Also the Spark jobs of a pg CREATE
  * INDEX and of opening what it wrote. */
class IndexBuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val tag = System.nanoTime().toString.takeRight(9)

  private val texts: Seq[(Long, String)] = Seq(
    1L -> "alpha bravo alpha charlie",
    2L -> "bravo delta",
    3L -> "",                               // zero tokens
    4L -> "echo alpha echo echo foxtrot",
    5L -> "delta delta golf hotel india",
    6L -> null,                             // zero tokens
    7L -> "juliet kilo lima mike november oscar papa",
    8L -> "alpha")
  private def docs(rows: Seq[(Long, String)] = texts): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType))))

  private def tokens(t: String) = AnalyzerRegistry.get("whitespace").tokens(t)

  private def cells(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).toSet

  /** (term, doc_id, tf, positions) of `rows`, by brute force. */
  private def postings(rows: Seq[(Long, String)], positions: Boolean): Set[Seq[Any]] =
    rows.flatMap { case (id, t) =>
      tokens(t).zipWithIndex.groupBy(_._1).map { case (term, at) =>
        Seq(term, id, at.size.toLong, if (positions) at.map(_._2).sorted.toList else null)
      }
    }.toSet

  private def read(seg: String, part: String): DataFrame = spark.read.parquet(s"$seg/$part")

  private def meta(seg: String): Map[String, Long] =
    """"(\w+)":(\d+)""".r.findAllMatchIn(IndexStore.readString(spark, s"$seg/meta.json"))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  /** The data files of `seg/part` by their `bucket=K` directory (None for
    * a file outside one). */
  private def bucketFiles(seg: String, part: String): Map[Option[Int], Seq[String]] =
    IndexFile.leafFiles(spark.sessionState.newHadoopConf(), s"$seg/$part")
      .groupBy(_.getPath.getParent.getName)
      .map { case (d, fs) =>
        Some(d).filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt) ->
          fs.map(_.getPath.getName)
      }

  /** The segment holds exactly the brute force of `rows`. */
  private def checkSegment(seg: String, rows: Seq[(Long, String)], positions: Boolean = true): Unit = {
    val post = postings(rows, positions)
    assert(cells(read(seg, "postings").select("term", "doc_id", "tf", "positions")) == post)
    val dict = post.groupBy(_.head).map { case (term, ps) =>
      val tfs = ps.toSeq.map(_(2).asInstanceOf[Long])
      Seq(term, tfs.size.toLong, tfs.sum, tfs.max)
    }.toSet
    assert(cells(read(seg, "termdict").select("term", "df", "ctf", "max_tf")) == dict)
    assert(cells(read(seg, "docstats").select("doc_id", "dlen")) ==
      rows.collect { case (id, t) if tokens(t).nonEmpty => Seq(id, tokens(t).size) }.toSet)
    assert(meta(seg) == Map("numDocs" -> rows.size.toLong,
      "sumDl" -> rows.map(r => tokens(r._2).size.toLong).sum,
      "postingsRows" -> post.size.toLong, "termRows" -> dict.size.toLong))
    // no rows: one schema-bearing file outside any bucket directory
    val buckets: Set[Option[Int]] =
      if (post.isEmpty) Set(None) else post.map(p => Some(IndexStore.bucketOf(p.head.toString)))
    Seq("postings", "termdict").foreach { part =>
      val files = bucketFiles(seg, part)
      assert(files.keySet == buckets, part)
      assert(files.values.forall(_.size == 1), s"one $part file per bucket: $files")
    }
  }

  private def segOf(dir: String, n: Int = 0) = f"$dir/seg=$n%05d"

  test("a segment holds the brute-force postings, dictionary, doc stats, manifest and totals") {
    val idx = IndexStore.ensure(spark, docs(), s"build-spec-$tag", "doc_id", "text", "whitespace")
    val dir = IndexStore.dirFor(s"build-spec-$tag", "text", "whitespace")
    checkSegment(segOf(dir), texts)
    // the manifest keeps the zero-token docs, each with its content fingerprint
    assert(cells(read(segOf(dir), "docids")) ==
      cells(docs().select(col("doc_id"), xxhash64(col("text")))))
    assert(idx.numDocs == texts.size && idx.sumDl == texts.map(r => tokens(r._2).size).sum)
  }

  test("an empty source writes readable, empty parts and zero totals") {
    val idx = IndexStore.ensure(spark, docs(Nil), s"build-spec-empty-$tag", "doc_id", "text",
      "whitespace")
    val seg = segOf(IndexStore.dirFor(s"build-spec-empty-$tag", "text", "whitespace"))
    Seq("postings", "termdict", "docstats", "docids").foreach(p => assert(read(seg, p).isEmpty, p))
    assert(read(seg, "postings").columns.contains("bucket"), "bucket is a data column")
    checkSegment(seg, Nil)
    assert(idx.numDocs == 0 && idx.sumDl == 0)
  }

  test("without positions, postings carry none") {
    val key = s"build-spec-nopos-$tag"
    IndexStore.ensure(spark, docs(), key, "doc_id", "text", "whitespace", withPositions = false)
    checkSegment(segOf(IndexStore.dirFor(key, "text", "whitespace")), texts, positions = false)
  }

  test("the compression option reaches every part") {
    val key = s"build-spec-zstd-$tag"
    val dir = IndexStore.dirFor(key, "text", "whitespace")
    IndexStore.setCompression(spark, dir, "zstd")
    IndexStore.ensure(spark, docs(), key, "doc_id", "text", "whitespace")
    checkSegment(segOf(dir), texts)
    Seq("postings", "termdict", "docstats", "docids").foreach { p =>
      val files = IndexFile.leafFiles(spark.sessionState.newHadoopConf(), s"${segOf(dir)}/$p")
      assert(files.nonEmpty && files.forall(_.getPath.getName.contains(".zstd.")), p)
    }
  }

  test("segment_docs_max rotation splits the docs over segments, each exact") {
    val key = s"build-spec-rot-$tag"
    val dir = IndexStore.dirFor(key, "text", "whitespace")
    IndexStore.ensureRotating(spark, docs(), key, "doc_id", "text", "whitespace", docsMax = 3)
    val segs = IndexStore.listSegments(spark, dir)
    assert(segs.size == 3)
    val waves = segs.map { s =>
      val ids = read(s"$dir/$s", "docids").collect().map(_.getLong(0)).toSet
      checkSegment(s"$dir/$s", texts.filter(r => ids.contains(r._1)))
      ids
    }
    assert(waves.flatten.sorted == texts.map(_._1).sorted, "every doc in exactly one segment")
  }

  private val embSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private def vectors(rows: Seq[(Long, Seq[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v) }, 3), embSchema)

  /** 90 vectors around three centres, with distinct distances to the
    * queries below. */
  private val clustered: Seq[(Long, Seq[Float])] = {
    val r = new scala.util.Random(7)
    val centres = Seq(Seq(0f, 0f, 0f, 0f), Seq(10f, 10f, 0f, 0f), Seq(0f, 10f, 10f, 5f))
    (0 until 90).map(i => i.toLong -> centres(i % 3).map(c => c + r.nextGaussian().toFloat))
  }

  private def dist(a: Seq[Float], c: Array[Double]): Double =
    math.sqrt(a.indices.map(d => (a(d).toDouble - c(d)) * (a(d).toDouble - c(d))).sum)

  test("IVF lists: every vector in its nearest centroid's list, exact radii and sizes, exact kNN") {
    val ivf = IvfIndex.ensure(spark, vectors(clustered), s"build-spec-ivf-$tag")
    val stored = ivf.assignments.select("vec_id", "embedding", "cluster").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    assert(stored.map(_._1).sorted.toSeq == clustered.map(_._1))
    assert(ivf.numLists == IvfIndex.autoK(clustered.size))
    stored.foreach { case (id, v, c) =>
      val ds = ivf.centroids.map(dist(v, _))
      assert(ds(c) == ds.min, s"vector $id is in list $c, not its nearest")
    }
    val members = stored.groupBy(_._3)
    assert(ivf.sizes.toSeq == ivf.centroids.indices.map(i => members.get(i).fold(0L)(_.length.toLong)))
    assert(ivf.radii.toSeq == ivf.centroids.indices.map(i =>
      members.get(i).fold(0.0)(_.map(m => dist(m._2, ivf.centroids(i))).max)))
    Seq(Seq(0.3f, -0.2f, 0.1f, 0.4f), Seq(9.5f, 10.2f, 0.3f, -0.1f), Seq(5f, 5f, 5f, 2.5f))
      .foreach { q =>
        val brute = clustered.sortBy { case (id, v) =>
          (v.indices.map(d => (v(d).toDouble - q(d)) * (v(d).toDouble - q(d))).sum, id)
        }.take(7).map(_._1)
        assert(ivf.knn(q, 7).collect().map(_.getLong(0)).toSeq == brute, s"kNN of $q")
      }
  }

  test("an all-duplicates corpus builds one list at the vector; a 3-row table one list per row") {
    val dup = IvfIndex.build(vectors((0 until 40).map(i => i.toLong -> Seq(1f, 2f, 3f, 4f))))
    assert(dup.numLists == 1 && dup.sizes.toSeq == Seq(40L) && dup.radii.toSeq == Seq(0.0))
    assert(dup.centroids.head.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    val three = IvfIndex.build(vectors(Seq(0L -> Seq(0f, 0f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 5f, 0f, 0f))))
    // autoK's floor of 4 lists is clamped to the 3 distinct vectors
    assert(three.numLists == 3 && three.sizes.toSeq == Seq(1L, 1L, 1L))
    assert(three.radii.forall(_ == 0.0))
  }

  test("the IVF training sample does not depend on how the input is partitioned") {
    // 2 lists train on about 512 of the 1,200 vectors: a partial sample
    val r = new scala.util.Random(11)
    val rows = (0 until 1200).map(i => Row(i.toLong, Seq.fill(4)(r.nextFloat())))
    def trained(parts: Int) = IvfIndex.build(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts), embSchema), k = 2).centroids.map(_.toSeq).toSeq
    assert(trained(1) == trained(5))
  }

  test("a pg CREATE INDEX runs at most 25 Spark jobs; opening what it wrote runs none") {
    graft.search.SqlSurface.registerAll(spark)
    graft.catalog.CatalogDdl.registerFunctions(spark)
    val (tbl, idx, dict) = (s"ib_docs_$tag", s"ib_idx_$tag", s"ib_dict_$tag")
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf")
    spark.createDataFrame(spark.sparkContext.parallelize((1 to 300).map(pk =>
      Row(pk, Seq(words(pk % 7), words(pk % 5), s"w$pk").mkString(" "),
        clustered(pk % clustered.size)._2)), 3),
      StructType(Seq(StructField("pk", IntegerType, nullable = false),
        StructField("body", StringType),
        StructField("emb", ArrayType(FloatType, containsNull = false)))))
      .createOrReplaceTempView(s"${tbl}_src")
    spark.sql(s"CREATE TEXT SEARCH DICTIONARY $dict (template = 'text', " +
      "locale = 'en_US.UTF-8', case = 'lower', stemming = false, frequency = true, position = true)")
    spark.sql(s"CREATE TABLE $tbl(pk INTEGER PRIMARY KEY, body VARCHAR, emb FLOAT[4])")
    spark.sql(s"INSERT INTO $tbl SELECT pk, body, emb FROM ${tbl}_src").collect()
    try {
      val (_, jobs) = RefreshJobCount.jobsIn(spark, "create-index")(spark.sql(
        s"CREATE INDEX $idx ON $tbl USING inverted(pk, body $dict, emb ivf (metric = 'l2'))")
        .collect())
      assert(jobs <= 25, s"CREATE INDEX ran $jobs Spark jobs")
      val root = graft.search.IndexCatalog.textKeys.collectFirst {
        case (r, "body", `dict`) if r.contains(tbl) => r
      }.get
      val textDir = graft.search.IndexCatalog.lookupText(root, "body", dict).get.segDir
      val ivfDir = IvfIndex.dirFor(graft.search.IndexCatalog.lookupAnn(root, "emb", "l2").get.cacheKey)
      IndexStore.invalidate(textDir)
      IvfIndex.invalidate(ivfDir)
      val (text, textJobs) = RefreshJobCount.jobsIn(spark, "load")(IndexStore.load(spark, textDir))
      val (vecs, ivfJobs) = RefreshJobCount.jobsIn(spark, "load-ivf")(IvfIndex.loadFrom(spark, ivfDir))
      assert(textJobs == 0 && ivfJobs == 0, s"load ran $textJobs jobs, loadFrom $ivfJobs")
      assert(text.numDocs == 300 && vecs.sizes.sum == 300)
      // the relations opened without a job are the ones Spark's read resolves
      Seq("postings", "termdict", "docstats").foreach { p =>
        assert(IndexStore.readParquet(spark, s"${segOf(textDir)}/$p").schema ==
          spark.read.parquet(s"${segOf(textDir)}/$p").schema, p)
      }
      assert(vecs.assignments.schema == spark.read.parquet(s"$ivfDir/vectors").schema)
    } finally {
      spark.sql(s"DROP INDEX IF EXISTS $idx")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
