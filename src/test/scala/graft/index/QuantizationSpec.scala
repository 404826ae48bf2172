package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}

/** Quantized-IVF storage (reference quant='sq8'/'pq',
  * inverted_index_ivf_sq8.test / ivf_pq.test): code fidelity, ADC-vs-exact
  * agreement after rerank, and the probe/rerank IO shape. */
class QuantizationSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def embs = Tables.embeddings(spark, TestSpark.sfDir)

  private lazy val ivf = IvfIndex.ensure(spark, embs, "quantspec-embeddings")
  private lazy val ivfDir = IvfIndex.dirFor("quantspec-embeddings")
  private lazy val query: Seq[Float] =
    embs.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)

  private lazy val exactTop10: Seq[Long] =
    embs.crossJoin(broadcast(
        embs.filter(col("vec_id") === 0).select(col("embedding").as("qe"))))
      .withColumn("d", graft.functions.VectorFunctions.l2SqrDistance(col("embedding"), col("qe")))
      .orderBy(col("d"), col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSeq

  test("sq8 round-trip error is bounded by half a grid step per dimension") {
    val q = Quantization.Sq8.train(embs)
    assert(q.dim == 64)
    val row = embs.filter(col("vec_id") === 7)
      .select(col("embedding"), q.encode(col("embedding")).as("code")).head()
    val emb = row.getSeq[Float](0)
    val code = row.getAs[Array[Byte]](1)
    assert(code.length == 64)
    emb.indices.foreach { i =>
      val decoded = q.mins(i) + (code(i) & 0xff) * q.scales(i)
      // rounding to the nearest of 256 grid points: |err| <= scale/2 (+eps)
      assert(math.abs(decoded - emb(i)) <= q.scales(i) / 2 + 1e-6,
        s"dim $i: decoded $decoded vs ${emb(i)} (scale ${q.scales(i)})")
    }
  }

  test("sq8 ADC distance approximates exact squared-L2 within grid error") {
    val qz = Quantization.Sq8.train(embs)
    val sample = embs.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"), qz.encode(col("embedding")).as("code"))
    val rows = sample
      .withColumn("adc", qz.adcL2(col("code"), query))
      .withColumn("exact",
        graft.functions.VectorFunctions.l2SqrDistance(col("embedding"), typedlit(query)))
      .select("adc", "exact").collect()
    // worst-case per-dim decode error eps_i = scale_i/2 perturbs sqrt(d) by
    // at most ||eps||; compare in sqrt space for a scale-free bound
    val epsNorm = math.sqrt(qz.scales.map(s => (s / 2) * (s / 2)).sum)
    rows.foreach { r =>
      val (adc, exact) = (math.sqrt(r.getDouble(0)), math.sqrt(r.getDouble(1)))
      assert(math.abs(adc - exact) <= epsNorm + 1e-6,
        s"sqrt-ADC $adc vs sqrt-exact $exact, bound $epsNorm")
    }
  }

  test("sq8 kNN with exact rerank returns the exact top-10 on this corpus") {
    val q = QuantizedIvf.ensureKind(spark, ivf, ivfDir, "sq8")
    val got = q.knn(query, k = 10, rerankFactor = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == exactTop10)
  }

  test("sq8 IP kNN with exact rerank matches brute-force largest-dot top-10") {
    val q = QuantizedIvf.ensureKind(spark, ivf, ivfDir, "sq8")
    val got = q.knnIp(query, k = 10, rerankFactor = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = embs.crossJoin(broadcast(
        embs.filter(col("vec_id") === 0).select(col("embedding").as("qe"))))
      .withColumn("d",
        -graft.functions.VectorFunctions.innerProduct(col("embedding"), col("qe")))
      .orderBy(col("d"), col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("pq codes are m bytes and ADC+rerank recall is high") {
    val q = QuantizedIvf.ensureKind(spark, ivf, ivfDir, "pq", Some(8))
    val codeLen = q.codes.select(length(col("code"))).head().getInt(0)
    assert(codeLen == 8, s"expected 8-byte PQ codes, got $codeLen")
    val got = q.knn(query, k = 10, rerankFactor = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val overlap = got.intersect(exactTop10.toSet).size
    assert(overlap >= 8, s"PQ recall too low: $overlap/10 (got $got)")
  }

  test("pq LUT matches brute-force residual distances") {
    val q = QuantizedIvf.ensureKind(spark, ivf, ivfDir, "pq", Some(8)).pq.get
    val cvec = ivf.centroids(0)
    val lut = q.lut(query, cvec)
    assert(lut.length == q.m * q.ksub)
    // spot-check one entry against direct arithmetic
    val sub = 3; val j = 5
    var s = 0.0
    (0 until q.dsub).foreach { d =>
      val r = query(sub * q.dsub + d) - cvec(sub * q.dsub + d)
      val diff = r - q.codebook(sub)(j)(d)
      s += diff * diff
    }
    assert(math.abs(lut(sub * q.ksub + j) - s) < 1e-3)
  }

  test("quantized probe reads only probed clusters; rerank is id-bounded") {
    val q = QuantizedIvf.ensureKind(spark, ivf, ivfDir, "sq8")
    val (p1, p2) = ivf.ballProbes(query, 10)
    val probes = (p1 ++ p2).toSet
    // the codes scan under a probe filter must READ only probed partitions:
    // execute it and compare the scan node's post-pruning numFiles metric
    // against the unfiltered file count
    val scan = q.codes.filter(col("cluster")
      .isin(probes.toSeq.map(Integer.valueOf): _*))
    scan.count() // populate metrics
    val scanExec = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scanExec.nonEmpty, "expected a FileSourceScanExec for the codes read")
    val readFiles = scanExec.head.metrics("numFiles").value
    val totalFiles = q.codes.inputFiles.length
    assert(readFiles < totalFiles,
      s"probe should prune code files: read $readFiles of $totalFiles")
  }
}
