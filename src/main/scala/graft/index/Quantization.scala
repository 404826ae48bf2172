package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quantized IVF storage — the Spark-native analogue of the reference's
  * `quant = 'sq8' | 'sq4' | 'pq' | 'rabitq'` inverted-index vector options
  * (tests/sqllogic/sdb/pg/index/inverted_index_ivf_sq8.test, ivf_sq4.test,
  * ivf_pq.test, ivf_rabitq.test; faiss-backed codes in the postings .pay).
  *
  * Why this exists at 100 TB: a raw FLOAT[768] corpus is ~3 KB/vector —
  * 100 TB of embeddings cannot be re-read per query. SQ8 stores ONE BYTE per
  * dimension (4× smaller than float32), PQ stores one 4-bit code per
  * SUBSPACE (m bytes total at byte-per-code, ~dim/m× smaller) — so the probe
  * phase of a kNN reads a 4×–32× smaller, cluster-partition-pruned codes
  * dataset, and only the top `rerankFactor × k` candidates touch raw floats
  * (late materialization by vec_id, the reference's exact raw reranker:
  * "a kNN ... falls back to the exact raw reranker", ivf_sq8.test header).
  *
  * Both quantizers ride ON TOP of an ensured [[IvfIndex]]: same centroids,
  * same `cluster=` directory partitioning (probe pruning is unchanged), the
  * codes are an additional parquet dataset under the index dir. Training is
  * one distributed agg (SQ8: per-dim min/max) or a driver-side Lloyd's run
  * over a bounded reservoir sample of centroid RESIDUALS (PQ — the reference
  * trains "on the reservoir sample's centroid-relative residuals",
  * ivf_pq.test:3-5); either way driver state stays metadata-sized.
  *
  * Cosine follows the reference's encoding rule: "cosine is encoded as inner
  * product over L2-normalized vectors" (ivf_sq8.test:13) — callers quantize
  * the normalized copies and use the IP kernel.
  */
object Quantization {

  /** Squared L2 distance. */
  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val df = a(i) - b(i); s += df * df; i += 1 }
    s
  }

  /** The index of the centroid nearest `p` (the first on ties). */
  private def nearestOf(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var j = 0
    while (j < cents.length) {
      val s = dist2(p, cents(j))
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    best
  }

  /** Plain Lloyd's iterations on a driver-resident sample from the
    * starting centroids `init`, which it updates in place: the k-means
    * behind both the PQ codebooks and the IVF coarse quantizer
    * ([[IvfIndex.build]]). `weight(i)` is point i's multiplicity (1 by
    * default, which leaves every sum and mean as the unweighted one). A
    * centroid whose cluster empties keeps its position (stable,
    * deterministic). */
  private[index] def lloyd(pts: Array[Array[Double]], init: Array[Array[Double]],
      iters: Int, weight: Int => Double = _ => 1.0): Array[Array[Double]] = {
    val n = pts.length
    val k = init.length
    val d = if (k == 0) 0 else init.head.length
    val cents = init
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) { assign(i) = nearestOf(pts(i), cents); i += 1 }
      val sums = Array.fill(k, d)(0.0)
      val counts = new Array[Double](k)
      i = 0
      while (i < n) {
        val a = assign(i); val w = weight(i); counts(a) += w
        var dd = 0
        while (dd < d) { sums(a)(dd) += pts(i)(dd) * w; dd += 1 }
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          var dd = 0
          while (dd < d) { cents(j)(dd) = sums(j)(dd) / counts(j); dd += 1 }
        }
        j += 1
      }
      it += 1
    }
    cents
  }

  /** Weighted k-means++ picks of `k` of the distinct `pts`: each pick is
    * drawn with probability proportional to its weight times its squared
    * distance to the nearest pick so far (the first by weight alone).
    * Picked points weigh 0 from then on, so the `k` picks are distinct. */
  private def kmeansPlusPlus(pts: Array[Array[Double]], weights: Array[Double], k: Int,
      rnd: scala.util.Random): Array[Array[Double]] = {
    val n = pts.length
    val mass = weights.clone
    // the first point past a uniform draw of the cumulative mass
    def draw(): Int = {
      var target = rnd.nextDouble() * mass.sum
      var i = 0
      while (i < n - 1 && (mass(i) == 0.0 || target >= mass(i))) { target -= mass(i); i += 1 }
      while (mass(i) == 0.0) i -= 1
      i
    }
    val nearest = Array.fill(n)(Double.PositiveInfinity)
    Array.fill(k) {
      val c = pts(draw()).clone
      var i = 0
      while (i < n) {
        nearest(i) = math.min(nearest(i), dist2(pts(i), c))
        mass(i) = weights(i) * nearest(i)
        i += 1
      }
      c
    }
  }

  /** k-means|| starting centroids (Bahmani et al., "Scalable K-Means++",
    * VLDB 2012; MLlib's default) for `k` lists over `pts`, which hold at
    * least `k` distinct points. Two rounds each draw every point with
    * probability 2k × its squared distance to the candidates so far over
    * the sum of those distances. Each candidate then weighs the number of
    * points nearest it, and weighted k-means++ picks refined by 30 weighted
    * Lloyd's iterations over the candidates reduce them to `k`. When the
    * rounds draw fewer than `k` distinct candidates, every distinct point
    * is one.
    *
    * Against k-means++ over all points, the heavy candidate groups start
    * lists near the bulk of the data: on uniform data the lists come out
    * uneven, and the nearest half of them holds most vectors (what a
    * fixed-`nprobe` probe reads). */
  private[index] def kmeansParallel(pts: Array[Array[Double]], k: Int,
      rnd: scala.util.Random): Array[Array[Double]] = {
    val first = pts(rnd.nextInt(pts.length))
    val cost = pts.map(dist2(_, first))
    val drawn = scala.collection.mutable.ArrayBuffer(first)
    for (_ <- 0 until 2) {
      val sum = cost.sum
      val chosen = pts.indices.filter(i => rnd.nextDouble() * sum < 2.0 * k * cost(i))
        .map(pts(_))
      drawn ++= chosen
      for (i <- pts.indices; c <- chosen) cost(i) = math.min(cost(i), dist2(pts(i), c))
    }
    val distinct = drawn.map(_.toSeq).distinct
    val cands = (if (distinct.length >= k) distinct else pts.toSeq.map(_.toSeq).distinct)
      .map(_.toArray).toArray
    val weights = new Array[Double](cands.length)
    pts.foreach(p => weights(nearestOf(p, cands)) += 1)
    lloyd(cands, kmeansPlusPlus(cands, weights, k, rnd), 30, weights)
  }

  /** SQ8 scalar quantizer: per-dimension affine [min, min+255·scale] grid.
    * Driver state: 2 × dim doubles. */
  final case class Sq8(mins: Array[Double], scales: Array[Double]) {
    def dim: Int = mins.length

    private def fl(a: Array[Double]): Column = typedlit(a.map(_.toFloat).toSeq)

    /** Encode a float-array column to a `dim`-byte BinaryType column. */
    def encode(emb: Column): Column =
      call_function("sq8_encode", emb, fl(mins), fl(scales))

    /** Asymmetric (float query vs codes) squared-L2 distance column. */
    def adcL2(codes: Column, query: Seq[Float]): Column =
      call_function("sq8_adc_l2", codes, typedlit(query), fl(mins), fl(scales))

    /** Asymmetric NEGATED inner product (ASC order = best-first, matching
      * the ann_ip score mapping). */
    def adcNegIp(codes: Column, query: Seq[Float]): Column =
      call_function("sq8_adc_neg_ip", codes, typedlit(query), fl(mins), fl(scales))

    def serialize: String =
      mins.mkString(",") + "\n" + scales.mkString(",")
  }

  object Sq8 {
    /** Training = ONE distributed pass: posexplode the embedding column and
      * min/max per dimension index (a 32-partition shuffle of dim-sized
      * keys; output is 2 × dim doubles of driver state). Degenerate dims
      * (min == max) get scale 0 and encode to 0. */
    def train(embs: DataFrame, embCol: String = "embedding"): Sq8 = {
      val mm = embs
        .select(posexplode(col(embCol)).as(Seq("d", "x")))
        .groupBy("d")
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val dim = if (mm.isEmpty) 0 else mm.keys.max + 1
      val mins = Array.tabulate(dim)(i => mm(i)._1)
      val maxs = Array.tabulate(dim)(i => mm(i)._2)
      Sq8(mins, mins.indices.map(i => (maxs(i) - mins(i)) / 255.0).toArray)
    }

    def deserialize(s: String): Sq8 = {
      val Array(m, sc) = s.split("\n")
      Sq8(m.split(",").map(_.toDouble), sc.split(",").map(_.toDouble))
    }
  }

  /** SQ4 scalar quantizer (reference `quant = 'sq4'`,
    * inverted_index_ivf_sq4.test; faiss QT_4bit): per-dimension affine
    * [min, min+15·scale] grid, TWO codes per byte (code_size = ceil(d/2) —
    * an 8× storage cut vs float32, 2× vs SQ8). Stats are trained once
    * globally over the corpus (the reference stores "a single global
    * [vmin, vdiff] ... not per cluster"), exactly like [[Sq8]] with 15
    * levels instead of 255. */
  final case class Sq4(mins: Array[Double], scales: Array[Double]) {
    def dim: Int = mins.length

    private def fl(a: Array[Double]): Column = typedlit(a.map(_.toFloat).toSeq)

    def encode(emb: Column): Column =
      call_function("sq4_encode", emb, fl(mins), fl(scales))

    def adcL2(codes: Column, query: Seq[Float]): Column =
      call_function("sq4_adc_l2", codes, typedlit(query), fl(mins), fl(scales))

    def adcNegIp(codes: Column, query: Seq[Float]): Column =
      call_function("sq4_adc_neg_ip", codes, typedlit(query), fl(mins), fl(scales))

    def serialize: String =
      mins.mkString(",") + "\n" + scales.mkString(",")
  }

  object Sq4 {
    /** Same one-pass min/max training as SQ8, scale = range/15. */
    def train(embs: DataFrame, embCol: String = "embedding"): Sq4 = {
      val q8 = Sq8.train(embs, embCol)
      Sq4(q8.mins, q8.scales.map(_ * 255.0 / 15.0))
    }

    def deserialize(s: String): Sq4 = {
      val Array(m, sc) = s.split("\n")
      Sq4(m.split(",").map(_.toDouble), sc.split(",").map(_.toDouble))
    }
  }

  /** Residual product quantizer: `m` subspaces of `dsub = dim/m` dims, each
    * with `ksub` centroids trained on centroid-relative residuals. Driver
    * state: m × ksub × dsub floats (e.g. 8×16×8 = 1 KiB at dim 64). */
  final case class Pq(m: Int, ksub: Int, dsub: Int,
      codebook: Array[Array[Array[Double]]]) { // [m][ksub][dsub]

    def dim: Int = m * dsub

    /** Flattened codebook literal for the encode expression. */
    private def cbFlat: Seq[Float] =
      codebook.flatten.flatten.map(_.toFloat).toSeq

    /** Encode the RESIDUAL (emb − cvec) to an m-byte code column.
      * `cvec` is the row's list centroid (broadcast-joined). Encoding is a
      * nearest-sub-centroid argmin per subspace — expressed with SQL
      * builtins over the flattened codebook literal (runs once at build,
      * not in the query hot path). */
    def encode(emb: Column, cvec: Column): Column = {
      val res = zip_with(emb, cvec, (x, c) => x.cast("double") - c)
      val codes = transform(sequence(lit(0), lit(m - 1)), sub => {
        val dists = transform(sequence(lit(0), lit(ksub - 1)), j =>
          aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (s, d) => {
            val r = element_at(res, sub * dsub + d + 1)
            val c = element_at(typedlit(cbFlat), sub * (ksub * dsub) + j * dsub + d + 1)
            s + (r - c) * (r - c)
          }))
        // argmin over ksub distances
        array_position(dists, array_min(dists)) - 1
      })
      // pack argmins (0..ksub-1, ksub ≤ 256) into one byte each
      packBytes(codes)
    }

    private def packBytes(ints: Column): Column =
      call_function("byte_pack", ints)

    /** Per-list ADC lookup table for query `q`: LUT[sub][j] =
      * ‖(q − c_list)_sub − codebook[sub][j]‖². Driver math, m×ksub floats
      * per probed list. */
    def lut(query: Seq[Float], cvec: Array[Double]): Array[Float] = {
      val r = query.indices.map(i => query(i).toDouble - cvec(i))
      val out = new Array[Float](m * ksub)
      var sub = 0
      while (sub < m) {
        var j = 0
        while (j < ksub) {
          var s = 0.0; var d = 0
          while (d < dsub) {
            val diff = r(sub * dsub + d) - codebook(sub)(j)(d)
            s += diff * diff; d += 1
          }
          out(sub * ksub + j) = s.toFloat; j += 1
        }
        sub += 1
      }
      out
    }

    /** ADC distance column: Σ_sub LUT[sub][code[sub]] with the per-list LUT
      * as an ArrayType(Float) column (broadcast-joined per cluster; ksub is
      * inferred inside the kernel from |lut| / |codes|). */
    def adc(codes: Column, lutCol: Column): Column =
      call_function("pq_adc", codes, lutCol)

    /** Cluster-INDEPENDENT inner-product table: LUT[sub][j] =
      * ⟨q_sub, codebook[sub][j]⟩. Codes decode to centroid residuals, so
      * ⟨q,x⟩ ≈ ⟨q,c_list⟩ + Σ_sub LUT[sub][code[sub]] — ONE m×ksub table
      * serves every probed list; the per-list part collapses to the scalar
      * ⟨q,c⟩ (the reference's compute_inner_prod_table fast-scan LUT,
      * quantizer.cpp:853-860). */
    def lutIp(query: Seq[Float]): Array[Float] = {
      val out = new Array[Float](m * ksub)
      var sub = 0
      while (sub < m) {
        var j = 0
        while (j < ksub) {
          var s = 0.0; var d = 0
          while (d < dsub) {
            s += query(sub * dsub + d).toDouble * codebook(sub)(j)(d); d += 1
          }
          out(sub * ksub + j) = s.toFloat; j += 1
        }
        sub += 1
      }
      out
    }

    def serialize: String =
      s"$m,$ksub,$dsub\n" +
        codebook.map(_.map(_.mkString(" ")).mkString(";")).mkString("\n")
  }

  object Pq {
    /** Train per-subspace codebooks with driver-side Lloyd's over a bounded
      * reservoir of residuals (the reference trains its global codebook on
      * a reservoir sample too). `sample` rows ≤ maxSample keeps the driver
      * payload metadata-sized regardless of corpus scale. */
    def train(ivf: IvfIndex, m: Int, ksub: Int = 16, maxSample: Int = 16384,
        seed: Long = 42L): Pq = {
      val dim = ivf.centroids.head.length
      require(dim % m == 0, s"pq_m=$m must divide dim=$dim")
      val dsub = dim / m
      val n = ivf.sizes.sum
      val frac = math.min(1.0, maxSample.toDouble / math.max(n, 1L))
      val cents = ivf.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
      val spark = ivf.assignments.sparkSession
      import spark.implicits._
      val centDf = cents.toDF("cluster", "cvec")
      val sampled = ivf.assignments.sample(withReplacement = false, frac, seed)
        .join(broadcast(centDf), "cluster")
        .select(zip_with(col("embedding"), col("cvec"),
          (x, c) => x.cast("double") - c).as("res"))
        .collect().map(_.getSeq[Double](0).toArray)
      require(sampled.length >= ksub,
        s"PQ training needs >= $ksub sampled residuals, got ${sampled.length}")
      val rnd = new scala.util.Random(seed)
      val codebook = Array.tabulate(m) { sub =>
        val pts = sampled.map(r => java.util.Arrays.copyOfRange(r, sub * dsub, (sub + 1) * dsub))
        // random starting points (faiss's default), kept so that a sample
        // and seed train the same codebooks they always have
        lloyd(pts, rnd.shuffle(pts.indices.toList).take(ksub).map(pts(_).clone).toArray, 15)
      }
      Pq(m, ksub, dsub, codebook)
    }

    def deserialize(s: String): Pq = {
      val lines = s.split("\n")
      val Array(m, ksub, dsub) = lines.head.split(",").map(_.toInt)
      val cb = lines.tail.map(_.split(";").map(_.split(" ").map(_.toDouble)))
      Pq(m, ksub, dsub, cb)
    }
  }
}

/** A quantized codes dataset attached to an ensured [[IvfIndex]]: the codes
  * live under the index dir (`sq8/` or `pq/`), `cluster=`-partitioned like
  * the raw vectors so the ball-bound probe prunes the same directories, and
  * a kNN is two bounded stages:
  *
  *   1. probe: read CODES for the probed lists only, approximate top
  *      `rerankFactor × k` by the asymmetric (query-vs-code) distance —
  *      TakeOrderedAndProject, so per-partition heaps + O(pool) driver merge;
  *   2. rerank: exact distance over the raw vectors of those ≤ pool ids only
  *      (isin pushdown on vec_id — parquet row-group stats prune inside the
  *      probed partitions), final top-k.
  *
  * Driver state per query: pool ids (≤ rerankFactor × k) — same order as the
  * adaptive filtered-probe loop that already exists. At scale the IO win is
  * stage 1 reading bytes-per-dim (SQ8) or bytes-per-subspace (PQ) instead of
  * 4 bytes-per-dim floats.
  */
final case class QuantizedIvf(ivf: IvfIndex, codes: DataFrame,
    sq8: Option[Quantization.Sq8], pq: Option[Quantization.Pq],
    sq4: Option[Quantization.Sq4] = None, rabitq: Boolean = false) {

  private def spark: SparkSession = ivf.assignments.sparkSession

  /** vec_id is whatever integral type the table's id column has (INTEGER
    * pks are the corpus norm) — `getLong` on an IntegerType row threw a
    * ClassCastException inside the claim rule, which silently fell back to
    * the exact sort on EVERY quantized SQL query (latent until r18). */
  private def longId(r: org.apache.spark.sql.Row): Long = r.get(0) match {
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalStateException(s"non-integral vec_id: $other")
  }

  /** Approximate-then-rerank kNN by L2. `nprobe = 0` uses the exact
    * ball-bound probe set (can't miss a list holding a true neighbor, so
    * the only approximation left is pool-escape: a true top-k vector whose
    * QUANTIZED distance falls outside the rerank pool). */
  def knn(query: Seq[Float], k: Int, rerankFactor: Int = 5,
      nprobe: Int = 0): DataFrame = {
    val probes =
      if (nprobe > 0)
        ivf.centroids.indices.sortBy { i =>
          var s = 0.0; var j = 0
          val c = ivf.centroids(i)
          while (j < c.length) { val d = c(j) - query(j); s += d * d; j += 1 }
          s
        }.take(nprobe)
      else { val (p1, p2) = ivf.ballProbes(query, k); (p1 ++ p2) }
    val pool = rerankFactor * k
    val approxDist: Column = (sq8, sq4, pq) match {
      case (Some(q), _, _) => q.adcL2(col("code"), query)
      case (_, Some(q), _) => q.adcL2(col("code"), query)
      case (_, _, Some(q)) =>
        val ss = spark
        import ss.implicits._
        val luts = probes.toSeq.map(i => (i, q.lut(query, ivf.centroids(i)).toSeq))
          .toDF("cluster", "lut")
        return knnPq(query, k, pool, probes.toSeq, luts, q)
      case _ if rabitq =>
        // per-probed-cluster query residual, broadcast like the PQ LUT —
        // the RaBitQ code decodes against its own cluster's centroid
        val ss = spark
        import ss.implicits._
        val qrs = probes.toSeq.map { i =>
          val c = ivf.centroids(i)
          (i, query.indices.map(j => (query(j) - c(j)).toFloat))
        }.toDF("cluster", "qr")
        val cand = codes
          .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
          .join(broadcast(qrs), "cluster")
          .withColumn("adist",
            call_function("rabitq_adc_l2", col("code"), col("rnorm"), col("qr")))
          .orderBy(col("adist"), col("vec_id"))
          .limit(pool)
          .select("vec_id")
          .collect().map(longId)
        return rerank(query, k, probes.toSeq, cand)
      case _ => throw new IllegalStateException("no quantizer attached")
    }
    val cand = codes
      .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
      .withColumn("adist", approxDist)
      .orderBy(col("adist"), col("vec_id"))
      .limit(pool)
      .select("vec_id")
      .collect().map(longId) // ≤ pool ids of driver state
    rerank(query, k, probes.toSeq, cand)
  }

  private def knnPq(query: Seq[Float], k: Int, pool: Int, probes: Seq[Int],
      luts: DataFrame, q: Quantization.Pq): DataFrame = {
    val cand = codes
      .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
      .join(broadcast(luts), "cluster")
      .withColumn("adist", q.adc(col("code"), col("lut")))
      .orderBy(col("adist"), col("vec_id"))
      .limit(pool)
      .select("vec_id")
      .collect().map(longId)
    rerank(query, k, probes, cand)
  }

  /** Largest-inner-product kNN through the SQ8 codes (reference
    * `quant = 'sq8'` metric 'ip'; COSINE rides this same path over an
    * index whose store is L2-normalized copies — "cosine is encoded as
    * inner product over L2-normalized vectors", ivf_sq8.test:13). Probe
    * set = the exact dot-product ball bound; candidates by the negated-IP
    * ADC kernel; exact float rerank. */
  def knnIp(query: Seq[Float], k: Int, rerankFactor: Int = 5): DataFrame = {
    val probes = ivf.ipProbes(query, k)
    val pool = rerankFactor * k
    val approxDist: Column = (sq8, sq4) match {
      case (Some(q), _) => q.adcNegIp(col("code"), query)
      case (_, Some(q)) => q.adcNegIp(col("code"), query)
      case _ if rabitq =>
        // est x ≈ c + (rnorm/√d)·sign(r); <q,c> is a per-cluster scalar
        val ss = spark
        import ss.implicits._
        val qcs = probes.toSeq.map { i =>
          val c = ivf.centroids(i)
          (i, query.indices.map(j => query(j).toDouble * c(j)).sum)
        }.toDF("cluster", "qdotc")
        val cand0 = codes
          .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
          .join(broadcast(qcs), "cluster")
          .withColumn("adist", call_function("rabitq_adc_neg_ip",
            col("code"), col("rnorm"), typedlit(query), col("qdotc")))
          .orderBy(col("adist"), col("vec_id"))
          .limit(pool)
          .select("vec_id")
          .collect().map(longId)
        return rerankIp(query, k, probes, cand0)
      case _ if pq.isDefined =>
        // PQ codes decode to centroid residuals: ⟨q,x⟩ ≈ ⟨q,c⟩ +
        // Σ_sub ipLUT[sub][code[sub]] — one cluster-independent IP LUT
        // (literal, not joined) plus a broadcast per-cluster ⟨q,c⟩ scalar
        // (reference metric='ip' PQ indexes, inverted_index_ivf_pq.test §2;
        // compute_inner_prod_table, quantizer.cpp:853-860)
        val q = pq.get
        val ss = spark
        import ss.implicits._
        val ipLut = q.lutIp(query).toSeq
        val qcs = probes.toSeq.map { i =>
          val c = ivf.centroids(i)
          (i, query.indices.map(j => query(j).toDouble * c(j)).sum)
        }.toDF("cluster", "qdotc")
        val cand0 = codes
          .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
          .join(broadcast(qcs), "cluster")
          .withColumn("adist",
            -(col("qdotc") + q.adc(col("code"), typedlit(ipLut))))
          .orderBy(col("adist"), col("vec_id"))
          .limit(pool)
          .select("vec_id")
          .collect().map(longId)
        return rerankIp(query, k, probes, cand0)
      case _ => throw new IllegalStateException("no quantizer attached")
    }
    val cand = codes
      .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
      .withColumn("adist", approxDist)
      .orderBy(col("adist"), col("vec_id"))
      .limit(pool)
      .select("vec_id")
      .collect().map(longId)
    rerankIp(query, k, probes, cand)
  }

  /** Exact negated-IP rerank over raw floats for the pool ids only. */
  private def rerankIp(query: Seq[Float], k: Int, probes: Seq[Int],
      cand: Array[Long]): DataFrame =
    ivf.assignments
      .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
      .filter(col("vec_id").isin(cand.map(java.lang.Long.valueOf): _*))
      .withColumn("dist",
        -graft.functions.VectorFunctions.innerProduct(col("embedding"), typedlit(query)))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("dist"))

  /** Exact-rerank stage: raw floats for the pool ids only. */
  private def rerank(query: Seq[Float], k: Int, probes: Seq[Int],
      pool: Array[Long]): DataFrame =
    ivf.assignments
      .filter(col("cluster").isin(probes.map(Integer.valueOf): _*))
      .filter(col("vec_id").isin(pool.map(java.lang.Long.valueOf): _*))
      .withColumn("dist",
        graft.functions.VectorFunctions.l2SqrDistance(col("embedding"), typedlit(query)))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("dist"))
}

object QuantizedIvf {
  import Quantization._

  private val jvmCache = scala.collection.concurrent.TrieMap.empty[String, QuantizedIvf]

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(spark: SparkSession, p: String): String = {
    val in = fs(spark, p).open(new Path(p))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Build-or-load the SQ8 codes for an ensured IVF index. */
  def ensureSq8(spark: SparkSession, ivf: IvfIndex, ivfDir: String): QuantizedIvf =
    jvmCache.getOrElseUpdate(s"$ivfDir/sq8", {
      val meta = s"$ivfDir/_SQ8_META"
      val f = fs(spark, ivfDir)
      if (!f.exists(new Path(meta))) {
        val q = Sq8.train(ivf.assignments)
        ivf.assignments
          .select(col("vec_id"), col("cluster"), q.encode(col("embedding")).as("code"))
          .repartition(col("cluster"))
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$ivfDir/sq8")
        IvfIndex.writeAtomic(spark, meta, q.serialize) // marker LAST
      }
      val q = Sq8.deserialize(readText(spark, meta))
      QuantizedIvf(ivf, spark.read.parquet(s"$ivfDir/sq8"), Some(q), None)
    })

  /** Build-or-load the PQ codes for an ensured IVF index. */
  def ensurePq(spark: SparkSession, ivf: IvfIndex, ivfDir: String,
      m: Int, ksub: Int = 16): QuantizedIvf =
    jvmCache.getOrElseUpdate(s"$ivfDir/pq", {
      import spark.implicits._
      val meta = s"$ivfDir/_PQ_META"
      val f = fs(spark, ivfDir)
      if (!f.exists(new Path(meta))) {
        val q = Pq.train(ivf, m, ksub)
        val cents = ivf.centroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "cvec")
        ivf.assignments
          .join(broadcast(cents), "cluster")
          .select(col("vec_id"), col("cluster"),
            q.encode(col("embedding"), col("cvec")).as("code"))
          .repartition(col("cluster"))
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$ivfDir/pq")
        IvfIndex.writeAtomic(spark, meta, q.serialize)
      }
      val q = Pq.deserialize(readText(spark, meta))
      QuantizedIvf(ivf, spark.read.parquet(s"$ivfDir/pq"), None, Some(q))
    })

  /** Build-or-load the SQ4 codes (4-bit packed, ceil(d/2) bytes/vector). */
  def ensureSq4(spark: SparkSession, ivf: IvfIndex, ivfDir: String): QuantizedIvf =
    jvmCache.getOrElseUpdate(s"$ivfDir/sq4", {
      val meta = s"$ivfDir/_SQ4_META"
      val f = fs(spark, ivfDir)
      if (!f.exists(new Path(meta))) {
        val q = Sq4.train(ivf.assignments)
        ivf.assignments
          .select(col("vec_id"), col("cluster"), q.encode(col("embedding")).as("code"))
          .repartition(col("cluster"))
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$ivfDir/sq4")
        IvfIndex.writeAtomic(spark, meta, q.serialize)
      }
      val q = Sq4.deserialize(readText(spark, meta))
      QuantizedIvf(ivf, spark.read.parquet(s"$ivfDir/sq4"), None, None, sq4 = Some(q))
    })

  /** Build-or-load the RaBitQ codes: 1 sign bit per dim of the centroid
    * residual (d/8 bytes — a 32× storage cut) + the residual norm scalar
    * per vector. No trained state at all: the "quantizer" is the cluster
    * centroid set the IVF already carries, so a segment append never
    * retrains (reference: the rotation seed is a constant,
    * quantizer.cpp:85). */
  def ensureRabitq(spark: SparkSession, ivf: IvfIndex, ivfDir: String): QuantizedIvf =
    jvmCache.getOrElseUpdate(s"$ivfDir/rabitq", {
      import spark.implicits._
      val meta = s"$ivfDir/_RABITQ_META"
      val f = fs(spark, ivfDir)
      if (!f.exists(new Path(meta))) {
        val cents = ivf.centroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "cvec")
        ivf.assignments
          .join(broadcast(cents), "cluster")
          .select(col("vec_id"), col("cluster"),
            call_function("rabitq_bits", col("embedding"), col("cvec")).as("code"),
            sqrt(graft.functions.VectorFunctions.l2SqrDistance(col("embedding"),
              col("cvec").cast("array<float>"))).cast("float").as("rnorm"))
          .repartition(col("cluster"))
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$ivfDir/rabitq")
        IvfIndex.writeAtomic(spark, meta, "rabitq")
      }
      QuantizedIvf(ivf, spark.read.parquet(s"$ivfDir/rabitq"), None, None,
        rabitq = true)
    })

  /** Whether a quantized code family is loadable WITHOUT a build — in the
    * JVM cache or durable on disk (the `_<KIND>_META` marker is written
    * LAST by every build, so its presence implies complete codes). Claim
    * rules check this before [[ensureKind]]: planning must never run a
    * train+encode job inside `transformUp` (r17 ADVICE — e.g. a
    * registration restored from the persisted catalog on a fresh cluster
    * whose code artifact is gone); a missing family fails the quantized
    * probe and the claim falls back to the raw IVF path. */
  def availableKind(spark: SparkSession, ivfDir: String, kind: String): Boolean =
    jvmCache.contains(s"$ivfDir/$kind") ||
      fs(spark, ivfDir).exists(new Path(s"$ivfDir/_${kind.toUpperCase}_META"))

  /** Build-or-load by kind name (the `quant=` DDL option values). PQ uses
    * the DDL's `pq_m` when given; the unset default mirrors the reference
    * (catalog/index.cpp:367-384): the divisor of the dimension whose
    * subspace width dim/m lands closest to kTargetDsub = 2, ties to the
    * SMALLER m (the reference's ascending scan replaces only on a strictly
    * smaller diff). A persisted family loads with its OWN trained m from
    * `_PQ_META` regardless. */
  def ensureKind(spark: SparkSession, ivf: IvfIndex, ivfDir: String,
      kind: String, pqM: Option[Int] = None): QuantizedIvf = kind match {
    case "sq8" => ensureSq8(spark, ivf, ivfDir)
    case "sq4" => ensureSq4(spark, ivf, ivfDir)
    case "rabitq" => ensureRabitq(spark, ivf, ivfDir)
    case "pq" =>
      val dim = ivf.centroids.head.length
      ensurePq(spark, ivf, ivfDir, m = pqM.getOrElse(
        (1 to dim).filter(dim % _ == 0).minBy(m => math.abs(dim / m - 2))))
    case other => throw new IllegalArgumentException(s"unknown quant '$other'")
  }

  /** Invalidate cached loads under an index dir (DROP / REFRESH paths). */
  def invalidate(ivfDir: String): Unit = {
    jvmCache.remove(s"$ivfDir/sq8"); jvmCache.remove(s"$ivfDir/pq")
    jvmCache.remove(s"$ivfDir/sq4"); jvmCache.remove(s"$ivfDir/rabitq")
  }

  /** Rebuild whichever code families exist under an IVF dir after its
    * vectors changed (REFRESH append / recluster): codes must cover every
    * vector or the probe silently misses the new ones. Rebuild is one
    * encode pass over the assignments — the same cost the initial build
    * paid — and only runs for families that were actually materialized. */
  def refreshCodes(spark: SparkSession, ivf: IvfIndex, ivfDir: String): Unit = {
    val f = fs(spark, ivfDir)
    def drop(meta: String, sub: String): Boolean = {
      val existed = f.exists(new Path(meta))
      if (existed) { f.delete(new Path(meta), false)
        f.delete(new Path(s"$ivfDir/$sub"), true) }
      existed
    }
    invalidate(ivfDir)
    if (drop(s"$ivfDir/_SQ8_META", "sq8")) ensureSq8(spark, ivf, ivfDir)
    if (drop(s"$ivfDir/_SQ4_META", "sq4")) ensureSq4(spark, ivf, ivfDir)
    if (drop(s"$ivfDir/_RABITQ_META", "rabitq")) ensureRabitq(spark, ivf, ivfDir)
    val pqMeta = s"$ivfDir/_PQ_META"
    if (f.exists(new Path(pqMeta))) {
      val m = readText(spark, pqMeta).split("\n").head.split(",")(0).toInt
      f.delete(new Path(pqMeta), false)
      f.delete(new Path(s"$ivfDir/pq"), true)
      ensurePq(spark, ivf, ivfDir, m = m)
    }
  }
}
