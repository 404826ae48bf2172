package graft.index

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Cast, In, Literal, SortOrder, UnaryMinus}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StructType}
import graft.functions.{InnerProductExpr, L2SqrDistanceExpr, VectorFunctions}

/** IVF (inverted-file) index over an embedding column.
  *
  * Spark-native analogue of the reference's faiss-backed IVF
  * (/root/reference/libs/iresearch/include/iresearch/formats/ivf/clustering.cpp;
  * probe planning /root/reference/server/connector/optimizer/iresearch_plan.cpp:546-621):
  * Lloyd's k-means on a bounded driver-side sample plays the coarse
  * quantizer (see [[IvfIndex.build]]), vectors are stored
  * directory-partitioned by their nearest-centroid id, and a query probes a
  * subset of inverted lists — reading only their fraction of the data via
  * partition pruning, then exact distance + per-partition top-k + global O(k)
  * merge (the engine top-k). At 100 TB the only driver-side state is the
  * centroid table (k × dim doubles) plus k list radii and k list sizes.
  *
  * The number of inverted lists defaults to ≈√N (faiss's standard sizing):
  * fixed k would leave lists of N/k vectors that grow unboundedly with the
  * corpus, making every probe scan O(N).
  *
  * Probe strategies:
  *  - `nprobe > 0`: classic fixed-width ANN — scan the nprobe nearest lists.
  *    Recall is corpus-dependent (uniform-random data spreads true neighbors
  *    across many lists); callers tune per corpus.
  *  - `nprobe == 0` (default): EXACT static ball-bound probe, computed
  *    entirely from driver metadata (centroids + radii + sizes) with NO Spark
  *    job: take the nearest lists (by centroid distance) until their sizes
  *    sum to ≥ k; every point in those lists is within
  *    du = max(‖q−cᵢ‖ + rᵢ) of q, so the true kth distance d_k ≤ du. Then
  *    add every other list whose lower bound ‖q−cⱼ‖ − rⱼ ≤ du — by the
  *    triangle inequality no vector in a skipped list can be within d_k, so
  *    the merged result EQUALS brute force. Being metadata-only is what lets
  *    the ClaimAnnTopK optimizer rule plan a claimed query without running a
  *    distributed job inside `transformUp` (the round-5 scale defect). The
  *    bound du ≥ d_k is looser than a measured d_k, so on adversarial data
  *    the probe degrades gracefully toward a full scan — the price of
  *    exactness (verified both ways in IvfIndexSpec).
  */
final case class IvfIndex(
    assignments: DataFrame, // (vec_id, embedding, cluster)
    centroids: Array[Array[Double]],
    radii: Array[Double],
    sizes: Array[Long]) {

  def numLists: Int = centroids.length

  private def centroidDistSq(query: Seq[Double]): Array[(Double, Int)] =
    centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var j = 0
      while (j < c.length) { val d = c(j) - query(j); s += d * d; j += 1 }
      (s, i)
    }.sortBy(t => (t._1, t._2))

  private def distCol(q: Seq[Float]) =
    VectorFunctions.l2SqrDistance(col("embedding"), typedlit(q))

  /** The exact k-NN over the inverted lists `probes` as plan nodes,
    * `(vec_id, dist)`: the vectors relation, `cluster IN (probes)`
    * (partition-pruned by the optimizer), the native distance to `q` —
    * squared L2, or the negative inner product with `ip` — then
    * Sort(dist, vec_id) and the limit. Claim rules splice it into a query
    * as is; [[knn]] and [[knnIp]] are DataFrames over it. */
  def probePlan(probes: Seq[Int], q: Seq[Float], k: Int, ip: Boolean): LogicalPlan = {
    val vectors = assignments.queryExecution.analyzed match {
      case m: MultiInstanceRelation => m.newInstance()
      case other => other
    }
    def attr(name: String) = vectors.output.find(_.name == name).get
    val cluster = attr("cluster")
    val probed = Filter(
      In(cluster, probes.map(p => Cast(Literal(p), cluster.dataType))), vectors)
    val qLit = Literal.create(q, ArrayType(FloatType, containsNull = false))
    val dist = Alias(
      if (ip) UnaryMinus(InnerProductExpr(attr("embedding"), qLit))
      else L2SqrDistanceExpr(attr("embedding"), qLit), "dist")()
    val vecId = attr("vec_id")
    val sorted = Sort(Seq(SortOrder(dist.toAttribute, Ascending), SortOrder(vecId, Ascending)),
      global = true, Project(Seq(vecId, dist), probed))
    GlobalLimit(Literal(k), LocalLimit(Literal(k), sorted))
  }

  private def topK(probes: Seq[Int], q: Seq[Float], k: Int, ip: Boolean = false): DataFrame =
    Frames.ofRows(assignments.sparkSession, probePlan(probes, q, k, ip))

  /** The exact static ball-bound probe set for `query` (see class doc). */
  def exactProbes(query: Seq[Float], k: Int): Seq[Int] = {
    val (p1, p2) = ballProbes(query, k)
    p1 ++ p2
  }

  /** The two probe sets of the exact static ball-bound strategy: (nearest
    * lists holding ≥ k points, extra lists whose ball overlaps the upper
    * bound du on the kth distance). Pure driver arithmetic over (centroids,
    * radii, sizes) — no Spark job. Exposed so IvfIndexSpec can assert
    * pruning on clustered data and ClaimRuleSpec can assert job-free
    * planning. */
  def ballProbes(query: Seq[Float], k: Int): (Seq[Int], Seq[Int]) = {
    // empty lists carry no points: they neither tighten du nor need probing
    val byDist = centroidDistSq(query.map(_.toDouble)).filter(t => sizes(t._2) > 0)
    // minimal nearest-list prefix with >= k points (all lists if the corpus
    // holds fewer than k)
    var acc = 0L
    var n1 = 0
    while (n1 < byDist.length && acc < k) { acc += sizes(byDist(n1)._2); n1 += 1 }
    val phase1 = byDist.take(n1).map(_._2).toSeq
    val du =
      if (acc >= k)
        byDist.take(n1).map { case (dSq, i) => math.sqrt(dSq) + radii(i) }.max
      else Double.PositiveInfinity
    val extra = byDist.drop(n1).collect {
      case (dSq, i) if math.sqrt(dSq) - radii(i) <= du + 1e-9 => i
    }.toSeq
    (phase1, extra)
  }

  /** k-NN by L2. `nprobe > 0` = fixed-width approximate probe; `nprobe == 0`
    * (default) = exact static ball-bound probe (see class doc). Probe
    * selection is driver metadata math, so the returned plan is fully lazy. */
  def knn(query: Seq[Float], k: Int, nprobe: Int = 0): DataFrame = {
    val probes =
      if (nprobe > 0) centroidDistSq(query.map(_.toDouble)).take(nprobe).map(_._2).toSeq
      else exactProbes(query, k)
    topK(probes, query, k)
  }

  /** EXACT filtered k-NN — top-k by L2 among the CANDIDATE ids only (the
    * reference claims filtered ANN into the same iresearch scan with a
    * filter tree, iresearch_plan.cpp:546-621). No STATIC probe set can be
    * exact under a filter: a selective filter may leave the true neighbors
    * in any list, so the eligible-per-list counts are runtime facts. This
    * is therefore a driver-ADAPTIVE probe (AQE-style runtime refinement):
    *
    *  1. probe the nearest lists holding ≥ k points (as if unfiltered);
    *  2. top-k the FILTERED points inside them (semi-join on the candidate
    *     ids). With ≥ k survivors, the kth distance d_k plus the triangle
    *     inequality proves which unprobed lists could still matter
    *     (‖q−cⱼ‖ − rⱼ ≤ d_k); probe exactly those once more — after that
    *     re-score d_k can only shrink, so no further list can qualify.
    *  3. While < k survivors, double the probe set in centroid order.
    *
    * ≤ log₂(#lists)+1 rounds, each a partition-pruned job; driver state is
    * k rows per round. A filter that empties the near lists degrades toward
    * the full scan — the price of exactness. */
  def knnFiltered(query: Seq[Float], k: Int, candidates: DataFrame): DataFrame = {
    val spark = assignments.sparkSession
    import spark.implicits._
    val lists = centroidDistSq(query.map(_.toDouble))
      .filter(t => sizes(t._2) > 0)
      .map { case (dSq, i) => (i, math.sqrt(dSq)) } // centroid-distance order
    val cand = candidates.select(col("vec_id"))
    def topAmong(listIds: Seq[Int]): Array[(Long, Double)] =
      if (listIds.isEmpty) Array.empty
      else assignments.filter(col("cluster").isin(listIds: _*))
        .join(cand, Seq("vec_id"), "left_semi")
        .withColumn("dist", distCol(query))
        .orderBy(col("dist"), col("vec_id"))
        .limit(k)
        .select(col("vec_id"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val probedSet = scala.collection.mutable.LinkedHashSet.empty[Int]
    var acc = 0L
    lists.iterator.takeWhile(_ => acc < k).foreach { case (i, _) =>
      acc += sizes(i); probedSet += i
    }
    if (probedSet.isEmpty && lists.nonEmpty) probedSet += lists.head._1
    var top = topAmong(probedSet.toSeq)
    var go = true
    while (go) {
      val unprobed = lists.filterNot(l => probedSet.contains(l._1))
      if (unprobed.isEmpty) go = false
      else if (top.length >= k) {
        val dk = math.sqrt(top.last._2) // dist col is SQUARED l2
        val need = unprobed.collect {
          case (i, d) if d - radii(i) <= dk + 1e-9 => i }
        if (need.isEmpty) go = false
        else { probedSet ++= need; top = topAmong(probedSet.toSeq) }
        // after this re-score, every remaining list had lower bound > the
        // (only-shrinking) dk — the next iteration's need set is empty
      } else {
        probedSet ++= unprobed.take(math.max(probedSet.size, 1)).map(_._1)
        top = topAmong(probedSet.toSeq)
      }
    }
    top.toSeq.toDF("vec_id", "dist")
  }

  /** All vectors within squared L2 distance `rSq` of `query` — the
    * reference's ANN range claim (`TryClaimAnnRange`,
    * iresearch_plan.cpp:927-965) in the `ann_l2` score's units. List j can
    * hold a qualifying vector only if ‖q−cⱼ‖ − rⱼ ≤ r, so the probe set is
    * static metadata math like [[ballProbes]]; the exact distance filter
    * inside the probed lists makes the result exact. The probe bound takes
    * a sqrt (padded, superset-safe) but the exact row filter compares the
    * caller's threshold verbatim, so boundary rows match the row-eval
    * predicate bit-for-bit. */
  def rangeSearchSq(query: Seq[Float], rSq: Double): DataFrame = {
    val r = math.sqrt(math.max(rSq, 0.0))
    val probes = centroidDistSq(query.map(_.toDouble)).collect {
      case (dSq, i) if sizes(i) > 0 && math.sqrt(dSq) - radii(i) <= r + 1e-9 => i
    }.toSeq
    assignments
      .filter(col("cluster").isin(probes: _*))
      .withColumn("dist", distCol(query))
      .filter(col("dist") < lit(rSq)) // dist col is SQUARED l2
      .select(col("vec_id"), col("dist"))
  }

  /** k-NN by LARGEST inner product, exact via the dot-product ball bound:
    * dot(q,v) for v in list i lies in dot(q,cᵢ) ± ‖q‖rᵢ. Take lists by
    * upper bound until ≥ k points (their worst point still has
    * dot ≥ dl = min(dot(q,cᵢ) − ‖q‖rᵢ)), then add every list whose upper
    * bound reaches dl. Driver-metadata-only, like [[ballProbes]]. Returns
    * (vec_id, dist) with dist = −dot so ASC order = best-first, matching
    * the ann_ip score mapping (reference per-metric score emit,
    * duckdb_table_function.h:63-68). */
  /** Exact probe set for largest-inner-product retrieval: dot(q,v) for v in
    * list i lies in dot(q,cᵢ) ± ‖q‖rᵢ — take lists by upper bound until
    * ≥ k points, then every list whose upper bound reaches the worst kept
    * lower bound. Driver-metadata math like [[ballProbes]]; shared by the
    * raw and quantized IP paths. */
  def ipProbes(query: Seq[Float], k: Int): Seq[Int] = {
    val qd = query.map(_.toDouble)
    val qNorm = math.sqrt(qd.map(x => x * x).sum)
    val dots = centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * qd(j); j += 1 }
      (s, i)
    }
    val byUb = dots.collect { case (d, i) if sizes(i) > 0 => (d + qNorm * radii(i), i, d) }
      .sortBy(t => (-t._1, t._2))
    var acc = 0L
    var n1 = 0
    while (n1 < byUb.length && acc < k) { acc += sizes(byUb(n1)._2); n1 += 1 }
    val phase1 = byUb.take(n1)
    val dl =
      if (acc >= k) phase1.map { case (_, i, d) => d - qNorm * radii(i) }.min
      else Double.NegativeInfinity
    (phase1.map(_._2) ++ byUb.drop(n1).collect {
      case (ub, i, _) if ub >= dl - 1e-9 => i
    }).toSeq
  }

  def knnIp(query: Seq[Float], k: Int): DataFrame =
    topK(ipProbes(query, k), query, k, ip = true)
}

object IvfIndex {
  /** faiss-style list sizing: ≈√N lists, clamped to something trainable. */
  def autoK(n: Long): Int =
    math.max(4, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** faiss's `max_points_per_centroid`: the coarse quantizer trains on at
    * most this many sampled points per list (ivf/clustering.cpp). */
  val MaxPointsPerList = 256

  /** Lloyd's iterations of the coarse quantizer. */
  private val TrainIters = 20

  /** The share of `n` vectors the coarse quantizer trains on: at most
    * [[MaxPointsPerList]] per list, at ≈√n lists (autoK unrounded) or `k`.
    * Non-increasing in `n`, which [[Sample]] relies on. */
  private def sampleRate(n: Long, k: Int): Double = {
    val lists = if (k > 0) k.toDouble else math.max(4.0, math.min(4096.0, math.sqrt(n.toDouble)))
    math.min(1.0, MaxPointsPerList * lists / n)
  }

  /** A mergeable threshold sample: of the `(key, point)` pairs added, with
    * keys uniform in [0, 1), the ones whose key is below `sampleRate(n, k)`
    * for the count `n` of all pairs added. A pair dropped at a partial
    * count can never qualify at the larger final one, so each task and
    * each merge holds about the final sample's size, and the result does
    * not depend on how the input is partitioned. */
  private final class Sample(k: Int) extends Serializable {
    var n = 0L
    private var kept = scala.collection.mutable.ArrayBuffer.empty[(Double, Array[Double])]
    private var bound = 1.0
    private def trim(): Unit = {
      bound = sampleRate(n, k)
      kept = kept.filter(_._1 < bound)
    }
    def add(key: Double, point: => Array[Double]): this.type = {
      n += 1
      if (key < bound) {
        kept += key -> point
        // amortized: the rate falls slowly, trim when the buffer doubles
        if (kept.length > 2 * sampleRate(n, k) * n + 16) trim()
      }
      this
    }
    def merge(o: Sample): this.type = {
      n += o.n
      kept ++= o.kept
      trim()
      this
    }
    /** The sampled points in key order (coordinates break ties). */
    def points: Array[Array[Double]] = {
      trim()
      kept.sortWith { (a, b) =>
        a._1 < b._1 || a._1 == b._1 && java.util.Arrays.compare(a._2, b._2) < 0
      }.map(_._2).toArray
    }
  }

  /** Trains the coarse quantizer and assigns every vector. Deterministic
    * for a fixed seed and input. k ≤ 0 selects autoK(count).
    *
    *  1. One job returns the vector count and a bounded sample: the
    *     vectors whose seeded hash of their id falls below
    *     [[sampleRate]], about `MaxPointsPerList × k` of them (faiss's bound
    *     on the points it trains on; the whole corpus while it is smaller).
    *  2. Lloyd's iterations on the driver ([[Quantization.lloyd]], the
    *     k-means the PQ codebooks train with) from k-means|| starting points
    *     ([[Quantization.kmeansParallel]]) give the centroids. k is clamped
    *     to the sample's distinct vectors, so the starting points are
    *     distinct and an all-duplicates corpus gets one list at its mean.
    *  3. One assignment pass, persisted, gives each vector its nearest
    *     centroid; the per-list radii (max distance to the centroid) and
    *     sizes are its aggregate, and [[ensure]]'s `cluster=` and
    *     fingerprint writes read it. Rows with a NULL embedding are not
    *     indexed.
    *
    * The sample and the training live on the driver, single-threaded:
    * about 256·√n vectors against ≈√n lists, some 7,000 · n · dim
    * multiply-adds for the k-means|| start and 20 iterations. */
  def build(embs: DataFrame, idCol: String = "vec_id", embCol: String = "embedding",
      k: Int = 0, seed: Long = 42L): IvfIndex = {
    val feat = embs.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
      .filter(col("embedding").isNotNull)
    val sample = feat
      .select(xxhash64(lit(seed), col("vec_id")), col("embedding").cast("array<double>"))
      .queryExecution.toRdd
      .treeAggregate(new Sample(k))(
        // the hash's top 53 bits as a uniform key in [0, 1)
        (s, r) => s.add((r.getLong(0) >>> 11).toDouble / (1L << 53), r.getArray(1).toDoubleArray()),
        _ merge _)
    val n = sample.n
    if (n == 0)
      // the persisted form of an empty index reads back as zero centroids
      return IvfIndex(feat.withColumn("cluster", lit(0)), Array.empty, Array.empty, Array.empty)
    val kBound = if (k > 0) k else autoK(n)
    val pts = sample.points.take(MaxPointsPerList * kBound)
    val kk = math.min(kBound, pts.map(_.toSeq).distinct.length)
    val centroids = Quantization.lloyd(pts,
      Quantization.kmeansParallel(pts, kk, new scala.util.Random(seed)), TrainIters)
    val nearest = udf { (v: Seq[Double]) =>
      var best = 0; var bestD = Double.MaxValue; var j = 0
      while (j < centroids.length) {
        val c = centroids(j)
        var s = 0.0; var d = 0
        while (d < c.length) { val x = v(d) - c(d); s += x * x; d += 1 }
        if (s < bestD) { bestD = s; best = j }
        j += 1
      }
      (best, math.sqrt(bestD))
    }
    val assigned = feat
      .withColumn("_a", nearest(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("embedding"), col("_a._1").as("cluster"),
        col("_a._2").as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (radii, sizes) = assigned.select(col("cluster"), col("d")).queryExecution.toRdd
      .aggregate((new Array[Double](kk), new Array[Long](kk)))(
        { case ((r, s), row) =>
          val c = row.getInt(0)
          r(c) = math.max(r(c), row.getDouble(1)); s(c) += 1
          (r, s)
        },
        { case ((r1, s1), (r2, s2)) =>
          for (c <- 0 until kk) { r1(c) = math.max(r1(c), r2(c)); s1(c) += s2(c) }
          (r1, s1)
        })
    IvfIndex(assigned.drop("d"), centroids, radii, sizes)
  }

  /** Writes `assigned` (`vec_id, embedding, cluster`) as the
    * `cluster=`-partitioned vector store at `path`: hash-partitioned on
    * `cluster` over the session's cores, so each list is exactly one
    * file. */
  private def writeVectors(assigned: DataFrame, path: String): Unit =
    assigned.select(col("vec_id"), col("embedding"), col("cluster"))
      .repartition(assigned.sparkSession.sparkContext.defaultParallelism, col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** Writes the fingerprint manifest `(vec_id, fp=xxhash64(embedding))` of
    * `vectors` in one linear, shuffle-free pass: metadata-scale (16
    * bytes/vector) beside the embedding corpus, it is what REFRESH reads
    * instead of the stored embeddings. */
  private def writeFps(vectors: DataFrame, path: String): Unit =
    vectors.select(col("vec_id"), xxhash64(col("embedding")).as("fp"))
      .write.mode("overwrite").parquet(path)

  /** Canonical on-disk location for an ensured index. */
  def dirFor(cacheKey: String, k: Int = 0): String = {
    val kTag = if (k > 0) k.toString else "auto"
    s"${IndexStore.defaultRoot}/${IndexStore.slug(cacheKey)}-ivf$kTag-v${IndexStore.FormatVersion}"
  }

  /** One published version of an IVF index ([[Commit]]), its session-
    * independent state: the coarse quantizer (centroids, list radii and
    * sizes, the vector count it was trained on and the requested list
    * count), the vector roots (`vectors-N`, `cluster=`-partitioned; an
    * append adds one) and their schema, the fingerprint roots (`fps-N`),
    * and each quantized code family's trained state with its root
    * (`<kind>-N`), and an INCLUDE sidecar ([[FieldStore]]). An index over
    * no vectors names no vector roots. */
  private[index] final class State(spark: SparkSession, val version: Commit.Version) {
    private def field(name: String) = version.field(name).get
    private def doubles(n: JsonNode): Array[Double] = n.elements().asScala.map(_.asDouble).toArray
    val lists: Int = field("lists").asInt
    val trained: Long = field("trained").asLong
    val centroids: Array[Array[Double]] = field("centroids").elements().asScala.map(doubles).toArray
    val radii: Array[Double] = doubles(field("radii"))
    val sizes: Array[Long] = field("sizes").elements().asScala.map(_.asLong).toArray
    private val schema = DataType.fromJson(field("schema").asText).asInstanceOf[StructType]
    /** Code family → its serialized trained state. */
    val codes: Map[String, String] =
      field("codes").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    def roots(prefix: String): Seq[String] = version.files.filter(_.startsWith(prefix + "-"))

    private def frame(s: SparkSession, prefix: String, empty: => StructType): DataFrame =
      if (roots(prefix).isEmpty) s.createDataFrame(s.sparkContext.emptyRDD[Row], empty)
      else IndexStore.rebind(s, relation(prefix))
    private val relations = TrieMap.empty[String, HadoopFsRelation]
    private def relation(prefix: String): HadoopFsRelation =
      relations.getOrElseUpdate(prefix, IndexFile.relation(spark, roots(prefix).map(version.path)))

    /** The fingerprint manifest. */
    def fps(s: SparkSession): DataFrame =
      frame(s, "fps", new StructType().add(schema("vec_id")).add("fp", LongType, nullable = false))

    private val indexes = new Commit.PerSession[IvfIndex](s =>
      IvfIndex(frame(s, "vectors", schema), centroids, radii, sizes))
    def index(s: SparkSession): IvfIndex = indexes(s)

    private val families = TrieMap.empty[String, Commit.PerSession[QuantizedIvf]]
    /** The `kind` code family over `s`. */
    def quantized(s: SparkSession, kind: String): QuantizedIvf =
      families.getOrElseUpdate(kind, new Commit.PerSession(t =>
        QuantizedIvf.load(index(t), IndexStore.rebind(t, relation(kind)), kind, codes(kind))))(s)
  }

  private[index] def stateOf(spark: SparkSession, v: Commit.Version): State =
    v.memo("ivf")(new State(spark, v))

  /** The version of the index at `dir` a reader sees. */
  private def current(spark: SparkSession, dir: String): Option[State] =
    Commit.current(spark, dir).map(stateOf(spark, _))

  /** Whether an ensured index is published — loadable WITHOUT a build.
    * Claim rules check this before [[ensure]]: planning must never run a
    * training job inside `transformUp` (a missing artifact fails the claim
    * and the query keeps its exact sort). */
  def available(spark: SparkSession, cacheKey: String, k: Int = 0): Boolean =
    current(spark, dirFor(cacheKey, k)).nonEmpty

  /** Publishes the version after `base` naming `files`, with the coarse
    * quantizer, the code families' trained states, the source fingerprint
    * and the sidecar restaged over `restage`'s source, if any. */
  private def publish(spark: SparkSession, dir: String, base: Option[Commit.Version],
      files: Seq[String], centroids: Array[Array[Double]], radii: Array[Double],
      sizes: Array[Long], codes: Map[String, String], sourceFp: Option[String],
      restage: Option[FieldStore.Restage], fields: (String, Any)*): Unit = {
    val side = FieldStore.stage(spark, dir, base, Commit.nextNumber(base), restage,
      changed = true, sourceFp)
    Commit.publish(spark, dir, base, files ++ side.roots, Seq[(String, Any)](
      "centroids" -> centroids, "radii" -> radii, "sizes" -> sizes,
      "codes" -> codes.asJava) ++ sourceFp.map("sourceFp" -> _) ++ side.fields ++ fields: _*)
  }

  /** Builds the index over `embs` with `k` lists (0: auto) into new roots
    * and publishes them as the version after the latest one, dropping all of
    * its roots: the first build, a rebuild after rows were removed or
    * changed, or a recluster. The code families of the replaced version are
    * retrained over the new vectors and published in the same version, and
    * the sidecar restaged over `restage`'s source, if any. */
  private def write(spark: SparkSession, dir: String, embs: DataFrame, k: Int,
      sourceFp: Option[String], restage: Option[FieldStore.Restage]): Unit = {
    val base = Commit.latest(spark, dir)
    val n = Commit.nextNumber(base)
    val idx = build(embs, k = k)
    try {
      val stored = if (idx.sizes.sum == 0) Seq.empty else Seq(f"vectors-$n%08d", f"fps-$n%08d")
      if (stored.nonEmpty) {
        writeVectors(idx.assignments, s"$dir/${stored(0)}")
        writeFps(idx.assignments, s"$dir/${stored(1)}")
      }
      val codes = base.filter(_ => stored.nonEmpty)
        .fold(Map.empty[String, String])(stateOf(spark, _).codes).map { case (kind, state) =>
          kind -> QuantizedIvf.stage(idx, dir, kind, QuantizedIvf.trainedM(kind, state), n) }
      publish(spark, dir, base, stored ++ codes.values.map(_._1),
        idx.centroids, idx.radii, idx.sizes, codes.map { case (kind, (_, state)) => kind -> state },
        sourceFp, restage, "lists" -> k, "trained" -> idx.sizes.sum,
        "schema" -> idx.assignments.select("vec_id", "embedding", "cluster").schema.json)
    } finally idx.assignments.unpersist()
  }

  /** Build-or-load a persisted, cluster-partitioned copy (the durable form:
    * partition pruning on `cluster=` directories is what makes the probed
    * fraction of the data the actual IO cost). All metadata IO is Hadoop-FS
    * so the index works on HDFS/S3 unchanged. */
  def ensure(spark: SparkSession, embs: => DataFrame, cacheKey: String,
      k: Int = 0): IvfIndex = {
    val dir = dirFor(cacheKey, k)
    current(spark, dir).getOrElse {
      write(spark, dir, embs, k, None, None)
      current(spark, dir).get
    }.index(spark)
  }

  /** Load a BUILT index straight from its directory — REFRESH paths that
    * know the dir but not the cacheKey/lists it was ensured under. Throws
    * when no version is published. */
  def loadFrom(spark: SparkSession, dir: String): IvfIndex =
    current(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no IVF index at $dir")).index(spark)

  /** Rebuild the index at `dir` over `embs` as one version that replaces
    * every root (REFRESH or COMPACT after rows were removed or changed),
    * with the list count it was built with (`lists` when none is
    * published), the code families it carries, the sidecar restaged over
    * `restage`'s source, if any, and the source fingerprint `sourceFp`. */
  def rebuild(spark: SparkSession, dir: String, embs: DataFrame, lists: Int,
      sourceFp: Option[String], restage: Option[FieldStore.Restage]): Unit =
    write(spark, dir, embs, Commit.latest(spark, dir).fold(lists)(stateOf(spark, _).lists),
      sourceFp, restage)

  /** The fingerprint manifest `(vec_id, fp)` of the latest version, opened
    * without a Spark job. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    stateOf(spark, Commit.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no IVF index at $dir"))).fps(spark)

  /** Incremental append — the faiss add-after-train shape (the reference
    * keeps index snapshots alive across compactions rather than rebuilding,
    * inverted_index_storage.h:267-270): NEW vectors are assigned to the
    * EXISTING centroids in one broadcast-join pass (|delta| × k candidate
    * rows, min_by per vector — no retraining) and written as a new vector
    * root beside the old ones, with their fingerprints; the per-list
    * radii/sizes are merged with the delta's (max radius / summed count),
    * which keeps the ball-bound probe EXACT over the grown index. Code
    * families are retrained and re-encoded over every vector. All of it is
    * published as one version, so a reader sees the old index or the grown
    * one, never vectors outside the radii or codes missing vectors.
    *
    * Appending forever would let the data distribution drift away from the
    * trained centroids (lists bloat, probes widen): once the total grows
    * past `1 + driftRatio` of the size the centroids were TRAINED on, the
    * index re-clusters from scratch (at the new autoK, or the list count it
    * was created with) — the (rare, amortized) full rebuild instead of a
    * per-append one.
    *
    * The sidecar is restaged over `restage`'s source, or dropped without
    * one: appended vectors change the doc set. Returns (#appended, reclustered?).
    * Single-writer (the DDL path). */
  def append(spark: SparkSession, dir: String, newVecs: DataFrame,
      driftRatio: Double = 0.5, sourceFp: Option[String] = None,
      restage: Option[FieldStore.Restage] = None): (Long, Boolean) = {
    import spark.implicits._
    val base = Commit.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no IVF index at $dir to append to"))
    val st = stateOf(spark, base)
    // nearest-centroid assignment: broadcast the (tiny) centroid table,
    // min_by over the k candidates per vector — one shuffle on vec_id
    val cents = st.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "cvec")
    val d2 = aggregate(zip_with(col("embedding"), col("cvec"),
      (x, y) => (x.cast("double") - y) * (x.cast("double") - y)), lit(0.0), _ + _)
    val assigned = newVecs.select(col("vec_id"), col("embedding"))
      .join(broadcast(cents))
      .withColumn("d2", d2)
      .groupBy("vec_id")
      .agg(min_by(col("cluster"), col("d2")).as("cluster"),
        first(col("embedding")).as("embedding"),
        sqrt(min(col("d2"))).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val deltaMeta = assigned.groupBy("cluster")
        .agg(max(col("d")).as("r"), count(lit(1)).as("n"))
        .collect().map(r => r.getAs[Number](0).intValue -> ((r.getDouble(1), r.getLong(2)))).toMap
      val added = deltaMeta.values.map(_._2).sum
      if (added == 0) (0L, false)
      else if (st.sizes.sum + added > st.trained * (1.0 + driftRatio)) {
        // drift: re-cluster the whole store at the new scale
        write(spark, dir, st.index(spark).assignments.select("vec_id", "embedding")
          .unionByName(assigned.select("vec_id", "embedding")), st.lists, sourceFp, restage)
        (added, true)
      } else {
        val n = base.next
        val (vecRoot, fpsRoot) = (f"vectors-$n%08d", f"fps-$n%08d")
        writeVectors(assigned, s"$dir/$vecRoot")
        writeFps(assigned, s"$dir/$fpsRoot")
        val radii = st.radii.indices.map { i =>
          deltaMeta.get(i).fold(st.radii(i))(m => math.max(st.radii(i), m._1)) }.toArray
        val sizes = st.sizes.indices.map(i => st.sizes(i) + deltaMeta.get(i).fold(0L)(_._2)).toArray
        lazy val grown = IvfIndex(
          IndexStore.readParquet(spark, (st.roots("vectors") :+ vecRoot).map(base.path): _*),
          st.centroids, radii, sizes)
        val codes = st.codes.map { case (kind, state) =>
          kind -> QuantizedIvf.stage(grown, dir, kind, QuantizedIvf.trainedM(kind, state), n) }
        publish(spark, dir, Some(base),
          base.files.filterNot(f => FieldStore.isRoot(f) ||
            st.codes.keys.exists(k => f.startsWith(k + "-"))) ++
            Seq(vecRoot, fpsRoot) ++ codes.values.map(_._1),
          st.centroids, radii, sizes, codes.map { case (kind, (_, state)) => kind -> state },
          sourceFp, restage)
        (added, false)
      }
    } finally assigned.unpersist()
  }
}
