package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One serialized HNSW graph node: `nbrs(l)` is the adjacency list at layer
  * `l`, for layers 0..level(vec_id). */
case class HnswNode(part: Int, vec_id: Long, embedding: Array[Float],
    nbrs: Array[Array[Long]])

/** HNSW ANN index (Malkov & Yashunin 2016), Spark-shaped.
  *
  * The reference builds per-segment HNSW graphs through faiss
  * (/root/reference/examples/demo4/demo.sql: `USING inverted (emb hnsw
  * (metric='cosine', m=32, ef_construction=64))`; sizing script
  * /root/reference/scripts/perf/hnsw_index_size.sh:10-18). The Spark
  * analogue is partition-local graphs + a global merge, mirroring how the
  * reference's index is per-segment with a cross-segment merge at query
  * time:
  *
  *  - BUILD: vectors are split into P partitions (pmod on vec_id —
  *    deterministic); each partition builds an independent in-memory HNSW
  *    graph in one `mapGroups` task (graph construction is inherently
  *    pointer-chasing, the genuine per-partition-imperative case); the
  *    graph is persisted as plain parquet rows of per-layer neighbor
  *    lists, in `graph-<n>` roots of versions published by [[Commit]]
  *    (see [[HnswIndex.append]]). Partition sizing targets graphs that fit
  *    executor memory
  *    (`autoPartitions` ≈ N/250k), so build parallelism and memory are both
  *    bounded at 100 TB.
  *  - SEARCH: each partition's graph walks its own beam (ef candidates,
  *    touching O(ef·M·log n) of its nodes — probes ≪ corpus, asserted in
  *    HnswIndexSpec) and emits its local top-k; the global answer is the
  *    O(k) merge of P local lists (the engine top-k). Layer levels
  *    derive from splitmix64(vec_id), so the whole structure is
  *    deterministic for a given partitioning — no RNG state in executors.
  *
  * Neighbor selection uses the simple closest-M heuristic (paper §4 algo 3
  * rather than the diversity heuristic of algo 4) — at M=16/ef=64 the
  * recall difference is negligible and the build stays branch-free.
  */
final class LocalHnsw(val m: Int, val efConstruction: Int) {
  val vecs = mutable.LongMap.empty[Array[Float]]
  val layers = mutable.ArrayBuffer.empty[mutable.LongMap[mutable.ArrayBuffer[Long]]]
  var entry: Long = -1L
  /** distance evaluations — exposed so tests can assert probes ≪ corpus */
  var distEvals: Long = 0L

  private def dist(a: Array[Float], b: Array[Float]): Double = {
    distEvals += 1
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }
  private def d(q: Array[Float], id: Long): Double = dist(q, vecs(id))
  def maxLevel: Int = layers.size - 1
  private def nbrs(level: Int, id: Long): mutable.ArrayBuffer[Long] =
    layers(level).getOrElseUpdate(id, mutable.ArrayBuffer.empty)

  /** Greedy descent: move to the (dist, id)-lexicographically best neighbor
    * until no improvement — monotone, so it cannot cycle. */
  private def greedy(q: Array[Float], ep0: Long, level: Int): Long = {
    var cur = ep0; var curD = d(q, cur); var improved = true
    while (improved) {
      improved = false
      val nb = layers(level).getOrElse(cur, mutable.ArrayBuffer.empty)
      var i = 0
      while (i < nb.length) {
        val x = nb(i); val dx = d(q, x)
        if (dx < curD || (dx == curD && x < cur)) { cur = x; curD = dx; improved = true }
        i += 1
      }
    }
    cur
  }

  /** Best-first beam of width ef at one layer; ascending (dist, id). */
  private def searchLayer(q: Array[Float], ep: Long, ef: Int,
      level: Int): mutable.ArrayBuffer[(Double, Long)] = {
    val ord = implicitly[Ordering[(Double, Long)]]
    val visited = mutable.HashSet[Long](ep)
    val cands = mutable.PriorityQueue.empty[(Double, Long)](ord.reverse) // min-first
    val res = mutable.PriorityQueue.empty[(Double, Long)](ord) // max-first
    val d0 = d(q, ep)
    cands.enqueue((d0, ep)); res.enqueue((d0, ep))
    var done = false
    while (!done && cands.nonEmpty) {
      val (cd, c) = cands.dequeue()
      if (res.size >= ef && cd > res.head._1) done = true
      else {
        val nb = layers(level).getOrElse(c, mutable.ArrayBuffer.empty)
        var i = 0
        while (i < nb.length) {
          val x = nb(i)
          if (!visited(x)) {
            visited += x
            val dx = d(q, x)
            if (res.size < ef || dx < res.head._1) {
              cands.enqueue((dx, x)); res.enqueue((dx, x))
              if (res.size > ef) res.dequeue()
            }
          }
          i += 1
        }
      }
    }
    mutable.ArrayBuffer.from(res.dequeueAll.reverseIterator) // ascending
  }

  def insert(id: Long, v: Array[Float]): Unit = {
    val l = HnswIndex.levelOf(id, m)
    vecs(id) = v
    if (entry < 0) {
      while (layers.size <= l) layers += mutable.LongMap.empty
      (0 to l).foreach(nbrs(_, id))
      entry = id
      return
    }
    val top = maxLevel
    var ep = entry
    var lc = top
    while (lc > l) { ep = greedy(v, ep, lc); lc -= 1 }
    lc = math.min(l, top)
    while (lc >= 0) {
      val w = searchLayer(v, ep, efConstruction, lc)
      val mmax = if (lc == 0) 2 * m else m
      val selected = w.take(m)
      nbrs(lc, id) ++= selected.map(_._2)
      selected.foreach { case (_, nb) =>
        val lst = nbrs(lc, nb)
        lst += id
        if (lst.length > mmax) {
          val nv = vecs(nb)
          val kept = lst.map(x => (dist(nv, vecs(x)), x)).sorted.take(mmax).map(_._2)
          lst.clear(); lst ++= kept
        }
      }
      ep = w.head._2
      lc -= 1
    }
    if (l > top) {
      while (layers.size <= l) layers += mutable.LongMap.empty
      (top + 1 to l).foreach(nbrs(_, id))
      entry = id
    }
  }

  /** `ef <= 0` = EXHAUSTIVE (exact) search: score every stored vector in
    * this partition graph — the degenerate beam. Guaranteed-exact unlike a
    * wide beam (a disconnected layer-0 component can hide a neighbor from
    * any beam); shares the partition-local-top-k + global O(k) merge path
    * with real searches, so the storage/merge legs are exercised
    * identically. */
  def knnLocal(q: Array[Float], k: Int, ef: Int): Seq[(Double, Long)] = {
    if (entry < 0) return Seq.empty
    if (ef <= 0)
      return vecs.iterator.map { case (id, v) => (dist(q, v), id) }
        .toSeq.sorted.take(k)
    var ep = entry
    var lc = maxLevel
    while (lc > 0) { ep = greedy(q, ep, lc); lc -= 1 }
    searchLayer(q, ep, math.max(ef, k), 0).take(k).toSeq
  }

  def toRows(part: Int): Iterator[HnswNode] = vecs.iterator.map { case (id, v) =>
    val lvl = math.min(HnswIndex.levelOf(id, m), maxLevel)
    HnswNode(part, id, v,
      Array.tabulate(lvl + 1)(l =>
        layers(l).getOrElse(id, mutable.ArrayBuffer.empty).toArray))
  }
}

object LocalHnsw {
  /** Rebuild a partition graph from its serialized rows (no re-insertion —
    * the adjacency is stored). Entry point = highest-level node, tie-broken
    * by id, matching the builder's final state. */
  def fromRows(m: Int, efConstruction: Int, rows: Iterator[HnswNode]): LocalHnsw = {
    val g = new LocalHnsw(m, efConstruction)
    var bestLvl = -1; var bestId = Long.MaxValue
    rows.foreach { r =>
      g.vecs(r.vec_id) = r.embedding
      val lvl = r.nbrs.length - 1
      while (g.layers.size <= lvl) g.layers += mutable.LongMap.empty
      var l = 0
      while (l <= lvl) { g.layers(l)(r.vec_id) = mutable.ArrayBuffer.from(r.nbrs(l)); l += 1 }
      if (lvl > bestLvl || (lvl == bestLvl && r.vec_id < bestId)) {
        bestLvl = lvl; bestId = r.vec_id
      }
    }
    g.entry = if (bestLvl < 0) -1L else bestId
    g
  }
}

final case class HnswIndex(graph: Dataset[HnswNode], m: Int, efConstruction: Int) {

  /** k-NN by L2: per-partition beam search, global O(k) merge. `ef` trades
    * recall for probe width inside each partition graph; `ef <= 0` runs the
    * exhaustive (exact) per-partition scan (see LocalHnsw.knnLocal). */
  def knn(query: Seq[Float], k: Int, ef: Int = 64): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val q = query.toArray
    val (mm, efc) = (m, efConstruction)
    graph.groupByKey(_.part)
      .flatMapGroups { (_, rows) =>
        LocalHnsw.fromRows(mm, efc, rows).knnLocal(q, k, ef).iterator
      }
      .toDF("dist", "vec_id")
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("dist"))
  }
}

object HnswIndex {
  /** Deterministic layer level: geometric with mL = 1/ln(M), the uniform
    * drawn from splitmix64(vec_id) — no executor RNG state, rebuildable
    * bit-for-bit. */
  def levelOf(id: Long, m: Int): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    val u = ((z >>> 11).toDouble + 0.5) / (1L << 53).toDouble
    math.min(31, (-math.log(u) / math.log(m.toDouble)).toInt)
  }

  /** Graphs sized to executor memory: ≈250k vectors per partition graph. */
  def autoPartitions(n: Long): Int =
    math.max(1, math.min(1024, math.ceil(n / 250000.0).toInt))

  def build(embs: DataFrame, idCol: String = "vec_id", embCol: String = "embedding",
      m: Int = 16, efConstruction: Int = 64, partitions: Int = 0): HnswIndex = {
    val spark = embs.sparkSession
    import spark.implicits._
    val src = embs.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).as("embedding"))
    val p = if (partitions > 0) partitions else autoPartitions(src.count())
    val (mm, efc) = (m, efConstruction)
    val nodes = src
      .withColumn("part", pmod(col("vec_id"), lit(p)).cast("int"))
      .as[(Long, Array[Float], Int)]
      .groupByKey(_._3)
      .flatMapGroups { (part, rows) =>
        val g = new LocalHnsw(mm, efc)
        // insertion order fixed by id so the graph is deterministic
        rows.toSeq.sortBy(_._1).foreach { case (id, v, _) => g.insert(id, v) }
        g.toRows(part)
      }
    HnswIndex(nodes, m, efConstruction)
  }

  /** The graph a published version ([[Commit]]) names: its `graph-<n>`
    * roots (a rebuild writes one, an append adds a delta), loaded once per
    * session. The version's fields hold its partition and vector counts. */
  private def graphOf(spark: SparkSession, v: Commit.Version, m: Int, efc: Int): HnswIndex =
    v.memo("hnsw")(new Commit.PerSession[HnswIndex]({ s =>
      import s.implicits._
      HnswIndex(IndexStore.readParquet(s, v.files.map(v.path): _*).as[HnswNode], m, efc)
    }))(spark)

  /** Writes `graph` as the root numbered `n` and publishes the version after
    * `base` naming it beside `kept`. */
  private def publish(spark: SparkSession, dir: String, base: Option[Commit.Version],
      kept: Seq[String], graph: HnswIndex, parts: Int, vectors: Long): Unit = {
    val root = f"graph-${Commit.nextNumber(base)}%08d"
    graph.graph.write.mode("overwrite").parquet(s"$dir/$root")
    Commit.publish(spark, dir, base, kept :+ root, "parts" -> parts, "vectors" -> vectors)
  }

  /** Incremental append for a persisted graph — the reference's
    * per-segment shape (new segments get their own graphs; query-time
    * merge spans them, inverted_index_storage.h:267-270): the delta builds
    * its OWN partition-local graphs, numbered after the existing
    * partitions, as a new root published beside the existing ones. Search
    * already merges per-partition local top-k lists, so recall properties
    * are per-graph and unaffected by the append; exhaustive mode
    * (`ef <= 0`) stays exact. When accumulated appends would leave more
    * than 2× the partition count autoPartitions would pick for the total,
    * the graph rebuilds once at the new scale into one root published
    * alone — amortized, like IVF's drift re-cluster. A crash before either
    * publish leaves the previous version serving. Returns (#appended,
    * rebuilt?). */
  def append(spark: SparkSession, cacheKey: String, newVecs: DataFrame,
      m: Int = 16, efConstruction: Int = 64, partitions: Int = 0): (Long, Boolean) = {
    val dir = dirFor(cacheKey, m, efConstruction, partitions)
    val base = Commit.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no HNSW graph at $dir to append to"))
    val (parts, n) = (base.field("parts").get.asInt, base.field("vectors").get.asLong)
    val nd = newVecs.count()
    if (nd == 0) return (0L, false)
    val deltaParts = autoPartitions(nd)
    if (parts + deltaParts > 2 * autoPartitions(n + nd)) {
      // too many small segment graphs: each adds a beam at query time
      val all = graphOf(spark, base, m, efConstruction).graph.select(col("vec_id"), col("embedding"))
        .unionByName(newVecs.select(col("vec_id").cast("long"), col("embedding"))).distinct()
      val p = if (partitions > 0) partitions else autoPartitions(n + nd)
      publish(spark, dir, Some(base), Nil,
        build(all, m = m, efConstruction = efConstruction, partitions = p), p, n + nd)
      (nd, true)
    } else {
      val ss = spark
      import ss.implicits._
      val delta = build(newVecs, partitions = deltaParts, m = m, efConstruction = efConstruction)
      publish(spark, dir, Some(base), base.files,
        HnswIndex(delta.graph.map(node => node.copy(part = node.part + parts)), m, efConstruction),
        parts + deltaParts, n + nd)
      (nd, false)
    }
  }

  def dirFor(cacheKey: String, m: Int = 16, efConstruction: Int = 64,
      partitions: Int = 0): String = {
    s"${IndexStore.defaultRoot}/${IndexStore.slug(cacheKey)}-hnsw$m-$efConstruction-$partitions-v${IndexStore.FormatVersion}"
  }

  /** Build-or-load the persisted graph (parquet neighbor lists; Hadoop-FS
    * metadata IO only, so HDFS/S3 work unchanged): the current version's,
    * or a first build published as version 1. */
  def ensure(spark: SparkSession, embs: => DataFrame, cacheKey: String,
      m: Int = 16, efConstruction: Int = 64, partitions: Int = 0): HnswIndex = {
    val dir = dirFor(cacheKey, m, efConstruction, partitions)
    val v = Commit.current(spark, dir).getOrElse {
      val src = embs
      val n = src.count()
      val p = if (partitions > 0) partitions else autoPartitions(n)
      publish(spark, dir, None, Nil,
        build(src, m = m, efConstruction = efConstruction, partitions = p), p, n)
      Commit.current(spark, dir).get
    }
    graphOf(spark, v, m, efConstruction)
  }
}
