package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.analysis.WhitespaceAnalyzer

class DedupSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def docs = Tables.documents(spark, TestSpark.sfDir)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("LSH near-dup pairs equal the exact inverted-shingle pairs") {
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9))
    val lsh = pairSet(Dedup.minHashDedup(docs, "doc_id", "text", 0.9))
    assert(exact.nonEmpty, "testdata should contain near-dups")
    assert(lsh == exact)
  }

  test("native minhash_sig signatures are bit-identical to the UDF kernel") {
    val s = spark
    import org.apache.spark.sql.functions._
    // the spec cross-check the r16 VERDICT asked to keep: the retired UDF
    // path (ShingleAnalyzer + Analyzers.minHashSignature on the driver
    // types) against the codegen'd native pipeline Dedup now runs
    val shingle = graft.analysis.ShingleAnalyzer(
      graft.analysis.WhitespaceAnalyzer(lowercase = true), 3)
    val udfSig = udf((t: String) =>
      graft.analysis.Analyzers.minHashSignature(shingle.tokens(t), 64))
    val sample = docs.limit(200)
    val viaUdf = sample.select(col("doc_id"), udfSig(col("text")).as("sig"))
      .filter(size(col("sig")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaNative = Dedup.minHashSignatures(sample, "doc_id", "text",
        numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaNative.nonEmpty)
    assert(viaNative == viaUdf)
  }

  test("LSH is correct for numHashes != 128 (band-slice regression)") {
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9))
    val lsh = pairSet(
      Dedup.minHashDedup(docs, "doc_id", "text", 0.9, numHashes = 64, bands = 32))
    assert(lsh == exact)
  }

  test("bands must divide numHashes") {
    intercept[IllegalArgumentException](
      Dedup.minHashDedup(docs, "doc_id", "text", 0.9, numHashes = 64, bands = 48))
  }

  test("simhash banded pairs equal brute-force hamming pairs") {
    val sigs = Dedup.simHashSignatures(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def hamming(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs
      if ida < idb && hamming(sa, sb) <= 3
    } yield (ida, idb, hamming(sa, sb).toLong)).toSet
    val banded = pairSet(Dedup.simHashDedup(docs, "doc_id", "text", maxHamming = 3))
    assert(brute.nonEmpty)
    assert(banded == brute, "16-bit banding must be complete for hamming <= 3")
  }

  test("embedding near-dups equal brute force and never plan a nested-loop join") {
    val embs = Tables.embeddings(spark, TestSpark.sfDir)
    val idx = graft.index.IvfIndex.build(embs, k = 8)
    val out = Dedup.embeddingNearDups(idx, 0.45)

    // the metric-pruned block join must be EXACT: same pairs as all-pairs
    val vecs = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ip = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { ip += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      ip / math.sqrt(na * nb)
    }
    val brute = (for {
      (ida, ea) <- vecs; (idb, eb) <- vecs
      if ida < idb && cos(ea, eb) >= 0.45
    } yield (ida, idb)).toSet
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "testdata should contain passing pairs")
    assert(got == brute, "cluster-pair pruning must be complete and exact")

    // and the plan must be bucketed joins — no quadratic physical operator
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin"), phys.linesIterator.take(5).mkString("\n"))
    assert(!phys.contains("CartesianProduct"), phys.linesIterator.take(5).mkString("\n"))
  }

  test("exact groups really are exact duplicates") {
    val ws = WhitespaceAnalyzer(lowercase = true)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> ws.tokens(r.getString(1)).distinct.sorted).toMap
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.nonEmpty)
    // group sizes must sum to the duplicate mass implied by token-set equality
    val byTokenSet = texts.values.groupBy(identity).values.map(_.size).filter(_ > 1).toSeq
    assert(groups.map(_.getLong(1)).sorted.toSeq == byTokenSet.map(_.toLong).sorted)
  }

  test("connected components match union-find ground truth on a chain graph") {
    val s = spark
    import s.implicits._
    // 1-2-3-4 (chain: forces multi-round convergence), {10,11,12} triangle,
    // 20-21 pair, self-loop noise (ignored)
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (5L, 5L)).toDF("ida", "idb")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components agree with BFS over the real near-dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val got = Dedup.connectedComponents(pairs.select("ida", "idb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("dedup_canonical broadcasts a provably-small cluster map (r20)") {
    // the r19 audit left the cluster-map joins as SortMergeJoin because the
    // localCheckpointed CC frame has no stats; r20 keys the strategy off the
    // artifact's MEASURED row count — at test scale it provably fits the
    // broadcast budget, so the three cluster-map joins must all be
    // broadcast-hash (a corpus-order map would keep sort-merge)
    val out = graft.queries.DedupQueries.dedupCanonical(spark, TestSpark.sfDir)
    out.collect() // finalize the adaptive plan before asserting strategy
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("SortMergeJoin"),
      phys.linesIterator.take(12).mkString("\n"))
    assert(phys.contains("BroadcastHashJoin"),
      phys.linesIterator.take(12).mkString("\n"))
  }

  test("a broadcast threshold of -1 (broadcast joins off) never fits the cluster map") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(!graft.queries.DedupQueries.fitsBroadcast(s, 10L))
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1m")
    assert(graft.queries.DedupQueries.fitsBroadcast(s, 10L))
    assert(!graft.queries.DedupQueries.fitsBroadcast(s, 1L << 20))
  }
}
