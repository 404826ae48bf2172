package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.index.{IndexStore, InvertedIndex}

case class Doc(doc_id: Long, text: String)

/** End-to-end streaming ingest: rows played through a MemoryStream in
  * several micro-batches must land in both the data parquet and the index,
  * and the incrementally-built index must answer identically to a one-shot
  * build (the SURVEY §7.4 BM25-drift risk, under real streaming machinery
  * with checkpointing). */
@graft.SlowTest
class StreamingIngestSpec extends AnyFunSuite {

  test("a batch whose publish crashed is applied once on replay, a published one never again") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.sfDir).select("doc_id", "text")
    val base = sys.props("java.io.tmpdir") + s"/graft-stream-crash-${System.nanoTime()}"
    val (tableDir, indexDir) = (s"$base/table", s"$base/index")
    def ingest(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingIngest.ingestBatch(batch, id, tableDir, indexDir, "doc_id", "text",
        "whitespace", compactionMaxSegments = 8)
    val (first, second) = (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    ingest(first, 0)
    // the index leg of batch 1 writes its segment and dies at the publish:
    // the batch id rides in the version that never published
    graft.index.PublishCrash(spark, indexDir)(ingest(second, 1))
    assert(!IndexStore.batchCommitted(spark, indexDir, 1))
    assert(IndexStore.listSegments(spark, indexDir).size == 1)
    ingest(second, 1) // the replay
    assert(IndexStore.batchCommitted(spark, indexDir, 1))
    ingest(second, 1) // a replay of a published batch changes nothing
    assert(IndexStore.listSegments(spark, indexDir).size == 2)
    val idx = IndexStore.load(spark, indexDir)
    assert(idx.numDocs == docs.count())
    assert(idx.docStats.count() == idx.docStats.select("doc_id").distinct().count())
  }

  test("two-leg streaming ingest matches one-shot index build") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").as[Doc].collect().toSeq
    val base = sys.props("java.io.tmpdir") + s"/graft-stream-${System.nanoTime()}"
    val (tableDir, indexDir, ckpt) = (s"$base/table", s"$base/index", s"$base/ckpt")

    val stream = MemoryStream[Doc]
    val q = StreamingIngest.start(stream.toDF(), tableDir, indexDir,
      "doc_id", "text", "whitespace", checkpointDir = ckpt,
      compactionMaxSegments = 8)
    try {
      docs.grouped(200).foreach { g => stream.addData(g); q.processAllAvailable() }
    } finally q.stop()

    // data leg: every row landed exactly once
    val landed = spark.read.parquet(s"$tableDir/data")
    assert(landed.count() == docs.size)
    assert(landed.select(countDistinct(col("doc_id"))).head().getLong(0) == docs.size)

    // index leg: merged segments answer like a one-shot build
    val streamed = IndexStore.load(spark, indexDir)
    val oneShot = InvertedIndex.build(
      Tables.documents(spark, TestSpark.sfDir), "doc_id", "text", "whitespace")
    assert(streamed.numDocs == oneShot.numDocs && streamed.sumDl == oneShot.sumDl)

    def dict(i: InvertedIndex) =
      i.termDict.select(col("term"), col("df").cast("long"), col("ctf").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(dict(streamed) == dict(oneShot))

    val terms = Seq("vector", "dup", "query")
    assert(streamed.bm25TopK(terms, 10).collect().map(_.getLong(0)).toSeq ==
      oneShot.bm25TopK(terms, 10).collect().map(_.getLong(0)).toSeq)
  }

  test("restart from checkpoint resumes without duplicating batches") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").as[Doc].collect().toSeq
    val base = sys.props("java.io.tmpdir") + s"/graft-stream-${System.nanoTime()}"
    def run(stream: MemoryStream[Doc]) = StreamingIngest.start(stream.toDF(),
      s"$base/table", s"$base/index", "doc_id", "text", "whitespace",
      checkpointDir = s"$base/ckpt", compactionMaxSegments = 50)

    // first incarnation: two batches, then 'crash' (stop)
    val s1 = MemoryStream[Doc]
    val q1 = run(s1)
    try {
      s1.addData(docs.take(150)); q1.processAllAvailable()
      s1.addData(docs.slice(150, 300)); q1.processAllAvailable()
    } finally q1.stop()

    // second incarnation: same checkpoint (the WAL-replay analogue). The
    // fresh MemoryStream restarts offsets at 0, so the already-committed
    // batches are re-offered as offsets 1-2 — recovery must skip them and
    // process only offset 3.
    val s2 = MemoryStream[Doc]
    s2.addData(docs.take(150))
    s2.addData(docs.slice(150, 300))
    s2.addData(docs.drop(300))
    val q2 = run(s2)
    try q2.processAllAvailable() finally q2.stop()

    val landed = spark.read.parquet(s"$base/table/data")
    assert(landed.select(countDistinct(col("doc_id"))).head().getLong(0) == docs.size)
    assert(landed.count() == docs.size, "no batch may apply twice across restarts")
    assert(IndexStore.load(spark, s"$base/index").numDocs == docs.size)
  }

  test("compaction kicks in past max segments and preserves answers") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").as[Doc].collect().toSeq.take(120)
    val base = sys.props("java.io.tmpdir") + s"/graft-stream-${System.nanoTime()}"

    val stream = MemoryStream[Doc]
    val q = StreamingIngest.start(stream.toDF(), s"$base/table", s"$base/index",
      "doc_id", "text", "whitespace", checkpointDir = s"$base/ckpt",
      compactionMaxSegments = 3)
    try {
      docs.grouped(20).foreach { g => stream.addData(g); q.processAllAvailable() }
    } finally q.stop()

    // 6 batches with max 3 segments → at least one compaction ran
    val segs = IndexStore.listSegments(spark, s"$base/index")
    assert(segs.size <= 4, s"expected compaction to bound segments, got $segs")
    val idx = IndexStore.load(spark, s"$base/index")
    assert(idx.numDocs == docs.size)
    val want = InvertedIndex.build(docs.toDF(), "doc_id", "text", "whitespace")
    assert(idx.termDict.count() == want.termDict.count())
  }
}
