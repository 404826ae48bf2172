package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, In, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The term-bag scoring leaf behind every [[InvertedIndex.scoredTerms]]
  * scorer: one Spark task reads the query terms' postings, the docstats and
  * the tombstones, and emits one row per matched doc carrying the statistics
  * the scorer formulas read — the reference's postings walk into a top-k
  * collector (duckdb_table_function.h:176-194, top_k_heap.hpp) as a single
  * leaf instead of a join/aggregate composition. No shuffle, no broadcast.
  *
  * Row per doc that has at least one live posting of a query term AND a
  * docstats row: `doc_id`, `dlen` (summed over live segments), and for each
  * distinct term `i` (in first-occurrence order) `i_tf`, `i_df`, `i_ctf` —
  * null when the doc lacks the term, like a pivot over the matched postings
  * — plus `gi_ctf`, the term's collection frequency for every doc (null when
  * no live doc holds the term). `df`/`ctf` count the live postings rows
  * across segments, which is the segment-summed term dictionary, and with
  * tombstones the live re-derivation [[IndexStore.load]] applies. A doc with
  * postings in several live segments takes the earliest segment's `tf`.
  *
  * Sources: an index loaded through [[IndexStore]] carries its snapshot's
  * [[IndexFiles]], so building the leaf is job-free and the task opens the
  * parquet files itself, pruned to the terms' hash buckets with the term set
  * pushed to the reader. An index built in memory
  * ([[InvertedIndex.build]]) has no files; its task reads the postings and
  * docstats frames through one coalesced partition each.
  *
  * `wand` is a bm25 `min_score` floor `(minScore, k1, b)`: once the task
  * knows every term's live `df` and `max_tf`, it emits only docs matching a
  * term of the WAND necessary prefix ([[InvertedIndex.wandNecessary]]) —
  * docs outside it cannot reach the floor. */
private[index] object TermBagScan {

  final case class Wand(minScore: Double, k1: Double, b: Double)

  /** The leaf as a plan node. */
  def leaf(idx: InvertedIndex, terms: Seq[String], wand: Option[Wand]): LogicalRelation = {
    val spark = idx.postings.sparkSession
    val docType = idx.postings.schema("doc_id").dataType
    LogicalRelation(Relation(idx, terms, docType, wand)(spark.sqlContext))
  }

  private final case class Relation(idx: InvertedIndex, terms: Seq[String],
      docType: DataType, wand: Option[Wand])(@transient val sqlContext: SQLContext)
      extends BaseRelation with TableScan with IndexLeaf {
    private val distinct = terms.distinct

    override def indexDir: Option[String] = idx.files.map(_.dir)

    override val schema: StructType =
      StructType(StructField("doc_id", docType, nullable = false) +:
        StructField("dlen", IntegerType, nullable = false) +:
        distinct.indices.flatMap(i => Seq(s"${i}_tf", s"${i}_df", s"${i}_ctf", s"g${i}_ctf")
          .map(StructField(_, LongType, nullable = true))))

    /** At most one row per live doc. */
    override def sizeInBytes: Long =
      math.max(1L, idx.numDocs) * schema.defaultSize

    override def needConversion: Boolean = false

    override def toString: String = s"TermBagScan(${terms.mkString(" ")})"

    override def buildScan(): RDD[Row] = {
      val spark = sqlContext.sparkSession
      // locals, so the task closures never capture this relation
      val (ts, dt, numDocs, w) = (terms, docType, idx.numDocs, wand)
      val rdd: RDD[InternalRow] = idx.files match {
        case Some(files) =>
          val buckets = distinct.map(IndexStore.bucketOf).toSet
          val reader = new IndexTask.Reader(spark)
          val termFilter = Seq(In("term", distinct.toArray[Any]))
          val segs = files.segments.map { s =>
            (s.segNo,
              reader.input(s.postingsSchema, Seq("term", "doc_id", "tf"), termFilter,
                s.postingsIn(buckets)),
              reader.input(s.docStatsSchema, Seq("doc_id", "dlen"), Nil, s.docStats))
          }
          val tombs = reader.tombstones(files)
          spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
            val bag = new Bag(ts, dt, numDocs, w)
            val dead = tombs.load(dt)
            segs.foreach { case (segNo, p, _) => p.rows(bag.posting(segNo, dead, _)) }
            segs.foreach { case (segNo, _, d) => d.rows(bag.docStat(segNo, dead, _)) }
            bag.emit()
          }
        case None =>
          // an in-memory index: its frames, one coalesced partition each
          val post = IndexTask.onePartition(spark, idx.postingsForAny(distinct)
            .select(col("term"), col("doc_id"), col("tf").cast(LongType)))
          val stats = IndexTask.onePartition(spark,
            idx.docStats.select(col("doc_id"), col("dlen").cast(LongType)))
          val postTypes = Seq(StringType, dt, LongType)
          val statTypes = Seq(dt, LongType)
          post.zipPartitions(stats) { (p, d) =>
            val bag = new Bag(ts, dt, numDocs, w)
            val dead = new IndexTask.Tombstones(dt)
            val pc = new IndexTask.Cols(postTypes)
            p.foreach(r => bag.posting(0, dead, pc.bind(r)))
            val dc = new IndexTask.Cols(statTypes)
            d.foreach(r => bag.docStat(0, dead, dc.bind(r)))
            bag.emit()
          }
      }
      rdd.asInstanceOf[RDD[Row]]
    }
  }

  /** The task's accumulator: term statistics and per-doc tf/dlen. */
  private final class Bag(terms: Seq[String], docType: DataType, numDocs: Long,
      wand: Option[Wand]) {
    private val distinct = terms.distinct
    private val n = distinct.size
    private val index: Map[UTF8String, Int] =
      distinct.zipWithIndex.map { case (t, i) => UTF8String.fromString(t) -> i }.toMap
    private val df = new Array[Long](n)
    private val ctf = new Array[Long](n)
    private val maxTf = new Array[Long](n)
    private val docs = new java.util.HashMap[Any, Doc]

    private final class Doc {
      val tf: Array[Long] = Array.fill(n)(-1L)
      var dlen = 0L
      var hasStats = false
    }

    /** One postings row `(term, doc_id, tf)` of segment `seg`. A null doc
      * id never joins its docstats row, so it is skipped. */
    def posting(seg: Int, dead: IndexTask.Tombstones, c: IndexTask.Cols): Unit =
      index.get(c.term(0)).foreach { i =>
        val doc = c.doc(1, docType)
        if (doc != null && !dead.dead(doc, seg)) {
          val tf = c.long(2)
          df(i) += 1
          ctf(i) += tf
          maxTf(i) = math.max(maxTf(i), tf)
          var d = docs.get(doc)
          if (d == null) { d = new Doc; docs.put(doc, d) }
          if (d.tf(i) < 0) d.tf(i) = tf
        }
      }

    /** One docstats row `(doc_id, dlen)` of segment `seg`. */
    def docStat(seg: Int, dead: IndexTask.Tombstones, c: IndexTask.Cols): Unit = {
      val doc = c.doc(0, docType)
      val d = docs.get(doc)
      if (d != null && !dead.dead(doc, seg)) {
        d.dlen += c.long(1)
        d.hasStats = true
      }
    }

    def emit(): Iterator[InternalRow] = {
      val necessary: Array[Boolean] = wand match {
        case None => Array.fill(n)(true)
        case Some(w) =>
          val stats = distinct.indices.collect {
            case i if df(i) > 0 => distinct(i) -> (df(i).toDouble, maxTf(i).toDouble)
          }.toMap
          val (byUb, p) = InvertedIndex.wandNecessary(terms, stats, numDocs,
            w.minScore, w.k1, w.b)
          val keep = byUb.take(p).toSet
          distinct.map(keep.contains).toArray
      }
      import scala.jdk.CollectionConverters._
      docs.entrySet.iterator.asScala.collect {
        case e if e.getValue.hasStats &&
            e.getValue.tf.indices.exists(i => necessary(i) && e.getValue.tf(i) >= 0) =>
          val d = e.getValue
          val out = new Array[Any](2 + 4 * n)
          out(0) = e.getKey
          out(1) = d.dlen.toInt
          var i = 0
          while (i < n) {
            if (d.tf(i) >= 0) {
              out(2 + 4 * i) = d.tf(i)
              out(3 + 4 * i) = df(i)
              out(4 + 4 * i) = ctf(i)
            }
            if (df(i) > 0) out(5 + 4 * i) = ctf(i)
            i += 1
          }
          new GenericInternalRow(out): InternalRow
      }
    }
  }
}
