package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.In
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.search.{TermPredicates, TsQuery}

/** The scoring leaf behind every scorer: one Spark task reads the terms'
  * postings, the docstats and the tombstones, and emits one row per matched
  * doc carrying the statistics the scorer formulas read — the reference's
  * postings walk into a top-k collector (duckdb_table_function.h:176-194,
  * top_k_heap.hpp) as a single leaf instead of a join/aggregate
  * composition. No shuffle, no broadcast. It has two modes.
  *
  * Term bag ([[leaf]], behind [[InvertedIndex.scoredTermsPlan]]): a row per doc
  * that has at least one live posting of a query term AND a docstats row:
  * `doc_id`, `dlen` (summed over live segments), and for each distinct term
  * `i` (in first-occurrence order) `i_tf`, `i_df`, `i_ctf` — null when the
  * doc lacks the term, like a pivot over the matched postings — plus
  * `gi_ctf`, the term's collection frequency for every doc (null when no
  * live doc holds the term). `df`/`ctf` count the live postings rows across
  * segments, which is the segment-summed term dictionary, and with
  * tombstones the live re-derivation [[IndexStore.load]] applies. A doc
  * with postings in several live segments takes the earliest segment's
  * `tf`.
  *
  * Expansion ([[expansionLeaf]], the scored multi-term leaves `Prefix`,
  * `Wildcard`, `Regexp`, `TermRange` and `Fuzzy` — the reference's
  * MultiTermQuery, multiterm_query.cpp:157-200): the task expands the live
  * segments' term dictionaries with the leaf's [[TermPredicates]] predicate
  * ([[IndexTask.Dictionary]], shared with [[MatchScan]]), reads only the
  * expanded terms' postings buckets, counts each term's live `df` (its live
  * postings rows), keeps a fuzzy leaf's [[IndexTask.capFuzzy]] most similar
  * live terms, and emits a row per doc with a docstats row and a live
  * posting of a kept term: `doc_id`, `dlen` and `terms`, one
  * `(term, tf, df, w)` entry per such posting, `w` the fuzzy similarity
  * boost (1 for the other leaves). [[ScoreKernels.expansion]] merges the
  * entries.
  *
  * Sources: an index loaded through [[IndexStore]] carries its snapshot's
  * [[IndexFiles]], so building the leaf is job-free and the task opens the
  * parquet files itself, pruned to the terms' hash buckets (a term bag also
  * pushes its term set to the reader). An index built in memory
  * ([[InvertedIndex.build]]) has no files; its task reads the postings,
  * docstats and term dictionary frames through one coalesced partition
  * each.
  *
  * `wand` is a bm25 `min_score` floor `(minScore, k1, b)` on a term bag:
  * once the task knows every term's live `df` and `max_tf`, it emits only
  * docs matching a term of the WAND necessary prefix
  * ([[InvertedIndex.wandNecessary]]) — docs outside it cannot reach the
  * floor. */
private[index] object TermBagScan {

  final case class Wand(minScore: Double, k1: Double, b: Double)

  /** The term-bag leaf as a plan node. */
  def leaf(idx: InvertedIndex, terms: Seq[String], wand: Option[Wand]): LogicalRelation =
    LogicalRelation(BagRelation(idx, terms, docType(idx), wand)(idx.postings.sparkSession.sqlContext))

  /** The expansion leaf of a multi-term leaf `q` as a plan node. */
  def expansionLeaf(idx: InvertedIndex, q: TsQuery): LogicalRelation =
    LogicalRelation(ExpansionRelation(idx, q, docType(idx), IndexTask.fuzzyCap())(
      idx.postings.sparkSession.sqlContext))

  /** The element type of the expansion leaf's `terms` column. */
  val entryType: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("w", DoubleType, nullable = false)))

  private def docType(idx: InvertedIndex): DataType = idx.postings.schema("doc_id").dataType

  /** A task's accumulator: the terms whose postings it reads, then their
    * live rows and the docstats rows, and the rows it emits. */
  private trait Acc {
    def terms: Seq[String]
    def posting(seg: Int, dead: IndexTask.Tombstones, c: IndexTask.Cols): Unit
    def docStat(seg: Int, dead: IndexTask.Tombstones, c: IndexTask.Cols): Unit
    def emit(): Iterator[InternalRow]
  }

  /** What both modes share: the index read, the size estimate and the row
    * format. The one task reads the term dictionary when the terms are not
    * `known` at planning, builds the mode's accumulator from it, and feeds
    * it the bucket-pruned postings of its terms (a known term set is also
    * pushed to the reader) and the docstats, with the tombstones
    * applied. */
  private abstract class Leaf(idx: InvertedIndex, docType: DataType) extends IndexLeaf {
    /** The terms, when known at planning (a term bag). */
    protected def known: Option[Seq[String]]

    /** The task's accumulator over the term dictionary it read; built from
      * locals, so the task closure never captures this relation. */
    protected def accumulator: IndexTask.Dictionary => Acc

    override def indexDir: Option[String] = idx.files.map(_.dir)

    /** At most one row per live doc. */
    override def sizeInBytes: Long =
      math.max(1L, idx.numDocs) * schema.defaultSize

    override def rows(): RDD[InternalRow] = {
      val spark = sqlContext.sparkSession
      val (dt, acc, readDict) = (docType, accumulator, known.isEmpty)
      val postCols = Seq("term", "doc_id", "tf")
      idx.files match {
        case Some(files) =>
          val reader = new IndexTask.Reader(spark)
          val termFilter = known.toSeq.map(ts => In("term", ts.distinct.toArray[Any]))
          val segs = files.segments.map { s =>
            (s,
              if (readDict) Some(reader.input(s.termDictSchema, Seq("term"), Nil, s.termDict))
              else None,
              reader.input(s.postingsSchema, postCols, termFilter, Nil),
              reader.input(s.docStatsSchema, Seq("doc_id", "dlen"), Nil, s.docStats))
          }
          val tombs = reader.tombstones(files)
          spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
            val dict = new IndexTask.Dictionary
            segs.foreach { case (_, t, _, _) => t.foreach(_.rows(dict.add)) }
            val a = acc(dict)
            val buckets = a.terms.map(IndexStore.bucketOf).toSet
            val dead = tombs.load(dt)
            if (a.terms.nonEmpty) segs.foreach { case (s, _, p, _) =>
              p.over(s.postingsIn(buckets)).rows(a.posting(s.segNo, dead, _))
            }
            segs.foreach { case (s, _, _, d) => d.rows(a.docStat(s.segNo, dead, _)) }
            a.emit()
          }
        case None =>
          // an in-memory index: its frames, one coalesced partition each
          def one(df: DataFrame) = IndexTask.onePartition(spark, df)
          val terms =
            if (readDict) one(idx.termDict.select(col("term")))
            else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
          val post = one(known.fold(idx.postings)(ts => idx.postingsForAny(ts.distinct))
            .select(col("term"), col("doc_id"), col("tf").cast(LongType)))
          val stats = one(idx.docStats.select(col("doc_id"), col("dlen").cast(LongType)))
          terms.zipPartitions(post, stats) { (t, p, d) =>
            val dict = new IndexTask.Dictionary
            val tc = new IndexTask.Cols(Seq(StringType))
            t.foreach(r => dict.add(tc.bind(r)))
            val a = acc(dict)
            val dead = new IndexTask.Tombstones(dt)
            val pc = new IndexTask.Cols(Seq(StringType, dt, LongType))
            p.foreach(r => a.posting(0, dead, pc.bind(r)))
            val dc = new IndexTask.Cols(Seq(dt, LongType))
            d.foreach(r => a.docStat(0, dead, dc.bind(r)))
            a.emit()
          }
      }
    }
  }

  private final case class BagRelation(idx: InvertedIndex, terms: Seq[String],
      docType: DataType, wand: Option[Wand])(@transient val sqlContext: SQLContext)
      extends Leaf(idx, docType) {

    override val schema: StructType =
      StructType(StructField("doc_id", docType, nullable = false) +:
        StructField("dlen", IntegerType, nullable = false) +:
        terms.distinct.indices.flatMap(i => Seq(s"${i}_tf", s"${i}_df", s"${i}_ctf", s"g${i}_ctf")
          .map(StructField(_, LongType, nullable = true))))

    override def toString: String = s"TermBagScan(${terms.mkString(" ")})"

    override protected def known: Option[Seq[String]] = Some(terms)

    override protected def accumulator: IndexTask.Dictionary => Acc = {
      val (ts, dt, numDocs, w) = (terms, docType, idx.numDocs, wand)
      _ => new Bag(ts, dt, numDocs, w)
    }
  }

  private final case class ExpansionRelation(idx: InvertedIndex, q: TsQuery,
      docType: DataType, fuzzyCap: Int)(@transient val sqlContext: SQLContext)
      extends Leaf(idx, docType) {

    override val schema: StructType = StructType(Seq(
      StructField("doc_id", docType, nullable = false),
      StructField("dlen", IntegerType, nullable = false),
      StructField("terms", ArrayType(entryType, containsNull = false), nullable = false)))

    override def toString: String = s"TermBagScan(expand $q)"

    override protected def known: Option[Seq[String]] = None

    override protected def accumulator: IndexTask.Dictionary => Acc = {
      val (leaf, dt, cap) = (q, docType, fuzzyCap)
      dict => new Expanded(leaf, dict.expand(Seq(leaf))(leaf), dt, cap)
    }
  }

  /** The expansion task's accumulator: each expanded term's live `df`, and
    * per doc its live `(term, tf)` postings and `dlen`. `df` counts every
    * live postings row of the term, a null doc id's too, as the term
    * dictionary does; a null doc id never joins its docstats row, so its
    * postings are not kept. */
  private final class Expanded(leaf: TsQuery, val terms: Seq[String], docType: DataType,
      fuzzyCap: Int) extends Acc {
    private val index: Map[UTF8String, Int] =
      terms.zipWithIndex.map { case (t, i) => UTF8String.fromString(t) -> i }.toMap
    private val df = new Array[Long](terms.size)
    private val docs = new java.util.HashMap[Any, Doc]

    private final class Doc {
      val postings = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var dlen = 0L
      var hasStats = false
    }

    /** One postings row `(term, doc_id, tf)` of segment `seg`. */
    def posting(seg: Int, dead: IndexTask.Tombstones, c: IndexTask.Cols): Unit =
      index.get(c.term(0)).foreach { i =>
        val doc = c.doc(1, docType)
        if (!dead.dead(doc, seg)) {
          df(i) += 1
          if (doc != null) {
            var d = docs.get(doc)
            if (d == null) { d = new Doc; docs.put(doc, d) }
            d.postings += ((i, c.long(2)))
          }
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
      val (kept, w): (Array[Boolean], Array[Double]) = leaf match {
        case f: TsQuery.Fuzzy =>
          val live = terms.indices.collect { case i if df(i) > 0 => terms(i) }
          val keep = IndexTask.capFuzzy(f, live, fuzzyCap).toSet
          (terms.map(keep.contains).toArray,
            terms.map(t => TermPredicates.fuzzySimilarity(f, UTF8String.fromString(t))).toArray)
        case _ => (Array.fill(terms.size)(true), Array.fill(terms.size)(1.0))
      }
      val names = terms.map(UTF8String.fromString).toArray
      import scala.jdk.CollectionConverters._
      docs.entrySet.iterator.asScala.flatMap { e =>
        val d = e.getValue
        val entries = d.postings.collect { case (i, tf) if kept(i) =>
          new GenericInternalRow(Array[Any](names(i), tf, df(i), w(i))): InternalRow
        }
        if (!d.hasStats || entries.isEmpty) None
        else Some(new GenericInternalRow(Array[Any](e.getKey, d.dlen.toInt,
          new GenericArrayData(entries.toArray[Any]))): InternalRow)
      }
    }
  }

  /** The task's accumulator: term statistics and per-doc tf/dlen. */
  private final class Bag(query: Seq[String], docType: DataType, numDocs: Long,
      wand: Option[Wand]) extends Acc {
    val terms: Seq[String] = query.distinct
    private val n = terms.size
    private val index: Map[UTF8String, Int] =
      terms.zipWithIndex.map { case (t, i) => UTF8String.fromString(t) -> i }.toMap
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
          val stats = terms.indices.collect {
            case i if df(i) > 0 => terms(i) -> (df(i).toDouble, maxTf(i).toDouble)
          }.toMap
          val (byUb, p) = InvertedIndex.wandNecessary(query, stats, numDocs,
            w.minScore, w.k1, w.b)
          val keep = byUb.take(p).toSet
          terms.map(keep.contains).toArray
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
