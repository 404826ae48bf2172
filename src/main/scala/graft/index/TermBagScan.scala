package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, In, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One parquet file of an index part, as a scoring task opens it. */
final case class IndexFile(path: String, length: Long, mtime: Long) {
  def toPartitionedFile: PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(path)), 0L, length,
      Array.empty[String], mtime, length)
}

object IndexFile {
  /** Every data file of `rel` with its hash bucket (None for files outside
    * `bucket=K` dirs: an empty segment keeps `bucket` as a data column). A
    * listing of the relation's cached file index — no IO. */
  def listing(rel: HadoopFsRelation): Seq[(Option[Int], IndexFile)] = {
    val bucketAt = rel.partitionSchema.fieldNames.indexOf("bucket")
    rel.location.listFiles(Nil, Nil).flatMap { dir =>
      val bucket =
        if (bucketAt < 0) None
        else Some(dir.values.get(bucketAt, rel.partitionSchema(bucketAt).dataType).toString.toInt)
      dir.files.map(f => bucket -> IndexFile(f.getPath.toString, f.getLen, f.getModificationTime))
    }
  }
}

/** One live segment's files: postings by hash bucket, and docstats. */
final case class SegmentFiles(segNo: Int,
    postingsSchema: StructType, postings: Seq[(Option[Int], IndexFile)],
    docStatsSchema: StructType, docStats: Seq[IndexFile]) {
  /** Postings files that can hold any of `buckets`. */
  def postingsIn(buckets: Set[Int]): Seq[IndexFile] =
    postings.collect { case (b, f) if b.forall(buckets.contains) => f }
}

/** The files of one reader snapshot that a scoring task reads: the live
  * segments in manifest order, the parquet tombstone generations at or above
  * the floor, and the legacy `_DELETES` lines as `(doc_id, max_seg)`. */
final case class IndexFiles(segments: Seq[SegmentFiles],
    tombstoneSchema: StructType, tombstones: Seq[IndexFile],
    legacyTombstones: Seq[(Long, Int)])

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

  def frame(idx: InvertedIndex, terms: Seq[String], wand: Option[Wand]): DataFrame = {
    val spark = idx.postings.sparkSession
    val docType = idx.postings.schema("doc_id").dataType
    spark.baseRelationToDataFrame(
      Relation(idx, terms, docType, wand)(spark.sqlContext))
  }

  private final case class Relation(idx: InvertedIndex, terms: Seq[String],
      docType: DataType, wand: Option[Wand])(@transient val sqlContext: SQLContext)
      extends BaseRelation with TableScan {
    private val distinct = terms.distinct

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
          val fmt = new ParquetFileFormat
          val readers = scala.collection.mutable.Map.empty[StructType,
            PartitionedFile => Iterator[InternalRow]]
          def input(data: StructType, cols: Seq[String],
              filters: Seq[org.apache.spark.sql.sources.Filter], in: Seq[IndexFile]): Input = {
            val required = StructType(cols.map(data(_)))
            // a fresh conf per reader: the build writes the requested schema
            // into the conf it broadcasts
            val read = readers.getOrElseUpdate(required,
              fmt.buildReaderWithPartitionValues(spark, data, StructType(Nil), required,
                filters, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
                spark.sessionState.newHadoopConf()))
            Input(read, required.map(_.dataType), in.map(_.toPartitionedFile))
          }
          val termFilter = Seq(In("term", distinct.toArray[Any]))
          val segs = files.segments.map { s =>
            (s.segNo,
              input(s.postingsSchema, Seq("term", "doc_id", "tf"), termFilter,
                s.postingsIn(buckets)),
              input(s.docStatsSchema, Seq("doc_id", "dlen"), Nil, s.docStats))
          }
          val tombs =
            if (files.tombstones.isEmpty) None
            else Some(input(files.tombstoneSchema, Seq("doc_id", "max_seg"), Nil,
              files.tombstones))
          val legacy = files.legacyTombstones
          spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
            val bag = new Bag(ts, dt, numDocs, w)
            val dead = new Tombstones(dt)
            legacy.foreach { case (d, m) => dead.add(d, m) }
            tombs.foreach(_.rows(r => dead.add(r.long(0), r.int(1))))
            segs.foreach { case (segNo, p, _) => p.rows(bag.posting(segNo, dead, _)) }
            segs.foreach { case (segNo, _, d) => d.rows(bag.docStat(segNo, dead, _)) }
            bag.emit()
          }
        case None =>
          // an in-memory index: its frames, one coalesced partition each
          def onePartition(df: DataFrame): RDD[InternalRow] = {
            val rdd = df.queryExecution.toRdd
            if (rdd.getNumPartitions == 0) spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
            else rdd.coalesce(1)
          }
          val post = onePartition(idx.postingsForAny(distinct)
            .select(col("term"), col("doc_id"), col("tf").cast(LongType)))
          val stats = onePartition(
            idx.docStats.select(col("doc_id"), col("dlen").cast(LongType)))
          val postTypes = Seq(StringType, dt, LongType)
          val statTypes = Seq(dt, LongType)
          post.zipPartitions(stats) { (p, d) =>
            val bag = new Bag(ts, dt, numDocs, w)
            val dead = new Tombstones(dt)
            val pc = new Input.Cols(postTypes)
            p.foreach(r => bag.posting(0, dead, pc.bind(r)))
            val dc = new Input.Cols(statTypes)
            d.foreach(r => bag.docStat(0, dead, dc.bind(r)))
            bag.emit()
          }
      }
      rdd.asInstanceOf[RDD[Row]]
    }
  }

  /** Files of one index part, the reader that opens them and the types of
    * the columns it returns; rows reach `f` through [[Input.Cols]]. */
  private final case class Input(read: PartitionedFile => Iterator[InternalRow],
      types: Seq[DataType], files: Seq[PartitionedFile]) {
    def rows(f: Input.Cols => Unit): Unit = {
      val c = new Input.Cols(types)
      files.foreach(pf => read(pf).foreach(r => f(c.bind(r))))
    }
  }

  private object Input {

    /** A reader row viewed through typed getters. Reader rows are reused
      * buffers: every value is copied out before the next row. */
    final class Cols(types: Seq[DataType]) {
      private var row: InternalRow = _
      def bind(r: InternalRow): Cols = { row = r; this }
      def term(i: Int): UTF8String = row.getUTF8String(i)
      def long(i: Int): Long = types(i) match {
        case LongType => row.getLong(i)
        case IntegerType => row.getInt(i).toLong
        case t => throw new IllegalStateException(s"index column $i has type $t")
      }
      def int(i: Int): Int = long(i).toInt
      /** The doc id at `i`, as a value of `docType`. */
      def doc(i: Int, docType: DataType): Any = {
        val v = types(i) match {
          case _ if row.isNullAt(i) => null
          case StringType => row.getUTF8String(i).copy()
          case t => row.get(i, t)
        }
        convert(v, types(i), docType)
      }
    }

    /** `v` of type `from` as a value of type `to` (segments, and tombstones
      * that store ids as long, may differ from the union's doc id type). */
    def convert(v: Any, from: DataType, to: DataType): Any =
      if (from == to) v else Cast(Literal(v, from), to).eval()
  }

  /** Generation-scoped tombstones: a doc id's rows in segment `s` are dead
    * when a tombstone of that id has `max_seg >= s`. */
  private final class Tombstones(docType: DataType) {
    private val maxSeg = new java.util.HashMap[Any, Integer]
    def add(docId: Long, seg: Int): Unit = {
      val k = Input.convert(docId, LongType, docType)
      val prev = maxSeg.get(k)
      if (prev == null || prev < seg) maxSeg.put(k, seg)
    }
    def dead(doc: Any, seg: Int): Boolean = {
      val m = maxSeg.get(doc)
      m != null && seg <= m
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
    def posting(seg: Int, dead: Tombstones, c: Input.Cols): Unit =
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
    def docStat(seg: Int, dead: Tombstones, c: Input.Cols): Unit = {
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
