package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.search.{TermPredicates, TsQuery}

/** One parquet file of an index part, as an index task opens it. */
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

  /** The data files under `root` (or `root` itself, a file), listed as a
    * Spark file scan lists them: recursively, in each directory's listing
    * order, without the names Spark skips (`_SUCCESS`, `.crc`, …). */
  def leafFiles(conf: Configuration, root: String): Seq[FileStatus] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => Frames.skippedPathName(c.getPath.getName))
        .flatMap(leaves(_))
    leaves(fs.getFileStatus(p))
  }

  /** The parquet relation `spark.read.parquet(roots: _*)` resolves, opened
    * without a Spark job: the leaf files come from a driver-side Hadoop FS
    * listing, in each directory's listing order and with the names Spark
    * skips left out, and the data schema from the footer of the first data
    * file in path order, the one Spark's inference reads. Partition
    * directories (`bucket=K`, `cluster=K`) are inferred from the listing as
    * Spark infers them. A root without a data file fails as Spark's read
    * does, with `UNABLE_TO_INFER_SCHEMA`. */
  def relation(spark: SparkSession, roots: Seq[String]): HadoopFsRelation = {
    val conf = spark.sessionState.newHadoopConf()
    val listed = roots.map { r =>
      val p = new Path(r)
      val q = p.getFileSystem(conf).makeQualified(p)
      q -> leafFiles(conf, q.toString).toArray
    }
    val first = listed.flatMap(_._2).sortBy(_.getPath.toString).headOption.getOrElse(
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val dataSchema = Frames.parquetDataSchema(spark, first)
    val cache = new FileStatusCache {
      private val byRoot = scala.collection.concurrent.TrieMap(listed: _*)
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byRoot.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit =
        byRoot.put(path, leafFiles)
      override def invalidateAll(): Unit = byRoot.clear()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_._1), Map.empty, None, cache)
    HadoopFsRelation(index, index.partitionSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
  }
}

/** One live segment's files: postings by hash bucket, docstats, and the
  * term dictionary (every bucket). */
final case class SegmentFiles(segNo: Int,
    postingsSchema: StructType, postings: Seq[(Option[Int], IndexFile)],
    docStatsSchema: StructType, docStats: Seq[IndexFile],
    termDictSchema: StructType, termDict: Seq[IndexFile]) {
  /** Postings files that can hold any of `buckets`. */
  def postingsIn(buckets: Set[Int]): Seq[IndexFile] =
    postings.collect { case (b, f) if b.forall(buckets.contains) => f }
}

/** The files of one reader snapshot that an index task reads: the live
  * segments of the index at `dir` in manifest order, and the parquet
  * tombstone generations at or above the floor. */
final case class IndexFiles(dir: String, segments: Seq[SegmentFiles],
    tombstoneSchema: StructType, tombstones: Seq[IndexFile])

/** A relation that opens an index's files inside its own task
  * ([[TermBagScan]], [[MatchScan]]) instead of scanning them as a file
  * relation. `indexDir` names that index (None for one built in memory), so
  * scan-level checks such as RBAC can map the read back to its table. */
trait IndexLeaf {
  def indexDir: Option[String]
}

/** What the single-task index leaves ([[TermBagScan]], [[MatchScan]]) share:
  * opening a snapshot's parquet files inside the task, reading an in-memory
  * index's frames through one partition, the generation-scoped tombstones,
  * and the term-dictionary expansion of the multi-term leaves with its
  * fuzzy cap. */
private[index] object IndexTask {

  /** The session's fuzzy expansion cap (`spark.graft.levenshteinMaxTerms`,
    * the reference's per-connection SET sdb_levenshtein_max_terms), read
    * when a leaf is planned so the planning session's value rides in the
    * relation; 0 or less keeps every term. */
  def fuzzyCap(): Int =
    SparkSession.active.conf.get("spark.graft.levenshteinMaxTerms", "64").toInt

  /** The term dictionary a task reads: the distinct non-null terms of the
    * `term` rows added, over every live segment. */
  final class Dictionary {
    private val terms = new java.util.HashSet[UTF8String]
    def add(c: Cols): Unit = if (!c.isNull(0)) terms.add(c.term(0).copy())

    /** Each expansion leaf's dictionary terms: those its [[TermPredicates]]
      * predicate accepts. */
    def expand(leaves: Seq[TsQuery]): Map[TsQuery, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      val all = terms.asScala.toSeq
      leaves.map { e =>
        val p = TermPredicates(e)
        e -> all.filter(p).map(_.toString)
      }.toMap
    }
  }

  /** Of a fuzzy leaf's `live` terms (those with a live posting), the `cap`
    * most similar ones by [[TermPredicates.fuzzySimilarity]], then term byte
    * order — the reference's scored_terms_limit; `cap` 0 or less keeps
    * all. */
  def capFuzzy(f: TsQuery.Fuzzy, live: Seq[String], cap: Int): Seq[String] =
    if (cap <= 0) live
    else live.map { t =>
      val u = UTF8String.fromString(t)
      (TermPredicates.fuzzySimilarity(f, u), u, t)
    }.sortWith { case ((w1, u1, _), (w2, u2, _)) =>
      if (w1 != w2) w1 > w2 else u1.binaryCompare(u2) < 0
    }.take(cap).map(_._3)

  /** Builds the parquet readers a task opens [[IndexFiles]] with. Driver
    * side: each reader is serialized into the task closure. */
  final class Reader(spark: SparkSession) {
    private val fmt = new ParquetFileFormat
    private val readers = scala.collection.mutable.Map.empty[
      (StructType, StructType, Seq[Filter]), PartitionedFile => Iterator[InternalRow]]

    /** `cols` of `data` from the files `in`, with `filters` pushed down. */
    def input(data: StructType, cols: Seq[String], filters: Seq[Filter],
        in: Seq[IndexFile]): Input = {
      val required = StructType(cols.map(data(_)))
      // a fresh conf per reader: the build writes the requested schema
      // into the conf it broadcasts
      val read = readers.getOrElseUpdate((data, required, filters),
        fmt.buildReaderWithPartitionValues(spark, data, StructType(Nil), required,
          filters, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConf()))
      Input(read, required.map(_.dataType), in.map(_.toPartitionedFile))
    }

    /** The live tombstones of `files`, read in the task by
      * [[TombstoneFiles.load]]. */
    def tombstones(files: IndexFiles): TombstoneFiles =
      TombstoneFiles(
        if (files.tombstones.isEmpty) None
        else Some(input(files.tombstoneSchema, Seq("doc_id", "max_seg"), Nil, files.tombstones)))
  }

  /** A snapshot's tombstone parquet files. */
  final case class TombstoneFiles(parquet: Option[Input]) {
    def load(docType: DataType): Tombstones = {
      val dead = new Tombstones(docType)
      parquet.foreach(_.rows(r => if (!r.isNull(0)) dead.add(r.long(0), r.int(1))))
      dead
    }
  }

  /** `df`'s rows through one partition (an in-memory index's frames). */
  def onePartition(spark: SparkSession, df: DataFrame): RDD[InternalRow] = {
    val rdd = df.queryExecution.toRdd
    if (rdd.getNumPartitions == 0) spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    else rdd.coalesce(1)
  }

  /** Files of one index part, the reader that opens them and the types of
    * the columns it returns; rows reach `f` through [[Cols]]. */
  final case class Input(read: PartitionedFile => Iterator[InternalRow],
      types: Seq[DataType], files: Seq[PartitionedFile]) {
    /** The same reader over the files `in` (chosen inside the task). */
    def over(in: Seq[IndexFile]): Input = copy(files = in.map(_.toPartitionedFile))

    def rows(f: Cols => Unit): Unit = {
      val c = new Cols(types)
      files.foreach(pf => read(pf).foreach(r => f(c.bind(r))))
    }
  }

  /** A reader row viewed through typed getters. Reader rows are reused
    * buffers: every value is copied out before the next row. */
  final class Cols(types: Seq[DataType]) {
    private var row: InternalRow = _
    def bind(r: InternalRow): Cols = { row = r; this }
    def isNull(i: Int): Boolean = row.isNullAt(i)
    def term(i: Int): UTF8String = row.getUTF8String(i)
    def long(i: Int): Long = types(i) match {
      case LongType => row.getLong(i)
      case IntegerType => row.getInt(i).toLong
      case t => throw new IllegalStateException(s"index column $i has type $t")
    }
    def int(i: Int): Int = long(i).toInt
    /** The int array at `i` (a postings `positions`), copied; null stays null. */
    def ints(i: Int): Array[Int] = if (row.isNullAt(i)) null else row.getArray(i).toIntArray()
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

  /** Generation-scoped tombstones: a doc id's rows in segment `s` are dead
    * when a tombstone of that id has `max_seg >= s`. A null id is never
    * dead, as in the load-time anti-join. */
  final class Tombstones(docType: DataType) {
    private val maxSeg = new java.util.HashMap[Any, Integer]
    def add(docId: Long, seg: Int): Unit = {
      val k = convert(docId, LongType, docType)
      val prev = maxSeg.get(k)
      if (prev == null || prev < seg) maxSeg.put(k, seg)
    }
    def dead(doc: Any, seg: Int): Boolean = {
      val m = maxSeg.get(doc)
      m != null && seg <= m
    }
  }
}
