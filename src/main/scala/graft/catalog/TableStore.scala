package graft.catalog

import java.util.UUID

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.types.StructType

import graft.index.Commit

/** Data plane for catalog TABLEs (graft.catalog.ObjectCatalog): a table is
  * a sequence of versions, each naming its parquet files, published by the
  * commit protocol of the indexes ([[graft.index.Commit]]).
  *
  * Reference analogue: the catalog-owned native tables the pg corpus runs
  * DML against (server/catalog/table.cpp over DuckDB's MVCC storage). The
  * Spark shape is file-granularity versions, as in Delta Lake:
  *
  * {{{
  *   <dir>/_CURRENT                         the published version
  *   <dir>/_v/<n>-<id>.json                 one version's manifest
  *   <dir>/_data/<n>-<id>/part-*.parquet    the files one write staged
  * }}}
  *
  * A manifest lists its data files in heap order (commit, then part) —
  * also their path order, which `ALTER TABLE … ADD COLUMN DEFAULT nextval`
  * fills existing rows in — with each file's length and modification time,
  * so planning a scan lists no directory and stats no file.
  *
  * Every write is O(delta) and publishes one version: INSERT appends its
  * files, DELETE/UPDATE drop only the files whose rows matched (file
  * pruning via `input_file_name`) and add their rewrites, an overwrite
  * replaces every file. A crash before the publish leaves the previous
  * version serving; what it staged is never read.
  *
  * Reads: every scan of a table reads one version's files through a
  * [[TableFiles]] index. Writers read the latest version ([[read]]);
  * statements get theirs from the analyzer rule
  * `graft.plans.ReadTableVersions` — the statement's current version, or
  * the one a REPEATABLE READ block pinned. The Spark catalog table is
  * located at `<dir>`, where Spark's own listing finds no data file (every
  * entry is `_`-prefixed), so its cached relation never goes stale.
  *
  * Retention: a dropped file stays on disk while an open transaction block
  * holds a version that names it ([[Txn.heldFiles]]); otherwise the next
  * version that drops files deletes it. ROLLBACK publishes the files of the
  * version the block first wrote on ([[restore]]).
  *
  * Concurrency: one writer per table. A publish whose base is no longer the
  * latest version fails instead of overwriting it; readers never lock.
  * Cross-session snapshot-isolated DML at scale is the Iceberg surface
  * (graft.sources.IcebergTables), which this store does not duplicate.
  */
object TableStore {

  /** One data file of a version: its name relative to the table directory,
    * its length and its modification time. */
  final case class DataFile(name: String, length: Long, mtime: Long)

  /** The files of one version of the table at `root`, as a scan lists
    * them. */
  final case class TableFiles(root: Path, files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def create(spark: SparkSession, dir: String): Unit = fs(spark, dir).mkdirs(new Path(dir))

  def destroy(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (f.exists(p)) f.delete(p, true)
  }

  /** The latest published version, the one a writer builds on. */
  def version(spark: SparkSession, dir: String): Option[Commit.Version] =
    Commit.latest(spark, dir)

  /** The version a statement reads (read once per statement). */
  def current(spark: SparkSession, dir: String): Option[Commit.Version] =
    Commit.current(spark, dir)

  private def dataFiles(v: Option[Commit.Version]): Seq[DataFile] =
    v.fold(Seq.empty[DataFile])(v => v.memo("dataFiles") {
      val sizes = v.field("sizes").fold(Seq.empty[com.fasterxml.jackson.databind.JsonNode])(
        _.elements().asScala.toSeq)
      require(sizes.size == v.files.size, s"table version ${v.id} of ${v.dir} lacks file sizes")
      v.files.zip(sizes).map { case (name, s) => DataFile(name, s.get(0).asLong, s.get(1).asLong) }
    })

  /** The scan index of `files` of the table at `root`. */
  private def index(root: Path, files: Seq[DataFile]): TableFiles =
    TableFiles(root, files.map(f =>
      new FileStatus(f.length, false, 0, 0, f.mtime, new Path(root, f.name))))

  /** The scan index of version `v` (None: never written) of the table at
    * `root`. */
  def files(root: Path, v: Option[Commit.Version]): TableFiles = index(root, dataFiles(v))

  private def qualified(spark: SparkSession, dir: String): Path =
    fs(spark, dir).makeQualified(new Path(dir))

  private def scan(spark: SparkSession, schema: StructType, files: TableFiles): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(files, new StructType(), schema, None,
      new ParquetFileFormat, Map.empty)(spark))

  /** A scan of version `v` with the declared schema (an empty table has no
    * files, so the schema comes from the catalog, not the footers). */
  def readVersion(spark: SparkSession, dir: String, schema: StructType,
      v: Option[Commit.Version]): DataFrame =
    scan(spark, schema, files(qualified(spark, dir), v))

  /** A scan of the latest version: the rows a writer builds on. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    readVersion(spark, dir, schema, version(spark, dir))

  /** `spark.read.parquet(root)` for a scan root that may be a catalog
    * table's directory, which holds no file Spark's inference could read:
    * the table is read with its declared schema, and the analyzer's version
    * rule gives the scan its files. None for any other root, and for a
    * table whose version holds no file: that read fails as an empty
    * directory's does, which defers an index build to the first VACUUM. */
  def readRoot(spark: SparkSession, root: String): Option[DataFrame] =
    ObjectCatalog.tableAt(new Path(root))
      .filter(t => current(spark, t.dir).exists(_.files.nonEmpty))
      .map(t => spark.read.schema(StructType.fromDDL(ObjectCatalog.sparkSchemaDdl(t.columns)))
        .parquet(root))

  /** Stage `df` (None: nothing) under a directory named for the version
    * after `base` that no other write uses, then publish `kept` and its
    * files, in part order. A write whose publish fails — a lost race, a
    * crash — deletes what it staged unless the latest version names it. */
  private def stageAndPublish(spark: SparkSession, dir: String, base: Option[Commit.Version],
      kept: Seq[DataFile], df: Option[DataFrame]): Unit = {
    val rel = f"_data/${Commit.nextNumber(base)}%08d-${UUID.randomUUID().toString.take(8)}"
    val staged = new Path(dir, rel)
    try publish(spark, dir, base, kept ++ df.toSeq.flatMap { d =>
      d.write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(staged.toString)
      fs(spark, dir).listStatus(staged).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map(s => DataFile(s"$rel/${s.getPath.getName}", s.getLen, s.getModificationTime))
    }) catch {
      case scala.util.control.NonFatal(e) =>
        if (!version(spark, dir).exists(_.files.exists(_.startsWith(rel + "/"))))
          fs(spark, dir).delete(staged, true)
        throw e
    }
  }

  private val writers = TrieMap.empty[String, Object]

  private def locked[T](dir: String)(body: => T): T =
    writers.getOrElseUpdate(dir, new Object).synchronized(body)

  /** Publish the version after `base` naming `files`; fails when another
    * writer published since `base` was read. */
  private def publish(spark: SparkSession, dir: String, base: Option[Commit.Version],
      files: Seq[DataFile]): Unit = locked(dir) {
    if (version(spark, dir).map(_.id) != base.map(_.id))
      throw new org.apache.spark.sql.AnalysisException("USER_RAISED_EXCEPTION", Map(
        "errorMessage" -> s"could not serialize access due to concurrent update of $dir"))
    Commit.publishHolding(spark, dir, base, files.map(_.name), Txn.heldFiles(dir),
      "sizes" -> files.map(f => Array(f.length, f.mtime)).asJava)
    // a staged directory whose last file was retired goes with it
    val live = files.map(_.name).toSet
    if (base.exists(_.files.exists(!live(_)))) {
      val f = fs(spark, dir)
      base.get.retired.map(r => new Path(dir, r).getParent).distinct.foreach { p =>
        if (f.exists(p) && f.listStatus(p).isEmpty) f.delete(p, true)
      }
    }
  }

  /** Append the `rows` rows of `df` (INSERT), a count the caller already
    * has. */
  def append(spark: SparkSession, dir: String, df: DataFrame, rows: Long): Unit =
    if (rows > 0) {
      val base = version(spark, dir)
      stageAndPublish(spark, dir, base, dataFiles(base), Some(df))
    }

  /** Replace every file (CTAS backfill, ALTER TABLE rewrites, TRUNCATE). */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame): Unit = {
    stageAndPublish(spark, dir, version(spark, dir), Nil, Some(df))
  }

  /** Rewrite only the files whose rows match `pred`, replacing them with
    * `remap(matchedFiles)` — the DELETE/UPDATE kernel. Only touched files
    * are rewritten (pg heap-page analogue); untouched files carry over.
    * Returns the affected row count. */
  def rewriteMatching(spark: SparkSession, dir: String, schema: StructType,
      pred: Column, remap: DataFrame => DataFrame): Long = {
    val base = version(spark, dir)
    val root = qualified(spark, dir)
    val all = dataFiles(base)
    val hits = scan(spark, schema, index(root, all)).filter(pred)
      .groupBy(input_file_name().as("f")).count().collect()
    if (hits.isEmpty) return 0L
    val byPath = all.map(f => new Path(root, f.name).toUri.getPath -> f).toMap
    val touched = hits.map(h => byPath(new java.net.URI(h.getString(0)).getPath)).toSet
    val replacement = remap(scan(spark, schema, index(root, all.filter(touched))))
    stageAndPublish(spark, dir, base, all.filterNot(touched),
      Some(replacement).filterNot(_.isEmpty))
    hits.map(_.getLong(1)).sum
  }

  /** Make version `v`'s files current again (transaction rollback): a new
    * version naming them, unless `v` is still the latest. A table whose
    * directory is gone is left alone. */
  def restore(spark: SparkSession, dir: String, v: Option[Commit.Version]): Unit = locked(dir) {
    val latest = version(spark, dir)
    if (latest.isDefined && latest.map(_.id) != v.map(_.id))
      publish(spark, dir, latest, dataFiles(v))
  }
}
