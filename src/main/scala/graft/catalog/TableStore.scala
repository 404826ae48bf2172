package graft.catalog

import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.types.StructType

/** Data plane for catalog TABLEs (graft.catalog.ObjectCatalog): a directory
  * of parquet files with an undo log, so transactions can roll DML back and
  * a crashed commit never corrupts the live set.
  *
  * Reference analogue: the catalog-owned native tables the pg corpus runs
  * DML against (server/catalog/table.cpp — heap storage + WAL undo). The
  * Spark shape is file-granularity MVCC:
  *
  * {{{
  *   <dir>/current/<uuid>.parquet     the live file set (Spark scans this)
  *   <dir>/_LOG/<n>.json              commit n: {"added":[...],"retired":[...]}
  *   <dir>/_RETIRED/<n>/<file>        files commit n removed (kept for undo)
  * }}}
  *
  * Every commit is O(delta): INSERT adds files, DELETE/UPDATE rewrites ONLY
  * the files whose row groups matched the predicate (file pruning via
  * `input_file_name`), never the whole table. Rollback to version v undoes
  * logs > v in reverse: deletes the files they added, moves the files they
  * retired back — O(changed files), no data copy. Readers are plain
  * distributed parquet scans of `current/` — native pushdown/pruning apply,
  * and the Spark session catalog points a real external table at the
  * directory so `SELECT ... FROM schema.tbl` plans with full stats.
  *
  * Crash safety: new files land in `_TMP` first; the log row is written
  * (atomic rename) BEFORE any move into/out of `current/`, so a crash
  * leaves either a no-op (tmp garbage) or a logged commit that
  * [[completeOrUndo]] finishes idempotently on next open.
  *
  * Concurrency scope: one writer session per table (the corpus' model);
  * cross-session snapshot-isolated DML at scale is the Iceberg surface
  * (graft.sources.IcebergTables), which this store deliberately does not
  * duplicate.
  */
object TableStore {

  private val mapper = new ObjectMapper()

  private def fs(p: Path): FileSystem =
    p.getFileSystem(new org.apache.hadoop.conf.Configuration())

  private def currentDir(dir: String) = new Path(dir, "current")
  private def logDir(dir: String) = new Path(dir, "_LOG")
  private def retiredDir(dir: String, n: Long) = new Path(new Path(dir, "_RETIRED"), n.toString)

  def create(dir: String): Unit = {
    val f = fs(new Path(dir))
    f.mkdirs(currentDir(dir))
    f.mkdirs(logDir(dir))
  }

  def destroy(dir: String): Unit = {
    val p = new Path(dir)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Live parquet scan with the declared schema (an empty table has no
    * files, so the schema must come from the catalog, not the footers).
    * The file list comes from a FRESH filesystem listing, never Spark's
    * shared path-keyed status cache — a commit that just retired files
    * must not leave this read serving dead paths. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val files = liveFiles(dir)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** The live parquet files, from a fresh listing of `current/`. */
  def liveFiles(dir: String): Seq[String] = {
    val cur = currentDir(dir)
    val f = fs(cur)
    if (!f.exists(cur)) Seq.empty
    else f.listStatus(cur).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
  }

  def version(dir: String): Long = {
    val f = fs(logDir(dir))
    if (!f.exists(logDir(dir))) 0L
    else f.listStatus(logDir(dir)).map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong)
      .foldLeft(0L)(math.max)
  }

  private def writeLog(dir: String, n: Long, added: Seq[String],
      retired: Seq[String], tmpDir: String): Unit = {
    val node = mapper.createObjectNode()
    val a = node.putArray("added"); added.foreach(a.add)
    val r = node.putArray("retired"); retired.foreach(r.add)
    node.put("tmpdir", tmpDir)
    val f = fs(logDir(dir))
    val tmp = new Path(logDir(dir), s".$n.json.tmp")
    val out = f.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    if (!f.rename(tmp, new Path(logDir(dir), s"$n.json")))
      throw new IllegalStateException(s"table commit $n already exists under $dir")
  }

  private def readLog(dir: String, n: Long): (Seq[String], Seq[String], String) = {
    val f = fs(logDir(dir))
    val in = f.open(new Path(logDir(dir), s"$n.json"))
    val node = try mapper.readTree(in.readAllBytes()) finally in.close()
    def arr(k: String): Seq[String] = {
      val it = node.get(k).elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    (arr("added"), arr("retired"),
      Option(node.get("tmpdir")).map(_.asText()).getOrElse(""))
  }

  /** Finish a commit interrupted between its log write and its file moves
    * (idempotent): staged files still in _TMP move in, retired files still
    * in current/ move out. Called once per table at catalog load. */
  def repair(dir: String): Unit = {
    val n = version(dir)
    if (n == 0) return
    val (added, retired, tmpDir) = readLog(dir, n)
    val f = fs(currentDir(dir))
    if (tmpDir.nonEmpty) added.foreach { name =>
      val src = new Path(tmpDir, name)
      if (f.exists(src)) f.rename(src, new Path(currentDir(dir), name))
    }
    retired.foreach { name =>
      val src = new Path(currentDir(dir), name)
      if (f.exists(src)) {
        f.mkdirs(retiredDir(dir, n))
        f.rename(src, new Path(retiredDir(dir, n), name))
      }
    }
  }

  /** Materialize `df` into staged parquet files under `_TMP`, in Spark's
    * part-file order (insertion order within the batch); the caller moves
    * them only after the commit log row exists. */
  private def stage(spark: SparkSession, dir: String, df: DataFrame): Seq[String] = {
    val tmp = new Path(dir, s"_TMP/${UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val f = fs(tmp)
    f.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
      .sortBy(_.getName).map(_.toString)
  }

  /** Commit: log first, then move staged files in and retired files out.
    * Live files are named `<commit>-<idx>-<uuid>.parquet` so a plain
    * listing sorts in commit-then-part order — the pg heap-order contract
    * row-order-sensitive paths (ALTER ... ADD COLUMN DEFAULT nextval)
    * rely on. `staged` are absolute paths under _TMP; `retire` are names
    * in current/. */
  private def commit(dir: String, staged: Seq[String], retire: Seq[String]): Long = {
    val n = version(dir) + 1
    val names = staged.zipWithIndex.map { case (_, i) =>
      f"$n%06d-$i%04d-${UUID.randomUUID().toString.take(8)}.parquet"
    }
    val tmpDir = staged.headOption.map(p => new Path(p).getParent.toString).getOrElse("")
    // pre-rename inside _TMP to the final names so repair() can finish the
    // move from the log alone after a crash
    val f = fs(currentDir(dir))
    staged.zip(names).foreach { case (p, name) =>
      f.rename(new Path(p), new Path(tmpDir, name))
    }
    writeLog(dir, n, names, retire, tmpDir)
    names.foreach(name =>
      f.rename(new Path(tmpDir, name), new Path(currentDir(dir), name)))
    if (retire.nonEmpty) {
      f.mkdirs(retiredDir(dir, n))
      retire.foreach(name =>
        f.rename(new Path(currentDir(dir), name), new Path(retiredDir(dir, n), name)))
    }
    n
  }

  /** Append the `rows` rows of `df` (INSERT), a count the caller already
    * has. Returns the new version. */
  def append(spark: SparkSession, dir: String, df: DataFrame, rows: Long): Long =
    if (rows == 0) version(dir)
    else commit(dir, stage(spark, dir, df), Nil)

  /** Replace the whole live set (CTAS backfill, ALTER TABLE rewrites). */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame): Long = {
    val f = fs(currentDir(dir))
    val existing =
      if (!f.exists(currentDir(dir))) { create(dir); Seq.empty[String] }
      else f.listStatus(currentDir(dir)).map(_.getPath.getName).toSeq
    commit(dir, stage(spark, dir, df), existing)
  }

  /** Rewrite only the files whose rows match `pred`, replacing them with
    * `remap(matchedFiles)` — the DELETE/UPDATE kernel. Only touched files
    * are rewritten (pg heap-page analogue); untouched files carry over.
    * Returns (affected row count, new version). */
  def rewriteMatching(spark: SparkSession, dir: String, schema: StructType,
      pred: org.apache.spark.sql.Column,
      remap: DataFrame => DataFrame): (Long, Long) = {
    val cur = read(spark, dir, schema)
    val hits = cur.filter(pred)
      .groupBy(input_file_name().as("f")).count().collect()
    if (hits.isEmpty) return (0L, version(dir))
    val files = hits.map(_.getString(0)).toSeq
    val affected = hits.map(_.getLong(1)).sum
    val touched = spark.read.schema(schema).parquet(files: _*)
    val replacement = remap(touched)
    val staged = if (replacement.isEmpty) Nil else stage(spark, dir, replacement)
    val names = files.map(p => new Path(new java.net.URI(p).getPath).getName)
    (affected, commit(dir, staged, names))
  }

  /** The file set AS OF commit `target`, without touching the live state:
    * start from current/ and walk the logs above `target` in reverse,
    * dropping their additions and re-including their retirees (which still
    * sit under _RETIRED/<n>/). This is the REPEATABLE READ snapshot scan —
    * a reader pinned at version v keeps a consistent file list while
    * writers commit past it (pg's MVCC snapshot; file-granularity here).
    * O(commits since target), metadata only. */
  def filesAt(dir: String, target: Long): Seq[String] = {
    val cur = currentDir(dir)
    val f = fs(cur)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (f.exists(cur))
      f.listStatus(cur).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .foreach(p => live.put(p.getName, p.toString))
    var n = version(dir)
    while (n > target) {
      val (added, retired, _) = readLog(dir, n)
      added.foreach(live.remove)
      retired.foreach { name =>
        live.put(name, new Path(retiredDir(dir, n), name).toString)
      }
      n -= 1
    }
    live.values.toSeq.sorted
  }

  /** Snapshot scan at a pinned version (see [[filesAt]]). */
  def readAt(spark: SparkSession, dir: String, schema: StructType,
      target: Long): DataFrame = {
    val files = filesAt(dir, target)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** Undo every commit newer than `target` (transaction rollback): delete
    * what they added, restore what they retired. */
  def rollbackTo(dir: String, target: Long): Unit = {
    val f = fs(currentDir(dir))
    var n = version(dir)
    while (n > target) {
      val (added, retired, _) = readLog(dir, n)
      added.foreach(name => f.delete(new Path(currentDir(dir), name), false))
      retired.foreach(name =>
        f.rename(new Path(retiredDir(dir, n), name), new Path(currentDir(dir), name)))
      f.delete(retiredDir(dir, n), true)
      f.delete(new Path(logDir(dir), s"$n.json"), false)
      n -= 1
    }
  }
}
