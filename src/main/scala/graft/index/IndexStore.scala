package graft.index

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import scala.collection.concurrent.TrieMap
import scala.util.hashing.MurmurHash3

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Durable, segmented storage for [[InvertedIndex]].
  *
  * Spark-native analogue of the reference's on-disk index segments
  * (/root/reference/server/search/inverted_index_storage.h;
  * /root/reference/libs/iresearch/include/iresearch/formats/). An index lives
  * under one directory as parquet, split into append-only segments:
  *
  * {{{
  *   <root>/<key>/_SEGMENTS                     (manifest: one seg name/line)
  *   <root>/<key>/seg=NNNNN/postings/bucket=K/  (parquet files)
  *   <root>/<key>/seg=NNNNN/termdict/bucket=K/  (parquet files)
  *   <root>/<key>/seg=NNNNN/docstats/           (parquet files)
  *   <root>/<key>/seg=NNNNN/meta.json           (numDocs, sumDl per segment)
  * }}}
  *
  * - All metadata IO goes through the Hadoop `FileSystem` API, so the store
  *   works unchanged on HDFS/S3/GCS — no `java.nio.file` anywhere.
  * - postings AND the term dictionary are directory-partitioned by
  *   `bucket = murmur3(term) mod 64`, so single-term lookups prune to 1/64
  *   of the files at planning time — the parquet-level stand-in for the
  *   reference's per-term posting lists. At web-corpus scale the term dict is
  *   billions of rows; a single-file write would bottleneck on one task.
  * - the term dictionary (df, ctf) and collection stats (numDocs, avgDl) are
  *   derived per segment and merged at READ time (groupBy-sum over segments),
  *   mirroring the reference's per-segment stats merge — so appending a
  *   segment never rewrites old ones, and BM25 stats stay correct under
  *   incremental ingest (SURVEY.md §7.4 "BM25 global statistics").
  * - the `_SEGMENTS` manifest (not directory listing) is the source of truth:
  *   [[compact]] writes a NEW merged segment, atomically repoints the
  *   manifest, and leaves old segment dirs for [[cleanup]] — readers holding
  *   lazy plans over old segments keep working until cleanup runs (the
  *   reference's snapshot-pinning behavior, iresearch_snapshot_pinning.test).
  *
  * Reader snapshot (the reference keeps its index readers open and reuses
  * the current segment snapshot per query): [[load]] serves one cached
  * snapshot per index directory, keyed by the on-disk state a load reads —
  * the `_SEGMENTS` manifest (content and modification time) and the
  * `_DELETES_P` listing (each tombstone generation and the `_FLOOR` file, with their
  * modification times). Computing the key is a few metadata calls and
  * launches no Spark job. The snapshot holds only session-independent
  * state: each segment part's `HadoopFsRelation` (its file listing and
  * schema, opened from a driver-side listing and one parquet footer by
  * [[IndexFile.relation]], so a fresh load runs no job either), the
  * `meta.json` totals, and the tombstone relation plus its count/dlen
  * scalars. A call whose key matches does no file listing, no footer read
  * and no Spark job, so warm claims plan without Spark jobs; any write
  * that changes the key (append, delete,
  * compact, DROP + re-CREATE) makes the next call reload. Segments are
  * immutable once the manifest names them, so the key is exact. The
  * snapshot builds the index frames once per session, over copies of the
  * cached relations bound to that session, so they plan under the caller's
  * SQLConf and never cross sessions. Two loads of one snapshot in one
  * session return the same frames, with the same leaf exprIds: a rule that
  * joins two of them re-instances one side (`PlanShapes.freshRelationIds`).
  *
  * Scoring reads the snapshot's files, not its frames: `load` hands the
  * index the snapshot's [[IndexFiles]] (each live segment's postings files
  * by bucket, docstats and term dictionary files, and the live tombstone
  * files), and the term-bag scoring leaf ([[TermBagScan]]) opens
  * them inside one task, applying the generation-scoped tombstones and
  * re-deriving live `df`/`ctf`/`max_tf` exactly as [[load]]'s frames do.
  * ClaimScoreTopK (graft.plans) drops a `ts_match` semi-join whose query is
  * an OR of single terms covering the scorer's terms, and keeps the join
  * with the base table.
  */
object IndexStore {
  val NumBuckets = 64

  /** Bump when the on-disk layout changes; keyed into the directory name so
    * stale caches from older layouts are never mistaken for current ones.
    * v3: termdict gained `max_tf` (WAND score upper bounds).
    * v4: docids manifest gained `content_fp` (REFRESH update detection) —
    * the change shipped WITHOUT this bump and v3 dirs on disk were a mixed
    * population; gates now also reset state (GateHygiene), this keeps any
    * long-lived deployment's old dirs from being half-trusted. */
  val FormatVersion = 4

  /** Stable term → bucket hash, computable on both driver (literal pruning)
    * and executors (write path). */
  def bucketOf(term: String): Int =
    math.floorMod(MurmurHash3.stringHash(term), NumBuckets)

  private val bucketUdf = udf((t: String) => bucketOf(t))

  def defaultRoot: String = sys.env.getOrElse(
    "GRAFT_INDEX_DIR", sys.props("java.io.tmpdir") + "/graft-index")

  /** Drop the reader snapshot of `dir` (callers that delete the directory
    * out of band — e.g. DROP SEARCH INDEX — invalidate so the dead index's
    * relations are not kept alive until the next load). */
  def invalidate(dir: String): Unit = readers.remove(dir)

  private def slug(s: String): String = s.replaceAll("[^A-Za-z0-9._-]+", "_")

  // ---- Hadoop FS helpers (cluster-safe metadata IO) ------------------------

  private[index] def fsFor(spark: SparkSession, path: String): FileSystem =
    fs(spark, path)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def readString(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Write via temp file + FileContext rename(OVERWRITE) — atomic on
    * HDFS/local with no delete-then-rename window (a crash leaves the old or
    * the new manifest, never none), close-to-atomic on object stores. */
  private[graft] def writeStringAtomic(spark: SparkSession, path: String, s: String): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(path + ".tmp")
    val out = f.create(tmp, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = new Path(path)
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private[graft] def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Whether the durable segment manifest for an index dir is on disk — the
    * catalog fast paths verify this before trusting a persisted row: a row
    * whose segments were deleted out-of-band must trigger a rebuild, not a
    * load failure. */
  def durable(spark: SparkSession, dir: String): Boolean =
    exists(spark, s"$dir/_SEGMENTS")

  // ---- lifecycle -----------------------------------------------------------

  /** Canonical on-disk location for an ensured index. */
  def dirFor(cacheKey: String, textCol: String, analyzerName: String): String =
    s"$defaultRoot/${slug(cacheKey)}-$textCol-$analyzerName-v$FormatVersion"

  /** Build-or-load the index for (table parquet dir, text column, analyzer):
    * built once, persisted across JVMs, loaded through the reader snapshot. */
  def ensure(spark: SparkSession, docs: => DataFrame, cacheKey: String,
      idCol: String, textCol: String, analyzerName: String,
      withPositions: Boolean = true): InvertedIndex = {
    val dir = dirFor(cacheKey, textCol, analyzerName)
    def build(): Unit = {
      val d = docs
      val idx = InvertedIndex.build(d, idCol, textCol, analyzerName, withPositions)
      writeSegment(idx, dir, 0, Some(d.select(col(idCol).as("doc_id"),
        xxhash64(col(textCol)).as("content_fp"))))
      writeStringAtomic(spark, s"$dir/_SEGMENTS", "seg=00000\n")
    }
    if (!exists(spark, s"$dir/_SEGMENTS")) build()
    try load(spark, dir)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
        // a POISONED dir from an older build over an empty source
        // (0-partition parquet write → fileless segment): rebuild once
        val p = new Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        build()
        load(spark, dir)
    }
  }

  /** Convenience: the standard documents-table index. */
  def documents(spark: SparkSession, sfDir: String,
      analyzerName: String = "whitespace"): InvertedIndex =
    ensure(spark, graft.Tables.documents(spark, sfDir),
      s"$sfDir-documents", "doc_id", "text", analyzerName)

  /** Per-index segment compression codec, persisted in `<dir>/_OPTIONS`
    * (the reference's `compression` index option,
    * inverted_index_compression_option.test / zstd_multipage): every
    * segment writer — CREATE backfill, REFRESH delta, COMPACT merge,
    * streaming batches — reads it here, so the codec survives restarts and
    * maintenance. Parquet self-describes the codec per file, so readers
    * need nothing. */
  private[graft] def segmentCompression(spark: SparkSession, dir: String): Option[String] =
    if (!exists(spark, s"$dir/_OPTIONS")) None
    else readString(spark, s"$dir/_OPTIONS").split("\n")
      .collectFirst { case l if l.startsWith("compression=") =>
        l.stripPrefix("compression=").trim }.filter(_.nonEmpty)

  def setCompression(spark: SparkSession, dir: String, codec: String): Unit = {
    require(Set("snappy", "zstd", "gzip", "lz4", "uncompressed", "none")
      .contains(codec.toLowerCase), s"unsupported compression codec: $codec")
    writeStringAtomic(spark, s"$dir/_OPTIONS", s"compression=${codec.toLowerCase}\n")
  }

  /** Write one immutable segment: four writes and, for a fresh build, the
    * count of its source. Postings and termdict land bucket-partitioned,
    * hash-partitioned on `bucket` over the session's cores so that each
    * bucket is exactly one file; termdict and docstats derive from the
    * persisted postings of [[InvertedIndex.build]], so the analyzer runs
    * once. The `meta.json` statistics other than numDocs come from the
    * writes themselves: the postings and termdict row counts, and sumDl as
    * the docstats' Σ dlen, are aggregates observed in each write's final
    * stage. That stage is a result stage, whose tasks Spark counts once
    * each however often they run (an observation below a shuffle counts
    * every run of a retried or speculative map task). Postings are
    * unpersisted once the segment is durable. */
  def writeSegment(idx: InvertedIndex, dir: String, segNo: Int,
      docIds: Option[DataFrame] = None): Unit = {
    val seg = f"$dir/seg=$segNo%05d"
    val spark = idx.postings.sparkSession
    val codec = segmentCompression(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    def write(df: DataFrame, path: String, partitioned: Boolean): Unit = {
      val w = if (partitioned) df.write.partitionBy("bucket") else df.write
      codec.fold(w)(c => w.option("compression", c)).mode("overwrite").parquet(path)
      // no rows leave no data file (a partitioned write creates no dirs, a
      // plan of 0 partitions no part file), and a part without one cannot
      // be opened: write one schema-bearing empty file instead, `bucket` a
      // plain data column — bucket pruning is irrelevant with zero rows
      if (IndexFile.leafFiles(conf, path).isEmpty) {
        val empty = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1), df.schema)
        codec.fold(empty.write)(c => empty.write.option("compression", c))
          .mode("overwrite").parquet(path)
      }
    }
    // `df` bucketed and hash-partitioned on the bucket, its rows counted in
    // the partitions the write consumes
    def bucketed(df: DataFrame): (DataFrame, () => Long) =
      Observed.count(df.withColumn("bucket", bucketUdf(col("term")))
        .repartition(spark.sparkContext.defaultParallelism, col("bucket")))
    val (postings, postRows) = bucketed(idx.postings)
    write(postings, s"$seg/postings", partitioned = true)
    val (termDict, termRows) = bucketed(idx.termDict)
    write(termDict, s"$seg/termdict", partitioned = true)
    val (docStats, sumDl) = Observed(idx.docStats, coalesce(sum(col("dlen").cast("long")), lit(0L)))
    write(docStats, s"$seg/docstats", partitioned = false)
    // full doc-id manifest: includes zero-token (empty/stopword-only) docs,
    // which docstats cannot carry — REFRESH anti-joins against this so such
    // docs don't look "new" on every run (segment-count drift, round-7
    // ADVICE). Callers without the source frame fall back to docstats ids
    // (status quo for streaming batches, which dedup by batch id instead).
    // A `content_fp` column (xxhash64 of the indexed text at build time)
    // rides along when the caller supplies it: REFRESH diffs it against the
    // source so UPDATEd docs re-index (tombstone + re-add) — without it an
    // id-stable content change is invisible to the id anti-join and claimed
    // postings would keep serving the PRE-update terms.
    val manifest = docIds.getOrElse(idx.docStats)
    val manOut =
      if (manifest.columns.contains("content_fp"))
        manifest.select(col("doc_id"), col("content_fp")).dropDuplicates("doc_id")
      else manifest.select(col("doc_id")).distinct()
    write(manOut, s"$seg/docids", partitioned = false)
    // per-segment statistics persisted with the segment (the reference's
    // hyperloglog index option, inverted_index_hyperloglog_option.test):
    // postings row count + term NDV (termdict rows ARE the distinct terms)
    // feed the CBO via registerStatsTables without ever re-scanning
    writeStringAtomic(spark, s"$seg/meta.json",
      s"""{"numDocs":${idx.numDocs},"sumDl":${Observed.result(sumDl).fold(0L)(_.getLong(0))},""" +
        s""""postingsRows":${postRows()},"termRows":${termRows()}}""")
    idx.postings.unpersist()
  }

  /** Commit-on-flush backfill rotation (reference `segment_docs_max` CREATE
    * option, online_create_index_rotation.test: "an online inverted CREATE
    * INDEX commits each segment as soon as it fills, so the published index
    * consists of many independently committed segments instead of one giant
    * final publish"). Waves are hash buckets of ≈`docsMax` docs — like the
    * reference, the exact per-segment count "depends on sink parallelism";
    * the pinned contract is >1 published segment for a large backfill and
    * full-corpus search results. Each wave is its own distributed build +
    * durable segment commit, so a crashed backfill leaves a usable prefix
    * and a 100 TB backfill's compaction/retry unit stays bounded. */
  def ensureRotating(spark: SparkSession, docs: => DataFrame, cacheKey: String,
      idCol: String, textCol: String, analyzerName: String,
      docsMax: Long): InvertedIndex = {
    val dir = dirFor(cacheKey, textCol, analyzerName)
    if (!exists(spark, s"$dir/_BACKFILL_DONE")) {
      val d = docs
      val n = d.count()
      val waves = math.max(1, math.ceil(n.toDouble / docsMax).toInt)
      // a crashed backfill resumes at the first unpublished wave: wave
      // membership is a deterministic hash, committed segments map 1:1 to
      // completed waves (assumes the source is unchanged across the
      // retry, the usual backfill-retry contract)
      val alreadyDone = listSegments(spark, dir).size
      (alreadyDone until waves).foreach { w =>
        val wave = d.filter(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(col(idCol)),
            org.apache.spark.sql.functions.lit(waves)) === w)
        val idx = InvertedIndex.build(wave, idCol, textCol, analyzerName)
        appendSegment(idx, dir, Some(wave.select(col(idCol).as("doc_id"),
          xxhash64(col(textCol)).as("content_fp"))))
      }
      writeStringAtomic(spark, s"$dir/_BACKFILL_DONE", waves.toString)
    }
    load(spark, dir)
  }

  /** Append a new segment (streaming ingest / incremental refresh). */
  def appendSegment(idx: InvertedIndex, dir: String,
      docIds: Option[DataFrame] = None): Int = Metrics.timed(dir, "commit") {
    val spark = idx.postings.sparkSession
    val existing = listSegments(spark, dir)
    val next = existing.map(_.stripPrefix("seg=").toInt).foldLeft(-1)(math.max) + 1
    writeSegment(idx, dir, next, docIds)
    writeStringAtomic(spark, s"$dir/_SEGMENTS",
      (existing :+ f"seg=$next%05d").distinct.sorted.mkString("", "\n", "\n"))
    next
  }

  /** Every doc id ever indexed into `dir`, INCLUDING zero-token docs — the
    * REFRESH anti-join base. Segments written before the docids manifest
    * existed fall back to their docstats (the pre-fix behavior, confined to
    * old segments). */
  def allDocIds(spark: SparkSession, dir: String): DataFrame =
    listSegments(spark, dir).map { s =>
      val p = s"$dir/$s/docids"
      if (exists(spark, p)) readParquet(spark, p).select(col("doc_id"))
      else readParquet(spark, s"$dir/$s/docstats").select(col("doc_id"))
    }.reduce(_ unionByName _).distinct()

  /** `(doc_id, content_fp)` of every LIVE indexed doc: per-segment doc-id
    * manifests with the generation-scoped tombstones applied (same
    * semantics as [[load]]'s applyDeletes), the NEWEST segment's row
    * winning for re-inserted ids. `content_fp` is null for segments
    * written before the fingerprint existed (or by callers that don't
    * supply one, e.g. streaming batches) — those docs reconcile by
    * add/remove only, never by content diff. This is REFRESH's
    * reconciliation base and compaction's manifest carry-forward. */
  def liveDocFps(spark: SparkSession, dir: String): DataFrame = {
    val perSeg = listSegments(spark, dir).map { s =>
      val segNo = s.stripPrefix("seg=").toInt
      val p = s"$dir/$s/docids"
      val base =
        if (exists(spark, p)) readParquet(spark, p)
        else readParquet(spark, s"$dir/$s/docstats").select(col("doc_id"))
      val withFp =
        if (base.columns.contains("content_fp"))
          base.select(col("doc_id"), col("content_fp").cast("long"))
        else base.select(col("doc_id"), lit(null).cast("long").as("content_fp"))
      withFp.withColumn("__seg", lit(segNo))
    }.reduce(_ unionByName _)
    val alive = snapshot(spark, dir).flatMap(_.tombstones(spark)) match {
      case None => perSeg
      case Some(d) =>
        val del = broadcast(d.select(col("doc_id").as("__del_id"),
          col("max_seg").as("__del_seg")))
        perSeg.join(del, perSeg("doc_id") === col("__del_id") &&
          col("__seg") <= col("__del_seg"), "left_anti")
    }
    alive.groupBy(col("doc_id"))
      .agg(max(struct(col("__seg"), col("content_fp"))).as("__m"))
      .select(col("doc_id"), col("__m.content_fp").as("content_fp"))
  }

  /** Streaming-ingest batch markers (see graft.streaming.StreamingIngest):
    * which foreachBatch ids have fully committed their segment. */
  def batchCommitted(spark: SparkSession, dir: String, batchId: Long): Boolean =
    exists(spark, s"$dir/_BATCHES") &&
      readString(spark, s"$dir/_BATCHES").split("\n").contains(batchId.toString)

  def markBatchCommitted(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val prior =
      if (exists(spark, s"$dir/_BATCHES")) readString(spark, s"$dir/_BATCHES") else ""
    writeStringAtomic(spark, s"$dir/_BATCHES", prior + batchId + "\n")
  }

  /** Register the index parts as SQL relations — the reference's
    * "indexes are relations" surface (`SELECT ... FROM <index_name>`,
    * demo3 demo.sql:66-68; EXPLAIN `IRESEARCH_SCAN` in
    * vector_search.test:19-37): `<prefix>_postings`, `<prefix>_termdict`,
    * `<prefix>_docstats` become queryable views whose parquet scans keep
    * full predicate pushdown + bucket partition pruning. */
  def registerViews(spark: SparkSession, dir: String, prefix: String): Unit = {
    val idx = load(spark, dir)
    idx.postings.createOrReplaceTempView(s"${prefix}_postings")
    // `boost` and `term_raw` are the reference's ts_dict_score /
    // ts_dict_raw_agg projections (search.h:106-109; TermBoost read at
    // duckdb_search_full_scan.cpp:2683, default 1.0 — our analyzers store
    // no per-term boosts; raw = the term's bytes for text fields,
    // kInvertedIndexTermRawId BLOB).
    idx.termDict
      .withColumn("boost", org.apache.spark.sql.functions.lit(1.0f))
      .withColumn("term_raw",
        org.apache.spark.sql.functions.encode(
          org.apache.spark.sql.functions.col("term"), "UTF-8"))
      .createOrReplaceTempView(s"${prefix}_termdict")
    idx.docStats.createOrReplaceTempView(s"${prefix}_docstats")
  }

  /** Register the index parts as CATALOG tables carrying manifest-derived
    * statistics — the ANALYZE-equivalent fed from segment metadata instead
    * of a re-scan (reference: per-segment HLL NDV stats,
    * inverted_index_hyperloglog_option.test). With `spark.sql.cbo.enabled`,
    * the optimizer then estimates filtered cardinalities from rowCount +
    * term NDV and flips join build sides accordingly (IndexStatsSpec).
    * Cross-segment term NDV is the sum of per-segment dictionary sizes — an
    * upper bound (terms shared across segments count twice), the
    * conservative direction for selectivity estimates. Segments written
    * before the stats fields existed fall back to one counting scan. */
  def registerStatsTables(spark: SparkSession, dir: String, prefix: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics,
      CatalogStorageFormat, CatalogTable, CatalogTableType, CatalogUtils}
    val segs = listSegments(spark, dir)
    require(segs.nonEmpty, s"no index segments under $dir")
    def metaSum(key: String): Option[Long] = {
      val vals = segs.map { s =>
        val txt = readString(spark, s"$dir/$s/meta.json")
        (s""""$key":(\\d+)""").r.findFirstMatchIn(txt).map(_.group(1).toLong)
      }
      if (vals.forall(_.isDefined)) Some(vals.flatten.sum) else None
    }
    def bytesUnder(sub: String): Long = {
      val f = fs(spark, dir)
      segs.map(s => f.getContentSummary(new Path(s"$dir/$s/$sub")).getLength).sum
    }
    val termRows = metaSum("termRows")
      .getOrElse(segs.map(s => spark.read.parquet(s"$dir/$s/termdict").count()).sum)
    val postRows = metaSum("postingsRows")
      .getOrElse(segs.map(s => spark.read.parquet(s"$dir/$s/postings").count()).sum)
    def mk(name: String, sub: String, rows: Long, termNdv: Long): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // recursiveFileLookup: a multi-segment glob would otherwise make
      // partition discovery see each seg dir as a conflicting root. The
      // bucket partition column disappears from these CBO-stats tables —
      // bucket-pruned access goes through the registered views, which read
      // per-segment and union.
      val options = Map("recursiveFileLookup" -> "true")
      val stats = CatalogStatistics(
        sizeInBytes = BigInt(bytesUnder(sub)),
        rowCount = Some(BigInt(rows)),
        colStats = Map("term" -> CatalogColumnStat(
          distinctCount = Some(BigInt(termNdv)), nullCount = Some(BigInt(0)))))
      // registered in the session catalog directly: `CREATE TABLE … (path
      // '<glob>')` resolves the relation, and Spark's metadata-directory
      // probe of a glob path logs a FileNotFoundException stack trace. The
      // schema is the first segment's data schema from the reader
      // snapshot: one segment holds every segment's layout, and the
      // snapshot opened it without a job.
      spark.sessionState.catalog.createTable(CatalogTable(
        identifier = TableIdentifier(name),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty.copy(
          locationUri = Some(CatalogUtils.stringToURI(s"$dir/seg=*/$sub")),
          properties = options),
        schema = current(spark, dir).parts(sub).head.dataSchema,
        provider = Some("parquet"),
        stats = Some(stats)), ignoreIfExists = false)
    }
    mk(s"${prefix}_termdict_tbl", "termdict", termRows, termRows)
    mk(s"${prefix}_postings_tbl", "postings", postRows, termRows)
  }

  // ---- DML delete leg ------------------------------------------------------

  /** Tombstone every doc matching a predicate — the reference's delete path
    * into the search index (duckdb_physical_search_delete.cpp), DataFrame-
    * native: matched (doc_id, dlen, max_seg) rows are WRITTEN as parquet
    * under `_DELETES_P/`, deduped against existing tombstones with a
    * distributed anti-join — nothing ever materializes on the driver, so a
    * predicate delete of 10⁶ ids is a join + write like any other DML.
    *
    * Tombstones are generation-scoped (`max_seg` = newest segment at delete
    * time) and deduped on (doc_id, max_seg), NOT doc_id alone: after
    * delete → re-insert (UPDATE), the re-inserted doc lives in a NEWER
    * segment, so a second delete of the same id must land as a new
    * higher-generation tombstone; same-generation repeats stay deduped so
    * numDocs/sumDl accounting in load() never double-subtracts. Readers
    * apply tombstones at load; [[compact]] folds them away permanently. */
  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Unit = {
    val current = load(spark, dir)
    val maxSeg = listSegments(spark, dir)
      .map(_.stripPrefix("seg=").toInt).foldLeft(-1)(math.max)
    val matched = current.docStats
      .filter(predicate)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("dlen").cast("long").as("dlen"),
        lit(maxSeg).cast("int").as("max_seg"))
    writeTombstones(spark, dir, matched)
  }

  /** Tombstone an explicit id set (a one-column `doc_id` frame) — the
    * REFRESH reconciliation leg (ids removed from or updated in the source
    * view). Ids may include zero-token docs absent from docStats (dlen
    * defaults 0) and ids never indexed (dropped by the live-manifest
    * semi-join). Distributed end-to-end, like [[deleteWhere]]. */
  def deleteIds(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val live = liveDocFps(spark, dir).select(col("doc_id"))
    val targets = ids.select(col("doc_id")).distinct()
      .join(live, Seq("doc_id"), "left_semi")
    val current = load(spark, dir)
    val maxSeg = listSegments(spark, dir)
      .map(_.stripPrefix("seg=").toInt).foldLeft(-1)(math.max)
    val matched = targets
      .join(current.docStats.select(col("doc_id"), col("dlen")),
        Seq("doc_id"), "left")
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("dlen").cast("long"), lit(0L)).as("dlen"),
        lit(maxSeg).cast("int").as("max_seg"))
    writeTombstones(spark, dir, matched)
  }

  private def writeTombstones(spark: SparkSession, dir: String,
      matched: DataFrame): Unit = {
    val snap = snapshot(spark, dir)
    val fresh = snap.flatMap(_.tombstones(spark)) match {
      case Some(prior) => matched.join(prior.select("doc_id", "max_seg"),
        Seq("doc_id", "max_seg"), "left_anti")
      case None => matched
    }
    // a no-op delete writes NOTHING: the mere existence of a tombstone
    // generation bails the metadata count fast paths, so an empty one
    // would permanently degrade them for zero information
    if (fresh.isEmpty) return
    // each delete lands in its own generation dir — the write target is
    // never a path the dedup anti-join is reading, and never below the
    // floor, where it would be born retired
    val next = snap.fold(0)(_.nextGen)
    fresh.write.mode("overwrite").parquet(s"$dir/_DELETES_P/gen=$next")
  }

  /** Id-list delete, routed through the predicate leg. */
  def delete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    deleteWhere(spark, dir, col("doc_id").isin(ids: _*))

  /** Exact live-doc count from segment metadata ALONE — the reference's
    * "count answered from reader metadata" fast path
    * (inverted_index_count_variants.test: `Output: row-count only`). None
    * when tombstones exist (their accounting lives in a deletes dataset,
    * not metadata) or the index has no segments — callers fall back to the
    * normal scan. Served from the reader snapshot: no file IO when warm. */
  def metaNumDocs(spark: SparkSession, dir: String): Option[Long] =
    snapshot(spark, dir).filter(s => s.segs.nonEmpty && !s.hasDeletes).map(_.numDocs)

  /** Whether this index carries tombstones (deleted docs) — metadata-only
    * answers must then account for them or bail. */
  def hasDeletes(spark: SparkSession, dir: String): Boolean =
    snapshot(spark, dir).exists(_.hasDeletes)

  /** Live segments per the manifest (source of truth — compacted-away
    * segment dirs may still exist on disk until [[cleanup]]). */
  def listSegments(spark: SparkSession, dir: String): Seq[String] =
    if (!exists(spark, s"$dir/_SEGMENTS")) Seq.empty
    else readString(spark, s"$dir/_SEGMENTS").split("\n").filter(_.nonEmpty).toSeq.sorted

  // ---- reader snapshot -----------------------------------------------------

  /** The on-disk state a [[load]] reads (see the object scaladoc): manifest
    * content and mtime, and every `_DELETES_P` entry (name, mtime,
    * length). */
  private final case class Stamp(manifest: String, manifestMtime: Long,
      deleteEntries: Seq[(String, Long, Long)])

  /** Session-independent reader state for one [[Stamp]]. The parquet
    * relations and tombstone scalars resolve lazily (once), so
    * metadata-only callers ([[metaNumDocs]]) never list files, infer
    * schemas or run a job. */
  private final class Snapshot(spark: SparkSession, dir: String, val stamp: Stamp) {
    val segs: Seq[String] = stamp.manifest.split("\n").filter(_.nonEmpty).toSeq.sorted
    private val metas = segs.map(s => readString(spark, s"$dir/$s/meta.json"))
    private def metaSum(key: String): Long = metas.map { t =>
      s""""$key":(\\d+)""".r.findFirstMatchIn(t).get.group(1).toLong
    }.sum
    val numDocs: Long = metaSum("numDocs")
    val sumDl: Long = metaSum("sumDl")

    /** Every tombstone generation on disk. Those below the floor were folded
      * into a compacted segment and stay only as grace for in-flight plans. */
    val gens: Seq[Int] = stamp.deleteEntries.map(_._1)
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toInt)
    val floor: Int =
      if (!stamp.deleteEntries.exists(_._1 == "_FLOOR")) 0
      else readString(spark, s"$dir/_DELETES_P/_FLOOR").trim.toInt
    private val liveGens = gens.filter(_ >= floor).sorted
    val nextGen: Int = (gens :+ (floor - 1)).max + 1
    val hasDeletes: Boolean = liveGens.nonEmpty

    /** part name → one relation per segment, in `segs` order. */
    lazy val parts: Map[String, Seq[HadoopFsRelation]] =
      Seq("postings", "termdict", "docstats")
        .map(p => p -> segs.map(s => IndexFile.relation(spark, Seq(s"$dir/$s/$p")))).toMap

    private lazy val genRel: Option[HadoopFsRelation] =
      if (liveGens.isEmpty) None
      else Some(IndexFile.relation(spark, liveGens.map(g => s"$dir/_DELETES_P/gen=$g")))

    /** All live tombstones (doc_id, dlen, max_seg) over `s`: the parquet
      * generations at or above the floor. */
    def tombstones(s: SparkSession): Option[DataFrame] =
      genRel.map(rebind(s, _).dropDuplicates("doc_id", "max_seg"))

    /** What an index task reads ([[TermBagScan]], [[MatchScan]]): every
      * segment's postings (by bucket), docstats and term dictionary files
      * and the live tombstones — listings of the cached relations, no IO. */
    lazy val files: IndexFiles = {
      val (post, stats, dict) = (parts("postings"), parts("docstats"), parts("termdict"))
      def listed(rel: HadoopFsRelation) = IndexFile.listing(rel).map(_._2)
      IndexFiles(dir,
        segs.indices.map { i =>
          SegmentFiles(segs(i).stripPrefix("seg=").toInt,
            post(i).dataSchema, IndexFile.listing(post(i)),
            stats(i).dataSchema, listed(stats(i)),
            dict(i).dataSchema, listed(dict(i)))
        },
        genRel.fold(new StructType())(_.dataSchema),
        genRel.toSeq.flatMap(listed))
    }

    /** (count, Σ dlen) of the live tombstones: the collection-total
      * adjustments are two scalars — metadata, not data. */
    lazy val deleted: (Long, Long) = tombstones(spark).fold((0L, 0L)) { d =>
      val r = d.agg(count(lit(1)), coalesce(sum(col("dlen")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    /** The index [[read]] builds over each session, built once: a claimed
      * statement loads it from several rules and optimizer passes, and each
      * build analyzes every part's frames again. Keyed weakly, so frames
      * never cross sessions. The frames reference their session, so the
      * value is held softly: a strong one would keep its weak key reachable
      * as long as the snapshot lives. */
    private val built =
      new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[InvertedIndex]]()

    def index(s: SparkSession): InvertedIndex = built.synchronized {
      Option(built.get(s)).flatMap(r => Option(r.get)).getOrElse {
        val idx = read(s, this)
        built.put(s, new java.lang.ref.SoftReference(idx))
        idx
      }
    }
  }

  private val readers = TrieMap.empty[String, Snapshot]

  private def rebind(spark: SparkSession, rel: HadoopFsRelation): DataFrame =
    spark.baseRelationToDataFrame(rel.copy()(spark))

  /** `spark.read.parquet(paths: _*)` opened without a Spark job — see
    * [[IndexFile.relation]]. */
  private[graft] def readParquet(spark: SparkSession, paths: String*): DataFrame =
    rebind(spark, IndexFile.relation(spark, paths))

  private def stampOf(spark: SparkSession, dir: String): Option[Stamp] = {
    val f = fs(spark, dir)
    def status(p: String) =
      try Some(f.getFileStatus(new Path(p))) catch { case _: FileNotFoundException => None }
    status(s"$dir/_SEGMENTS").map { man =>
      val entries =
        try f.listStatus(new Path(s"$dir/_DELETES_P")).toSeq
          .map(st => (st.getPath.getName, st.getModificationTime, st.getLen)).sortBy(_._1)
        catch { case _: FileNotFoundException => Nil }
      Stamp(readString(spark, s"$dir/_SEGMENTS"), man.getModificationTime, entries)
    }
  }

  /** The snapshot matching `dir`'s on-disk state now, reloaded when the
    * state changed; None when the manifest is missing. */
  private def snapshot(spark: SparkSession, dir: String): Option[Snapshot] =
    stampOf(spark, dir) match {
      case None => readers.remove(dir); None
      case Some(st) => readers.get(dir).filter(_.stamp == st).orElse {
        val s = new Snapshot(spark, dir, st)
        readers.put(dir, s)
        Some(s)
      }
    }

  private def current(spark: SparkSession, dir: String): Snapshot = {
    val snap = snapshot(spark, dir)
    require(snap.exists(_.segs.nonEmpty), s"no index segments under $dir")
    snap.get
  }

  /** Load an index, merging all segments' stats at read time. The frames
    * are built over `spark` once per reader snapshot; a write, delete or
    * compaction yields a new snapshot and new frames. */
  def load(spark: SparkSession, dir: String): InvertedIndex =
    current(spark, dir).index(spark)

  private def read(spark: SparkSession, snap: Snapshot): InvertedIndex = {
    val segs = snap.segs
    val deletes = snap.tombstones(spark)
    def readAll(part: String): DataFrame =
      segs.zip(snap.parts(part)).map { case (s, rel) =>
        val df = rebind(spark, rel)
        if (deletes.isEmpty) df
        else df.withColumn("__seg", lit(s.stripPrefix("seg=").toInt))
      }.reduce(_ unionByName _)
    // generation-scoped tombstones: a delete suppresses a doc only in
    // segments that existed when the delete happened, so a later re-insert
    // (UPDATE) of the same id is visible
    def applyDeletes(df: DataFrame): DataFrame = deletes match {
      case None => df
      case Some(d) =>
        val del = broadcast(d.select(col("doc_id").as("__del_id"),
          col("max_seg").as("__del_seg")))
        df.join(del, df("doc_id") === col("__del_id") &&
            col("__seg") <= col("__del_seg"), "left_anti")
          .drop("__seg")
    }
    val postings = applyDeletes(readAll("postings"))
    val docStats = {
      val base = applyDeletes(readAll("docstats"))
      if (segs.size == 1) base
      else base.groupBy(col("doc_id")).agg(sum(col("dlen")).cast("int").as("dlen"))
    }
    val termDict =
      if (deletes.isEmpty) {
        val td = readAll("termdict")
        if (segs.size == 1) td
        else td.groupBy(col("term"), col("bucket"))
          .agg(sum(col("df")).as("df"), sum(col("ctf")).as("ctf"),
            max(col("max_tf")).as("max_tf"))
      } else
        // re-derive from live postings so df/ctf (facets, idf) exclude
        // tombstoned docs
        postings.groupBy(col("term"), col("bucket"))
          .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"),
            max(col("tf")).as("max_tf"))
    InvertedIndex(postings, termDict, docStats,
      new InvertedIndex.Totals(() => snap.numDocs - snap.deleted._1,
        () => snap.sumDl - snap.deleted._2),
      Some(snap.files))
  }

  /** Compaction (the reference's background compaction task,
    * maintenance.h:36-44): merge all live segments into one NEW segment,
    * atomically repoint the manifest at it, and leave the old segment dirs
    * in place — readers holding lazy plans over them stay valid; call
    * [[cleanup]] when no reader can still reference them. Tombstone
    * generations get the same one-compaction grace: the ones folded into
    * the merged segment are retired by raising the floor, and only those
    * below the PREVIOUS floor are deleted. */
  def compact(spark: SparkSession, dir: String): Unit = Metrics.timed(dir, "consolidation") {
    val snap = current(spark, dir)
    val merged = read(spark, snap)
    // the surviving doc-id manifest (with content fingerprints) goes into
    // the merged segment — its docids would otherwise fall back to
    // docstats, losing zero-token docs and every fingerprint (REFRESH would
    // then re-add the zero-token docs and lose update detection after any
    // compaction). The segment write reads it before the manifest repoints
    // and before any cleanup can remove the segments it reads.
    val manifest = liveDocFps(spark, dir)
    val next = snap.segs
      .map(_.stripPrefix("seg=").toInt).foldLeft(-1)(math.max) + 1
    // merged postings/docstats come pre-bucketed/pre-merged from load();
    // strip the bucket column so writeSegment re-derives partitioning.
    val rebuilt = InvertedIndex(
      merged.postings.drop("bucket"),
      merged.termDict.drop("bucket"),
      merged.docStats,
      merged.totals)
    writeSegment(rebuilt, dir, next, Some(manifest))
    writeStringAtomic(spark, s"$dir/_SEGMENTS", f"seg=$next%05d\n")
    // the merged segment was written deletes-applied; retire its tombstones
    // AFTER the swap (a crash in between leaves deletes that now anti-join
    // nothing — never resurrecting rows)
    if (snap.nextGen > snap.floor)
      writeStringAtomic(spark, s"$dir/_DELETES_P/_FLOOR", s"${snap.nextGen}\n")
    val f = fs(spark, dir)
    snap.gens.filter(_ < snap.floor)
      .foreach(g => f.delete(new Path(s"$dir/_DELETES_P/gen=$g"), true))
  }

  /** Compact with SNAPSHOT-ISOLATED cleanup (the reference pins the segment
    * set a query opened with until the query ends, so background compaction
    * never yanks files out from under a reader —
    * iresearch_snapshot_pinning.test, ts_offsets_isolation.test). Spark has
    * no per-query segment pin, so we retain one full COMPACT GENERATION of
    * grace instead: segments retired by THIS compact stay on disk (lazy
    * plans over them remain executable); segments retired by the PREVIOUS
    * compact — which have now survived an entire compaction interval, far
    * past any live query — are deleted. Returns (retiredNow, cleanedPrior).
    */
  def compactRetaining(spark: SparkSession, dir: String): (Int, Int) = {
    val retiredPath = s"$dir/_RETIRED"
    val prior =
      if (exists(spark, retiredPath))
        readString(spark, retiredPath).split("\n").filter(_.nonEmpty).toSeq
      else Seq.empty
    val before = listSegments(spark, dir)
    compact(spark, dir)
    val f = fs(spark, dir)
    var cleaned = 0
    prior.foreach { seg =>
      val p = new Path(s"$dir/$seg")
      if (f.exists(p)) { f.delete(p, true); cleaned += 1 }
    }
    writeStringAtomic(spark, retiredPath, before.mkString("", "\n", "\n"))
    (before.size, cleaned)
  }

  /** Delete segment directories no longer referenced by the manifest. Safe
    * to run any time no reader holds plans over pre-compaction segments. */
  def cleanup(spark: SparkSession, dir: String): Int = Metrics.timed(dir, "cleanup") {
    val live = listSegments(spark, dir).toSet
    val f = fs(spark, dir)
    val base = new Path(dir)
    if (!f.exists(base)) return 0
    val stale = f.listStatus(base).map(_.getPath)
      .filter(p => p.getName.startsWith("seg=") && !live.contains(p.getName))
    stale.foreach(p => f.delete(p, true))
    stale.length
  }
}
