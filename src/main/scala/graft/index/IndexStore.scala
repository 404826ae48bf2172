package graft.index

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
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
  * under one directory as parquet, split into append-only segments, and is
  * versioned by the [[Commit]] protocol:
  *
  * {{{
  *   <root>/<key>/_CURRENT, _v/                 (the published version)
  *   <root>/<key>/seg=NNNNN/postings/bucket=K/  (parquet files)
  *   <root>/<key>/seg=NNNNN/termdict/bucket=K/  (parquet files)
  *   <root>/<key>/seg=NNNNN/docstats/           (parquet files)
  *   <root>/<key>/seg=NNNNN/docids/             (doc ids + content fingerprints)
  *   <root>/<key>/seg=NNNNN/meta.json           (numDocs, sumDl per segment)
  *   <root>/<key>/del=NNNNNNNN/                 (one tombstone generation)
  *   <root>/<key>/fields-N/, stored-N/          (a composite index's sidecar, [[FieldStore]])
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
  * - the manifest of the current version (not a directory listing) is the
  *   source of truth: it names the live segments, the live tombstone
  *   generations and the fingerprint of the source the index was last
  *   synced with, the segment codec, and the composite sidecar's roots and
  *   statistics. Every write — a new segment, a delete, a REFRESH's
  *   tombstones and delta segment, a compaction — stages its files and
  *   publishes one version. [[compact]] writes a NEW merged segment and
  *   publishes it without the segments and generations it folded; those
  *   stay on disk until the next compaction publishes, so readers holding
  *   lazy plans over them keep working (the reference's snapshot-pinning
  *   behavior, iresearch_snapshot_pinning.test).
  *
  * Reader snapshot (the reference keeps its index readers open and reuses
  * the current segment snapshot per query): [[load]] serves one snapshot
  * per published version, memoized on it ([[Commit.Version.memo]]); which
  * version is current is one read of `_CURRENT`, once per statement. The
  * snapshot holds only session-independent state: each segment part's
  * `HadoopFsRelation` (its file listing and schema, opened from a
  * driver-side listing and one parquet footer by [[IndexFile.relation]], so
  * a fresh load runs no job), the `meta.json` totals, and the tombstone
  * relation plus its count/dlen scalars. A load of a version already seen
  * does no file listing, no footer read and no Spark job, so warm claims
  * plan without Spark jobs. The snapshot builds the index frames once per
  * session, over copies of the cached relations bound to that session, so
  * they plan under the caller's SQLConf and never cross sessions. Two loads
  * of one snapshot in one session return the same frames, with the same
  * leaf exprIds: a rule that joins two of them re-instances one side
  * (`PlanShapes.freshRelationIds`).
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
    * long-lived deployment's old dirs from being half-trusted.
    * v5: every index directory is versioned by one [[Commit]] manifest.
    * v6: the composite sidecar, the segment codec and the backfill's
    * completion are parts of that manifest; HNSW graphs are versioned. */
  val FormatVersion = 6

  /** Stable term → bucket hash, computable on both driver (literal pruning)
    * and executors (write path). */
  def bucketOf(term: String): Int =
    math.floorMod(MurmurHash3.stringHash(term), NumBuckets)

  private val bucketUdf = udf((t: String) => bucketOf(t))

  def defaultRoot: String = sys.env.getOrElse(
    "GRAFT_INDEX_DIR", sys.props("java.io.tmpdir") + "/graft-index")

  /** `s` as one directory-name part. */
  private[index] def slug(s: String): String = s.replaceAll("[^A-Za-z0-9._-]+", "_")

  // ---- Hadoop FS helpers (cluster-safe metadata IO) ------------------------

  private[index] def fsFor(spark: SparkSession, path: String): FileSystem =
    fs(spark, path)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def readString(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Write via temp file + a rename that replaces `path` atomically, so a
    * crash or a concurrent reader sees the old or the new content, never
    * none: FileContext rename(OVERWRITE) on HDFS (close-to-atomic on object
    * stores). Hadoop's local file system implements that overwrite as a
    * delete followed by a rename, and renames a file's checksum apart from
    * it, so on a local disk the write bypasses the checksum layer and uses
    * the plain rename, which replaces the target in one step. */
  private[graft] def writeStringAtomic(spark: SparkSession, path: String, s: String): Unit = {
    val (tmp, dst) = (new Path(path + ".tmp"), new Path(path))
    def write(f: FileSystem): Unit = {
      val out = f.create(tmp, true)
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    fs(spark, path) match {
      case local: org.apache.hadoop.fs.LocalFileSystem =>
        val raw = local.getRawFileSystem
        write(raw)
        // a checksum from an earlier checksummed write would not match
        raw.delete(local.getChecksumFile(dst), false)
        if (!raw.rename(tmp, dst)) throw new java.io.IOException(s"could not replace $dst")
      case f =>
        write(f)
        org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri,
            spark.sparkContext.hadoopConfiguration)
          .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private[graft] def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Whether a version of the index at `dir` is published — the catalog
    * fast paths verify this before trusting a persisted row: a row whose
    * segments were deleted out-of-band must trigger a rebuild, not a load
    * failure. */
  def durable(spark: SparkSession, dir: String): Boolean =
    Commit.current(spark, dir).isDefined

  /** The fingerprint of the source the index was last built or refreshed
    * from (`count:bytes:maxMtime` of its files), from the current version. */
  def sourceFp(spark: SparkSession, dir: String): Option[String] =
    Commit.current(spark, dir).flatMap(sourceFpOf)

  private def sourceFpOf(v: Commit.Version): Option[String] = v.field("sourceFp").map(_.asText)

  /** Publish `fp` as the source fingerprint of the latest version of the
    * index at `dir` (of any kind), with its sidecar restaged over
    * `restage`'s source when that is stale, unless that changes nothing. */
  def recordSourceFp(spark: SparkSession, dir: String, fp: Option[String],
      restage: Option[FieldStore.Restage] = None): Unit =
    Commit.latest(spark, dir).foreach(b => publish(spark, dir, Some(b), Nil, fp, restage))

  /** Publish the version after `base` naming `base`'s files, the `staged`
    * roots and the sidecar `restage` leaves ([[FieldStore.stage]]), with
    * the source fingerprint `sourceFp` and the object fields `fields` —
    * unless nothing is staged or restaged and the fields and fingerprint
    * are the ones `base` carries. */
  private[index] def publish(spark: SparkSession, dir: String, base: Option[Commit.Version],
      staged: Seq[String], sourceFp: Option[String], restage: Option[FieldStore.Restage],
      fields: (String, Any)*): Unit = {
    val side = FieldStore.stage(spark, dir, base, Commit.nextNumber(base), restage,
      staged.nonEmpty, sourceFp)
    val newFp = sourceFp.exists(f => !base.flatMap(sourceFpOf).contains(f))
    if (staged.nonEmpty || side.wrote || fields.nonEmpty || newFp)
      Commit.publish(spark, dir, base,
        base.fold(Seq.empty[String])(_.files.filterNot(FieldStore.isRoot)) ++ staged ++ side.roots,
        sourceFp.map("sourceFp" -> _).toSeq ++ side.fields ++ fields: _*)
  }

  private def segName(n: Int): String = f"seg=$n%05d"
  private def segNo(name: String): Int = name.stripPrefix("seg=").toInt

  // ---- lifecycle -----------------------------------------------------------

  /** Canonical on-disk location for an ensured index. */
  def dirFor(cacheKey: String, textCol: String, analyzerName: String): String =
    s"$defaultRoot/${slug(cacheKey)}-$textCol-$analyzerName-v$FormatVersion"

  /** Build-or-load the index for (table parquet dir, text column, analyzer):
    * built once, persisted across JVMs, loaded through the reader snapshot.
    * `sourceFp` is the fingerprint of `docs`' source, taken before it is
    * read; it is published with the build ([[loadedFp]] when the index
    * already exists). */
  def ensure(spark: SparkSession, docs: => DataFrame, cacheKey: String,
      idCol: String, textCol: String, analyzerName: String,
      withPositions: Boolean = true, sourceFp: Option[String] = None,
      compression: Option[String] = None,
      restage: Option[FieldStore.Restage] = None): InvertedIndex = {
    val dir = dirFor(cacheKey, textCol, analyzerName)
    if (sourceFp.nonEmpty || !durable(spark, dir) || restage.nonEmpty)
      commit(spark, dir, loadedFp(spark, dir, sourceFp), restage, compression) {
        (snap, codec, _) =>
          if (snap.nonEmpty) Seq.empty
          else {
            val d = docs
            val idx = InvertedIndex.build(d, idCol, textCol, analyzerName, withPositions)
            writeSegment(idx, dir, 0, Some(d.select(col(idCol).as("doc_id"),
              xxhash64(col(textCol)).as("content_fp"))), codec)
            Seq(segName(0))
          }
      }
    load(spark, dir)
  }

  /** The source fingerprint a build-or-load (of any kind) publishes for
    * `fp`: a load re-indexes nothing, so an existing index keeps the one it
    * was synced with, and only an index built without one adopts `fp`. */
  private[graft] def loadedFp(spark: SparkSession, dir: String,
      fp: Option[String]): Option[String] =
    Commit.latest(spark, dir).fold(fp)(v => sourceFpOf(v).orElse(fp))

  /** Convenience: the standard documents-table index. */
  def documents(spark: SparkSession, sfDir: String,
      analyzerName: String = "whitespace"): InvertedIndex =
    ensure(spark, graft.Tables.documents(spark, sfDir),
      s"$sfDir-documents", "doc_id", "text", analyzerName)

  /** Per-index segment compression codec (the reference's `compression`
    * index option, inverted_index_compression_option.test /
    * zstd_multipage): given to the first build and held as the version
    * field `compression` from then on, so every segment writer — CREATE
    * backfill, REFRESH delta, COMPACT merge, streaming batches — writes it
    * and it survives restarts and maintenance. Parquet self-describes the
    * codec per file, so readers need nothing. */
  def segmentCompression(spark: SparkSession, dir: String): Option[String] =
    Commit.current(spark, dir).flatMap(codecOf)

  private def codecOf(v: Commit.Version): Option[String] = v.field("compression").map(_.asText)

  private def validCodec(codec: String): String = {
    require(Set("snappy", "zstd", "gzip", "lz4", "uncompressed", "none")
      .contains(codec.toLowerCase), s"unsupported compression codec: $codec")
    codec.toLowerCase
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
      docIds: Option[DataFrame] = None, codec: Option[String] = None): Unit = {
    val seg = f"$dir/seg=$segNo%05d"
    val spark = idx.postings.sparkSession
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
      docsMax: Long, sourceFp: Option[String] = None, compression: Option[String] = None,
      restage: Option[FieldStore.Restage] = None): InvertedIndex = {
    val dir = dirFor(cacheKey, textCol, analyzerName)
    // the version that records the backfill's wave count ends it
    if (Commit.latest(spark, dir).exists(_.field("backfill").nonEmpty))
      recordSourceFp(spark, dir, loadedFp(spark, dir, sourceFp), restage)
    else {
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
        appendSegment(InvertedIndex.build(wave, idCol, textCol, analyzerName), dir,
          Some(wave.select(col(idCol).as("doc_id"), xxhash64(col(textCol)).as("content_fp"))),
          compression = compression)
      }
      publish(spark, dir, Commit.latest(spark, dir), Nil, sourceFp, restage, "backfill" -> waves)
    }
    load(spark, dir)
  }

  /** Append a new segment (streaming ingest / incremental refresh / a
    * backfill wave, whose first one records the codec `compression`). A
    * streaming micro-batch passes its `batch` id, recorded in the version
    * that publishes the segment ([[batchCommitted]]). The version names no
    * composite sidecar: covered reads use the base table until the next
    * REFRESH restages it. */
  def appendSegment(idx: InvertedIndex, dir: String, docIds: Option[DataFrame] = None,
      batch: Option[Long] = None, compression: Option[String] = None): Unit =
    Metrics.timed(dir, "commit") {
      commit(idx.postings.sparkSession, dir, batch = batch, compression = compression) {
        (snap, codec, _) =>
          val next = nextSeg(snap)
          writeSegment(idx, dir, next, docIds, codec)
          Seq(segName(next))
      }
    }

  /** One REFRESH as one version: tombstones for the `removed` ids (scoped
    * to the newest segment), a delta segment for `added` (the index and its
    * `(doc_id, content_fp)` manifest) in a newer one, and the source
    * fingerprint `sourceFp`, with the composite sidecar restaged over
    * `restage`'s source — staged, then published together, so no reader
    * sees the tombstones without the re-indexed docs, or either without the
    * sidecar they imply. */
  def refresh(spark: SparkSession, dir: String, removed: Option[DataFrame],
      added: Option[(InvertedIndex, DataFrame)], sourceFp: Option[String],
      restage: Option[FieldStore.Restage]): Unit =
    Metrics.timed(dir, "commit") {
      commit(spark, dir, sourceFp, restage) { (snap, codec, n) =>
        val s = snap.getOrElse(throw new IllegalStateException(s"no index at $dir"))
        removed.flatMap(ids => stageTombstones(spark, s, idsMatched(spark, s, ids), n)).toSeq ++
          added.map { case (idx, docIds) =>
            val next = nextSeg(snap)
            writeSegment(idx, dir, next, Some(docIds), codec)
            segName(next)
          }
      }
    }

  private def snapshotOf(spark: SparkSession, v: Commit.Version): Snapshot =
    v.memo("text")(new Snapshot(spark, v))

  private def nextSeg(snap: Option[Snapshot]): Int = snap.fold(0)(_.maxSeg + 1)

  /** Stage on the latest version and publish once ([[publish]]): `stage`
    * gets that version's snapshot, the segment codec (`compression` for a
    * first build, which records it) and the number the staged roots are
    * named with, and returns the roots it wrote, which join the version's
    * files. */
  private def commit(spark: SparkSession, dir: String, sourceFp: Option[String] = None,
      restage: Option[FieldStore.Restage] = None, compression: Option[String] = None,
      batch: Option[Long] = None)(
      stage: (Option[Snapshot], Option[String], Long) => Seq[String]): Unit = {
    val base = Commit.latest(spark, dir)
    val codec = base.fold(compression.map(validCodec))(codecOf)
    val staged = stage(base.map(snapshotOf(spark, _)), codec, Commit.nextNumber(base))
    publish(spark, dir, base, staged, sourceFp, restage,
      codec.filter(_ => base.isEmpty).map("compression" -> _).toSeq ++
        batch.map(b => "batches" -> (batches(base) :+ b).map(Long.box).asJava): _*)
  }

  /** `(doc_id, content_fp)` of every LIVE indexed doc: per-segment doc-id
    * manifests with the generation-scoped tombstones applied (same
    * semantics as [[load]]'s applyDeletes), the NEWEST segment's row
    * winning for re-inserted ids. `content_fp` is null for docs written by
    * callers that don't supply one (e.g. streaming batches) — those docs
    * reconcile by add/remove only, never by content diff. This is
    * REFRESH's reconciliation base and compaction's manifest
    * carry-forward. */
  def liveDocFps(spark: SparkSession, dir: String): DataFrame =
    liveDocFps(spark, current(spark, dir))

  private def liveDocFps(spark: SparkSession, snap: Snapshot): DataFrame = {
    val perSeg = snap.segs.map { s =>
      val base = readParquet(spark, snap.version.path(s"$s/docids"))
      val withFp =
        if (base.columns.contains("content_fp"))
          base.select(col("doc_id"), col("content_fp").cast("long"))
        else base.select(col("doc_id"), lit(null).cast("long").as("content_fp"))
      withFp.withColumn("__seg", lit(segNo(s)))
    }.reduce(_ unionByName _)
    val alive = snap.tombstones(spark) match {
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

  /** Whether the streaming micro-batch `batchId` has committed its segment
    * (see graft.streaming.StreamingIngest): the latest version names it. */
  def batchCommitted(spark: SparkSession, dir: String, batchId: Long): Boolean =
    batches(Commit.latest(spark, dir)).contains(batchId)

  /** The streaming batch ids a version records, each with its segment. */
  private def batches(v: Option[Commit.Version]): Seq[Long] =
    v.flatMap(_.field("batches")).fold(Seq.empty[Long])(_.elements().asScala.map(_.asLong).toSeq)

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
    * conservative direction for selectivity estimates. */
  def registerStatsTables(spark: SparkSession, dir: String, prefix: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics,
      CatalogStorageFormat, CatalogTable, CatalogTableType, CatalogUtils}
    val snap = current(spark, dir)
    def bytesUnder(sub: String): Long = {
      val f = fs(spark, dir)
      snap.segs.map(s => f.getContentSummary(new Path(s"$dir/$s/$sub")).getLength).sum
    }
    val (termRows, postRows) = (snap.metaSum("termRows"), snap.metaSum("postingsRows"))
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
        schema = snap.parts(sub).head.dataSchema,
        provider = Some("parquet"),
        stats = Some(stats)), ignoreIfExists = false)
    }
    mk(s"${prefix}_termdict_tbl", "termdict", termRows, termRows)
    mk(s"${prefix}_postings_tbl", "postings", postRows, termRows)
  }

  // ---- DML delete leg ------------------------------------------------------

  /** Tombstone every doc matching a predicate — the reference's delete path
    * into the search index (duckdb_physical_search_delete.cpp), DataFrame-
    * native: matched (doc_id, dlen, max_seg) rows are WRITTEN as one parquet
    * tombstone generation, deduped against existing tombstones with a
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
      predicate: org.apache.spark.sql.Column): Unit =
    commit(spark, dir) { (snap, _, n) =>
      val s = snap.getOrElse(throw new IllegalStateException(s"no index at $dir"))
      stageTombstones(spark, s, s.index(spark).docStats
        .filter(predicate)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("dlen").cast("long").as("dlen"),
          lit(s.maxSeg).cast("int").as("max_seg")), n).toSeq
    }

  /** The tombstone rows for an explicit id set (a one-column `doc_id`
    * frame) — the REFRESH reconciliation leg (ids removed from or updated
    * in the source view). Ids may include zero-token docs absent from
    * docStats (dlen defaults 0) and ids never indexed (dropped by the
    * live-manifest semi-join). Distributed end-to-end, like
    * [[deleteWhere]]. */
  private def idsMatched(spark: SparkSession, snap: Snapshot, ids: DataFrame): DataFrame =
    ids.select(col("doc_id")).distinct()
      .join(liveDocFps(spark, snap).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(snap.index(spark).docStats.select(col("doc_id"), col("dlen")),
        Seq("doc_id"), "left")
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("dlen").cast("long"), lit(0L)).as("dlen"),
        lit(snap.maxSeg).cast("int").as("max_seg"))

  /** Writes the tombstones of `matched` not already in `snap` as the
    * generation `del=<n>`; None when there are none. A no-op delete writes
    * NOTHING: the mere existence of a tombstone generation bails the
    * metadata count fast paths, so an empty one would permanently degrade
    * them for zero information. */
  private def stageTombstones(spark: SparkSession, snap: Snapshot,
      matched: DataFrame, n: Long): Option[String] = {
    val fresh = snap.tombstones(spark) match {
      case Some(prior) => matched.join(prior.select("doc_id", "max_seg"),
        Seq("doc_id", "max_seg"), "left_anti")
      case None => matched
    }
    if (fresh.isEmpty) None
    else {
      val name = f"del=$n%08d"
      fresh.write.mode("overwrite").parquet(snap.version.path(name))
      Some(name)
    }
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

  /** Live segments of the current version. */
  def listSegments(spark: SparkSession, dir: String): Seq[String] =
    snapshot(spark, dir).fold(Seq.empty[String])(_.segs)

  // ---- reader snapshot -----------------------------------------------------

  /** Session-independent reader state for one published version. The
    * segment metadata, parquet relations and tombstone scalars resolve
    * lazily (once), so metadata-only callers (the freshness gate,
    * [[metaNumDocs]]) never list files, infer schemas or run a job. */
  private final class Snapshot(spark: SparkSession, val version: Commit.Version) {
    private val dir = version.dir
    val segs: Seq[String] = version.files.filter(_.startsWith("seg=")).sorted
    /** The live tombstone generations. */
    val gens: Seq[String] = version.files.filter(_.startsWith("del=")).sorted
    val hasDeletes: Boolean = gens.nonEmpty
    def maxSeg: Int = segs.map(segNo).foldLeft(-1)(math.max)

    private lazy val metas = segs.map(s => readString(spark, s"$dir/$s/meta.json"))
    def metaSum(key: String): Long = metas.map { t =>
      s""""$key":(\\d+)""".r.findFirstMatchIn(t).get.group(1).toLong
    }.sum
    lazy val numDocs: Long = metaSum("numDocs")
    lazy val sumDl: Long = metaSum("sumDl")

    /** part name → one relation per segment, in `segs` order. */
    lazy val parts: Map[String, Seq[HadoopFsRelation]] =
      Seq("postings", "termdict", "docstats")
        .map(p => p -> segs.map(s => IndexFile.relation(spark, Seq(s"$dir/$s/$p")))).toMap

    private lazy val genRel: Option[HadoopFsRelation] =
      if (gens.isEmpty) None
      else Some(IndexFile.relation(spark, gens.map(g => s"$dir/$g")))

    /** All live tombstones (doc_id, dlen, max_seg) over `s`. */
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
          SegmentFiles(segNo(segs(i)),
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
      * build analyzes every part's frames again. */
    val index = new Commit.PerSession[InvertedIndex](read(_, this))
  }

  private[index] def rebind(spark: SparkSession, rel: HadoopFsRelation): DataFrame =
    spark.baseRelationToDataFrame(rel.copy()(spark))

  /** `spark.read.parquet(paths: _*)` opened without a Spark job — see
    * [[IndexFile.relation]]. */
  private[graft] def readParquet(spark: SparkSession, paths: String*): DataFrame =
    rebind(spark, IndexFile.relation(spark, paths))

  /** The snapshot of the version current for the caller's statement; None
    * when no version is published. */
  private def snapshot(spark: SparkSession, dir: String): Option[Snapshot] =
    Commit.current(spark, dir).map(snapshotOf(spark, _))

  private def current(spark: SparkSession, dir: String): Snapshot = {
    val snap = snapshot(spark, dir)
    require(snap.exists(_.segs.nonEmpty), s"no index segments under $dir")
    snap.get
  }

  /** Load an index, merging all segments' stats at read time. The frames
    * are built over `spark` once per version; a write, delete or
    * compaction publishes a new version, with new frames. */
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
    * maintenance.h:36-44): merge all live segments into one NEW segment and
    * publish it alone — the segments and tombstone generations it folded
    * are dropped from the version but stay on disk, so readers holding lazy
    * plans over them stay valid, until the next compaction publishes and
    * deletes them (the reference pins the segment set a query opened with
    * until the query ends — iresearch_snapshot_pinning.test,
    * ts_offsets_isolation.test; Spark has no per-query pin, so one full
    * compaction generation of grace stands in for it). Returns how many
    * segments it retired. */
  def compact(spark: SparkSession, dir: String): Int = Metrics.timed(dir, "consolidation") {
    val base = Commit.latest(spark, dir)
    val snap = base.map(snapshotOf(spark, _)).filter(_.segs.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(s"no index segments under $dir"))
    val merged = read(spark, snap)
    // the surviving doc-id manifest (with content fingerprints) goes into
    // the merged segment — its docids would otherwise fall back to
    // docstats, losing zero-token docs and every fingerprint (REFRESH would
    // then re-add the zero-token docs and lose update detection after any
    // compaction)
    val next = snap.maxSeg + 1
    // merged postings/docstats come pre-bucketed/pre-merged from load();
    // strip the bucket column so writeSegment re-derives partitioning.
    val rebuilt = InvertedIndex(
      merged.postings.drop("bucket"),
      merged.termDict.drop("bucket"),
      merged.docStats,
      merged.totals)
    writeSegment(rebuilt, dir, next, Some(liveDocFps(spark, snap)), base.flatMap(codecOf))
    // the live docs are the same: the composite sidecar carries forward
    Commit.publish(spark, dir, base, segName(next) +: base.get.files.filter(FieldStore.isRoot))
    snap.segs.size
  }
}
