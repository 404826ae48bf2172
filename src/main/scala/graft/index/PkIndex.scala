package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Secondary-index point lookup — the Spark-native analogue of the
  * reference's ART `SecondaryIndex` for PK point lookups
  * (/root/reference/server/catalog/secondary_index.h:50;
  * tests/sqllogic/sdb/pg/index/secondary_index_point_lookup.test: a
  * selective equality on an indexed column switches to an index scan
  * instead of a sequential scan).
  *
  * A single global ART does not fit Spark's storage model (immutable
  * distributed parquet, no rowids), so the index is a per-FILE zone-map
  * sidecar: for each data file, (min key, max key, row count), written once
  * at CREATE SECONDARY INDEX from ONE metadata-only aggregation over the
  * `_metadata.file_path` virtual column. The zones are #files-sized —
  * metadata, not data: at 100 TB / 128 MB files that is ~800k rows of a few
  * strings, written as one `zones-N.json` root of a [[Commit]] version and
  * parsed once per version.
  *
  * `WHERE pk = x` (and small IN lists) then prunes to the files whose
  * [min,max] covers a key BEFORE the scan — for data clustered/sorted by
  * the key (the normal layout for a PK after ingest) that is one file per
  * key; parquet row-group statistics + the residual filter finish the job
  * inside the file. Effectiveness degrades gracefully on unclustered data
  * (ranges overlap → more candidates), exactly like parquet's own row-group
  * pruning — the claim keeps the full filter, so results are always exact.
  */
object PkIndex {

  /** One file's zone entry. Keys are held in their natural domain (long or
    * string) so pruning compares numerically for numeric columns — never
    * lexicographically on stringified numbers. */
  final case class Zone(file: String, mnL: Long, mxL: Long,
      mnS: String, mxS: String, cnt: Long)
  final case class Manifest(keyType: String, zones: Seq[Zone]) {
    def numFiles: Int = zones.size
    def candidates(keys: Seq[Any]): Seq[String] = keyType match {
      case "long" =>
        val ks = keys.collect { case n: Number => n.longValue }
        zones.filter(z => ks.exists(k => z.mnL <= k && k <= z.mxL)).map(_.file)
      case _ =>
        // zone min/max were computed by Spark's min/max, which orders strings
        // by UTF-8 bytes (code points) — Java String <= is UTF-16 code-unit
        // order, and the two disagree above the BMP. Compare the way the
        // zones were built, or a file containing the key can be pruned away.
        val ks = keys.map(k =>
          org.apache.spark.unsafe.types.UTF8String.fromString(k.toString))
        zones.filter { z =>
          val mn = org.apache.spark.unsafe.types.UTF8String.fromString(z.mnS)
          val mx = org.apache.spark.unsafe.types.UTF8String.fromString(z.mxS)
          ks.exists(k => mn.compareTo(k) <= 0 && k.compareTo(mx) <= 0)
        }.map(_.file)
    }
    /** Scheme-insensitive path keys of the files this manifest knows. */
    lazy val fileKeys: Set[String] = zones.map(z => pathKey(z.file)).toSet
  }

  /** Normalize a file path string to its path component so manifest entries
    * (from `_metadata.file_path`, e.g. `file:///x/y`) compare equal to
    * FileIndex listings (`file:/x/y`) regardless of scheme spelling. */
  def pathKey(p: String): String = new Path(p).toUri.getPath

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def dirFor(cacheKey: String, col: String): String =
    s"${IndexStore.defaultRoot}/${IndexStore.slug(cacheKey)}-pk-$col-v${IndexStore.FormatVersion}"

  private def read(spark: SparkSession, tableRoot: String) =
    graft.catalog.TableStore.readRoot(spark, tableRoot).getOrElse(spark.read.parquet(tableRoot))

  /** True iff the persisted manifest's file set matches the table's CURRENT
    * listing — a rewrite (compaction, re-ingest, overwrite) invalidates the
    * zones. Driver-side listing only, no Spark job; the claim rule performs
    * the same reconciliation per-query, so this is a cheap DDL-time gate
    * that lets CREATE rebuild instead of fast-pathing onto stale zones. */
  def fresh(spark: SparkSession, dir: String, tableRoot: String): Boolean =
    load(spark, dir).exists { m =>
      val live = read(spark, tableRoot).inputFiles.map(pathKey).toSet
      m.fileKeys == live
    }

  /** Build the sidecar: one metadata-projection aggregation over the table
    * — reads only the key column + the file-path virtual column, never the
    * full rows. Result is #files rows to the driver (metadata-sized). */
  def build(spark: SparkSession, tableRoot: String, keyCol: String,
      dir: String): Int = {
    val df = read(spark, tableRoot)
    val kt = df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => "long"
      case org.apache.spark.sql.types.StringType => "string"
      case other => throw new IllegalArgumentException(
        s"CREATE SECONDARY INDEX supports integral/string keys; $keyCol is $other")
    }
    val rows = df
      .select(col(keyCol).as("k"), col("_metadata.file_path").as("f"))
      .groupBy("f").agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("cnt"))
      .collect()
    val lines = rows.map { r =>
      val node = mapper.createObjectNode()
      node.put("file", r.getString(0))
      if (kt == "long") {
        node.put("min", r.get(1).asInstanceOf[Number].longValue)
        node.put("max", r.get(2).asInstanceOf[Number].longValue)
      } else {
        node.put("min", r.get(1).toString)
        node.put("max", r.get(2).toString)
      }
      node.put("cnt", r.getLong(3))
      mapper.writeValueAsString(node)
    }
    // the zones of every rebuild are a new root; the version that names it
    // drops the previous one
    val base = Commit.latest(spark, dir)
    val root = f"zones-${Commit.nextNumber(base)}%08d.json"
    val out = IndexStore.fsFor(spark, dir).create(new Path(s"$dir/$root"), true)
    try out.write((s"""{"keyType":"$kt"}""" +: lines).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
    Commit.publish(spark, dir, base, Seq(root))
    rows.length
  }

  /** The zones of the current version, parsed once per version — a
    * plan-time driver FS read like the IndexCatalog's catalog.json, never a
    * Spark job. */
  def load(spark: SparkSession, dir: String): Option[Manifest] =
    Commit.current(spark, dir).map(v => v.memo("pk") {
      val ls = IndexStore.readString(spark, v.path(v.files.head))
        .linesIterator.filter(_.trim.nonEmpty).toSeq
      val kt = mapper.readTree(ls.head).get("keyType").asText()
      Manifest(kt, ls.tail.map { l =>
        val n = mapper.readTree(l)
        if (kt == "long")
          Zone(n.get("file").asText(), n.get("min").asLong, n.get("max").asLong, "", "",
            n.get("cnt").asLong)
        else
          Zone(n.get("file").asText(), 0L, 0L, n.get("min").asText(), n.get("max").asText(),
            n.get("cnt").asLong)
      })
    })
}
