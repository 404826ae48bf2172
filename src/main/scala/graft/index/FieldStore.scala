package graft.index

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._

/** Typed-field postings + INCLUDE columnstore for a composite search index.
  *
  * Spark-native analogue of the reference's multi-column inverted index
  * (/root/reference/server/catalog/inverted_index.h — an
  * `InvertedIndexColumnInfo` per column may carry a text dictionary, a
  * typed posting list, and/or `store_values=true`;
  * tests/sqllogic/sdb/pg/index/inverted_index_indexed_vs_included.test):
  *
  *   - an INDEXED typed field (string keyword / integral / floating /
  *     date-time) serves equality and range predicates FROM THE INDEX —
  *     the reference's Term / "Granular Range" filter nodes inside
  *     IRESEARCH_SCAN (inverted_index_include_pushdown.test);
  *   - an INCLUDE column keeps a typed columnstore copy inside the index,
  *     so a query projecting only covered columns never touches the base
  *     table at all — `Lookup: columnstore` vs `Lookup: table`.
  *
  * Like the reference's `store_values` columns, the sidecar lives inside
  * the index it rides on: its files are roots of a version of the text
  * index ([[IndexStore]]) or the IVF index ([[IvfIndex]]), published by
  * that index's [[Commit]], and its spec and column statistics are the
  * manifest field `sidecar`:
  *
  * {{{
  *   <dir>/fields-<n>/<field>/   (v, doc_id) range-partitioned + sorted by v
  *   <dir>/stored-<n>/           (doc_id, <included cols...>) sorted by doc_id
  *   sidecar = {idCol, fields, included, ndv, at: <n>, stats}
  * }}}
  *
  * A version names its sidecar when its files hold the roots numbered
  * `at`; every write says what becomes of it ([[Restage]]). The claim rules
  * read the sidecar only from a version that names it, and answer without
  * the base table only when that version is byte-fresh with the scan.
  *
  * The field datasets are the idiomatic-Spark stand-in for per-term typed
  * posting lists: `(v, doc_id)` written `repartitionByRange(v).sortWithinPartitions(v)`
  * means BOTH an equality probe and a range predicate prune to the files and
  * row groups whose min/max straddle the constant — at 100 TB a
  * `sev >= 13` drive reads the tail files of the field dataset, never the
  * wide base table. NULL field values are omitted (a `v = x` / `v > x`
  * predicate can never select them — identical semantics to the filter it
  * claims), so the semi-join on `doc_id` is exactly the predicate's row set.
  *
  * The stored dataset is the covering columnstore: two to a few narrow
  * columns, sorted by `doc_id` so the matched-ids join prunes row groups.
  * A restage is one linear scan of the source — these are sorted COPIES,
  * not merged structures, so there is no incremental-merge machinery to
  * maintain; the text postings beside them keep their own segmented
  * incremental path.
  */
object FieldStore {
  /** Which columns are indexed fields / included, the id column, and the
    * included columns whose NDV is tracked (the `hyperloglog` option). */
  final case class Spec(idCol: String, fields: Seq[String], included: Seq[String],
      ndv: Seq[String] = Nil)

  /** A write's source to restage the sidecar over (CREATE, REFRESH, a
    * vector COMPACT): with `spec`, or with the base version's spec unless
    * the write changes nothing and the base version is synced with the
    * same source fingerprint. A write with no source (a streaming append,
    * a fingerprint-only publish) names the base version's sidecar again
    * when it leaves the doc set alone, and publishes without it when it
    * changes the doc set: covered reads then use the base table until a
    * restage. */
  final case class Restage(source: DataFrame, spec: Option[Spec] = None)

  /** The sidecar a version names: its spec and statistics, and its
    * datasets opened without a Spark job. */
  final class Sidecar private[FieldStore] (spark: SparkSession, version: Commit.Version,
      val spec: Spec, at: Long, stats: JsonNode) {
    val roots: Seq[String] = rootsOf(spec, at)
    private def root(prefix: String) = roots.find(_.startsWith(prefix)).map(version.path)

    /** The stored columnstore's path. */
    val storedPath: Option[String] = root("stored-")

    /** `(rowCount, <stat>.<column> → value)` of the INCLUDE columnstore. */
    def colStats: Option[(Long, Map[String, String])] = Option(stats).map { n =>
      val m = n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      (m("rowcount").toLong, m - "rowcount")
    }

    private val relations = TrieMap.empty[String, HadoopFsRelation]
    private def open(s: SparkSession, path: String): DataFrame =
      IndexStore.rebind(s, relations.getOrElseUpdate(path, IndexFile.relation(spark, Seq(path))))

    /** The covering columnstore `(doc_id, included...)`. */
    def stored(s: SparkSession): DataFrame = open(s, storedPath.get)

    /** The `(v, doc_id)` dataset of the indexed field `name`. */
    def field(s: SparkSession, name: String): DataFrame = open(s, s"${root("fields-").get}/$name")
  }

  /** The roots of `spec`'s sidecar numbered `at`. */
  private def rootsOf(spec: Spec, at: Long): Seq[String] =
    Seq(f"fields-$at%08d").filter(_ => spec.fields.nonEmpty) ++
      Seq(f"stored-$at%08d").filter(_ => spec.included.nonEmpty)

  /** Whether `name`, relative to its index directory, is a sidecar root. */
  def isRoot(name: String): Boolean = name.startsWith("fields-") || name.startsWith("stored-")

  /** The sidecar spec version `v` records, named or not. */
  def spec(v: Commit.Version): Option[Spec] = v.field("sidecar").map { n =>
    def strings(key: String) = n.get(key).elements().asScala.map(_.asText).toSeq
    Spec(n.get("idCol").asText, strings("fields"), strings("included"), strings("ndv"))
  }

  /** The sidecar version `v` names, if any. */
  def of(spark: SparkSession, v: Commit.Version): Option[Sidecar] =
    v.memo("sidecar")(for {
      sp <- spec(v)
      n = v.field("sidecar").get
      side = new Sidecar(spark, v, sp, n.get("at").asLong, n.get("stats"))
      if side.roots.forall(v.files.contains)
    } yield side)

  /** The sidecar of the version of `dir` the caller's statement reads. */
  def current(spark: SparkSession, dir: String): Option[Sidecar] =
    Commit.current(spark, dir).flatMap(of(spark, _))

  /** The sidecar of the latest version of `dir` (DDL). */
  def latest(spark: SparkSession, dir: String): Option[Sidecar] =
    Commit.latest(spark, dir).flatMap(of(spark, _))

  private def manifestField(spec: Spec, at: Long, stats: Option[java.util.Map[String, String]]) =
    "sidecar" -> (Map[String, AnyRef]("idCol" -> spec.idCol, "fields" -> spec.fields.asJava,
      "included" -> spec.included.asJava, "ndv" -> spec.ndv.asJava, "at" -> Long.box(at)) ++
      stats.map("stats" -> _)).asJava

  /** The sidecar's part of the version after `base`, numbered `n`: the
    * roots it names, the manifest fields it sets and whether it wrote new
    * roots. */
  private[index] final case class Staged(roots: Seq[String], fields: Seq[(String, Any)],
      wrote: Boolean)

  /** Stages the sidecar over `restage`'s source, if any, for a write that
    * changes the doc set (`changed`) or not, publishing the source
    * fingerprint `sourceFp`. */
  private[index] def stage(spark: SparkSession, dir: String, base: Option[Commit.Version],
      n: Long, restage: Option[Restage], changed: Boolean, sourceFp: Option[String]): Staged = {
    val named = base.flatMap(of(spark, _))
    val carry = Staged(named.fold(Seq.empty[String])(_.roots), Nil, wrote = false)
    restage match {
      case None => if (changed) Staged(Nil, Nil, wrote = false) else carry
      case Some(Restage(source, given)) => given.orElse(base.flatMap(spec)) match {
        case Some(_) if given.isEmpty && !changed && named.nonEmpty && sourceFp.nonEmpty &&
            sourceFp == base.flatMap(_.field("sourceFp")).map(_.asText) => carry
        case Some(sp) =>
          Staged(rootsOf(sp, n), Seq(manifestField(sp, n, write(spark, source, dir, n, sp))),
            wrote = true)
        case None => carry
      }
    }
  }

  /** Writes the field datasets and the stored columnstore of `spec` over
    * `source` as the roots numbered `n`: one column-pruned pass of the
    * source per field plus one for the stored copy, so the cost is linear
    * in the covered columns, not in the table width. Returns the stored
    * columnstore's statistics. */
  private def write(spark: SparkSession, source: DataFrame, dir: String, n: Long,
      spec: Spec): Option[java.util.Map[String, String]] = {
    spec.fields.foreach { f =>
      source.select(col(f).as("v"), col(spec.idCol).cast("long").as("doc_id"))
        .filter(col("v").isNotNull)
        .repartitionByRange(col("v"))
        .sortWithinPartitions("v")
        .write.mode("overwrite").parquet(f"$dir/fields-$n%08d/$f")
    }
    Some(f"$dir/stored-$n%08d").filter(_ => spec.included.nonEmpty).map { path =>
      source.select((col(spec.idCol).cast("long").as("doc_id") +:
          spec.included.map(c => col(c))): _*)
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(path)
      columnStats(IndexStore.readParquet(spark, path), spec)
    }
  }
  /** Per-INCLUDE-column statistics from ONE aggregation pass over the stored
    * columnstore — the Spark analogue of the reference's per-column
    * `hyperloglog` option (inverted_index_hyperloglog_option.test: NDV
    * tracked per segment, unioned at scan time, exposed to the optimizer as
    * approx_unique). The sidecar is restaged whole, so one pass over the
    * final dataset is the equivalent of the reference's segment union.
    * min/max/null-count are recorded for every atomic column regardless
    * (the reference does the same); approx_unique only for the opted-in
    * `ndv` columns. Keys are `rowcount` and `<stat>.<column>`; a NULL
    * statistic is the empty string. */
  private def columnStats(st: DataFrame, spec: Spec): java.util.Map[String, String] = {
    import org.apache.spark.sql.types.{BooleanType, DataType, DateType, NumericType, StringType, TimestampType}
    def atomic(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType | TimestampType => true
      case _ => false
    }
    val aggs = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column](
      count(lit(1)).cast("long").as("rc"))
    val legs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    spec.included.foreach { c =>
      val dt = st.schema(c).dataType
      aggs += sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"nulls__$c")
      legs += (("nulls", c))
      if (dt.isInstanceOf[NumericType]) {
        aggs += min(col(c)).cast("string").as(s"min__$c")
        aggs += max(col(c)).cast("string").as(s"max__$c")
        legs += (("min", c)); legs += (("max", c))
      }
      if (spec.ndv.contains(c) && atomic(dt)) {
        aggs += approx_count_distinct(col(c)).cast("long").as(s"ndv__$c")
        legs += (("ndv", c))
      }
    }
    val r = st.agg(aggs.head, aggs.drop(1).toSeq: _*).head()
    (("rowcount" -> r.getLong(0).toString) +: legs.zipWithIndex.map {
      case ((kind, c), i) => s"$kind.$c" -> (if (r.isNullAt(i + 1)) "" else r.get(i + 1).toString)
    }.toSeq).toMap.asJava
  }

  /** Re-derive the column statistics of the latest version's columnstore
    * and publish them (the VACUUM (RECOMPUTE_STATS_TABLE) leg — the
    * reference runs ANALYZE on the backing store tables); the roots carry
    * forward. Returns false when the version names no sidecar or no
    * INCLUDE columnstore to profile. */
  def recomputeStats(spark: SparkSession, dir: String): Boolean =
    (for {
      base <- Commit.latest(spark, dir)
      side <- of(spark, base)
      path <- side.storedPath
    } yield Commit.publish(spark, dir, Some(base), base.files, manifestField(side.spec,
      base.field("sidecar").get.get("at").asLong,
      Some(columnStats(IndexStore.readParquet(spark, path), side.spec))))).nonEmpty

  /** Register the current version's stored columnstore as a catalog table
    * carrying its statistics, so Spark's cost-based optimizer sees
    * rowCount + per-column NDV/null-count/min-max for join-order and
    * broadcast decisions — the "exposed to the optimizer" leg of the
    * reference's hyperloglog option and of
    * search_table_stats_propagation.test. */
  def registerStatsTable(spark: SparkSession, dir: String, name: String): Unit =
    for {
      side <- latest(spark, dir)
      path <- side.storedPath
      (rc, stats) <- side.colStats
    } {
      import org.apache.spark.sql.catalyst.TableIdentifier
      import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"CREATE TABLE $name USING parquet OPTIONS (path '$path')")
      val colStatsMap = stats.toSeq.groupBy(_._1.split("\\.", 2)(1)).map { case (c, kvs) =>
        val kinds = kvs.map { case (k, v) => k.split("\\.", 2)(0) -> v }.toMap
        def nonEmpty(k: String) = kinds.get(k).filter(_.nonEmpty)
        c -> CatalogColumnStat(
          distinctCount = nonEmpty("ndv").map(BigInt(_)),
          min = nonEmpty("min"),
          max = nonEmpty("max"),
          nullCount = nonEmpty("nulls").map(BigInt(_)))
      }
      val bytes = IndexStore.fsFor(spark, dir)
        .getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
      spark.sessionState.catalog.alterTableStats(TableIdentifier(name),
        Some(CatalogStatistics(sizeInBytes = BigInt(bytes),
          rowCount = Some(BigInt(rc)), colStats = colStatsMap)))
    }
}
