package graft.index

import java.io.FileNotFoundException
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** The commit protocol of every versioned directory: the text index
  * ([[IndexStore]]), the IVF index with its quantized codes ([[IvfIndex]],
  * [[QuantizedIvf]]), either one's composite sidecar ([[FieldStore]]), the
  * HNSW graph ([[HnswIndex]]), the point-lookup zones ([[PkIndex]]) and the
  * data of catalog tables ([[graft.catalog.TableStore]]).
  *
  * {{{
  *   <dir>/_CURRENT             the published version: its manifest's name
  *   <dir>/_v/<n>-<id>.json     one version's manifest, immutable
  *   <dir>/<data roots>         the files a manifest names, immutable
  * }}}
  *
  * A manifest holds the version number `n`, the data roots it names
  * (`files`, relative to the directory), the roots dropped by the last
  * version that dropped any (`retired`), and the object's own fields.
  *
  *  - Publish: a writer stages its data under names no published version
  *    uses (derived from `n + 1`), writes the manifest, and then replaces
  *    `_CURRENT` by an atomic rename. Data without a published manifest is
  *    never read: a crash anywhere before the rename leaves the previous
  *    version serving, and a retry of the same write stages over what the
  *    crash left.
  *  - Read: one read of `_CURRENT`. Inside a statement's planning (Spark's
  *    `QueryPlanningTracker`) the first read of a directory is pinned, so a
  *    statement reads each directory once and plans against one version.
  *    The parsed manifest, and whatever an object derives from it
  *    ([[Version.memo]]), is kept per (directory, version).
  *  - Retire: the roots a version drops stay on disk, so plans opened on
  *    the previous version keep running, until the next version that drops
  *    roots is published; then they are deleted, except those a writer
  *    names as still held (a table version an open transaction reads),
  *    which are retired again by the following one. Of the manifests, the
  *    current and the previous one are kept.
  *
  * One writer per directory at a time (the DDL path); readers never lock.
  * After a DROP deletes the directory, the next read finds no `_CURRENT`.
  */
object Commit {

  private val mapper = new ObjectMapper()

  /** A published version of the index at `dir`. */
  final class Version private[Commit] (val dir: String, val id: String, val body: JsonNode) {
    val number: Long = body.get("version").asLong
    val files: Seq[String] = strings(body.get("files"))
    val retired: Seq[String] = strings(body.get("retired"))
    private[Commit] val previous: Option[String] = Option(body.get("previous")).map(_.asText)

    /** The number the next version's staged roots are named with. */
    def next: Long = number + 1

    /** An object field of this version's manifest. */
    def field(name: String): Option[JsonNode] = Option(body.get(name)).filterNot(_.isNull)

    def path(name: String): String = s"$dir/$name"

    private val derived = TrieMap.empty[String, AnyRef]

    /** `build` computed once for this version under `slot`. */
    def memo[T <: AnyRef](slot: String)(build: => T): T =
      derived.getOrElseUpdate(slot, build).asInstanceOf[T]
  }

  /** A value built once per session from one version — frames bound to
    * that session. Keyed weakly, so frames never cross sessions; held
    * softly, since a value references its session and a strong one would
    * keep its weak key reachable as long as the version lives. */
  final class PerSession[T <: AnyRef](build: SparkSession => T) {
    private val built =
      new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[T]]()

    def apply(s: SparkSession): T = built.synchronized {
      Option(built.get(s)).flatMap(r => Option(r.get)).getOrElse {
        val v = build(s)
        built.put(s, new java.lang.ref.SoftReference(v))
        v
      }
    }
  }

  private def strings(n: JsonNode): Seq[String] =
    if (n == null) Seq.empty else n.elements().asScala.map(_.asText).toSeq

  /** The number the first staged roots of a new index are named with, or
    * those of the version after `base`. */
  def nextNumber(base: Option[Version]): Long = base.fold(1L)(_.next)

  // ---- read ------------------------------------------------------------------

  /** The last version seen per directory. */
  private val versions = TrieMap.empty[String, Version]

  /** Per statement being planned: key → what it resolved to (a
    * directory → the `_CURRENT` it read). */
  private val pins = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[QueryPlanningTracker, TrieMap[String, AnyRef]]())

  private def statementPins: Option[TrieMap[String, AnyRef]] =
    QueryPlanningTracker.get.map(t => pins.synchronized {
      var m = pins.get(t)
      if (m == null) { m = TrieMap.empty; pins.put(t, m) }
      m
    })

  /** `resolve` once per statement being planned under `key` (outside
    * planning, on every call): what a statement reads stays put across the
    * planner's passes. */
  def perStatement[T <: AnyRef](key: String)(resolve: => T): T =
    statementPins.fold(resolve)(_.getOrElseUpdate(key, resolve).asInstanceOf[T])

  private def pointer(spark: SparkSession, dir: String): Option[String] =
    try Some(IndexStore.readString(spark, s"$dir/_CURRENT").trim)
    catch { case _: FileNotFoundException => None }

  private def resolve(spark: SparkSession, dir: String, id: Option[String]): Option[Version] =
    id match {
      case None => versions.remove(dir); None
      case Some(i) => versions.get(dir).filter(_.id == i).orElse {
        val v = new Version(dir, i, mapper.readTree(IndexStore.readString(spark, s"$dir/_v/$i")))
        versions.put(dir, v)
        Some(v)
      }
    }

  /** The version a reader sees: pinned for the statement being planned. */
  def current(spark: SparkSession, dir: String): Option[Version] =
    resolve(spark, dir, perStatement(dir)(pointer(spark, dir)))

  /** The version a writer builds on: always read from disk. */
  def latest(spark: SparkSession, dir: String): Option[Version] =
    resolve(spark, dir, pointer(spark, dir))

  // ---- publish and retire ----------------------------------------------------

  /** Publish the version after `base` (None: the first) naming `files`,
    * with `base`'s object fields overlaid by `fields`, then retire. Every
    * root in `files` must already be written. */
  def publish(spark: SparkSession, dir: String, base: Option[Version],
      files: Seq[String], fields: (String, Any)*): Version =
    publishHolding(spark, dir, base, files, Set.empty, fields: _*)

  /** [[publish]], keeping the retired roots in `held` on disk: they stay
    * retired and are deleted by a later dropping version that no longer
    * holds them. A root that `files` names again is live, never retired. */
  def publishHolding(spark: SparkSession, dir: String, base: Option[Version],
      files: Seq[String], held: Set[String], fields: (String, Any)*): Version = {
    val n = nextNumber(base)
    val live = files.toSet
    val dropped = base.fold(Seq.empty[String])(_.files.filterNot(live))
    val retired = base.fold(Seq.empty[String])(_.retired.filterNot(live))
    val body = base.fold(mapper.createObjectNode())(_.body.deepCopy[ObjectNode]())
    fields.foreach { case (k, v) => body.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    body.put("version", n)
    body.set[JsonNode]("files", mapper.valueToTree[JsonNode](files.asJava))
    body.set[JsonNode]("retired", mapper.valueToTree[JsonNode](
      (if (dropped.nonEmpty) dropped ++ retired.filter(held) else retired).asJava))
    base.fold(body.remove("previous"))(b => body.put("previous", b.id))
    val id = f"$n%08d-${java.util.UUID.randomUUID().toString.take(8)}.json"
    val fs = IndexStore.fsFor(spark, dir)
    val out = fs.create(new Path(s"$dir/_v/$id"), true)
    try out.write(mapper.writeValueAsBytes(body)) finally out.close()
    IndexStore.writeStringAtomic(spark, s"$dir/_CURRENT", id)
    val v = new Version(dir, id, body)
    versions.put(dir, v)
    statementPins.foreach(_.put(dir, Some(id)))
    if (dropped.nonEmpty)
      retired.filterNot(held).foreach(r => fs.delete(new Path(s"$dir/$r"), true))
    base.flatMap(_.previous).foreach(p => fs.delete(new Path(s"$dir/_v/$p"), false))
    v
  }
}
