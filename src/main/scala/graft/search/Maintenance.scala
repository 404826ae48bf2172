package graft.search

import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.index.IndexStore

/** Background index maintenance — the scheduler the reference runs inside
  * the server (server/search/maintenance.h:36-44: periodic consolidation /
  * commit tasks with `refresh_interval` / `compaction_interval` knobs; its
  * sqllogic tests flip them with `SET refresh_interval = 0`). The Spark
  * analogue is a driver-side daemon that walks the DDL catalog on two
  * intervals:
  *
  *  - **refresh tick**: `REFRESH SEARCH INDEX <name>` for every cataloged
  *    index — new source rows land as one appended segment (cost ∝ new
  *    data), so an ingest's appends become search-visible without anyone
  *    issuing a manual REFRESH.
  *  - **compaction tick**: `COMPACT SEARCH INDEX <name>` for any text index
  *    whose live segment count reached `compactMinSegments` — keeping the
  *    per-query segment fan-in bounded under continuous ingest. COMPACT is
  *    snapshot-isolated (IndexStore.compact): in-flight queries keep their
  *    segment files for a full compaction generation.
  *
  * All work runs through the SAME DDL verbs a user would issue, so the
  * scheduler adds no second code path — it is purely a clock. Errors on one
  * index are logged and skipped; one bad index must not starve the others.
  * The executor is a daemon thread: it never blocks JVM exit.
  */
object Maintenance {

  /** `only`: scope maintenance to specific index names (None = the whole
    * catalog) — the reference configures maintenance per collection link
    * the same way. */
  final case class Config(
      refreshIntervalMs: Long = 30000L,
      compactionIntervalMs: Long = 300000L,
      compactMinSegments: Int = 4,
      only: Option[Set[String]] = None)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val scheduler = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-index-maintenance"); t.setDaemon(true); t
  }
  /** One running schedule per SparkSession (keyed by session hash). */
  private val running = TrieMap.empty[SparkSession, Seq[ScheduledFuture[_]]]

  /** Indexes the refresh tick must skip (e.g. a test exercising manual
    * verbs concurrently). */
  private val excluded = TrieMap.empty[String, Boolean]
  def exclude(name: String): Unit = excluded.put(name, true)

  /** Config from session confs — the reference's `SET refresh_interval = N`
    * / `SET compaction_interval = N` settings surface (its sqllogic tests
    * flip them per session): `SET spark.graft.maintenance.refreshIntervalMs
    * = 500` etc., read at [[start]] time. */
  def configFrom(spark: SparkSession): Config = {
    def n(key: String, dflt: Long): Long =
      spark.conf.getOption(s"spark.graft.maintenance.$key").map(_.toLong).getOrElse(dflt)
    val d = Config()
    Config(
      refreshIntervalMs = n("refreshIntervalMs", d.refreshIntervalMs),
      compactionIntervalMs = n("compactionIntervalMs", d.compactionIntervalMs),
      compactMinSegments = n("compactMinSegments", d.compactMinSegments.toLong).toInt)
  }

  /** Start maintenance with the session-conf knobs. */
  def start(spark: SparkSession): Unit = start(spark, configFrom(spark))

  /** Start (or restart) maintenance for a session. Idempotent per session:
    * a second start replaces the previous schedule. */
  def start(spark: SparkSession, cfg: Config): Unit = synchronized {
    stop(spark)
    def tickRefresh(): Unit = eachIndex(spark, cfg.only) { name =>
      Ddl.execute(spark, s"REFRESH SEARCH INDEX $name")
    }
    def tickCompact(): Unit = eachIndex(spark, cfg.only) { name =>
      Ddl.catalog.get(name).foreach { e =>
        val plainText = e.annKey.isEmpty && e.analyzer != "secondary"
        if (plainText &&
            IndexStore.listSegments(spark, e.dir).size >= cfg.compactMinSegments)
          Ddl.execute(spark, s"COMPACT SEARCH INDEX $name")
      }
    }
    val fs = Seq(
      scheduler.scheduleWithFixedDelay(() => tickRefresh(),
        cfg.refreshIntervalMs, cfg.refreshIntervalMs, TimeUnit.MILLISECONDS),
      scheduler.scheduleWithFixedDelay(() => tickCompact(),
        cfg.compactionIntervalMs, cfg.compactionIntervalMs, TimeUnit.MILLISECONDS))
    running.put(spark, fs)
  }

  def stop(spark: SparkSession): Unit = synchronized {
    running.remove(spark).foreach(_.foreach(_.cancel(false)))
  }

  private def eachIndex(spark: SparkSession, only: Option[Set[String]])(
      f: String => Unit): Unit =
    Ddl.catalog.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filterNot(excluded.contains).foreach { name =>
      try f(name)
      catch { case NonFatal(e) =>
        log.warn(s"maintenance tick failed for index $name: ${e.getMessage}")
      }
    }
}
