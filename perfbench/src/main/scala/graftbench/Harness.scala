package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One statement a client sends, and how its answer is checked. Either
  * `sql` text or a `build` call that returns the statement's DataFrame
  * (the TPC-H entries come that way). `check` returns an error message on a
  * wrong answer. `slot` names the statement's shape within a unit (its
  * place in the unbroken order of a search block, the TPC-H query number). */
final case class Stmt(kind: String, read: Boolean, sql: String,
    check: Array[Row] => Option[String],
    build: SparkSession => DataFrame = null, slot: Int = 0) {
  def text: String = if (sql != null) sql else kind
}

final case class Outcome(id: String, kind: String, read: Boolean,
    startNs: Long, endNs: Long, error: Option[String], traced: Boolean,
    claimed: Option[Boolean] = None) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A client is its own session, as a pg connection is. */
object Client {
  def session(root: SparkSession): SparkSession = {
    val s = root.newSession()
    graft.search.SqlSurface.registerAll(s)
    graft.catalog.CatalogDdl.registerFunctions(s)
    s
  }
}

object Exec {
  private val seq = new AtomicLong(0)

  /** Send one statement and wait for its answer. Untraced: `spark.sql` and
    * `collect`. Traced: the same calls split into the QueryExecution phases,
    * each its own span, with the job group naming the phase so Spark jobs
    * land under it. `claimed` classifies the optimized plan (search only). */
  def run(s: SparkSession, st: Stmt, tracer: Option[Tracer],
      claimed: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Boolean] = None): Outcome = {
    val id = s"s${seq.incrementAndGet()}"
    val sc = s.sparkContext
    var claim: Option[Boolean] = None
    val t0 = System.nanoTime()
    val err: Option[String] = try {
      val rows = tracer match {
        case None =>
          sc.setJobGroup(id, st.kind, interruptOnCancel = false)
          val df = if (st.sql != null) s.sql(st.sql) else st.build(s)
          df.collect()
        case Some(tr) =>
          tr.span("stmt", id, 0L, Map("read" -> (if (st.read) 1.0 else 0.0))) { root =>
            // a phase span under the root; its job group puts the Spark
            // jobs it launches under it, and `f` gets the span's id
            def phase[A](name: String)(f: Long => A): A =
              tr.span(name, id, root) { pid =>
                tr.groups.put(s"$id|$name", (pid, id))
                sc.setJobGroup(s"$id|$name", st.kind, interruptOnCancel = false)
                f(pid)
              }
            val df = if (st.sql != null) {
              val plan = phase("search.parse")(_ => s.sessionState.sqlParser.parsePlan(st.sql))
              phase("catalog.analyze")(_ => org.apache.spark.sql.perfbench.Hooks.ofRows(s, plan))
            } else phase("catalog.analyze") { pid =>
              // one engine call parses and analyses; its own planning
              // tracker splits the parse out (millisecond resolution)
              val d = st.build(s)
              d.queryExecution.tracker.phases.get("parsing").foreach { p =>
                tr.add(Span(tr.newId(), pid, id, "search.parse", p.startTimeMs * 1000L, p.endTimeMs * 1000L))
              }
              d
            }
            val opt = phase("plans.optimize")(_ => df.queryExecution.optimizedPlan)
            claim = claimed.map(_(opt))
            phase("plans.physical")(_ => df.queryExecution.executedPlan)
            phase("exec.collect")(_ => df.collect())
          }
      }
      st.check(rows)
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally sc.clearJobGroup()
    Outcome(id, st.kind, st.read, t0, System.nanoTime(), err, tracer.isDefined, claim)
  }

  /** Closed loop: each client sends its next statement only after the
    * previous answer arrived. Clients work in units (a block of the search
    * mix, a TPC-H pass) and start no unit after `deadlineNs`, so every run
    * measures whole units. One thread per client. With a tracer, a
    * statement is traced when its slot and its unit's number differ in
    * parity, and each client runs at least two units: every shape runs
    * traced and untraced equally often, early and late, so the traced and
    * untraced rates of one run give the tracing overhead. */
  def closedLoop(clients: Seq[(SparkSession, Iterator[Seq[Stmt]])], deadlineNs: Long,
      tracer: Option[Tracer],
      claimed: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Boolean] = None,
      stopWhen: () => Boolean = () => false): Seq[Outcome] = {
    val results = clients.map(_ => scala.collection.mutable.ArrayBuffer.empty[Outcome])
    val minUnits = if (tracer.isDefined) 2 else 0
    val threads = clients.zipWithIndex.map { case ((s, it), i) =>
      val t = new Thread(() => {
        SparkSession.setActiveSession(s)
        var units = 0
        while ((units < minUnits || System.nanoTime() < deadlineNs) && !stopWhen() && it.hasNext) {
          val unit = units
          it.next().foreach { st =>
            val tr = if ((unit + st.slot) % 2 == 1) tracer else None
            results(i) += run(s, st, tr, tr.flatMap(_ => claimed))
          }
          units += 1
        }
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    results.flatten.toSeq
  }
}

object Stats {
  /** Linear-interpolated quantile of unsorted values (q in 0..1). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** JVM heap used after a full GC, in MB: the least of a few collections
    * spaced out so Spark's cleaner can drop what the first one released. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Cumulative CPU jiffies (all, steal) from /proc/stat, if readable. */
  def cpuJiffies(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } finally src.close()
  } catch { case _: Exception => None }

  /** Every regular file under `path`, with its size. */
  def files(path: String): Map[String, Long] = {
    val root = new java.io.File(path)
    if (!root.exists()) Map.empty
    else {
      val st = java.nio.file.Files.walk(root.toPath)
      try {
        val b = Map.newBuilder[String, Long]
        st.forEach(p => if (java.nio.file.Files.isRegularFile(p)) b += p.toString -> java.nio.file.Files.size(p))
        b.result()
      } finally st.close()
    }
  }

  def dirBytes(path: String): Long = files(path).values.sum
}
