package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. `parent` is 0 for a statement's root span; spans of
  * one statement share `stmt`. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, stmt: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = (endUs - startUs) / 1000.0
}

/** In-memory span recorder. Spans come from the benchmark's own code around
  * each call into a layer, plus one span per Spark job, tied to its
  * statement through the job group the client thread sets. */
final class Tracer {
  private val ids = new AtomicLong(1)
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  val spans = new ConcurrentLinkedQueue[Span]()
  /** job group -> the span the group's jobs belong under */
  val groups = new ConcurrentHashMap[String, (Long, String)]()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def newId(): Long = ids.getAndIncrement()

  def span[A](name: String, stmt: String, parent: Long,
      attrs: Map[String, Double] = Map.empty)(f: Long => A): A = {
    val id = newId()
    val s = nowUs
    try f(id) finally spans.add(Span(id, parent, stmt, name, s, nowUs, attrs))
  }

  def add(s: Span): Unit = spans.add(s)

  /** Spark job/stage/task events, aggregated per job. */
  final class JobListener extends SparkListener {
    final class Job(val id: Int, val group: String, val start: Long, val stages: Seq[Int]) {
      @volatile var end: Long = start
      var tasks = 0L; var cpuNs = 0L; var inBytes = 0L; var shuffleBytes = 0L; var waitMs = 0L
    }
    val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Job]()
    private val stageSubmit = new ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(e.jobId, g, e.time, e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j != null) j.synchronized {
        j.tasks += 1
        val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        j.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.inBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  val listener = new JobListener

  def attach(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(listener)

  /** Drain the bus and turn each job into a span under its group's span. */
  def finish(spark: SparkSession): Unit = {
    org.apache.spark.sql.perfbench.Hooks.drainListeners(spark)
    spark.sparkContext.removeSparkListener(listener)
    listener.jobs.values.asScala.foreach { j =>
      Option(groups.get(j.group)).foreach { case (parent, stmt) =>
        add(Span(newId(), parent, stmt, "spark.job", j.start * 1000L, j.end * 1000L,
          Map("job_id" -> j.id.toDouble, "tasks" -> j.tasks.toDouble,
            "task_cpu_ms" -> j.cpuNs / 1e6, "input_bytes" -> j.inBytes.toDouble,
            "shuffle_bytes" -> j.shuffleBytes.toDouble, "task_wait_ms" -> j.waitMs.toDouble)))
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time: duration minus the part of it covered by child spans. */
  def selfTimes: Map[Long, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs))).filter(k => k._2 > k._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endUs - s.startUs - covered) / 1000.0
    }.toMap
  }

  def writeJson(path: String, meta: Map[String, Any]): Unit = {
    val mapper = new ObjectMapper()
    val doc = mapper.createObjectNode()
    doc.set[JsonNode]("meta", mapper.valueToTree[JsonNode](meta.asJava))
    val arr = doc.putArray("spans")
    all.sortBy(_.startUs).foreach { s =>
      val n = arr.addObject().put("id", s.id).put("parent", s.parent).put("stmt", s.stmt)
        .put("name", s.name).put("start_us", s.startUs).put("end_us", s.endUs)
      s.attrs.foreach { case (k, v) => n.put(k, v) }
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    mapper.writeValue(f, doc)
  }
}
