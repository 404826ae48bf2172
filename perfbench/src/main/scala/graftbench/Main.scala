package graftbench

import org.apache.spark.sql.SparkSession

/** Command-line options; `run.py` fills in the machine-sized ones. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, heap: String, warehouse: String, local: String, tpch: String,
    out: String, expected: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cpus").toInt, get("heap"), get("warehouse"), get("local"), get("tpch"),
      get("out"), get("expected"))
  }
}

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back for printing. */
final case class Result(attempted: Long, failed: Long, selfCheckOk: Boolean,
    endToEnd: Seq[Metric], perLayer: Seq[Metric], info: Seq[String],
    failures: Seq[String])

object Main {
  /** The metrics on the result line (BENCHMARK.json); the rest are printed
    * in the report above it. */
  val ContractEndToEnd = Seq("setup_s", "qps", "heap_live_mb")
  val ContractPerLayer = Seq("search.parse_ms", "catalog.analyze_ms", "plans.optimize_ms",
    "plans.optimize_jobs", "plans.physical_ms", "exec.collect_ms", "exec.jobs", "exec.tasks",
    "exec.task_wait_ms", "exec.task_cpu_ms", "exec.input_bytes", "exec.shuffle_bytes",
    "jvm.gc_ms", "trace.phase_coverage", "trace.qps_ratio")

  def session(o: Opts): SparkSession = {
    val spark = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[${o.cpus}]")
        .config("spark.sql.shuffle.partitions", o.cpus.toString)
        .config("spark.sql.warehouse.dir", o.warehouse)
        .config("spark.local.dir", o.local))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.ensurePublicDb(spark)
    graft.search.SqlSurface.registerAll(spark)
    graft.catalog.CatalogDdl.registerFunctions(spark)
    spark
  }

  /** Seconds since the JVM started: set-up time includes JVM and session
    * start. */
  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) { Analytics.dumpOracle(args(1)); return }
    val o = Opts.parse(args)
    // refuse state a live engine may share: every dir this run writes is new
    Seq(sys.env.get("GRAFT_INDEX_DIR"), sys.env.get("GRAFT_CATALOG_DIR")).flatten.foreach { d =>
      val f = new java.io.File(d)
      require(!f.exists() || Option(f.list()).forall(_.isEmpty),
        s"engine state dir $d is not empty: another engine JVM may own it")
    }
    val res = o.workload match {
      case "search" => Search.run(o)
      case "analytics" => Analytics.run(o)
      case "ingest" => Ingest.run(o)
      case other => sys.error(s"unknown workload $other")
    }
    val sparkVersion = org.apache.spark.SPARK_VERSION

    val out = new StringBuilder
    out ++= s"# perfbench workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}\n"
    out ++= s"# machine: nproc=${o.cpus} master=local[${o.cpus}] heap=${o.heap} spark=$sparkVersion " +
      s"shuffle.partitions=${o.cpus} adaptive=true\n"
    res.info.foreach(l => out ++= s"# $l\n")
    val shown = if (o.trace) res.perLayer else res.endToEnd
    out ++= f"${"metric"}%-32s ${"value"}%16s  unit\n"
    shown.foreach(m => out ++= f"${m.name}%-32s ${m.value}%16.4f  ${m.unit}\n")
    res.failures.take(20).foreach(f => out ++= s"# FAILED: $f\n")
    print(out)

    val contract = if (o.trace) ContractPerLayer else ContractEndToEnd
    val byName = shown.map(m => m.name -> m).toMap
    val metrics = contract.map { n =>
      n -> byName.getOrElse(n, sys.error(s"metric $n was not measured"))
    }
    // keys in contract order: correct, attempted, failed, metrics
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val line = mapper.createObjectNode().put("correct", res.failed == 0 && res.selfCheckOk)
      .put("attempted", res.attempted).put("failed", res.failed)
    val ms = line.putObject("metrics")
    metrics.foreach { case (n, m) => ms.putObject(n).put("value", m.value).put("unit", m.unit) }
    println(mapper.writeValueAsString(line))
    System.out.flush()
    // the run's state dirs are discarded whole, so skip Spark's orderly
    // shutdown (seconds of hooks) and end the JVM here
    Runtime.getRuntime.halt(0)
  }
}
