package graftbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

/** `analytics`: one client running TPC-H Q1–Q22 through the engine's
  * entries, each pass in a seed-permuted order, answers checked against
  * DuckDB results recorded once in `perfbench/expected/`. */
object Analytics {
  val Queries: Seq[String] = (1 to 22).map(i => f"tpch_q$i%02d")
  val ExpectedFile = "tpch-sf0.01.json"

  /** Writes the DuckDB SQL of every TPC-H entry (for record_oracle.py). */
  def dumpOracle(path: String): Unit = {
    val m = graft.SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    new ObjectMapper().writeValue(new java.io.File(path), new java.util.TreeMap(m.asJava))
  }

  /** A cell as a comparable value: Long for integers, Double for other
    * numbers, String otherwise. */
  private def canon(v: Any): Any = v match {
    case null => null
    case b: java.lang.Boolean => b.toString
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
      n.asInstanceOf[Number].longValue
    case n: java.math.BigDecimal =>
      if (n.stripTrailingZeros.scale <= 0) n.longValueExact else n.doubleValue
    case n: Number => n.doubleValue
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString.replace('T', ' ')
    case d: java.time.LocalDate => d.toString
    case s => s.toString
  }
  private def canonJson(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else n.asText

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case (_: Number, _) => -1
    case (_, _: Number) => 1
    case (x, y) => x.toString.compareTo(y.toString)
  }
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x == y
    case (x: Number, y: Number) =>
      val (p, q) = (x.doubleValue, y.doubleValue)
      p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
    case _ => a == b
  }
  private val rowOrd: Ordering[Seq[Any]] = (x: Seq[Any], y: Seq[Any]) =>
    x.zip(y).iterator.map { case (a, b) => cmp(a, b) }.find(_ != 0).getOrElse(0)

  /** The recorded answer check for one query. */
  def checker(exp: JsonNode): (Array[String], Array[Row]) => Option[String] = (cols, rows) => {
    val wantCols = exp.get("columns").elements().asScala.map(_.asText).toSeq
    if (wantCols.sorted != cols.toSeq.sorted) Some(s"columns ${cols.mkString(",")} want ${wantCols.mkString(",")}")
    else {
      val order = wantCols.map(c => cols.indexOf(c))
      val got = rows.toSeq.map(r => order.map(i => canon(r.get(i)))).sorted(rowOrd)
      val want = exp.get("rows").elements().asScala.map(_.elements().asScala.map(canonJson).toSeq).toSeq.sorted(rowOrd)
      if (got.size != want.size) Some(s"${got.size} rows, want ${want.size}")
      else got.zip(want).zipWithIndex.collectFirst {
        case ((g, w), i) if g.zip(w).exists { case (a, b) => !same(a, b) } => s"row $i: got $g want $w"
      }
    }
  }

  /** One pass: the 22 queries in a seeded order. */
  def shuffled(r: SplittableRandom): Seq[String] = {
    val a = Queries.toArray
    var j = a.length - 1
    while (j > 0) { val k = r.nextInt(j + 1); val t = a(j); a(j) = a(k); a(k) = t; j -= 1 }
    a.toSeq
  }

  def run(o: Opts): Result = {
    val tracer = if (o.trace) Some(new Tracer) else None
    val expected = new ObjectMapper().readTree(new java.io.File(s"${o.expected}/$ExpectedFile"))
    val data = expected.get("data")
    val spark = Main.session(o)
    tracer.foreach(_.attach(spark))
    val client = Client.session(spark)
    SparkSession.setActiveSession(client)
    // the recorded answers hold for the generated tables only
    val counts = Seq("lineitem", "orders", "part", "customer", "supplier").map { t =>
      t -> client.read.parquet(s"${o.tpch}/$t.parquet").count()
    }
    val dataOk = counts.forall { case (t, n) => data.get(t).asLong == n }
    val exps = Queries.map(q => q -> expected.get("queries").get(q)).toMap
    // an empty recorded answer could only confirm that nothing came back
    val emptyRecorded = Queries.filter(q => exps(q).get("rows").size == 0)
    def stmt(q: String): Stmt = {
      val chk = checker(exps(q))
      var cols: Array[String] = Array.empty
      Stmt(q, read = true, null, rows => chk(cols, rows),
        build = s => { val df = graft.SparkEntry.queries(q)(s, o.tpch); cols = df.columns; df },
        slot = Queries.indexOf(q))
    }
    // table registration happens on first use; then one untimed warm-up
    // pass, spread over `cpus` threads of the same session
    graft.SparkEntry.queries(Queries.head)(client, o.tpch)
    val warm = Exec.closedLoop((0 until o.cpus).map(i => client ->
      Iterator.single(Queries.zipWithIndex.collect { case (q, j) if j % o.cpus == i => stmt(q) })),
      Long.MaxValue, None)
    val setupS = Main.uptimeS

    val rng = new SplittableRandom(o.seed)
    // whole passes only, so every run measures each query equally often
    val passes = Iterator.continually(shuffled(rng).map(stmt))
    val ws = Measure.window(o.seconds, 1) { deadline =>
      Exec.closedLoop(Seq(client -> passes), deadline, tracer)
    }
    val heap = Stats.heapLiveMb()
    val outs = ws.outcomes
    val e2e = Measure.endToEnd(ws, setupS, heap) :+ Measure.failRatio(ws)
    val layers = tracer.map { tr =>
      tr.finish(spark)
      tr.writeJson(s"${o.out}/trace-analytics-seed${o.seed}.json", Map("workload" -> "analytics", "seed" -> o.seed))
      (Measure.layers(tr, ws), Measure.summary(tr))
    }
    def order(seed: Long) = shuffled(new SplittableRandom(seed)).mkString(",")
    val orderOk = order(o.seed) == order(o.seed) && order(o.seed) != order(o.seed + 1)
    val info = Seq(
      s"generator: tpch dbgen sf=0.01 rows ${counts.map { case (t, n) => s"$t=$n" }.mkString(" ")} " +
        s"data_matches_recording=$dataOk first_pass_order=${order(o.seed).split(",").take(5).mkString(",")}... " +
        s"self_check=${if (orderOk) "ok" else "FAILED"}",
      s"workload: clients=1 closed-loop passes=${outs.size / Queries.size} statements=${outs.size} " +
        s"(p90 has ${(outs.size * 0.1).toInt} samples beyond it) " +
        f"window=${ws.wallS}%.1fs cpu_steal=${ws.stealPct}%.1f%%",
      f"setup: total_with_session_and_warmup=$setupS%.2fs") ++
      tracer.map(_ => "claims: no search statements; plans.claim_ratio does not apply").toSeq ++
      layers.toSeq.flatMap(_._2) ++
      tracer.map(_ => s"spans: ${o.out}/trace-analytics-seed${o.seed}.json").toSeq
    val failures = outs.filter(_.error.nonEmpty).map(x => s"${x.kind}: ${x.error.get}") ++
      warm.filter(_.error.nonEmpty).map(x => s"warm-up ${x.kind}: ${x.error.get}") ++
      (if (dataOk) Nil else Seq("generated TPC-H tables differ from the recorded ones")) ++
      (if (emptyRecorded.isEmpty) Nil else Seq(s"recorded answers are empty: ${emptyRecorded.mkString(",")}"))
    Result(outs.size, outs.count(_.error.nonEmpty) + warm.count(_.error.nonEmpty),
      dataOk && orderOk && emptyRecorded.isEmpty,
      e2e, layers.map(_._1).getOrElse(Nil) ++ e2e, info, failures)
  }
}
