package graftbench

import org.apache.spark.sql.SparkSession

/** `ingest`: the search corpus plus index, one writer running a fixed
  * number of cycles (INSERT a batch, DELETE live ids, VACUUM
  * (REFRESH_TABLE); VACUUM (COMPACT_TABLE) every `CompactEvery` cycles),
  * and one reader running the search mix until the writer finishes. */
object Ingest {
  val BaseDocs = 2000
  val Cycles = 2
  val CompactEvery = 2
  val InsertBatch = 500
  val DeleteBatch = 50
  /** pks at or below this are never deleted: the reader's phrases, query
    * vectors and point lookups draw from them */
  val Stable = 1000

  /** Reference states a read may see. Before each cycle the writer appends
    * the states the cycle can expose (deletes only, inserts only, both);
    * `committed` is the state after the last acknowledged REFRESH. */
  final class States(first: Reference) {
    @volatile var list: Vector[Reference] = Vector(first)
    @volatile var committed = 0
    def window(): () => Seq[Reference] = {
      val lo = committed
      () => list.slice(lo, list.size)
    }
  }

  def run(o: Opts): Result = {
    val tracer = if (o.trace) Some(new Tracer) else None
    val spark = Main.session(o)
    tracer.foreach(_.attach(spark))
    val c = new Gen.Corpus(o.seed)
    val base = c.docs(BaseDocs)
    val steps = SearchWorkload.load(spark, c, base, tracer)
    val states = new States(new Reference(base))
    val recall = new SearchWorkload.Recall
    val stable = base.filter(_.pk <= Stable)
    val reader = Client.session(spark)
    val writer = Client.session(spark)
    val mix = new SearchWorkload.Mix(c, c.queryRoot.split(), () => states.window(), stable, recall, 0)
    val warmOut = Exec.closedLoop(Seq(reader -> Iterator.single(
      new SearchWorkload.Mix(c, c.queryRoot.split(), () => states.window(), stable, new SearchWorkload.Recall, 0).next())),
      Long.MaxValue, None)
    val setupS = Main.uptimeS

    // the write stream: fixed cycles, so every run ends in the same state
    val wr = c.writeRoot
    var live: Map[Int, Gen.Doc] = base.map(d => d.pk -> d).toMap
    var nextPk = BaseDocs + 1
    val cycleMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** (time, live segments) after set-up and after each write step */
    val segments = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val writes = scala.collection.mutable.ArrayBuffer.empty[Outcome]
    var compactRewritten = 0L
    @volatile var writerDone = false
    val indexDir = sys.env.getOrElse("GRAFT_INDEX_DIR", "")
    def files(): Map[String, Long] = Stats.files(indexDir)
    def segCount(): Int = files().keys.map(_.replaceAll("/[^/]*$", ""))
      .filter(_.contains("/seg=")).map(_.replaceAll("(/seg=[^/]*).*", "$1")).toSet.size

    segments += System.nanoTime() -> segCount()
    val writerThread = new Thread(() => {
      SparkSession.setActiveSession(writer)
      def exec(kind: String, sql: String, check: Array[org.apache.spark.sql.Row] => Option[String] = _ => None): Outcome = {
        val out = Exec.run(writer, Stmt(kind, read = false, sql, check), tracer)
        writes += out; out
      }
      try for (cycle <- 1 to Cycles) {
        val t0 = System.nanoTime()
        val ins = (0 until InsertBatch).map { i => c.nextDoc(nextPk + i, wr) }
        nextPk += InsertBatch
        val deletable = live.keys.filter(_ > Stable).toIndexedSeq.sorted
        val del = {
          val pick = scala.collection.mutable.LinkedHashSet.empty[Int]
          while (pick.size < DeleteBatch) pick += deletable(wr.nextInt(deletable.size))
          pick.toSeq
        }
        val after = live -- del ++ ins.map(d => d.pk -> d)
        states.list = states.list ++ Seq(
          new Reference((live -- del).values), new Reference((live ++ ins.map(d => d.pk -> d)).values),
          new Reference(after.values))
        SearchWorkload.frame(writer, c, ins).createOrReplaceTempView(s"gen_batch_$cycle")
        exec("insert", s"INSERT INTO ${SearchWorkload.Table} SELECT pk, body, emb FROM gen_batch_$cycle")
        exec("delete", s"DELETE FROM ${SearchWorkload.Table} WHERE pk IN (${del.mkString(",")})")
        exec("refresh", s"VACUUM (REFRESH_TABLE) ${SearchWorkload.Table}")
        live = after
        states.committed = states.list.size - 1
        cycleMs += (System.nanoTime() - t0) / 1e6
        // after REFRESH: every acknowledged insert is visible, every
        // acknowledged delete is gone
        val want = after.keySet
        exec("verify", s"SELECT pk FROM ${SearchWorkload.Index}", rows => {
          val got = rows.map(_.get(0).asInstanceOf[Number].intValue).toSet
          val missing = ins.map(_.pk).filterNot(got)
          val resurrected = del.filter(got)
          if (missing.isEmpty && resurrected.isEmpty && got == want) None
          else Some(s"after refresh $cycle: ${missing.size} inserts missing, " +
            s"${resurrected.size} deletes visible, ${got.size} rows, want ${want.size}")
        })
        segments += System.nanoTime() -> segCount()
        if (cycle % CompactEvery == 0) {
          val before = files()
          exec("compact", s"VACUUM (COMPACT_TABLE) ${SearchWorkload.Table}")
          compactRewritten += files().collect { case (f, n) if !before.contains(f) => n }.sum
          segments += System.nanoTime() -> segCount()
        }
      } finally writerDone = true
    }, "perfbench-writer")

    val ws = Measure.window(o.seconds, 1) { _ =>
      writerThread.start()
      val outs = Exec.closedLoop(Seq(reader -> mix), Long.MaxValue, tracer,
        claimed = Some(SearchWorkload.claimed _), stopWhen = () => writerDone)
      writerThread.join()
      outs ++ writes
    }
    val heap = Stats.heapLiveMb()
    val outs = ws.outcomes
    val userBytes = SearchWorkload.userBytes(c, live.values)
    val catalogBytes = sys.env.get("GRAFT_CATALOG_DIR").map(Stats.dirBytes).getOrElse(0L)
    val diskBytes = catalogBytes + Stats.dirBytes(indexDir)
    val writerS = cycleMs.sum / 1000.0
    val (fp, genOk) = Search.selfCheck(o.seed, BaseDocs, 1)
    def p50(kind: String) = Stats.median(outs.filter(_.kind == kind).map(_.ms))
    val e2e = Measure.endToEnd(ws, setupS, heap) ++
      Measure.perKindP50(ws, Seq("fts", "knn", "hybrid")) ++ Seq(
        Metric("recall_at_10", Stats.mean(recall.values), "ratio"),
        Metric("write_docs_per_s", Cycles * InsertBatch / math.max(1e-9, writerS), "docs/s"),
        Metric("write_p50_ms", Stats.median(cycleMs.toSeq), "ms"),
        Metric("space_amp", diskBytes.toDouble / userBytes, "ratio"),
        Measure.failRatio(ws))
    val layers = tracer.map { tr =>
      tr.finish(spark)
      tr.writeJson(s"${o.out}/trace-ingest-seed${o.seed}.json", Map("workload" -> "ingest", "seed" -> o.seed))
      val spans = tr.all
      def jobsUnder(kind: String) = {
        val ids = writes.filter(_.kind == kind).map(_.id).toSet
        spans.count(s => s.name == "spark.job" && ids.contains(s.stmt))
      }
      val refreshes = writes.count(_.kind == "refresh")
      val segsAtRead = outs.filter(_.read).map(r => segments.filter(_._1 <= r.startNs).last._2.toDouble)
      val (claimRatio, claimLine) = SearchWorkload.claims(outs)
      (Measure.layers(tr, ws) ++ Seq(
        claimRatio,
        Metric("index.segments", Stats.mean(segsAtRead), "count"),
        Metric("index.refresh_ms", p50("refresh"), "ms"),
        Metric("index.refresh_jobs", jobsUnder("refresh").toDouble / math.max(1, refreshes), "count"),
        Metric("index.compact_ms", p50("compact"), "ms"),
        Metric("index.compact_bytes_rewritten", compactRewritten.toDouble, "bytes"),
        Metric("catalog.insert_ms", p50("insert"), "ms"),
        Metric("catalog.delete_ms", p50("delete"), "ms"),
        Metric("catalog.table_bytes", catalogBytes.toDouble, "bytes"))) -> (claimLine +: Measure.summary(tr))
    }
    val failures = outs.filter(_.error.nonEmpty).map(x => s"${x.kind} ${x.id}: ${x.error.get}") ++
      warmOut.filter(_.error.nonEmpty).map(x => s"warm-up ${x.kind}: ${x.error.get}")
    val info = Seq(Search.generatorInfo(BaseDocs, fp, genOk),
      s"workload: 1 reader closed-loop until the writer ends; writer cycles=$Cycles " +
        s"insert=$InsertBatch delete=$DeleteBatch compact_every=$CompactEvery; " +
        s"reads=${outs.count(_.read)} writes=${writes.size} live_docs=${live.size} " +
        f"window=${ws.wallS}%.1fs cpu_steal=${ws.stealPct}%.1f%%",
      "setup: " + steps.map { case (n, ms) => f"$n=${ms / 1000}%.2fs" }.mkString(" ") +
        f" total_with_session_and_warmup=$setupS%.2fs",
      "write cycles ms: " + cycleMs.map(x => f"$x%.0f").mkString(" ") +
        " segments: " + segments.map(_._2).mkString(" "),
      s"space: disk_bytes=$diskBytes user_bytes=$userBytes") ++
      layers.toSeq.flatMap(_._2) ++
      tracer.map(_ => s"spans: ${o.out}/trace-ingest-seed${o.seed}.json").toSeq
    Result(outs.size, outs.count(_.error.nonEmpty) + warmOut.count(_.error.nonEmpty), genOk,
      e2e, layers.map(_._1).getOrElse(Nil) ++ e2e, info, failures)
  }
}
