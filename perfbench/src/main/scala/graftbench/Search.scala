package graftbench

import org.apache.spark.sql.SparkSession

/** `search`: read-only, two clients, over the seeded corpus. */
object Search {
  val Docs = 2000
  val Clients = 2

  /** Fingerprint of every input one seed determines: corpus text, vectors,
    * each client's first statements and the first write batch. */
  def fingerprint(seed: Long, docs: Int, clients: Int): String = {
    val c = new Gen.Corpus(seed)
    val ds = c.docs(docs)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    ds.foreach { d => add(c.text(d)); add(d.emb.mkString(",")) }
    val ref = () => () => Seq.empty[Reference]
    (0 until clients).foreach { i =>
      val m = new SearchWorkload.Mix(c, c.queryRoot.split(), ref, ds, new SearchWorkload.Recall, i)
      (0 until 20).foreach(_ => m.next().foreach(st => add(st.text)))
    }
    val w = c.writeRoot
    (0 until Ingest.InsertBatch).foreach { i => add(c.text(c.nextDoc(docs + 1 + i, w))) }
    java.util.HexFormat.of().formatHex(md.digest()).take(16)
  }

  /** Same seed -> same bytes; another seed -> other bytes. */
  def selfCheck(seed: Long, docs: Int, clients: Int): (String, Boolean) = {
    val a = fingerprint(seed, docs, clients)
    (a, a == fingerprint(seed, docs, clients) && a != fingerprint(seed + 1, docs, clients))
  }

  def generatorInfo(docs: Int, fp: String, ok: Boolean): String =
    s"generator: vocab=${Gen.VocabSize} zipf_s=${Gen.ZipfS} doc_len=${Gen.MinLen}..${Gen.MaxLen} " +
      s"dim=${Gen.Dim} clusters=${Gen.Clusters} docs=$docs fingerprint=$fp " +
      s"self_check=${if (ok) "ok" else "FAILED"}"

  /** The engine's analyzer must produce the generator's tokens; returns
    * (tokens per second, mismatching docs). */
  def analyzerCheck(c: Gen.Corpus, docs: Seq[Gen.Doc]): (Double, Int) = {
    val a = graft.analysis.AnalyzerRegistry.get(SearchWorkload.Dict)
    val texts = docs.map(c.text)
    val t0 = System.nanoTime()
    val toks = texts.map(a.tokens)
    val secs = (System.nanoTime() - t0) / 1e9
    val bad = docs.zip(toks).count { case (d, t) => t != d.tokens.toSeq.map(c.vocab) }
    (toks.map(_.size).sum / math.max(1e-9, secs), bad)
  }

  /** Direct calls into graft.index on the index the engine built:
    * (bm25TopK ms, knn ms, mismatches against the reference). */
  def indexDirect(spark: SparkSession, c: Gen.Corpus, docs: IndexedSeq[Gen.Doc], ref: Reference,
      tr: Tracer): (Double, Double, Int) = {
    import graft.search.IndexCatalog
    val (root, column, dict) = IndexCatalog.textKeys.find(_._3 == SearchWorkload.Dict)
      .getOrElse(sys.error("no text index registered for the benchmark dictionary"))
    val inv = graft.index.IndexStore.load(spark, IndexCatalog.lookupText(root, column, dict).get.segDir)
    val ann = IndexCatalog.lookupAnn(root, "emb", "l2", Some(spark))
      .getOrElse(sys.error("no IVF index registered for emb"))
    val ivf = graft.index.IvfIndex.ensure(spark, sys.error("IVF index is not built"), ann.cacheKey, ann.lists)
    val r = new java.util.SplittableRandom(c.seed ^ 0x5eedL)
    var bad = 0
    val bm = (0 until 4).map { i =>
      val ts = Seq.fill(1 + r.nextInt(3))(c.zipf.sample(r)).distinct
      val t0 = System.nanoTime()
      val rows = tr.span("index.bm25_topk", s"direct-bm25-$i", 0L) { _ =>
        inv.bm25TopK(ts.map(c.vocab), SearchWorkload.K).collect()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val got = rows.map(_.getAs[Any]("doc_id").asInstanceOf[Number].intValue).toSeq
      val want = ref.bm25TopK(ts, SearchWorkload.K)
      if (got.size != want.size || got.zip(want).exists { case (g, (_, s)) =>
          math.abs(ref.bm25(ts, g) - s) > 1e-9 * math.max(1.0, s) }) bad += 1
      ms
    }
    val kn = (0 until 4).map { i =>
      val q = c.queryVector(docs(r.nextInt(docs.size)).emb, r)
      val t0 = System.nanoTime()
      val rows = tr.span("index.knn", s"direct-knn-$i", 0L) { _ =>
        ivf.knn(q.toSeq, SearchWorkload.K).collect()
      }
      if (rows.length != SearchWorkload.K) bad += 1
      (System.nanoTime() - t0) / 1e6
    }
    (Stats.median(bm), Stats.median(kn), bad)
  }

  def run(o: Opts): Result = {
    val tracer = if (o.trace) Some(new Tracer) else None
    val spark = Main.session(o)
    tracer.foreach(_.attach(spark))
    val c = new Gen.Corpus(o.seed)
    val docs = c.docs(Docs)
    val steps = SearchWorkload.load(spark, c, docs, tracer)
    val ref = new Reference(docs)
    val recall = new SearchWorkload.Recall
    val clients = (0 until Clients).map(_ => Client.session(spark))
    val refs = () => () => Seq(ref)
    val mixes = clients.indices.map(i => new SearchWorkload.Mix(c, c.queryRoot.split(), refs, docs, recall, i))
    // warm-up, untimed: one statement of each shape, split over the clients
    val warmBlock = new SearchWorkload.Mix(c, c.queryRoot.split(), refs, docs, new SearchWorkload.Recall, 0).next()
    val warm = clients.indices.map(i => Iterator.single(warmBlock.zipWithIndex.collect {
      case (st, j) if j % clients.size == i => st }))
    val warm0 = System.nanoTime()
    val warmOut = Exec.closedLoop(clients.zip(warm), Long.MaxValue, None)
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = Main.uptimeS

    val ws = Measure.window(o.seconds, Clients) { deadline =>
      Exec.closedLoop(clients.zip(mixes), deadline, tracer, claimed = Some(SearchWorkload.claimed _))
    }
    val heap = Stats.heapLiveMb()
    val userBytes = SearchWorkload.userBytes(c, docs)
    val diskBytes = sys.env.get("GRAFT_CATALOG_DIR").map(Stats.dirBytes).getOrElse(0L) +
      sys.env.get("GRAFT_INDEX_DIR").map(Stats.dirBytes).getOrElse(0L)
    val (tokPerS, tokBad) = analyzerCheck(c, docs)
    val (fp, genOk) = selfCheck(o.seed, Docs, Clients)
    val outs = ws.outcomes
    val e2e = Measure.endToEnd(ws, setupS, heap) ++
      Measure.perKindP50(ws, Seq("fts", "knn", "hybrid", "pk")) ++ Seq(
        Metric("recall_at_10", Stats.mean(recall.values), "ratio"),
        Metric("space_amp", diskBytes.toDouble / userBytes, "ratio"),
        Measure.failRatio(ws))
    val layers = tracer.map { tr =>
      val (bmMs, knnMs, directBad) = indexDirect(spark, c, docs, ref, tr)
      tr.finish(spark)
      val (claimRatio, claimLine) = SearchWorkload.claims(outs)
      val idxBytes = sys.env.get("GRAFT_INDEX_DIR").map(Stats.dirBytes).getOrElse(0L)
      tr.writeJson(s"${o.out}/trace-search-seed${o.seed}.json", Map("workload" -> "search", "seed" -> o.seed))
      (Measure.layers(tr, ws) ++ Seq(
        claimRatio,
        Metric("index.bm25_topk_ms", bmMs, "ms"),
        Metric("index.knn_ms", knnMs, "ms"),
        Metric("index.build_s", steps.toMap.apply("index.build") / 1000.0, "s"),
        Metric("index.bytes", idxBytes.toDouble, "bytes"),
        Metric("analysis.tokens_per_s", tokPerS, "tokens/s")), directBad,
        claimLine +: Measure.summary(tr))
    }
    val failures = outs.filter(_.error.nonEmpty).map(o => s"${o.kind} ${o.id}: ${o.error.get}") ++
      warmOut.filter(_.error.nonEmpty).map(o => s"warm-up ${o.kind}: ${o.error.get}") ++
      (if (tokBad > 0) Seq(s"analyzer tokens differ from the generator on $tokBad docs") else Nil) ++
      layers.filter(_._2 > 0).map(l => s"direct index calls: ${l._2} wrong answers")
    val info = Seq(generatorInfo(Docs, fp, genOk),
      s"workload: clients=$Clients closed-loop blocks of bm25-topk,count,knn,hybrid,pk; " +
        s"reads=${outs.count(_.read)} (p90 has ${(outs.count(_.read) * 0.1).toInt} samples beyond it) " +
        f"window=${ws.wallS}%.1fs cpu_steal=${ws.stealPct}%.1f%%",
      "setup: " + steps.map { case (n, ms) => f"$n=${ms / 1000}%.2fs" }.mkString(" ") +
        f" warmup=$warmS%.2fs total_with_session_and_warmup=$setupS%.2fs",
      s"space: disk_bytes=$diskBytes user_bytes=$userBytes") ++
      layers.toSeq.flatMap(_._3) ++
      tracer.map(_ => s"spans: ${o.out}/trace-search-seed${o.seed}.json").toSeq
    Result(outs.size, outs.count(_.error.nonEmpty) + warmOut.count(_.error.nonEmpty),
      genOk && tokBad == 0 && layers.forall(_._2 == 0),
      e2e, layers.map(_._1).getOrElse(Nil) ++ e2e, info, failures)
  }
}
