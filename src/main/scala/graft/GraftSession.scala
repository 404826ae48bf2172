package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the graft engine.
  *
  * Defaults are chosen for the local[32] test harness but the same knobs are
  * what you would set on a real cluster: AQE on (runtime re-planning, skew-join
  * splitting), modest shuffle partitions for the local scale, UTC timezone so
  * timestamp arithmetic is stable against the DuckDB oracle. The codegen
  * cache is sized to the engine's working set of generated classes
  * ([[CodegenCacheEntries]]): at Spark's default of 100 its LRU cycles, and
  * every repeated statement shape recompiles its classes.
  */
object GraftSession {
  private val metricsHooked =
    java.util.Collections.synchronizedSet(new java.util.HashSet[SparkSession]())

  /** Log graft-observed metrics (e.g. LSH dropped-bucket mass) when a query
    * materializes — the no-silent-caps rule: any operator that bounds its
    * coverage reports what it dropped. Zero extra jobs: metrics ride the
    * query's own execution via Dataset.observe. */
  def hookObservedMetrics(spark: SparkSession): Unit =
    if (metricsHooked.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_")) {
              val nonZero = row.schema.fieldNames.zipWithIndex.exists { case (_, i) =>
                !row.isNullAt(i) && row.get(i).toString != "0"
              }
              if (nonZero) System.err.println(s"[graft] observed $name: $row")
            }
          }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    }

  /** Apply graft's standard configuration to an arbitrary builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    // foreign-server dialects (Postgres ships with Spark; ClickHouse is ours)
    graft.sources.ClickHouseDialect.register()
    graft.sources.DerbyTopNDialect.register()
    b
    // search-claim optimizer rule (graft.plans.ClaimTsMatch)
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Some testdata generations encode events.ts as TIMESTAMP(NANOS), which
    // vanilla Spark rejects; with this flag those files read as nanos longs
    // and Tables.normalizeTs converts. Harmless for timestamp[us] files.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.mergeSchema", "false")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
  }

  /** Size of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, an LRU keyed by the generated
    * source). Spark's default of 100 is smaller than one TPC-H Q1–Q22 pass,
    * which needs about 370 distinct classes, so the LRU evicted every class
    * before its next use and each pass recompiled about 390 of them at
    * 44–56 ms each. The `search` workload's set-up and warm-up need 124
    * classes, plus 2 for each pk lookup, whose key is inlined into its
    * generated filter. A cached entry costs about 20 KB of live heap (a TPC-H
    * pass's entries: +7.7 MB), so 1,000 entries hold both working sets and
    * bound the worst case near 20 MB.
    *
    * The conf is static: the cache is built once per JVM, with the size in
    * force in the first session that compiles a class. [[adopt]] cannot
    * change it on a session that is already running. */
  val CodegenCacheEntries = 1000

  /** The session database is `public` (the pg default schema): unqualified
    * relation names — catalog tables, index relations, native tables alike —
    * all land in and resolve against one namespace, exactly pg's
    * search_path=public. Set at session birth so nothing ever straddles two
    * databases mid-session. */
  def ensurePublicDb(spark: SparkSession): Unit =
    graft.catalog.ObjectCatalog.internal.withValue(true) {
      if (spark.catalog.currentDatabase != "public") {
        spark.sql("CREATE DATABASE IF NOT EXISTS public")
        spark.catalog.setCurrentDatabase("public")
      }
    }

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensurePublicDb(spark)
    spark
  }

  /** Ensure graft settings on an externally created session (Verify/Bench).
    * Runtime settings only: static ones such as the codegen cache size
    * ([[CodegenCacheEntries]]) are fixed once the session's context runs, so
    * a session not built through [[configure]] keeps Spark's defaults. */
  def adopt(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    hookObservedMetrics(spark)
    ensurePublicDb(spark)
    spark
  }
}
