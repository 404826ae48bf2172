package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexStore, InvertedIndex}

/** Streaming ingest into a Search-engine table — the Spark re-expression of
  * the reference's "real-time" story (SURVEY.md §2.12): transactional DML
  * lands in the store table AND the search index, with search visibility
  * after a background refresh
  * (/root/reference/server/connector/duckdb_physical_search_insert.h:32-56;
  * refresh/compaction knobs /root/reference/server/search/maintenance.h:36-44).
  *
  * Mapping:
  *  - micro-batch = the reference's refresh interval: every batch appends
  *    row data as parquet and ONE new index segment (segment stats merge at
  *    read time, so BM25 stays exact under ingest — IndexSpec proves it);
  *  - the streaming checkpoint is the WAL analogue: on restart, foreachBatch
  *    re-delivers from the last committed batch. The data leg is idempotent
  *    (each batch overwrites its own `batch=N` partition); the index leg
  *    records the batch id in the index version that publishes its segment
  *    and skips batches the latest version records, so a replay after a
  *    crash at any point adds the segment exactly once;
  *  - [[Maintenance.compactIfNeeded]] is the compaction loop
  *    (`compaction_max_segments`), run opportunistically after each batch.
  *
  * Like the reference's Search engine (table_options.h:160-165), the index
  * is eventually consistent with the data: a reader between the two writes
  * of a batch sees the data without the newest segment.
  */
object StreamingIngest {

  /** Start the two-leg ingest. `stream` must carry (idCol, textCol). */
  def start(stream: DataFrame, tableDir: String, indexDir: String,
      idCol: String, textCol: String, analyzerName: String = "whitespace",
      checkpointDir: String, trigger: Trigger = Trigger.ProcessingTime("1 second"),
      compactionMaxSegments: Int = 8): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, tableDir, indexDir, idCol, textCol,
          analyzerName, compactionMaxSegments)
      }
      .start()

  /** One micro-batch: data leg + index leg (+ opportunistic compaction).
    * Exposed for tests and for foreachBatch reuse from user pipelines. */
  def ingestBatch(batch: DataFrame, batchId: Long,
      tableDir: String, indexDir: String,
      idCol: String, textCol: String, analyzerName: String,
      compactionMaxSegments: Int): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    if (IndexStore.batchCommitted(spark, indexDir, batchId)) return // replay
    batch.persist()
    try {
      // data leg: overwriting the batch's own partition is replay-idempotent
      batch.write.mode("overwrite").parquet(s"$tableDir/data/batch=$batchId")
      IndexStore.appendSegment(
        InvertedIndex.build(batch, idCol, textCol, analyzerName), indexDir, batch = Some(batchId))
      Maintenance.compactIfNeeded(spark, indexDir, compactionMaxSegments)
    } finally batch.unpersist()
  }
}

/** Background maintenance — the reference's TasksSettings loops
  * (/root/reference/server/search/maintenance.h:36-44: refresh_interval,
  * compaction_interval, compaction_max_segments). */
object Maintenance {

  /** Compact when the segment count exceeds `maxSegments`; the segments a
    * compaction retires are deleted by the next one. */
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, maxSegments: Int): Boolean = {
    val n = IndexStore.listSegments(spark, indexDir).size
    if (n > maxSegments) {
      IndexStore.compact(spark, indexDir)
      true
    } else false
  }
}
