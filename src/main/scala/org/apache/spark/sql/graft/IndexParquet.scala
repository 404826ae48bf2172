package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetRecordReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader,
  ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Parquet files that an engine task opens itself — the index leaves' reads
  * ([[graft.index.IndexTask]]). Spark's file reader builder broadcasts the
  * session's whole Hadoop conf (about a thousand entries) on every call;
  * here one broadcast serves a session until one of its settings changes,
  * and the per-read parts of the conf (the requested columns, the pushed
  * filters) are set inside the task. The reads follow Spark's row-based
  * parquet path (`ParquetFileFormat` with the vectorized reader off): the
  * same schema clipping, rebase modes and filter translation, so rows and
  * row-group pruning match a Spark file scan's. */
final class IndexParquet private (conf: Broadcast[SerializableConfiguration],
    settings: IndexParquet.Settings) extends Serializable {

  /** This task's copy of the session conf, made on its first read. */
  @transient private lazy val taskConf = new Configuration(conf.value.value)

  /** Feeds `f` the `required` columns of every row of the parquet file at
    * `path` (`length` bytes, modified at `mtime`), with `filters` pushed to
    * the reader's row-group filter. Runs in a task; rows are the reader's
    * reused buffer. The bytes and records read count into the task's input
    * metrics, as a Spark file scan's do. */
  def foreachRow(path: String, length: Long, mtime: Long, required: StructType,
      filters: Seq[Filter])(f: InternalRow => Unit): Unit = {
    val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    var records = 0L
    val it = rows(path, length, mtime, required, filters)
    try it.foreach { r => records += 1; f(r) } finally {
      it.close()
      Option(TaskContext.get()).foreach { t =>
        val m = t.taskMetrics().inputMetrics
        m.incBytesRead(bytesRead())
        m.incRecordsRead(records)
      }
    }
  }

  private def rows(path: String, length: Long, mtime: Long, required: StructType,
      filters: Seq[Filter]): RecordReaderIterator[InternalRow] = {
    val s = settings
    val file = new Path(path)
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(new FileStatus(length, false, 0, 0, mtime, file), taskConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
    val kv = meta.getKeyValueMetaData
    val datetimeRebase = DataSourceUtils.datetimeRebaseSpec(kv.get, s.datetimeRebaseMode)
    val int96Rebase = DataSourceUtils.int96RebaseSpec(kv.get, s.int96RebaseMode)
    val pushed =
      if (!s.filterPushDown) None
      else {
        val pf = new ParquetFilters(meta.getSchema, s.pushDownDate, s.pushDownTimestamp,
          s.pushDownDecimal, s.pushDownStringPredicate, s.pushDownInFilterThreshold,
          s.caseSensitive, datetimeRebase)
        filters.flatMap(pf.createFilter(_)).reduceOption(FilterApi.and)
      }
    val convertTz =
      if (s.int96TimestampConversion && !meta.getCreatedBy.startsWith("parquet-mr"))
        Some(DateTimeUtils.getZoneId(s.sessionTz))
      else None
    // the attempt context copies the conf: the per-read keys stay in it
    val ctx = new TaskAttemptContextImpl(taskConf,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    val c = ctx.getConfiguration
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    c.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, required.json)
    pushed.foreach(ParquetInputFormat.setFilterPredicate(c, _))
    val support = new ParquetReadSupport(convertTz, false, datetimeRebase, int96Rebase)
    val reader = pushed.filter(_ => s.recordFilter)
      .fold(new ParquetRecordReader[InternalRow](support))(p =>
        new ParquetRecordReader[InternalRow](support, FilterCompat.get(p, null)))
    val iter = new RecordReaderIterator[InternalRow](reader)
    try reader.initialize(new FileSplit(file, 0, length, Array.empty[String]), ctx)
    catch { case e: Throwable => iter.close(); throw e }
    iter
  }
}

object IndexParquet {

  /** The SQL settings the reader reads on the driver, as Spark's parquet
    * reader builder reads them. */
  private final case class Settings(sessionTz: String, caseSensitive: Boolean,
      filterPushDown: Boolean, pushDownDate: Boolean, pushDownTimestamp: Boolean,
      pushDownDecimal: Boolean, pushDownStringPredicate: Boolean,
      pushDownInFilterThreshold: Int, recordFilter: Boolean,
      int96TimestampConversion: Boolean, datetimeRebaseMode: String, int96RebaseMode: String)

  private final case class Built(settings: Map[String, String], reader: IndexParquet)

  private val bySession = new java.util.WeakHashMap[SparkSession, Built]()

  /** The session's reader: its Hadoop conf broadcast once, again only after
    * a setting of the session changed (a `SET` takes effect on the next
    * read). A replaced broadcast is released by Spark's cleaner once no
    * running task holds it. */
  def apply(spark: SparkSession): IndexParquet = {
    val sqlConf = spark.sessionState.conf
    val settings = sqlConf.getAllConfs
    bySession.synchronized {
      Option(bySession.get(spark)).filter(_.settings == settings).map(_.reader).getOrElse {
        val built = Built(settings, build(spark, sqlConf))
        bySession.put(spark, built)
        built.reader
      }
    }
  }

  private def build(spark: SparkSession, sqlConf: SQLConf): IndexParquet = {
    val hadoop = spark.sessionState.newHadoopConf()
    // the reader flags Spark's parquet reader builder sets on its conf
    hadoop.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoop.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    hadoop.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    hadoop.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    hadoop.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    hadoop.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    hadoop.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    hadoop.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val options = new ParquetOptions(Map.empty[String, String], sqlConf)
    new IndexParquet(spark.sparkContext.broadcast(new SerializableConfiguration(hadoop)),
      Settings(sqlConf.sessionLocalTimeZone, sqlConf.caseSensitiveAnalysis,
        sqlConf.parquetFilterPushDown, sqlConf.parquetFilterPushDownDate,
        sqlConf.parquetFilterPushDownTimestamp, sqlConf.parquetFilterPushDownDecimal,
        sqlConf.parquetFilterPushDownStringPredicate,
        sqlConf.parquetFilterPushDownInFilterThreshold, sqlConf.parquetRecordFilterEnabled,
        sqlConf.isParquetINT96TimestampConversion, options.datetimeRebaseModeInRead,
        options.int96RebaseModeInRead))
  }
}
