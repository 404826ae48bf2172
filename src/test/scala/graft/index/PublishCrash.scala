package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A write to an index that crashes at its publish: a directory in the
  * way of the pointer's temp file makes the rename step fail, after the
  * write staged every data file and wrote its manifest — the latest point
  * a crash can leave a write unpublished. */
object PublishCrash {
  def apply(spark: SparkSession, dir: String)(write: => Any): Unit = {
    val block = new Path(s"$dir/_CURRENT.tmp")
    val fs = block.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(block)
    fs.create(new Path(block, "x"), true).close()
    try {
      val failed = try { write; false } catch { case _: java.io.IOException => true }
      assert(failed, s"the write to $dir was expected to fail at its publish")
    } finally fs.delete(block, true)
  }
}
