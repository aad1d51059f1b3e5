package graft

import org.apache.spark.sql.SparkSession

/** A parquet committer whose task commit fails for output under a
  * [[FailingParquetCommitter.FailMarker]] directory: a write job that dies
  * after its tasks ran, before anything is committed. Writes elsewhere
  * commit normally, so other output of the same session is unaffected.
  */
class FailingParquetCommitter(out: org.apache.hadoop.fs.Path,
    ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  override def commitTask(
      c: org.apache.hadoop.mapreduce.TaskAttemptContext): Unit =
    if (out.toString.contains(FailingParquetCommitter.FailMarker))
      throw new java.io.IOException(FailingParquetCommitter.Message)
    else super.commitTask(c)
}

object FailingParquetCommitter {
  /** Temp-dir prefix of the output paths whose writes fail. */
  val FailMarker = "graft_write_fail"
  val Message = "injected write failure"
  private val Key = "spark.sql.parquet.output.committer.class"

  /** Runs `body` with this committer set on `spark`'s session conf. A
    * streaming query clones the conf when it starts, so start it inside.
    */
  def during[T](spark: SparkSession)(body: => T): T = {
    spark.conf.set(Key, classOf[FailingParquetCommitter].getName)
    try body finally spark.conf.unset(Key)
  }

  /** Whether `e` or one of its causes is the injected failure. */
  def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(Message))
}
