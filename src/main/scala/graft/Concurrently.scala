package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Independent Spark jobs submitted together: at small sizes a write is a
  * chain of one-task jobs, so one after another they leave most cores idle.
  */
private[graft] object Concurrently {

  /** Runs each named thunk on its own daemon thread `threadName` of a pool
    * made for this call, its jobs tagged `spark.job.description = name`,
    * and returns their outcomes in order once every thunk has ended, failed
    * or not. The threads are made here, so they inherit the caller's local
    * properties as they are now: its job group, which a cancel of the group
    * reaches, and a micro-batch's id.
    */
  def apply[T](spark: SparkSession, threadName: String,
      work: Seq[(String, () => T)]): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(work.size, { r: Runnable =>
      val t = new Thread(r, threadName)
      t.setDaemon(true)
      t
    })
    try pool.invokeAll(work.map { case (name, body) =>
      new Callable[T] {
        def call(): T = { spark.sparkContext.setJobDescription(name); body() }
      }
    }.asJava).asScala.toSeq.map { f =>
      try Success(f.get()) catch { case e: ExecutionException => Failure(e.getCause) }
    } finally pool.shutdown()
  }

  /** Throws the first of `errors`, the later ones suppressed into it. */
  def rethrow(errors: Seq[Throwable]): Unit =
    errors.reduceOption { (first, later) => first.addSuppressed(later); first }
      .foreach(throw _)
}
