package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Engine work charged to one attribution key (a span's job group, or a
  * streaming query's run id and batch id).
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L
  var shuffleWriteBytes, shuffleReadBytes = 0L
  var spillMemoryBytes, spillDiskBytes, peakExecutionMemory = 0L
  /** (launch, finish) wall-clock millis of every task. */
  val taskIntervals = ArrayBuffer[(Long, Long)]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillMemoryBytes += o.spillMemoryBytes; spillDiskBytes += o.spillDiskBytes
    peakExecutionMemory = math.max(peakExecutionMemory, o.peakExecutionMemory)
    taskIntervals ++= o.taskIntervals
  }
}

/** Planning phases of the SQL executions that started in a time window. */
final case class Planning(queries: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Charges Spark's listener events to what caused them.
  *
  * A job's key is its `spark.jobGroup.id`, suffixed with `/batchId` for
  * streaming jobs; stages and tasks inherit the key of the job that ran
  * them. Query-planning phases come from the [[QueryExecutionListener]]
  * side, which sees no job group; they are charged by the time the query
  * started planning instead (ops run one at a time). A streaming query
  * plans in a copy of the session made when it starts, so install this
  * listener before starting one.
  *
  * Events arrive asynchronously. [[fence]] runs a marker job and waits
  * until it is seen; every event posted before it has then been counted.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  /** (planning start millis, analysis, optimization, physical planning). */
  private val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  private val fencesSeen = new LinkedBlockingQueue[String]()
  private var fences = 0

  private def counters(key: String): Counters =
    byKey.computeIfAbsent(key, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(EngineListener.JobGroupKey)))
      .getOrElse("")
    val key = props.flatMap(p => Option(p.getProperty(EngineListener.BatchIdKey)))
      .map(b => s"$group/$b").getOrElse(group)
    jobKey.put(e.jobId, key)
    e.stageIds.foreach(stageKey.putIfAbsent(_, key))
    val c = counters(key)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.remove(e.jobId)).filter(_.startsWith(EngineListener.FencePrefix))
      .foreach(fencesSeen.put)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val c = counters(k)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (k <- Option(stageKey.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = counters(k)
      c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillMemoryBytes += m.memoryBytesSpilled
        c.spillDiskBytes += m.diskBytesSpilled
        c.peakExecutionMemory = math.max(c.peakExecutionMemory, m.peakExecutionMemory)
        c.taskIntervals += (e.taskInfo.launchTime -> e.taskInfo.finishTime)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty) phases.add((ph.values.map(_.startTimeMs).min,
      ms("analysis"), ms("optimization"), ms("planning")))
  }

  /** Removes and sums the planning of queries that started in
    * [fromMs, toMs]; drops any that started earlier.
    */
  def takePlanning(fromMs: Long, toMs: Long): Planning = {
    var p = Planning(0, 0, 0, 0)
    phases.removeIf { case (start, a, o, ph) =>
      if (start >= fromMs && start <= toMs)
        p = Planning(p.queries + 1, p.analysisMs + a, p.optimizationMs + o, p.planningMs + ph)
      start <= toMs
    }
    p
  }

  /** Waits until every event posted so far has been counted. */
  def fence(sc: SparkContext): Unit = {
    fences += 1
    val id = s"${EngineListener.FencePrefix}$fences"
    val saved = Option(sc.getLocalProperty(EngineListener.JobGroupKey))
    sc.setJobGroup(id, "perfbench fence", false)
    try sc.parallelize(Seq(1), 1).count()
    finally saved match {
      case Some(g) => sc.setJobGroup(g, g, false)
      case None => sc.clearJobGroup()
    }
    var seen = ""
    while (seen != id) {
      seen = fencesSeen.poll(60, TimeUnit.SECONDS)
      require(seen != null, s"listener bus did not deliver $id within 60 s")
    }
  }

  /** Removes and sums the counters of `keys`, plus those of any key that
    * extends one of them with a `/batchId` suffix.
    */
  def take(keys: Seq[String]): Counters = {
    val total = new Counters
    val wanted = keys.toSet
    byKey.keySet.asScala.toList
      .filter(k => wanted(k) || wanted(k.takeWhile(_ != '/')))
      .foreach(k => Option(byKey.remove(k)).foreach(c => c.synchronized(total.add(c))))
    total
  }

  /** Drops everything counted so far (events of set-up and checks). */
  def clear(): Unit = byKey.clear()
}

object EngineListener {
  val FencePrefix = "perfbench.fence."
  /** Local property holding a job's group (SparkContext.SPARK_JOB_GROUP_ID). */
  val JobGroupKey = "spark.jobGroup.id"
  /** Local property a micro-batch's jobs carry (StreamExecution.BATCH_ID_KEY). */
  val BatchIdKey = "streaming.sql.batchId"

  /** Registers a fresh listener for both event kinds. */
  def install(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.listenerManager.register(l)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
