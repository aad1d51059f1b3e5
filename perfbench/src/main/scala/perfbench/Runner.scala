package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

/** One op as measured: wall nanoseconds and the share of them stolen
  * (see [[Runner.stealShare]]); process CPU nanoseconds; records
  * completed; whether it passed its check; and (traced ops only) its
  * per-layer values.
  */
final class OpStat(val id: Int, val wallNs: Long, val stealShare: Double,
    val cpuNs: Long, val records: Long, val traced: Boolean) {
  var ok = true
  /** Wall time less the share the hypervisor gave to other guests. */
  def runS: Double = wallNs * (1 - stealShare) / 1e9
  val layers = mutable.LinkedHashMap[String, Double]()
}

/** Times ops one after another on the calling thread (a closed loop with
  * one caller). After every op it runs a full GC, outside the op's time,
  * and records the heap still live. An op is traced when `tracer` is on;
  * `engine` must then be installed.
  */
final class Runner(spark: SparkSession) {
  var tracer: Tracer = Tracer.off
  var engine: Option[EngineListener] = None
  val ops = ArrayBuffer[OpStat]()
  /** Heap live after the GC that followed each op, in op order. */
  val liveHeapBytes = ArrayBuffer[Long]()
  def liveHeapPeakBytes: Long = if (liveHeapBytes.isEmpty) 0L else liveHeapBytes.max
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var current: Option[OpStat] = None

  /** Runs `body` as one op of `records` records, then `check`. A throw
    * from either, or a false check, fails the op.
    */
  def op(records: Long)(body: => Unit)(check: => Boolean): OpStat = {
    val id = ops.size
    if (tracer.on) engine.foreach(_.clear())
    val compiles0 = Runner.codegen()
    tracer.beginOp(id)
    val wall0 = System.currentTimeMillis()
    val stat0 = Runner.cpuStat()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val failure = Try(body).failed.toOption
    val t1 = System.nanoTime()
    val cpu1 = os.getProcessCpuTime
    val stat1 = Runner.cpuStat()
    val wall1 = System.currentTimeMillis()
    tracer.endOp()
    val stat = new OpStat(id, t1 - t0, Runner.stealShare(stat0, stat1),
      cpu1 - cpu0, records, tracer.on)
    ops += stat
    current = Some(stat)
    if (tracer.on) recordLayers(stat, wall0, wall1, compiles0)
    failure.foreach { e =>
      System.err.println(s"[perfbench] op $id threw: $e")
      e.printStackTrace()
    }
    stat.ok = failure.isEmpty && Try(check).fold({ e =>
      System.err.println(s"[perfbench] check of op $id threw: $e"); false
    }, identity)
    if (!stat.ok) System.err.println(s"[perfbench] op $id failed its check")
    current = None
    liveHeapBytes += Runner.liveHeapAfterGc()
    stat
  }

  /** Adds a per-layer value to the op being checked (traced runs only). */
  def note(name: String, value: Double): Unit =
    if (tracer.on) current.foreach(_.layers(name) = value)

  private def recordLayers(stat: OpStat, wall0: Long, wall1: Long,
      compiles0: (Long, Double)): Unit = {
    val spans = tracer.spans.filter(_.op == stat.id).toSeq
    val self = Tracer.selfTimes(spans)
    spans.foreach { s =>
      val name = if (s.parent < 0) "trace.unattributed" else s.name
      stat.layers(s"${name}_s") = stat.layers.getOrElse(s"${name}_s", 0.0) + self(s.id) / 1e9
    }
    val (n1, t1) = Runner.codegen()
    stat.layers("engine.codegen.compiles") = (n1 - compiles0._1).toDouble
    stat.layers("engine.codegen.compile_s") = math.max(0.0, t1 - compiles0._2)
    engine.foreach { l =>
      l.fence(spark.sparkContext)
      val c = l.take(tracer.keysOf(stat.id))
      val plan = l.takePlanning(wall0, wall1)
      val wallS = stat.wallNs / 1e9
      val cores = spark.sparkContext.defaultParallelism
      Seq(
        "engine.plan.analysis_s" -> plan.analysisMs / 1e3,
        "engine.plan.optimization_s" -> plan.optimizationMs / 1e3,
        "engine.plan.physical_s" -> plan.planningMs / 1e3,
        "engine.jobs" -> c.jobs.toDouble,
        "engine.stages" -> c.stages.toDouble,
        "engine.tasks" -> c.tasks.toDouble,
        "engine.driver_gap_s" ->
          (wallS - Stats.covered(c.taskIntervals.toSeq, wall0, wall1) / 1e3).max(0.0),
        "engine.task_cpu_s" -> c.taskCpuNs / 1e9,
        "engine.task_run_s" -> c.taskRunMs / 1e3,
        "engine.gc_s" -> c.gcMs / 1e3,
        "engine.cpu_busy_ratio" -> c.taskCpuNs / 1e9 / (wallS * cores),
        "engine.scan.input_bytes" -> c.inputBytes.toDouble,
        "engine.scan.input_rows" -> c.inputRows.toDouble,
        "engine.output.bytes" -> c.outputBytes.toDouble,
        "engine.output.rows" -> c.outputRows.toDouble,
        "engine.shuffle.write_bytes" -> c.shuffleWriteBytes.toDouble,
        "engine.shuffle.read_bytes" -> c.shuffleReadBytes.toDouble,
        "engine.spill.memory_bytes" -> c.spillMemoryBytes.toDouble,
        "engine.spill.disk_bytes" -> c.spillDiskBytes.toDouble,
        "engine.peak_execution_memory_bytes" -> c.peakExecutionMemory.toDouble
      ).foreach { case (k, v) => stat.layers(k) = v }
    }
  }
}

object Runner {
  /** Jiffies all CPUs spent running and stolen (`/proc/stat`); zeros
    * where the kernel does not report them.
    */
  def cpuStat(): (Long, Long) = Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail
      .map(_.toLong)
    // user nice system idle iowait irq softirq steal
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }.getOrElse((0L, 0L))

  /** Share of the CPU time this VM's runnable threads wanted between two
    * [[cpuStat]] readings that the hypervisor gave to other guests. On a
    * shared host it comes in bursts that stretch every op by 1 / (1 - share)
    * while the op's own CPU time stays put, so end-to-end times are
    * scaled by (1 - share).
    */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val steal = to._2 - from._2
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  /** Heap in use just after a full collection, summed over heap pools. */
  def liveHeapAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum
  }

  /** Codegen compiles so far and their total seconds. Spark keeps compile
    * times in a sampling histogram, so the total is count × sample mean:
    * exact until the reservoir (1028 samples) fills, an estimate after.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, n * h.getSnapshot.getMean / 1e3)
  }
}
