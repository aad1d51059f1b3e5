package perfbench

import graft.GraftSession
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Runs one workload in this JVM and prints its measurements.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --docs <file> [--spans <file>]
  * }}}
  *
  * `setup_s` runs from JVM start to the first timed op: session build,
  * inputs and the workload's warm-up ops. Timed rounds follow until
  * `--seconds` have passed and at least the workload's minimum of rounds
  * has run; a round is never cut short. With `--trace 1` every other round
  * is traced, giving the per-layer values and the tracing overhead.
  *
  * The last stdout line is `PERFBENCH {json}`: correctness counts and
  * every metric this run measured, by name.
  */
object Main {
  /** A traced op's spans must explain its wall time to within this share. */
  val MaxUnattributed = 0.10

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val work = new File(opt("work"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val startStat = Runner.cpuStat()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"[perfbench] session ready ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s after JVM start")
    try run(spark, Workloads(workload, spark, seed, opt("docs")), workload, seconds, trace,
      work, jvmStart, startStat, opt.get("spans"))
    finally spark.stop()
  }

  private def run(spark: SparkSession, wl: Workload, name: String,
      seconds: Double, trace: Boolean, work: File, jvmStart: Long,
      startStat: (Long, Long), spansOut: Option[String]): Unit = {
    // the listener goes in before set-up: a streaming query started there
    // plans in a copy of the session that must already carry it
    val engine = if (trace) Some(EngineListener.install(spark)) else None
    val traced = new Tracer(true, Some(spark.sparkContext))
    val warm = new Runner(spark)
    wl.setUp(new File(work, "setup"))
    wl.warmUp(warm)
    val setupWallS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupSteal = Runner.stealShare(startStat, Runner.cpuStat())
    // the overhead ratio compares the traced rounds with the untraced ones,
    // so the first of them must not be the one that finishes the warm-up
    if (trace) wl.round(warm)
    // traced runs alternate untraced and traced rounds, so both see the
    // same ops and the same warm-up state
    val r = new Runner(spark)
    r.engine = engine
    val tracers = if (trace) Seq(Tracer.off, traced) else Seq(Tracer.off)
    val t0 = System.nanoTime()
    var rounds = 0
    do {
      r.tracer = tracers(rounds % tracers.size)
      wl.round(r)
      rounds += 1
    } while ((System.nanoTime() - t0) / 1e9 < seconds ||
      rounds < math.max(wl.minRounds, tracers.size))
    val failed = r.ops.count(!_.ok)
    var correct = failed == 0 && warm.ops.forall(_.ok)

    val plain = r.ops.filter(!_.traced).toSeq
    val times = plain.map(_.runS)
    val metrics = mutable.LinkedHashMap[String, Double](
      "op_s_p50" -> Stats.median(times),
      "records_per_s" -> plain.map(_.records).sum / times.sum,
      "cpu_s_per_op" -> plain.map(_.cpuNs / 1e9).sum / plain.size,
      "heap_live_peak_mb" -> r.liveHeapPeakBytes / 1e6,
      "setup_s" -> setupWallS * (1 - setupSteal))
    val tail = Stats.tail(times)
    println(f"[perfbench] $name: ${plain.size} untraced ops, $failed failed " +
      f"(op_fail_ratio ${failed.toDouble / r.ops.size}%.4f), " +
      tail.fold("op_s_tail n/a (10 or fewer ops)")(t =>
        f"op_s_tail ${t.value}%.4f s (p${t.percentile}%.1f of ${t.samples} ops)") +
      f", $rounds rounds, set-up $setupWallS%.2f s wall at steal share $setupSteal%.3f")
    println(s"[perfbench] $name: op seconds ${plain.map(o => f"${o.wallNs / 1e9}%.3f").mkString(" ")}" +
      s", steal shares ${plain.map(o => f"${o.stealShare}%.3f").mkString(" ")}" +
      s", live heap MB after each op ${r.liveHeapBytes.map(b => f"${b / 1e6}%.1f").mkString(" ")}")
    metrics.foreach { case (k, v) => println(f"[perfbench] $name: $k = $v%.6f") }

    if (trace) {
      val ops = r.ops.filter(_.traced).toSeq
      val layerNames = ops.flatMap(_.layers.keys).distinct
      metrics.clear()
      layerNames.foreach(k => metrics(k) = Stats.median(ops.flatMap(_.layers.get(k))))
      metrics("trace.overhead_ratio") =
        Stats.median(ops.map(_.runS)) / Stats.median(times) - 1
      val unattributed = Stats.median(ops.map(o =>
        o.layers.getOrElse("trace.unattributed_s", 0.0) / (o.wallNs / 1e9)))
      if (unattributed > MaxUnattributed) {
        println(f"[perfbench] $name: spans leave $unattributed%.3f of op time unattributed")
        correct = false
      }
      metrics.foreach { case (k, v) => println(f"[perfbench] $name: $k = $v%.6f") }
      spansOut.foreach(p => writeSpans(new File(p), traced, r))
    }
    println("PERFBENCH " + json(correct, r.ops.size, failed, metrics))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  private def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: collection.Map[String, Double]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") + "}}"

  /** One JSON line per span, then one per op with its per-layer values. */
  private def writeSpans(f: File, t: Tracer, r: Runner): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try {
      val spans = t.spans.toSeq
      val self = Tracer.selfTimes(spans)
      val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
      spans.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"span": "${s.name}", "id": ${s.id}, "parent": ${s.parent}, """ +
          s""""op": ${s.op}, "start_ns": ${s.startNs - t0}, "end_ns": ${s.endNs - t0}, """ +
          s""""self_ns": ${self(s.id)}}""")
      }
      r.ops.filter(_.traced).foreach { o =>
        w.println(s"""{"op": ${o.id}, "wall_s": ${num(o.wallNs / 1e9)}, "ok": ${o.ok}, "layers": {""" +
          o.layers.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") + "}}")
      }
    } finally w.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
