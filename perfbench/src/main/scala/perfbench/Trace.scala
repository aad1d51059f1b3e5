package perfbench

import org.apache.spark.SparkContext
import scala.collection.mutable.ArrayBuffer

/** One timed interval of an op. `parent` is -1 for the op's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records spans in memory around the benchmark's calls into each layer.
  *
  * While a span is open its id is the Spark job group of the calling
  * thread, so [[EngineListener]] can charge every job, stage and task to
  * the span that started it. With `on` false a span is just its body: no
  * clock reads, no job groups.
  */
final class Tracer(val on: Boolean, sc: Option[SparkContext]) {
  val spans = ArrayBuffer[Span]()
  private val extraKeys = ArrayBuffer[(Int, String)]()
  private var open: List[(Int, String, Long)] = Nil
  private var op = -1
  private var nextId = 0

  def beginOp(opId: Int): Unit = if (on) {
    require(open.isEmpty, "ops do not nest")
    op = opId
    push("op")
  }

  def endOp(): Unit = if (on) { pop(); op = -1 }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      push(name)
      try body finally pop()
    }

  /** A span measured by someone else (a streaming progress phase), laid
    * under `parent`. Returns its id.
    */
  def addSpan(name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, name, parent, op, startNs, endNs)
    id
  }

  /** The innermost open span, the parent for [[addSpan]]. */
  def current: Int = open.head._1

  /** Charge engine counters recorded under `key` to the current op too. */
  def attach(key: String): Unit = if (on) extraKeys += (op -> key)

  /** Every engine attribution key of `opId`: its spans' job groups plus
    * anything attached.
    */
  def keysOf(opId: Int): Seq[String] =
    spans.filter(_.op == opId).map(s => Tracer.groupOf(s.id)).toSeq ++
      extraKeys.filter(_._1 == opId).map(_._2)

  private def push(name: String): Unit = {
    val id = nextId
    nextId += 1
    open = (id, name, System.nanoTime()) :: open
    sc.foreach(_.setJobGroup(Tracer.groupOf(id), name, false))
  }

  private def pop(): Unit = {
    val (id, name, start) = open.head
    val end = System.nanoTime()
    open = open.tail
    spans += Span(id, name, open.headOption.map(_._1).getOrElse(-1), op,
      start, end)
    sc.foreach { c =>
      open.headOption match {
        case Some((pid, pname, _)) => c.setJobGroup(Tracer.groupOf(pid), pname, false)
        case None => c.clearJobGroup()
      }
    }
  }
}

object Tracer {
  val off = new Tracer(false, None)

  def groupOf(spanId: Int): String = s"perfbench.span.$spanId"

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - Stats.covered(kids, s.startNs, s.endNs))
    }.toMap
  }
}
