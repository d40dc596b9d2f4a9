package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the enclosing span's id (0 for an operation's root). */
final case class Span(id: Int, op: Long, parent: Int, name: String,
                      startNs: Long, endNs: Long, thread: String) {
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span recorder. Spans are kept in a lock-free queue and written
 * out only when the run ends, so recording costs two `nanoTime` calls and
 * one allocation per span.
 *
 * While a span is open, its name and operation id are set as Spark local
 * properties of the calling thread, so [[Layers]] can charge the jobs,
 * stages and tasks the span submits to it. When disabled, `span` is a
 * plain call.
 */
final class Tracer(sc: SparkContext) {
  @volatile var enabled: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicInteger(0)
  private val nextOp = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Int, Long, String)]] {
    override def initialValue(): List[(Int, Long, String)] = Nil
  }

  /** Open a new operation: a root span with a fresh operation id. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body else enter(name, Some(nextOp.incrementAndGet()))(body)

  /** A span nested in the calling thread's innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body else enter(name, None)(body)

  private def enter[T](name: String, newOp: Option[Long])(body: => T): T = {
    val outer = stack.get()
    val op = newOp.getOrElse(outer.headOption.map(_._2).getOrElse(0L))
    val parent = if (newOp.isDefined) 0 else outer.headOption.map(_._1).getOrElse(0)
    val id = nextId.incrementAndGet()
    stack.set((id, op, name) :: outer)
    sc.setLocalProperty(Layers.LayerProp, name)
    sc.setLocalProperty(Layers.OpProp, op.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, op, parent, name, t0, t1, Thread.currentThread.getName))
      stack.set(outer)
      sc.setLocalProperty(Layers.LayerProp, outer.headOption.map(_._3).orNull)
      sc.setLocalProperty(Layers.OpProp, outer.headOption.map(_._2.toString).orNull)
    }
  }

  /** Operation id of the calling thread's innermost open span (0: none). */
  def currentOp: Long = stack.get().headOption.map(_._2).getOrElse(0L)

  /** Spans recorded since the last [[take]]. */
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Remove and return every recorded span. */
  def take(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result().sortBy(_.startNs)
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover (children of one span may overlap when they run on
    * several threads, so the covered part is the union of their
    * intervals). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per-layer table rows: (name, count, total s, self s, mean ms). */
  def table(spans: Seq[Span]): Seq[(String, Int, Double, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(_.durNs).sum / 1e9
      (name, ss.size, total, ss.map(s => self(s.id)).sum / 1e9,
        total * 1e3 / ss.size)
    }.sortBy(-_._3)
  }

  def formatTable(rows: Seq[(String, Int, Double, Double, Double)]): String = {
    val head = f"${"layer"}%-28s ${"count"}%8s ${"total_s"}%10s ${"self_s"}%10s ${"mean_ms"}%10s"
    (head +: rows.map { case (n, c, t, s, m) =>
      f"$n%-28s $c%8d $t%10.3f $s%10.3f $m%10.2f"
    }).mkString("\n")
  }

  def spansJson(spans: Seq[Span]): String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000},""" +
        s""""thread":${Json.str(s.thread)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
