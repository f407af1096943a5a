package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call. Spans of one request share `trace`; `parent` is the
  * enclosing span on the same thread (0 for the request's root). */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends, then
  * written out with [[Trace.toJson]]. A disabled tracer runs the body
  * and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  /** Nanoseconds spent in span bookkeeping, for the overhead report. */
  val overheadNs = new AtomicLong()

  /** Time `body` as a span named `name`. Called with no open span on
    * this thread, it starts a new request trace. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, trace) = outer.headOption.fold((0L, id)) {
        case (p, t) => (p, t)
      }
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      overheadNs.addAndGet(t0 - b0)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, parent, trace, name, t0, t1))
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace {

  /** Self time of every span: its duration minus the time covered by
    * its direct children (overlapping children count once, and only
    * the part inside the parent counts). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Summed self time per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupMapReduce(_.name)(s => self(s.id))(_ + _)
  }

  /** Spans as a JSON array (times in ns relative to the first span). */
  def toJson(spans: Seq[Span]): String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val self = selfNs(spans)
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs - t0},""" +
        s""""dur_ns":${s.durNs},"self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
