package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a pipeline's root span); `pipeline` is the id
  * shared by every span of one pipeline run. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, pipeline: Int) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span buffer; spans are written out only when the run ends. */
final class Tracer {
  private val ids = new AtomicInteger(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def nextId(): Int = ids.incrementAndGet()

  def add(s: Span): Unit = buf.add(s): Unit

  /** Time `body` as a span; the span is recorded even when it throws. */
  def span[T](name: String, parent: Int, pipeline: Int)(body: Int => T): T = {
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally add(Span(id, name, t0, System.nanoTime(), parent, pipeline))
  }

  def spans: Seq[Span] = buf.asScala.toSeq
}

object Trace {

  /** Name of the spans the listener records for Spark jobs. */
  val Job = "spark.job"

  /** Give each job span a parent: the innermost other span of the same
    * pipeline that was open when the job started. */
  def nest(spans: Seq[Span]): Seq[Span] = {
    val (jobs, client) = spans.partition(_.name == Job)
    val byPipeline = client.groupBy(_.pipeline)
    client ++ jobs.map { j =>
      byPipeline.getOrElse(j.pipeline, Nil)
        .filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
        .maxByOption(_.startNs)
        .fold(j)(p => j.copy(parent = p.id))
    }
  }

  /** Write spans as tab-separated lines, in start order. */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val lines = "id\tparent\tpipeline\tname\tstart_ns\tend_ns" +:
      spans.sortBy(_.startNs).map(s =>
        s"${s.id}\t${s.parent}\t${s.pipeline}\t${s.name}\t${s.startNs}\t${s.endNs}")
    java.nio.file.Files.write(path, lines.asJava): Unit
  }

  /** Total length of the union of `intervals` clipped to [lo, hi]:
    * overlapping children are counted once. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * child spans cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durationNs - covered(children.map(c => (c.startNs, c.endNs)),
      span.startNs, span.endNs)

  /** Self time summed per span name, in seconds. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e9
    }
  }
}
