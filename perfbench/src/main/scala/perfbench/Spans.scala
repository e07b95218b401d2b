package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval of a traced run. Times are microseconds on the
  * wall clock, so the benchmark's own spans and Spark's listener events
  * (milliseconds since the epoch) share one axis. `parent` is 0 for the
  * root.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long) {
  def durationUs: Long = endUs - startUs
}

/** In-memory span store for one run. All spans of the run share `runId`;
  * nothing is written until [[write]] is called at the end of the run.
  */
final class Tracer(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(s => (s.startUs, s.id)).map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "kind" -> Json.str(s.kind),
        "name" -> Json.str(s.name), "start_us" -> s.startUs.toString,
        "end_us" -> s.endUs.toString))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Clock {
  private val baseWallUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()

  /** Wall-clock microseconds with nanoTime's resolution. */
  def nowUs(): Long = baseWallUs + (System.nanoTime() - baseNano) / 1000L
}

object SelfTime {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Each span's self time: its duration minus the part of its interval
    * that its direct children cover. Overlapping children (concurrent
    * Spark jobs, parallel pipeline jobs) count once.
    */
  def of(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      s.id -> (s.durationUs - covered(s.startUs, s.endUs, c))
    }.toMap
  }

  /** Self time summed per span kind. */
  def byKind(spans: Seq[Span]): Map[String, Long] = {
    val self = of(spans)
    spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
  }
}
