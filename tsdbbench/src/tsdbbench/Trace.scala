package tsdbbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A span at a layer boundary. Times are nanoseconds on one clock; spans
  * of one operation share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; spans are written out only when the run ends.
  * When off, [[span]] is a plain call. */
final class Trace(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  /** nanoTime − epoch ns, to place listener events (epoch ms) on the span clock. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def epochMsToNs(ms: Long): Long = ms * 1000000L + offsetNs

  /** Id of the innermost open span (0 at top level). */
  def current: Long = stack.headOption.getOrElse(0L)

  def span[A](op: Long, name: String, layer: String)(body: => A): A =
    if (!on) body else {
      nextId += 1
      val id = nextId
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body finally {
        spans += Span(id, parent, op, name, layer, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record a span measured elsewhere (a Spark job, a streaming trigger). */
  def add(parent: Long, op: Long, name: String, layer: String, startNs: Long, endNs: Long): Long = {
    nextId += 1
    spans += Span(nextId, parent, op, name, layer, startNs, math.max(startNs, endNs))
    nextId
  }

  def rootOf(op: Long): Option[Span] = spans.find(s => s.op == op && s.parent == 0L)

  /** Per-layer count, total and self time. A span's self time is its
    * duration minus the part of it that its children cover. */
  def layerSummary(): Map[String, Map[String, Double]] = {
    val kids = spans.groupBy(_.parent)
    val acc = mutable.Map.empty[String, Array[Double]]
    spans.foreach { s =>
      val covered = Trace.union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(x => x._2 > x._1).toSeq)
      val a = acc.getOrElseUpdate(s.layer, Array(0.0, 0.0, 0.0))
      a(0) += 1; a(1) += s.ms; a(2) += (s.endNs - s.startNs - covered) / 1e6
    }
    acc.map { case (l, a) => l -> Map("spans" -> a(0), "total_ms" -> a(1), "self_ms" -> a(2)) }.toMap
  }

  def write(spansFile: Path): Unit = {
    Files.createDirectories(spansFile.getParent)
    val lines = spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(spansFile, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var started = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > end) { total += b - a; end = b; started = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
