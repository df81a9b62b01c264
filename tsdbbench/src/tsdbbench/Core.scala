package tsdbbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples that lie strictly beyond the nearest-rank quantile `q`. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** Nearest-rank p90, withheld unless at least 10 samples lie beyond it
    * (so it needs 100 samples): a p90 of fewer samples is a maximum in
    * disguise and does not repeat from run to run. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty || beyond(xs.size, 0.9) < 10) None
    else Some(xs.sorted.apply(math.ceil(0.9 * xs.size - 1e-9).toInt - 1))

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Minimal JSON writer for the result and trace files (numbers, strings,
  * booleans, null, maps and sequences). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One timed sample: which op produced it, its kind and its latency. */
final case class Sample(op: Long, kind: String, ms: Double)

/** Failure-aware timing ledger. Every operation a workload issues goes
  * through [[timed]]: an exception counts as a failure and records no
  * timing; a check that fails later voids the op's timing the same way.
  * Metrics are computed only from the samples that survive. */
final class Ledger {
  private var nextOp = 0L
  var attempted = 0L
  var failed = 0L
  val samples = ArrayBuffer.empty[Sample]
  val errors = ArrayBuffer.empty[String]

  def newOp(): Long = { nextOp += 1; nextOp }

  /** Run `body` as op `op`, timing it wall-clock. */
  def timed[A](op: Long, kind: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      samples += Sample(op, kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch { case NonFatal(e) =>
      fail(s"$kind op $op: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** A correctness check outside the timed region; `false` or an exception
    * counts a failure and drops op `op`'s timing. */
  def check(op: Long, what: String)(ok: => Boolean): Boolean = {
    val passed = try ok catch { case NonFatal(e) =>
      errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!passed) {
      val before = samples.size
      samples.filterInPlace(_.op != op)
      // an op whose timing is already gone was counted when it threw
      if (samples.size < before || op < 0) failed += 1
      errors += s"check failed: $what"
    }
    passed
  }

  /** A whole-run check (not tied to one op's timing): one more attempted
    * operation that fails if the check does. */
  def finalCheck(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    check(-1L, what)(ok)
  }

  def fail(msg: String): Unit = { failed += 1; errors += msg }

  def ms(kind: String): Seq[Double] = samples.filter(_.kind == kind).map(_.ms).toSeq
  def ms(kinds: Set[String]): Seq[Double] =
    samples.filter(s => kinds(s.kind)).map(_.ms).toSeq
  def opsOf(kind: String): Seq[Long] = samples.filter(_.kind == kind).map(_.op).toSeq
}

/** Metric value with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)
