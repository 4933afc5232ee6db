package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

object Json {
  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(String.valueOf(other))
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** The highest whole percentile that still has at least 10 samples
    * above it (nearest rank), as (value, percentile); None with 10 or
    * fewer samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Int)] = {
    val s = xs.sorted
    val n = s.size
    (99 to 1 by -1).iterator
      .map(p => (p, math.ceil(p / 100.0 * n).toInt))
      .find { case (_, rank) => rank >= 1 && n - rank >= 10 }
      .map { case (p, rank) => (s(rank - 1), p) }
  }
}

/** One timed operation of the closed loop. */
final case class OpRec(kind: String, write: Boolean, secs: Double, rows: Long, traced: Boolean)

/** Attempts, failures and latencies of the timed loop, and the answer
  * checks. A failed operation is counted and never yields a timing.
  */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val errors = mutable.ArrayBuffer.empty[String]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** While warming up, operations run and are checked but not counted. */
  var warming = false

  private def short(msg: String): String = {
    val m = msg.replaceAll("\\s+", " ")
    if (m.length <= 160) m else m.take(157) + "..."
  }

  /** Times `body` as one operation. Returns None when it failed. */
  def timed[T](kind: String, write: Boolean, rows: Long, traced: Boolean)(body: => T): Option[T] = {
    if (!warming) attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      if (!warming) ops += OpRec(kind, write, (System.nanoTime() - t0) / 1e9, rows, traced)
      Some(r)
    } catch {
      case NonFatal(e) =>
        if (!warming) failed += 1
        if (errors.size < 20) errors += short(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Records an answer check; a false check fails the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && checkFailures.size < 50) checkFailures += short(what)
}
