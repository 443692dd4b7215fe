package perfbench

import scala.collection.mutable

/** Minimal JSON writing for the result records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case '\n'         => b ++= "\\n"
      case '\r'         => b ++= "\\r"
      case '\t'         => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Geometric mean of a non-empty positive sample: each member moves it
    * by its relative change, whatever its size. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of an empty sample")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Metrics of one run: name → (value, unit), in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def apply(name: String, unit: String, value: Double): Unit = m(name) = (value, unit)
  def apply(name: String): Double = m(name)._1
  def contains(name: String): Boolean = m.contains(name)
  def ++=(o: Metrics): Unit = m ++= o.m
  def toJson: String = Json.obj(m.map { case (k, (v, u)) =>
    k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })
}

/** Output checks: every operation and its verdict. */
final class Checks {
  private var attempted, failed = 0L
  private val notes = mutable.ArrayBuffer.empty[String]
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += what }
  }
  /** An operation checked against an expected value. */
  def eq[A](what: String, got: A, want: A): Unit =
    op(got == want, s"$what: got $got, want $want")
  def counts: (Long, Long) = synchronized((attempted, failed))
  def failures: Seq[String] = synchronized(notes.toList)
}
