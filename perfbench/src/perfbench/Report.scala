package perfbench

import scala.collection.mutable

/** Minimal JSON writer: the result line and the report must not depend on
  * any library beyond the JDK.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell-Davis estimate of the `p` quantile: the mean of all order
    * statistics, the i-th of n weighted by the Beta((n+1)p, (n+1)(1-p))
    * mass on [(i-1)/n, i/n]. Over a mix of operation kinds it moves a
    * little when two neighbouring operations swap places, where a single
    * order statistic jumps from one kind's time to the next kind's.
    */
  def harrellDavis(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.length
    val (a, b) = ((n + 1) * p, (n + 1) * (1 - p))
    def cdf(i: Int): Double =
      if (i == 0) 0.0 else if (i == n) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(i.toDouble / n, a, b)
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.min(s.length - 1, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  /** The tail of a sample set and how it was taken: the highest ladder
    * percentile with at least ten samples beyond it; below 20 samples no
    * such percentile exists, and the mean of the slowest quarter (at least
    * one sample) stands in, since a single order statistic of so few
    * samples swings with every run.
    */
  def tail(xs: Seq[Double]): (Double, String) =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => xs.size * (1 - p / 100) >= 10) match {
      case Some(p) => (percentile(xs, p), s"p${p.toInt}")
      case None =>
        val k = math.max(1, (xs.size + 3) / 4)
        (xs.sorted.takeRight(k).sum / k, s"mean of slowest $k of ${xs.size}")
    }
}

/** One metric as reported: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int)

/** Accumulates metrics and free-form fields for one run. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val fields = mutable.LinkedHashMap.empty[String, Any]

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = Metric(value, unit, samples)

  /** Median of a sample set, with its count. */
  def median(name: String, xs: Seq[Double], unit: String = "s"): Unit =
    if (xs.nonEmpty) put(name, Stats.median(xs), unit, xs.size)

  def field(name: String, value: Any): Unit = fields(name) = value

  def fullJson: String = {
    val ms = metrics.map { case (n, m) =>
      n -> Map("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples)
    }
    Json(Map("metrics" -> ms) ++ fields)
  }
}
