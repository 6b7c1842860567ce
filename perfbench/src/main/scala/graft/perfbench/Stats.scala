package graft.perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: IndexedSeq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.toIndexedSeq, 0.5)

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The run's result: named metrics with units, in insertion order, plus
  * free-form disclosures printed on their own line before the result. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }
  def note(name: String, value: Any): Unit = info(name) = value match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => String.valueOf(other)
  }
  private val born = System.nanoTime()
  /** A progress line on standard error, with the time since start. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  /** Records a failed operation or output check. */
  def fail(what: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += what
    System.err.println(s"[perfbench] check failed: $what")
  }

  def lines: Seq[String] = {
    if (problems.nonEmpty) note("problems", problems.mkString(" | "))
    val infoLine = info.map { case (k, v) => s""""$k": $v""" }.mkString("{\"info\": {", ", ", "}}")
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${v.toString}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    Seq(infoLine,
      s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}""")
  }
}
