package perfbench

import scala.collection.mutable.ArrayBuffer

/** Everything one benchmark run measured, kept in memory until the run
  * ends and then written once as a tab-separated record. The record is
  * deliberately not JSON: `run.py` is the only JSON writer of the
  * benchmark, and it converts this record into every file it emits.
  *
  * Line kinds (first field):
  *  - `M name value unit`        a metric
  *  - `C name ok detail`         an output check (ok = 1 or 0)
  *  - `I key value`              a fact about the run (strings)
  *  - `O attempted failed`       operation counts
  *  - `S id parent name start_ms end_ms kind`  a span (traced runs)
  */
final class Record {
  import Record.Span

  private val metrics = ArrayBuffer.empty[(String, Double, String)]
  private val checks = ArrayBuffer.empty[(String, Boolean, String)]
  private val infos = ArrayBuffer.empty[(String, String)]
  private val spans = ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics += ((name, value, unit))

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  def info(key: String, value: Any): Unit = infos += ((key, value.toString))

  /** Notes when a phase of the run began (seconds since the launch). */
  def mark(phase: String, launchMs: Double): Unit = {
    val at = (System.currentTimeMillis() - launchMs) / 1000.0
    info(s"phase.$phase.at_s", f"$at%.2f")
    System.err.println(f"[perfbench] $at%7.2f s  $phase")
  }

  /** Adds a span; returns its id (0 is "no parent"). */
  def span(parent: Int, name: String, startMs: Double, endMs: Double,
      kind: String): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, name, startMs, endMs, kind)
    id
  }

  private def clean(s: String): String = s.replaceAll("[\t\r\n]+", " ")

  def write(path: String): Unit = {
    val sb = new StringBuilder
    def line(fields: Any*): Unit =
      sb.append(fields.map(f => clean(f.toString)).mkString("\t")).append('\n')
    metrics.foreach { case (n, v, u) => line("M", n, java.lang.Double.toString(v), u) }
    checks.foreach { case (n, ok, d) => line("C", n, if (ok) 1 else 0, d) }
    infos.foreach { case (k, v) => line("I", k, v) }
    line("O", attempted, failed)
    spans.foreach(s => line("S", s.id, s.parent, s.name,
      java.lang.Double.toString(s.startMs), java.lang.Double.toString(s.endMs), s.kind))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Record {
  final case class Span(id: Int, parent: Int, name: String,
      startMs: Double, endMs: Double, kind: String)
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** CPU seconds used so far by all threads of this JVM. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** num ÷ den, or 0 when den is 0. */
  def ratio[A, B](num: A, den: B)(implicit na: Numeric[A], nb: Numeric[B]): Double = {
    val d = nb.toDouble(den)
    if (d == 0) 0.0 else na.toDouble(num) / d
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
