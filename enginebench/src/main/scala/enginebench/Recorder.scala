package enginebench

import scala.collection.mutable

/** One timed op: its class, its window on the client thread (epoch ms),
  * the CPU time the whole JVM spent in that window, whether it returned
  * the right result, whether tracing was on, and whether it ran in the
  * trace phase (after the timed cycles). */
final case class Op(id: Long, cls: String, start: Double, end: Double, cpuMs: Double, ok: Boolean,
    traced: Boolean, tracePhase: Boolean) {
  def ms: Double = end - start
}

/** Times the closed-loop op sequence. Each op belongs to exactly one
  * class, and every percentile is taken within one class. */
final class Recorder {
  val ops = mutable.ArrayBuffer[Op]()
  /** (ms, in trace phase) of each timed cycle. */
  val cycles = mutable.ArrayBuffer[(Double, Boolean)]()
  /** false during set-up and warm-up: those ops are run but not kept. */
  var timing = false
  var tracePhase = false
  private var nextId = 0L
  /** Extra per-class numbers the workloads measure outside op windows. */
  val extra = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** Records a number outside any op window; trace-phase numbers are
    * kept apart under a `traced.` or `untraced.` prefix. */
  def note(key: String, v: Double): Unit = if (timing) {
    val prefix = if (!tracePhase) "" else if (Trace.on) "traced." else "untraced."
    extra.getOrElseUpdate(prefix + key, mutable.ArrayBuffer()) += v
  }

  /** Runs one op. `f` returns whether the result was correct; a thrown
    * exception is a failed op. */
  def op(cls: String)(f: => Boolean): Boolean = {
    nextId += 1
    val id = nextId
    val c = Util.threadCpu()
    val s = Trace.nowMs
    val ok = try f catch {
      case e: Throwable =>
        System.err.println(s"[enginebench] op $cls failed: $e")
        false
      }
    val e = Trace.nowMs
    if (timing) ops += Op(id, cls, s, e, Util.cpuMsSince(c), ok, Trace.on, tracePhase)
    ok
  }

  def cycle(f: => Unit): Unit = {
    val s = Trace.nowMs
    f
    if (timing) cycles += ((Trace.nowMs - s, tracePhase))
  }

  def classes: Seq[String] = ops.map(_.cls).distinct.toSeq
  /** Latencies of the successful ops of one class, in run order: the
    * timed cycles, or the traced / untraced cycles of the trace phase. */
  def latencies(cls: String): Seq[Double] = sel(cls, o => !o.tracePhase).map(_.ms)
  def latencies(cls: String, traced: Boolean): Seq[Double] =
    sel(cls, o => o.tracePhase && o.traced == traced).map(_.ms)
  /** JVM CPU time of the same ops as `latencies(cls)`. */
  def cpuTimes(cls: String): Seq[Double] = sel(cls, o => !o.tracePhase).map(_.cpuMs)
  private def sel(cls: String, p: Op => Boolean): Seq[Op] =
    ops.filter(o => o.cls == cls && o.ok && p(o)).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Second-half median over first-half median of one class. */
  def halfRatio(xs: Seq[Double]): Double = {
    val (a, b) = xs.splitAt(xs.size / 2)
    median(b) / median(a)
  }
}
