package enginebench

import scala.collection.mutable

object Util {
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array()).foreach(rmrf)
    f.delete(): Unit
  }

  /** Total JVM garbage-collection time so far. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean]).map(_.getCollectionTime).sum

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time in ns of each live JVM thread. Nanosecond-precise, where
    * the process total is counted in 10 ms ticks; the kernel does not
    * count time the host withheld the CPU (steal). */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU ms all live threads spent since `before`. A thread that ended
    * in between is not counted. */
  def cpuMsSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6

  /** Name -> size of the files directly in a directory. */
  def listing(dir: java.io.File): Map[String, Long] =
    Option(dir.listFiles).getOrElse(Array()).filter(_.isFile).map(f => f.getName -> f.length).toMap

  /** Bytes of the files in `dir` that are not in the `before` listing. */
  def addedBytes(dir: java.io.File, before: Map[String, Long]): Long =
    listing(dir).collect { case (n, b) if !before.contains(n) && !n.endsWith(".crc") => b }.sum

  /** Bytes of all regular files under a directory. */
  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array()).map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  /** The run's result for run.py: per-class samples and summaries, set-up
    * repetitions, cycle times, workload extras and traced layers. */
  def writeResult(out: String, name: String, seed: Long, setupS: Double, reps: Seq[Double],
      sessionMs: Double, warmMs: Double, timedS: Double, cycles: Int, rec: Recorder, finalOk: Boolean,
      extra: Map[String, Double], layers: mutable.LinkedHashMap[String, Double]): Unit = {
    val timed = rec.ops.filterNot(_.tracePhase)
    val classes = rec.classes.map { c =>
      val xs = rec.latencies(c)
      val failed = timed.count(o => o.cls == c && !o.ok)
      c -> obj(Seq(
        "failed" -> failed.toString,
        "half_ratio" -> (if (xs.size >= 4) num(Stats.halfRatio(xs)) else "null"),
        "samples_ms" -> arr(xs),
        "cpu_samples_ms" -> arr(rec.cpuTimes(c))))
    }
    val json = obj(Seq(
      "workload" -> str(name),
      "seed" -> seed.toString,
      "setup_s" -> num(setupS),
      "session_ms" -> num(sessionMs),
      "setup_reps_ms" -> arr(reps),
      "warmup_ms" -> num(warmMs),
      "timed_s" -> num(timedS),
      "cycles" -> cycles.toString,
      "cycle_ms" -> arr(rec.cycles.filterNot(_._2).map(_._1)),
      "timed_ops" -> timed.size.toString,
      "attempted" -> rec.ops.size.toString,
      "failed" -> (rec.ops.count(!_.ok) + (if (finalOk) 0 else 1)).toString,
      "final_ok" -> finalOk.toString,
      "classes" -> obj(classes),
      "extra" -> obj(extra.map { case (k, v) => k -> num(v) }),
      "extra_samples" -> obj(rec.extra.filterNot(e => e._1.startsWith("traced.") || e._1.startsWith("untraced.")).map { case (k, v) => k -> arr(v) }),
      "layers" -> obj(layers.map { case (k, v) => k -> num(v) })))
    val tmp = new java.io.File(out + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, json)
    tmp.renameTo(new java.io.File(out)): Unit
  }
}
