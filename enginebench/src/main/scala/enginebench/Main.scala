package enginebench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One workload: seeded state, then a fixed sequence of cycles. A cycle
  * is a fixed list of ops and ends in maintenance, so the table is back
  * in the same shape when the next cycle starts. */
trait Workload {
  /** (Re)creates the seeded state from scratch. */
  def setup(): Unit
  /** One cycle; `c` < 0 is the untimed warm-up. */
  def cycle(rec: Recorder, c: Int): Unit
  /** Cycles per 10 s of `--seconds`, measured on a 4-core host. */
  def cyclesPer10s: Double
  /** Untimed cycles after set-up, until JIT and caches settle. */
  def warmupCycles: Int = 1
  /** Seeded-state builds per run; setup_s counts their median. */
  def setupReps: Int = 3
  /** Classes that commit user data / run maintenance / read. */
  def writeClasses: Set[String]
  def readClasses: Set[String]
  def maintClasses: Set[String] = Set("maint")
  /** Untimed end-of-run correctness check of the final state. */
  def finalCheck(): Boolean = true
  /** Numbers measured on the final state, such as stored bytes per user byte. */
  def report(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Main {
  def main(args: Array[String]): Unit = {
    val t0 = Trace.nowMs
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val work = new java.io.File(opt("work")).getAbsoluteFile
    val out = opt("out")
    val threads = math.min(4, Runtime.getRuntime.availableProcessors())

    val wh = new java.io.File(work, "wh")
    Util.rmrf(wh)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("enginebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.bench", "enginebench.TracedCatalog")
      // a URI warehouse: table IO goes through Hadoop, where CountingFs sees it
      .config("spark.sql.catalog.bench.warehouse", wh.toURI.toString)
      .config("spark.hadoop.fs.file.impl", "enginebench.CountingFs")
      .config("spark.local.dir", new java.io.File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.clientThread = Thread.currentThread()
    val sessionMs = Trace.nowMs - t0

    val w: Workload = name match {
      case "ingest_cdc" => new IngestCdc(spark, seed, work)
      case "analytics_suite" => new Analytics(spark, seed, opt("data"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder
    // set-up = session start + seeded state (median of repeated builds)
    // + the untimed warm-up cycles
    val reps = (1 to w.setupReps).map { _ =>
      val s = Trace.nowMs
      w.setup()
      Trace.nowMs - s
    }
    val w0 = Trace.nowMs
    (1 to w.warmupCycles).foreach(i => w.cycle(rec, -i))
    val warmMs = Trace.nowMs - w0
    val setupS = (sessionMs + Stats.median(reps) + warmMs) / 1000

    val cycles = math.max(1, math.round(w.cyclesPer10s * seconds / 10).toInt)
    rec.timing = true
    val gc0 = Util.gcMs()
    val m0 = Trace.nowMs
    (0 until cycles).foreach(c => rec.cycle(w.cycle(rec, c)))
    val timedS = (Trace.nowMs - m0) / 1000
    val gcMs = Util.gcMs() - gc0

    // traced run: further cycles, tracing every other one, so traced and
    // untraced cycles see the same JVM warmth (the overhead)
    val layers = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val lis = new Listeners
      spark.sparkContext.addSparkListener(lis)
      spark.listenerManager.register(lis)
      spark.streams.addListener(lis.stream)
      Trace.clear()
      rec.tracePhase = true
      (cycles until cycles + math.max(2, cycles)).foreach { c =>
        Trace.on = c % 2 == 1
        rec.cycle(w.cycle(rec, c))
        org.apache.spark.BusAccess.flush(spark)
      }
      Trace.on = false
      layers ++= Layers.compute(rec, w)
      Layers.writeSpans(rec, new java.io.File(work, "spans.jsonl"))
    }

    val finalOk = w.finalCheck()
    val extra = w.report()
    w.close()
    Util.writeResult(out, name, seed, setupS, reps, sessionMs, warmMs, timedS, cycles, rec, finalOk,
      extra + ("timed_gc_ms" -> gcMs.toDouble), layers)
    try spark.stop() catch { case _: Throwable => }
    Util.rmrf(wh)
  }
}
