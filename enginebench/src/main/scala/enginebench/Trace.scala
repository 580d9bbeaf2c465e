package enginebench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans and counters recorded around the calls into each engine layer.
  *
  * Everything is observed from outside the engine: a catalog subclass,
  * a counting Hadoop FileSystem, and Spark's own listeners. Spans carry
  * wall-clock times in epoch milliseconds (Spark's listener events and
  * query-planning phases only carry those), are kept in memory and are
  * attributed to benchmark ops by time window at the end of the run.
  * With `on` false every hook is a single volatile read.
  */
object Trace {
  @volatile var on = false

  final case class Span(layer: String, name: String, start: Double, end: Double)
  final case class Count(key: String, at: Double, n: Long)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentLinkedQueue[Count]()

  /** The thread that issues benchmark ops; its file-system calls are
    * the synchronous IO an op waits for. */
  @volatile var clientThread: Thread = _

  def span(s: Span): Unit = if (on) spans.add(s)
  def count(key: String, n: Long = 1, at: Double = nowMs): Unit = if (on) counts.add(Count(key, at, n))

  def timed[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val s = nowMs
      try f finally spans.add(Span(layer, name, s, nowMs))
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allCounts: Seq[Count] = counts.asScala.toSeq
  def clear(): Unit = { spans.clear(); counts.clear() }
}

/** `fs.file.impl` for the benchmark's `file://` warehouse: counts calls,
  * files and bytes per table area (metadata/, data/, deletes/) and times
  * the calls the client thread makes. */
class CountingFs extends LocalFileSystem {
  private def area(p: Path): String = {
    val s = p.toUri.getPath
    if (s.contains("/metadata/")) "meta"
    else if (s.contains("/deletes/")) "deletes"
    else if (s.contains("/data/")) "data"
    else "other"
  }

  private def call[T](op: String, p: Path)(f: => T): T =
    if (!Trace.on) f
    else {
      val a = area(p)
      Trace.count(s"fs.$a.calls")
      if (Thread.currentThread() eq Trace.clientThread) Trace.timed("io", s"$a.$op")(f) else f
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = call("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
    if (!Trace.on) out
    else {
      val a = area(f)
      Trace.count(s"fs.$a.files_written")
      new FSDataOutputStream(out, null) {
        override def close(): Unit = {
          Trace.count(s"fs.$a.bytes_written", size())
          call("close", f)(super.close())
        }
      }
    }
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (Trace.on) {
      val a = area(f)
      Trace.count(s"fs.$a.files_read")
      Trace.count(s"fs.$a.bytes_read", new java.io.File(f.toUri.getPath).length())
      if (a == "meta" && f.getName.startsWith("manifest-") && !f.getName.startsWith("manifest-list"))
        Trace.count("scan.chunks_read")
    }
    call("open", f)(super.open(f, bufferSize))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (Trace.on && dst.getName.matches("v\\d+\\.metadata\\.json.*")) Trace.count("commit.attempts")
    call("rename", dst)(super.rename(src, dst))
  }
  override def delete(f: Path, recursive: Boolean): Boolean = call("delete", f)(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] = call("list", f)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = call("stat", f)(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = call("mkdirs", f)(super.mkdirs(f, permission))
}

/** The engine's path catalog with its `loadTable` calls timed. */
class TracedCatalog extends graft.catalog.RelativeCatalog {
  override def loadTable(ident: Identifier): Table =
    Trace.timed("catalog", "load_table") { Trace.count("catalog.load_table_calls"); super.loadTable(ident) }
  override def loadTable(ident: Identifier, version: String): Table =
    Trace.timed("catalog", "load_table") { Trace.count("catalog.load_table_calls"); super.loadTable(ident, version) }
}

/** Spark's scheduler, SQL-execution, planning-phase and micro-batch
  * events turned into spans and counts. Registered only for the traced
  * phase; events arrive on the listener bus, so `BusAccess.flush` must
  * run before the spans are read. */
class Listeners extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map[Int, Long]()
  private val sqlStart = mutable.Map[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      Trace.span(Trace.Span("exec", "job", s.toDouble, e.time.toDouble))
      Trace.count("exec.jobs", at = e.time.toDouble)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) {
      Trace.count("exec.stages", at = c.toDouble)
      Trace.count("exec.stage_wall_ms", c - s, at = c.toDouble)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val at = e.taskInfo.finishTime.toDouble
    Trace.count("exec.tasks", at = at)
    Option(e.taskMetrics).foreach { m =>
      Trace.count("exec.task_ms", m.executorRunTime, at)
      Trace.count("exec.gc_ms", m.jvmGCTime, at)
      Trace.count("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten, at)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(x.executionId).foreach(s =>
        Trace.span(Trace.Span("sqlexec", "execution", s.toDouble, x.time.toDouble)))
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = Listeners.phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = Listeners.phases(qe)

  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      var t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      // MicroBatchExecution runs its phases in this order
      for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets");
           ms <- d.get(ph)) {
        Trace.span(Trace.Span("stream", ph, t, t + ms))
        t += ms
      }
      if (p.numInputRows > 0) Trace.count("stream.batches", at = t)
    }
  }
}

object Listeners {
  /** The query-planning phases a [[QueryExecution]] went through. */
  def phases(qe: QueryExecution): Unit =
    for ((name, ph) <- qe.tracker.phases if name != "parsing")
      Trace.span(Trace.Span("catalyst", name, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble))
}

/** Splits each op's wall time into layer self times: every instant of
  * the op window goes to the most specific span covering it (a file
  * call inside `loadTable` inside analysis counts as io, not as catalog
  * or catalyst), and instants no span covers are "unattributed". */
object SelfTime {
  // most specific first
  private val priority = Seq("io", "catalog", "exec", "stream", "catalyst", "sqlexec")
  private def rank(s: Trace.Span): Int = priority.indexOf(s.layer)

  /** Self ms per (layer, name) inside [a, b], plus "unattributed". */
  def split(a: Double, b: Double, spans: Seq[Trace.Span]): Map[(String, String), Double] = {
    val in = spans.filter(s => s.end > a && s.start < b && rank(s) >= 0)
      .map(s => s.copy(start = s.start max a, end = s.end min b))
      .sortBy(rank)
    val cuts = (in.flatMap(s => Seq(s.start, s.end)) ++ Seq(a, b)).distinct.sorted
    val out = mutable.Map[(String, String), Double]().withDefaultValue(0.0)
    cuts.zip(cuts.tail).foreach { case (x, y) =>
      val mid = (x + y) / 2
      val owner = in.find(s => s.start <= mid && mid < s.end)
        .map(s => (s.layer, s.name)).getOrElse(("unattributed", ""))
      out(owner) += y - x
    }
    out.toMap
  }
}
