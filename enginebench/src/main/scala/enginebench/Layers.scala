package enginebench

/** Per-layer numbers of the traced phase, per op of the relevant class. */
object Layers {
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(rec: Recorder, w: Workload): Seq[(String, Double)] = {
    val spans = Trace.allSpans
    val counts = Trace.allCounts.groupBy(_.key)
    val ops = rec.ops.filter(_.traced).toSeq
    val self = ops.map(o => o.id -> SelfTime.split(o.start, o.end, spans)).toMap

    def cnt(o: Op, key: String): Double =
      counts.getOrElse(key, Nil).filter(c => c.at >= o.start && c.at <= o.end).map(_.n).sum.toDouble
    def st(o: Op, layer: String, name: String => Boolean = _ => true): Double =
      self(o.id).collect { case ((l, n), ms) if l == layer && name(n) => ms }.sum
    def per(sel: Seq[Op])(f: Op => Double): Double = mean(sel.map(f))
    def note(k: String): Double = mean(rec.extra.getOrElse("traced." + k, Nil).toSeq)

    val writes = ops.filter(o => w.writeClasses(o.cls))
    val reads = ops.filter(o => w.readClasses(o.cls))
    val maints = ops.filter(o => w.maintClasses(o.cls))
    val wall = ops.map(_.ms).sum
    val unattributed = ops.map(o => self(o.id).getOrElse(("unattributed", ""), 0.0)).sum

    val dataBytes = per(writes)(o => cnt(o, "fs.data.bytes_written") + cnt(o, "fs.deletes.bytes_written"))
    val filesInSnap = note("scan.files_in_snapshot")
    val filesPlanned = per(reads)(cnt(_, "fs.data.files_read"))
    val consulted = note("scan.chunks_consulted")
    val chunksRead = per(reads)(cnt(_, "scan.chunks_read"))

    // traced over untraced median latency, geometric mean over classes
    val ratios = rec.classes.flatMap { c =>
      val (u, t) = (rec.latencies(c), rec.latencies(c, traced = true))
      if (u.isEmpty || t.isEmpty) None else Some(math.log(Stats.median(t) / Stats.median(u)))
    }

    val m = Seq(
      "catalyst.analysis_ms" -> per(ops)(st(_, "catalyst", _ == "analysis")),
      "catalyst.optimization_ms" -> per(ops)(st(_, "catalyst", _ == "optimization")),
      "catalyst.planning_ms" -> per(ops)(st(_, "catalyst", _ == "planning")),
      "catalog.load_table_calls" -> per(ops)(cnt(_, "catalog.load_table_calls")),
      "catalog.load_table_ms" -> per(ops)(st(_, "catalog")),
      "commit.meta_bytes_written" -> per(writes)(cnt(_, "fs.meta.bytes_written")),
      "commit.meta_files_written" -> per(writes)(cnt(_, "fs.meta.files_written")),
      "commit.fs_calls" -> per(writes)(cnt(_, "fs.meta.calls")),
      "commit.fs_ms" -> per(writes)(st(_, "io", _.startsWith("meta."))),
      "commit.attempts" -> per(writes)(cnt(_, "commit.attempts")),
      "commit.driver_ms" -> per(writes)(st(_, "sqlexec")),
      "scan.plan_ms" -> per(reads)(st(_, "sqlexec")),
      "scan.files_in_snapshot" -> filesInSnap,
      "scan.files_planned" -> filesPlanned,
      "scan.prune_ratio" -> (if (filesInSnap > 0) 1 - filesPlanned / filesInSnap else 0.0),
      "scan.chunks_read" -> chunksRead,
      "scan.chunk_hit_ratio" -> (if (consulted > 0) 1 - chunksRead / consulted else 0.0),
      "mor.delete_files_live" -> note("mor.delete_files_live"),
      "mor.delete_bytes_read" -> per(reads)(cnt(_, "fs.deletes.bytes_read")),
      "write.data_files" -> per(writes)(o => cnt(o, "fs.data.files_written") + cnt(o, "fs.deletes.files_written")),
      "write.data_bytes" -> dataBytes,
      "write.rewrite_amplification" -> (if (note("write.user_bytes") > 0) dataBytes / note("write.user_bytes") else 0.0),
      "write.job_ms" -> per(writes)(st(_, "exec")),
      "maint.compact_ms" -> note("maint.compact_ms"),
      "maint.expire_ms" -> note("maint.expire_ms"),
      "maint.files_rewritten" -> per(maints)(cnt(_, "fs.data.files_written")),
      "maint.bytes_rewritten" -> per(maints)(cnt(_, "fs.data.bytes_written")),
      "maint.files_deleted" -> note("maint.files_deleted"),
      "stream.latest_offset_ms" -> per(ops)(st(_, "stream", _ == "latestOffset")),
      "stream.get_batch_ms" -> per(ops)(st(_, "stream", _ == "getBatch")),
      "stream.query_planning_ms" -> per(ops)(st(_, "stream", _ == "queryPlanning")),
      "stream.add_batch_ms" -> per(ops)(st(_, "stream", _ == "addBatch")),
      "stream.wal_commit_ms" -> per(ops)(st(_, "stream", _ == "walCommit")),
      "stream.commit_offsets_ms" -> per(ops)(st(_, "stream", _ == "commitOffsets")),
      "stream.batches_per_commit" -> per(writes)(cnt(_, "stream.batches")),
      "exec.jobs" -> per(ops)(cnt(_, "exec.jobs")),
      "exec.stages" -> per(ops)(cnt(_, "exec.stages")),
      "exec.tasks" -> per(ops)(cnt(_, "exec.tasks")),
      "exec.job_ms" -> per(ops)(st(_, "exec")),
      "exec.stage_wall_ms" -> per(ops)(cnt(_, "exec.stage_wall_ms")),
      "exec.task_ms" -> per(ops)(cnt(_, "exec.task_ms")),
      "exec.shuffle_bytes" -> per(ops)(cnt(_, "exec.shuffle_bytes")),
      "exec.gc_ms" -> per(ops)(cnt(_, "exec.gc_ms")),
      "io.client_ms" -> per(ops)(st(_, "io")),
      "trace.op_ms" -> per(ops)(_.ms),
      "trace.unattributed_ms" -> (if (ops.isEmpty) 0.0 else unattributed / ops.size),
      "trace.coverage" -> (if (wall > 0) 1 - unattributed / wall else 0.0),
      "trace.overhead_pct" -> (if (ratios.isEmpty) 0.0 else (math.exp(ratios.sum / ratios.size) - 1) * 100),
    )
    m ++ Analytics.layerNames.map(k => k -> rec.extra.get(k).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0))
  }

  /** All spans of the traced phase, each tagged with the op whose window
    * holds its midpoint (0 = between ops). */
  def writeSpans(rec: Recorder, f: java.io.File): Unit = {
    val ops = rec.ops.filter(_.traced).sortBy(_.start).toArray
    val lines = Trace.allSpans.sortBy(_.start).map { s =>
      val mid = (s.start + s.end) / 2
      val op = ops.find(o => o.start <= mid && mid <= o.end).map(_.id).getOrElse(0L)
      Util.obj(Seq("op" -> op.toString, "layer" -> Util.str(s.layer), "name" -> Util.str(s.name),
        "start_ms" -> Util.num(s.start), "end_ms" -> Util.num(s.end)))
    }
    java.nio.file.Files.write(f.toPath, (lines :+ "").mkString("\n").getBytes("UTF-8")): Unit
  }
}
