package enginebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Small appends into a day-partitioned merge-on-read table, each
  * followed by draining one `graft-cdc` stream until that commit's
  * changes reached the sink. Every 10th commit is a row-level DELETE of
  * a few keys, followed by key-range reads that apply its delete file
  * and are checked against the benchmark's model. Cycle-end
  * maintenance drops the day from two cycles ago, folds the delete
  * files back, compacts and expires history, so every cycle starts
  * from two compacted days of data and one snapshot.
  */
final class IngestCdc(spark: SparkSession, seed: Long, work: java.io.File) extends Workload {
  private val T = "bench.b.events"
  private val Rows = 200
  private val Appends = 9
  private val PerDay = Rows * Appends
  private val DeleteKeys = 5 // from every other batch of a cycle's Appends
  private val ReadWidth = 300
  override def cyclesPer10s: Double = 1.0
  override def writeClasses: Set[String] = Set("append", "delete")
  override def readClasses: Set[String] = Set("read")

  private val schema = StructType(Seq(StructField("id", LongType), StructField("d", DateType),
    StructField("b", LongType), StructField("v", LongType), StructField("pad", StringType)))
  private val day0 = java.time.LocalDate.of(2024, 1, 1)

  /** Change rows seen by the sink: per change type, row count and
    * checksum over (id, v); plus when each batch number first arrived. */
  private object Sink {
    val n = mutable.Map[String, Long]().withDefaultValue(0L)
    val sum = mutable.Map[String, Long]().withDefaultValue(0L)
    val arrived = mutable.Map[Long, Double]()
    def add(df: DataFrame): Unit = {
      val rows = df.select("b", "id", "v", "_change_type").collect()
      val at = Trace.nowMs
      synchronized {
        rows.foreach { r =>
          val t = r.getString(3)
          n(t) += 1
          sum(t) += IngestCdc.mix(r.getLong(1), r.getLong(2))
          arrived.getOrElseUpdate(r.getLong(0), at)
        }
        notifyAll()
      }
    }
    /** Waits until `cond` holds; gives up when the stream died or after 60 s. */
    def await(cond: => Boolean): Boolean = synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && query.isActive && System.currentTimeMillis() < deadline) wait(50)
      cond
    }
    def reset(): Unit = synchronized { n.clear(); sum.clear(); arrived.clear() }
  }

  // what the sink must have seen, kept by the benchmark
  private val want = mutable.Map[String, Long]().withDefaultValue(0L)
  private val wantSum = mutable.Map[String, Long]().withDefaultValue(0L)
  /** Live rows: id -> (day, v). */
  private val live = mutable.LinkedHashMap[Long, (Int, Long)]()
  private var nextId = 0L
  private var batch = 0L
  private var query: StreamingQuery = _
  private var reps = 0

  // warm-up cycles are negative; set-up seeds the day before the first
  // warm-up cycle's, so every cycle's retention drop removes a day
  private def dayOf(c: Int): Int = c + 10

  private def caughtUp(): Boolean = Sink.synchronized {
    Seq("insert", "delete").forall(t => Sink.n(t) == want(t) && Sink.sum(t) == wantSum(t))
  }

  override def setup(): Unit = {
    close()
    spark.sql("DROP TABLE IF EXISTS " + T)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.b")
    spark.sql(s"CREATE TABLE $T (id BIGINT, d DATE, b BIGINT, v BIGINT, pad STRING) " +
      "PARTITIONED BY (d) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    live.clear(); want.clear(); wantSum.clear(); Sink.reset()
    nextId = 0; batch = 0; reps += 1
    val ckpt = new java.io.File(work, s"cdc-ckpt-$reps")
    Util.rmrf(ckpt)
    query = spark.readStream.format("graft-cdc").option("table", T).load()
      .writeStream.foreachBatch((df: DataFrame, _: Long) => Sink.add(df))
      .option("checkpointLocation", ckpt.toString)
      .start()
    stage(new scala.util.Random(seed), dayOf(-2), PerDay)
    spark.sql(s"INSERT INTO $T SELECT * FROM ingest_src")
    require(Sink.await(caughtUp()), "the seeded day did not reach the CDC sink")
  }

  private def metaDir = new java.io.File(Tables.dir(spark, "events"), "metadata")

  /** Stages `n` seeded rows of one day as the `ingest_src` view, as the
    * next batch; returns the batch number. */
  private def stage(rnd: scala.util.Random, day: Int, n: Int): Long = {
    batch += 1
    val d = java.sql.Date.valueOf(day0.plusDays(day))
    val rows = (0 until n).map { _ =>
      nextId += 1
      val v = rnd.nextInt(1000000).toLong
      live(nextId) = (day, v)
      want("insert") += 1
      wantSum("insert") += IngestCdc.mix(nextId, v)
      Row(nextId, d, batch, v, "p" * (8 + rnd.nextInt(24)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).createOrReplaceTempView("ingest_src")
    batch
  }

  private def append(rec: Recorder, rnd: scala.util.Random, day: Int): Unit = {
    val b = stage(rnd, day, Rows)
    val before = Util.listing(metaDir)
    var (start, committed) = (0.0, 0.0)
    rec.op("append") {
      start = Trace.nowMs
      spark.sql(s"INSERT INTO $T SELECT * FROM ingest_src")
      committed = Trace.nowMs
      Sink.await(caughtUp())
    }
    rec.note("append.commit_ms", committed - start)
    Sink.synchronized(Sink.arrived.get(b)).foreach(a => rec.note("cdc_lag_ms", a - committed))
    rec.note("meta_bytes_per_commit", Util.addedBytes(metaDir, before).toDouble)
    if (Trace.on) rec.note("write.user_bytes", Rows * userBytesPerRow)
  }

  private lazy val userBytesPerRow: Double = Fresh.bytesPerRow(spark, T, work)

  /** Drops rows from the model; the sink must then see them as deletes. */
  private def forget(ids: Iterable[Long]): Unit = ids.foreach { id =>
    val (_, v) = live.remove(id).get
    want("delete") += 1
    wantSum("delete") += IngestCdc.mix(id, v)
  }

  override def cycle(rec: Recorder, c: Int): Unit = {
    val rnd = new scala.util.Random(seed * 1000003L + c)
    val day = dayOf(c)
    // every day holds the ids [first, first + PerDay) in batches of Rows;
    // the seed picks keys and ranges within a fixed layout, so each run
    // deletes from as many files and reads as many files as any other
    val first = nextId + 1
    (1 to Appends).foreach(_ => append(rec, rnd, day))
    // row-level delete: one key of every other batch of this cycle's
    val keys = (0 until DeleteKeys).map(i => first + 2 * i * Rows + rnd.nextInt(Rows))
    forget(keys)
    rec.op("delete") {
      spark.sql(s"DELETE FROM $T WHERE id IN (${keys.mkString(",")})")
      Sink.await(caughtUp())
    }
    // reads: within the previous (compacted) day, within this day's
    // batches and their delete file, and across the boundary of the two
    read(rec, first - PerDay + rnd.nextInt(PerDay - ReadWidth))
    read(rec, first + rnd.nextInt(PerDay - ReadWidth))
    read(rec, first - 1 - rnd.nextInt(ReadWidth - 1))
    // maintenance: retention drop of the day two cycles back, then
    // position-delete rewrite, compaction and expiry down to one snapshot
    val old = live.iterator.filter(_._2._1 <= day - 2).map(_._1).toSeq
    var (compactMs, expireMs) = (0.0, 0.0)
    rec.op("maint") {
      spark.sql(s"DELETE FROM $T WHERE d <= DATE '${day0.plusDays(day - 2)}'")
      forget(old)
      val ok = Sink.await(caughtUp())
      spark.sql(s"CALL bench.system.rewrite_position_deletes('b.events')").collect()
      val c0 = Trace.nowMs
      spark.sql(s"CALL bench.system.compact('b.events', 1)").collect()
      compactMs = Trace.nowMs - c0
      // the stream must have committed its offset past every snapshot
      // the expiry removes, or its next batch would start from one
      query.processAllAvailable()
      val e0 = Trace.nowMs
      val deleted = spark.sql(s"CALL bench.system.expire_snapshots('b.events', 1)").collect()
      expireMs = Trace.nowMs - e0
      rec.note("maint.files_deleted", deleted.map(_.getInt(0)).sum.toDouble)
      ok
    }
    rec.note("maint.compact_ms", compactMs)
    rec.note("maint.expire_ms", expireMs)
  }

  /** The read of ids [a, a + ReadWidth), checked against the model. */
  private def read(rec: Recorder, a: Long): Unit = {
    val b = a + ReadWidth - 1
    val in = live.iterator.filter { case (id, _) => id >= a && id <= b }.map(_._2._2).toSeq
    if (Trace.on) {
      val snap = Tables.load(spark, "events").readSnapshot.get
      rec.note("scan.files_in_snapshot", snap.dataFileCount.toDouble)
      rec.note("scan.chunks_consulted", snap.manifests.size.toDouble)
      rec.note("mor.delete_files_live", snap.deleteFiles.size.toDouble)
    }
    rec.op("read") {
      val r = spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $T WHERE id BETWEEN $a AND $b").head()
      r.getLong(0) == in.size && r.getLong(1) == in.sum
    }
  }

  override def finalCheck(): Boolean = {
    val r = spark.sql(s"SELECT count(*), coalesce(sum(id), 0), coalesce(sum(v), 0) FROM $T").head()
    r.getLong(0) == live.size && r.getLong(1) == live.keys.sum && r.getLong(2) == live.values.map(_._2).sum
  }

  override def report(): Map[String, Double] = {
    Map("stored_bytes_per_user_byte" -> Fresh.ratio(spark, T, Tables.dir(spark, "events"), work))
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}

object IngestCdc {
  /** Order-free row checksum term. */
  def mix(id: Long, v: Long): Long = {
    var h = id * 0x9E3779B97F4A7C15L + v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }
}

/** Table directory bytes over the bytes of the same live rows written
  * once into fresh parquet. */
object Fresh {
  def ratio(spark: SparkSession, table: String, tableDir: java.io.File, work: java.io.File): Double = {
    val out = new java.io.File(work, "fresh")
    Util.rmrf(out)
    spark.table(table).coalesce(1).write.parquet(out.toString)
    val r = Util.dirBytes(tableDir).toDouble / Util.dirBytes(out)
    Util.rmrf(out)
    r
  }

  /** Bytes per row of the table's live rows written once into fresh parquet. */
  def bytesPerRow(spark: SparkSession, table: String, work: java.io.File): Double = {
    val out = new java.io.File(work, "fresh-rows")
    Util.rmrf(out)
    spark.table(table).coalesce(1).write.parquet(out.toString)
    val b = Util.dirBytes(out).toDouble / spark.table(table).count()
    Util.rmrf(out)
    b
  }
}
