package enginebench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The operator layer: a fixed list of `SparkEntry.queries`, each fully
  * materialized through the noop sink, over the seeded corpus run.py
  * generates. It touches no graft table. The untimed warm-up pass
  * writes every result as parquet for run.py's DuckDB oracle compare.
  */
final class Analytics(spark: SparkSession, seed: Long, data: String, work: java.io.File) extends Workload {
  override def cyclesPer10s: Double = 1.0
  override def setupReps: Int = 1
  override def writeClasses: Set[String] = Set.empty
  override def readClasses: Set[String] = Set.empty
  override def maintClasses: Set[String] = Set.empty

  private val fns = SparkEntry.queries
  private val results = new java.io.File(work, "results")

  override def setup(): Unit = {
    Util.rmrf(results)
    results.mkdirs()
    val oracle = SparkEntry.oracleSql
    val json = Util.obj(Analytics.Queries.flatMap(q => oracle.get(q).map(sql => q -> Util.str(sql))))
    java.nio.file.Files.writeString(new java.io.File(results, "oracle_sql.json").toPath, json)
  }

  override def cycle(rec: Recorder, c: Int): Unit = {
    // a fixed order: where a query sits in the pass changes how warm the
    // JVM and Spark are when it runs
    Analytics.Queries.foreach { q =>
      val t0 = Trace.nowMs
      var built = 0.0
      rec.op(q) {
        val df = fns(q)(spark, data)
        built = Trace.nowMs
        if (c < 0) df.coalesce(1).write.mode("overwrite").parquet(new java.io.File(results, q).toString)
        else df.write.format("noop").mode("overwrite").save()
        true
      }
      rec.note("ops.build_ms", built - t0)
      rec.note(s"ops.${q}_ms", Trace.nowMs - t0)
      graft.streaming.Hygiene.reset(spark)
    }
  }
}

object Analytics {
  /** The non-streaming top of the engine's query bench that one pass can
    * afford, plus two cheap controls. */
  val Queries: Seq[String] = Seq(
    "q_llm_dupcluster", "q_agg_percentile", "q_agg_distinct", "q_tpch_q1", "q_tpch_q21",
    "q_join_theta", "q_fn_json", "q_evt_paths",
    // controls
    "q_tpch_q6", "q_filter_cmp")

  val layerNames: Seq[String] = "ops.build_ms" +: Queries.map(q => s"ops.${q}_ms")
}
