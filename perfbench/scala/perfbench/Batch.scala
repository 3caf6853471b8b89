package perfbench

import graft.SparkEntry
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** batch_suite: SparkEntry queries in sequence (closed loop, one client),
  * each started memo-cold with the same hygiene as graft.Bench. */
object Batch {

  /** What a query left materialized (eager localCheckpoint/persist), read
    * before the hygiene step releases it. */
  private def persistedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble

  /** Every execution writes the query's full result, so the timed plan is
    * the one the output check reads back; count() would let the optimizer
    * prune the result's columns and time a cheaper plan. */
  private def force(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  private def hygiene(spark: SparkSession): Unit = {
    TextOps.clearMinedPairs()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def run(spark: SparkSession, cfg: Cfg, trace: Trace, out: Out): Unit = {
    val data = cfg.str("data_dir")
    val results = cfg.str("run_dir") + "/results"
    val names = cfg.strs("queries")
    // the warm pass compiles the generated classes the timed passes reuse.
    // It runs in one fixed order: which query runs first in a cold JVM
    // changes what the JIT makes of it for the rest of the run.
    val failedWarm = names.sorted.flatMap { n =>
      hygiene(spark)
      try {
        force(SparkEntry.queries(n)(spark, data), s"$results/$n")
        None
      } catch { case e: Exception => Some(n -> e.toString) }
    }
    hygiene(spark)
    System.gc()
    out.put("warm_errors", failedWarm.toMap)
    out.put("setup_end_ms", Clock.now)
    trace.install(spark)

    val budgetMs = cfg.num("seconds") * 1000
    val samples = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = Clock.now
    trace.span("run", "run", "") {
      var pass = 0
      while (pass < 1 || Clock.now - t0 < budgetMs) {
        // each pass starts one slot later, so no query keeps one position
        val rot = pass % names.size
        val order = names.drop(rot) ++ names.take(rot)
        trace.span(s"p$pass", "pass", "run") {
          order.foreach { n =>
            hygiene(spark)
            // start every timed query on a collected heap, so one query's
            // garbage is not collected inside the next one's timing
            System.gc()
            val s = Clock.now
            val cpu = CpuClock.now
            val ok = trace.span(s"p$pass/$n", s"query.$n", s"p$pass",
                Map("persisted_bytes" -> persistedBytes(spark))) {
              try { force(SparkEntry.queries(n)(spark, data), s"$results/$n"); true }
              catch { case _: Exception => false }
            }
            samples += Map("query" -> n, "pass" -> pass, "start" -> s,
              "ms" -> (Clock.now - s), "cpu_ms" -> (CpuClock.now - cpu),
              "ok" -> ok)
          }
        }
        pass += 1
      }
    }
    out.put("run_end_ms", Clock.now)
    out.put("timed_start_ms", t0)
    hygiene(spark)
    trace.uninstall(spark)
    out.put("samples", samples.toSeq)
  }
}
