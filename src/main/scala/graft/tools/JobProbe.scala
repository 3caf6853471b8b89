package graft.tools

import org.apache.spark.scheduler._

/** Per-JOB wall-time attribution for the heavy declared queries (guide
  * §1: decide whether time goes to shuffle, compute or scheduling before
  * touching anything). The bench's per-query number is a single wall
  * measurement around many internal Spark jobs (stats probes, miner
  * materializations, checkpoint reads); this probe re-runs a query
  * memo-cold under a SparkListener and prints, per job: wall, summed
  * task time, shuffle read/write bytes and the callsite — so "which
  * internal job is the wall" is answerable from one artifact.
  *
  * Usage: runMain graft.tools.JobProbe q1,q2,... [repeats]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32) — an Engine.builder session, as Bench.
  */
object JobProbe {
  private case class StageAgg(var taskMs: Long = 0, var shufR: Long = 0,
    var shufW: Long = 0, var input: Long = 0, var tasks: Int = 0,
    var name: String = "")

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("text_cosine_pairs")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val repeats = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // bench warmup twin
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(js.jobId, (js.time, site))
        jobStages.put(js.jobId, js.stageIds)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobEnd.put(je.jobId, je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val agg = stages.computeIfAbsent(si.stageId, _ => StageAgg())
        agg.taskMs += si.taskMetrics.executorRunTime
        agg.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        agg.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        agg.input += si.taskMetrics.inputMetrics.bytesRead
        agg.tasks += si.numTasks
        agg.name = si.name
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def release(): Unit = {
      graft.operators.TextOps.clearMinedPairs()
      spark.sharedState.cacheManager.clearCache()
      val persisted = spark.sparkContext.getPersistentRDDs.values
      if (persisted.nonEmpty) persisted.foreach(_.unpersist(true))
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      (1 to repeats).foreach { rep =>
        release()
        // drain the async listener bus BEFORE clearing (round-13 ADVICE:
        // a prior rep's late events otherwise leak into this rep, and the
        // final job's end event can be missing when the maps are read)
        def drain(): Unit = {
          val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
          while (jobEnd.size < jobs.size && System.nanoTime() < deadline)
            Thread.sleep(20)
        }
        drain()
        jobs.clear(); jobEnd.clear(); jobStages.clear(); stages.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        println(f"%n=== $name rep $rep wall=$wall%.3f s ===")
        import scala.jdk.CollectionConverters._
        val rows = jobs.asScala.toSeq.sortBy(_._1).map { case (id, (t0j, site)) =>
          if (!jobEnd.containsKey(id))
            System.err.println(s"[jobprobe] job $id end event missing " +
              "(listener bus did not drain) — its duration reads 0")
          val dur = (jobEnd.getOrDefault(id, t0j) - t0j) / 1000.0
          val sids = jobStages.getOrDefault(id, Seq.empty)
          val ss = sids.flatMap(s => Option(stages.get(s)))
          val taskS = ss.map(_.taskMs).sum / 1000.0
          val sr = ss.map(_.shufR).sum / 1e6
          val sw = ss.map(_.shufW).sum / 1e6
          val in = ss.map(_.input).sum / 1e6
          val nt = ss.map(_.tasks).sum
          (id, dur, site, taskS, sr, sw, in, nt, ss.size)
        }
        rows.foreach { case (id, dur, site, taskS, sr, sw, in, nt, nst) =>
          println(f"job $id%3d ${dur}%8.3f s  task=$taskS%8.1f s  " +
            f"stages=$nst%2d tasks=$nt%4d  shufR=$sr%8.1f MB shufW=$sw%8.1f MB " +
            f"in=$in%7.1f MB  $site")
        }
        val acc = rows.map(_._2).sum
        println(f"sum(job walls)=$acc%.3f s vs query wall=$wall%.3f s " +
          f"(driver gap=${wall - acc}%.3f s)")
      }
    }
    try spark.stop() catch { case _: Throwable => () }
  }
}
