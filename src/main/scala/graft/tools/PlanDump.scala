package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution,
  SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps what declared queries EXECUTED — the optimization-round
  * plan-audit artifact (plans/rNN/<query>_<suffix>.txt). Each query runs
  * with nothing cached under [[capture]]; its file holds the final (post-AQE)
  * executed plan of every SQL execution the query ran: the stats probes,
  * the persisted relations' fills, the eager checkpoint jobs and the
  * result. `<query>_<suffix>.jobs.txt` holds its per-job table (wall,
  * summed task time, tasks, shuffle read/write, callsite) and the driver
  * gap, the wall time no job covers.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [q1,q2,...|all]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32) — an Engine.builder session, as
  *      Bench, so the dumped plans are the bench's plans.
  */
object PlanDump {

  /** One Spark job of a captured run. Task time, tasks and shuffle bytes
    * count the stages the job ran, not the ones it skipped because an
    * earlier job had already run them. The callsite is that of the action
    * whose SQL execution ran the job, else the job's result stage's. */
  final case class Job(id: Int, startMs: Long, wallMs: Long, taskMs: Long,
      tasks: Int, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      callSite: String)

  /** What [[capture]] saw its body run: the body's wall time, each SQL
    * execution, in the order the executions finished (for a body that runs
    * its actions one after another, execution-id order), and each job. */
  final case class Capture(wallMs: Long, executions: Seq[QueryExecution],
      jobs: Seq[Job]) {
    /** The final (post-AQE) executed plan of each execution as formatted
      * explain text. */
    def plans: Seq[String] = executions.map(_.explainString(FormattedMode))
    /** Wall time no job covers: planning, driver-side work, scheduling.
      * Jobs that overlap (AQE runs independent stages at once) count
      * their shared time once. */
    def driverGapMs: Long = {
      val spans = jobs.map(j => (j.startMs, j.startMs + j.wallMs)).sortBy(_._1)
      val (covered, _) = spans.foldLeft((0L, Long.MinValue)) {
        case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }
      wallMs - covered
    }
  }

  /** Runs `body` under a QueryExecutionListener and a SparkListener and
    * returns what it executed. The listener bus is drained before the
    * listeners attach, so earlier work's late events stay out, and before
    * they detach, so every event of the body's own jobs is in. */
  def capture(spark: SparkSession)(body: => Any): Capture = {
    val sc = spark.sparkContext
    val executed = new ConcurrentLinkedQueue[QueryExecution]
    val actions = new ConcurrentHashMap[Long, String]
    val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]
    val ends = new ConcurrentHashMap[Int, Long]
    val stages = new ConcurrentHashMap[Int, StageInfo]
    val executions = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.put(e.stageInfo.stageId, e.stageInfo)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          actions.put(s.executionId, s.description)
        case _ => ()
      }
    }
    ListenerBusDrain.drain(sc)
    spark.listenerManager.register(executions)
    sc.addSparkListener(jobs)
    val t0 = System.nanoTime()
    val wallMs = try { body; (System.nanoTime() - t0) / 1000000 } finally {
      ListenerBusDrain.drain(sc)
      spark.listenerManager.unregister(executions)
      sc.removeSparkListener(jobs)
    }
    // a stage belongs to the first job that lists it: later jobs list it
    // again (an AQE result job lists every stage below it) but skip it
    val claimed = scala.collection.mutable.Set.empty[Int]
    val jobRows = starts.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
      val ran = s.stageIds.filter(claimed.add)
        .flatMap(i => Option(stages.get(i)))
      def total(f: StageInfo => Long): Long = ran.map(f).sum
      Job(id, s.time, ends.getOrDefault(id, s.time) - s.time,
        total(_.taskMetrics.executorRunTime), ran.map(_.numTasks).sum,
        total(_.taskMetrics.shuffleReadMetrics.totalBytesRead),
        total(_.taskMetrics.shuffleWriteMetrics.bytesWritten),
        Option(s.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(x => Option(actions.get(x.toLong)))
          .getOrElse(s.stageInfos.maxBy(_.stageId).name))
    }
    Capture(wallMs, executed.asScala.toSeq, jobRows)
  }

  /** The per-job table of a capture, one line per job and a total. */
  private def jobTable(run: Capture): String = {
    val rows = run.jobs.map { j =>
      f"job ${j.id}%4d ${j.wallMs / 1e3}%8.3f s  " +
        f"task=${j.taskMs / 1e3}%8.1f s  tasks=${j.tasks}%5d  " +
        f"shufR=${j.shuffleReadBytes / 1e6}%8.1f MB  " +
        f"shufW=${j.shuffleWriteBytes / 1e6}%8.1f MB  ${j.callSite}"
    }
    (rows :+ f"wall=${run.wallMs / 1e3}%.3f s  jobs=${run.jobs.size}  " +
      f"driver gap=${run.driverGapMs / 1e3}%.3f s").mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r13"
    val suffix = if (args.length > 1) args(1) else "before"
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) != "all")
        Some(args(2).split(",").map(_.trim).toSet)
      else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Bench's warm step, so the first query's jobs are not JVM-cold
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("documents", "lineitem", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    def write(file: String, txt: String): Unit =
      java.nio.file.Files.write(out.resolve(file), txt.getBytes("UTF-8"))
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var failed = 0
    selected.foreach { case (name, fn) =>
      // nothing cached, as every bench sample starts
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      try {
        // the noop write runs the full result, every column of it
        val run = capture(spark)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        val plans = run.plans
        write(s"${name}_$suffix.txt", plans.zipWithIndex.map {
          case (p, i) => s"# execution ${i + 1} of ${plans.size}\n$p"
        }.mkString("\n"))
        write(s"${name}_$suffix.jobs.txt", jobTable(run))
        System.err.println(s"[plandump] $name ok: ${plans.size} " +
          s"executions, ${run.jobs.size} jobs, ${run.wallMs} ms")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[plandump] $name FAILED: " +
          s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    System.err.println(
      s"[plandump] done: ${selected.size - failed}/${selected.size} dumped" +
        (if (failed > 0) s", $failed FAILED" else ""))
    try spark.stop() catch { case _: Throwable => () }
    if (failed > 0) System.exit(1)
  }
}
