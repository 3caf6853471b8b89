package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (JVM-wide singleton),
  * built from the engine's own session config ([[Engine.builder]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** What `body` executed ([[graft.tools.PlanDump.capture]]), run with no
    * relation cached beforehand, as PlanDump runs a query: a cache left by
    * an earlier suite would otherwise stand in for the body's own scans. */
  def executed(body: => Any): graft.tools.PlanDump.Capture = {
    spark.sharedState.cacheManager.clearCache()
    graft.tools.PlanDump.capture(spark)(body)
  }
}

object SparkSpec {
  /** Per-JVM root for anything the shared SparkContext must be able to
    * reach for the REST of the run (e.g. its checkpoint dir, which has no
    * unset and which ContextCleaner deletes from on RDD GC) — suites must
    * not delete it mid-session; the hook removes it at JVM exit. */
  lazy val checkpointRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-test-ckpt-root")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit))
    p
  }

  lazy val session: SparkSession = {
    val s = Engine.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
