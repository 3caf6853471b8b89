package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Pins the ONE eager-materialization policy every pair-mining operator
  * routes through (`Engine.eagerCheckpoint`): local blocks by default,
  * reliable checkpoint under `spark.graft.checkpoint.reliable` — same
  * values either way, and the reliable path actually writes to the
  * context's checkpoint dir (executor-loss survivability is the point).
  * Also pins `Engine.builder` as the one place a session is configured,
  * `Coerce.coerce` as the one coercion the main code runs, and that no
  * operator keeps a plan-inspection twin.
  */
class EngineSpec extends SparkSpec {

  private def withReliable[T](on: Boolean)(body: => T): T = {
    spark.conf.set(Engine.ReliableCheckpointKey, on.toString)
    try body finally spark.conf.unset(Engine.ReliableCheckpointKey)
  }

  test("default mode: localCheckpoint — lineage truncated, values intact") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val out = Engine.eagerCheckpoint(df)
    assert(out.collect().map(_.getLong(1)).sum === 9900L)
    // truncated lineage: the optimized plan is a scan of materialized
    // blocks, not the original Range
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Range"), plan)
  }

  test("reliable mode: missing-dir guard, then identical values in the checkpoint dir") {
    // ONE ordered test, not two: SparkContext has no unsetCheckpointDir,
    // so once the happy path sets a dir the missing-dir guard can never
    // trip again in this shared-session JVM — phase 1 must run first.
    withReliable(true) {
      val e = intercept[IllegalArgumentException] {
        Engine.eagerCheckpoint(spark.range(10).toDF())
      }
      assert(e.getMessage.contains("setCheckpointDir"), e.getMessage)
    }
    // JVM-lifetime dir (round-7 ADVICE): the context's checkpoint dir
    // outlives this suite — deleting it here would leave the shared
    // SparkContext pointing at a dead path for every later suite, and
    // ContextCleaner's cleanCheckpoints deletions would log failures.
    // The shutdown hook in SparkSpec removes it at JVM exit instead.
    val dir = SparkSpec.checkpointRoot.resolve("reliable-ckpt").toFile
    dir.mkdirs()
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val out = withReliable(true)(Engine.eagerCheckpoint(df))
    assert(out.collect().map(_.getLong(1)).sum === 9900L)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Range"), plan)
    // the materialization is ON DISK under the configured dir — this is
    // what survives an executor loss (local blocks would not)
    def files(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filterNot(_.isDirectory) ++ kids.filter(_.isDirectory).flatMap(files)
    }
    assert(files(dir).nonEmpty, s"no checkpoint files under $dir")
  }

  /** Files under src/main/scala, relative to it, whose text matches `re`. */
  private def mainSourcesMatching(re: scala.util.matching.Regex): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toSeq.sorted
  }

  test("one session builder: SparkSession.builder appears only in Engine.scala") {
    assert(mainSourcesMatching("""SparkSession\s*\.\s*builder""".r) ===
      Seq("graft/Engine.scala"), "build sessions from Engine.builder instead")
  }

  test("no reference twins: no *Lambda, coerceScala or jsNumber def in src/main/scala") {
    // (and the pivot twin `widen` of Pipeline.widenFromResults)
    assert(mainSourcesMatching("""def (\w+Lambda|coerceScala|jsNumber|widen)\b""".r) ===
      Seq.empty,
      "a reference implementation that only the specs call belongs in " +
        "src/test/scala/graft/References.scala")
  }

  test("no plan twins: no *Lazy def in src/main/scala") {
    assert(mainSourcesMatching("""def \w+Lazy\b""".r) === Seq.empty,
      "pin the shipped op's executed plans (PlanDump.capture) instead of " +
        "keeping an un-materialized twin of it")
  }

  test("no session mutation from operators: no spark.experimental under graft/operators") {
    assert(mainSourcesMatching("""\bexperimental\s*\.""".r)
        .filter(_.startsWith("graft/operators/")) === Seq.empty,
      "plan custom nodes through GraftExtensions, which Engine.builder " +
        "injects, instead of registering on the caller's session")
  }

  test("one hot-key exclusion: no isinLimit in src/main/scala") {
    assert(mainSourcesMatching("""isinLimit""".r) === Seq.empty,
      "cap hot keys in the plan (KeyPairs.capKeys), not through a " +
        "literal-isin / broadcast-anti-join fork")
  }

  test("one function registration: no functionRegistry in src/main/scala") {
    assert(mainSourcesMatching("""functionRegistry""".r) === Seq.empty,
      "inject SQL functions through GraftExtensions, which Engine.builder " +
        "installs, instead of rewriting the caller's function registry")
  }

  test("one cosine body and one union-find threshold: no strategy seam or localEdgeLimit in src/main/scala") {
    assert(mainSourcesMatching(
      """textCosinePairsOf|cosinePairsStrategy|localEdgeLimit""".r) ===
      Seq.empty,
      "force a cosine path with a CosinePlan on TextOps.cosinePairsOf, and " +
        "call distributedCc to compare the union-find paths")
  }

  test("no JVM-global registries: no TrieMap in src/main/scala") {
    assert(mainSourcesMatching("""TrieMap""".r) === Seq.empty,
      "return the value to the caller instead of keeping it in a " +
        "process-wide map: it outlives the data it was built from")
  }
}
