package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round plan-audit artifact (plans/rNN/<query>_<suffix>.txt).
  *
  * Eager pair-mining operators materialize at CONSTRUCTION time and return
  * a lineage-truncated checkpoint read whose plan is an opaque
  * `Scan ExistingRDD` — for those, the un-materialized lazy twins (the
  * identical dataflow minus caches/checkpoints, the same builders
  * PlanSpec/GoldenPlanSpec pin) are substituted so the dumped plan shows
  * the real operator dataflow.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [q1,q2,...|all]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32) — an Engine.builder session, as
  *      Bench, so the dumped plans are the bench's plans.
  */
object PlanDump {
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
    import graft.operators.TextOps
    // lazy twins for the eager miners (plan-visible dataflow)
    val lazyTwins: Map[String, (SparkSession, String) => DataFrame] = Map(
      "dedup_ngram_jaccard" -> ((s, d) => TextOps.dedupNgramJaccardLazy(s, d)),
      "dedup_cdc_chunks" -> ((s, d) => TextOps.dedupCdcChunksLazy(s, d)),
      "dedup_containment" -> ((s, d) => TextOps.dedupContainmentLazy(s, d)),
      "dedup_substring_spans" ->
        ((s, d) => TextOps.dedupSubstringSpansLazy(s, d)),
      "dedup_simhash_pairs" -> ((s, d) => TextOps.simhashPairsLazy(s, d)),
      "text_lm_score" -> ((s, d) => TextOps.textLmScoreLazy(s, d)),
      "text_cosine_pairs" -> ((s, d) => TextOps.textCosinePairsLazy(s, d)),
      "sim_semantic_dedup" ->
        ((s, d) => graft.operators.SimilarityOps.semanticDedupLazy(s, d)),
      "mm_near_dup" ->
        ((s, d) => graft.operators.Multimodal.perceptualNearDupLazy(s, d))
    )
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var failed = 0
    selected.foreach { case (name, fn) =>
      val substituted = lazyTwins.contains(name)
      val build = lazyTwins.getOrElse(name, fn)
      try {
        val df = build(spark, sfDir)
        // self-identifying header (round-13 ADVICE): a substituted dump
        // must say so IN the artifact, or later plan diffs misattribute
        val header =
          if (substituted) s"# lazy-twin substitute for $name (the " +
            "shipped op materializes eagerly; this is the identical " +
            "dataflow minus caches/checkpoints)\n"
          else ""
        val txt = header + df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(out.resolve(s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name ok")
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
