package graft

import graft.operators.{EventOps, ExtraOps, Multimodal, SimilarityOps, StarOps, TextOps}
import org.apache.spark.sql.DataFrame
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Golden physical plans for the headline queries — the whole-plan
  * complement to PlanSpec's targeted structural assertions: PlanSpec pins
  * ~45 specific facts (broadcasts, pushdowns, shuffle counts), this suite
  * pins EVERYTHING ELSE, so any silent plan change (a Spark upgrade, an
  * accidental hint, a builder refactor that re-orders joins) fails loudly
  * with a diff instead of shipping unnoticed.
  *
  * Goldens live in src/test/resources/golden-plans/<name>.txt as the
  * NORMALIZED formatted-explain text (expression ids, plan ids, RDD ids and file
  * paths are run-dependent and scrubbed; everything structural — node
  * tree, join strategies, pushed filters, read schemas, partial/final agg
  * modes, codegen spans — is kept verbatim).
  *
  * On an INTENDED plan change, regenerate and review the diff like code:
  *   GRAFT_REGEN_GOLDEN_PLANS=1 sbt "testOnly graft.GoldenPlanSpec"
  *
  * A lazily-built query pins the plan of the frame it returns. A pair
  * miner materializes while it is built (persisted index, eager
  * checkpoint), so the frame it returns is a checkpoint stub: its golden
  * is the final (post-AQE) executed plan of every SQL execution the
  * shipped op ran — stats probes, cache fills, checkpoint jobs — in order.
  */
class GoldenPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val goldenDir = new File("src/test/resources/golden-plans")
  private val regen = sys.env.contains("GRAFT_REGEN_GOLDEN_PLANS")

  /** Scrub run-dependent tokens; keep structure. */
  private def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#N")                  // expression ids
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")        // checkpointed RDD ids
      .replaceAll("\\[id=N?#?\\d*\\]", "[id=N]")  // exchange/codegen ids
      .replaceAll("file:[^\\s\\],)]*", "PATH")    // absolute locations
      .replaceAll("\\[\\d+ paths\\]", "[N paths]")
      .replaceAll("\\(\\d+ paths\\)", "(N paths)")
      // JVM lambda identities (typed Dataset ops print the closure
      // object): class-load-order- and run-dependent
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-fA-F]+@[0-9a-fA-F]+",
        "\\$\\$Lambda\\$N")
      // Catalyst higher-order-function variable names (x_N, y_N, ...)
      // draw from a session-global counter (x_7 vs x_8 depending on how
      // many lambdas the session has ever analyzed) — suite ordering
      // must not matter
      .replaceAll("\\b([a-z])_\\d+\\b", "$1_N")
      .linesIterator.map(_.stripTrailing()).mkString("\n").trim + "\n"

  private def planOf(df: DataFrame): String =
    normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

  /** The executed plans of everything `body` ran, in order. Codegen ids
    * and AQE query-stage ids follow the order concurrent stages finish in,
    * and a stage's runtime statistics are measurements, not structure, so
    * they are scrubbed too. */
  private def ranPlansOf(body: => Any): String = {
    val plans = executed(body).plans
    plans.zipWithIndex.map { case (p, i) =>
      s"# execution ${i + 1} of ${plans.size}\n" + normalize(p
        .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : N]")
        .replaceAll("(?m)^Arguments: \\d+$", "Arguments: N")
        .replaceAll(", Statistics\\([^)]*\\)", ""))
    }.mkString("\n")
  }

  private def docs = EventOps.tbl(spark, dir, "documents")

  private val headline: Seq[(String, () => String)] = Seq(
    "q1_agg" -> (() => planOf(StarOps.q1Agg(spark, dir))),
    "q3_join" -> (() => planOf(StarOps.q3Join(spark, dir))),
    "q5_region" -> (() => planOf(StarOps.q5Region(spark, dir))),
    "q9_profit" -> (() => planOf(StarOps.q9ProfitNationYear(spark, dir))),
    "q21_waiting" -> (() => planOf(ExtraOps.q21WaitingSupplier(spark, dir))),
    "topk_orders" -> (() => planOf(StarOps.topkOrders(spark, dir))),
    "lateral_topn" -> (() => planOf(ExtraOps.lateralTopN(spark, dir))),
    "asof_join_native" ->
      (() => planOf(ExtraOps.asofErrorSignup(spark, dir))),
    "text_tfidf" -> (() => planOf(TextOps.textTfidf(spark, dir))),
    "sim_knn" -> (() => planOf(SimilarityOps.knnBruteForce(spark, dir))),
    // the mining family as the shipped ops execute it — exactly the plans
    // a refactor can silently pessimize: candidate-bounded joins, df caps,
    // block shapes, which relation is persisted and who reads it
    "dedup_ngram_jaccard" ->
      (() => ranPlansOf(TextOps.dedupNgramJaccard(spark, dir))),
    "dedup_containment" ->
      (() => ranPlansOf(TextOps.dedupContainment(spark, dir))),
    "dedup_cdc_chunks" ->
      (() => ranPlansOf(TextOps.dedupCdcChunks(spark, dir))),
    "mm_near_dup" -> (() => ranPlansOf(Multimodal.perceptualNearDup(spark, dir))),
    "dedup_incremental" -> (() => {
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      planOf(TextOps.dedupIncrementalOf(
        docs.filter(col("doc_id") >= TextOps.DefaultIncrementalSplitId),
        docs.filter(col("doc_id") < TextOps.DefaultIncrementalSplitId)))
    }),
    // all three exact cosine shapes: the shipped op picks one from
    // measured stats (plain at this scale), so the other two force their
    // plan on the same body — salted with the 4 join partitions the chooser
    // gives this 4-core session, the kernel over 8 hash blocks
    "text_cosine_pairs_plain" ->
      (() => ranPlansOf(TextOps.textCosinePairs(spark, dir))),
    "text_cosine_pairs_salted" -> (() => ranPlansOf(
      TextOps.cosinePairsOf(docs, 10, 5,
        Some(_ => TextOps.CosinePlan.Salted(4))))),
    "text_cosine_pairs_kernel" -> (() => ranPlansOf(
      TextOps.cosinePairsOf(docs, 10, 5,
        Some(s => TextOps.CosinePlan.Kernel(8, s.vocab.toInt))))))

  headline.foreach { case (name, build) =>
    test(s"golden plan: $name") {
      val actual = build()
      val golden = new File(goldenDir, s"$name.txt")
      if (regen) {
        goldenDir.mkdirs()
        Files.write(golden.toPath, actual.getBytes(StandardCharsets.UTF_8))
        info(s"regenerated ${golden.getPath}")
      } else {
        assert(golden.exists,
          s"golden plan missing for $name — run " +
            "GRAFT_REGEN_GOLDEN_PLANS=1 sbt 'testOnly graft.GoldenPlanSpec'")
        val expected = new String(
          Files.readAllBytes(golden.toPath), StandardCharsets.UTF_8)
        if (actual != expected) {
          // surface the first diverging line for a readable failure
          val (a, e) = (actual.linesIterator.toSeq, expected.linesIterator.toSeq)
          val firstDiff = a.zipAll(e, "<missing>", "<missing>")
            .indexWhere { case (x, y) => x != y }
          fail(s"plan for $name diverged from golden at line ${firstDiff + 1}:\n" +
            s"  golden: ${e.lift(firstDiff).getOrElse("<missing>")}\n" +
            s"  actual: ${a.lift(firstDiff).getOrElse("<missing>")}\n" +
            "If intended, regenerate with GRAFT_REGEN_GOLDEN_PLANS=1 and " +
            "review the diff.\nFull actual plan:\n" + actual)
        }
      }
    }
  }
}
