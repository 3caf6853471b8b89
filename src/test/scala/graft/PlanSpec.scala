package graft

import graft.operators.{EventOps, Multimodal, SimilarityOps, StarOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Physical-plan assertions — the 100 TB design contract: filters reach the
  * parquet scan, dimension joins broadcast, top-k avoids a global sort,
  * aggregations are partial (map-side combine) before the shuffle.
  *
  * The pair miners materialize while they are built (persisted index,
  * eager checkpoint), so the plan of the frame they return is a stub:
  * their cases run the shipped op and assert on the final executed plans
  * of everything it ran. */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private object Plans extends AdaptiveSparkPlanHelper

  /** The formatted final plans of every execution `body` ran. */
  private def ranPlans(body: => Any): String =
    executed(body).plans.mkString("\n")

  /** Each execution's final plan, and separately the plan of every
    * persisted relation those read (directly or through another cache),
    * each relation once. */
  private def ranTrees(run: graft.tools.PlanDump.Capture)
      : (Seq[SparkPlan], Seq[SparkPlan]) = {
    val tops = run.executions.map(_.executedPlan)
    def cachedUnder(p: SparkPlan): Seq[SparkPlan] =
      Plans.collect(p) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
    var cached = tops.flatMap(cachedUnder).distinct
    var next = cached
    while (next.nonEmpty) {
      next = next.flatMap(cachedUnder).distinct.filterNot(cached.contains)
      cached ++= next
    }
    (tops, cached)
  }

  private def documentScans(p: SparkPlan): Int = Plans.collect(p) {
    case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") => f
  }.size

  private def planString(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    val resolved = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // formatted explain includes PushedFilters and node names
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1: shipdate filter pushed to parquet scan + partial aggregation") {
    val s = planString(StarOps.q1Agg(spark, dir))
    assert(s.contains("PushedFilters"), s)
    assert(s.contains("l_shipdate"), "filter column missing from scan info")
    // partial-then-final hash aggregate (map-side combine before shuffle)
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
  }

  test("q1: scan reads only the 5 needed columns of 11") {
    val s = planString(StarOps.q1Agg(spark, dir))
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q3: customer dimension joins as broadcast") {
    val s = planString(StarOps.q3Join(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("q5: all dimension joins broadcast — no shuffle join anywhere") {
    val s = planString(StarOps.q5Region(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"),
      "q5 should broadcast every dimension at this scale:\n" + s)
  }

  test("topk: TakeOrderedAndProject, not a global sort") {
    val s = planString(StarOps.topkOrders(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("sessionize: lag and running-sum windows share at most one user_id shuffle") {
    val s = planString(graft.operators.ExtraOps.sessionize(spark, dir))
    // both window passes have the same partitioning, so they must never
    // introduce a second exchange (0 at this scale: a single input
    // partition already satisfies the distribution)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles:\n$s")
  }

  test("vocab topk: partial agg + TakeOrderedAndProject, no global sort") {
    val s = planString(graft.operators.TextOps.vocabTopK(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
  }

  test("catalog enrichment join broadcasts the catalog side") {
    val s = planString(EventOps.j2Enrich(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("knn: query side broadcasts (nested-loop on broadcast, corpus scanned once)") {
    val s = planString(SimilarityOps.knnBruteForce(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("ivf: centroid assignment is map-only — the only shuffle is the final top-k window") {
    val s = planString(SimilarityOps.knnIvf(spark, dir))
    // the corpus must reach the cell join without being shuffled: exactly one
    // hash-partitioned exchange in the whole plan (the per-query rank window);
    // BroadcastExchange (the query side) is fine and not counted
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"expected <=1 shuffle exchange, got $shuffles:\n$s")
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("contamination check: benchmark set broadcasts as a semi join") {
    val s = planString(graft.operators.TextOps.contaminationCheck(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(s.contains("LeftSemi"), s)
  }

  test("normalize/redact/quantize are map-only: no exchange anywhere") {
    Seq(graft.operators.TextOps.normalizeText(spark, dir),
        graft.operators.TextOps.redactPii(spark, dir),
        SimilarityOps.quantizeEmbeddings(spark, dir)).foreach { df =>
      val s = planString(df)
      assert(!s.contains("Exchange"), s)
    }
  }

  test("repetition scoring: two keyed aggregations, no join") {
    val s = planString(graft.operators.TextOps.textRepetition(spark, dir))
    assert(!s.contains("Join"), s)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 2, s"expected <=2 shuffles, got $shuffles:\n$s")
  }

  test("llm pipeline: bench set broadcasts, no cartesian, bounded shuffles") {
    val s = planString(graft.operators.TextOps.llmPipeline(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 4, s"expected <=4 shuffles, got $shuffles:\n$s")
  }

  test("quality bins: one lang shuffle, no self-join of the corpus") {
    val s = planString(graft.operators.TextOps.qualityBins(spark, dir))
    assert(!s.contains("Join"), s)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles:\n$s")
  }

  test("sequence packing: one shard shuffle, no global single-partition sort") {
    val s = planString(graft.operators.TextOps.packSequences(spark, dir))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles:\n$s")
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("embedding near-dup: candidates keyed on (label, bucket) — never a label-only block") {
    val s = planString(SimilarityOps.embeddingNearDup(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    // the self-join must be an equi-join on BOTH label and bucket — a
    // label-only key is the quadratic hot-block shape this plan forbids
    val leftKeys = s.linesIterator.map(_.trim)
      .find(_.startsWith("Left keys")).getOrElse("")
    assert(leftKeys.contains("[2]"), s"expected a 2-key equi-join: $leftKeys\n$s")
    assert(leftKeys.contains("label") && leftKeys.contains("bucket"), leftKeys)
  }

  test("correlated EXISTS decorrelates to a semi join (no per-row subquery)") {
    val s = planString(graft.operators.ExtraOps.q4Exists(spark, dir))
    assert(s.contains("LeftSemi") || s.contains("SemiJoin"), s)
  }

  test("q2: correlated min-cost subquery decorrelates to aggregate + join") {
    val df = StarOps.q2MinCost(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("scalar-subquery"), optimized)
    assert(optimized.contains("Join"), optimized)
    // the p_size filter must reach the part scan
    val s = planString(df)
    assert(s.contains("PushedFilters"), s)
  }

  test("q7: nation dims broadcast; shipdate bound pushed to the lineitem scan") {
    val s = planString(StarOps.q7NationVolume(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(s.contains("l_shipdate"), s)
  }

  test("correlated scalar subquery decorrelates to aggregate + join") {
    val df = graft.operators.ExtraOps.q17ScalarSubquery(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    // after decorrelation there is no Subquery node left in the plan
    assert(!optimized.contains("scalar-subquery"), optimized)
    assert(optimized.contains("Join"), optimized)
  }

  test("bucketed fact-fact join runs without a shuffle exchange") {
    val spark2 = spark
    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_ord")
    // the in-memory catalog forgets tables across JVMs but their files
    // remain — clear the locations or CREATE TABLE AS SELECT refuses
    val wh = new java.io.File("/tmp/graft-test-warehouse")
    Seq("b_li", "b_ord").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_li")
    spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_ord")
    // disable broadcast so the join must pick a shuffle-or-bucketed plan
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val j = spark.table("b_li").join(spark.table("b_ord"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val s = planString(j)
      // co-located buckets: no Exchange feeds the join
      assert(!s.contains("Exchange"), s)
      assert(j.count() > 0)
    }
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("events scan prunes columns for the pivot") {
    val s = planString(EventOps.k1Pivot(spark, dir))
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), readSchema)
    assert(!readSchema.contains("value"), readSchema)
  }

  test("cube: Expand-based grouping sets — one scan, partial aggregation") {
    val s = planString(graft.operators.ExtraOps.cubeAgg(spark, dir))
    // all 4 grouping sets come from ONE scan via Expand, never a union of
    // per-set re-scans; the aggregate is partial-then-final as usual
    assert(s.contains("Expand"), s)
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles:\n$s")
  }

  test("range-frame windows: all four windows share one custkey shuffle") {
    val s = planString(graft.operators.ExtraOps.windowRangeFrames(spark, dir))
    // same partition key throughout → one exchange, re-sorted per frame
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles:\n$s")
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("latest-per-key: one shuffle, filter applied on the window output") {
    val s = planString(graft.operators.ExtraOps.latestPerKey(spark, dir))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles:\n$s")
    assert(!s.contains("Join"), s)
  }

  test("lateral top-n decorrelates to one window — no per-row subquery") {
    val s = planString(graft.operators.ExtraOps.lateralTopN(spark, dir))
    assert(s.contains("Window"), s)
    assert(!s.contains("CartesianProduct"), s)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 2, s"expected <=2 shuffles, got $shuffles:\n$s")
  }

  test("lm score: vocabulary-bounded LM tables broadcast to the probe") {
    val s = ranPlans(TextOps.textLmScore(spark, dir))
    // the per-doc probe must join the (tiny) bigram/context tables as
    // broadcasts — a shuffle join here would re-shuffle the corpus twice
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("cosine pairs: inverted-index equi-joins only — no cartesian anywhere") {
    val run = executed(TextOps.textCosinePairs(spark, dir))
    val s = run.plans.mkString("\n")
    assert(!s.contains("CartesianProduct"), s)
    // the only nested-loop join is the one-row corpus-count broadcast of
    // the tf→df→cap chain, and that chain ran once: inside the ONE cached
    // index both self-join sides and the norm derivation read
    val (tops, cached) = ranTrees(run)
    val nestedLoops = (tops ++ cached).map(p => Plans.collect(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.size).sum
    assert(nestedLoops <= 1, s)
  }

  test("cosine pairs: the plain expansion spreads one side — one doc_id REPARTITION_BY_NUM exchange over the cached index") {
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.functions.{col, lit, repeat}
    // the documents padded with a column the index never reads: the file
    // size fans the cached index out over 4 doc_id partitions while the
    // expansion asks for 2, so the a side's spread cannot collapse
    val tmp = java.nio.file.Files.createTempDirectory("graft-cosine-spread")
    try {
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("pad", repeat(col("doc_id").cast("string"), lit(80)))
        .write.option("compression", "none")
        .parquet(s"$tmp/documents.parquet")
      val (tops, _) = ranTrees(executed(TextOps.textCosinePairs(spark, tmp.toString)))
      val pairJob = tops.last
      def spread(p: SparkPlan) = p match {
        case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM
        case _ => false
      }
      // every read of a spread, a reused one included
      def spreads(p: SparkPlan): Int = Plans.collect(p) {
        case e if spread(e) => e
        case r: ReusedExchangeExec if spread(r.child) => r
      }.size
      assert(spreads(pairJob) === 1, pairJob.treeString)
      // the spread side streams the term join (the expansion); its
      // broadcast b side is the cached index itself
      val expansion = Plans.collect(pairJob) {
        case j: BroadcastHashJoinExec
            if j.leftKeys.flatMap(_.references).exists(_.name == "term") => j
      }
      assert(expansion.size === 1, pairJob.treeString)
      assert(expansion.head.buildSide === BuildRight, pairJob.treeString)
      assert(spreads(expansion.head.left) === 1, pairJob.treeString)
      assert(Plans.collect(expansion.head.right) {
        case s: InMemoryTableScanExec => s
      }.nonEmpty, pairJob.treeString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("cosine pairs: the salted block join stays equi-keyed — no cartesian, blocks ride the join key") {
    // salted is not the shape the shipped op picks at this scale: force it,
    // with the 4 join partitions the chooser gives this 4-core session
    val s = ranPlans(TextOps.cosinePairsOf(
      EventOps.tbl(spark, dir, "documents"), 10, 5,
      Some(_ => TextOps.CosinePlan.Salted(4))))
    // the salt must widen the JOIN KEY (term, i, j), never degrade the
    // join to a cartesian with a block residual (a tiny corpus may
    // legitimately broadcast one side — still equi-keyed)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin") ||
      s.contains("BroadcastHashJoin"), s)
  }

  test("q19: the brand/size disjunction pushes into the part scan") {
    val s = planString(StarOps.q19Disjunct(spark, dir))
    // the OR-of-conjunctions must reach PushedFilters as an Or — a
    // disjunction is not an excuse for an unfiltered dimension scan
    val scanInfo = s.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(scanInfo.contains("Or"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("semantic dedup: candidates are (cell, bucket) equi-joined — no cartesian, no label-block square") {
    val s = ranPlans(SimilarityOps.semanticDedup(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    // the survivor probe is an outer join against the DISTINCT dropped set
    assert(s.contains("LeftOuter") || s.contains("RightOuter"), s)
  }

  test("q9: part name filter pushes into the scan; nation broadcasts") {
    val s = planString(StarOps.q9ProfitNationYear(spark, dir))
    val scanInfo = s.linesIterator.filter(_.contains("PushedFilters")).mkString
    // contains() compiles to StringContains — it must reach the part scan,
    // not sit as a post-scan Filter over an unfiltered dimension read
    assert(scanInfo.contains("StringContains"), s)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q13: ON-clause filter keeps the join LEFT OUTER (order-less customers survive)") {
    val s = planString(StarOps.q13OrderCountDist(spark, dir))
    assert(s.contains("LeftOuter"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q20: supplier probe is a semi join, threshold never materializes a fraction") {
    val s = planString(StarOps.q20ExcessShippers(spark, dir))
    assert(s.contains("LeftSemi"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q10: top-20 plans as TakeOrderedAndProject, nation broadcasts") {
    val s = planString(StarOps.q10Returned(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("window nav: all offset columns share ONE partition shuffle") {
    val s = planString(graft.operators.ExtraOps.windowNav(spark, dir))
    // lag/lead/first/row_number/count all ride one (o_custkey) exchange —
    // count node-detail headers only (the tree section prints each node a
    // second time as "+- Exchange (n)")
    val exchanges = s.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n$s")
  }

  test("grouping sets: four set shapes cost one Expand + one agg pass, not four scans") {
    val s = planString(graft.operators.ExtraOps.groupingSetsAgg(spark, dir))
    assert(s.contains("Expand"), s)
    assert(s.linesIterator.count(_.matches("\\(\\d+\\) Scan parquet.*")) <= 1, s)
  }

  test("knn rerank: feature fetch broadcasts the shortlist — corpus never shuffles") {
    val s = planString(SimilarityOps.knnRerank(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q21: per-order totals ride windows — lineitem scanned ONCE, both windows one exchange") {
    // the self-join formulation computed the lineitem⋈orders partial-agg
    // subtree twice (AQE reused only the orders broadcast, never the
    // shuffle); the window rewrite makes the single scan a structural
    // property of the plan, not an optimizer favor
    val s = planString(graft.operators.ExtraOps.q21WaitingSupplier(spark, dir))
    val lineitemScans = s.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans === 1, s"expected 1 lineitem scan, got $lineitemScans:\n$s")
    // count(*) and sum(late) share ONE Window node (one sort, one shuffle)
    assert(s.linesIterator.count(_.matches("\\(\\d+\\) Window.*")) === 1, s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("simhash pairs: banded bucket equi-join — no cartesian, no all-pairs") {
    val s = ranPlans(TextOps.simhashPairs(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("mm perceptual near-dup: banded bucket equi-join — no cartesian, no all-pairs") {
    val s = ranPlans(Multimodal.perceptualNearDup(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("substring spans: digest-keyed equi-join over the df-capped index — no cartesian") {
    val s = ranPlans(TextOps.dedupSubstringSpans(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("cdc chunks: chunk-key equi-join over the df-capped chunk sets — no cartesian") {
    val s = ranPlans(TextOps.dedupCdcChunks(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("per-doc artifact kernels: no Window node anywhere in the cdc/containment dataflows") {
    // the round-10 kernels moved chunking/signatures/window-hashing into
    // the row — a Window (doc-partitioned sort of the token stream) in
    // these plans means the relational formulation leaked back in
    val cdc = ranPlans(TextOps.dedupCdcChunks(spark, dir))
    assert(!cdc.contains("Window"), s"cdc regained a window exchange:\n$cdc")
    val ct = ranPlans(TextOps.dedupContainment(spark, dir))
    assert(!ct.contains("Window"), s"containment regained a window exchange:\n$ct")
    // simhash signatures are map-only: a single stage over the scan — no
    // exchange at all before the (doc_id, sig) projection
    val sig = planString(graft.operators.TextOps.simhashSig(spark, dir))
    assert(!sig.contains("Exchange"),
      s"simhash signature derivation regained an exchange:\n$sig")
    assert(!sig.contains("Generate"),
      s"simhash signature derivation regained a token explode:\n$sig")
  }

  test("runtime bloom filter prunes the fact side of a non-broadcast join") {
    // The 100 TB fact⋈fact shape: when the selective side is too big to
    // broadcast, Spark 4's runtime bloom filter (default-on) builds a
    // bloom_filter_agg over the filtered side's join keys and row-prunes
    // the big scan before the shuffle. Local datasets never cross the
    // default 10 GB application-side threshold, so the thresholds are
    // lowered HERE only — the capability, not a config trick, is what the
    // engine relies on at scale.
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevScan = conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      import org.apache.spark.sql.functions._
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 450000)
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val s = planString(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey").agg(sum("l_quantity")))
      assert(s.contains("bloom_filter_agg"), s)
      assert(s.contains("might_contain"), s)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevScan.foreach(conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", _))
    }
  }

  test("pq knn: code index joins broadcast queries — corpus never shuffle-joined") {
    val s = planString(SimilarityOps.knnPq(spark, dir))
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("incremental dedup: bucket/hash equi-joins only — fresh never crosses the corpus") {
    // audit the lazily-built Of-variant: the dir-based entry localCheckpoints its
    // result, which would truncate the lineage this test inspects
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val s = planString(graft.operators.TextOps.dedupIncrementalOf(
      docs.filter("doc_id >= 250"), docs.filter("doc_id < 250")))
    assert(!s.contains("CartesianProduct"), s)
    // both match paths are equi-joins (md5 hash; band bucket); the
    // verify join keys on candidate ids, never expands all-pairs
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("pq knn: ADC scores via the per-query lookup table, not per-pair dots") {
    val s = planString(SimilarityOps.knnPq(spark, dir))
    // the lut (m×nCodes dot products) is projected on the broadcast side,
    // once per query row; each candidate pair then reads it via
    // element_at — the classic ADC factorization
    assert(s.contains("lut"), s)
    assert(s.contains("element_at"), s)
  }

  test("native as-of plans as the custom exec: merge pass, no window state") {
    val s = planString(graft.operators.ExtraOps.asofErrorSignup(spark, dir))
    // the custom node is planned (strategy fired), children are keyed
    // exchanges + sorts, and no union or running window appears
    assert(s.contains("AsOfJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("Window"), s)
    assert(!s.contains("Union"), s)
  }

  test("as-of pushdown rule: left-only filter sinks below the custom node") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    import org.apache.spark.sql.functions.col
    val df = graft.operators.ExtraOps.asofErrorSignup(spark, dir)
      .filter(col("event_id") < 100)
    val opt = df.queryExecution.optimizedPlan
    val asofNodes = opt.collect { case a: graft.plans.AsOfJoinPlan => a }
    assert(asofNodes.nonEmpty, opt.toString)
    // the predicate reached the LEFT subtree (standard pushdown stops at
    // an unknown node; PushFilterThroughAsOf carries it through) …
    assert(asofNodes.head.left.exists {
      case f: LFilter =>
        f.condition.references.exists(_.name == "event_id")
      case _ => false
    }, opt.toString)
    // … and no residual filter on it remains above the node
    assert(!opt.exists {
      case f: LFilter => f.child.isInstanceOf[graft.plans.AsOfJoinPlan] &&
        f.condition.references.exists(_.name == "event_id")
      case _ => false
    }, opt.toString)
  }

  test("ts resample: user-keyed shuffles only, never a cartesian grid") {
    val s = planString(graft.operators.ExtraOps.tsResample(spark, dir))
    // the grid must come from the per-user min/max aggregate (sequence
    // explode is map-side on that tiny relation), never a corpus × grid
    // cartesian; every exchange is keyed
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("persisted miners: ngram jaccard and lm score scan documents once and read the cache in every consumer") {
    Seq("dedup_ngram_jaccard" -> (() => TextOps.dedupNgramJaccard(spark, dir)),
        "text_lm_score" -> (() => TextOps.textLmScore(spark, dir)))
      .foreach { case (name, op) =>
        val (tops, cached) = ranTrees(executed(op()))
        val all = (tops ++ cached).map(_.treeString).mkString("\n")
        assert(tops.nonEmpty, name)
        // every execution reads the persisted relation, never the corpus
        tops.foreach { p =>
          assert(documentScans(p) === 0, s"$name rescans documents:\n$p")
          assert(Plans.collect(p) { case s: InMemoryTableScanExec => s }.nonEmpty,
            s"$name reads no persisted relation:\n$p")
        }
        // and the corpus is read once, by the cache that holds it
        assert((tops ++ cached).map(documentScans).sum === 1, s"$name:\n$all")
      }
  }

  test("token budget: one documents scan — the level histogram reads it through a ReusedExchange") {
    // both references of the fanned-out scored scan root at the same
    // scan → exchange subtree, and the final plan reads it once
    val (tops, _) = ranTrees(executed(TextOps.tokenBudget(spark, dir).collect()))
    val s = tops.map(_.treeString).mkString("\n")
    assert(tops.map(documentScans).sum === 1, s)
    assert(tops.map(p => Plans.collect(p) { case r: ReusedExchangeExec => r }.size)
      .sum >= 1, s)
  }

  test("wide sink: the partitioned write sorts once — its clustering exchange adds no Sort") {
    import graft.streaming.StreamPipeline
    import org.apache.spark.sql.execution.SortExec
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-wide-sort")
    try {
      val run = executed(StreamPipeline.runBatch(Fixtures.observations.toDF(),
        Fixtures.catalog, new StreamPipeline.ParquetSinks(s"$out/sinks"),
        s"$out/ckpt", batchId = 0L))
      val wide = run.executions.map(_.executedPlan)
        .filter(_.toString.contains(s"$out/sinks/wide"))
      assert(wide.size === 1)
      // the sortWithinPartitions on (network, feature, datetime) already
      // satisfies the writer's ordering by the partition columns
      assert(Plans.collect(wide.head) { case s: SortExec => s }.size === 1,
        wide.head.treeString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }
}
