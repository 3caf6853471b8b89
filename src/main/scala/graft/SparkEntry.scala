package graft

import graft.catalog.MetadataCatalog
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §2/§7 and FIXTURES.md §4.
  *
  * Every implemented operator has a `queries` entry; SQL-expressible ones
  * have a DuckDB oracle in `oracleSql` (column names and types aligned).
  * Approximate operators (LSH variants) are rows-only checked and verified
  * against their exact twins in ScalaTest instead.
  *
  * == Determinism note (cross-engine hash matching) ==
  * Spark and DuckDB accumulate doubles in different orders, so any output
  * derived from large double sums is only determined to ~1e-5 absolute —
  * and fixed-decimal data sits *exactly on* rounding boundaries, so
  * `round(sum(...), 2)` can legally differ between engines. The queries
  * therefore emit:
  *  - sums of d-decimal data as exact recovered integers
  *    (`round(sum*10^d) :: long` — error ≪ 0.5 ⇒ both engines identical);
  *  - ratios of integers as floored basis points (`⌊10^4·p/q⌋` — exact
  *    when the division is exact, strictly interior otherwise);
  *  - thresholds as pure integer comparisons where possible;
  *  - genuinely continuous values (cosine) as rounded doubles (boundary
  *    collision probability ~1e-10, and both engines fold in index order).
  */
object SparkEntry {

  /** Flagship: the reference's full observation pipeline (normalize →
    * catalog join → coerce → route → feature split) over the events stream
    * viewed as observations. Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Pipeline.featureObservations(Pipeline.pairRelation(
      EventOps.eventsAsObservations(spark, dir), EventOps.eventsCatalog))
  }

  /** One entry per implemented operator from SURVEY.md §2 + extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference operator inventory over `events` ---
    "s2_parse" -> ((s, d) => EventOps.s2Parse(s, d)),
    "p1_normalize" -> ((s, d) => EventOps.p1Normalize(s, d)),
    "j1_validate" -> ((s, d) => EventOps.j1Validate(s, d)),
    "j2_enrich" -> ((s, d) => EventOps.j2Enrich(s, d)),
    "c4_coerce" -> ((s, d) => EventOps.c4Coerce(s, d)),
    "r1_route" -> ((s, d) => EventOps.r1Route(s, d)),
    "a1_unpivot" -> ((s, d) => EventOps.a1Unpivot(s, d)),
    "k1_pivot" -> ((s, d) => EventOps.k1Pivot(s, d)),
    "k2_deadletter" -> ((s, d) => EventOps.k2DeadLetter(s, d)),
    "g1_alert_dedup" -> ((s, d) => EventOps.g1AlertDedup(s, d)),
    "x2_stream_window" -> ((s, d) => EventOps.x2StreamWindow(s, d)),
    "pipeline_pairs" -> ((s, d) => EventOps.pipelinePairs(s, d)),
    // --- relational coverage over the star schema ---
    "q1_agg" -> ((s, d) => StarOps.q1Agg(s, d)),
    "q3_join" -> ((s, d) => StarOps.q3Join(s, d)),
    "q5_region" -> ((s, d) => StarOps.q5Region(s, d)),
    "q2_min_cost" -> ((s, d) => StarOps.q2MinCost(s, d)),
    "q7_nation_volume" -> ((s, d) => StarOps.q7NationVolume(s, d)),
    "w1_window" -> ((s, d) => StarOps.w1Window(s, d)),
    "set_ops" -> ((s, d) => StarOps.setOps(s, d)),
    "topk_orders" -> ((s, d) => StarOps.topkOrders(s, d)),
    "s3_catalog_join" -> ((s, d) => StarOps.s3CatalogJoin(s, d)),
    "rollup_agg" -> ((s, d) => ExtraOps.rollupAgg(s, d)),
    "semi_join" -> ((s, d) => ExtraOps.semiJoin(s, d)),
    "asof_join" -> ((s, d) => ExtraOps.asofErrorSignup(s, d)),
    "asof_join_native" -> ((s, d) => ExtraOps.asofErrorSignup(s, d)),
    "range_join" -> ((s, d) => ExtraOps.rangeJoinEvents(s, d)),
    "sessionize" -> ((s, d) => ExtraOps.sessionize(s, d)),
    "sql_q6" -> ((s, d) => ExtraOps.sqlQ6(s, d)),
    "udaf_wavg" -> ((s, d) => ExtraOps.weightedAvgPrice(s, d)),
    "pct_agg" -> ((s, d) => ExtraOps.percentileAgg(s, d)),
    "pct_approx" -> ((s, d) => ExtraOps.percentileApproxChecked(s, d)),
    "q4_exists" -> ((s, d) => ExtraOps.q4Exists(s, d)),
    "q17_scalar_subq" -> ((s, d) => ExtraOps.q17ScalarSubquery(s, d)),
    "topk_per_key" -> ((s, d) => ExtraOps.topkPerKey(s, d)),
    "cube_agg" -> ((s, d) => ExtraOps.cubeAgg(s, d)),
    "stats_agg" -> ((s, d) => ExtraOps.statsAgg(s, d)),
    "lateral_topn" -> ((s, d) => ExtraOps.lateralTopN(s, d)),
    "w2_window_range" -> ((s, d) => ExtraOps.windowRangeFrames(s, d)),
    "listagg_nations" -> ((s, d) => ExtraOps.listAggCustomers(s, d)),
    "latest_per_key" -> ((s, d) => ExtraOps.latestPerKey(s, d)),
    "q18_big_orders" -> ((s, d) => ExtraOps.q18BigOrders(s, d)),
    "q21_waiting" -> ((s, d) => ExtraOps.q21WaitingSupplier(s, d)),
    "q10_returned" -> ((s, d) => StarOps.q10Returned(s, d)),
    "q8_market_share" -> ((s, d) => StarOps.q8MarketShare(s, d)),
    "q11_important_parts" -> ((s, d) => StarOps.q11ImportantParts(s, d)),
    "q15_top_supplier" -> ((s, d) => StarOps.q15TopSupplier(s, d)),
    "q22_idle_balance" -> ((s, d) => StarOps.q22IdleBalance(s, d)),
    "q14_promo_bp" -> ((s, d) => StarOps.q14PromoBp(s, d)),
    "q16_supplier_cnt" -> ((s, d) => StarOps.q16SupplierCnt(s, d)),
    "q19_disjunctive" -> ((s, d) => StarOps.q19Disjunct(s, d)),
    "q9_profit" -> ((s, d) => StarOps.q9ProfitNationYear(s, d)),
    "q12_late_priority" -> ((s, d) => StarOps.q12LatePriority(s, d)),
    "q13_order_dist" -> ((s, d) => StarOps.q13OrderCountDist(s, d)),
    "q20_excess_shippers" -> ((s, d) => StarOps.q20ExcessShippers(s, d)),
    "w3_window_nav" -> ((s, d) => ExtraOps.windowNav(s, d)),
    "full_outer_recon" -> ((s, d) => ExtraOps.fullOuterRecon(s, d)),
    "grouping_sets" -> ((s, d) => ExtraOps.groupingSetsAgg(s, d)),
    "ts_resample" -> ((s, d) => ExtraOps.tsResample(s, d)),
    "salted_agg" -> ((s, d) => ExtraOps.saltedAgg(s, d)),
    "approx_distinct" -> ((s, d) => ExtraOps.approxDistinctChecked(s, d)),
    // --- dedup family over `documents` ---
    "dedup_exact" -> ((s, d) => TextOps.dedupExact(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => TextOps.dedupNgramJaccard(s, d)),
    "dedup_clusters" -> ((s, d) => TextOps.dedupClusters(s, d)),
    "dedup_minhash_sig" -> ((s, d) => TextOps.minhashSignatures(s, d)),
    "dedup_simhash" -> ((s, d) => TextOps.simhash(s, d)),
    "dedup_lsh_pairs" -> ((s, d) => TextOps.lshNearDupPairs(s, d)),
    "dedup_simhash_pairs" -> ((s, d) => TextOps.simhashPairs(s, d)),
    "dedup_incremental" -> ((s, d) => TextOps.dedupIncremental(s, d)),
    "dedup_incremental_contained" ->
      ((s, d) => TextOps.dedupIncremental(s, d, containment = true)),
    "dedup_report" -> ((s, d) => TextOps.dedupReport(s, d)),
    "dedup_clusters_report" ->
      ((s, d) => TextOps.dedupClustersFromReport(s, d)),
    "dedup_report_pairs" ->
      ((s, d) => TextOps.dedupReportFromPairs(s, d,
        TextOps.dedupNgramJaccard(s, d).select("doc_a", "doc_b"))),
    "dedup_cdc_chunks" -> ((s, d) => TextOps.dedupCdcChunks(s, d)),
    "dedup_substring_spans" -> ((s, d) => TextOps.dedupSubstringSpans(s, d)),
    "dedup_containment" -> ((s, d) => TextOps.dedupContainment(s, d)),
    "dedup_keep_best" -> ((s, d) => TextOps.dedupKeepBest(s, d)),
    // --- text analysis ---
    "text_tokens" -> ((s, d) => TextOps.textTokens(s, d)),
    "text_quality" -> ((s, d) => TextOps.textQuality(s, d)),
    "text_langid" -> ((s, d) => TextOps.textLangId(s, d)),
    "text_fingerprint" -> ((s, d) => TextOps.textFingerprint(s, d)),
    "text_corpus_stats" -> ((s, d) => TextOps.corpusStats(s, d)),
    "text_sample_split" -> ((s, d) => TextOps.sampleSplit(s, d)),
    "text_vocab_topk" -> ((s, d) => TextOps.vocabTopK(s, d)),
    "text_contamination" -> ((s, d) => TextOps.contaminationCheck(s, d)),
    "text_normalize" -> ((s, d) => TextOps.normalizeText(s, d)),
    "text_repetition" -> ((s, d) => TextOps.textRepetition(s, d)),
    "text_redact" -> ((s, d) => TextOps.redactPii(s, d)),
    "text_pack" -> ((s, d) => TextOps.packSequences(s, d)),
    "text_tfidf" -> ((s, d) => TextOps.textTfidf(s, d)),
    "text_cosine_pairs" -> ((s, d) => TextOps.textCosinePairs(s, d)),
    "text_quality_bins" -> ((s, d) => TextOps.qualityBins(s, d)),
    "text_lm_score" -> ((s, d) => TextOps.textLmScore(s, d)),
    "text_stratified_sample" -> ((s, d) => TextOps.stratifiedSample(s, d)),
    "text_token_budget" -> ((s, d) => TextOps.tokenBudget(s, d)),
    "text_domain_mix" -> ((s, d) => TextOps.domainMix(s, d)),
    "text_shuffle" -> ((s, d) => TextOps.shuffleShard(s, d)),
    "llm_pipeline" -> ((s, d) => TextOps.llmPipeline(s, d)),
    // --- similarity search over `embeddings` ---
    "sim_knn" -> ((s, d) => SimilarityOps.knnBruteForce(s, d)),
    "sim_knn_lsh" -> ((s, d) => SimilarityOps.knnLsh(s, d)),
    "sim_knn_ivf" -> ((s, d) => SimilarityOps.knnIvf(s, d)),
    "sim_knn_rerank" -> ((s, d) => SimilarityOps.knnRerank(s, d)),
    "sim_knn_pq" -> ((s, d) => SimilarityOps.knnPq(s, d)),
    "sim_cluster_assign" -> ((s, d) => SimilarityOps.cellAssignments(s, d)),
    "sim_kmeans_step" -> ((s, d) => SimilarityOps.kmeansStep(s, d)),
    "sim_kmeans_train" -> ((s, d) => SimilarityOps.kmeansTrain(s, d)),
    "sim_embed_neardup" -> ((s, d) => SimilarityOps.embeddingNearDup(s, d)),
    "sim_semantic_dedup" -> ((s, d) => SimilarityOps.semanticDedup(s, d)),
    "sim_normalize" -> ((s, d) => SimilarityOps.normalizeEmbeddings(s, d)),
    // qvec rendered as a CSV string: the driver's comparer sorts pandas
    // frames by every column and an array-typed column is unhashable
    // there (CORRECTNESS_r03 `sim_quantize` err) — the library API
    // (`quantizeEmbeddings`) still returns the typed array<long>
    "sim_quantize" -> ((s, d) =>
      SimilarityOps.quantizeEmbeddings(s, d).select(col("vec_id"),
        array_join(transform(col("qvec"), x => x.cast("string")), ",")
          .as("qvec_csv"),
        col("scale"))),
    // --- multimodal metadata ---
    "mm_meta" -> ((s, d) => Multimodal.mmMeta(s, d)),
    "mm_near_dup" -> ((s, d) => Multimodal.perceptualNearDup(s, d)),
    "mm_near_dup_seeded" ->
      ((s, d) => Multimodal.perceptualNearDupSeeded(s, d)),
    "mm_near_dup_widened" ->
      ((s, d) => Multimodal.perceptualNearDupWidened(s, d)),
    "mm_frame_sample" -> ((s, d) => Multimodal.mmFrameSample(s, d)),
    "mm_resize" -> ((s, d) => Multimodal.mmResize(s, d)),
    "mm_features" -> ((s, d) => Multimodal.mmFeatures(s, d)))

  // ---------------------------------------------------------------------------
  // DuckDB oracle SQL (same parquet tables, bare table names)
  // ---------------------------------------------------------------------------

  private val kExpr = "CAST(json_extract_string(props, '$.k') AS BIGINT)"

  /** Shared IVF replay CTEs (cell assignment, nProbe=2 probe set, in-cell
    * exact-cosine ranking) — one definition for `sim_knn_ivf` and the
    * `sim_knn_rerank` composition so the shortlist can never diverge. */
  private val ivfRankedCtes: String =
    """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
      """n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e), """ +
      """c AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cn FROM n WHERE vec_id < 16), """ +
      """s AS (SELECT n.vec_id, c.cid, list_dot_product(n.emb, c.cemb) / (n.nrm * c.cn) AS sim """ +
      """FROM n CROSS JOIN c), """ +
      """r AS (SELECT vec_id, cid, row_number() OVER """ +
      """(PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s), """ +
      """a AS (SELECT vec_id, cid AS cell FROM r WHERE rn = 1), """ +
      """probe AS (SELECT vec_id AS q_id, cid AS cell FROM r WHERE rn <= 2 AND vec_id < 10), """ +
      """scored AS (SELECT p.q_id, x.vec_id, """ +
      """list_dot_product(qn.emb, xn.emb) / (qn.nrm * xn.nrm) AS c """ +
      """FROM probe p JOIN a x ON p.cell = x.cell AND x.vec_id <> p.q_id """ +
      """JOIN n qn ON qn.vec_id = p.q_id JOIN n xn ON xn.vec_id = x.vec_id), """ +
      """ranked AS (SELECT q_id, vec_id, c, row_number() OVER """ +
      """(PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank FROM scored)"""

  /** Per-lang quality deciles (the `text_quality_bins` oracle) — shared
    * verbatim by `text_stratified_sample`, which samples the same strata. */
  private val qualityBinsSql: String =
    """WITH d AS (SELECT doc_id, lang, length(text) AS nc, string_split(text, ' ') AS w FROM documents), """ +
      s"""q AS (SELECT doc_id, lang, CAST(least(5000, len(w) * 25) + """ +
      s"""floor(5000.0 * len(list_filter(w, x -> x IN (${TextOps.stopwords.map(s => s"'$s'").mkString(",")}))) / len(w)) AS BIGINT) AS quality_bp FROM d) """ +
      """SELECT doc_id, lang, quality_bp, CAST(ntile(10) OVER """ +
      """(PARTITION BY lang ORDER BY quality_bp, doc_id) AS BIGINT) AS decile FROM q"""

  /** The quality score over `w` (split text) in DuckDB SQL — must mirror
    * `TextOps.qualityBpOf`; shared by every quality-derived oracle. */
  private val qualityBpSql: String =
    s"CAST(least(5000, len(w) * 25) + floor(5000.0 * len(list_filter(w, " +
      s"x -> x IN (${TextOps.stopwords.map(s => s"'$s'").mkString(",")}))) " +
      "/ len(w)) AS BIGINT)"

  /** srpBucket's deterministic hyperplanes rendered as DuckDB SQL over an
    * `emb` double-list column (64-dim embeddings per TESTDATA.md); same
    * index-order double fold as the Spark side via list_dot_product.
    * Shared by sim_embed_neardup and sim_semantic_dedup. */
  private lazy val srpBucketSql: String = (0 until 8).map { p =>
    val w = (0 until 64)
      .map(i => SimilarityOps.planeWeightScala(p, i).toDouble)
      .mkString("[", ",", "]")
    s"CASE WHEN list_dot_product(emb, $w) > 0 THEN ${1L << p} ELSE 0 END"
  }.mkString(" + ")

  /** weakHash(s) rendered in DuckDB SQL (must mirror TextOps.weakHash). */
  private def weakHashSql(s: String): String =
    s"7*length($s) + 31*ascii($s) + 17*ascii($s[length($s):length($s)])" +
      s" + list_sum([ascii($s[j:j]) for j in range(1, length($s)+1)])"

  private val shinglesSql =
    "list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])"

  /** The as-of oracle — shared by the two declared names of the one
    * as-of query (`asof_join`, `asof_join_native`). */
  private val asofOracleSql: String =
    """SELECT e.event_id, e.user_id, e.ts, s.ts AS signup_ts, """ +
      """epoch_us(e.ts) - epoch_us(s.ts) AS gap_us """ +
      """FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e """ +
      """ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s """ +
      """ON e.user_id = s.user_id AND e.ts >= s.ts"""

  /** Word-bigram comprehension over `w` (split text) in DuckDB SQL — must
    * mirror `TextOps.bigrams`; ONE definition shared by every
    * bigram-based oracle (repetition, cosine pairs, LM score) so the term
    * space cannot silently drift from the Spark side. */
  private val bigramsSql =
    "[array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]"

  /** Shared CTEs + threshold condition for the exact ngram near-dup pair
    * graph (dedup_ngram_jaccard and dedup_clusters build on the same). */
  private val ngramPairCtes =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
      s"""s AS (SELECT doc_id, $shinglesSql AS sh FROM d WHERE len(w) >= 3)"""
  /** `common >= t*union` rendered from the library default
    * (TextOps.DefaultNearDupThreshold): the dyadic default renders as
    * exact integer math, any other value as the generic float form — the
    * oracle can never silently desync from the Scala operators'
    * default (round-7 ADVICE). */
  private[graft] def jaccardCondSql(common: String, union: String,
      t: Double = TextOps.DefaultNearDupThreshold): String = {
    // Exactness contract (round-7 ADVICE): the Spark operators compare
    // common/union via DOUBLE division against t, so the oracle must land
    // on the same boundary. For a dyadic t = m/2^k (k ≤ 10) the integer
    // cross-multiplication below is exact, and the double division cannot
    // disagree with it: distinct integer ratios c/u differ from m/d by
    // ≥ 1/(u·d), orders of magnitude above double rounding error at any
    // realistic corpus size. A NON-dyadic default would reintroduce the
    // float-boundary divergence with no exact rendering on either side —
    // fail at first use so the change is made deliberately (re-derive the
    // Spark-side predicate AND this rendering in exact rational form).
    val scaled = t * 1024.0
    require(scaled == math.floor(scaled) && t > 0 && t <= 1,
      s"near-dup threshold $t is not dyadic (m/1024): re-derive the " +
        "Spark predicate and jaccardCondSql together in exact integer form")
    val m = scaled.toLong
    val g = java.math.BigInteger.valueOf(m)
      .gcd(java.math.BigInteger.valueOf(1024L)).longValueExact()
    val (n, d) = (m / g, 1024L / g)
    if (n == 1L && d == 2L) s"2 * $common >= $union"
    else s"$d * ($common) >= $n * ($union)"
  }
  private val incSplit = TextOps.DefaultIncrementalSplitId

  /** MinHash band-collision predicate between signature rows `a` and
    * `b`, generated from the library geometry (TextOps.MinhashBands ×
    * MinhashRows) so the oracle's banding can never drift from
    * bandBuckets' — per-band conjunction of the band's signature
    * values, disjoined across bands (pairwise equality IS the string
    * bucket key's semantics: the mh values are integers, so the "_"
    * separator cannot collide). */
  private def bandCollideSql(a: String, b: String): String =
    (0 until TextOps.MinhashBands).map { band =>
      (0 until TextOps.MinhashRows)
        .map(r => s"$a.mh${band * TextOps.MinhashRows + r} = " +
          s"$b.mh${band * TextOps.MinhashRows + r}")
        .mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")
  private val ngramPairCond = jaccardCondSql(
    "len(list_intersect(a.sh, b.sh))",
    "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))")

  /** The incremental-dedup CTE chain (fresh/seen split, exact md5 match,
    * band-collision candidates, exact-Jaccard verify), shared verbatim by
    * the dedup_incremental and dedup_incremental_contained oracles so the
    * two modalities' baseline verdicts can never drift. */
  private lazy val incrementalCtes: String =
    s"""sig AS ($minhashSql), """ +
      """d0 AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents), """ +
      s"""s AS (SELECT doc_id, $shinglesSql AS sh FROM d0 WHERE len(w) >= 3), """ +
      s"""f AS (SELECT doc_id, text FROM d0 WHERE doc_id >= $incSplit), """ +
      s"""sn AS (SELECT doc_id, text FROM d0 WHERE doc_id < $incSplit), """ +
      """ex AS (SELECT f.doc_id, min(sn.doc_id) AS dup_exact FROM f """ +
      """JOIN sn ON md5(f.text) = md5(sn.text) GROUP BY f.doc_id), """ +
      """cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS seen_id """ +
      s"""FROM sig a JOIN sig b ON a.doc_id >= $incSplit AND b.doc_id < $incSplit """ +
      s"""AND ${bandCollideSql("a", "b")}), """ +
      """nr AS (SELECT c.doc_id, min(c.seen_id) AS dup_near """ +
      """FROM cand c JOIN s sa ON c.doc_id = sa.doc_id JOIN s sb ON c.seen_id = sb.doc_id """ +
      s"""WHERE ${jaccardCondSql("len(list_intersect(sa.sh, sb.sh))",
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))")} """ +
      """GROUP BY c.doc_id)"""

  private def simhashSql: String = {
    val bitSums = (0 until 16).map(j =>
      s"CAST(SUM(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$j")
      .mkString(", ")
    val combine = (0 until 16).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents),
       |h AS (SELECT doc_id, ${weakHashSql("s")} AS hv FROM t),
       |b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($combine AS BIGINT) AS simhash16 FROM b""".stripMargin
  }

  /** The 60-bit sign-projection simhash (TextOps.simhashSig) in DuckDB
    * SQL — same universal-hash params, same 2·h > p sign test. */
  private def simhashSigSql: String = {
    val nBits = TextOps.SimhashBits
    val bitSums = TextOps.simhashParams(nBits).zipWithIndex
      .map { case ((a, b), j) =>
        s"CAST(SUM(CASE WHEN (($a*hv + $b) % ${TextOps.MOD}) * 2 > ${TextOps.MOD} " +
          s"THEN 1 ELSE -1 END) AS BIGINT) AS b$j"
      }.mkString(", ")
    val combine = (0 until nBits).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents),
       |h AS (SELECT doc_id, ${weakHashSql("s")} AS hv FROM t),
       |b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($combine AS BIGINT) AS sig FROM b""".stripMargin
  }

  private def minhashSql: String = {
    val mins = TextOps.minhashParams.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(min(($a*hv + $b) % ${TextOps.MOD}) AS BIGINT) AS mh$i"
    }.mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM d WHERE len(w) >= 3),
       |h AS (SELECT doc_id, ${weakHashSql("s")} AS hv FROM sh)
       |SELECT doc_id, $mins FROM h GROUP BY doc_id""".stripMargin
  }

  /** The full [[SimilarityOps.kmeansTrain]] Lloyd loop unrolled in DuckDB
    * SQL: `iters` rounds of cosine-argmax assignment (the
    * sim_cluster_assign window pattern) → quantized-integer mean update
    * (exact, order-free — see SimilarityOps.QUANT) with the same
    * empty-cell keep-previous fallback (LEFT JOIN + coalesce). Centroids
    * live as (cell, dim, val) rows between rounds and are re-listed for
    * each round's dot products; the REAL cast mirrors the Float centroid
    * table on the Spark side. */
  private def kmeansTrainSql(nCentroids: Int = 16, iters: Int = 3): String = {
    val q = SimilarityOps.QUANT.toLong
    // MATERIALIZED: c${p}d is referenced twice per round (centroid list +
    // empty-cell fallback) — DuckDB's default CTE inlining would copy the
    // training prefix 2^iters times (see pqKnnSql, where this OOMed)
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""c$p AS (SELECT cell, list(val ORDER BY dim) AS cemb FROM c${p}d GROUP BY cell), """ +
        s"""c${p}n AS (SELECT cell, cemb, sqrt(list_dot_product(cemb, cemb)) AS cn FROM c$p), """ +
        s"""a$k AS (SELECT vec_id, cell FROM (SELECT n.vec_id, c.cell, row_number() OVER """ +
        s"""(PARTITION BY n.vec_id ORDER BY list_dot_product(n.emb, c.cemb) / (n.nrm * c.cn) DESC, c.cell) AS rn """ +
        s"""FROM n CROSS JOIN c${p}n c) t WHERE rn = 1), """ +
        s"""u$k AS (SELECT a.cell, x.dim, CAST(CAST(CAST(SUM(x.q) AS DOUBLE) / (count(*) * ${q}.0) AS REAL) AS DOUBLE) AS mval """ +
        s"""FROM a$k a JOIN qx x USING (vec_id) GROUP BY a.cell, x.dim), """ +
        s"""c${k}d AS MATERIALIZED (SELECT c.cell, c.dim, coalesce(u.mval, c.val) AS val """ +
        s"""FROM c${p}d c LEFT JOIN u$k u ON c.cell = u.cell AND c.dim = u.dim)"""
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
      s"""n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e), """ +
      s"""qx0 AS (SELECT vec_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, """ +
      s"""unnest(emb) AS x FROM e), """ +
      s"""qx AS (SELECT vec_id, dim, CAST(floor(x * $q + 0.5) AS BIGINT) AS q FROM qx0), """ +
      s"""c0d AS (SELECT CAST(vec_id AS BIGINT) AS cell, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, """ +
      s"""unnest(emb) AS val FROM e WHERE vec_id < $nCentroids), """ +
      rounds +
      s""" SELECT cell, dim, val AS centroid FROM c${iters}d"""
  }

  /** The full [[SimilarityOps.knnPq]] pipeline unrolled in DuckDB SQL —
    * codebook training (per-subspace Lloyd over the first-`trainN`
    * sample), corpus encoding, ADC shortlist, exact re-rank. Replay is
    * exact because every Spark-side fold is LEFT-ASSOCIATIVE in a fixed
    * order (driver loops in vec_id/index order; Column-side `reduce(_+_)`
    * chains), which DuckDB reproduces with explicit `a + b + c` chains
    * and `list_reduce(list(x ORDER BY ...))` sequential folds; the means
    * are single divisions of those exact-ordered sums, and the Float
    * codebook cast is CAST(AS REAL). `subDim` is dim/m = 4 for the
    * 64-dim testdata embeddings (the Spark op reads dim from data; the
    * oracle pins the testdata contract). */
  private def pqKnnSql(m: Int = 16, nCodes: Int = 16, trainN: Int = 256,
      iters: Int = 8, shortlist: Int = 50, k: Int = 5,
      subDim: Int = 4): String = {
    // left-assoc chains mirror the Scala while-loops / reduce(_ + _)
    def sqChain(x: String, c: String) = (1 to subDim)
      .map(i => s"($x[$i] - $c[$i]) * ($x[$i] - $c[$i])").mkString(" + ")
    def dotChain(x: String, c: String) = (1 to subDim)
      .map(i => s"$x[$i] * $c[$i]").mkString(" + ")
    val meanList = (1 to subDim)
      .map(i => s"list_reduce(list(x[$i] ORDER BY vec_id), (acc, v) -> acc + v) / count(*)")
      .mkString("[", ", ", "]")
    // MATERIALIZED is load-bearing: cb$p is referenced twice per round
    // (assignment + empty-cluster fallback), so DuckDB's default CTE
    // INLINING would duplicate the whole training prefix 2^iters times —
    // measured as an OOM at iters=8 under concurrent load. Materializing
    // each round pins the tree to linear size.
    val rounds = (1 to iters).map { kk =>
      val p = kk - 1
      s"""a$kk AS MATERIALIZED (SELECT vec_id, s, code, x FROM (SELECT t.vec_id, t.s, c.code, t.x, """ +
        s"""row_number() OVER (PARTITION BY t.s, t.vec_id ORDER BY ${sqChain("t.x", "c.c")}, c.code) AS rn """ +
        s"""FROM tr t JOIN cb$p c ON t.s = c.s) z$kk WHERE rn = 1), """ +
        s"""u$kk AS (SELECT s, code, $meanList AS c FROM a$kk GROUP BY s, code), """ +
        s"""cb$kk AS MATERIALIZED (SELECT c0.s, c0.code, coalesce(u.c, c0.c) AS c """ +
        s"""FROM cb$p c0 LEFT JOIN u$kk u ON c0.s = u.s AND c0.code = u.code)"""
    }.mkString(", ")
    val subList = (1 to subDim)
      .map(i => s"emb[s * $subDim + $i]").mkString("[", ", ", "]")
    val qsubList = (1 to subDim)
      .map(i => s"q_emb[s * $subDim + $i]").mkString("[", ", ", "]")
    val floatCast = (1 to subDim)
      .map(i => s"CAST(CAST(c[$i] AS REAL) AS DOUBLE)").mkString("[", ", ", "]")
    val n2Chain = (1 to subDim).map(i => s"b[$i] * b[$i]").mkString(" + ")
    s"""WITH e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
      s"""subv AS (SELECT vec_id, s, $subList AS x FROM e0 CROSS JOIN generate_series(0, ${m - 1}) ss(s)), """ +
      s"""tr AS MATERIALIZED (SELECT vec_id, s, x FROM subv WHERE vec_id < $trainN), """ +
      s"""cb0 AS MATERIALIZED (SELECT s, rn - 1 AS code, x AS c FROM (SELECT s, x, """ +
      s"""row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn FROM tr) z0 WHERE rn <= $nCodes), """ +
      rounds + ", " +
      s"""bookf AS (SELECT s, code, $floatCast AS b FROM cb$iters), """ +
      s"""book AS (SELECT s, code, b, $n2Chain AS n2 FROM bookf), """ +
      s"""encd AS (SELECT vec_id, s, code FROM (SELECT v.vec_id, v.s, b.code, """ +
      s"""row_number() OVER (PARTITION BY v.s, v.vec_id ORDER BY """ +
      s"""b.n2 - 2.0 * (${dotChain("v.x", "b.b")}), b.code) AS rn """ +
      s"""FROM subv v JOIN book b ON v.s = b.s) ze WHERE rn = 1), """ +
      s"""recon AS (SELECT e.vec_id, sqrt(list_reduce(list(b.n2 ORDER BY e.s), (acc, v) -> acc + v)) AS recon_nrm """ +
      s"""FROM encd e JOIN book b ON e.s = b.s AND e.code = b.code GROUP BY e.vec_id), """ +
      s"""q AS (SELECT vec_id AS q_id, emb AS q_emb, sqrt(list_dot_product(emb, emb)) AS q_nrm FROM e0 WHERE vec_id < 10), """ +
      s"""qsub AS (SELECT q_id, s, $qsubList AS qx FROM q CROSS JOIN generate_series(0, ${m - 1}) ss(s)), """ +
      s"""term AS (SELECT qs.q_id, e.vec_id, e.s, (${dotChain("qs.qx", "b.b")}) AS tv """ +
      s"""FROM encd e JOIN book b ON e.s = b.s AND e.code = b.code """ +
      s"""JOIN qsub qs ON qs.s = e.s WHERE e.vec_id <> qs.q_id), """ +
      s"""adc AS (SELECT q_id, vec_id, list_reduce(list(tv ORDER BY s), (acc, v) -> acc + v) AS adcsum """ +
      s"""FROM term GROUP BY q_id, vec_id), """ +
      s"""sl AS (SELECT q_id, vec_id FROM (SELECT a.q_id, a.vec_id, """ +
      s"""row_number() OVER (PARTITION BY a.q_id ORDER BY a.adcsum / (q.q_nrm * r.recon_nrm) DESC, a.vec_id) AS srank """ +
      s"""FROM adc a JOIN q ON a.q_id = q.q_id JOIN recon r ON a.vec_id = r.vec_id) zs """ +
      s"""WHERE srank <= $shortlist), """ +
      s"""nn AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e0), """ +
      s"""resc AS (SELECT sl.q_id, sl.vec_id, list_dot_product(q.q_emb, nn.emb) / (q.q_nrm * nn.nrm) AS c """ +
      s"""FROM sl JOIN q ON sl.q_id = q.q_id JOIN nn ON sl.vec_id = nn.vec_id), """ +
      s"""ranked AS (SELECT q_id, vec_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank FROM resc) """ +
      s"""SELECT q_id, vec_id, round(c, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= $k"""
  }

  def oracleSql: Map[String, String] = Map(
    "s2_parse" ->
      s"SELECT event_id, $kExpr AS k FROM events WHERE props IS NOT NULL",
    "p1_normalize" ->
      "SELECT event_id, lower(event_type) AS etype FROM events",
    "j1_validate" ->
      ("SELECT event_id, event_type FROM events " +
        "WHERE event_type NOT IN ('click','view','purchase','signup')"),
    "j2_enrich" ->
      ("""SELECT e.event_id, e.event_type, split_part(v.fp, '.', 1) AS feature, """ +
        """substr(v.fp, strpos(v.fp, '.') + 1) AS property """ +
        """FROM events e JOIN (VALUES ('click','engagement.clicks'),""" +
        """('view','engagement.views'),('purchase','commerce.purchases'),""" +
        """('signup','growth.signups'),('error','reliability.errors')) """ +
        """v(event_type, fp) ON e.event_type = v.event_type"""),
    "c4_coerce" ->
      (s"""SELECT event_id, k, k AS int_k, """ +
        """CASE WHEN k = 1 THEN true WHEN k = 0 THEN false ELSE NULL END AS bool_k, """ +
        """(k <> 0 AND k <> 1) AS bool_err, """ +
        """CAST(trunc(value) AS BIGINT) AS int_value """ +
        s"""FROM (SELECT event_id, $kExpr AS k, value FROM events)"""),
    "r1_route" ->
      (s"""SELECT event_type, """ +
        """CAST(SUM(CASE WHEN k IN (0,1) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid, """ +
        """CAST(SUM(CASE WHEN k IN (0,1) THEN 0 ELSE 1 END) AS BIGINT) AS n_misfit """ +
        s"""FROM (SELECT event_type, $kExpr AS k FROM events) GROUP BY event_type"""),
    "a1_unpivot" ->
      ("""SELECT l_orderkey, l_linenumber, """ +
        """CAST(SUM(CASE WHEN l_quantity > 0.02 THEN 1 ELSE 0 END + """ +
        """CASE WHEN l_discount > 0.02 THEN 1 ELSE 0 END + """ +
        """CASE WHEN l_tax > 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_props, """ +
        """CAST(round(SUM(CASE WHEN l_quantity > 0.02 THEN l_quantity ELSE 0 END + """ +
        """CASE WHEN l_discount > 0.02 THEN l_discount ELSE 0 END + """ +
        """CASE WHEN l_tax > 0.02 THEN l_tax ELSE 0 END) * 100, 0) AS BIGINT) AS sum_props_c """ +
        """FROM lineitem GROUP BY l_orderkey, l_linenumber """ +
        """HAVING SUM(CASE WHEN l_quantity > 0.02 THEN 1 ELSE 0 END + """ +
        """CASE WHEN l_discount > 0.02 THEN 1 ELSE 0 END + """ +
        """CASE WHEN l_tax > 0.02 THEN 1 ELSE 0 END) > 0"""),
    "k1_pivot" ->
      ("""SELECT user_id, """ +
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t")
          .mkString(", ") +
        """ FROM events GROUP BY user_id"""),
    "k2_deadletter" ->
      (s"""SELECT event_id, '{"k":' || CAST(k AS VARCHAR) || '}' AS data """ +
        s"""FROM (SELECT event_id, $kExpr AS k FROM events) WHERE k <> 0 AND k <> 1"""),
    "g1_alert_dedup" ->
      ("""SELECT user_id, min(ts) AS first_error_ts, count(*) AS n_errors """ +
        """FROM events WHERE event_type = 'error' GROUP BY user_id"""),
    "x2_stream_window" ->
      ("""SELECT date_trunc('hour', ts) AS hour_start, event_type, """ +
        """count(*) AS n, CAST(round(sum(value) * 100, 0) AS BIGINT) AS sum_value_c """ +
        """FROM events GROUP BY 1, 2"""),
    "pipeline_pairs" ->
      // each event yields two valid pairs: k coerced to integer, value
      // coerced to float (rendered like JS String(number): integral values
      // have no decimal point)
      (s"""SELECT event_id AS meta_id, 'metrics_' || event_type AS feature, """ +
        s"""'k' AS property, CAST($kExpr AS VARCHAR) AS value FROM events """ +
        """UNION ALL """ +
        """SELECT event_id AS meta_id, 'metrics_' || event_type AS feature, """ +
        """'value' AS property, """ +
        """CASE WHEN value = trunc(value) THEN CAST(CAST(value AS BIGINT) AS VARCHAR) """ +
        """ELSE CAST(value AS VARCHAR) END AS value FROM events"""),
    "q1_agg" ->
      ("""SELECT l_returnflag, l_linestatus, """ +
        """CAST(round(sum(l_quantity), 0) AS BIGINT) AS sum_qty, """ +
        """CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) AS sum_base_price_c, """ +
        """CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT) AS sum_disc_price_dm, """ +
        """CAST(floor(10000.0 * round(sum(l_quantity), 0) / count(*)) AS BIGINT) AS avg_qty_bp, """ +
        """CAST(floor(100.0 * round(sum(l_discount) * 100, 0) / count(*)) AS BIGINT) AS avg_disc_bp, """ +
        """count(*) AS count_order """ +
        """FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' """ +
        """GROUP BY l_returnflag, l_linestatus"""),
    "q3_join" ->
      ("""SELECT o_orderkey, o_orderdate, o_orderpriority, """ +
        """CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT) AS revenue_dm """ +
        """FROM lineitem JOIN orders ON l_orderkey = o_orderkey """ +
        """JOIN customer ON o_custkey = c_custkey """ +
        """WHERE c_mktsegment = 'BUILDING' """ +
        """AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' """ +
        """AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' """ +
        """GROUP BY 1, 2, 3 """ +
        """HAVING CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT) > 1000000000"""),
    "q5_region" ->
      ("""SELECT n_name, """ +
        """CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT) AS revenue_dm """ +
        """FROM lineitem """ +
        """JOIN orders ON l_orderkey = o_orderkey """ +
        """JOIN supplier ON l_suppkey = s_suppkey """ +
        """JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey """ +
        """JOIN nation ON s_nationkey = n_nationkey """ +
        """JOIN region ON n_regionkey = r_regionkey """ +
        """WHERE r_name = 'ASIA' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00' """ +
        """GROUP BY n_name"""),
    "q2_min_cost" ->
      ("""SELECT p.p_partkey, p.p_brand, s.s_name, """ +
        """CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS min_price_c """ +
        """FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey """ +
        """JOIN supplier s ON s.s_suppkey = l.l_suppkey """ +
        """WHERE p.p_size = 15 """ +
        """AND l.l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2 """ +
        """WHERE l2.l_partkey = p.p_partkey)"""),
    "q7_nation_volume" ->
      ("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, """ +
        """CAST(year(l.l_shipdate) AS BIGINT) AS l_year, """ +
        """CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 10000, 0) AS BIGINT) AS revenue_dm """ +
        """FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey """ +
        """JOIN orders o ON o.o_orderkey = l.l_orderkey """ +
        """JOIN customer c ON c.c_custkey = o.o_custkey """ +
        """JOIN nation n1 ON s.s_nationkey = n1.n_nationkey """ +
        """JOIN nation n2 ON c.c_nationkey = n2.n_nationkey """ +
        """WHERE ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11') """ +
        """OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20')) """ +
        """AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' """ +
        """AND TIMESTAMP '1996-12-31 00:00:00' """ +
        """GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)"""),
    "w1_window" ->
      ("""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate FROM ( """ +
        """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, """ +
        """row_number() OVER (PARTITION BY l_suppkey """ +
        """ORDER BY l_shipdate DESC, l_orderkey, l_linenumber) AS rn """ +
        """FROM lineitem) WHERE rn = 1"""),
    "set_ops" ->
      ("""SELECT nationkey FROM ( """ +
        """SELECT DISTINCT c_nationkey AS nationkey FROM customer """ +
        """UNION SELECT DISTINCT s_nationkey FROM supplier) """ +
        """EXCEPT SELECT n_nationkey AS nationkey FROM nation WHERE n_regionkey = 0"""),
    "topk_orders" ->
      ("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders """ +
        """ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
    "s3_catalog_join" ->
      ("""SELECT r_name, count(*) AS n_cust, """ +
        """CAST(round(sum(c_acctbal) * 100, 0) AS BIGINT) AS sum_acctbal_c """ +
        """FROM customer JOIN nation ON c_nationkey = n_nationkey """ +
        """JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"""),
    "rollup_agg" ->
      ("""SELECT l_returnflag, l_linestatus, """ +
        """CAST(round(sum(l_quantity), 0) AS BIGINT) AS sum_qty, count(*) AS n """ +
        """FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),
    "cube_agg" ->
      ("""SELECT l_returnflag, l_linestatus, """ +
        """CAST(round(sum(l_quantity), 0) AS BIGINT) AS sum_qty, count(*) AS n """ +
        """FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),
    "stats_agg" ->
      ("""SELECT l_returnflag, """ +
        """round(corr(l_quantity, l_extendedprice), 6) AS corr_qp, """ +
        """round(stddev_samp(l_quantity), 6) AS sd_qty, """ +
        """CAST(floor(100.0 * round(sum(l_discount) * 100, 0) / count(*)) AS BIGINT) AS avg_disc_bp """ +
        """FROM lineitem GROUP BY l_returnflag"""),
    "lateral_topn" ->
      ("""SELECT c_custkey, o_orderkey, total_c FROM customer, """ +
        """LATERAL (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS total_c """ +
        """FROM orders WHERE o_custkey = c_custkey """ +
        """ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l"""),
    "w2_window_range" ->
      ("""WITH o AS (SELECT o_orderkey, o_custkey, """ +
        """CAST(round(o_totalprice * 100) AS BIGINT) AS cents, """ +
        """epoch_us(o_orderdate) // 86400000000 AS day FROM orders) """ +
        """SELECT o_orderkey, o_custkey, cents, """ +
        """CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day """ +
        """RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents, """ +
        """CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day """ +
        """RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail30_cents, """ +
        """lag(cents, 1) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS prev_cents, """ +
        """CAST(floor((rank() OVER (PARTITION BY o_custkey ORDER BY cents, o_orderkey) - 1) * 10000.0 """ +
        """/ greatest(count(*) OVER (PARTITION BY o_custkey) - 1, 1)) AS BIGINT) AS pr_bp """ +
        """FROM o"""),
    "listagg_nations" ->
      ("""SELECT n_name, count(*) AS n_customers, """ +
        """string_agg(c_name, '|' ORDER BY c_name) AS names """ +
        """FROM customer JOIN nation ON c_nationkey = n_nationkey """ +
        """GROUP BY n_name"""),
    "latest_per_key" ->
      ("""WITH r AS (SELECT user_id, event_id, ts, event_type, """ +
        """CAST(round(value * 100) AS BIGINT) AS value_c, """ +
        """row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn """ +
        """FROM events) """ +
        """SELECT user_id, event_id, ts, event_type, value_c FROM r WHERE rn = 1"""),
    "q18_big_orders" ->
      ("""WITH big AS (SELECT l_orderkey, """ +
        """CAST(round(sum(l_quantity), 0) AS BIGINT) AS sum_qty FROM lineitem """ +
        """GROUP BY l_orderkey HAVING CAST(round(sum(l_quantity), 0) AS BIGINT) > 250) """ +
        """SELECT c_custkey, c_name, o_orderkey, o_orderdate, """ +
        """CAST(round(o_totalprice * 100) AS BIGINT) AS total_c, sum_qty """ +
        """FROM orders JOIN big ON o_orderkey = l_orderkey """ +
        """JOIN customer ON o_custkey = c_custkey"""),
    "q21_waiting" ->
      ("""WITH ps AS (SELECT l_orderkey, l_suppkey, """ +
        """max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late """ +
        """FROM lineitem JOIN orders ON l_orderkey = o_orderkey """ +
        """GROUP BY l_orderkey, l_suppkey), """ +
        """po AS (SELECT l_orderkey, count(*) AS nsupp, sum(late) AS nlate FROM ps GROUP BY l_orderkey) """ +
        """SELECT s_suppkey, s_name, count(*) AS numwait """ +
        """FROM ps JOIN po USING (l_orderkey) JOIN supplier ON l_suppkey = s_suppkey """ +
        """WHERE ps.late = 1 AND po.nsupp >= 2 AND po.nlate = 1 """ +
        """GROUP BY s_suppkey, s_name"""),
    "q10_returned" ->
      ("""SELECT c_custkey, c_name, n_name, """ +
        """CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS revenue_dm """ +
        """FROM lineitem JOIN orders ON l_orderkey = o_orderkey """ +
        """JOIN customer ON o_custkey = c_custkey """ +
        """JOIN nation ON c_nationkey = n_nationkey """ +
        """WHERE l_returnflag = 'R' """ +
        """AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' """ +
        """GROUP BY c_custkey, c_name, n_name """ +
        """ORDER BY revenue_dm DESC, c_custkey LIMIT 20"""),
    "q8_market_share" ->
      ("""WITH cn AS (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey """ +
        """WHERE r_name = 'ASIA'), """ +
        """c AS (SELECT c_custkey FROM customer JOIN cn ON c_nationkey = n_nationkey), """ +
        """y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, """ +
        """CAST(round(sum(CASE WHEN s_nationkey = 0 THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 10000) AS BIGINT) AS nation_dm, """ +
        """CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS total_dm """ +
        """FROM lineitem JOIN orders ON l_orderkey = o_orderkey """ +
        """JOIN c ON o_custkey = c_custkey """ +
        """JOIN supplier ON l_suppkey = s_suppkey """ +
        """WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' """ +
        """GROUP BY 1) """ +
        """SELECT o_year, nation_dm, total_dm, """ +
        """CAST(floor(10000.0 * nation_dm / total_dm) AS BIGINT) AS share_bp FROM y"""),
    "q11_important_parts" ->
      ("""WITH p AS (SELECT l_partkey, CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty """ +
        """FROM lineitem GROUP BY l_partkey), """ +
        """t AS (SELECT sum(sum_qty) AS total_qty, count(*) AS n_parts FROM p) """ +
        """SELECT l_partkey, sum_qty FROM p, t """ +
        """WHERE sum_qty * n_parts * 100 > total_qty * 120"""),
    "q15_top_supplier" ->
      ("""WITH rev AS (SELECT l_suppkey, """ +
        """CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS revenue_dm """ +
        """FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01' """ +
        """GROUP BY l_suppkey), """ +
        """m AS (SELECT max(revenue_dm) AS max_dm FROM rev) """ +
        """SELECT s_suppkey, s_name, revenue_dm FROM rev, m """ +
        """JOIN supplier ON l_suppkey = s_suppkey WHERE revenue_dm = max_dm"""),
    "q22_idle_balance" ->
      ("""WITH c AS (SELECT c_custkey, c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c FROM customer), """ +
        """a AS (SELECT sum(acctbal_c) AS sum_c, count(*) AS n_pos FROM c WHERE acctbal_c > 0) """ +
        """SELECT c_custkey, c_name, acctbal_c FROM c, a """ +
        """WHERE acctbal_c * n_pos > sum_c """ +
        """AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey """ +
        """AND o_orderdate >= TIMESTAMP '2000-01-01')"""),
    "q14_promo_bp" ->
      ("""WITH j AS (SELECT p_type, l_extendedprice * (1 - l_discount) AS rev """ +
        """FROM lineitem JOIN part ON l_partkey = p_partkey """ +
        """WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'), """ +
        """a AS (SELECT """ +
        """CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) * 10000) AS BIGINT) AS promo_dm, """ +
        """CAST(round(sum(rev) * 10000) AS BIGINT) AS total_dm FROM j) """ +
        """SELECT promo_dm, total_dm, """ +
        """CAST(floor(10000.0 * promo_dm / total_dm) AS BIGINT) AS promo_share_bp FROM a"""),
    "q16_supplier_cnt" ->
      ("""SELECT p_brand, p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt """ +
        """FROM lineitem JOIN part ON l_partkey = p_partkey """ +
        """WHERE p_brand <> 'Brand#1' GROUP BY p_brand, p_type"""),
    "q19_disjunctive" ->
      ("""SELECT CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS revenue_dm, """ +
        """count(*) AS n_lines """ +
        """FROM lineitem JOIN part ON l_partkey = p_partkey """ +
        """WHERE l_quantity >= 1 AND l_quantity <= 30 """ +
        """AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11) """ +
        """OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20) """ +
        """OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))"""),
    "q9_profit" ->
      ("""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, """ +
        """CAST(round(sum(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity) * 10000) AS BIGINT) AS profit_dm """ +
        """FROM lineitem JOIN part ON l_partkey = p_partkey """ +
        """JOIN supplier ON l_suppkey = s_suppkey """ +
        """JOIN orders ON l_orderkey = o_orderkey """ +
        """JOIN nation ON s_nationkey = n_nationkey """ +
        """WHERE p_name LIKE '%red%' GROUP BY 1, 2"""),
    "q12_late_priority" ->
      ("""SELECT l_linestatus, """ +
        """CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, """ +
        """CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count """ +
        """FROM lineitem JOIN orders ON l_orderkey = o_orderkey """ +
        """WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY """ +
        """GROUP BY l_linestatus"""),
    "q13_order_dist" ->
      ("""WITH c AS (SELECT c_custkey, count(o_orderkey) AS c_count """ +
        """FROM customer LEFT OUTER JOIN orders """ +
        """ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' """ +
        """GROUP BY c_custkey) """ +
        """SELECT c_count, count(*) AS custdist FROM c GROUP BY c_count"""),
    "q20_excess_shippers" ->
      ("""WITH ps AS (SELECT l_partkey, l_suppkey, """ +
        """CAST(round(sum(l_quantity)) AS BIGINT) AS supp_qty """ +
        """FROM lineitem JOIN part ON l_partkey = p_partkey """ +
        """WHERE p_size = 15 """ +
        """AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' """ +
        """GROUP BY l_partkey, l_suppkey), """ +
        """tot AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM ps GROUP BY l_partkey) """ +
        """SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN ( """ +
        """SELECT l_suppkey FROM ps JOIN tot USING (l_partkey) WHERE supp_qty * 2 > part_qty)"""),
    "w3_window_nav" ->
      ("""WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate, """ +
        """CAST(round(o_totalprice * 100) AS BIGINT) AS total_c FROM orders), """ +
        """w AS (SELECT o_orderkey, o_custkey, total_c, """ +
        """lag(total_c, 1) OVER win AS prev_c, """ +
        """lead(total_c, 1) OVER win AS next_c, """ +
        """first_value(total_c) OVER win AS first_c, """ +
        """row_number() OVER win AS rn, """ +
        """count(*) OVER (PARTITION BY o_custkey) AS n FROM o """ +
        """WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) """ +
        """SELECT o_orderkey, o_custkey, total_c, prev_c, next_c, first_c, """ +
        """CASE WHEN n = 1 THEN 0 ELSE CAST(floor(10000.0 * (rn - 1) / (n - 1)) AS BIGINT) END AS pos_bp """ +
        """FROM w"""),
    "full_outer_recon" ->
      ("""WITH a AS (SELECT o_custkey, count(*) AS n_1997, """ +
        """CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS total_1997_c FROM orders """ +
        """WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' """ +
        """GROUP BY o_custkey), """ +
        """b AS (SELECT o_custkey, count(*) AS n_1998, """ +
        """CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS total_1998_c FROM orders """ +
        """WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01' """ +
        """GROUP BY o_custkey) """ +
        """SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey, """ +
        """coalesce(n_1997, 0) AS n_1997, coalesce(n_1998, 0) AS n_1998, """ +
        """coalesce(total_1997_c, 0) AS total_1997_c, coalesce(total_1998_c, 0) AS total_1998_c, """ +
        """CASE WHEN a.o_custkey IS NULL THEN 'right_only' """ +
        """WHEN b.o_custkey IS NULL THEN 'left_only' ELSE 'both' END AS presence """ +
        """FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey"""),
    "grouping_sets" ->
      ("""SELECT l_returnflag, l_linestatus, """ +
        """CAST(grouping(l_returnflag) AS BIGINT) AS g_rf, """ +
        """CAST(grouping(l_linestatus) AS BIGINT) AS g_ls, """ +
        """CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty, count(*) AS n """ +
        """FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), """ +
        """(l_returnflag), (l_linestatus), ())"""),
    "ts_resample" ->
      ("""WITH e AS (SELECT user_id, ts, event_id, """ +
        """CAST(round(value * 100) AS BIGINT) AS value_c, """ +
        """date_trunc('hour', ts) AS hr FROM events), """ +
        """ph AS (SELECT user_id, hr, value_c AS obs_c FROM ("""+
        """SELECT user_id, hr, value_c, row_number() OVER """ +
        """(PARTITION BY user_id, hr ORDER BY ts DESC, event_id DESC) AS rn FROM e) WHERE rn = 1), """ +
        """g AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM """ +
        """(SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM e GROUP BY user_id)), """ +
        """j AS (SELECT g.user_id, g.hr, ph.obs_c FROM g LEFT JOIN ph """ +
        """ON g.user_id = ph.user_id AND g.hr = ph.hr) """ +
        """SELECT user_id, hr, last_value(obs_c IGNORE NULLS) OVER """ +
        """(PARTITION BY user_id ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_c, """ +
        """CAST(CASE WHEN obs_c IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed FROM j"""),
    "semi_join" ->
      ("""SELECT c_custkey, c_name FROM customer WHERE c_custkey IN ( """ +
        """SELECT o_custkey FROM orders """ +
        """WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' """ +
        """AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')"""),
    // both names run the custom as-of SparkPlan, which must reproduce
    // DuckDB's ASOF JOIN bit-for-bit
    "asof_join" -> asofOracleSql,
    "asof_join_native" -> asofOracleSql,
    "range_join" ->
      ("""SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b, """ +
        """abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us """ +
        """FROM events a JOIN events b ON a.user_id = b.user_id """ +
        """AND a.event_id < b.event_id """ +
        """AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000"""),
    "sessionize" ->
      ("""WITH g AS (SELECT user_id, event_id, ts, """ +
        """CASE WHEN lag(ts) OVER w IS NULL """ +
        """OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 """ +
        """THEN 1 ELSE 0 END AS new_sess FROM events WHERE ts IS NOT NULL """ +
        """WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) """ +
        """SELECT user_id, event_id, CAST(sum(new_sess) OVER """ +
        """(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) """ +
        """AS BIGINT) AS session_seq FROM g"""),
    "sql_q6" ->
      ("""SELECT CAST(round(sum(l_extendedprice * l_discount) * 10000, 0) AS BIGINT) """ +
        """AS revenue_dm FROM lineitem """ +
        """WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' """ +
        """AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' """ +
        """AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    "udaf_wavg" ->
      ("""SELECT l_returnflag, """ +
        """CAST(floor(100.0 * round(sum(l_extendedprice * l_quantity) * 100, 0) """ +
        """/ round(sum(l_quantity), 0)) AS BIGINT) AS wavg_cc """ +
        """FROM lineitem GROUP BY l_returnflag"""),
    "pct_agg" ->
      ("""SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS p25, """ +
        """quantile_cont(l_quantity, 0.5) AS p50, """ +
        """quantile_cont(l_quantity, 0.75) AS p75 """ +
        """FROM lineitem GROUP BY l_returnflag"""),
    // The sketch queries' deterministic restatements (round-11 VERDICT
    // item 1): the GK/HLL++ estimates have no DuckDB twin, so the Spark
    // side emits the exact reference values plus within-published-bound
    // flags (pure functions of the data — the sketches are
    // deterministic), and the oracle replays the exact side with the
    // bounds asserted as literal TRUEs. A sketch regression breaking its
    // own error guarantee flips a flag to 0 and hash-mismatches.
    "pct_approx" ->
      ("""SELECT l_returnflag, count(*) AS n, """ +
        """CAST(1 AS BIGINT) AS ok25, CAST(1 AS BIGINT) AS ok50, """ +
        """CAST(1 AS BIGINT) AS ok75 FROM lineitem GROUP BY l_returnflag"""),
    "approx_distinct" ->
      ("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, """ +
        """CAST(1 AS BIGINT) AS within_bound """ +
        """FROM lineitem GROUP BY l_returnflag"""),
    "q4_exists" ->
      ("""SELECT o_orderpriority, count(*) AS order_count FROM orders """ +
        """WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' """ +
        """AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00' """ +
        """AND EXISTS (SELECT 1 FROM lineitem """ +
        """WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) """ +
        """GROUP BY o_orderpriority"""),
    "q17_scalar_subq" ->
      ("""SELECT CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) AS total_c, """ +
        """count(*) AS n FROM lineitem outer_li """ +
        """WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem """ +
        """WHERE l_partkey = outer_li.l_partkey)"""),
    "topk_per_key" ->
      ("""SELECT l_suppkey, CAST(rn AS BIGINT) AS rank, price, id FROM ( """ +
        """SELECT l_suppkey, l_extendedprice AS price, """ +
        """l_orderkey * 100 + l_linenumber AS id, """ +
        """row_number() OVER (PARTITION BY l_suppkey """ +
        """ORDER BY l_extendedprice DESC, l_orderkey * 100 + l_linenumber) AS rn """ +
        """FROM lineitem) WHERE rn <= 3"""),
    "salted_agg" ->
      ("""SELECT user_id, count(*) AS n, """ +
        """CAST(round(sum(value) * 100, 0) AS BIGINT) AS sum_value_c """ +
        """FROM events GROUP BY user_id"""),
    "dedup_exact" ->
      ("""SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, """ +
        """count(*) AS n_copies FROM documents GROUP BY md5(text)"""),
    "dedup_substring_spans" -> dedupSubstringSpansSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_ngram_jaccard" ->
      (s"""WITH $ngramPairCtes """ +
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, """ +
        """CAST(floor(10000.0 * len(list_intersect(a.sh, b.sh)) / """ +
        """(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT) AS jaccard_bp """ +
        """FROM s a JOIN s b ON a.doc_id < b.doc_id """ +
        s"""WHERE $ngramPairCond"""),
    "dedup_clusters" ->
      (s"""WITH RECURSIVE $ngramPairCtes, """ +
        """pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b """ +
        s"""FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $ngramPairCond), """ +
        """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs """ +
        """UNION SELECT doc_b, doc_a FROM pairs), """ +
        """reach(src, dst) AS (SELECT src, dst FROM edges """ +
        """UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src) """ +
        """SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_rep """ +
        """FROM reach GROUP BY src"""),
    "dedup_report" -> dedupReportSql,
    "dedup_clusters_report" ->
      // connected components (recursive reach, min-label rep — the
      // dedup_clusters oracle idiom) over the report's pair set
      // restricted to >= 2 corroborating modalities
      (s"""WITH RECURSIVE rep AS (SELECT * FROM ($dedupReportSql) z), """ +
        // threshold rendered from the Scala default so the two sides
        // cannot desynchronize (round-11 ADVICE)
        s"""pairs AS (SELECT doc_a, doc_b FROM rep """ +
        s"""WHERE n_modalities >= ${TextOps.ReportClusterMinModalities}), """ +
        """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs """ +
        """UNION SELECT doc_b, doc_a FROM pairs), """ +
        """reach(src, dst) AS (SELECT src, dst FROM edges """ +
        """UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src) """ +
        """SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_rep """ +
        """FROM reach GROUP BY src"""),
    "dedup_report_pairs" -> {
      // audit-mode replay: keys = the exact jaccard pair graph (the
      // Spark query feeds dedupNgramJaccard in), evidence computed per pair
      // from per-doc artifacts with NO df caps (TextOps
      // .dedupReportFromPairs's audit contract). NULL columns mirror
      // the Spark side's left joins: cdc/containment evidence is NULL
      // unless BOTH docs have chunk/window sets.
      val (num, den) = (TextOps.ContainmentNum, TextOps.ContainmentDen)
      val k = TextOps.SpanSeedTokens
      s"""WITH $ngramPairCtes, """ +
        s"""keys AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b """ +
        s"""FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $ngramPairCond), """ +
        """hx AS (SELECT doc_id, md5(text) AS h FROM documents), """ +
        s"""sig AS (SELECT * FROM ($simhashSigSql) z), """ +
        s"""$cdcChunkSetCtes, """ +
        """csz AS (SELECT doc_id, count(*) AS n FROM cks GROUP BY doc_id), """ +
        s"""wnd AS (SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+${k - 1}], ' ')) AS wh """ +
        s"""FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${k - 2})) AS i """ +
        s"""FROM d WHERE len(w) >= $k)), """ +
        """wsz AS (SELECT doc_id, count(*) AS n FROM wnd GROUP BY doc_id), """ +
        """cdcp AS (SELECT k.doc_a, k.doc_b, count(*) AS c FROM keys k """ +
        """JOIN cks ca ON ca.doc_id = k.doc_a """ +
        """JOIN cks cb ON cb.doc_id = k.doc_b AND ca.ck = cb.ck GROUP BY 1, 2), """ +
        """wp AS (SELECT k.doc_a, k.doc_b, count(*) AS c FROM keys k """ +
        """JOIN wnd wa ON wa.doc_id = k.doc_a """ +
        """JOIN wnd wb ON wb.doc_id = k.doc_b AND wa.wh = wb.wh GROUP BY 1, 2) """ +
        """SELECT k.doc_a, k.doc_b, (ha.h = hb.h) AS is_exact, """ +
        """CAST(floor(10000.0 * len(list_intersect(sa.sh, sb.sh)) / """ +
        """(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))) AS BIGINT) AS jaccard_bp, """ +
        """CAST(bit_count(xor(ga.sig, gb.sig)) AS BIGINT) AS simhash_hamming, """ +
        """CASE WHEN za.n IS NOT NULL AND zb.n IS NOT NULL THEN """ +
        """CAST(floor(10000.0 * coalesce(cd.c, 0) / (za.n + zb.n - coalesce(cd.c, 0))) AS BIGINT) END AS cdc_jaccard_bp, """ +
        """CASE WHEN wa.n IS NOT NULL AND wb.n IS NOT NULL THEN """ +
        """CAST(floor(10000.0 * coalesce(w2.c, 0) / wa.n) AS BIGINT) END AS contained_ab_bp, """ +
        """CASE WHEN wa.n IS NOT NULL AND wb.n IS NOT NULL THEN """ +
        """CAST(floor(10000.0 * coalesce(w2.c, 0) / wb.n) AS BIGINT) END AS contained_ba_bp, """ +
        """CAST(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END """ +
        s"""+ CASE WHEN ${jaccardCondSql("len(list_intersect(sa.sh, sb.sh))",
          "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))")} THEN 1 ELSE 0 END """ +
        """+ CASE WHEN bit_count(xor(ga.sig, gb.sig)) <= 3 THEN 1 ELSE 0 END """ +
        s"""+ CASE WHEN za.n IS NOT NULL AND zb.n IS NOT NULL AND ${jaccardCondSql(
          "coalesce(cd.c, 0)", "(za.n + zb.n - coalesce(cd.c, 0))")} THEN 1 ELSE 0 END """ +
        s"""+ CASE WHEN wa.n IS NOT NULL AND wb.n IS NOT NULL AND """ +
        s"""(coalesce(w2.c, 0) * $den >= wa.n * $num OR coalesce(w2.c, 0) * $den >= wb.n * $num) """ +
        """THEN 1 ELSE 0 END AS BIGINT) AS n_modalities """ +
        """FROM keys k """ +
        """JOIN hx ha ON k.doc_a = ha.doc_id JOIN hx hb ON k.doc_b = hb.doc_id """ +
        """JOIN s sa ON k.doc_a = sa.doc_id JOIN s sb ON k.doc_b = sb.doc_id """ +
        """JOIN sig ga ON k.doc_a = ga.doc_id JOIN sig gb ON k.doc_b = gb.doc_id """ +
        """LEFT JOIN csz za ON k.doc_a = za.doc_id LEFT JOIN csz zb ON k.doc_b = zb.doc_id """ +
        """LEFT JOIN wsz wa ON k.doc_a = wa.doc_id LEFT JOIN wsz wb ON k.doc_b = wb.doc_id """ +
        """LEFT JOIN cdcp cd ON k.doc_a = cd.doc_a AND k.doc_b = cd.doc_b """ +
        """LEFT JOIN wp w2 ON k.doc_a = w2.doc_a AND k.doc_b = w2.doc_b"""
    },
    "dedup_cdc_chunks" -> dedupCdcChunksSql,
    "dedup_minhash_sig" -> minhashSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" ->
      // all-pairs popcount over the shared signature definition: the
      // banded Spark plan is EXACT at radius 3 (pigeonhole over 4 bands),
      // so the brute-force oracle replays it row-for-row
      (s"""WITH sa AS ($simhashSigSql), sb AS ($simhashSigSql) """ +
        """SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, """ +
        """CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming """ +
        """FROM sa JOIN sb ON sa.doc_id < sb.doc_id """ +
        """WHERE bit_count(xor(sa.sig, sb.sig)) <= 3"""),
    "dedup_incremental" ->
      // fresh (doc_id >= 250) against frozen seen (doc_id < 250): exact
      // md5 match OR band collision + exact-Jaccard verify, dup_of = min
      // seen id across both; the CASE mirrors the Spark when-chain
      // (DuckDB least() NULL semantics are never relied on)
      (s"""WITH $incrementalCtes """ +
        """SELECT f.doc_id, """ +
        """CASE WHEN e.dup_exact IS NULL THEN n.dup_near """ +
        """WHEN n.dup_near IS NULL THEN e.dup_exact """ +
        """WHEN e.dup_exact < n.dup_near THEN e.dup_exact ELSE n.dup_near END AS dup_of, """ +
        """(CASE WHEN e.dup_exact IS NULL THEN n.dup_near """ +
        """WHEN n.dup_near IS NULL THEN e.dup_exact """ +
        """WHEN e.dup_exact < n.dup_near THEN e.dup_exact ELSE n.dup_near END) IS NULL AS kept """ +
        """FROM f LEFT JOIN ex e ON f.doc_id = e.doc_id """ +
        """LEFT JOIN nr n ON f.doc_id = n.doc_id"""),
    "dedup_incremental_contained" ->
      // the incremental verdicts plus the quoted-inside modality: fresh
      // windows (per-doc, uncapped — batching-invariant) against the
      // frozen side's df-capped distinct-window sets; threshold is the
      // dedupContainment integer rational; dup_of = min seen id across
      // all three modalities (min aggregate over a VALUES list ignores
      // NULLs, replaying Spark's least())
      (s"""WITH $incrementalCtes, """ +
        s"""sw AS (SELECT doc_id, md5(array_to_string(w[i:i+${TextOps.SpanSeedTokens - 1}], ' ')) AS h """ +
        s"""FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${TextOps.SpanSeedTokens - 2})) AS i """ +
        s"""FROM d0 WHERE len(w) >= ${TextOps.SpanSeedTokens})), """ +
        s"""snw AS (SELECT DISTINCT doc_id AS seen_id, h FROM sw WHERE doc_id < $incSplit AND h IN (""" +
        s"""SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sw WHERE doc_id < $incSplit GROUP BY h) """ +
        s"""WHERE nd <= ${TextOps.SpanDfCap})), """ +
        s"""fw AS (SELECT DISTINCT doc_id, h FROM sw WHERE doc_id >= $incSplit), """ +
        """fsz AS (SELECT doc_id, count(*) AS n_h FROM fw GROUP BY doc_id), """ +
        """ctp AS (SELECT fw.doc_id, snw.seen_id, count(*) AS shared FROM fw JOIN snw USING (h) GROUP BY 1, 2), """ +
        s"""ct AS (SELECT p.doc_id, min(p.seen_id) AS dup_contained FROM ctp p """ +
        s"""JOIN fsz z ON p.doc_id = z.doc_id """ +
        s"""WHERE p.shared * ${TextOps.ContainmentDen} >= z.n_h * ${TextOps.ContainmentNum} """ +
        """GROUP BY p.doc_id) """ +
        """SELECT f.doc_id, """ +
        """(SELECT min(v) FROM (VALUES (e.dup_exact), (n.dup_near), (c.dup_contained)) t(v)) AS dup_of, """ +
        """(SELECT min(v) FROM (VALUES (e.dup_exact), (n.dup_near), (c.dup_contained)) t(v)) IS NULL AS kept """ +
        """FROM f LEFT JOIN ex e ON f.doc_id = e.doc_id """ +
        """LEFT JOIN nr n ON f.doc_id = n.doc_id """ +
        """LEFT JOIN ct c ON f.doc_id = c.doc_id"""),
    "dedup_lsh_pairs" ->
      // exact replay of the MinHash banding (bandCollideSql renders the
      // band structure from the library geometry), then the same
      // exact-Jaccard verify as dedup_ngram_jaccard. The hot-bucket cap
      // (4096) is unreachable at oracle scale, so the replay omits it.
      (s"""WITH sig AS ($minhashSql), """ +
        """d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
        s"""s AS (SELECT doc_id, $shinglesSql AS sh FROM d WHERE len(w) >= 3), """ +
        """cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b """ +
        """FROM sig a JOIN sig b ON a.doc_id < b.doc_id """ +
        s"""AND ${bandCollideSql("a", "b")}) """ +
        """SELECT doc_a, doc_b, """ +
        """CAST(floor(10000.0 * len(list_intersect(sa.sh, sb.sh)) / """ +
        """(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))) AS BIGINT) AS jaccard_bp """ +
        """FROM cand JOIN s sa ON cand.doc_a = sa.doc_id JOIN s sb ON cand.doc_b = sb.doc_id """ +
        s"""WHERE ${jaccardCondSql("len(list_intersect(sa.sh, sb.sh))",
          "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))")}"""),
    "dedup_keep_best" ->
      (s"""WITH RECURSIVE $ngramPairCtes, """ +
        """pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b """ +
        s"""FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $ngramPairCond), """ +
        """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs """ +
        """UNION SELECT doc_b, doc_a FROM pairs), """ +
        """reach(src, dst) AS (SELECT src, dst FROM edges """ +
        """UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), """ +
        """cl AS (SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_rep """ +
        """FROM reach GROUP BY src), """ +
        s"""q AS (SELECT doc_id, $qualityBpSql AS quality_bp FROM d), """ +
        """r AS (SELECT cl.cluster_rep, cl.doc_id, q.quality_bp, """ +
        """row_number() OVER (PARTITION BY cl.cluster_rep """ +
        """ORDER BY q.quality_bp DESC, cl.doc_id) AS rn, """ +
        """count(*) OVER (PARTITION BY cl.cluster_rep) AS nm """ +
        """FROM cl JOIN q USING (doc_id)) """ +
        """SELECT cluster_rep, doc_id AS keep_doc_id, quality_bp, """ +
        """CAST(nm AS BIGINT) AS n_members FROM r WHERE rn = 1"""),
    "text_token_budget" ->
      // quality_bp IS NOT NULL mirrors the Spark side's explicit
      // exclusion of unscorable docs (see TextOps.tokenBudget)
      ("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
        s"""t AS (SELECT doc_id, $qualityBpSql AS quality_bp, """ +
        """CAST(len(w) AS BIGINT) AS n_tokens FROM d), """ +
        """c AS (SELECT doc_id, quality_bp, n_tokens, """ +
        """CAST(sum(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id """ +
        """ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t """ +
        """WHERE quality_bp IS NOT NULL) """ +
        """SELECT doc_id, quality_bp, n_tokens, cum_tokens FROM c """ +
        """WHERE cum_tokens <= 12000"""),
    "text_domain_mix" ->
      ("""WITH r AS (SELECT doc_id, lang, """ +
        """CAST(row_number() OVER (PARTITION BY lang """ +
        """ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS mix_rank """ +
        """FROM documents) """ +
        """SELECT doc_id, lang, mix_rank FROM r WHERE mix_rank <= """ +
        """CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 25 WHEN 'es' THEN 25 """ +
        """WHEN 'fr' THEN 25 WHEN 'zh' THEN 25 ELSE 0 END"""),
    "text_shuffle" ->
      ("""SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, """ +
        """CAST(row_number() OVER (PARTITION BY doc_id % 8 """ +
        """ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos """ +
        """FROM documents"""),
    "text_tokens" ->
      ("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, """ +
        """CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct, """ +
        """CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words, """ +
        s"""CAST(len(regexp_extract_all(text, '${TextOps.bpePattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens """ +
        """FROM documents"""),
    "text_quality" ->
      ("""WITH d AS (SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS w FROM documents), """ +
        """q AS (SELECT doc_id, nc, len(w) AS n, """ +
        s"""len(list_filter(w, x -> x IN (${TextOps.stopwords.map(s => s"'$s'").mkString(",")}))) AS ns FROM d) """ +
        """SELECT doc_id, CAST(nc AS BIGINT) AS n_chars_m, CAST(n AS BIGINT) AS n_tokens, """ +
        """CAST(floor(10000.0 * ns / n) AS BIGINT) AS stop_ratio_bp, """ +
        """CAST(least(5000, n * 25) + floor(5000.0 * ns / n) AS BIGINT) AS quality_bp FROM q"""),
    "text_langid" -> {
      val scoreCols = TextOps.langMarkers.map { case (lang, ms) =>
        s"len(list_filter(w, x -> x IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$lang"
      }.mkString(", ")
      val langs = TextOps.langMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val pred = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, lang, $scoreCols FROM d),
         |b AS (SELECT *, $best AS best FROM s)
         |SELECT doc_id, lang AS lang_label, $pred AS lang_pred,
         |CAST(best AS BIGINT) AS marker_hits FROM b""".stripMargin
    },
    "text_fingerprint" ->
      (s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS s, """ +
        """generate_subscripts(string_split(text, ' '), 1) AS i FROM documents), """ +
        s"""h AS (SELECT doc_id, i * (${weakHashSql("s")}) AS term FROM t) """ +
        s"""SELECT doc_id, CAST(CAST(sum(term) AS BIGINT) % ${TextOps.FP_MOD} AS BIGINT) AS fingerprint """ +
        """FROM h GROUP BY doc_id"""),
    "text_corpus_stats" ->
      ("""SELECT lang, count(*) AS n_docs, """ +
        """CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens, """ +
        """CAST(sum(length(text)) AS BIGINT) AS sum_chars, """ +
        """CAST(floor(100.0 * sum(len(string_split(text, ' '))) / count(*)) AS BIGINT) """ +
        """AS avg_tokens_c FROM documents GROUP BY lang"""),
    "text_sample_split" ->
      ("""SELECT doc_id, lang, """ +
        """CASE WHEN doc_id % 100 < 80 THEN 'train' ELSE 'valid' END AS split """ +
        """FROM documents"""),
    "text_vocab_topk" ->
      ("""SELECT token, CAST(count(*) AS BIGINT) AS n FROM """ +
        """(SELECT unnest(string_split(text, ' ')) AS token FROM documents) """ +
        """GROUP BY token ORDER BY n DESC, token LIMIT 20"""),
    "text_contamination" ->
      (s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
        s"""sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM d WHERE len(w) >= 3), """ +
        """bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5) """ +
        """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles FROM sh """ +
        """WHERE doc_id >= 5 AND s IN (SELECT s FROM bench) GROUP BY doc_id"""),
    "text_normalize" ->
      ("""SELECT doc_id, nfc_normalize(trim(regexp_replace(lower(text), """ +
        """'\s+', ' ', 'g'))) AS norm_text FROM documents"""),
    "text_repetition" ->
      ("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
        s"""s AS (SELECT doc_id, len(w) AS n, len($shinglesSql) AS n3d, """ +
        s"""unnest($bigramsSql) AS bg """ +
        """FROM d WHERE len(w) >= 2), """ +
        """c AS (SELECT doc_id, bg, count(*) AS c, max(n) AS n, max(n3d) AS n3d """ +
        """FROM s GROUP BY doc_id, bg), """ +
        """p AS (SELECT doc_id, max(c) AS mx, sum(c) AS n2, max(n) AS n, max(n3d) AS n3d """ +
        """FROM c GROUP BY doc_id) """ +
        """SELECT doc_id, CAST(floor(10000.0 * mx / n2) AS BIGINT) AS top2_bp, """ +
        """CAST(CASE WHEN n - 2 > 0 THEN floor(10000.0 * (n - 2 - n3d) / (n - 2)) """ +
        """ELSE 0 END AS BIGINT) AS dup3_bp FROM p"""),
    "text_redact" ->
      ("""SELECT doc_id, regexp_replace(regexp_replace(text, """ +
        """'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), """ +
        """'[0-9]{4,}', '<NUM>', 'g') AS red_text FROM documents"""),
    "text_tfidf" ->
      ("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), """ +
        """tf AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY doc_id, token), """ +
        """df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), """ +
        """n AS (SELECT count(*) AS n FROM documents) """ +
        """SELECT doc_id, token, CAST(c AS BIGINT) AS tf, """ +
        """round(c * ln((SELECT n FROM n) * 1.0 / df), 6) AS tfidf """ +
        """FROM tf JOIN df USING (token)"""),
    "text_cosine_pairs" ->
      ("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
        s"""t AS (SELECT doc_id, unnest($bigramsSql) AS term FROM d), """ +
        """tf AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY doc_id, term), """ +
        """df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), """ +
        """n AS (SELECT count(*) AS n FROM documents), """ +
        """w AS (SELECT doc_id, term, c * ln((SELECT n FROM n) * 1.0 / df) AS w """ +
        """FROM tf JOIN df USING (term) WHERE df * 5 <= (SELECT n FROM n)), """ +
        """wn AS (SELECT doc_id, term, w, sqrt(sum(w * w) OVER (PARTITION BY doc_id)) AS nrm FROM w), """ +
        """p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nrm AS nrm_a, b.nrm AS nrm_b, """ +
        """count(*) AS shared, sum(a.w * b.w) AS dotp FROM wn a JOIN wn b """ +
        """ON a.term = b.term AND a.doc_id < b.doc_id """ +
        """GROUP BY a.doc_id, b.doc_id, a.nrm, b.nrm HAVING count(*) >= 10) """ +
        """SELECT doc_a, doc_b, shared, """ +
        """round(dotp / (nrm_a * nrm_b), 6) AS cos_sim FROM p"""),
    "llm_pipeline" ->
      (s"""WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), """ +
        s"""alld AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
        s"""bench AS (SELECT DISTINCT unnest($shinglesSql) AS s FROM alld WHERE doc_id < 5 AND len(w) >= 3), """ +
        s"""scored AS (SELECT doc_id, w FROM alld WHERE doc_id >= 5 AND doc_id IN (SELECT doc_id FROM surv) """ +
        s"""AND least(5000, len(w) * 25) + floor(5000.0 * len(list_filter(w, x -> x IN (${TextOps.stopwords.map(s => s"'$s'").mkString(",")}))) / len(w)) >= 2500), """ +
        s"""hits AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest($shinglesSql) AS s FROM scored WHERE len(w) >= 3) WHERE s IN (SELECT s FROM bench)), """ +
        """clean AS (SELECT doc_id, doc_id % 8 AS shard, len(w) AS n FROM scored WHERE doc_id NOT IN (SELECT doc_id FROM hits)), """ +
        """c AS (SELECT doc_id, shard, n, sum(n) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off FROM clean) """ +
        """SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(end_off - n AS BIGINT) AS start_off, """ +
        """CAST(end_off AS BIGINT) AS end_off, CAST(floor((end_off - n) / 512.0) AS BIGINT) AS bin FROM c"""),
    "text_quality_bins" -> qualityBinsSql,
    "text_lm_score" ->
      ("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
        s"""occ AS (SELECT doc_id, unnest($bigramsSql) AS term FROM d), """ +
        """big AS (SELECT term, count(*) AS cb FROM occ GROUP BY term), """ +
        """ctx AS (SELECT split_part(term, ' ', 1) AS w1, count(*) AS cw FROM occ GROUP BY 1), """ +
        """v AS (SELECT count(DISTINCT token) AS v FROM """ +
        """(SELECT unnest(string_split(text, ' ')) AS token FROM documents)), """ +
        """s AS (SELECT doc_id, ln((cb + 1) * 1.0 / (cw + (SELECT v FROM v))) AS lp """ +
        """FROM (SELECT doc_id, term, split_part(term, ' ', 1) AS w1 FROM occ) o """ +
        """JOIN big USING (term) JOIN ctx USING (w1)) """ +
        """SELECT doc_id, count(*) AS n_bigrams, """ +
        """round(sum(lp) / count(*), 6) AS avg_logp FROM s GROUP BY doc_id"""),
    "text_stratified_sample" ->
      (s"""WITH bins AS ($qualityBinsSql), """ +
        """r AS (SELECT lang, decile, doc_id, quality_bp, row_number() OVER """ +
        """(PARTITION BY lang, decile ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM bins) """ +
        """SELECT lang, decile, doc_id, quality_bp FROM r WHERE rn <= 5"""),
    "text_pack" ->
      ("""WITH d AS (SELECT doc_id, doc_id % 8 AS shard, """ +
        """len(string_split(text, ' ')) AS n FROM documents), """ +
        """c AS (SELECT doc_id, shard, n, sum(n) OVER (PARTITION BY shard """ +
        """ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off FROM d) """ +
        """SELECT doc_id, CAST(shard AS BIGINT) AS shard, """ +
        """CAST(end_off - n AS BIGINT) AS start_off, CAST(end_off AS BIGINT) AS end_off, """ +
        """CAST(floor((end_off - n) / 512.0) AS BIGINT) AS bin FROM c"""),
    "sim_quantize" ->
      ("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        """m AS (SELECT vec_id, emb, list_max([abs(x) for x in emb]) AS ma FROM e) """ +
        """SELECT vec_id, array_to_string(CASE WHEN ma = 0 THEN [CAST(0 AS BIGINT) for x in emb] """ +
        """ELSE [CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT) for x in emb] END, ',') AS qvec_csv, """ +
        """ma / 127.0 AS scale FROM m"""),
    "sim_cluster_assign" ->
      ("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        """n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e), """ +
        """c AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cn FROM n WHERE vec_id < 16), """ +
        """s AS (SELECT n.vec_id, c.cid, list_dot_product(n.emb, c.cemb) / (n.nrm * c.cn) AS sim """ +
        """FROM n CROSS JOIN c), """ +
        """r AS (SELECT vec_id, cid, row_number() OVER """ +
        """(PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s) """ +
        """SELECT vec_id, CAST(cid AS BIGINT) AS cell FROM r WHERE rn = 1"""),
    "sim_kmeans_step" ->
      ("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        """n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e), """ +
        """c AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cn FROM n WHERE vec_id < 16), """ +
        """s AS (SELECT n.vec_id, c.cid, list_dot_product(n.emb, c.cemb) / (n.nrm * c.cn) AS sim """ +
        """FROM n CROSS JOIN c), """ +
        """r AS (SELECT vec_id, cid, row_number() OVER """ +
        """(PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s), """ +
        """a AS (SELECT vec_id, cid AS cell FROM r WHERE rn = 1), """ +
        """x AS (SELECT a.cell, unnest([{'dim': i, 'v': emb[i + 1]} for i in """ +
        """range(0, len(emb))]) AS u FROM a JOIN e USING (vec_id)) """ +
        """SELECT CAST(cell AS BIGINT) AS cell, CAST(u.dim AS BIGINT) AS dim, """ +
        """count(*) AS n_vecs, round(avg(u.v), 6) AS centroid_r6 """ +
        """FROM x GROUP BY 1, 2"""),
    "sim_kmeans_train" -> kmeansTrainSql(),
    "sim_knn_pq" -> pqKnnSql(),
    "sim_knn" ->
      ("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        """q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10), """ +
        """scored AS (SELECT q.q_id, e.vec_id, """ +
        """list_dot_product(q.q_emb, e.emb) / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(e.emb, e.emb))) AS c """ +
        """FROM e JOIN q ON e.vec_id <> q.q_id), """ +
        """ranked AS (SELECT q_id, vec_id, c, row_number() OVER """ +
        """(PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank FROM scored) """ +
        """SELECT q_id, vec_id, round(c, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank """ +
        """FROM ranked WHERE rank <= 5"""),
    "sim_knn_lsh" ->
      // sim_knn's CTEs restricted to same-SRP-bucket candidates: the
      // bucketing is the deterministic srpBucketSql replay (shared with
      // sim_embed_neardup), so recall loss vs the exact kNN is replayed
      // identically, not approximated
      ("""WITH e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        s"""e AS (SELECT vec_id, emb, $srpBucketSql AS bucket FROM e0), """ +
        """q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket FROM e WHERE vec_id < 10), """ +
        """scored AS (SELECT q.q_id, e.vec_id, """ +
        """list_dot_product(q.q_emb, e.emb) / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(e.emb, e.emb))) AS c """ +
        """FROM e JOIN q ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id), """ +
        """ranked AS (SELECT q_id, vec_id, c, row_number() OVER """ +
        """(PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank FROM scored) """ +
        """SELECT q_id, vec_id, round(c, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank """ +
        """FROM ranked WHERE rank <= 5"""),
    "sim_knn_ivf" ->
      // sim_cluster_assign's CTEs give every corpus vector its cell; each
      // query probes its nProbe=2 nearest cells (same sim-desc/cid-asc
      // tie-break); candidates = corpus rows in probed cells, exact
      // cosine re-rank — a corpus row lives in exactly one cell, so no
      // pair can duplicate across probes
      (s"""$ivfRankedCtes """ +
        """SELECT q_id, vec_id, round(c, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank """ +
        """FROM ranked WHERE rank <= 5"""),
    "sim_knn_rerank" ->
      // the IVF shortlist (rank <= RerankShortlist) re-scored on the
      // JOINED pair's features: RerankCosWeight*cosine +
      // RerankMatchWeight*[labels equal] (the cross-encoder stand-in),
      // re-ranked with the same desc/vec_id tie-break — all four
      // constants rendered from SimilarityOps below
      (s"""$ivfRankedCtes, """ +
        s"""short AS (SELECT q_id, vec_id, round(c, 6) AS cos_sim """ +
        s"""FROM ranked WHERE rank <= ${SimilarityOps.RerankShortlist}), """ +
        """l AS (SELECT vec_id, label FROM embeddings), """ +
        s"""j AS (SELECT s.q_id, s.vec_id, round(${SimilarityOps.RerankCosWeight} * s.cos_sim + """ +
        s"""${SimilarityOps.RerankMatchWeight} * (CASE WHEN lc.label = lq.label THEN 1.0 ELSE 0.0 END), 6) AS rescore """ +
        """FROM short s JOIN l lq ON lq.vec_id = s.q_id JOIN l lc ON lc.vec_id = s.vec_id), """ +
        """rr AS (SELECT q_id, vec_id, rescore, row_number() OVER """ +
        """(PARTITION BY q_id ORDER BY rescore DESC, vec_id) AS rank FROM j) """ +
        """SELECT q_id, vec_id, rescore, CAST(rank AS BIGINT) AS rank """ +
        s"""FROM rr WHERE rank <= ${SimilarityOps.RerankK}"""),
    "sim_embed_neardup" ->
      ("""WITH e0 AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        s"""e AS (SELECT vec_id, label, emb, $srpBucketSql AS bucket FROM e0) """ +
        """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, """ +
        """round(list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos_sim """ +
        """FROM e a JOIN e b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id """ +
        """WHERE list_dot_product(a.emb, b.emb) / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.9"""),
    "sim_semantic_dedup" ->
      // cluster-assign CTEs shared verbatim with sim_cluster_assign; the
      // drop rule is pure pair membership (no rank, no float output)
      ("""WITH e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        """n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e0), """ +
        """c AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cn FROM n WHERE vec_id < 16), """ +
        """s AS (SELECT n.vec_id, c.cid, list_dot_product(n.emb, c.cemb) / (n.nrm * c.cn) AS sim """ +
        """FROM n CROSS JOIN c), """ +
        """r AS (SELECT vec_id, cid, row_number() OVER """ +
        """(PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s), """ +
        """a AS (SELECT vec_id, cid AS cell FROM r WHERE rn = 1), """ +
        s"""eb AS (SELECT n.vec_id, emb, nrm, $srpBucketSql AS bucket, cell """ +
        """FROM n JOIN a USING (vec_id)), """ +
        """p AS (SELECT DISTINCT y.vec_id FROM eb x JOIN eb y """ +
        """ON x.cell = y.cell AND x.bucket = y.bucket AND x.vec_id < y.vec_id """ +
        """WHERE list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm) >= 0.35) """ +
        """SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, """ +
        """a.vec_id NOT IN (SELECT vec_id FROM p) AS kept FROM a"""),
    "sim_normalize" ->
      ("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings), """ +
        """n AS (SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm, emb FROM e), """ +
        """u AS (SELECT vec_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, """ +
        """unnest(emb) AS x, nrm FROM n) """ +
        """SELECT vec_id, dim, round(x / nrm, 6) AS unit_val FROM u"""),
    "mm_meta" ->
      ("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, """ +
        """CAST(ascii(text) AS BIGINT) AS first_byte, """ +
        """CAST(octet_length(encode(text)) % 3 + 1 AS BIGINT) AS fake_channels """ +
        """FROM documents"""),
    "mm_near_dup" -> mmNearDupSql,
    "mm_near_dup_seeded" -> mmNearDupSeededSql,
    "mm_near_dup_widened" -> mmNearDupWidenedSql,
    // The batch-codec stub replays (round 12): frame slices / stride
    // downsample / byte histogram over the ASCII byte=char invariant,
    // every constant rendered from the Multimodal definitions.
    "mm_frame_sample" -> {
      val nf = Multimodal.FrameSampleN
      s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents), """ +
        s"""p AS (SELECT doc_id, text, n, greatest(1, n // $nf) AS flen, """ +
        s"""least($nf, greatest(1, n // greatest(1, n // $nf))) AS nf FROM d), """ +
        """fr AS (SELECT doc_id, text, n, flen, unnest(range(0, nf)) AS f FROM p) """ +
        """SELECT doc_id, CAST(f AS BIGINT) AS frame_no, """ +
        """md5(text[f*flen+1 : least(n, (f+1)*flen)]) AS frame_md5, """ +
        """CAST(least(n, (f+1)*flen) - f*flen AS BIGINT) AS frame_len FROM fr"""
    },
    "mm_resize" -> {
      val (w, h) = (Multimodal.ResizeW, Multimodal.ResizeH)
      s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents), """ +
        s"""s AS (SELECT doc_id, text, n, greatest(1, n // ${w * h}) AS st FROM d), """ +
        """idx AS (SELECT doc_id, text, st, unnest(range(0, n, st)) AS i """ +
        """FROM s WHERE n > 0), """ +
        """agg AS (SELECT doc_id, md5(string_agg(text[i+1:i+1], '' ORDER BY i)) """ +
        """AS payload_md5, count(*) AS out_len FROM idx GROUP BY doc_id) """ +
        s"""SELECT d.doc_id, CAST($w AS BIGINT) AS width, """ +
        s"""CAST($h AS BIGINT) AS height, """ +
        """coalesce(agg.payload_md5, md5('')) AS payload_md5, """ +
        """CAST(coalesce(agg.out_len, 0) AS BIGINT) AS out_len """ +
        """FROM d LEFT JOIN agg USING (doc_id)"""
    },
    "mm_features" ->
      ("""WITH d AS (SELECT doc_id, text FROM documents), """ +
        """b AS (SELECT unnest(range(0, 8)) AS bucket), """ +
        """ch AS (SELECT doc_id, ascii(text[j:j]) // 32 AS bucket """ +
        """FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS j """ +
        """FROM documents) z), """ +
        """cnt AS (SELECT doc_id, bucket, count(*) AS c FROM ch GROUP BY 1, 2) """ +
        """SELECT d.doc_id, CAST(b.bucket AS BIGINT) AS bucket, """ +
        """CAST(coalesce(cnt.c, 0) AS BIGINT) AS cnt """ +
        """FROM d CROSS JOIN b LEFT JOIN cnt """ +
        """ON cnt.doc_id = d.doc_id AND cnt.bucket = b.bucket"""))

  /** Full replay of the duplicated-span dataflow: seed windows keyed by
    * the md5 of their joined tokens, the df-cap, the diagonal
    * gaps-and-islands run recovery, and the maximal-span threshold — all
    * constants render from the [[graft.operators.TextOps]] definitions. */
  /** The position-keyed seed-window inverted index CTEs (d → sh → elig),
    * shared verbatim by the substring-span and containment oracles so the
    * window/df-cap definitions can never drift between them. */
  private lazy val spanIndexCtes: String = {
    val k = TextOps.SpanSeedTokens
    val cap = TextOps.SpanDfCap
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
      s"""sh AS (SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+${k - 1}], ' ')) AS h """ +
      s"""FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${k - 2})) AS i FROM d WHERE len(w) >= $k)), """ +
      s"""elig AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS ndocs FROM sh GROUP BY h) WHERE ndocs <= $cap)"""
  }

  /** Content-defined chunking replay: rolling weakHash windows, cut at
    * hash % mod == 0, chunk key = md5 of the in-order hash sequence,
    * df-capped key join, exact integer Jaccard (same rendering discipline
    * as dedup_ngram_jaccard). Shared by the dedup_cdc_chunks oracle and
    * the dedup_report composition. */
  /** Per-doc distinct CDC chunk-key sets (`cks`), assuming a `d`
    * (doc_id, split-words) CTE is in scope — mirrors
    * [[TextOps.cdcChunkSets]]; shared by the CDC pair miner's oracle
    * and the audit-mode report's. */
  private lazy val cdcChunkSetCtes: String =
    s"""p0 AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+${TextOps.CdcWindowTokens - 1}], ' ') AS ws """ +
      s"""FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${TextOps.CdcWindowTokens - 2})) AS i """ +
      s"""FROM d WHERE len(w) >= ${TextOps.CdcWindowTokens})), """ +
      s"""ph AS (SELECT doc_id, pos, ${weakHashSql("ws")} AS hv FROM p0), """ +
      s"""ci AS (SELECT doc_id, pos, hv, sum(CASE WHEN hv % ${TextOps.CdcBoundaryMod} = 0 THEN 1 ELSE 0 END) """ +
      """OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id FROM ph), """ +
      """cks AS (SELECT DISTINCT doc_id, md5(string_agg(CAST(hv AS VARCHAR), '_' ORDER BY pos)) AS ck """ +
      """FROM ci GROUP BY doc_id, chunk_id)"""

  private lazy val dedupCdcChunksSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), """ +
      s"""$cdcChunkSetCtes, """ +
      s"""elig AS (SELECT ck FROM (SELECT ck, count(*) AS nd FROM cks GROUP BY ck) WHERE nd <= ${TextOps.CdcDfCap}), """ +
      """sets AS (SELECT doc_id, ck FROM cks WHERE ck IN (SELECT ck FROM elig)), """ +
      """sz AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id), """ +
      """pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common_chunks """ +
      """FROM sets a JOIN sets b ON a.ck = b.ck AND a.doc_id < b.doc_id GROUP BY 1, 2) """ +
      """SELECT doc_a, doc_b, CAST(common_chunks AS BIGINT) AS common_chunks, """ +
      """CAST(floor(10000.0 * common_chunks / (za.n + zb.n - common_chunks)) AS BIGINT) AS jaccard_bp """ +
      """FROM pr JOIN sz za ON pr.doc_a = za.doc_id JOIN sz zb ON pr.doc_b = zb.doc_id """ +
      s"""WHERE ${jaccardCondSql("common_chunks", "(za.n + zb.n - common_chunks)")}"""

  /** Directed verbatim-containment replay over the shared window index:
    * distinct surviving windows per doc, key self-join, exact-integer
    * threshold (TextOps.ContainmentNum/Den multiplied through). */
  private lazy val dedupContainmentSql: String = {
    val num = TextOps.ContainmentNum
    val den = TextOps.ContainmentDen
    s"""WITH $spanIndexCtes, """ +
      """sets AS (SELECT DISTINCT doc_id, h FROM sh WHERE h IN (SELECT h FROM elig)), """ +
      """sz AS (SELECT doc_id, count(*) AS n_h FROM sets GROUP BY doc_id), """ +
      """p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared """ +
      """FROM sets a JOIN sets b ON a.h = b.h AND a.doc_id <> b.doc_id GROUP BY 1, 2) """ +
      s"""SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared, """ +
      s"""CAST(floor(10000.0 * shared / n_h) AS BIGINT) AS containment_bp """ +
      s"""FROM p JOIN sz ON p.doc_a = sz.doc_id WHERE shared * $den >= n_h * $num"""
  }

  private lazy val dedupSubstringSpansSql: String = {
    val k = TextOps.SpanSeedTokens
    val minSpan = TextOps.MinSpanTokens
    s"""WITH $spanIndexCtes, """ +
      """m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb """ +
      """FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id """ +
      """WHERE a.h IN (SELECT h FROM elig)), """ +
      """isl AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag, """ +
      """pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl_id FROM m), """ +
      s"""sp AS (SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS start_a, """ +
      s"""CAST(min(pb) AS BIGINT) AS start_b, CAST(count(*) + ${k - 1} AS BIGINT) AS span_tokens """ +
      """FROM isl GROUP BY doc_a, doc_b, diag, isl_id) """ +
      s"""SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM sp WHERE span_tokens >= $minSpan"""
  }

  /** Cross-modality report replay — each modality CTE replays its own
    * oracle (the containment subquery carries the dedup_containment WITH
    * block — DuckDB scopes subquery CTEs locally), keys = union of
    * flagged pairs, evidence NULL where a modality did not fire. Shared
    * by the dedup_report entry and the dedup_clusters_report
    * composition. */
  private lazy val dedupReportSql: String =
    s"""WITH $ngramPairCtes, """ +
      // group-size cap (TextOps.ExactDupGroupCap): only hashes with
      // 2..cap members pair — replays the Spark side's degenerate-
      // group guard (unreachable at oracle scale, mirrored for truth)
      """exq AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM documents a """ +
      """JOIN documents b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id """ +
      """WHERE md5(a.text) IN (SELECT md5(text) FROM documents """ +
      s"""GROUP BY md5(text) HAVING count(*) BETWEEN 2 AND ${TextOps.ExactDupGroupCap})), """ +
      """jq AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, """ +
      """CAST(floor(10000.0 * len(list_intersect(a.sh, b.sh)) / """ +
      """(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT) AS jaccard_bp """ +
      s"""FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $ngramPairCond), """ +
      s"""sq AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, """ +
      """CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming """ +
      s"""FROM ($simhashSigSql) sa JOIN ($simhashSigSql) sb ON sa.doc_id < sb.doc_id """ +
      """WHERE bit_count(xor(sa.sig, sb.sig)) <= 3), """ +
      s"""cq AS (SELECT * FROM ($dedupContainmentSql) c), """ +
      s"""dq AS (SELECT doc_a, doc_b, jaccard_bp AS cdc_jaccard_bp FROM ($dedupCdcChunksSql) z), """ +
      """cab AS (SELECT doc_a, doc_b, containment_bp FROM cq WHERE doc_a < doc_b), """ +
      """cba AS (SELECT doc_b AS doc_a, doc_a AS doc_b, containment_bp FROM cq WHERE doc_a > doc_b), """ +
      """keys AS (SELECT doc_a, doc_b FROM exq UNION SELECT doc_a, doc_b FROM jq """ +
      """UNION SELECT doc_a, doc_b FROM sq UNION SELECT doc_a, doc_b FROM dq """ +
      """UNION SELECT doc_a, doc_b FROM cab """ +
      """UNION SELECT doc_a, doc_b FROM cba) """ +
      """SELECT k.doc_a, k.doc_b, (e.doc_a IS NOT NULL) AS is_exact, """ +
      """j.jaccard_bp, q.hamming AS simhash_hamming, dd.cdc_jaccard_bp, """ +
      """ca.containment_bp AS contained_ab_bp, cb.containment_bp AS contained_ba_bp, """ +
      """CAST(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END """ +
      """+ CASE WHEN j.jaccard_bp IS NOT NULL THEN 1 ELSE 0 END """ +
      """+ CASE WHEN q.hamming IS NOT NULL THEN 1 ELSE 0 END """ +
      """+ CASE WHEN dd.cdc_jaccard_bp IS NOT NULL THEN 1 ELSE 0 END """ +
      """+ CASE WHEN ca.containment_bp IS NOT NULL OR cb.containment_bp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_modalities """ +
      """FROM keys k """ +
      """LEFT JOIN exq e ON k.doc_a = e.doc_a AND k.doc_b = e.doc_b """ +
      """LEFT JOIN jq j ON k.doc_a = j.doc_a AND k.doc_b = j.doc_b """ +
      """LEFT JOIN sq q ON k.doc_a = q.doc_a AND k.doc_b = q.doc_b """ +
      """LEFT JOIN dq dd ON k.doc_a = dd.doc_a AND k.doc_b = dd.doc_b """ +
      """LEFT JOIN cab ca ON k.doc_a = ca.doc_a AND k.doc_b = ca.doc_b """ +
      """LEFT JOIN cba cb ON k.doc_a = cb.doc_a AND k.doc_b = cb.doc_b"""

  /** Full replay of the perceptual near-dup dataflow: the stub codec's
    * segment-sum grid (the documents payload is ASCII text, so DuckDB's
    * character loop sees exactly the payload bytes — pinned by the
    * QueriesSpec ASCII invariant), the banded sign-projection signature
    * ([[graft.operators.Multimodal.perceptualBandKeys]] — round 11
    * widened the band space 4×2¹⁶ → 6×2²⁰ via ±1 projections of the
    * cell-deviation vector), the banded candidate join, and the
    * cross-multiplied integer-L1 verify. Every constant renders from the
    * [[graft.operators.Multimodal]] definitions so the two sides cannot
    * desynchronize. */
  private lazy val mmNearDupSql: String = mmNearDupSqlOver("documents")

  /** mm_near_dup over documents ∪ the [[graft.operators.Multimodal]]
    * seed payloads — `repeat()` expressions rendered from the SAME
    * constants the Spark side builds its seed strings from, so the two
    * sides construct byte-identical payloads. Guarantees ≥3 answer rows
    * at every scale factor (see Multimodal.seedPayloads), closing the
    * vacuous-0=0 gap in the plain oracle row. */
  private lazy val mmSeededSourceSql: String = {
    val u = Multimodal.SeedUnit
    val e = Multimodal.SeedEditedUnit
    val r = Multimodal.SeedReps
    s"""(SELECT doc_id, text FROM documents """ +
      s"""UNION ALL SELECT CAST(-3 AS BIGINT), rtrim(repeat('$u', $r)) """ +
      s"""UNION ALL SELECT CAST(-2 AS BIGINT), rtrim(repeat('$u', $r)) """ +
      s"""UNION ALL SELECT CAST(-1 AS BIGINT), """ +
      s"""rtrim('$e' || repeat('$u', ${r - 1}))) AS src"""
  }

  private lazy val mmNearDupSeededSql: String =
    mmNearDupSqlOver(mmSeededSourceSql)

  /** The seeded oracle under the SIMULATED >2.8 M-doc corpus count —
    * replays Multimodal.perceptualNearDupWidened: band_bits is computed
    * by the SAME autoBandBits formula over the rendered
    * WidenedOracleSimDocs literal, so the auto-widened geometry (25-bit
    * bands, 150-bit signatures) is pinned end-to-end by hash-compared
    * answer rows at every scale factor. */
  private lazy val mmNearDupWidenedSql: String =
    mmNearDupSqlOver(mmSeededSourceSql,
      simulatedDocs = Some(Multimodal.WidenedOracleSimDocs))

  private def mmNearDupSqlOver(source: String,
      simulatedDocs: Option[Long] = None): String = {
    val dims = Multimodal.PerceptualDims
    val defBandBits = Multimodal.PerceptualBandBits
    val bands = Multimodal.PerceptualBands
    val maxBandBits = Multimodal.MaxAutoBandBits
    val denom = Multimodal.NearDupL1Denom
    val mod = TextOps.MOD
    // corpus count feeding the geometry formula: the real count(*) for
    // the shipped rows (keeps the oracle valid PAST DefaultGeometryMaxDocs
    // — it widens exactly when the Spark plan does), or the rendered
    // simulated literal for the widened row
    val nExpr = simulatedDocs.map(_.toString)
      .getOrElse("(SELECT count(*) FROM d0)")
    s"""WITH d0 AS (SELECT doc_id, text, length(text) AS n FROM $source), """ +
      // plan-time band-width selection replayed in SQL — the EXACT
      // autoBandBits formula over the corpus count: band_bits =
      // min(max, max(default, ceil(log2(bands·n/1.0)))), n floored at 1
      // like the Scala side's nDocs<=0 default (log2(0) would error)
      s"""nb AS (SELECT CAST(least($maxBandBits, greatest($defBandBits, """ +
      s"""CAST(ceil(log2($bands * greatest($nExpr, 1) / 1.0)) AS BIGINT))) AS BIGINT) AS band_bits), """ +
      """ch AS (SELECT doc_id, n, text, unnest(range(1, n + 1)) AS j FROM d0), """ +
      s"""cl AS (SELECT doc_id, ((j-1)*$dims)//n AS k, sum(ascii(text[j:j])) AS cell """ +
      """FROM ch GROUP BY 1, 2), """ +
      s"""kk AS (SELECT unnest(range(0, $dims)) AS k), """ +
      // densified grid: a payload shorter than the cell count leaves empty
      // segments, which the Spark-side dense array carries as zeros
      """grid AS (SELECT d0.doc_id, kk.k, CAST(coalesce(cl.cell, 0) AS BIGINT) AS cell """ +
      """FROM d0 CROSS JOIN kk LEFT JOIN cl ON cl.doc_id = d0.doc_id AND cl.k = kk.k), """ +
      """tot AS (SELECT doc_id, CAST(sum(cell) AS BIGINT) AS total FROM grid GROUP BY doc_id), """ +
      // the perceptualParams pairs rendered as a VALUES list FROM the
      // Multimodal definition (the simhashSigSql discipline — hardcoding
      // the formula here could silently desynchronize if the offsets
      // change), at the MAXIMUM geometry autoBandBits can choose:
      // perceptualParams is prefix-stable (bit j's params depend on j
      // alone), so the runtime band_bits restricts to a prefix below.
      // Bit j = sign of Σ_k s_jk·(cell_k·dims − total); ranges stay
      // < 2^36, exact in BIGINT on both engines
      s"""pj AS (SELECT * FROM (VALUES ${
        Multimodal.perceptualParams(maxBandBits * bands).zipWithIndex
          .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
      }) AS t(j, a, b)), """ +
      s"""dev AS (SELECT g.doc_id, g.k, g.cell * $dims - t.total AS dv """ +
      """FROM grid g JOIN tot t ON g.doc_id = t.doc_id), """ +
      s"""pbits AS (SELECT d.doc_id, p.j, CASE WHEN """ +
      s"""sum(CASE WHEN ((p.a*(d.k+1)+p.b) % $mod)*2 > $mod THEN d.dv ELSE -d.dv END) >= 0 """ +
      """THEN 1 ELSE 0 END AS bit FROM dev d CROSS JOIN pj p CROSS JOIN nb """ +
      s"""WHERE p.j < nb.band_bits * $bands GROUP BY d.doc_id, p.j), """ +
      s"""bk AS (SELECT doc_id, j // nb.band_bits AS band, """ +
      s"""CAST(sum(CAST(bit AS BIGINT) << CAST(j % nb.band_bits AS INTEGER)) AS BIGINT) AS bkey """ +
      s"""FROM pbits CROSS JOIN nb GROUP BY 1, 2), """ +
      """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b """ +
      """FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id), """ +
      """l1 AS (SELECT c.doc_a, c.doc_b, ta.total AS total_a, tb.total AS total_b, """ +
      """CAST(sum(abs(ga.cell * tb.total - gb.cell * ta.total)) AS BIGINT) AS l1x """ +
      """FROM cand c JOIN grid ga ON ga.doc_id = c.doc_a """ +
      """JOIN grid gb ON gb.doc_id = c.doc_b AND gb.k = ga.k """ +
      """JOIN tot ta ON ta.doc_id = c.doc_a JOIN tot tb ON tb.doc_id = c.doc_b """ +
      """GROUP BY 1, 2, 3, 4) """ +
      // HUGEINT twins of the Spark side's DECIMAL(38,0) products (both
      // overflow BIGINT for near-threshold multi-megabyte profiles); the
      // zero-total guard matches the Spark-side degenerate-payload filter
      s"""SELECT doc_a, doc_b, CAST((10000 * CAST(l1x AS HUGEINT)) // """ +
      s"""(CAST(total_a AS HUGEINT) * total_b) AS BIGINT) AS l1_bp """ +
      s"""FROM l1 WHERE $denom * CAST(l1x AS HUGEINT) <= """ +
      s"""CAST(total_a AS HUGEINT) * total_b AND total_a > 0 AND total_b > 0"""
  }
}
