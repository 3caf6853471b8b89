package graft

import graft.operators.{Multimodal, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Query-surface checks on sf0.001: every SparkEntry entry returns rows,
  * approximate ops agree with their exact twins, multimodal batch decode
  * works through the typed Dataset path. */
class QueriesSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows on sf0.001") {
    // no near-dup embeddings by construction; and no ANGLE-near payload
    // profiles at sf0.001 — mm_near_dup's r11 sign-projection banding
    // deliberately stopped catching the gapless L1-coincidence tail
    // (SURVEY §7.5), same 0-rows-with-0-row-oracle contract as
    // sim_embed_neardup (green in every correctness gate since r7)
    val allowEmpty = Set("sim_embed_neardup", "mm_near_dup")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(allowEmpty.contains(name) || n > 0, s"$name returned 0 rows")
    }
  }

  test("dedup clusters: pair endpoints share a rep; rep is the component min") {
    val pairs = TextOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val reps = TextOps.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty && reps.nonEmpty)
    // connectivity: both endpoints of every near-dup pair resolve to the
    // same canonical survivor
    pairs.foreach { case (a, b) =>
      assert(reps(a) === reps(b), s"pair ($a,$b) split across clusters")
    }
    // canonical: the rep is the min of its component and its own rep
    reps.foreach { case (d, r) =>
      assert(r <= d, s"rep $r above doc $d")
      assert(reps(r) === r, s"rep $r is not a fixpoint")
    }
    // the DISTRIBUTED min-label path (localEdgeLimit = -1 forces it
    // unconditionally — 0 would still route an empty graph to the local
    // path and make this comparison vacuous) must produce the identical
    // labeling; reps.nonEmpty above guarantees the comparison has teeth
    val distributed = TextOps
      .dedupClustersFromPairs(TextOps.nearDupPairs(spark, dir), -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed === reps)
  }

  test("dedup clusters: empty pair graph yields an empty result, not a crash") {
    assert(TextOps.dedupClusters(spark, dir, threshold = 1.5).count() === 0)
  }

  test("every oracle key has a matching query key") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle entries without queries: $unknown")
  }

  test("ngram jaccard finds unequal-size containment pairs (prefix-bound regression)") {
    // A (3 shingles) fully contained in B (5 shingles), J = 3/5 = 0.6 ≥ t.
    // The unsound 2t/(1+t) both-sided prefix bound missed this pair; the
    // per-side n − ⌈t·n⌉ + 1 bound must find it.
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ngram").toString
    Seq(
      (1L, "a b c d e", "en", "src0", 9L),
      (2L, "x y a b c d e", "en", "src0", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = graft.operators.TextOps.dedupNgramJaccard(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 6000L)), pairs.mkString(","))
  }

  test("LSH near-dup pairs ⊆ exact pairs, with full recall on this data") {
    val exact = TextOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.lshNearDupPairs(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH produced a pair the exact op rejects")
    // MinHash-LSH recall is probabilistic in general; on the synthetic
    // near-dups (jaccard ≥ 0.5 by construction) the 2-band signature
    // should catch everything — if this flakes, bands/rows need retuning.
    assert(lsh === exact, s"LSH missed ${exact.size - lsh.size} exact pairs")
  }

  test("embedding near-dup: exact-duplicate recall, exact cosines, label fences hold") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-embdup").toString
    // 3 exact duplicates in label 0 (identical vectors always land in the
    // same SRP bucket — recall 1 on the primary dedup case), an unrelated
    // vector in label 0 (must fail the cosine verify even if co-bucketed),
    // and a duplicate of v under ANOTHER label (must never pair across)
    val v = (0 until 64).map(i => (math.sin(i + 1.0) * 0.7).toFloat)
    val u = (0 until 64).map(i => (math.cos(2.0 * i + 1.0) * 0.4).toFloat)
    Seq((1L, v, 0), (2L, v, 0), (3L, v, 0), (4L, u, 0), (5L, v, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = SimilarityOps.embeddingNearDup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2))
    assert(got.map(x => (x._1, x._2)).toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    got.foreach(x => assert(x._3 === 1.0, s"duplicate pair cosine ${x._3}"))
  }

  test("LSH hot-bucket cap: a tiny cap drops pairs but never invents them") {
    val uncapped = TextOps.lshNearDupPairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap of 1: every bucket with >1 member — i.e. every bucket that can
    // produce a pair — is dropped, so the result must be empty (and the
    // run exercises the census + anti-join + warn path)
    val allCapped = TextOps.lshNearDupPairs(spark, dir, maxBucketSize = 1)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(allCapped.isEmpty, s"cap=1 left ${allCapped.size} pairs")
    // a generous cap must be a no-op on this corpus
    val wideCapped = TextOps.lshNearDupPairs(spark, dir, maxBucketSize = 100000)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wideCapped === uncapped)
  }

  test("LSH hot-bucket fallback: hot count past isinLimit takes the broadcast anti-join path") {
    val spark2 = spark
    import spark2.implicits._
    // pathological stub corpus: 1100 "families" of 3 identical docs — each
    // family's band buckets hold ≥3 members, so with cap=2 they are ALL
    // hot (weakHash is deliberately weak, so families merge into ~150
    // distinct hot buckets — still far past the isinLimit below, forcing
    // the broadcast anti-join branch instead of the literal isin) — plus
    // ONE cold exact-dup pair whose buckets hold 2 members (≤ cap) and
    // must survive the exclusion
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshhot").toString
    val families = (0 until 1100).flatMap { i =>
      val text = s"fam${i}a fam${i}b fam${i}c fam${i}d"
      (0 until 3).map(j => (100L + i * 3 + j, text, "en", "stub", text.length.toLong))
    }
    val cold = Seq(
      (1L, "cold pair survives the cap", "en", "stub", 27L),
      (2L, "cold pair survives the cap", "en", "stub", 27L))
    (families ++ cold)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // construction check: the census really exceeds the isinLimit used
    // below — derived through the SAME bandBuckets encoding the operator
    // uses, so the check cannot drift from production keys
    val hotCount = TextOps.bandBuckets(TextOps.minhashSignatures(spark, tmp))
      .groupBy("bucket").count().filter(col("count") > 2).count()
    assert(hotCount > 100, s"stub corpus produced only $hotCount hot buckets")
    val got = TextOps.lshNearDupPairs(spark, tmp, maxBucketSize = 2,
        isinLimit = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only the cold exact pair remains; every family pair was dropped with
    // its hot buckets (bounded-cost trade documented on the operator)
    assert(got.toSeq === Seq((1L, 2L, 10000L)), got.mkString(","))
    // the literal-isin path on the SAME corpus must agree exactly — the
    // two exclusion plans are semantically identical
    val viaIsin = TextOps.lshNearDupPairs(spark, tmp, maxBucketSize = 2,
        isinLimit = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaIsin.toSeq === got.toSeq)
  }

  test("incremental dedup: fresh batch judged against frozen corpus only") {
    val spark2 = spark
    import spark2.implicits._
    val seen = Seq(
      (1L, "alpha beta gamma delta epsilon"), // frozen corpus
      (2L, "one two three four five six"),
      (3L, "x")) // shingle-less seen doc: only exact-hash can match it
      .toDF("doc_id", "text")
    val fresh = Seq(
      (300L, "alpha beta gamma delta epsilon"), // exact copy of 1 → dropped
      (301L, "one two three four five seven"),  // near-dup of 2 → dropped
      (302L, "totally novel content here now"), // novel → kept
      (303L, "x"),                              // exact copy of shingle-less 3 → dropped
      (304L, "y"))                              // shingle-less novel → kept
      .toDF("doc_id", "text")
    val got = TextOps.dedupIncrementalOf(fresh, seen).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (300L, 1L, false), (301L, 2L, false), (302L, -1L, true),
      (303L, 3L, false), (304L, -1L, true)), got.mkString(","))
    // fresh docs are never judged against EACH OTHER: two identical
    // fresh docs both survive when neither matches the corpus
    val twins = Seq((400L, "twin text never seen before ok"),
      (401L, "twin text never seen before ok")).toDF("doc_id", "text")
    val kept = TextOps.dedupIncrementalOf(twins, seen).collect()
    assert(kept.forall(_.getBoolean(2)), kept.mkString(","))
    // disk-backed frozen index (writeSeenIndex → readSeenIndex): the
    // parquet snapshot round-trip must yield verdicts identical to the
    // in-memory index — the at-scale storage form is not a different
    // operator
    val snap = java.nio.file.Files.createTempDirectory("graft-seenidx-spec")
    TextOps.writeSeenIndex(TextOps.seenIndexOf(seen), snap.toString)
    val viaDisk = TextOps.dedupIncrementalAgainst(fresh,
        TextOps.readSeenIndex(spark, snap.toString), containment = true)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    val viaMem = TextOps.dedupIncrementalOf(fresh, seen, containment = true)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(viaDisk.toSeq === viaMem.toSeq,
      s"disk=${viaDisk.mkString(",")} mem=${viaMem.mkString(",")}")
  }

  test("LSH knn ranks are consistent with brute force where buckets agree") {
    val bf = SimilarityOps.knnBruteForce(spark, dir)
      .select("q_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lsh = SimilarityOps.knnLsh(spark, dir)
      .select("q_id", "vec_id", "cos_sim").collect()
    assert(lsh.nonEmpty)
    // every LSH hit must be a real vector pair with the same cosine the
    // brute-force op would compute (checked via membership when ranked)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bf.get(key).foreach(rank => assert(rank >= 1 && rank <= 5))
    }
  }

  test("IVF knn: every returned neighbor carries its true exact cosine") {
    val bfAll = SimilarityOps.knnBruteForce(spark, dir, k = 499)
      .select("q_id", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = SimilarityOps.knnIvf(spark, dir).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // the IVF result must quote the same cosine the exact op computes
      assert(bfAll.contains(key), s"pair $key not a valid corpus pair")
      assert(math.abs(bfAll(key) - r.getDouble(2)) < 1e-9)
    }
    // every query that probed non-empty cells returns k results
    val perQ = ivf.groupBy(_.getLong(0)).view.mapValues(_.length)
    perQ.foreach { case (q, n) => assert(n <= 5 && n > 0, s"q=$q n=$n") }
  }

  test("native as-of operator is row-identical to the compositional twin") {
    val comp = graft.operators.ExtraOps.asofErrorSignup(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    val native = graft.operators.ExtraOps.asofErrorSignupNative(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(comp.nonEmpty)
    assert(native === comp)
  }

  test("native as-of edge semantics: ties match, null keys drop, outer fills") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq((Option(1L), 10L, "l1"), (Option(1L), 20L, "l2"),
        (Option(2L), 5L, "l3"), (Option.empty[Long], 7L, "l4"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (2L, 9L, "r9"))
      .toDF("k", "t0", "pay")
    // pay is a nullable string; t0 as pay_t is a NON-NULLABLE long — the
    // outer fill must produce real NULLs for it, not primitive zeros
    // (exercises the widened-nullability projection binding)
    def run(inner: Boolean) = graft.operators.AsOfJoin
      .asofNative(left, right, "k", "t", "t0",
        Map("pay" -> "pay", "t0" -> "pay_t"), inner)
      .collect().map(r => (r.getString(2), Option(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    // tie (t=10 vs t0=10) matches; t=20 takes the latest prior (r15);
    // l3 precedes every right row of its key; l4 has a null key
    assert(run(inner = true) ===
      Set(("l1", Some("r10"), Some(10L)), ("l2", Some("r15"), Some(15L))))
    assert(run(inner = false) ===
      Set(("l1", Some("r10"), Some(10L)), ("l2", Some("r15"), Some(15L)),
        ("l3", None, None), ("l4", None, None)))
  }

  test("native as-of equals compositional twin on randomized inputs") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic seeds; constraints keep us inside the shared
    // contract: non-null keys/times (documented divergence) and unique
    // right (key, time) pairs (documented tie ambiguity)
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(6)
      val left = (1 to 120).map { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(50).toLong, i.toLong)
      }.toDF("k", "t", "lid")
      val right = rnd.shuffle(
        (for (k <- 0 until nKeys; t <- 0 until 50 if rnd.nextBoolean())
          yield (k.toLong, t.toLong, k * 1000L + t)).toList)
        .toDF("k", "t0", "pay")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      Seq(true, false).foreach { inner =>
        val comp = rows(graft.operators.AsOfJoin.asof(
          left, right, "k", "t", "t0", Map("pay" -> "pay"), inner))
        val native = rows(graft.operators.AsOfJoin.asofNative(
          left, right, "k", "t", "t0", Map("pay" -> "pay"), inner))
        assert(native === comp, s"seed=$seed inner=$inner")
      }
    }
  }

  test("PQ knn: valid pairs, exact cosines, high recall, deterministic") {
    val bfAll = SimilarityOps.knnBruteForce(spark, dir, k = 499)
      .select("q_id", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bfTop = SimilarityOps.knnBruteForce(spark, dir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilarityOps.knnPq(spark, dir).collect()
    assert(pq.nonEmpty)
    // structural: no self-pairs, exactly 5 ranked results per query,
    // ranks are 1..5 (ADC scores every vector, so the shortlist — and
    // hence the result set — never runs short of k candidates)
    val byQ = pq.groupBy(_.getLong(0))
    assert(byQ.keySet === bfTop.map(_._1))
    byQ.foreach { case (q, rows) =>
      assert(rows.length === 5, s"q=$q returned ${rows.length}")
      assert(rows.map(_.getLong(3)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
      rows.foreach(r => assert(r.getLong(1) !== q))
    }
    // the re-rank stage must quote the TRUE cosine for every emitted pair
    pq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bfAll.contains(key), s"pair $key not a valid corpus pair")
      assert(math.abs(bfAll(key) - r.getDouble(2)) < 1e-9)
    }
    // recall@5 vs exact: the 10%-of-corpus ADC shortlist + exact re-rank
    // recovers nearly all true neighbors (0.98 measured); the floor
    // leaves margin while still catching a broken encoder (random codes
    // would score ~shortlist/N ≈ 10%)
    val hits = pq.map(r => (r.getLong(0), r.getLong(1))).count(bfTop.contains)
    val recall = hits.toDouble / bfTop.size
    info(f"PQ recall@5 = $recall%.2f")
    assert(recall >= 0.7, f"recall@5 $recall%.2f below floor")
    // deterministic codebooks + tie-breaks: a second run is identical
    val again = SimilarityOps.knnPq(spark, dir).collect()
    assert(pq.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("multimodal batch decode: deterministic metadata through mapPartitions") {
    val meta = Multimodal.decodeBatch(Multimodal.withPayload(spark, dir))
    val rows = meta.collect()
    assert(rows.length === 500)
    rows.foreach { m =>
      assert(m.n_bytes > 0)
      assert(m.width >= 64 && m.width < 128)
      assert(m.channels == 3 || m.channels == 1)
      assert((m.format == "img/fake-rgb") == (m.channels == 3))
    }
    // deterministic: same input → same output
    val again = Multimodal.decodeBatch(Multimodal.withPayload(spark, dir)).collect()
    assert(rows.sortBy(_.doc_id).toSeq === again.sortBy(_.doc_id).toSeq)
  }

  test("multimodal: feature extract, resize, frame sample batch stubs") {
    val payloads = Multimodal.withPayload(spark, dir)
    val feats = Multimodal.featureExtractBatch(payloads).collect()
    assert(feats.length === 500)
    feats.foreach { f =>
      assert(f.features.length === 8)
      assert(math.abs(f.features.sum - 1.0f) < 1e-3) // normalized histogram
    }
    val resized = Multimodal.resizeBatch(payloads, 8, 8).collect()
    assert(resized.length === 500)
    resized.foreach(r => assert(r.width === 8 && r.payload.nonEmpty))
    val frames = Multimodal.frameSampleBatch(payloads, 4)
    val byDoc = frames.collect().groupBy(_.doc_id)
    assert(byDoc.size === 500)
    byDoc.values.foreach { fs =>
      assert(fs.length <= 4 && fs.nonEmpty)
      assert(fs.map(_.frame_no).sorted.toSeq === (0 until fs.length))
    }
  }

  test("knn rerank: pairs come FROM the IVF shortlist — re-scoring reorders, never injects") {
    val short = SimilarityOps.knnIvf(spark, dir, k = SimilarityOps.RerankShortlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = SimilarityOps.knnRerank(spark, dir).collect()
    assert(rr.nonEmpty)
    rr.foreach { r =>
      assert(short((r.getLong(0), r.getLong(1))),
        s"(${r.getLong(0)}, ${r.getLong(1)}) not in the ANN shortlist")
      val score = r.getDouble(2)
      // 0.8·cos ∈ [-0.8, 0.8], match bonus ∈ {0, 0.2}
      assert(score <= 1.0 + 1e-9 && score >= -0.8 - 1e-9, s"score $score")
    }
    info(s"rerank rows: ${rr.length}")
  }

  test("testdata invariant: no zero-norm embeddings (cosine oracle NaN guard)") {
    // kmeans/knn oracles ORDER BY cosine DESC: DuckDB sorts NaN first
    // while the Spark strict-greater argmax leaves cent_id = -1 — a
    // zero-norm vector would diverge the engines. Pin the invariant that
    // keeps both sides NaN-free instead of guarding every oracle.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val minNorm = spark.read.parquet(s"$d/embeddings.parquet")
        .select(aggregate(col("embedding"), lit(0.0d),
          (a, x) => a + x.cast("double") * x.cast("double")).as("n2"))
        .agg(min(col("n2"))).head().getDouble(0)
      assert(minNorm > 0.0, s"zero-norm embedding in $d would NaN the oracles")
    }
  }

  test("multimodal: injected codec replaces the stub, opened once per partition") {
    QueriesSpec.CodecOpens.set(0)
    val payloads = Multimodal.withPayload(spark, dir).repartition(3)
    val meta = Multimodal.decodeBatch(payloads, QueriesSpec.ProbeCodec).collect()
    assert(meta.length === 500)
    assert(meta.forall(m => m.format === "img/probe" && m.channels === 7))
    // the decoder context is allocated per PARTITION, never per record —
    // the contract a real (ffmpeg/imageio) codec's native state relies on
    assert(QueriesSpec.CodecOpens.get === 3,
      s"expected 3 opens (one per partition), got ${QueriesSpec.CodecOpens.get}")
    val feats = Multimodal.featureExtractBatch(payloads, QueriesSpec.ProbeCodec)
      .collect()
    assert(feats.forall(f => f.features.sameElements(Array(42f))))
    val frames = Multimodal.frameSampleBatch(payloads, 4, QueriesSpec.ProbeCodec)
      .collect()
    assert(frames.length === 500 && frames.forall(_.frame_no === 99))
  }

  test("substring spans: maximal shared runs with exact positions; short overlaps suppressed") {
    import spark.implicits._
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val shared30 = toks("s", 30)
    val shared10 = toks("u", 10) // below MinSpanTokens — must not report
    val docs = Seq(
      1L -> s"${toks("a", 20)} $shared30 ${toks("t", 10)}",
      2L -> s"$shared30 $shared10 ${toks("q", 12)}",
      3L -> s"${toks("c", 5)} $shared10 ${toks("z", 30)}")
      .toDF("doc_id", "text")
    val spans = TextOps.dedupSubstringSpansOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // the 30-token passage sits at token 21 of doc 1 and token 1 of doc 2,
    // and the island recovery must report it ONCE, maximal, not as the 23
    // overlapping 8-token seeds it is made of
    assert(spans === Map((1L, 2L) -> ((21L, 1L, 30L))),
      s"unexpected span set: $spans")
  }

  test("containment: short doc inside long doc pairs one-directionally at the exact threshold") {
    import spark.implicits._
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val quoted = toks("s", 20) // 20 tokens → 13 distinct 8-token windows
    val docs = Seq(
      1L -> quoted, // wholly quoted inside doc 2
      2L -> s"$quoted ${toks("x", 37)}", // 57 tokens → 50 windows
      3L -> toks("z", 20)) // unrelated
      .toDF("doc_id", "text")
    val rows = TextOps.dedupContainmentOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // every window of doc 1 appears verbatim in doc 2 → containment(1→2)
    // = 13/13 = 10000 bp; the reverse direction is 13/50 < 1/2 and the
    // unrelated doc shares nothing — both must be absent
    assert(rows === Map((1L, 2L) -> ((13L, 10000L))),
      s"unexpected containment set: $rows")
  }

  test("cosine pairs: salted, prefix and kernel strategies are result-identical to the plain term join across a multi-block posting list") {
    import spark.implicits._
    // 6000 docs; "a b" lands in 1200 of them — df = 1200 survives the
    // n/5 = 1200 cap at the boundary AND exceeds CosineBlockSize (1024),
    // so the salted path cuts its posting list into k = 2 blocks. The 50
    // qualifying docs ("a b c d": shared = 3 ≥ 2) straddle the block
    // boundary (25 in docs 1–25 → blk 0; 25 in 1150–1174 → blk 1), so
    // qualifying pairs accumulate terms from MIXED block pairs: "a b"
    // matches in (0,0)/(0,1)/(1,1), "b c"/"c d" (df = 50, k = 1) in
    // their single block — pinning exactly-once cross-block generation.
    // The same fixture exercises the prefix filter (minShared = 2 →
    // prefix = all but each doc's hottest term, so "a b" — the hottest —
    // drops from every prefix and candidates come from "b c"/"c d"
    // alone) and the block kernel (8 hash blocks over 6000 docs pin
    // exactly-once diagonal + cross-block pairing).
    val docs = (1 to 6000).map { i =>
      val text =
        if (i <= 25 || (i >= 1150 && i < 1175)) "a b c d"
        else if (i <= 1200) "a b"
        else s"u$i v$i"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    def run(strategy: String) =
      TextOps.textCosinePairsOf(docs, minShared = 2, dfCapFrac = 5,
        strategy = strategy)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
    val plain = run("plain")
    assert(plain.size === 1225, s"expected C(50,2) pairs, got ${plain.size}")
    plain.values.foreach { case (sh, cos) =>
      assert(sh === 3L); assert(math.abs(cos - 1.0) <= 1e-6)
    }
    for (strategy <- Seq("salted", "prefix", "kernel")) {
      val alt = run(strategy)
      assert(alt.keySet === plain.keySet, s"$strategy pair set diverged")
      plain.foreach { case (k, (sh, cos)) =>
        assert(alt(k)._1 === sh, s"$strategy: shared diverged at $k")
        // all sides round to 6 dp; the fold ORDER may differ between the
        // shapes, so allow the last ulp of the rounded grid
        assert(math.abs(alt(k)._2 - cos) <= 1e-6,
          s"$strategy: cosine diverged at $k")
      }
    }
  }

  test("cdc chunks: a single mid-document insertion re-keys only the chunks it touches") {
    import spark.implicits._
    // 200-token doc → ~12 expected chunks (boundary every ~16 windows);
    // doc 2 inserts ONE token mid-stream. CDC's defining property:
    // boundaries re-synchronize after the edit (the hash SEQUENCE
    // downstream is unchanged, and chunk keys hash content, not
    // positions), so only the chunk(s) overlapping the edit change —
    // the pair must clear the 0.5 Jaccard easily. A shingle-set index
    // has the same robustness but at one row per TOKEN; the chunk index
    // is ~16× coarser (asserted: far fewer chunks than windows).
    val base = (1 to 200).map(i => s"tok${i * 7 % 101}")
    val edited = (base.take(100) :+ "INSERTED") ++ base.drop(100)
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, edited.mkString(" ")),
      (3L, (1 to 200).map(i => s"other${i * 13 % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = TextOps.dedupCdcChunksOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet === Set((1L, 2L)),
      s"expected exactly the edited pair, got ${rows.keySet}")
    val (common, bp) = rows((1L, 2L))
    assert(common >= 3, s"insertion destroyed chunk sharing: $common common")
    assert(bp >= 5000, s"jaccard too low for a 1-token edit: $bp bp")
  }

  test("dedup report: Of-variant over the raw relation equals the dir-based op") {
    TextOps.clearMinedPairs()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val viaDir = rows(TextOps.dedupReport(spark, dir))
    val viaOf = rows(TextOps.dedupReportOf(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))))
    assert(viaDir.nonEmpty && viaDir === viaOf)
    TextOps.clearMinedPairs()
  }

  test("dedup report: memo-warm rerun equals the cold run (and skips the artifact scan)") {
    TextOps.clearMinedPairs()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val cold = rows(TextOps.dedupReport(spark, dir))
    // the cold run warmed all four miner memos; the rerun takes the
    // raw-scan exact path (allWarm) and must produce identical rows
    val warm = rows(TextOps.dedupReport(spark, dir))
    assert(cold.nonEmpty && cold === warm)
    TextOps.clearMinedPairs()
  }

  test("simhash signatures: native kernel ≡ exploded-groupBy twin on real documents (sf0.001)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = sigs(TextOps.simhashSigOf(docs))
    val twin = sigs(TextOps.simhashSigOfLambda(docs))
    assert(kernel.nonEmpty && kernel === twin,
      s"diverged: ${kernel.toSet.diff(twin.toSet).take(3)}")
  }

  test("span windows: native kernel ≡ md5-lambda twin on real documents (sf0.001)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val kernel = rows(TextOps.spanWindows(docs))
    val twin = rows(TextOps.spanWindowsLambda(docs))
    assert(kernel.nonEmpty && kernel === twin,
      s"diverged: only-kernel=${(kernel -- twin).take(3)} " +
        s"only-twin=${(twin -- kernel).take(3)}")
  }

  test("cdc chunk keys: native kernel ≡ HOF-fold twin on real documents (sf0.001)") {
    // the kernel (CdcChunkKeysExpr: one pass, codegen) and the built-ins
    // fold must emit the SAME (doc_id, ck) set — the twin re-derives the
    // window hashes, boundary splits, and md5 keys from independent
    // machinery (transform/aggregate/md5), so a kernel bug in any of the
    // three stages diverges here
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val kernel = keys(TextOps.cdcChunkSets(docs))
    val lambda = keys(TextOps.cdcChunkSetsLambda(docs))
    assert(kernel.nonEmpty, "expected chunks at sf0.001")
    assert(kernel === lambda,
      s"kernel/lambda diverged: only-kernel=${(kernel -- lambda).take(3)} " +
        s"only-lambda=${(lambda -- kernel).take(3)}")
  }

  test("cosine pairs: all four strategies agree pairwise on real documents (sf0.001)") {
    // the synthetic fixture pins exactly-once pairing; this pins the
    // strategies on the REAL corpus shape (flat dfs, multi-term overlaps,
    // non-trivial tf) that the correctness driver hashes at sf0.01 —
    // minShared = 3 so the tiny corpus yields a non-trivial pair set
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def run(strategy: String) =
      TextOps.textCosinePairsOf(docs, minShared = 3, dfCapFrac = 5,
        strategy = strategy)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
    val plain = run("plain")
    assert(plain.nonEmpty, "expected qualifying pairs at sf0.001")
    for (strategy <- Seq("salted", "prefix", "kernel")) {
      val alt = run(strategy)
      assert(alt.keySet === plain.keySet, s"$strategy pair set diverged")
      plain.foreach { case (k, (sh, cos)) =>
        assert(alt(k)._1 === sh, s"$strategy: shared diverged at $k")
        assert(math.abs(alt(k)._2 - cos) <= 1e-6,
          s"$strategy: cosine diverged at $k")
      }
    }
  }

  test("cosine pairs: the result does not depend on the expansion's task count (2 vs 64)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def run(parts: Int) =
      TextOps.textCosinePairsOf(docs, minShared = 3, dfCapFrac = 5,
        strategy = "plain", expandParts = Some(parts))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
    val two = run(2)
    val wide = run(64)
    assert(two.nonEmpty, "expected qualifying pairs at sf0.001")
    assert(wide.keySet === two.keySet, "pair set depends on the task count")
    two.foreach { case (k, (sh, cos)) =>
      assert(wide(k)._1 === sh, s"shared diverged at $k")
      // the same 1e-6 grid tolerance as the strategy-agreement spec: the
      // dot-product fold order follows the partitioning
      assert(math.abs(wide(k)._2 - cos) <= 1e-6, s"cosine diverged at $k")
    }
  }

  test("cosine pairs: the shipped op runs fewer than 100 tasks on sf0.001") {
    // 65 KB of documents: the per-doc stage and the pair expansion are
    // sized from the data (2 tasks each here), not from a fixed floor
    val sc = spark.sparkContext
    val group = s"cosine-task-guard-${System.nanoTime}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val pairs = try {
      sc.setJobGroup(group, "cosine task-count guard")
      // the op is eager: the call runs every job of the query
      try TextOps.textCosinePairs(spark, dir)
      finally {
        sc.clearJobGroup()
        org.apache.spark.graft.ListenerBusDrain.drain(sc)
      }
    } finally sc.removeSparkListener(listener)
    assert(pairs.count() > 0)
    info(s"text_cosine_pairs ran ${tasks.get} tasks")
    assert(tasks.get > 0, "no task of the guarded jobs was seen")
    assert(tasks.get < 100, s"text_cosine_pairs ran ${tasks.get} tasks")
  }

  test("mm perceptual near-dup: identical payloads pair at distance 0, dissimilar profiles verify out") {
    import spark.implicits._
    val body = ("the quick brown fox jumps over the lazy dog " * 20).trim
    // doc 3 band-collides with 1/2 (its uniform first half sets the same
    // low signature bits) but its segment profile is far beyond the L1
    // gate — candidate generation alone must not produce a pair
    val skew = "z" * 400 + " " * 400
    // doc 4 is a NON-identical angle-near payload (one byte +1): the
    // regime the sign-projection banding is documented to catch with
    // ~full recall — pins the END-TO-END miner producing rows beyond the
    // trivially-identical case (a constant-bkeys regression would still
    // pair 1/2 but must be caught by this pair + the spread test below)
    val tweaked = body.replaceFirst("quick", "qujck")
    val payloads = Seq(
      1L -> body.getBytes("UTF-8"),
      2L -> body.getBytes("UTF-8"),
      3L -> skew.getBytes("UTF-8"),
      4L -> tweaked.getBytes("UTF-8"))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.perceptualNearDupOf(payloads).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"identical payloads not paired: $pairs")
    assert(pairs((1L, 2L)) === 0L)
    assert(pairs.contains((1L, 4L)), s"angle-near payload not paired: $pairs")
    // a one-byte edit's normalized L1 is under one basis point, so the
    // floored rendering reads 0..tiny — far inside the 625 bp gate
    assert(pairs((1L, 4L)) >= 0L && pairs((1L, 4L)) < 100L,
      s"one-byte edit should verify at tiny L1: ${pairs.get((1L, 4L))}")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"dissimilar profile survived the verify: $pairs")
  }

  test("mm perceptual near-dup: injected codec drives the descriptor") {
    val payloads = Multimodal.withPayload(spark, dir).limit(10)
    val descs = Multimodal.perceptualDescriptors(payloads, QueriesSpec.ProbeCodec)
      .collect()
    // probe descriptor = [7, 0, 0, …]: exact integer recovery plus the
    // sign-projection band keys from the ONE shared signature definition
    // (perceptualBandKeys) pin the contract end to end
    val expected = Multimodal.perceptualBandKeys(
      Array.tabulate(Multimodal.PerceptualDims)(k => if (k == 0) 7L else 0L))
    assert(descs.forall(d =>
      d.total === 7L && d.bkeys.toSeq === expected.toSeq))
  }

  test("mm perceptual quarantine: one corrupt payload yields N-1 descriptors + 1 dead-letter row") {
    val n = 10
    val payloads = Multimodal.withPayload(spark, dir).limit(n)
    // codec violates the decoder contract for exactly one doc id (wrong
    // descriptor width) — fail-fast default aborts, quarantine mode
    // routes it to the dead-letter relation instead (K2 idiom)
    val ids = payloads.select("doc_id").collect().map(_.getLong(0)).sorted
    val badId = ids.head
    val codec = QueriesSpec.corruptingCodec(badId)
    intercept[org.apache.spark.SparkException] {
      Multimodal.perceptualDescriptors(payloads, codec).collect()
    }
    val kept = Multimodal.perceptualDescriptors(payloads, codec,
      quarantine = true).collect()
    assert(kept.length === n - 1)
    assert(!kept.exists(_.doc_id == badId))
    val dead = Multimodal.perceptualQuarantine(payloads, codec).collect()
    assert(dead.length === 1)
    assert(dead.head.getLong(0) === badId)
    assert(dead.head.getString(1).contains("out of contract"))
    // the miner composes: fail-fast aborts on the hostile payload,
    // quarantine mode mines the in-contract N-1 documents instead
    intercept[org.apache.spark.SparkException] {
      Multimodal.perceptualNearDupOf(payloads, codec).collect()
    }
    Multimodal.perceptualNearDupOf(payloads, codec, quarantine = true)
      .collect() // must complete — one bad payload no longer aborts
    ()
  }

  test("mm band keys: near-identical payloads agree on every band, corpus keys spread") {
    import spark.implicits._
    val body = ("the quick brown fox jumps over the lazy dog " * 20).trim
    val tweaked = body.replaceFirst("quick", "qujck") // one byte, +1
    val a = Multimodal.perceptualBandKeys(toCells(body))
    val b = Multimodal.perceptualBandKeys(toCells(tweaked))
    val agree = a.zip(b).count { case (x, y) => x == y }
    // recall needs ≥1 intact band (pigeonhole); a one-byte edit should
    // leave nearly all intact — the margin below is what the miner's
    // candidate generation actually depends on
    assert(agree >= Multimodal.PerceptualBands - 2,
      s"near-identical payloads agree on only $agree bands: " +
        s"${a.toSeq} vs ${b.toSeq}")
    // corpus spread: real sf0.001 documents must not pile into few
    // buckets (the round-10 failure mode: correlated threshold bits) —
    // distinct (band, key) census within a factor of ~2 of the maximum
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val banded = Multimodal.perceptualDescriptors(docs)
      .flatMap(d => d.bkeys.zipWithIndex.map { case (k, bnd) => (bnd, k) })
      .distinct().count()
    val nDocs = docs.count()
    assert(banded > Multimodal.PerceptualBands * nDocs / 2,
      s"only $banded distinct band keys for $nDocs docs — keys correlated")
  }

  private def toCells(s: String): Array[Long] = {
    val f = Multimodal.fakePerceptual(0L, s.getBytes("UTF-8"))
    f.map(v => math.round(v.toDouble))
  }

  test("mm auto geometry: plan-time band width at 10^4 / 10^6 / 10^8 docs") {
    // the banding floor bands·n²/2^bandBits stays ≤ n by construction:
    // every oracle/test corpus (≤ ~2.8 M docs) keeps the DEFAULT 144-bit
    // geometry — which is what keeps the rendered DuckDB oracle in sync —
    // and 10^8 docs auto-widen to 30-bit bands without a library edit
    assert(Multimodal.autoBandBits(10L * 1000 * 1000 / 1000) ===
      Multimodal.PerceptualBandBits) // 10^4
    assert(Multimodal.autoBandBits(1000L * 1000) ===
      Multimodal.PerceptualBandBits) // 10^6
    assert(Multimodal.autoBandBits(100L * 1000 * 1000) === 30) // 10^8
    // the floor bound itself: expected collision mass ≤ candidatesPerDoc·n
    Seq(10L * 1000, 1000L * 1000, 100L * 1000 * 1000).foreach { n =>
      val bb = Multimodal.autoBandBits(n)
      val mass = Multimodal.PerceptualBands.toDouble * n / math.pow(2.0, bb) * n
      assert(mass <= n.toDouble + 1e-6, s"n=$n bandBits=$bb mass=$mass")
    }
    // degenerate inputs fall back to the default geometry
    assert(Multimodal.autoBandBits(0L) === Multimodal.PerceptualBandBits)
    // band keys must stay positive int64s at ANY corpus size
    assert(Multimodal.autoBandBits(Long.MaxValue) === 62)
    // the static-geometry oracle's validity bound: DEFAULT geometry up
    // to exactly DefaultGeometryMaxDocs, widened one past it — if
    // testdata ever crosses this, this spec reds before the driver's
    // oracle compare can silently diverge
    val bound = Multimodal.DefaultGeometryMaxDocs
    assert(bound === (1L << Multimodal.PerceptualBandBits) /
      Multimodal.PerceptualBands)
    assert(Multimodal.autoBandBits(bound) === Multimodal.PerceptualBandBits)
    assert(Multimodal.autoBandBits(bound + 1) ===
      Multimodal.PerceptualBandBits + 1)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val n = spark.read.parquet(s"$d/documents.parquet").count()
      assert(n <= bound, s"$d has $n docs — static mm oracle invalid")
    }
  }

  test("mm widened-geometry oracle row: simulated >2.8M-doc count forces non-default bands and keeps the seeded answer rows") {
    // the mm_near_dup_widened query/oracle pair replays autoBandBits's
    // auto-widened regime (round-12 VERDICT item 3): the simulated count
    // must actually leave the default geometry...
    val simBits = Multimodal.autoBandBits(Multimodal.WidenedOracleSimDocs)
    assert(Multimodal.WidenedOracleSimDocs > Multimodal.DefaultGeometryMaxDocs)
    assert(simBits === Multimodal.PerceptualBandBits + 1,
      s"simulated count chose $simBits-bit bands — update the widened " +
        "oracle notes if the geometry constants moved")
    // ...and the widened Spark side still yields the 3 seeded rows (the
    // identical pair collides under ANY geometry; the DuckDB side is
    // hash-compared by the driver / verify_local)
    val rows = Multimodal.perceptualNearDupWidened(spark, dir)
      .filter(col("doc_a") < 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(identity)
    assert(rows.map(t => (t._1, t._2)).toSeq ===
      Seq((-3L, -2L), (-3L, -1L), (-2L, -1L)), rows.toSeq)
    assert(rows.find(t => t._1 == -3L && t._2 == -2L).get._3 === 0L,
      "identical seed pair must verify at L1 = 0")
    // the rendered SQL must carry the simulated literal (not a count(*))
    // so the oracle widens even though the real corpus is small
    val sql = SparkEntry.oracleSql("mm_near_dup_widened")
    assert(sql.contains(Multimodal.WidenedOracleSimDocs.toString), sql.take(400))
  }

  test("mm batch-codec restatements: frames tile the payload prefix, resize strides, features count") {
    import spark.implicits._
    val doc = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).collect().head
    val (id, text) = (doc.getLong(0), doc.getString(1))
    val bytes = text.getBytes("UTF-8")
    // frames: contiguous, in order, and their concatenation is a PREFIX
    // of the payload (the stub never emits past the last full slice)
    val frames = Multimodal.frameSampleBatch(
        Seq(id -> bytes).toDF("doc_id", "payload"), Multimodal.FrameSampleN)
      .collect().sortBy(_.frame_no)
    val joined = frames.flatMap(_.frame.toSeq)
    assert(joined.sameElements(bytes.take(joined.length)))
    assert(frames.length <= Multimodal.FrameSampleN && frames.nonEmpty)
    // resize: every k-th byte, k = floor(n / (w*h))
    val rs = Multimodal.resizeBatch(
        Seq(id -> bytes).toDF("doc_id", "payload"),
        Multimodal.ResizeW, Multimodal.ResizeH).collect().head
    val stride = math.max(1,
      bytes.length / (Multimodal.ResizeW * Multimodal.ResizeH))
    val strided: Array[Byte] =
      bytes.indices.by(stride).map(i => bytes(i)).toArray
    assert(rs.payload.sameElements(strided))
    // features un-normalize to exact byte-bucket counts
    val cnts = Multimodal.mmFeatures(spark, dir)
      .filter(col("doc_id") === id).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val expected = bytes.groupBy(b => ((b & 0xff) >> 5).toLong)
      .map { case (k, v) => k -> v.length.toLong }
    assert((0L to 7L).forall(b => cnts(b) === expected.getOrElse(b, 0L)),
      s"feature counts diverged: $cnts vs $expected")
  }

  test("mm seeded near-dup: oracle twin is non-empty by construction") {
    // the three seed payloads guarantee the (-3,-2) identical pair at
    // L1=0 plus the two one-byte-edit pairs — the rows that pin the
    // signature→banding→verify formula against the DuckDB replay
    // (round-11 VERDICT item 6: the plain oracle row only ever compared
    // empty sets)
    val rows = Multimodal.perceptualNearDupSeeded(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.contains((-3L, -2L)), s"identical seed pair missing: $rows")
    assert(rows((-3L, -2L)) === 0L)
    assert(rows.contains((-3L, -1L)) && rows.contains((-2L, -1L)),
      s"one-byte-edit seed pairs missing: $rows")
    assert(rows((-3L, -1L)) < 100L, s"edit pair L1 too large: $rows")
    // no corpus doc may pair with a seed (disjoint content), and at
    // sf0.001 the corpus itself yields no pairs — exactly 3 rows
    assert(rows.size === 3, s"unexpected extra pairs: $rows")
  }

  test("testdata invariant: documents text is ASCII (mm_near_dup oracle byte=char guard)") {
    // the mm_near_dup oracle walks DuckDB CHARACTERS while the stub codec
    // walks payload BYTES — identical only while the text is pure ASCII
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val nonAscii = spark.read.parquet(s"$d/documents.parquet")
        .filter(octet_length(col("text")) =!= length(col("text"))).count()
      assert(nonAscii === 0L, s"$d has $nonAscii non-ASCII documents")
    }
  }

  test("simhash near-dup docs have close hamming distance") {
    val sh = TextOps.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = TextOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val avgHam = pairs.map { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b))
    }.sum.toDouble / pairs.length
    assert(avgHam < 6.0, s"near-dup avg hamming $avgHam too high for 16 bits")
  }

  test("jaccardCondSql: exact integer rendering for dyadic thresholds, loud failure otherwise") {
    // the library default must stay on the canonical 0.5 fast path — the
    // oracle SQL text is pinned by the driver's hash-match history
    assert(SparkEntry.jaccardCondSql("c", "u") === "2 * c >= u")
    assert(SparkEntry.jaccardCondSql("c", "u", 0.5) === "2 * c >= u")
    // any other dyadic default renders as reduced integer
    // cross-multiplication — no float literal on either engine
    assert(SparkEntry.jaccardCondSql("c", "u", 0.75) === "4 * (c) >= 3 * (u)")
    assert(SparkEntry.jaccardCondSql("c", "u", 0.625) === "8 * (c) >= 5 * (u)")
    assert(SparkEntry.jaccardCondSql("c", "u", 1.0) === "1 * (c) >= 1 * (u)")
    // a non-dyadic threshold has no exact rendering: refuse, don't desync
    intercept[IllegalArgumentException] {
      SparkEntry.jaccardCondSql("c", "u", 0.3)
    }
    ()
  }
}

/** File-scope codec probe: top-level objects serialize as singletons (no
  * spec-class capture), and the static counter is visible because local-mode
  * executors share the JVM. */
object QueriesSpec {
  val CodecOpens = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Codec that violates the decoder contract (wrong descriptor width)
    * for exactly one doc id — the quarantine spec's corrupt payload. */
  def corruptingCodec(badId: Long): Multimodal.MediaCodec =
    new Multimodal.MediaCodec {
      def open(): Multimodal.MediaDecoder = new Multimodal.MediaDecoder {
        def decode(id: Long, b: Array[Byte]): Multimodal.MediaMeta =
          Multimodal.fakeDecode(id, b)
        def features(id: Long, b: Array[Byte]): Multimodal.MediaFeatures =
          Multimodal.fakeFeatures(id, b)
        def resize(id: Long, b: Array[Byte], w: Int, h: Int): Multimodal.ResizedMedia =
          Multimodal.fakeResize(id, b, w, h)
        def frames(id: Long, b: Array[Byte], n: Int): Iterator[Multimodal.MediaFrame] =
          Multimodal.fakeFrames(id, b, n)
        def perceptual(id: Long, b: Array[Byte]): Array[Float] =
          if (id == badId) Array(1f, 2f)
          else Multimodal.fakePerceptual(id, b)
      }
    }

  object ProbeCodec extends Multimodal.MediaCodec {
    def open(): Multimodal.MediaDecoder = {
      CodecOpens.incrementAndGet()
      new Multimodal.MediaDecoder {
        def decode(id: Long, b: Array[Byte]): Multimodal.MediaMeta =
          Multimodal.MediaMeta(id, b.length, "img/probe", 1, 2, 7)
        def features(id: Long, b: Array[Byte]): Multimodal.MediaFeatures =
          Multimodal.MediaFeatures(id, Array(42f))
        def resize(id: Long, b: Array[Byte], w: Int, h: Int): Multimodal.ResizedMedia =
          Multimodal.ResizedMedia(id, w, h, b.take(1))
        def frames(id: Long, b: Array[Byte], n: Int): Iterator[Multimodal.MediaFrame] =
          Iterator(Multimodal.MediaFrame(id, 99, b.take(1)))
        def perceptual(id: Long, b: Array[Byte]): Array[Float] =
          Array.tabulate(Multimodal.PerceptualDims)(k => if (k == 0) 7f else 0f)
      }
    }
  }
}
