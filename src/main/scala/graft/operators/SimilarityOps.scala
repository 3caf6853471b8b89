package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * array<float>, label) — approximate-nearest-neighbor building blocks for
  * a training-data pipeline.
  *
  * Baseline: brute-force cosine top-k (exact, broadcast the small query
  * side, scan the corpus once — at 100 TB this is the "re-rank" stage).
  * Scale path: sign-random-projection LSH bucketing (Charikar '02) that
  * prunes the corpus to matching buckets before exact re-ranking.
  *
  * All arithmetic is double, folded in index order, so the DuckDB oracle
  * (same fold order) produces bit-identical values before rounding.
  */
object SimilarityOps {

  import EventOps.tbl

  /** Σ aᵢ·bᵢ over two float arrays, computed in double, in index order —
    * the native codegen kernel (DotProductExpr). */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.dot_ff(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The shared kNN emission contract (knnBruteForce/knnLsh/knnIvf/knnPq):
    * per-query rank on (`cos_sim` desc, vec_id) — deterministic tie-break —
    * keep k, 6-dp continuum rounding, long rank. One definition so the
    * output contract cannot silently diverge between the exact op and its
    * ANN siblings. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"),
        round(col("cos_sim"), 6).as("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Brute-force exact cosine top-k: queries = vec_id < 10 (broadcast),
    * corpus scanned once; per-query top-5 via window with deterministic
    * tie-break.
    *
    * Norms are computed ONCE per vector (projected before the join) rather
    * than per pair — same values (identical per-vector fold), 3× fewer
    * folds. At 100 TB: normalize-and-store at ingest, making the scan a
    * single fused dot product per pair. */
  def knnBruteForce(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    topK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for SRP-LSH:
    * unit-free integer weights derived from (plane, dim) by a splitmix-like
    * mix — reproducible across engines and runs with no RNG object. */
  private def planeWeight(plane: Int, dim: Column): Column = {
    // reduce mod p before multiplying so the product stays well under 2^63
    val x = ((dim + lit(plane * 1315423911L)) % lit(1000003L)) *
      lit(2654435761L) % lit(1000003L)
    (x % lit(2001L)) - lit(1000L) // pseudo-uniform in [-1000, 1000]
  }

  /** Pure-Scala twin of [[planeWeight]] — lets the DuckDB oracle (and
    * specs) replay the exact hyperplanes as literal weight vectors. */
  def planeWeightScala(plane: Int, dim: Int): Long = {
    val x = ((dim + plane * 1315423911L) % 1000003L) * 2654435761L % 1000003L
    (x % 2001L) - 1000L
  }

  /** Sign-random-projection bucket id (nBits hyperplanes → integer bucket). */
  def srpBucket(emb: Column, nBits: Int): Column =
    (0 until nBits).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, i) => x.cast("double") * planeWeight(p, i).cast("double")),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed ANN: hash corpus + queries to SRP buckets, search only
    * same-bucket candidates, exact cosine re-rank. Approximate vs the
    * exact kNN (recall < 1, spec-verified against knnBruteForce), but
    * DETERMINISTIC given the fixed hyperplanes — so the DuckDB oracle
    * replays the same SRP bucketing and candidate ranking exactly. */
  def knnLsh(spark: SparkSession, dir: String, k: Int = 5,
      nBits: Int = 8): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
      .withColumn("bucket", srpBucket(col("embedding"), nBits))
      .withColumn("nrm", norm(col("embedding")))
    // the query side's bucket is aliased: both buckets derive from the same
    // expression tree, and unaliased Column equality on a shared derived
    // column logs a misleading "trivially true equals predicate" warning
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"), col("nrm").as("q_nrm"))
    val scored = emb.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    topK(scored, k)
  }

  /** The deterministic coarse quantizer shared by [[knnIvf]] and
    * [[cellAssignments]]: centroid literals + per-row assignment
    * expressions. Collect is bounded by the constant nCentroids; norms
    * are folded exactly like Kernels.dotFF (index order, double acc). */
  private case class CoarseQuantizer(centArr: Column) {
    /** Per-row cosine to every centroid, evaluated in cent_id order. */
    def centSims(e: Column, n: Column): Column =
      transform(centArr, c => struct(
        (dot(e, c.getField("c_emb")) / (n * c.getField("c_nrm"))).as("sim"),
        c.getField("cent_id").as("cent_id")))
    /** Argmax: strictly-greater keeps the earliest (lowest cent_id) on
      * ties — identical tie-break to a (sim desc, cent_id asc) rank-1
      * window. */
    def nearestCell(e: Column, n: Column): Column =
      aggregate(centSims(e, n),
        struct(lit(Double.NegativeInfinity).as("sim"), lit(-1L).as("cent_id")),
        (acc, s) => when(s.getField("sim") > acc.getField("sim"), s)
          .otherwise(acc))
        .getField("cent_id")
  }

  /** (cent_id, embedding, norm) triples — the in-driver centroid set. */
  private type Centroids = Array[(Long, Seq[Float], Double)]

  /** Deterministic initial centroids: the first `nCentroids` vectors. */
  private def initialCentroids(spark: SparkSession, dir: String,
      nCentroids: Int): Centroids =
    tbl(spark, dir, "embeddings")
      .filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val e: Seq[Float] = r.getSeq[Float](1)
        var s = 0.0
        e.foreach(f => s += f.toDouble * f.toDouble)
        (r.getLong(0), e, math.sqrt(s))
      }.sortBy(_._1)

  /** Quantizer over an arbitrary (driver-resident, constant-size)
    * centroid set, rendered as a literal array column. */
  private def quantizerOf(cents: Centroids): CoarseQuantizer =
    CoarseQuantizer(array(cents.toIndexedSeq.map { case (id, e, cn) =>
      struct(lit(id).as("cent_id"), typedlit(e).as("c_emb"), lit(cn).as("c_nrm"))
    }: _*))

  private def coarseQuantizer(spark: SparkSession, dir: String,
      nCentroids: Int): CoarseQuantizer =
    quantizerOf(initialCentroids(spark, dir, nCentroids))

  /** 2^20 — the dyadic quantization grid for [[kmeansTrain]]'s exact
    * centroid folds: a power of two, so v·QUANT is an exponent shift
    * (never rounds) and the quantized contributions sum exactly in any
    * order. Shared with the SQL-oracle renderer in SparkEntry. */
  private[graft] val QUANT = 1048576.0

  /** The full Lloyd TRAINING loop the single [[kmeansStep]] update is one
    * iteration of — the "production system would k-means these" closure
    * for the IVF coarse quantizer. Each iteration is one map-only
    * assignment pass (literal centroids, zero shuffle) plus ONE keyed
    * (cell, dim) aggregation whose output is nCentroids·d rows (1024
    * here) — the only driver-side state is that constant-size centroid
    * table, re-inlined as literals each round, so nothing in the loop
    * grows with the corpus and the iteration count bounds total work at
    * `iters` corpus scans. A cell that loses all members keeps its
    * previous centroid (standard empty-cluster fallback; deterministic).
    * Returns the final centroids as (cell, dim, centroid) rows.
    *
    * Determinism: a plain avg() over doubles merges partial aggregates in
    * shuffle-fetch order, so two runs could differ in the last bit. The
    * centroid mean here instead folds contributions QUANTIZED to the
    * 2^-20 dyadic grid: floor(v·2^20 + 0.5) is an exact integer, integer
    * sums are order-independent, and the single closing division is
    * correctly rounded — so the whole training run replays bit-identically
    * across runs AND engines (the DuckDB oracle re-derives all `iters`
    * rounds). The quantization (≤ 2^-21 per contribution, so ≤ 2^-21 on
    * the mean) is a DOCUMENTED semantic, not noise-level: it is coarser
    * than the float ulp at unit scale (~2^-24), i.e. these are the exact
    * means of grid-rounded inputs rather than a bit-perturbed exact mean
    * — negligible against the data scale, but don't cite it as "below
    * the float cast". The update is the raw Euclidean
    * Lloyd mean while assignment maximizes cosine — the classic spherical
    * relaxation; objective monotonicity is empirical, not guaranteed
    * (cosine is scale-invariant in the centroid, so the direction of the
    * mean is what matters, and the raw mean's direction equals the
    * norm-weighted mean of members). */
  def kmeansTrain(spark: SparkSession, dir: String, nCentroids: Int = 16,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    var cents = initialCentroids(spark, dir, nCentroids)
    val base = tbl(spark, dir, "embeddings")
      .select(col("embedding"), norm(col("embedding")).as("nrm"))
    for (_ <- 1 to iters) {
      val q = quantizerOf(cents)
      val updated = base
        .select(col("embedding"),
          q.nearestCell(col("embedding"), col("nrm")).as("cell"))
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("col").cast("double") * QUANT + lit(0.5))
            .cast("long")).as("sq"),
          count(lit(1)).as("cnt"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / (r.getLong(3) * QUANT))
        }
      cents = cents.map { case (id, oldEmb, oldNrm) =>
        updated.get(id) match {
          case Some(m) =>
            val e: Seq[Float] = m.map(_.toFloat).toSeq
            var s = 0.0
            e.foreach(f => s += f.toDouble * f.toDouble)
            (id, e, math.sqrt(s))
          case None => (id, oldEmb, oldNrm) // empty cell: keep centroid
        }
      }
    }
    val spark2 = spark
    import spark2.implicits._
    cents.toSeq.flatMap { case (id, e, _) =>
      e.zipWithIndex.map { case (v, d) => (id, d.toLong, v.toDouble) }
    }.toDF("cell", "dim", "centroid")
  }

  /** Mean cosine of every vector to its assigned centroid under a given
    * trained centroid table — the (negated-WCSS-style) objective a
    * training loop improves; spec-verified monotone over [[kmeansTrain]]
    * iterations. */
  def kmeansObjective(spark: SparkSession, dir: String,
      centroids: DataFrame): DataFrame = {
    val cents: Centroids = centroids
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("dim"), col("centroid"))))
        .as("ds"))
      .collect()
      .map { r =>
        val e: Seq[Float] = r.getSeq[org.apache.spark.sql.Row](1)
          .map(_.getDouble(1).toFloat)
        var s = 0.0
        e.foreach(f => s += f.toDouble * f.toDouble)
        (r.getLong(0), e, math.sqrt(s))
      }.sortBy(_._1)
    val q = quantizerOf(cents)
    tbl(spark, dir, "embeddings")
      .select(col("embedding"), norm(col("embedding")).as("nrm"))
      .select(col("embedding"), col("nrm"),
        q.centSims(col("embedding"), col("nrm")).as("sims"))
      .select(aggregate(col("sims"),
        lit(Double.NegativeInfinity),
        (acc, s) => greatest(acc, s.getField("sim"))).as("best"))
      .agg(avg(col("best")).as("mean_cos"), count(lit(1)).as("n_vecs"))
  }

  /** Cluster assignment as a first-class operator — the "which cell does
    * every vector live in" map that IVF indexing, semantic-dedup
    * bucketing, and diversity sampling all start from. Map-only, zero
    * shuffle (the centroid set is a literal); deterministic argmax, so
    * the DuckDB oracle replays it bit-for-bit — this puts the assignment
    * stage of the (otherwise approximate, rows-only) ANN family under
    * the exact hash gate. */
  def cellAssignments(spark: SparkSession, dir: String,
      nCentroids: Int = 16): DataFrame = {
    val q = coarseQuantizer(spark, dir, nCentroids)
    tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .select(col("vec_id"),
        q.nearestCell(col("embedding"), col("nrm")).as("cell"))
  }

  /** One k-means (Lloyd) UPDATE step over the IVF cells — the training
    * loop the coarse quantizer's scaladoc defers to ("a production system
    * would k-means these"): every vector is assigned to its nearest cell
    * (the same map-only literal-centroid argmax as [[cellAssignments]]),
    * then each cell's new centroid is the per-dimension mean of its
    * members. Emitted LONG (cell, dim) keyed — scalar columns only, per
    * the array-column comparer rule — with the member count riding along
    * so a driver loop can weight or detect empty cells.
    *
    * Scale shape: assignment is map-only (zero shuffle); the update is
    * ONE keyed aggregation over (cell, dim) — nCentroids·d groups (512
    * here), partial map-side combine, tiny shuffle. An iterating trainer
    * re-inlines the emitted centroids and repeats; nothing in the loop
    * grows with the corpus. avg is a cross-row double sum (cosine
    * determinism class): rounded to 6 dp. */
  def kmeansStep(spark: SparkSession, dir: String,
      nCentroids: Int = 16): DataFrame = {
    val q = coarseQuantizer(spark, dir, nCentroids)
    tbl(spark, dir, "embeddings")
      .select(col("embedding"), norm(col("embedding")).as("nrm"))
      .select(col("embedding"),
        q.nearestCell(col("embedding"), col("nrm")).as("cell"))
      .select(col("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("col").cast("double")), 6).as("centroid_r6"))
  }

  /** IVF-style ANN: deterministic coarse quantizer (the first nCentroids
    * vectors serve as centroids — a production system would k-means these),
    * corpus assigned to its nearest cell, queries probe the nProbe nearest
    * cells, exact cosine re-rank inside the probed cells.
    *
    * Scale path: the centroid set is a small CONSTANT (nCentroids), so it is
    * collected once and inlined as a literal array; every corpus row computes
    * its nearest cell as a per-row argmax expression — map-only, zero
    * shuffle. (The previous formulation crossJoined the corpus ×nCentroids
    * and ran a row_number window over the amplified relation, i.e. a full
    * corpus shuffle just to pick each vector's cell.) The search then touches
    * ~nProbe/nCentroids of the data. Approximate vs the exact kNN
    * (spec-verified per-pair against the exact cosine), but deterministic
    * given the fixed first-N centroids — the DuckDB oracle replays cell
    * assignment, the nProbe probe set, and the in-cell ranking exactly. */
  def knnIvf(spark: SparkSession, dir: String, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 2): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val q = coarseQuantizer(spark, dir, nCentroids)
    val cells = emb
      .select(col("vec_id"),
        q.nearestCell(col("embedding"), col("nrm")).as("cell"),
        col("embedding"), col("nrm"))
    // queries probe their nProbe nearest cells: sort the tiny sims array
    // (sim desc, cent_id asc) and explode the head
    val bySimDesc = (l: Column, r: Column) =>
      when(l.getField("sim") > r.getField("sim"), lit(-1))
        .when(l.getField("sim") < r.getField("sim"), lit(1))
        .when(l.getField("cent_id") < r.getField("cent_id"), lit(-1))
        .otherwise(lit(1))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(transform(
          slice(array_sort(q.centSims(col("embedding"), col("nrm")), bySimDesc),
            1, nProbe),
          c => c.getField("cent_id"))).as("cell"))
    val scored = cells.join(broadcast(queries),
        cells("cell") === queries("cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    topK(scored, k)
  }

  /** Shared constants for [[knnRerank]] — the DuckDB oracle
    * (SparkEntry) renders its SQL from these so the defaults cannot
    * silently desynchronize (same lockstep pattern as
    * TextOps.DefaultNearDupThreshold). */
  val RerankShortlist: Int = 10
  val RerankK: Int = 5
  val RerankCosWeight: Double = 0.8
  val RerankMatchWeight: Double = 0.2

  /** Cross-encoder-style re-rank COMPOSITION over the ANN shortlist — the
    * production retrieval shape: a cheap geometric stage proposes
    * candidates ([[knnIvf]], kShortlist per query), then each surviving
    * (query, candidate) PAIR is re-scored with features that only exist
    * on the joined pair (here: the label-match interaction, the stand-in
    * for a cross-encoder forward pass) and the final top-k is taken on
    * the re-score. rescore = [[RerankCosWeight]]·cosine +
    * [[RerankMatchWeight]]·[labels equal], rounded to the library's 6-dp
    * continuum contract.
    *
    * 100 TB shape: the shortlist is tiny (nQueries×kShortlist) and the
    * feature table is the 100 TB side — so the feature fetch BROADCASTS
    * the shortlist against the big table (both the query-side and the
    * candidate-side fetch), never shuffles it; the re-score and final
    * window then run on nQueries×kShortlist rows. Swapping the stand-in
    * scorer for a real cross-encoder is a change to one column
    * expression (or a mapPartitions model call) on that tiny relation. */
  def knnRerank(spark: SparkSession, dir: String,
      kShortlist: Int = RerankShortlist, k: Int = RerankK): DataFrame = {
    val shortlist = knnIvf(spark, dir, k = kShortlist)
      .select(col("q_id"), col("vec_id"), col("cos_sim"))
    val feats = tbl(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    val withQ = feats.select(col("vec_id").as("q_id"), col("label").as("q_label"))
      .join(broadcast(shortlist), "q_id")
    val paired = feats.join(broadcast(withQ), "vec_id")
    val rescored = paired.withColumn("rescore",
      round(lit(RerankCosWeight) * col("cos_sim") +
        lit(RerankMatchWeight) *
          when(col("label") === col("q_label"), 1.0).otherwise(0.0), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rescore").desc, col("vec_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rescore"),
        col("rank").cast("long").as("rank"))
  }

  /** Product-quantization ANN (IVF's storage-side sibling), two-stage:
    * each vector is encoded as `m` small codes — per subspace, the id of
    * its nearest sub-centroid — plus one reconstruction norm, and queries
    * score corpus rows by asymmetric distance computation (ADC): the
    * EXACT query subvector dotted with the QUANTIZED corpus subvector,
    * summed across subspaces. The ADC pass keeps a per-query `shortlist`
    * of candidates, which are then re-ranked with the EXACT cosine — so
    * emitted neighbors carry their true cosine (same contract as
    * [[knnIvf]]/[[knnLsh]]) and recall is set by the shortlist width, not
    * the quantizer alone.
    *
    * 100 TB shape: the candidate scan reads m+8 bytes per vector instead
    * of dim·4 (a 16× smaller index that fits executor RAM); full vectors
    * are fetched only for the shortlist (shortlist/N of the corpus).
    * Scoring uses the classic ADC factorization: the per-(query,
    * subspace, code) dot products fold into an m×nCodes lookup table
    * computed ONCE per query row before the broadcast, so each candidate
    * pair costs m table reads, not m subDim-wide dot products.
    *
    * Codebooks are deterministic — initialized from the first `nCodes`
    * vectors' subvectors and refined with a fixed number of Lloyd
    * (k-means) iterations over a bounded training sample (`trainN`
    * lowest-id vectors, collected once on the driver: constant-sized, the
    * standard practice of training PQ codebooks on a sample rather than
    * the corpus) — then inlined as literals, so encoding is a map-only,
    * zero-shuffle expression exactly like [[knnIvf]]'s cell assignment.
    * Approximate vs the exact kNN (spec-verified for recall against
    * [[knnBruteForce]]) but fully deterministic: every fold — the Lloyd
    * sums, distances, ADC terms — runs left-associatively in a fixed
    * order, so the DuckDB oracle replays training, encoding, shortlist,
    * and re-rank bit-identically (SparkEntry.pqKnnSql). Assumes the
    * embedding dim is divisible by `m` (64 = 16×4 here). */
  def knnPq(spark: SparkSession, dir: String, k: Int = 5,
      m: Int = 16, nCodes: Int = 16, trainN: Int = 256,
      lloydIters: Int = 8, shortlist: Int = 50): DataFrame = {
    val emb = tbl(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // driver-side collect bounded by the constant trainN (256 rows)
    val trainRows = emb.filter(col("vec_id") < trainN).collect()
      .sortBy(_.getLong(0))
    require(trainRows.length >= nCodes,
      s"PQ training sample has ${trainRows.length} vectors with vec_id < " +
        s"$trainN but needs at least nCodes=$nCodes — the Lloyd loop " +
        "indexes a full codebook per subspace")
    val dim = trainRows.head.getSeq[Float](1).length
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val subDim = dim / m
    // books(s)(c) = (subvector, |subvector|²): first-nCodes init + fixed
    // Lloyd rounds, all arithmetic in deterministic index order (ties in
    // assignment keep the lowest code; an emptied cluster keeps its
    // previous centroid)
    val books: IndexedSeq[IndexedSeq[(Seq[Float], Double)]] =
      (0 until m).map { s =>
        val train: Array[Array[Double]] = trainRows.map(
          _.getSeq[Float](1).slice(s * subDim, (s + 1) * subDim)
            .map(_.toDouble).toArray)
        var cents: Array[Array[Double]] = train.take(nCodes).map(_.clone())
        for (_ <- 0 until lloydIters) {
          val sums = Array.fill(nCodes)(new Array[Double](subDim))
          val cnts = new Array[Int](nCodes)
          train.foreach { x =>
            var best = 0; var bestD = Double.PositiveInfinity
            var c = 0
            while (c < nCodes) {
              var d = 0.0; var i = 0
              while (i < subDim) {
                val t = x(i) - cents(c)(i); d += t * t; i += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            var i = 0
            while (i < subDim) { sums(best)(i) += x(i); i += 1 }
            cnts(best) += 1
          }
          cents = cents.zipWithIndex.map { case (old, c) =>
            if (cnts(c) == 0) old
            else sums(c).map(_ / cnts(c))
          }
        }
        cents.toIndexedSeq.map { cent =>
          val sub: Seq[Float] = cent.map(_.toFloat).toSeq
          var n2 = 0.0
          sub.foreach(f => n2 += f.toDouble * f.toDouble)
          (sub, n2)
        }
      }
    def subSlice(e: Column, s: Int): Column = slice(e, s * subDim + 1, subDim)
    def bookArr(s: Int): Column = array(books(s).zipWithIndex.map {
      case ((sub, n2), c) =>
        struct(lit(c).as("code"), typedlit(sub).as("c_sub"), lit(n2).as("c_n2"))
    }: _*)
    // nearest sub-centroid by L2: argmin of (|c|² − 2·x_s·c) — |x_s|² is
    // constant within the argmin. Strict < keeps the earliest code on ties.
    def encode(e: Column, s: Int): Column =
      aggregate(bookArr(s),
        struct(lit(Double.PositiveInfinity).as("d"), lit(-1).as("code"),
          lit(0.0).as("n2")),
        (acc, c) => {
          val d = c.getField("c_n2") -
            lit(2.0) * dot(subSlice(e, s), c.getField("c_sub"))
          when(d < acc.getField("d"),
            struct(d.as("d"), c.getField("code").as("code"),
              c.getField("c_n2").as("n2")))
            .otherwise(acc)
        })
    val encoded = emb
      .select(col("vec_id") +:
        (0 until m).map(s => encode(col("embedding"), s).as(s"e$s")): _*)
      .select(col("vec_id"),
        array((0 until m).map(s => col(s"e$s").getField("code")): _*)
          .as("codes"),
        sqrt((0 until m).map(s => col(s"e$s").getField("n2"))
          .reduce(_ + _)).as("recon_nrm"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
    def vecsArr(s: Int): Column = array(books(s).map(b => typedlit(b._1)): _*)
    // the per-query ADC LOOKUP TABLE: lut[s][c] = q_s · book_s[c]
    // (m·nCodes doubles), computed once per query row BEFORE the
    // broadcast — scoring a corpus row is then m array lookups instead of
    // m subDim-wide dot products (the production ADC kernel the scaladoc
    // promises). Same index-order folds and the same Σ over s, so the adc
    // values — hence shortlist and output — are bit-identical to the
    // unfactored per-pair form this replaces.
    val lutCol = array((0 until m).map(s =>
      transform(vecsArr(s), sub => dot(subSlice(col("q_emb"), s), sub))): _*)
    val adc = (0 until m).map(s =>
        element_at(element_at(col("lut"), s + 1), col("codes")(s) + 1))
      .reduce(_ + _)
    // stage 1: ADC over the code index → per-query shortlist
    val short = encoded
      .join(broadcast(queries.select(col("q_id"), col("q_emb"), col("q_nrm"))
          .withColumn("lut", lutCol)),
        col("vec_id") =!= col("q_id"))
      .withColumn("adc", adc / (col("q_nrm") * col("recon_nrm")))
      .withColumn("srank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    // stage 2: exact cosine re-rank over the shortlist only
    val full = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val rescored = short
      .join(full, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos_sim",
        dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    topK(rescored, k)
  }

  /** Ingest-time unit-normalization — the precompute the kNN scan stage
    * assumes ("normalize-and-store at ingest" in knnBruteForce's doc):
    * divide every component by the vector's L2 norm so cosine becomes a
    * single fused dot product per pair. Map-only; emitted exploded as
    * (vec_id, dim, unit_val) rows with 6-dp rounding for cross-engine
    * exactness. */
  def normalizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val nrm = norm(col("embedding"))
    tbl(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(
        transform(col("embedding"), x => round(x.cast("double") / nrm, 6))))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").as("unit_val"))
  }

  /** Int8 scalar quantization — the storage/bandwidth path for ANN at
    * scale: each vector is mapped to bytes `round(x·127/max|x|)` plus one
    * per-vector `scale = max|x|/127` for dequantization, cutting an
    * fp32 corpus 4× (the difference between an index that fits executor
    * memory and one that doesn't at 100 TB). Map-only — no shuffle.
    * Determinism: components are rounded via `floor(v + 0.5)` written
    * identically here and in the oracle (IEEE double ops are exact
    * cross-engine); an all-zero vector quantizes to zeros with scale 0. */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val emb = transform(col("embedding"), x => x.cast("double"))
    val maxabs = array_max(transform(emb, x => abs(x)))
    tbl(spark, dir, "embeddings")
      .select(col("vec_id"),
        when(maxabs === 0.0, transform(emb, _ => lit(0L)))
          .otherwise(transform(emb,
            x => floor(x * 127.0 / maxabs + 0.5).cast("long"))).as("qvec"),
        (maxabs / 127.0).as("scale"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. '23, public
    * technique): cluster the corpus into coarse cells, then within each
    * cell drop every vector that has a SMALLER-id neighbor above the
    * cosine threshold — the survivors are the semantic representatives a
    * curation pipeline trains on. Composes the engine's own stages:
    * [[cellAssignments]] (map-only literal-centroid argmax) for the
    * cells, [[srpBucket]] WITHIN cell for candidate generation (a hot
    * cell never squares — same skew defense as [[embeddingNearDup]]),
    * exact cosine verify, then a left anti probe marks survivors.
    *
    * Output is total over the corpus: (vec_id, cell, kept). Deterministic:
    * the drop rule is a pure predicate of exact pair membership — no
    * rank, no float output, so the DuckDB oracle replays it exactly
    * (cosines fold in index order in both engines).
    *
    * The default threshold sits BELOW the production regime (0.85+) on
    * purpose: the synthetic embeddings are near-orthogonal (max
    * within-bucket cosine ≈ 0.37 at sf0.01), so a production threshold
    * would leave the drop branch dead in every gate — 0.35 keeps both
    * kept=true and kept=false flowing through the correctness hash. */
  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.35, nBits: Int = 8,
      nCentroids: Int = 16): DataFrame = {
    // eager-job idiom (simhashPairs): the assigned+bucketed relation is
    // referenced THREE times (both self-join sides + the survivor probe);
    // Catalyst shares no common subplans, so an unpersisted relation
    // would scan and re-derive the corpus three times. Storage medium
    // size-adaptive via Engine.miningLevel.
    val lvl = Engine.miningLevel(tbl(spark, dir, "embeddings"))
    // the per-vector (embedding, norm, SRP bucket, cell) index
    val emb = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        srpBucket(col("embedding"), nBits).as("bucket"))
      .join(cellAssignments(spark, dir, nCentroids), "vec_id")
      .persist(lvl)
    Engine.checkpointReleasing(lvl, emb) {
      val dropped = emb.as("a").join(emb.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .filter(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")) >= threshold)
        .select(col("b.vec_id").as("vec_id")).distinct()
        .withColumn("is_dup", lit(true))
      emb.select("vec_id", "cell")
        .join(dropped, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("cell"), col("is_dup").isNull.as("kept"))
    }
  }

  /** Embedding-cosine near-duplicate pairs above a threshold: candidates
    * are generated by SRP-LSH bucketing WITHIN each label block (reusing
    * [[srpBucket]] — deterministic hyperplanes, so the DuckDB oracle can
    * replay the exact same buckets), then verified with the exact cosine.
    *
    * Scale: the join key is (label, bucket) — 2^nBits buckets per label —
    * so one hot label never forms a quadratic all-pairs block (the previous
    * label-only formulation was a cartesian bomb on skewed labels: one
    * label holding 1% of a 100 TB corpus squares to ~10^16 pairs). The cost
    * is recall: a qualifying pair in different buckets is not emitted.
    * Recall is 1.0 for exact duplicates (identical vectors always share a
    * bucket — the primary dedup case) and (1 − θ/π)^nBits for angle θ
    * pairs (Charikar '02), ~69% at cos 0.99 with the default 8 bits; raise
    * recall by OR-ing multiple bucket tables (band trick) at proportional
    * cost. Emitted pairs carry their EXACT cosine — precision 1.0. */
  def embeddingNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.9, nBits: Int = 8): DataFrame = {
    val emb = tbl(spark, dir, "embeddings").select(
      col("vec_id"), col("embedding"), col("label"),
      norm(col("embedding")).as("nrm"), // once per vector, not per pair
      srpBucket(col("embedding"), nBits).as("bucket"))
    emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim",
        dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")))
      .filter(col("cos_sim") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos_sim"), 6).as("cos_sim"))
  }
}
