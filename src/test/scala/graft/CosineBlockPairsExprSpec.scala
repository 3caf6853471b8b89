package graft

import graft.functions.CosineBlockPairsExpr
import graft.operators.TextOps
import graft.operators.TextOps.{CosinePlan, CosineStats}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalatest.funsuite.AnyFunSuite

/** Object-level pins for the block-pair kernel — no Spark session: the
  * QueriesSpec strategy tests cover the kernel end-to-end but only in
  * BITSET mode (their vocabularies are narrow); the sf1 corpus routes to
  * MERGE mode (25.7 k-term vocab), so the mode dichotomy itself needs a
  * direct witness. `vocab` is the mode lever: the kernel picks bitsets
  * iff the V/64-word scan is no wider than 4× the average terms/doc. */
class CosineBlockPairsExprSpec extends AnyFunSuite {

  private def doc(id: Long, terms: Array[Int], ws: Array[Double]): InternalRow = {
    val nrm = math.sqrt(ws.map(w => w * w).sum)
    new GenericInternalRow(Array[Any](id,
      new GenericArrayData(terms.map(_.asInstanceOf[Any])),
      new GenericArrayData(ws.map(_.asInstanceOf[Any])), nrm))
  }

  private def block(docs: InternalRow*): ArrayData =
    new GenericArrayData(docs.toArray[Any])

  private def rows(out: GenericArrayData): Seq[(Long, Long, Long, Double)] =
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 4)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }

  // three docs: a∩b = {2,3} (shared 2), a∩c = {2} (shared 1), b∩c = {3,9}
  private val a = doc(1L, Array(2, 3, 5), Array(1.0, 2.0, 3.0))
  private val b = doc(2L, Array(2, 3, 9), Array(4.0, 5.0, 6.0))
  private val c = doc(3L, Array(2, 3, 9), Array(7.0, 8.0, 9.0))

  test("bitset and merge modes emit identical pairs (vocab is the mode lever)") {
    // vocab 16 → 1 bitset word ≤ 4×3 avg terms → BITSET; vocab 4096 →
    // 64 words > 12 → MERGE. Same inputs, same expected output.
    val expected = Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 3L))
    for (vocab <- Seq(16, 4096)) {
      val out = rows(CosineBlockPairsExpr.run(
        block(a, b, c), block(a, b, c), diag = true, minS = 2, vocab = vocab))
      assert(out.map(t => (t._1, t._2, t._3)) === expected,
        s"vocab=$vocab")
      // dot products land on the 6-dp rounded grid (round half-up) —
      // within half an ulp of the unrounded expectation
      val byPair = out.map(t => (t._1, t._2) -> t._4).toMap
      assert(math.abs(byPair((1L, 2L)) -
        (1.0 * 4 + 2.0 * 5) / (a.getDouble(3) * b.getDouble(3))) <= 5e-7)
      assert(math.abs(byPair((2L, 3L)) -
        (4.0 * 7 + 5.0 * 8 + 6.0 * 9) / (b.getDouble(3) * c.getDouble(3))) <= 5e-7)
    }
  }

  test("diagonal evaluates i<j only; cross-block evaluates the full rectangle with min/max canonicalization") {
    // cross-block: doc 9 (right side, SMALLER id than left docs) must
    // canonicalize to doc_a = min id
    val d9 = doc(0L, Array(2, 3), Array(1.0, 1.0))
    val cross = rows(CosineBlockPairsExpr.run(
      block(a, b), block(d9), diag = false, minS = 2, vocab = 16))
    assert(cross.map(t => (t._1, t._2)).sorted === Seq((0L, 1L), (0L, 2L)))
    // diagonal never pairs a doc with itself
    val diag = rows(CosineBlockPairsExpr.run(
      block(a), block(a), diag = true, minS = 1, vocab = 16))
    assert(diag.isEmpty)
  }

  test("empty blocks and below-threshold pairs emit nothing") {
    assert(rows(CosineBlockPairsExpr.run(
      block(), block(), diag = true, minS = 1, vocab = 16)).isEmpty)
    assert(rows(CosineBlockPairsExpr.run(
      block(a), block(doc(7L, Array(99), Array(1.0))), diag = false,
      minS = 1, vocab = 128)).isEmpty)
  }

  /** The chooser's pick for a corpus with no skew (max df 1). */
  private def plan(sumDf2: Long, vocab: Long, idxRows: Long, nDocs: Long,
      cores: Int): CosinePlan =
    TextOps.cosinePlan(CosineStats(sumDf2, maxDf = 1, vocab, idxRows),
      cores, nDocs)

  test("kernel plan: block count is clamped for any core count (4096-core cluster)") {
    // round-10 VERDICT item 4: the parallelism term (bPar ≈ 181 at 4096
    // cores) must never escape the KernelMaxBlocks=128 replication bound
    assert(plan(sumDf2 = 1000L * 1000 * 1000, vocab = 25000,
      idxRows = 50L * 1000 * 1000, nDocs = 100L * 1000, cores = 4096) ===
      CosinePlan.Kernel(128, 25000))
  }

  test("kernel plan: admitted blocks always bound per-evaluation output to a fixed budget") {
    // round-10 VERDICT item 3: one kernel evaluation buffers its
    // qualifying pairs in memory, so an ADMITTED plan must keep block
    // size ≤ ~2048 docs — worst-case (every pair qualifying) output is
    // then ≤ ~2 M rows ≈ 128 MB, never multi-GB. Sweep corpus sizes.
    for (nDocs <- Seq(10000L, 50000L, 100000L, 200000L, 262144L)) {
      val sumDf2 = math.max(nDocs * nDocs / 4, 300L * 1000 * 1000)
      plan(sumDf2, vocab = 20000, idxRows = nDocs * 200, nDocs,
          cores = 32) match {
        case CosinePlan.Kernel(b, _) =>
          val blockDocs = math.ceil(nDocs.toDouble / b)
          assert(blockDocs <= 2048.0,
            s"nDocs=$nDocs admitted with $b blocks → $blockDocs docs/block")
        case _ =>
      }
    }
  }

  test("kernel plan: oversized or ineligible corpora are refused, not admitted with broken bounds") {
    // refused: the unskewed corpus falls through to the plain term join
    def refused(sumDf2: Long, vocab: Long, nDocs: Long) =
      assert(plan(sumDf2, vocab, idxRows = nDocs * 200, nDocs, cores = 32)
        .isInstanceOf[CosinePlan.Plain])
    // too many docs for the buffered-output floor (bBuf > 128 blocks)
    refused(10L * 1000 * 1000 * 1000, 30000, 300L * 1000)
    // sparse corpus: n²/2 gate work exceeds 8× the expansion it avoids
    refused(260L * 1000 * 1000, 30000, 100L * 1000)
    // below the expansion floor the plain join's single-job shape wins
    refused(100L * 1000 * 1000, 30000, 50L * 1000)
    // vocab over the bitset cap
    refused(1000L * 1000 * 1000, 100000, 100L * 1000)
  }

  test("expansion tasks: the count always lies in [2, cap] and grows with Σdf²") {
    // a vocabulary over the kernel's cap and no skew keep every Σdf² on the
    // plain path, which never reads the doc census
    def expandParts(sumDf2: Long, cores: Int): Int =
      TextOps.cosinePlan(CosineStats(sumDf2, maxDf = 1, vocab = 100000,
        idxRows = 0), cores, fail("census read on the plain path")) match {
        case CosinePlan.Plain(n) => n
        case other => fail(s"Σdf²=$sumDf2: $other")
      }
    // cap = max(4 × cores, 64); Σdf² sweeps empty to past Long's square root
    for ((cores, cap) <- Seq(1 -> 64, 4 -> 64, 32 -> 128, 4096 -> 16384)) {
      val sums = Seq(0L, 1L, 1999999L, 2000000L, 73L * 1000 * 1000,
        3100L * 1000 * 1000, Long.MaxValue / 2, Long.MaxValue)
      val parts = sums.map(expandParts(_, cores))
      parts.foreach(p => assert(p >= 2 && p <= cap, s"cores=$cores: $parts"))
      assert(parts === parts.sorted, s"cores=$cores: not monotone $parts")
      assert(parts.head === 2 && parts.last === cap, s"cores=$cores: $parts")
    }
    // sf0.001 stays at the floor; sf0.1 (Σdf² ≈ 73 M) gets 37 tasks at 4
    // cores, under the cap the 64-task floor used to force
    assert(expandParts(73L * 1000 * 1000, cores = 4) === 37)
  }

  test("rounding matches Spark round(_, 6) half-up semantics") {
    // identical unit vectors → cos exactly 1.0 regardless of mode
    val u = doc(1L, Array(0, 1), Array(3.0, 4.0))
    val v = doc(2L, Array(0, 1), Array(3.0, 4.0))
    for (vocab <- Seq(16, 4096)) {
      val out = rows(CosineBlockPairsExpr.run(
        block(u, v), block(u, v), diag = true, minS = 2, vocab = vocab))
      assert(out === Seq((1L, 2L, 2L, 1.0)))
    }
  }
}
