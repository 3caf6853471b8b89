package graft

import graft.operators.TextOps
import graft.operators.TextOps.{CosinePlan, CosineStats}
import org.scalatest.funsuite.AnyFunSuite

/** The cosine chooser pinned without a corpus: the measured rows of the
  * r13 census (bench_out/cosine_plan_r13.json, 16 cores) fed to
  * [[TextOps.cosinePlan]] must give the plan that census recorded. */
class CosinePlanSpec extends AnyFunSuite {

  private val cores = 16

  /** The chooser's pick where the doc census must not be read. */
  private def noCensus(s: CosineStats): CosinePlan =
    TextOps.cosinePlan(s, cores, fail(s"doc census read for $s"))

  test("cosine plan: sf0.01 and sf0.1 take the plain path, sized from Σdf²") {
    assert(noCensus(CosineStats(sumDf2 = 761467L, maxDf = 46, vocab = 916,
      idxRows = 25709)) === CosinePlan.Plain(2))
    assert(noCensus(CosineStats(sumDf2 = 73200955L, maxDf = 338, vocab = 931,
      idxRows = 256477)) === CosinePlan.Plain(37))
  }

  test("cosine plan: sf1 takes the kernel with 25 blocks over its vocabulary") {
    val sf1 = CosineStats(sumDf2 = 3086600153L, maxDf = 2176, vocab = 25701,
      idxRows = 2612899)
    assert(TextOps.cosinePlan(sf1, cores, nDocs = 50000) ===
      CosinePlan.Kernel(25, 25701))
  }

  test("cosine plan: a skewed corpus over the kernel's vocabulary cap is salted") {
    // max df over the 1,024-row posting-list block, vocabulary over the
    // 65,536-term bitset cap: one join partition per 2 M expansion rows,
    // at least one per core
    assert(noCensus(CosineStats(sumDf2 = 3086600153L, maxDf = 5000,
      vocab = 100000, idxRows = 2612899)) ===
      CosinePlan.Salted(1544)) // 3,086,600,153 / 2 M + 1
    assert(noCensus(CosineStats(sumDf2 = 9000000L, maxDf = 1025,
      vocab = 70000, idxRows = 400000)) === CosinePlan.Salted(cores))
  }
}
