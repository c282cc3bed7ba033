package graft

import graft.core.AttrSet
import graft.entropy.EntropyEngine
import org.scalatest.funsuite.AnyFunSuite

class EntropySpec extends AnyFunSuite {
  import SparkSuite._

  private val rows = mvdFixture(noise = 10)
  private lazy val eng = new EntropyEngine(relation(rows).cache())

  test("all subset entropies match the naive oracle (exhaustive, tol 1e-9)") {
    // excludes the full set, whose engine value is log2(N) by convention
    val subsets = AttrSet.allNonEmptySubsets(3).filter(_.size < 3)
    for (x <- subsets) {
      val naive = naiveEntropy(rows, x.toSeq)
      assert(math.abs(eng.entropy(x) - naive) < 1e-9, s"subset $x")
    }
  }

  test("grouping-sets batch equals per-subset jobs") {
    val fresh = new EntropyEngine(relation(rows))
    val subsets = AttrSet.allNonEmptySubsets(3).filter(_.size < 3)
    val batched = fresh.entropies(subsets)
    for (x <- subsets) {
      assert(math.abs(batched(x) - naiveEntropy(rows, x.toSeq)) < 1e-9, s"subset $x")
    }
    // 6 subsets resolved in one grouping-sets job
    assert(fresh.numQueriesIssued == 1)
  }

  test("a memo miss via entropy(x) and via prefetch(Seq(x)) agree, one job each") {
    for (x <- Seq(AttrSet(0), AttrSet(1, 2))) {
      val single = new EntropyEngine(relation(rows))
      val batched = new EntropyEngine(relation(rows))
      val h = single.entropy(x)
      batched.prefetch(Seq(x))
      assert(single.numQueriesIssued == 1 && batched.numQueriesIssued == 1, s"$x")
      assert(batched.entropy(x) == h, s"$x")
      assert(batched.numQueriesIssued == 1 && batched.numCacheHits == 1, s"$x")
      assert(math.abs(h - naiveEntropy(rows, x.toSeq)) < 1e-9, s"$x")
    }
  }

  test("total entropy is log2(N) and empty set is 0") {
    assert(math.abs(eng.totalEntropy - math.log(rows.size) / math.log(2)) < 1e-12)
    assert(eng.entropy(AttrSet.empty) == 0.0)
    assert(eng.entropy(AttrSet.full(3)) == eng.totalEntropy)
  }

  test("exact MVD has measure 0 on the noise-free fixture") {
    val pure = new EntropyEngine(relation(mvdFixture(noise = 0)))
    assert(pure.mvdMeasure(AttrSet(1), AttrSet(0)) == 0.0)
    // and the broken direction is strictly positive
    assert(pure.mvdMeasure(AttrSet(0), AttrSet(1)) >= 0.0)
  }

  test("measure formulas agree with naive entropy arithmetic") {
    val h = (s: Seq[Int]) => naiveEntropy(rows, s)
    val n = rows.size.toDouble
    val logN = math.log(n) / math.log(2)
    // FD {1} -> {0}
    val fdExpected = h(Seq(0, 1)) - h(Seq(1))
    assert(math.abs(eng.fdMeasure(AttrSet(1), AttrSet(0)) - fdExpected) < 1e-9)
    // MVD {1} ->> {0}: H(XY) + H(R-Y) - log2 N - H(X)
    val mvdExpected = h(Seq(0, 1)) + h(Seq(1, 2)) - logN - h(Seq(1))
    val got = eng.mvdMeasure(AttrSet(1), AttrSet(0))
    assert(math.abs(got - mvdExpected) < 1e-9 ||
      (mvdExpected.abs < 1e-7 && got == 0.0))
  }

  test("information inequalities hold on random tables (seeded)") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val rng = new Lcg(seed)
      val rows = (0 until 200).map(_ =>
        Seq(rng.nextInt(4), rng.nextInt(3), rng.nextInt(5), rng.nextInt(2)))
      val eng = new EntropyEngine(relation(rows).cache())
      val subsets = AttrSet.allNonEmptySubsets(4).filter(_.size < 4)
      val hs = eng.entropies(subsets)
      // the full set is excluded: its engine value is log2(N) by the
      // reference's convention, not the data entropy, and the
      // inequalities only govern data entropies
      for (x <- subsets; y <- subsets if x != y && x.union(y).size < 4) {
        val hxy = hs(x.union(y))
        // monotone: H(X u Y) >= H(X); subadditive: H(X u Y) <= H(X)+H(Y)
        assert(hxy >= hs(x) - 1e-9, s"seed=$seed mono $x $y")
        assert(hxy <= hs(x) + hs(y) + 1e-9, s"seed=$seed subadd $x $y")
      }
      // batch values equal naive oracle
      for (x <- subsets) {
        assert(math.abs(hs(x) - naiveEntropy(rows, x.toSeq)) < 1e-9)
      }
    }
  }

  test("condMutualInfo is symmetric and non-negative on fixtures") {
    val a = AttrSet(0); val b = AttrSet(2); val c = AttrSet(1)
    val m1 = eng.condMutualInfo(a, b, c)
    val m2 = eng.condMutualInfo(b, a, c)
    assert(math.abs(m1 - m2) < 1e-9)
    assert(m1 >= 0.0)
  }
}
