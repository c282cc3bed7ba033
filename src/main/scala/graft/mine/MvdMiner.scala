package graft.mine

import graft.core.{AttrSet, Measure, Mvd}
import graft.entropy.EntropyEngine
import graft.inference.{DependencyBasis, LatticeOrderingInference}

import scala.collection.mutable

/** Approximate-MVD mining (SURVEY.md §2.5 D3/D4; reference
  * `search/TopDownInductiveSearch.java:177-301`,
  * `search/CandidateGenerator.java` in /root/reference).
  *
  * Candidate space: every determinant X with |R-X| >= 2 and every
  * *partition half* Y of R-X (X ->> Y and X ->> (R-X)-Y are the same
  * dependency; the canonical half contains min(R-X)). The brute-force
  * miner measures every candidate; the fast miner walks determinants
  * from most-specific (|X| = n-2) downward as the reference does,
  * skipping entropy jobs when lattice-order inference or the approximate
  * dependency basis already bounds the measure under the threshold —
  * and prefetching each level's entropies as shared-scan batches.
  * Both return the same set (enforced by differential tests).
  */
final class MvdMiner(eng: EntropyEngine, threshold: Double,
                     stop: () => Boolean = () => false) {
  private val n = eng.numAttrs
  private val full = eng.fullSet

  /** Canonical candidates (X, Y): Y a partition half of R-X containing
    * its minimum attribute, Y != R-X, Y nonempty.
    */
  private def candidatesFor(x: AttrSet): Seq[AttrSet] = {
    val rest = full.minus(x)
    if (rest.size < 2) return Nil
    val attrs = rest.toSeq
    val anchor = attrs.head
    val others = attrs.tail
    // all subsets of `others`, each unioned with the anchor; exclude full rest
    (0 until (1 << others.length)).iterator
      .map(mask => AttrSet.of(anchor +: others.zipWithIndex.collect {
        case (a, i) if (mask & (1 << i)) != 0 => a
      }))
      .filter(_ != rest)
      .toSeq
  }

  private def determinantsBySize: Seq[Seq[AttrSet]] = {
    val all = AttrSet.empty +: AttrSet.allNonEmptySubsets(n)
    all.filter(_.size <= n - 2).groupBy(_.size).toSeq
      .sortBy(-_._1).map(_._2) // most specific first, as the reference walks
  }

  /** Exhaustive oracle: measure every candidate. Entropies for a whole
    * determinant level are prefetched as one shared-scan batch set — the
    * Spark job count scales with lattice depth, not candidate count.
    */
  def bruteForce(): Seq[Mvd] = {
    val out = mutable.ArrayBuffer.empty[Mvd]
    for (level <- determinantsBySize if !stop()) {
      val byX = level.map(x => x -> candidatesFor(x))
      eng.prefetch(byX.flatMap { case (x, cands) =>
        x +: cands.flatMap(y => Seq(x.union(y), full.minus(y)))
      })
      for ((x, cands) <- byX; y <- cands) {
        val m = eng.mvdMeasure(x, y)
        if (Measure.exact(m).belowThreshold(threshold)) out += Mvd(x, y, Measure.exact(m))
      }
    }
    out.toSeq
  }

  /** Inference-accelerated miner: same output, fewer entropy queries. */
  def mine(): Seq[Mvd] = {
    val out = mutable.ArrayBuffer.empty[Mvd]
    val lattice = new LatticeOrderingInference
    val basis = new DependencyBasis(n)
    // cooperative cancellation between levels (the reference's STOP flag)
    for (level <- determinantsBySize if !stop()) {
      // resolve what inference can level-wide, batch the rest into
      // shared-scan jobs (one batch set per lattice level)
      val pending = mutable.ArrayBuffer.empty[(AttrSet, AttrSet)]
      val resolved = mutable.ArrayBuffer.empty[(AttrSet, AttrSet, Double)]
      for (x <- level; y <- candidatesFor(x)) {
        val inferred: Option[Double] =
          lattice.upperBound(x, y)
            .filter(b => Measure(0, b).belowThreshold(threshold))
            .orElse(basis.upperBound(x, y)
              .filter(b => Measure(0, b).belowThreshold(threshold)))
        inferred match {
          case Some(b) => resolved += ((x, y, b))
          case None => pending += ((x, y))
        }
      }
      eng.prefetch(pending.flatMap { case (x, y) =>
        Seq(x, x.union(y), full.minus(y))
      })
      val measured = pending.map { case (x, y) => (x, y, eng.mvdMeasure(x, y)) }
      for ((x, y, m) <- resolved.iterator ++ measured.iterator) {
        if (Measure.exact(m).belowThreshold(threshold)) {
          val mvd = Mvd(x, y, Measure.exact(m))
          out += mvd
          lattice.add(x, y, m)
          basis.add(mvd)
        }
      }
    }
    out.toSeq
  }
}
