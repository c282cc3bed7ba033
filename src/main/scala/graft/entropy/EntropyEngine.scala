package graft.entropy

import graft.core.{AttrSet, Jd, Measure}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's single data-query primitive: Shannon entropy `H(X)` of
  * the distinct value combinations of a column subset X.
  *
  * Reference semantics (`entropy/AbstractDataset.java:187-207` in
  * /root/reference): `H(X) = -sum_v p(v) log2 p(v)` with `p(v) = c_v / N`,
  * N = raw row count; total entropy `H(R) = log2(N)`; trivial shortcuts
  * `H(empty) = 0`, `H(full) = log2 N`. We compute the numerically
  * equivalent `H = log2(N) - (1/N) * sum_v c_v * log2(c_v)`, which needs
  * one aggregate over the group counts.
  *
  * Spark shape: every memo miss is answered by ONE query shape, a
  * `GROUP BY GROUPING SETS` count over a batch of subsets followed by a
  * per-set `sum(c*log2 c)` keyed by `grouping_id()` — one scan + one
  * shuffle per batch, exact (the reference's in-memory path groups by a
  * 32-bit hash and can merge distinct groups on collision; SURVEY §4
  * documents the divergence). It is the Spark analogue of the
  * reference's multi-subset shared file scan
  * (`entropy/ExternalFileDataSet.java:91-166`). [[entropy]] is a batch of
  * one; [[prefetch]] / [[entropies]] chunk their misses into batches of
  * 16, because the Expand before the shuffle multiplies rows by the
  * batch size. The input `df` should be cached by the caller when many
  * entropies will be asked.
  *
  * Driver-side memoization (a reference "optimization" Catalyst cannot
  * see across queries) fronts everything; mining issues thousands of tiny
  * entropy queries and the memo + batching keep that tractable. The memo
  * needs no eviction: it holds one `Double` per non-empty subset asked,
  * so at most 2^n - 1 entries for an n-attribute relation, and an engine
  * serves one relation (the miners' lattice walks already assume 2^n
  * driver-side work).
  */
final class EntropyEngine(val df: DataFrame, precomputedN: Option[Long] = None) {

  /** Attribute i = df.columns(i). */
  val attrNames: Array[String] = df.columns
  val numAttrs: Int = attrNames.length
  val fullSet: AttrSet = AttrSet.full(numAttrs)

  /** Raw row count (entropy-path semantics; duplicates count). */
  lazy val numRows: Long = precomputedN.getOrElse(df.count())

  /** `H(R) = log2 N` (`entropy/AbstractDataset.java:203-207`). */
  lazy val totalEntropy: Double = log2(numRows.toDouble)

  // concurrent: the async decomposition service and any embedding caller
  // may share one engine across threads (worst case under a race is a
  // duplicated — still correct — Spark job)
  private val memo = scala.collection.concurrent.TrieMap.empty[AttrSet, Double]
  // telemetry (the reference reports #queries / #cached entropies)
  private val queriesIssued = new java.util.concurrent.atomic.AtomicLong()
  private val cacheHits = new java.util.concurrent.atomic.AtomicLong()
  def numQueriesIssued: Long = queriesIssued.get()
  def numCacheHits: Long = cacheHits.get()

  /** Subsets per GROUPING SETS job. */
  private val BatchSize = 16

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  def cachedEntropies: Int = memo.size

  /** Entropy of one subset, memoized. */
  def entropy(x: AttrSet): Double = {
    if (x.isEmpty) return 0.0
    memo.get(x) match {
      case Some(h) => cacheHits.incrementAndGet(); h
      case None =>
        if (x == fullSet) memo(x) = totalEntropy else sumClogC(Seq(x))
        memo(x)
    }
  }

  /** C4 parity: pre-warm the memo with every (n-1)- and (n-2)-subset
    * entropy (the "most specific separators" the JD miners probe first),
    * as shared-scan batches (`entropy/MasterCompressedDB.java:53-69`).
    */
  def precomputeMostSpecific(): Unit = {
    val n = numAttrs
    val sets =
      (0 until n).map(fullSet - _) ++
        (for (i <- 0 until n; j <- i + 1 until n) yield fullSet - i - j)
    prefetch(sets)
  }

  /** C5 parity: the full entropy lattice (all non-empty subsets),
    * batched. Exponential in the attribute count — callers guard n.
    */
  def allEntropies(): Map[AttrSet, Double] =
    entropies(AttrSet.allNonEmptySubsets(numAttrs))

  /** Ensure all of `sets` are memoized, sharing scans: uncached subsets
    * are grouped into batches, one Spark job per batch.
    */
  def prefetch(sets: Iterable[AttrSet]): Unit =
    sets.iterator
      .filter(s => s.nonEmpty && s != fullSet && !memo.contains(s))
      .toSeq.distinct
      .grouped(BatchSize).foreach(sumClogC)

  /** Entropies of many subsets (memo + shared-scan batches). */
  def entropies(sets: Seq[AttrSet]): Map[AttrSet, Double] = {
    prefetch(sets)
    sets.map(s => s -> entropy(s)).toMap
  }

  /** The engine's only Spark job: `sum c*log2 c` over the groups of every
    * subset in `batch` (distinct, non-empty, not the full set), in one
    * GROUPING SETS aggregate, memoized as `H(X)`.
    */
  private def sumClogC(batch: Seq[AttrSet]): Unit = {
    queriesIssued.incrementAndGet()
    val union = batch.reduce(_ union _)
    val unionCols = union.toSeq
    val nCols = unionCols.length
    // grouping_id() bit for column j (in groupingSets column order) is
    // 2^(nCols-1-j), set when the column is AGGREGATED (not in the set)
    def gidOf(x: AttrSet): Long =
      unionCols.zipWithIndex.foldLeft(0L) { case (g, (a, j)) =>
        if (x.contains(a)) g else g | (1L << (nCols - 1 - j))
      }
    def colsOf(x: AttrSet): Seq[Column] = x.toSeq.map(i => col(attrNames(i)))
    val sums = df
      .groupingSets(batch.map(colsOf), colsOf(union): _*)
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"))
      .groupBy(col("gid"))
      .agg(sum(col("cnt").cast("double") * log(2.0, col("cnt"))).as("s"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // an empty relation has no groups: sum over nothing is 0
    batch.foreach(x => memo(x) = totalEntropy - sums.getOrElse(gidOf(x), 0.0) / numRows)
  }

  // ---- Dependency measures (entropy/AbstractDataset.java:94-277) ----

  private def clampZero(m: Double): Double =
    if (math.abs(m) < Measure.ZeroClamp) 0.0 else m

  /** FD measure `H(X u Y) - H(X)`; 0 iff X -> Y holds exactly. */
  def fdMeasure(lhs: AttrSet, rhs: AttrSet): Double =
    clampZero(entropy(lhs.union(rhs)) - entropy(lhs))

  /** MVD measure `I(Y ; R-X-Y | X) = H(XY) + H(R-Y) - H(R) - H(X)`
    * (with Y taken modulo X); 0 iff X ->> Y holds exactly.
    */
  def mvdMeasure(lhs: AttrSet, rhs: AttrSet): Double = {
    val y = rhs.minus(lhs)
    val m = entropy(lhs.union(y)) + entropy(fullSet.minus(y)) -
      totalEntropy - entropy(lhs)
    clampZero(m)
  }

  /** JD measure `sum_i H(lhs u C_i) - (k-1) H(lhs) - H(R)`, clamped at 0
    * from below (`entropy/AbstractDataset.java:244-277`).
    */
  def jdMeasure(jd: Jd): Double = {
    val k = jd.numComponents
    prefetch(jd.clusters :+ jd.lhs)
    val m = jd.clusters.map(entropy).sum - (k - 1) * entropy(jd.lhs) - totalEntropy
    clampZero(math.max(m, 0.0))
  }

  /** Conditional mutual information `I(A ; B | C)` for disjoint sets —
    * the pairwise merge test of the JD miners.
    */
  def condMutualInfo(a: AttrSet, b: AttrSet, c: AttrSet): Double = {
    val m = entropy(a.union(c)) + entropy(b.union(c)) -
      entropy(a.union(b).union(c)) - entropy(c)
    clampZero(m)
  }
}
