package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Bounded-memory streaming summaries for frequency statistics over
  * corpora too large to group exactly: Misra–Gries heavy hitters with
  * an exact verification join-back.
  *
  * Reference behavior: the reference engine materializes full per-key
  * count tables (`CNT` relations) before thresholding; at 100 TB a
  * full groupBy over a high-cardinality key (URL, user id, shingle)
  * shuffles one record per distinct key. The sketch path caps the
  * candidate phase at O(partitions × k) state and only recounts the
  * surviving candidates exactly, so the answer is still exact — the
  * sketch narrows the work, it never decides the output.
  */
object Sketches {

  /** One MG step: fold `x` into a counter table capped at k entries.
    * Shared by the batch per-partition pass and the streaming
    * per-shard state so both paths run the identical algorithm.
    */
  def mgStep(counters: mutable.HashMap[String, Long], x: String,
             k: Int): Unit =
    counters.get(x) match {
      case Some(c) => counters.update(x, c + 1L)
      case None if counters.size < k => counters.update(x, 1L)
      case None =>
        // decrement-all; snapshot first (no mutation mid-iterate)
        counters.toArray.foreach { case (key, c) =>
          if (c == 1L) counters.remove(key)
          else counters.update(key, c - 1L)
        }
    }

  /** Per-partition Misra–Gries candidate keys for frequency > n/k.
    *
    * Classic MG (Misra & Gries 1982; merge analysis in Agarwal et al.,
    * "Mergeable Summaries", PODS 2012): k counters per partition; a key
    * absent from a full counter table decrements every counter by one.
    * Any key with partition frequency f_p > n_p/k ends with a positive
    * counter. Globally, if f > N/k then some partition has
    * f_p > n_p/k (pigeonhole over f = Σf_p, N = Σn_p), so the UNION of
    * per-partition survivors is a superset of the global >N/k keys —
    * no cross-partition merge step needed for the candidate phase.
    *
    * Returns ≤ numPartitions × k distinct keys as strings. The
    * surviving counter values are partition-order-dependent lower
    * bounds, so they are deliberately NOT returned — only the key set
    * is, and the exact join-back recounts it deterministically.
    */
  def mgCandidates(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string")).as[String]
      .mapPartitions { it =>
        val counters = mutable.HashMap.empty[String, Long]
        it.foreach(mgStep(counters, _, k))
        counters.keysIterator
      }
      .toDF("key").distinct()
  }

  /** Per-group MG candidates: one k-capped counter table per (group,
    * partition) — memory O(groups×k) per partition — with the same
    * per-group pigeonhole guarantee: any key with in-group frequency
    * f > N_g/k survives some partition's table for that group.
    */
  def mgCandidatesByGroup(df: DataFrame, grpCol: String, keyCol: String,
                          k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(grpCol).cast("string"), col(keyCol).cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val tables =
          mutable.HashMap.empty[String, mutable.HashMap[String, Long]]
        it.foreach { case (g, x) =>
          mgStep(tables.getOrElseUpdate(g,
            mutable.HashMap.empty[String, Long]), x, k)
        }
        tables.iterator.flatMap { case (g, t) => t.keysIterator.map(g -> _) }
      }
      .toDF("grp", "key").distinct()
  }

  /** Exact per-group heavy hitters — keys with in-group count >=
    * ceil(phi × N_g) — via per-group MG pruning. The exact pass mirrors
    * [[heavyHitters]]: candidate rows keep their key, everything else
    * folds into a per-group NULL bucket, so each group's total N_g is
    * recovered from the same single aggregation.
    */
  def heavyHittersByGroup(df: DataFrame, grpCol: String, keyCol: String,
                          phi: Double, k: Int): DataFrame = {
    require(phi > 0.0 && phi < 1.0, s"phi must be in (0,1), got $phi")
    require(k > 1.0 / phi,
      s"k=$k too small for phi=$phi: need k > ${1.0 / phi}")
    val cand = mgCandidatesByGroup(df, grpCol, keyCol, k)
    val tagged = df
      .select(col(grpCol).cast("string").as("grp"),
        col(keyCol).cast("string").as("key"))
      .join(broadcast(cand.withColumn("_c", lit(true))),
        Seq("grp", "key"), "left")
      .groupBy(col("grp"),
        when(col("_c"), col("key")).otherwise(lit(null)).as("key"))
      .agg(count(lit(1)).as("cnt"))
      .cache()
    try {
      val totals = tagged.groupBy("grp").agg(sum("cnt").as("n_g"))
      tagged.join(broadcast(totals), "grp")
        .filter(col("key").isNotNull &&
          col("cnt") >= ceil(lit(phi) * col("n_g")))
        .select(col("grp"), col("key"), col("cnt"))
        .localCheckpoint(true)
    } finally tagged.unpersist()
  }

  /** Exact heavy hitters — keys with count >= ceil(phi × N) — computed
    * with MG candidate pruning instead of a full-cardinality groupBy.
    *
    * Requires k > 1/phi so every qualifying key has f >= ceil(phi·N)
    * >= phi·N > N/k and therefore survives [[mgCandidates]]; keys the
    * sketch over-admits are removed by the exact count filter, so the
    * output is invariant to partitioning even though the candidate set
    * is not.
    *
    * Execution: one sketch pass (no shuffle — candidates are collected,
    * ≤ partitions × k strings), then ONE exact pass that folds the
    * total-count scan and the candidate recount into a single
    * aggregation: non-candidate rows are grouped under NULL (scan-side
    * `isin` on the broadcast candidate set, InSet O(1) per row), so N
    * is the sum of all group counts and no third scan is needed.
    * Null-valued keys therefore cannot be heavy hitters by this
    * operator's contract (they fold into the catch-all group).
    */
  def heavyHitters(df: DataFrame, keyCol: String, phi: Double,
                   k: Int): DataFrame = {
    require(phi > 0.0 && phi < 1.0, s"phi must be in (0,1), got $phi")
    require(k > 1.0 / phi,
      s"k=$k too small for phi=$phi: need k > ${1.0 / phi} for the MG superset guarantee")
    val cand = mgCandidates(df, keyCol, k).as[String](
      org.apache.spark.sql.Encoders.STRING).collect()

    val keyStr = col(keyCol).cast("string")
    val grouped = df
      .groupBy(when(keyStr.isin(cand.toIndexedSeq: _*), keyStr)
        .otherwise(lit(null)).as("key"))
      .agg(count(lit(1)).as("cnt"))
      .cache()
    try {
      // ≤ |cand|+1 rows; total N recovered without a separate scan
      // (sum is NULL — not 0 — over an empty relation)
      val n = Option(grouped.agg(sum("cnt")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val threshold = math.ceil(phi * n).toLong
      grouped.filter(col("key").isNotNull && col("cnt") >= threshold)
        .select(col("key"), col("cnt"))
        // materialize off the cached plan before unpersist
        .localCheckpoint(true)
    } finally grouped.unpersist()
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) with
    * engine-portable hashing: hash row j buckets a key by the first 8
    * hex chars of `md5("j:key")` mod w — any engine's lowercase-hex md5
    * replays it, so the sketch is exactly reproducible in SQL.
    *
    * Because CMS cells are purely ADDITIVE, the materialized sketch is
    * deterministic under any partitioning / arrival order — unlike MG,
    * whose candidate set is layout-dependent. Execution is one
    * codegen'd pass: a d-way explode then groupBy(j, bucket), where
    * map-side partial aggregation caps the shuffle at d×w cells per
    * partition regardless of input size. The materialized sketch is
    * d×w counters — broadcastable state for any number of events.
    */
  def cmsBucket(j: Column, key: Column, w: Int): Column =
    conv(substring(md5(concat_ws(":", j, key)), 1, 8), 16, 10)
      .cast("long") % w

  /** The materialized sketch: (j, bucket, cnt) cells, omitting empty
    * cells (their count is 0 by definition). NULL keys are excluded
    * from the sketch — `concat_ws` would silently hash them as
    * md5("j") while a SQL replay's `j || ':' || key` propagates NULL,
    * so dropping them is the only semantics both engines agree on.
    */
  def cmsCells(df: DataFrame, keyCol: String, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, s"need d>=1, w>=2; got d=$d w=$w")
    df.select(col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull)
      .select(explode(array((0 until d).map(lit): _*)).as("j"), col("key"))
      .groupBy(col("j"), cmsBucket(col("j"), col("key"), w).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for every distinct key: min over the d cells the
    * key hashes to. Standard CMS guarantee: cnt <= est, and
    * est <= cnt + eps·N with prob 1-δ for w = ⌈e/eps⌉, d = ⌈ln 1/δ⌉.
    * The d×w cell table is broadcast; the probe side never shuffles it.
    */
  def cmsEstimates(df: DataFrame, keyCol: String, d: Int, w: Int): DataFrame = {
    val cells = cmsCells(df, keyCol, d, w)
    df.select(col(keyCol).cast("string").as("key")).distinct()
      .filter(col("key").isNotNull) // same NULL policy as cmsCells
      .select(col("key"), explode(array((0 until d).map(lit): _*)).as("j"))
      .withColumn("bucket", cmsBucket(col("j"), col("key"), w))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("key").agg(min("cnt").as("cms_est"))
  }

  /** One KMV step: fold hash `h` into a TreeSet capped at the k
    * smallest. Shared by the batch per-partition pass and the streaming
    * per-shard state, like [[mgStep]].
    */
  def kmvStep(set: java.util.TreeSet[java.lang.Long], h: Long, k: Int): Unit =
    if (set.size < k) set.add(h)
    else if (h < set.last()) { if (set.add(h)) set.pollLast() }

  /** K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002;
    * unbiased estimator from Beyer et al., SIGMOD 2007): the k smallest
    * distinct values of a pinned 32-bit hash (first 8 md5 hex chars —
    * the same engine-portable family as [[cmsBucket]]).
    *
    * The summary is a SET, so it is arrival-order- and layout-
    * invariant, mergeable (union + re-truncate), and exactly
    * reproducible in SQL as DISTINCT/ORDER BY/LIMIT k. Execution: the
    * hash is computed codegen-side; each partition keeps a k-capped
    * TreeSet (O(k) state, no pre-distinct full shuffle), and only
    * partitions × k candidate hashes reach the final global
    * truncation — the full-cardinality exchange a `countDistinct`
    * needs never happens.
    */
  def kmvMinHashes(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
      // NULL keys hash to NULL; they carry no distinct-count signal and
      // would crash the non-nullable Long encoder below — drop them
      .filter(col("h").isNotNull)
      .as[Long]
      .mapPartitions { it =>
        val set = new java.util.TreeSet[java.lang.Long]()
        it.foreach(kmvStep(set, _, k))
        import scala.jdk.CollectionConverters._
        set.iterator().asScala.map(_.longValue())
      }
      .toDF("h").distinct().sort("h").limit(k)
  }

  /** Bloom-filter bit positions for a key set: d positions per key
    * from the same pinned family as [[cmsBucket]] (md5("j:key") mod m),
    * deduplicated — the filter IS this ≤m-row position set, an
    * idempotent union-mergeable summary any engine can rebuild. At
    * 100 TB the reference side of a cross-snapshot dedup collapses to
    * these bits: broadcastable, and probing never shuffles the corpus.
    */
  def bloomBits(df: DataFrame, keyCol: String, m: Int, d: Int): DataFrame = {
    require(m >= 16 && d >= 1, s"bad bloom spec m=$m d=$d")
    df.select(col(keyCol).cast("string").as("key"))
      .select(explode(array((0 until d).map(lit): _*)).as("j"), col("key"))
      .select(cmsBucket(col("j"), col("key"), m).as("pos"))
      .distinct()
  }

  /** Probe: appends `bloom_maybe` — true iff ALL d of the key's
    * positions are set. Guarantees no false negatives (a member's
    * positions are all in the set by construction); false positives
    * occur at the standard (1-e^{-dn/m})^d rate and must be resolved
    * by an exact join on the survivors only.
    */
  def bloomProbe(df: DataFrame, keyCol: String, bits: DataFrame,
                 m: Int, d: Int): DataFrame = {
    val probes = df.select(col(keyCol).cast("string").as("_bkey")).distinct()
      .select(col("_bkey"), explode(array((0 until d).map(lit): _*)).as("j"))
      .withColumn("pos", cmsBucket(col("j"), col("_bkey"), m))
    val hits = probes.join(broadcast(bits), "pos")
      .groupBy("_bkey").agg((count(lit(1)) === d).as("bloom_maybe"))
    df.join(hits, col(keyCol).cast("string") === col("_bkey"), "left")
      .withColumn("bloom_maybe", coalesce(col("bloom_maybe"), lit(false)))
      .drop("_bkey")
  }

  /** Fixed-binning histogram over [lo, hi): bin = ⌊(v−lo)/width⌋
    * clamped to [0, bins). Cells are additive, so like [[cmsCells]]
    * the sketch is layout-invariant, SQL-replayable, and shuffles at
    * most `bins` cells per partition after map-side combine.
    */
  /** The clamped-bin expression shared by every histogram path (and
    * mirrored verbatim in each SQL oracle — keep them in sync).
    */
  private def binExpr(valCol: String, lo: Double, width: Double,
                      bins: Int): Column =
    least(greatest(floor((col(valCol) - lo) / width), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")

  def histogram(df: DataFrame, valCol: String, lo: Double, hi: Double,
                bins: Int): DataFrame = {
    require(hi > lo && bins >= 2, s"bad histogram spec [$lo,$hi)x$bins")
    val width = (hi - lo) / bins
    df.groupBy(binExpr(valCol, lo, width, bins).as("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates read off the histogram by a cumulative walk
    * with linear interpolation inside the covering bin:
    * est(q) = lo + width·(b + (q·N − cum_before(b)) / cnt(b)) where b
    * is the first bin with cum(b) ≥ q·N. Error is bounded by one bin
    * width — choose bins from the tolerance, independent of N. The
    * walk runs on the ≤bins-row summary (the unpartitioned window is
    * sketch-sized by construction, not data-sized).
    */
  def histQuantiles(df: DataFrame, valCol: String, lo: Double, hi: Double,
                    bins: Int, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1], got $qs")
    val width = (hi - lo) / bins
    val spark = df.sparkSession
    import spark.implicits._
    val wCum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = histogram(df, valCol, lo, hi, bins)
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(
        Window.orderBy("bin").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    qs.toDF("q")
      .join(c, col("cum") >= col("q") * col("n"))
      .groupBy("q").agg(min("bin").as("bin"))
      .join(c, "bin")
      .select(col("q"),
        round(lit(lo) + lit(width) *
          (col("bin") + (col("q") * col("n") - (col("cum") - col("cnt"))) /
            col("cnt")), 6).as("hist_est"))
  }

  /** Distinct-count estimate for a key column: [[kmvEstimate]] over
    * its [[kmvMinHashes]] summary.
    */
  def kmvDistinctEstimate(df: DataFrame, keyCol: String, k: Int): DataFrame =
    kmvEstimate(kmvMinHashes(df, keyCol, k), k)

  /** Merge two KMV summaries (frames of column `h`): union the sets and
    * re-truncate to the k smallest — the summary of the UNION of the
    * underlying key sets, computed without touching either corpus
    * again. With inclusion–exclusion this gives distinct-count
    * estimates for unions and intersections of arbitrary key sets from
    * k-sized state per set.
    */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.union(b).distinct().sort("h").limit(k)

  /** The (k-1)/U(h_k) estimator over an existing ≤k-row summary. */
  def kmvEstimate(mins: DataFrame, k: Int): DataFrame =
    mins.agg(count(lit(1)).as("k_used"), max("h").as("kth_hash"))
      .select(
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(round(
            (col("k_used") - 1) * lit(4294967296.0) / col("kth_hash"), 6))
          .as("dv_est"),
        col("kth_hash"))

  /** HyperLogLog register table (Flajolet et al. 2007) over the same
    * pinned 32-bit md5 hash family as [[kmvMinHashes]]: bucket = top
    * `b` bits, rank = position of the leftmost 1-bit of the remaining
    * 32−b bits (1-based; an all-zero remainder ranks 32−b+1). The
    * register value is the MAX rank seen in the bucket, so the sketch
    * is idempotent, arrival-order/layout-invariant, mergeable by plain
    * per-bucket max (union of corpora = elementwise max of register
    * tables), and streams as an ordinary complete-mode aggregation —
    * no custom state op. Versus [[kmvMinHashes]]: m registers of
    * ≤6 bits beat k 64-bit hashes at equal error (~1.04/√m), the
    * trade every production engine makes for distinct counts.
    *
    * Everything is codegen scan-side arithmetic: the rank uses
    * `length(bin(w))` (minimal binary string, identical semantics in
    * DuckDB), not floating log2, so the cells — and with the dyadic
    * estimator below, the estimate — replay exactly in SQL. Shuffle
    * is capped at groups×2^b cells per partition by map-side max.
    * NULL keys carry no distinct signal and are dropped (same policy
    * as [[cmsCells]]).
    */
  def hllCellsByGroup(df: DataFrame, grpCol: String, keyCol: String,
                      b: Int): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val rem = 32 - b
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    df.filter(col(keyCol).isNotNull)
      .select(col(grpCol).as("grp"), h.as("h"))
      .select(col("grp"),
        expr(s"shiftright(h, $rem)").as("bucket"),
        col("h").bitwiseAND(lit((1L << rem) - 1L)).as("w"))
      .select(col("grp"), col("bucket"),
        when(col("w") === 0L, lit(rem + 1))
          .otherwise(lit(rem + 1) - length(bin(col("w")))).cast("int")
          .as("rank"))
      .groupBy("grp", "bucket").agg(max("rank").as("reg"))
  }

  /** Ungrouped [[hllCellsByGroup]]: (bucket, reg) for one key column. */
  def hllCells(df: DataFrame, keyCol: String, b: Int): DataFrame =
    hllCellsByGroup(df.withColumn("__g", lit("all")), "__g", keyCol, b)
      .drop("grp")

  /** The HLL estimate from a register table, per group: raw estimate
    * αm·m²/Σ2^−reg (empty registers contribute 2^0), with the standard
    * small-range linear-counting correction m·ln(m/V) when the raw
    * estimate ≤ 2.5m and V = #empty registers > 0. The 2^−reg terms
    * are computed as 1.0/(1<<reg) — exact dyadic doubles whose sum is
    * order-independent — so the estimate is bit-deterministic and any
    * engine replays it from the same cells. (The 32-bit large-range
    * correction only matters beyond ~2^32/30 ≈ 143M distinct; omitted,
    * and the oracle omits it identically.)
    */
  def hllEstimateByGroup(cells: DataFrame, b: Int): DataFrame = {
    val m = 1 << b
    val alpha = m match { // the published αm constants (Flajolet §4)
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    cells.groupBy("grp").agg(
        sum(expr("1.0D / cast(shiftleft(1L, reg) as double)")).as("__sp"),
        count(lit(1)).as("__cnt"))
      .select(col("grp"),
        (lit(m.toLong) - col("__cnt")).as("__v"),
        (lit(alpha * m * m) / (col("__sp") + (lit(m.toLong) - col("__cnt"))))
          .as("__raw"))
      .select(col("grp"),
        round(when(col("__raw") <= lit(2.5 * m) && col("__v") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("__v")))
          .otherwise(col("__raw")), 6).as("hll_est"))
  }

  /** Distinct-count estimate for one key column: estimator over
    * [[hllCells]], as a single-row frame.
    */
  def hllDistinctEstimate(df: DataFrame, keyCol: String, b: Int): DataFrame =
    hllEstimateByGroup(
      hllCellsByGroup(df.withColumn("__g", lit("all")), "__g", keyCol, b), b)
      .drop("grp")

  /** Per-group histogram quantile: the [[histQuantiles]] walk with
    * every window partitioned by the group column — cells stay
    * additive at ≤ groups×bins rows, one shuffle.
    */
  def histQuantileByGroup(df: DataFrame, grpCol: String, valCol: String,
                          lo: Double, hi: Double, bins: Int,
                          q: Double): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"quantile must be in (0,1], got $q")
    val width = (hi - lo) / bins
    val cells = df.groupBy(col(grpCol),
        binExpr(valCol, lo, width, bins).as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(grpCol).orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = cells
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(Window.partitionBy(grpCol)))
    c.filter(col("cum") >= lit(q) * col("n"))
      .groupBy(grpCol).agg(min("bin").as("bin"))
      .join(c, Seq(grpCol, "bin"))
      .select(col(grpCol),
        round(lit(lo) + lit(width) *
          (col("bin") + (lit(q) * col("n") - (col("cum") - col("cnt"))) /
            col("cnt")), 6).as("hist_est"))
  }

  /** Pairwise Jaccard similarity matrix between groups' key SETS from
    * per-group KMV sketches (Beyer et al., SIGMOD 2007 §5): for each
    * group keep the k smallest pinned 32-bit hashes of its distinct
    * keys; for a pair, J ≈ |{k smallest of the union} ∩ A ∩ B| / k.
    * Because the union's k smallest hashes are necessarily inside each
    * side's own k smallest, the estimator needs ONLY the two sketches
    * — which source corpora overlap, from k values of state per
    * source, no cross-corpus join ever.
    *
    * Fully deterministic (the sketch is a set of pinned md5 hashes;
    * ranking and membership are integer ops), so the whole matrix
    * replays exactly in SQL. Corpus-sized work is ONE distinct
    * (group, key) pass; the pair fold runs on groups² × k rows.
    * Small unions (< k distinct hashes) divide by the union size —
    * there the estimator is exact.
    */
  def kmvJaccardByGroup(df: DataFrame, grpCol: String, keyCol: String,
                        k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val wg = Window.partitionBy(col("g")).orderBy(col("h"))
    val sk = graft.data.ScopedCaches.track(
      df.filter(col(keyCol).isNotNull)
        .select(col(grpCol).as("g"), h.as("h")).distinct()
        .withColumn("__rn", row_number().over(wg))
        .filter(col("__rn") <= k)
        .select(col("g"), col("h")))
    val gs = sk.select(col("g")).distinct()
    val pairs = gs.select(col("g").as("ga"))
      .join(gs.select(col("g").as("gb")), col("ga") < col("gb"))
    val tagged = pairs.join(sk.select(col("g").as("ga"), col("h"),
        lit(1).as("in_a")), Seq("ga"))
      .unionByName(pairs.join(sk.select(col("g").as("gb"), col("h"),
        lit(1).as("in_b")), Seq("gb")), allowMissingColumns = true)
    val merged = tagged.groupBy(col("ga"), col("gb"), col("h"))
      .agg(max(coalesce(col("in_a"), lit(0))).as("a"),
        max(coalesce(col("in_b"), lit(0))).as("b"))
    val wp = Window.partitionBy(col("ga"), col("gb")).orderBy(col("h"))
    merged.withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= k)
      .groupBy(col("ga").as("src"), col("gb").as("tgt"))
      .agg(count(lit(1)).as("union_used"),
        sum(col("a") * col("b")).as("hits"))
      .select(col("src"), col("tgt"), col("union_used"), col("hits"),
        round(col("hits").cast("double") /
          col("union_used").cast("double"), 6).as("jaccard_kmv"))
  }

  /** AMS/tug-of-war second-moment sketch (Alon, Matias & Szegedy 1996):
    * r independent counters Z_j = Σ_key f_key·s_j(key) with a ±1 sign
    * hash per row; each Z_j² is an unbiased estimate of
    * F2 = Σ f_key² — the self-join size on the key, the one number
    * that prices every shuffle/join on that column (skew detection,
    * join-size estimation) from O(r) state instead of a full per-key
    * count table.
    *
    * Signs come from the same engine-portable pinned family as
    * [[cmsBucket]] — the parity of the first-8-hex-chars md5 hash of
    * "j:key" — so the whole sketch replays exactly in SQL. The cells
    * are purely ADDITIVE (each row contributes ±1 to r counters), so
    * like CMS the materialized sketch is arrival-order- and
    * layout-invariant and mergeable by plain per-j addition; execution
    * is one codegen'd r-way explode whose shuffle is capped at r cells
    * per partition by map-side partial sums. NULL keys dropped (same
    * policy and reason as [[cmsCells]]).
    */
  def amsF2Cells(df: DataFrame, keyCol: String, r: Int): DataFrame = {
    require(r >= 4 && r % 4 == 0, s"need r >= 4 divisible by 4, got $r")
    val h = conv(substring(md5(concat_ws(":", col("j"), col("key"))),
      1, 8), 16, 10).cast("long")
    df.select(col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull)
      .select(explode(array((0 until r).map(lit): _*)).as("j"), col("key"))
      .groupBy("j").agg(sum(h % 2 * 2 - 1).as("z"))
  }

  /** Median-of-means estimate from an [[amsF2Cells]] summary (r/4
    * groups of 4 — the textbook variance/confidence split), alongside
    * the exact F2 for the audit. Every intermediate is exact: Z_j and
    * Z_j² are integers, each group mean has a .25 grain (dyadic, exact
    * in double), and the median of the r/4 means is (sum−min−max)/2
    * for r=16 — no order-dependent float sum anywhere, so the estimate
    * replays bit-for-bit in SQL. The exact side is one per-key count
    * plus a DECIMAL(38,0) Σc² fold.
    */
  def amsF2Estimate(df: DataFrame, keyCol: String, r: Int = 16): DataFrame = {
    require(r == 16, s"median-of-4-means form requires r = 16, got $r")
    val means = amsF2Cells(df, keyCol, r)
      .groupBy((col("j") / 4).cast("int").as("g"))
      .agg(sum(col("z") * col("z")).as("s"))
      .select((col("s") / 4.0).as("m"))
    val est = means.agg(
      ((sum("m") - min("m") - max("m")) / 2.0).as("f2_ams"))
    val exact = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .agg(sum((col("c") * col("c")).cast("decimal(38,0)"))
        .cast("long").as("f2_exact"))
    exact.crossJoin(broadcast(est))
      .select(col("f2_exact"), round(col("f2_ams"), 6).as("f2_ams"),
        round(abs(col("f2_ams") - col("f2_exact")) / col("f2_exact"), 6)
          .as("rel_err"))
  }
}
