package graft

import graft.ops.Stats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  test("psiDrift: hand-computed two-band shift with Jeffreys smoothing") {
    // baseline 1,2,3,4 (median edge 2.5); current 3,4,4,4 — everything
    // lands in the upper band: pb = 0.5/0.5, pc = 0.1/0.9
    val df = Seq((1.0, true), (2.0, true), (3.0, true), (4.0, true),
      (3.0, false), (4.0, false), (4.0, false), (4.0, false))
      .toDF("v", "isb")
    val rows = Stats.psiDrift(df, col("v"), col("isb"), bins = 2)
      .orderBy("bin").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows(0).getDouble(2) == 2.5 && rows(1).getDouble(1) == 2.5)
    assert(rows.map(r => (r.getLong(3), r.getLong(4))).toSeq ==
      Seq((2L, 0L), (2L, 4L)))
    assert(rows.map(_.getDouble(5)).toSeq == Seq(0.5, 0.5))
    assert(rows.map(_.getDouble(6)).toSeq == Seq(0.1, 0.9))
    val c1 = (0.1 - 0.5) * math.log(0.1 / 0.5)
    val c2 = (0.9 - 0.5) * math.log(0.9 / 0.5)
    assert(rows(0).getDouble(7) ==
      BigDecimal(c1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rows(0).getDouble(8) ==
      BigDecimal(c1 + c2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("gmm2Em: separates two planted populations; constant input degenerates") {
    // two tight clusters at 0 and 10, equal mass: three EM steps from
    // the quartile init must land the means on the clusters
    val vals = (1 to 100).flatMap(_ => Seq(-1.0, 0.0, 1.0)) ++
      (1 to 100).flatMap(_ => Seq(9.0, 10.0, 11.0))
    val r = Stats.gmm2Em(vals.toDF("v"), col("v"), iters = 3)
      .collect().head
    val (w1, mu1, sg1, mu2, sg2) = (r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(4), r.getDouble(5))
    assert(math.abs(w1 - 0.5) < 0.05, s"w1=$w1")
    assert(math.abs(mu1 - 0.0) < 0.2 && math.abs(mu2 - 10.0) < 0.2,
      s"mu=$mu1/$mu2")
    // each cluster's sd is sqrt(2/3) = 0.8165
    assert(math.abs(sg1 - 0.8165) < 0.05 && math.abs(sg2 - 0.8165) < 0.05)
    // constant column: responsibilities are 0.5 everywhere, both
    // components sit on the point with the variance floor — no crash
    val c = Stats.gmm2Em(Seq.fill(50)(7.0).toDF("v"), col("v"), iters = 3)
      .collect().head
    assert(c.getDouble(0) == 0.5 && c.getDouble(1) == 7.0 &&
      c.getDouble(4) == 7.0 && c.getDouble(2) == 0.001)
  }

  test("emdDrift: point-mass collapse costs 0.5, unit shift costs exactly 1") {
    // A uniform on {0,1}, B a point mass at 0.5: optimal transport
    // moves each half of A's mass 0.5 -> W1 = 0.5 exactly
    val df = Seq((0.0, true), (0.0, true), (1.0, true), (1.0, true),
      (0.5, false), (0.5, false), (0.5, false), (0.5, false))
      .toDF("v", "isb")
    val r = Stats.emdDrift(df, col("v"), col("isb")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((4L, 4L, 0.5)))
    // whole distribution shifted by +1: W1 = 1 (KS would read the same
    // 1/3 gap for a +1 and a +100 shift; W1 scales with the distance)
    val shift = Seq(0.0, 1.0, 2.0).map((_, true)) ++
      Seq(1.0, 2.0, 3.0).map((_, false))
    val s = Stats.emdDrift(shift.toDF("v", "isb"), col("v"), col("isb"))
      .collect().head
    assert(s.getDouble(2) == 1.0)
    // identical populations: zero mass moves
    val same = Seq(1.0, 2.0, 5.0).flatMap(v => Seq((v, true), (v, false)))
    assert(Stats.emdDrift(same.toDF("v", "isb"), col("v"), col("isb"))
      .collect().head.getDouble(2) == 0.0)
  }

  test("psiDrift: identical populations score ~0 with all bands hit") {
    val df = (1 to 100).flatMap(i =>
      Seq((i.toDouble, true), (i.toDouble, false))).toDF("v", "isb")
    val rows = Stats.psiDrift(df, col("v"), col("isb"), bins = 5)
      .collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getLong(3) == 20L && r.getLong(4) == 20L))
    assert(rows.forall(_.getDouble(8) == 0.0))
  }

  test("giniConcentration: hand-computed rank sum over the histogram") {
    // counts A:1 B:1 C:2 D:4 — sorted 1,1,2,4; S = 1+2+6+16 = 25;
    // G = 2*25/(4*8) - 5/4 = 0.3125; top-1% and top-10% both take
    // ceil(4/100)=ceil(4/10)=1 key, the count-4 one: share 0.5
    val df = Seq("A", "B", "C", "C", "D", "D", "D", "D").toDF("k")
    val r = Stats.giniConcentration(df, col("k")).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((4L, 8L)))
    assert(r.getDouble(2) == 0.3125)
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 0.5)
  }

  test("giniConcentration: uniform counts score exactly 0") {
    val df = (1 to 30).map(i => s"k${i % 10}").toDF("k")
    val r = Stats.giniConcentration(df, col("k")).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((10L, 30L)))
    assert(r.getDouble(2) == 0.0)
    // top 1 key of 10 holds exactly its uniform 1/10 share
    assert(r.getDouble(3) == 0.1 && r.getDouble(4) == 0.1)
  }

  test("kaplanMeier: textbook censored fixture") {
    // durations 1,1,2c,3,4c: S(1)=3/5, S(2)=3/5 (censor only),
    // S(3)=3/5 * 1/2 = 0.3, S(4)=0.3 (censor only)
    val df = Seq((1, false), (1, false), (2, true), (3, false), (4, true))
      .toDF("dur", "cen")
    val rows = Stats.kaplanMeier(df, col("dur"), col("cen"))
      .orderBy("dur").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (1L, 5L, 2L, 0L, 0.6), (2L, 3L, 0L, 1L, 0.6),
      (3L, 2L, 1L, 0L, 0.3), (4L, 1L, 0L, 1L, 0.3)))
  }

  test("mutualInformation: functional dependence, independence, constant") {
    // x == y over 4 uniform values: H = 2 bits each, MI = 2, NMI = 1
    val dep = Seq("a", "b", "c", "d").map(v => (v, v)).toDF("x", "y")
    val r1 = Stats.mutualInformation(dep, col("x"), col("y")).collect().head
    assert((r1.getDouble(0), r1.getDouble(1), r1.getDouble(2),
      r1.getDouble(3), r1.getDouble(4)) == ((2.0, 2.0, 2.0, 2.0, 1.0)))
    // full product distribution: MI = 0
    val ind = Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"))
      .toDF("x", "y")
    val r2 = Stats.mutualInformation(ind, col("x"), col("y")).collect().head
    assert((r2.getDouble(0), r2.getDouble(1), r2.getDouble(2),
      r2.getDouble(3), r2.getDouble(4)) == ((1.0, 1.0, 2.0, 0.0, 0.0)))
    // constant y: H(y) = 0 so NMI is undefined (null), MI = 0
    val const = Seq(("a", "z"), ("b", "z")).toDF("x", "y")
    val r3 = Stats.mutualInformation(const, col("x"), col("y"))
      .collect().head
    assert(r3.getDouble(1) == 0.0 && r3.getDouble(3) == 0.0 && r3.isNullAt(4))
  }

  test("leaveOneOutContribution: exact decomposed LOO means") {
    // A: scores 1,1; B: 0. corpus 2/3; drop A -> 0 (delta -2/3);
    // drop B -> 1 (delta +1/3)
    val df = Seq(("A", 1.0), ("A", 1.0), ("B", 0.0)).toDF("g", "s")
    val got = Stats.leaveOneOutContribution(df, col("g"), col("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got("A") == ((2L, 1.0, 0.666667, 0.0, -0.666667)))
    assert(got("B") == ((1L, 0.0, 0.666667, 1.0, 0.333333)))
    // a single-group corpus has no leave-one-out mean
    val solo = Stats.leaveOneOutContribution(
      Seq(("A", 1.0)).toDF("g", "s"), col("g"), col("s")).collect().head
    assert(solo.isNullAt(4) && solo.isNullAt(5))
  }

  test("profileDrift: planted null spike and mean shift in one pass") {
    // baseline: v = 10, 20 (no nulls); current: v = 40, null
    val df = Seq((true, Some(10.0), "ab"), (true, Some(20.0), "ab"),
      (false, Some(40.0), "abcd"), (false, None, "ab"))
      .toDF("isb", "v", "s")
    val got = Stats.profileDrift(df, col("isb"), Seq("v"), Seq("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(("v", "null_rate")) == ((0.0, 0.5, 0.5)))
    assert(got(("v", "mean")) == ((15.0, 40.0, 25.0)))
    assert(got(("s", "null_rate")) == ((0.0, 0.0, 0.0)))
    assert(got(("s", "mean_length")) == ((2.0, 3.0, 1.0)))
  }

  test("kaplanMeier: no censoring degenerates to the empirical survivor") {
    // durations 1,2,2,3: S(1)=3/4, S(2)=3/4*(1/3)=0.25, S(3)=0
    val df = Seq(1, 2, 2, 3).map((_, false)).toDF("dur", "cen")
    val rows = Stats.kaplanMeier(df, col("dur"), col("cen"))
      .orderBy("dur").collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(rows.toSeq == Seq((1L, 0.75), (2L, 0.25), (3L, 0.0)))
  }

  test("poissonBootstrapCi: constant metric collapses the interval") {
    val df = (1L to 40L).map((_, 7.0)).toDF("id", "v")
    val r = Stats.poissonBootstrapCi(df, "id", "v", b = 50).collect().head
    assert(r.getLong(0) == 40L && r.getDouble(1) == 7.0)
    assert(r.getDouble(3) == 7.0 && r.getDouble(4) == 7.0,
      "every replicate mean of a constant is the constant")
    assert(r.getDouble(5) == 0.0)
  }

  test("cuped: perfectly-correlated covariate gives theta=2, rho2=1, diff_adj=0") {
    // per unit: pre total X = i, post total Y = 2i. θ = cov/var = 2,
    // var_reduction = ρ² = 1, and the adjusted arm means both collapse
    // to 2·mean(X) — the arm split (pinned md5 bit) cannot matter.
    val df = (1 to 40).flatMap(i =>
      Seq((i.toLong, i.toDouble, true), (i.toLong, 2.0 * i, false)))
      .toDF("unit", "value", "pre")
    val rows = Stats.cuped(df, col("unit"), col("value"), col("pre"))
      .collect()
    assert(rows.length == 2, "one row per arm")
    assert(rows.map(_.getInt(0)).toSet == Set(0, 1))
    assert(rows.map(_.getLong(1)).sum == 40L, "all units assigned")
    val r = rows.head
    assert(r.getDouble(4) == 2.0, "theta")
    assert(r.getDouble(7) == 1.0, "var_reduction = rho^2 = 1")
    assert(r.getDouble(6) == 0.0, "perfect covariate removes the arm diff")
    rows.foreach { x =>
      assert(x.getDouble(3) == 41.0, // 2 * mean(1..40) = 41
        "adjusted mean is 2*mean(X) for both arms")
    }
  }

  test("diffInDiff: a uniform pre->post shift is not a treatment effect") {
    val df = (1 to 30).flatMap(i =>
      Seq((i.toLong, 1.0, true), (i.toLong, 6.0, false)))
      .toDF("unit", "value", "pre")
    val rows = Stats.diffInDiff(df, col("unit"), col("value"), col("pre"))
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 6.0)
      assert(r.getDouble(5) == 0.0, "parallel trends -> DiD 0")
    }
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == 60L)
  }

  test("corrMatrix: exact +1/-1 on linearly dependent columns") {
    val df = Seq((1.0, 2.0, 4.0), (2.0, 4.0, 3.0), (3.0, 6.0, 2.0),
      (4.0, 8.0, 1.0)).toDF("a", "b", "c")
    val m = Stats.corrMatrix(df, Seq("a", "b", "c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m.size == 3, "upper triangle of 3 columns")
    assert(m(("a", "b")) == 1.0)
    assert(m(("a", "c")) == -1.0)
    assert(m(("b", "c")) == -1.0)
  }

  test("cramersV: perfect association V=1, independence V=0, empty cells pay e") {
    val perfect = (Seq.fill(10)(("a", 0)) ++ Seq.fill(10)(("b", 1)))
      .toDF("x", "y")
    val r1 = Stats.cramersV(perfect, col("x"), col("y")).collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((20L, 2L, 2L)))
    assert(r1.getDouble(3) == 20.0 && r1.getDouble(4) == 1.0)
    val indep = (for { x <- Seq("a", "b"); y <- 0 to 2; _ <- 1 to 5 }
      yield (x, y)).toDF("x", "y")
    val r2 = Stats.cramersV(indep, col("x"), col("y")).collect().head
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0)
  }

  test("ksDrift: hand CDF gap, identical samples D=0, shifted rejects") {
    // base {1,2,3,4}, cur {3,4,5,6}: D at v=2: |2/4 - 0| = 0.5
    val df = Seq((1.0, true), (2.0, true), (3.0, true), (4.0, true),
      (3.0, false), (4.0, false), (5.0, false), (6.0, false))
      .toDF("v", "isb")
    val r = Stats.ksDrift(df, col("v"), col("isb")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((4L, 4L, 0.5)))
    val crit = BigDecimal(1.358 * math.sqrt(8.0 / 16.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == crit && !r.getBoolean(4)) // 0.5 < 0.96
    // identical samples: D exactly 0
    val same = Seq((1.0, true), (2.0, true), (1.0, false), (2.0, false))
      .toDF("v", "isb")
    assert(Stats.ksDrift(same, col("v"), col("isb"))
      .collect().head.getDouble(2) == 0.0)
    // disjoint supports at n=200: D=1 must reject
    val far = ((1 to 100).map(i => (i.toDouble, true)) ++
      (1 to 100).map(i => (1000.0 + i, false))).toDF("v", "isb")
    val rf = Stats.ksDrift(far, col("v"), col("isb")).collect().head
    assert(rf.getDouble(2) == 1.0 && rf.getBoolean(4))
  }

  test("mannWhitneyU: hand ranks with ties, symmetric samples give z=0") {
    // g1 {1,2,2}, g2 {2,3}: ranks 1, avg(2,3,4)=3 ×2, 5
    // R1 = 1+3+3 = 7, U1 = 7 - 3·4/2 = 1, μ = 3,
    // σ² = (3·2/12)·(6 - 24/20) = 2.4, z = -2/√2.4
    val df = Seq((1.0, true), (2.0, true), (2.0, true),
      (2.0, false), (3.0, false)).toDF("v", "g1")
    val r = Stats.mannWhitneyU(df, col("v"), col("g1")).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)))
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 3.0)
    val sig = BigDecimal(math.sqrt(2.4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == sig)
    val z = BigDecimal(-2.0 / math.sqrt(2.4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == z)
    // same distribution in both groups → U1 = μ, z = 0
    val same = Seq((1.0, true), (2.0, true), (1.0, false), (2.0, false))
      .toDF("v", "g1")
    val rs = Stats.mannWhitneyU(same, col("v"), col("g1")).collect().head
    assert(rs.getDouble(2) == rs.getDouble(3) && rs.getDouble(5) == 0.0)
  }

  test("kruskalWallis: hand-computed H with ties, identical groups accept") {
    // a {1,2,3}, b {2,3,4}, c {10,11,12}: N=9, ties at 2 and 3 (t=2
    // each, ties3 = 12), avg ranks 1, 2.5, 2.5, 4.5, 4.5, 6, 7, 8, 9
    // -> R_a = 8, R_b = 15, R_c = 24; H = 12/90*(64/3+225/3+576/3)-30
    // = 5.9555..., corr = 1-12/720, H' = 6.056497 > chi2_.05(2)=5.991465
    val df = Seq((1.0, "a"), (2.0, "a"), (3.0, "a"),
      (2.0, "b"), (3.0, "b"), (4.0, "b"),
      (10.0, "c"), (11.0, "c"), (12.0, "c")).toDF("v", "g")
    val r = Stats.kruskalWallis(df, col("v"), col("g"),
      critValue = 5.991465).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L)
    assert(r.getDouble(2) == 6.056497 && r.getBoolean(3))
    // identical distributions in k=3 groups: H small, accept
    val same = (1 to 3).flatMap(g =>
      (1 to 5).map(i => (i.toDouble, s"g$g"))).toDF("v", "g")
    val rs = Stats.kruskalWallis(same, col("v"), col("g"),
      critValue = 5.991465).collect().head
    assert(rs.getDouble(2) == 0.0 && !rs.getBoolean(3))
    // one group only: no test, nulls
    val one = Seq((1.0, "a"), (2.0, "a")).toDF("v", "g")
    val r1 = Stats.kruskalWallis(one, col("v"), col("g"),
      critValue = 5.991465).collect().head
    assert(r1.isNullAt(2) && r1.isNullAt(3))
  }

  test("mannKendall: monotone series rejects, constant null, hand S") {
    // strictly increasing 10 days: S = 45, no ties, Var = 10*9*25/18=125
    // z = 44/sqrt(125) = 3.935160 -> reject
    val up = (1 to 10).map(d => (d, d * 3)).toDF("k", "x")
    val r = Stats.mannKendall(up, col("k"), col("x")).collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 45L)
    val z = BigDecimal(44.0 / math.sqrt(125.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) == z && r.getBoolean(3))
    // constant series: every pair ties -> S = 0, Var = 0 -> null verdict
    val const = (1 to 10).map(d => (d, 7)).toDF("k", "x")
    val rc = Stats.mannKendall(const, col("k"), col("x")).collect().head
    assert(rc.getLong(1) == 0L && rc.isNullAt(2) && rc.isNullAt(3))
    // alternating short series: S near 0, accept
    val alt = (1 to 10).map(d => (d, if (d % 2 == 0) 5 else 6))
      .toDF("k", "x")
    assert(!Stats.mannKendall(alt, col("k"), col("x"))
      .collect().head.getBoolean(3))
  }

  test("cliffsDelta: hand pair counts, full dominance hits +-1") {
    // g1 {1,2,3} vs g2 {2,3,4}: #(x>y)=1 (3>2), #(x<y)=6,
    // delta = -5/9 -> -555556 ppm, |.| >= .474 -> large
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (2.0, false), (3.0, false), (4.0, false)).toDF("v", "g1")
    val r = Stats.cliffsDelta(df, col("v"), col("g1")).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)))
    assert(r.getLong(2) == -555556L && r.getString(3) == "large")
    // complete separation: every g1 value above every g2 -> +1
    val sep = Seq((10.0, true), (11.0, true), (1.0, false), (2.0, false))
      .toDF("v", "g1")
    val rs = Stats.cliffsDelta(sep, col("v"), col("g1")).collect().head
    assert(rs.getLong(2) == 1000000L && rs.getString(3) == "large")
    // identical singleton distributions: delta 0, negligible
    val same = Seq((5.0, true), (5.0, false)).toDF("v", "g1")
    val r0 = Stats.cliffsDelta(same, col("v"), col("g1")).collect().head
    assert(r0.getLong(2) == 0L && r0.getString(3) == "negligible")
  }

  test("rankBiasedOverlap: identical lists 1.0, disjoint 0, top-heavy order") {
    import graft.ops.Ranking
    def list(q: Long, items: Seq[Long]) =
      items.zipWithIndex.map { case (it, i) => (q, it, i + 1) }
        .toDF("query_id", "neighbor_id", "rank")
    val a = list(1L, Seq(10, 11, 12, 13, 14))
    assert(Ranking.rankBiasedOverlap(a, a, k = 5).collect()
      .head.getLong(1) == 1000000L)
    val disj = list(1L, Seq(20, 21, 22, 23, 24))
    assert(Ranking.rankBiasedOverlap(a, disj, k = 5).collect()
      .head.getLong(1) == 0L)
    // agreeing at the TOP scores above agreeing at the bottom
    val topAgree = list(1L, Seq(10, 11, 90, 91, 92))    // shares ranks 1-2
    val botAgree = list(1L, Seq(90, 91, 92, 13, 14))    // shares ranks 4-5
    val top = Ranking.rankBiasedOverlap(a, topAgree, k = 5)
      .collect().head.getLong(1)
    val bot = Ranking.rankBiasedOverlap(a, botAgree, k = 5)
      .collect().head.getLong(1)
    assert(top > bot, s"top-weighting violated: $top <= $bot")
  }

  test("isotonicCalibration: PAV pools the violating pair, keeps the rest") {
    // bin rates (0.5, 0.0, 1.0): PAV pools bins 0-1 to 1/4, leaves bin 2
    val df = Seq((0.05, true), (0.05, false), (0.15, false),
      (0.15, false), (0.25, true), (0.25, true)).toDF("conf", "ok")
    val got = Stats.isotonicCalibration(df, col("conf"), col("ok"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == Set((0, 2L, 1L, 0.5, 0.25), (1, 2L, 0L, 0.0, 0.25),
      (2, 2L, 2L, 1.0, 1.0)))
    // fitted rates must be non-decreasing in bin for any input
    val iso = got.toSeq.sortBy(_._1).map(_._5)
    assert(iso == iso.sorted)
  }

  test("kendallTau: monotone ±1, hand-counted ties") {
    import spark.implicits._
    val up = Seq((1L, 1L, 10L), (2L, 2L, 40L), (3L, 3L, 90L))
      .toDF("k", "x", "y")
    assert(Stats.kendallTau(up, col("k"), col("x"), col("y"))
      .collect().head.getDouble(5) == 1.0)
    val down = Seq((1L, 1L, 9L), (2L, 2L, 8L), (3L, 3L, 7L))
      .toDF("k", "x", "y")
    assert(Stats.kendallTau(down, col("k"), col("x"), col("y"))
      .collect().head.getDouble(5) == -1.0)
    // x = (1,1,2), y = (3,5,4): pairs (1,2) tied-x, (1,3) concordant,
    // (2,3) discordant -> C=1 D=1 tx=1 ty=0, n0=3 ->
    // tau_b = 0 / sqrt(2*3) = 0
    val tied = Seq((1L, 1L, 3L), (2L, 1L, 5L), (3L, 2L, 4L))
      .toDF("k", "x", "y")
    val r = Stats.kendallTau(tied, col("k"), col("x"), col("y"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == ((3L, 1L, 1L, 1L, 0L, 0.0)))
  }

  test("bhFdrScreen: null groups get p=1 and survive; planted pair rejects") {
    import spark.implicits._
    // identical rates -> chi2 exactly 0 -> p = erfc(0) rounds to 1.0
    val nullDf = (Seq.fill(10)(("g1", true)) ++ Seq.fill(10)(("g1", false)) ++
      Seq.fill(10)(("g2", true)) ++ Seq.fill(10)(("g2", false))).toDF("g", "c")
    val n = Stats.bhFdrScreen(nullDf, col("g"), col("c"), alpha = 0.05)
      .collect().map(r => (r.getDouble(3), r.getDouble(4), r.getLong(7)))
    assert(n.forall(x => x._1 == 0.0 && x._2 == 1.0 && x._3 == 0L), n.toSeq)
    // one hot (40/2) and one cold (2/40) group: strong two-sided
    // association both ways; both must clear the step-up
    val alt = (Seq.fill(40)(("hot", true)) ++ Seq.fill(2)(("hot", false)) ++
      Seq.fill(2)(("cold", true)) ++ Seq.fill(40)(("cold", false)))
      .toDF("g", "c")
    val a = Stats.bhFdrScreen(alt, col("g"), col("c"), alpha = 0.05)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(4), r.getLong(5), r.getLong(7)))).toMap
    assert(a("hot")._3 == 1L && a("cold")._3 == 1L, a.toString)
    assert(a.values.map(_._2).toSeq.sorted == Seq(1L, 2L))
    assert(a.values.forall(v => v._1 >= 0.0 && v._1 <= 1.0))
  }

  test("simpsonDiversity: hand lambda, singleton group is null") {
    import spark.implicits._
    // A: {a,a,b,b}: lambda = (2+2)/(4*3) = 0.333333; B: one row -> null
    val df = Seq(("A", "a"), ("A", "a"), ("A", "b"), ("A", "b"),
      ("B", "z")).toDF("g", "c")
    val got = Stats.simpsonDiversity(df, col("g"), col("c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))))
      .toMap
    assert(got("A") == ((4L, 2L, Some(0.333333), Some(0.666667))))
    assert(got("B") == ((1L, 1L, None, None)))
    // all-one-category: lambda exactly 1, gini-simpson exactly 0
    val mono = Seq.fill(5)(("M", "x")).toDF("g", "c")
    val m = Stats.simpsonDiversity(mono, col("g"), col("c"))
      .collect().head
    assert(m.getDouble(3) == 1.0 && m.getDouble(4) == 0.0)
  }

  test("spearmanCorr: monotone ±1, tie-averaged ranks cancel to 0") {
    val up = Seq((1.0, 10.0), (2.0, 40.0), (3.0, 90.0)).toDF("x", "y")
    assert(Stats.spearmanCorr(up, col("x"), col("y"))
      .collect().head.getDouble(1) == 1.0)
    val down = Seq((1.0, 6.0), (2.0, 5.0), (3.0, 4.0)).toDF("x", "y")
    assert(Stats.spearmanCorr(down, col("x"), col("y"))
      .collect().head.getDouble(1) == -1.0)
    // x ranks (1.5, 1.5, 3) vs y ranks (1, 3, 2): rank covariance 0
    val tied = Seq((1.0, 3.0), (1.0, 5.0), (2.0, 4.0)).toDF("x", "y")
    val r = Stats.spearmanCorr(tied, col("x"), col("y")).collect().head
    assert(r.getLong(0) == 3L && r.getDouble(1) == 0.0)
  }

  test("upliftBySegment: exact conditional counts vs recomputed arm split") {
    val df = (0L until 400L).map(i => (i, (i % 2).toInt, i % 5 == 0))
      .toDF("id", "seg", "succ")
    val got = Stats.upliftBySegment(df, col("id"), col("seg"),
        col("succ"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(7)))).toMap
    // recompute with the op's own arm hash
    val ref = df.withColumn("arm", Stats.treatmentArm(col("id"), "sprt"))
      .collect().map(r => (r.getInt(1), r.getInt(3), r.getBoolean(2)))
    (0 to 1).foreach { seg =>
      val (na, ka) = (ref.count(t => t._1 == seg && t._2 == 0),
        ref.count(t => t._1 == seg && t._2 == 0 && t._3))
      val (nb, kb) = (ref.count(t => t._1 == seg && t._2 == 1),
        ref.count(t => t._1 == seg && t._2 == 1 && t._3))
      val up = BigDecimal(kb.toDouble / nb - ka.toDouble / na)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(seg) == ((na.toLong, ka.toLong, nb.toLong, kb.toLong,
        up)))
    }
  }

  test("jamesSteinShrink: tau2=0 collapses to grand mean; sigma2=0 keeps raw") {
    // equal group means -> between-variance 0 -> full pooling
    val eq = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val r1 = Stats.jamesSteinShrink(eq, col("g"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(r1("a") == ((2.0, 0.0, 2.0)) && r1("b") == ((2.0, 0.0, 2.0)))
    // zero within-group variance -> weight 1, no shrinkage at all
    val sep = Seq(("a", 10.0), ("a", 10.0), ("b", 20.0), ("b", 20.0))
      .toDF("g", "v")
    val r2 = Stats.jamesSteinShrink(sep, col("g"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(r2("a") == ((10.0, 1.0, 10.0)) && r2("b") == ((20.0, 1.0, 20.0)))
    // partial pooling: the larger group resists shrinkage more
    val mix = (Seq.fill(20)(("big", 10.0)) ++ Seq.fill(20)(("big", 30.0)) ++
      Seq(("small", 38.0), ("small", 42.0)) ++
      Seq.fill(10)(("mid", 19.0)) ++ Seq.fill(10)(("mid", 29.0)))
      .toDF("g", "v")
    val r3 = Stats.jamesSteinShrink(mix, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(r3("big") > r3("mid") && r3("mid") > r3("small"))
  }

  test("sprtMonitor: cumulative counts, llr formula, boundary states") {
    // 600 trial units over 3 hours; success iff id % 4 == 0. Arm
    // membership is the op's own md5 split — the test recomputes it
    // with the same expression and checks the checkpoint math exactly.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = (0L until 1800L).map { i =>
      (i, new java.sql.Timestamp(base.getTime + (i / 600) * 3600 * 1000L),
        i % 4 == 0)
    }.toDF("id", "ts", "succ")
    val armB = df.filter(
      conv(substring(md5(concat(lit("sprt:"), col("id").cast("string"))),
        1, 8), 16, 10).cast("long") % 2 === 1)
      .withColumn("h", date_trunc("hour", col("ts")))
      .groupBy("h")
      .agg(count(lit(1)).as("n"), sum(when(col("succ"), 1L).otherwise(0L))
        .as("k"))
      .orderBy("h").collect().map(r => (r.getLong(1), r.getLong(2)))
    val got = Stats.sprtMonitor(df, col("id"), "ts", col("succ"),
        p0 = 0.19, p1 = 0.21, alpha = 0.05, beta = 0.10)
      .orderBy("bucket").collect()
    assert(got.length == 3)
    var (cn, ck) = (0L, 0L)
    got.zip(armB).foreach { case (r, (n, k)) =>
      cn += n; ck += k
      assert(r.getLong(1) == n && r.getLong(2) == k)
      assert(r.getLong(3) == cn && r.getLong(4) == ck)
      val llr = ck * math.log(0.21 / 0.19) +
        (cn - ck) * math.log((1 - 0.21) / (1 - 0.19))
      val llr6 = BigDecimal(llr)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(6) == llr6)
      val up = BigDecimal(math.log((1 - 0.10) / 0.05))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val lo = BigDecimal(math.log(0.10 / (1 - 0.05)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = if (llr6 >= up) "accept_h1"
        else if (llr6 <= lo) "accept_h0" else "continue"
      assert(r.getString(7) == want)
    }
    // 25% success rate vs H0 19% / H1 21%: with ~300 B-arm trials the
    // trajectory must have drifted up into accept_h1 by the last row
    assert(got.last.getString(7) == "accept_h1")
  }

  test("poissonBootstrapCi: interval brackets the mean, multiplicities near Poisson(1)") {
    val df = (1L to 200L).map(i => (i, (i % 10).toDouble)).toDF("id", "v")
    val r = Stats.poissonBootstrapCi(df, "id", "v", b = 200).collect().head
    val (mean, nRes, lo, hi, se) = (r.getDouble(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(nRes == 200L, "no replicate should lose all its weight")
    assert(lo < mean && mean < hi, s"CI [$lo,$hi] must bracket $mean")
    // population sd ~2.87, n=200 -> se ~0.2; the bootstrap estimate
    // should land in the right ballpark, not degenerate
    assert(se > 0.1 && se < 0.4, s"se_boot $se out of band")
    assert(hi - lo < 4 * 0.4 && hi - lo > 0.3)
  }

  test("rocAuc: perfect ranking 1, reversed 0, random-ish 0.5, ties pay half") {
    def auc(rows: Seq[(Double, Boolean)]): (Long, Long, Double, Double) = {
      val r = Stats.rocAuc(rows.toDF("s", "y"), col("s"), col("y"))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    }
    // every positive above every negative
    assert(auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)))
      == (2L, 2L, 1.0, 1.0))
    // fully reversed
    assert(auc(Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false)))
      == (2L, 2L, 0.0, -1.0))
    // all scores tied: every pos/neg pair counts half
    assert(auc(Seq((0.5, true), (0.5, true), (0.5, false), (0.5, false)))
      == (2L, 2L, 0.5, 0.0))
    // hand case: pos {0.8, 0.4}, neg {0.6, 0.4, 0.2}
    // pairs: 0.8 beats all 3; 0.4 beats 0.2, ties 0.4 (half), loses 0.6
    // AUC = (3 + 1.5) / 6 = 0.75
    val (p, n, a, g) = auc(Seq((0.8, true), (0.4, true),
      (0.6, false), (0.4, false), (0.2, false)))
    assert((p, n, a) == (2L, 3L, 0.75) && g == 0.5)
    // 6dp rounding groups near-equal scores before ranking
    assert(auc(Seq((0.5000000001, true), (0.5, false)))._3 == 0.5)
  }

  test("calibrationEce: hand bins, perfect calibration 0, empty bins kept") {
    // bin 7: two rows conf 0.75, one correct -> acc 0.5, gap 0.25
    // bin 9: one row conf 0.95, correct -> acc 1.0, gap 0.05
    // ece = (2*0.25 + 1*0.05)/3
    val df = Seq((0.75, true), (0.75, false), (0.95, true)).toDF("c", "y")
    val rows = Stats.calibrationEce(df, col("c"), col("y"))
      .orderBy("bin").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(1)).sum == 3L)
    val b7 = rows(7); val b9 = rows(9)
    assert(b7.getLong(1) == 2L && b7.getDouble(2) == 0.75 &&
      b7.getDouble(3) == 0.5)
    assert(b9.getLong(1) == 1L && b9.getDouble(2) == 0.95 &&
      b9.getDouble(3) == 1.0)
    val want = BigDecimal((2 * 0.25 + 0.05) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.forall(_.getDouble(4) == want))
    // conf exactly at a band edge goes to the upper band (integer div),
    // conf 1.0 clamps into the top band
    val edge = Seq((0.8, true), (1.0, true)).toDF("c", "y")
    val er = Stats.calibrationEce(edge, col("c"), col("y"))
      .orderBy("bin").collect()
    assert(er(8).getLong(1) == 1L && er(9).getLong(1) == 1L)
    // perfectly calibrated: conf 1.0 always right
    val perf = Seq((1.0, true), (1.0, true)).toDF("c", "y")
    assert(Stats.calibrationEce(perf, col("c"), col("y"))
      .collect().forall(_.getDouble(4) == 0.0))
  }

  test("quantileNormalize maps group extremes to global extremes, ties share p") {
    // group a: 10,20,30; group b: 100,200,300 — same shape, shifted.
    // After normalization both groups' minima map to the global min
    // and maxima to the global max.
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 100.0), (5L, "b", 200.0), (6L, "b", 300.0))
      .toDF("id", "g", "v")
    val got = Stats.quantileNormalize(df, col("g"), col("v"), Seq("id"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == (0.0, 10.0) && got(4L) == (0.0, 10.0))
    assert(got(3L) == (1.0, 300.0) && got(6L) == (1.0, 300.0))
    // midpoints land on the global median
    assert(got(2L)._1 == 0.5 && got(5L)._1 == 0.5)
    assert(got(2L)._2 == got(5L)._2)
    // ties within a group share one midrank percentile
    val t = Seq((1L, "a", 5.0), (2L, "a", 5.0), (3L, "a", 9.0))
      .toDF("id", "g", "v")
    val tp = Stats.quantileNormalize(t, col("g"), col("v"), Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // values {5,5,9}: the tied pair's midrank is (1+2)/2 = 1.5 of 3
    // -> p = 0.25; the top value p = 1.0
    assert(tp(1L) == 0.25 && tp(2L) == 0.25 && tp(3L) == 1.0)
    // a singleton group pins p = 0.5
    val s1 = Seq((1L, "a", 7.0), (2L, "b", 1.0), (3L, "b", 2.0))
      .toDF("id", "g", "v")
    val sp = Stats.quantileNormalize(s1, col("g"), col("v"), Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(sp(1L) == 0.5)
  }

  test("benfordAudit: hand-counted digits, zero-fill, chi2 model match") {
    // positives 1,19,25,33,3100,9 → d1=2, d2=1, d3=2, d9=1, N=6;
    // 0 and -5 are excluded (Benford is on positive magnitudes)
    val df = Seq(1L, 19L, 25L, 33L, 3100L, 9L, 0L, -5L).toDF("v")
    val rows = Stats.benfordAudit(df, col("v"))
      .orderBy("digit").collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9).toSeq)
    val n = rows.map(_.getLong(1))
    assert(n.toSeq == Seq(2L, 1L, 2L, 0L, 0L, 0L, 0L, 0L, 1L))
    assert(rows(0).getLong(2) == 333333L) // round(2/6 * 1e6)
    assert(rows(0).getLong(3) == 301030L) // round(log10(2)*1e9/1e3)
    // chi2 must equal the same pinned-contribution model
    val want = Stats.BenfordPpb.map { case (d, p) =>
      val e = 6.0 * (p.toDouble / 1e9)
      val nd = n(d - 1).toDouble
      math.round((nd - e) * (nd - e) / e * 1e6)
    }.sum.toDouble / 1e6
    val chi2 = rows(0).getDouble(5)
    assert(math.abs(chi2 - BigDecimal(want).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"chi2 $chi2")
    // empty input: all-zero cells, chi2 null rather than divide-by-zero
    val empty = Stats.benfordAudit(Seq(-1L).toDF("v"), col("v"))
      .orderBy("digit").collect()
    assert(empty.length == 9 && empty.forall(_.getLong(1) == 0L))
    assert(empty.forall(_.isNullAt(4)) && empty.forall(_.isNullAt(5)))
  }
}
