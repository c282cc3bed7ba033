package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{aggregate => foldAgg, _}

/** Distribution statistics for corpus governance: PSI drift between two
  * populations, Gini/Lorenz activity concentration, and a Kaplan-Meier
  * survival estimator. Like the other analytics ops, each collapses the
  * raw stream to a DOMAIN-sized table first (bins, count histogram,
  * distinct durations) with map-side-combinable aggregates — the only
  * full-data passes — then runs the statistic on that tiny table, so
  * the shapes survive 100 TB unchanged.
  */
object Stats {

  /** Two-phase distributed prefix sums over a distinct-value DOMAIN
    * table: appends `cum_<c>` (inclusive running sum of `c` in `vName`
    * order) for each of `sumCols`, and — when `withLead` — `lead_v`
    * (the next distinct value, null at the top).
    *
    * This replaces the drift/rank family's single global
    * `Window.orderBy(v)`, the one shape in the library that degraded
    * silently if a high-cardinality value column arrived: the domain
    * is range-bucketed into `buckets` equal-width bands from an exact
    * min/max aggregate, each band runs its cumulative locally (bands
    * in parallel), and the classic second pass broadcasts per-band
    * totals as offsets. Values are bit-identical to the global window
    * (counts are exact integers; bucketing is monotone in v), so every
    * oracle replay is unchanged — only the physical shape moves from
    * one partition to `buckets` of them.
    *
    * Deliberately NOT `repartitionByRange`: RangePartitioner samples
    * its boundaries with a per-RDD seed, so the two materializations
    * of this frame (the window branch and the totals branch) could
    * bucket the same value differently and corrupt the offsets.
    * Equal-width integer bucketing from one exact (min, max) aggregate
    * is deterministic across branches, engines, and retries; skew in
    * the band sizes costs only parallelism, and the worst case is the
    * old single-partition shape, never a wrong sum.
    */
  private[ops] def domainPrefixSums(h: DataFrame, vName: String,
      sumCols: Seq[String], buckets: Int = 64,
      withLead: Boolean = false): DataFrame = {
    val v = col(vName)
    val mm = h.agg(min(v).as("__mn"), max(v).as("__mx"))
    val withB = h.crossJoin(broadcast(mm))
      .withColumn("__b",
        when(col("__mx") > col("__mn"),
          least(floor((v - col("__mn")) /
            (col("__mx") - col("__mn")) * buckets).cast("int"),
            lit(buckets - 1)))
          .otherwise(lit(0)))
      .drop("__mn", "__mx")
    val wLoc = Window.partitionBy(col("__b")).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local0 = sumCols.foldLeft(withB)((d, c) =>
      d.withColumn(s"__cum_$c", sum(col(c)).over(wLoc)))
    val local =
      if (!withLead) local0
      else local0.withColumn("__lead",
        lead(v, 1).over(Window.partitionBy(col("__b")).orderBy(v)))
    val aggs = sum(col(sumCols.head)).as(s"__t_${sumCols.head}") +:
      (sumCols.tail.map(c => sum(col(c)).as(s"__t_$c")) ++
        (if (withLead) Seq(min(v).as("__bmin")) else Nil))
    val totals = withB.groupBy(col("__b")).agg(aggs.head, aggs.tail: _*)
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offCols = col("__b") +: (sumCols.map(c =>
      coalesce(sum(col(s"__t_$c")).over(wOff), lit(0L)).as(s"__o_$c")) ++
      // next NON-EMPTY band's smallest value — lead over the band list
      // handles empty bands between populated ones
      (if (withLead)
        Seq(lead(col("__bmin"), 1).over(Window.orderBy(col("__b")))
          .as("__nextv"))
      else Nil))
    val offs = totals.select(offCols: _*)
    val joined = local.join(broadcast(offs), Seq("__b"))
    val cumd = sumCols.foldLeft(joined)((d, c) =>
      d.withColumn(s"cum_$c", col(s"__cum_$c") + col(s"__o_$c")))
    val led =
      if (!withLead) cumd
      else cumd.withColumn("lead_v", coalesce(col("__lead"), col("__nextv")))
    led.drop(("__b" +: "__lead" +: "__nextv" +:
      sumCols.flatMap(c => Seq(s"__cum_$c", s"__o_$c"))): _*)
  }

  /** A band's Jeffreys-smoothed proportion (cnt + 0.5)/(tot + 0.5·bins),
    * as in [[psiDrift]] and the streaming PSI monitor. */
  def jeffreysProp(cnt: Column, tot: Column, bins: Int): Column =
    (cnt + lit(0.5)) / (tot + lit(0.5 * bins))

  /** A band's PSI term (pc − pb)·ln(pc/pb). */
  def psiTerm(pc: Column, pb: Column): Column = (pc - pb) * log(pc / pb)

  /** Population Stability Index between a baseline and a current
    * population of `valueCol`, over `bins` quantile bands fitted on the
    * BASELINE side (the industry scorecard-drift metric: PSI < 0.1
    * stable, 0.1–0.25 shifting, > 0.25 drifted).
    *
    * Bin edges are the baseline's exact interior quantiles (Spark
    * `percentile` == DuckDB `quantile_cont` interpolation), rounded to
    * 6dp BEFORE binning; band assignment is strictly-greater on the
    * 6dp-rounded value, ties to the lower bin — the same tie rule as
    * [[Analytics.quantileBins]], so every assignment replays in any
    * engine. Proportions are Jeffreys-smoothed, p = (cnt + 0.5) /
    * (tot + 0.5·bins), so an empty band contributes a finite penalty
    * instead of an infinite log-ratio — deterministic, parameter-free,
    * and replayable (the usual ad-hoc 1e-4 floor is neither).
    *
    * Scale shape: one single-row exact-percentile aggregate over the
    * baseline (at extreme N swap `approx_percentile`, plumbing
    * unchanged) broadcast back, then ONE conditional count aggregate
    * over `bins` groups computes both populations in the same pass.
    * Output: one row per band with both counts, smoothed proportions,
    * the band's PSI contribution, and the total.
    */
  def psiDrift(df: DataFrame, valueCol: Column, isBaseline: Column,
               bins: Int): DataFrame = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    val v6 = round(valueCol, 6)
    val ps = (1 until bins).map(i => lit(i.toDouble / bins))
    val edges = df.filter(isBaseline)
      .agg(transform(percentile(v6, array(ps: _*)), e => round(e, 6))
        .as("__edges"))
    val binned = df.crossJoin(broadcast(edges))
      .select(
        (foldAgg(col("__edges"), lit(1),
          (acc, e) => acc + when(v6 > e, 1).otherwise(0))).as("bin"),
        isBaseline.as("__isb"))
      .groupBy(col("bin"))
      .agg(count(when(col("__isb"), 1)).as("cnt_base"),
        count(when(!col("__isb"), 1)).as("cnt_cur"))
    val spine = df.sparkSession.range(1, bins + 1)
      .select(col("id").cast("int").as("bin"))
    val cells = spine.join(binned, Seq("bin"), "left")
      .na.fill(0L, Seq("cnt_base", "cnt_cur"))
      .crossJoin(broadcast(edges))
      .select(col("bin"),
        when(col("bin") > 1, element_at(col("__edges"), col("bin") - 1))
          .as("lo"),
        when(col("bin") < bins, element_at(col("__edges"), col("bin")))
          .as("hi"),
        col("cnt_base"), col("cnt_cur"))
    val tots = cells.agg(sum(col("cnt_base")).cast("double").as("__tb"),
      sum(col("cnt_cur")).cast("double").as("__tc"))
    val contrib = cells.crossJoin(broadcast(tots))
      .withColumn("__pb", jeffreysProp(col("cnt_base"), col("__tb"), bins))
      .withColumn("__pc", jeffreysProp(col("cnt_cur"), col("__tc"), bins))
      .withColumn("__x", psiTerm(col("__pc"), col("__pb")))
    val total = contrib.agg(sum(col("__x")).as("__psi"))
    contrib.crossJoin(broadcast(total))
      .select(col("bin"), col("lo"), col("hi"), col("cnt_base"),
        col("cnt_cur"), round(col("__pb"), 6).as("p_base"),
        round(col("__pc"), 6).as("p_cur"),
        round(col("__x"), 6).as("contrib"), round(col("__psi"), 6).as("psi"))
  }

  /** Gini coefficient + Lorenz top-share report of per-key event
    * concentration: how unequally is activity distributed over keys?
    * (G = 0 uniform, → 1 when a few keys dominate — the audit behind
    * "5% of users generate 80% of events" and bot/abuse triage.)
    *
    * Computed WITHOUT ranking the key domain: with per-key counts
    * collapsed to the count-of-counts histogram (c, m_c), the rank-sum
    * S = Σ_i i·x_i over keys sorted ascending decomposes per histogram
    * row into c·(m_c·b_c + m_c(m_c+1)/2) with b_c = keys below, because
    * equal-count keys occupy a contiguous rank run whose internal order
    * cannot matter. Then G = 2S/(nT) − (n+1)/n. So the expensive pass
    * is ONE map-side-combinable per-key count; the histogram the
    * windows run over is as small as the distinct-count domain —
    * `dedup_cluster_size_dist`'s shape, not a global sort of the keys.
    * All sums are exact BIGINT (at 1e12 keys × 1e9 max count move S to
    * DECIMAL(38,0); the plumbing is one cast).
    *
    * Top-share: the exact share of events held by the top ⌈n/100⌉ and
    * ⌈n/10⌉ keys, from the same histogram by descending partial sums —
    * a partially-taken histogram row contributes c·(m − a_c) for the
    * keys that fit, so the boundary is deterministic with no tie
    * ambiguity (equal-count keys are interchangeable).
    */
  def giniConcentration(df: DataFrame, keyCol: Column): DataFrame = {
    val hist = df.groupBy(keyCol.as("__k"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__m"))
    val tot = hist.agg(sum(col("__m")).as("__n"),
      sum(col("__c") * col("__m")).as("__t"))
    // histogram-sized windows (distinct-count domain, not keys): rank
    // runs below each row ascending, keys above it descending
    val wAsc = Window.orderBy(col("__c").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val wDesc = Window.orderBy(col("__c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val runs = hist.select(col("__c"), col("__m"),
      coalesce(sum(col("__m")).over(wAsc), lit(0L)).as("__below"),
      coalesce(sum(col("__m")).over(wDesc), lit(0L)).as("__above"))
      .crossJoin(broadcast(tot))
    // events held by the top-m keys: each histogram row (desc order)
    // contributes its count times however many of its keys fit under m
    def topShare(frac: Double) = sum(col("__c") * greatest(lit(0L),
      least(col("__m"),
        ceil(col("__n") / lit(frac)).cast("long") - col("__above"))))
    val agg = runs.agg(
      sum(col("__c") * (col("__m") * col("__below") +
        col("__m") * (col("__m") + lit(1L)) / lit(2L))).as("__s"),
      topShare(100.0).as("__top1"), topShare(10.0).as("__top10"))
    agg.crossJoin(broadcast(tot))
      .select(col("__n").as("n_keys"), col("__t").as("total"),
        round(lit(2.0) * col("__s") / (col("__n") * col("__t"))
          - (col("__n") + lit(1.0)) / col("__n"), 6).as("gini"),
        round(col("__top1").cast("double") / col("__t"), 6)
          .as("top1_pct_share"),
        round(col("__top10").cast("double") / col("__t"), 6)
          .as("top10_pct_share"))
  }

  /** Kaplan-Meier survival estimator over a per-subject table of
    * (`durCol` integer duration, `censoredCol` boolean right-censor
    * flag): S(t) = Π_{u ≤ t} (n_u − d_u)/n_u with d_u the events
    * (deaths) at duration u and n_u the at-risk count (subjects with
    * duration ≥ u). Censored subjects leave the risk set at their
    * censor time without an event — the estimator the naive "fraction
    * converted by day t" gets wrong the moment observation windows
    * differ per subject.
    *
    * Emits every distinct duration with at_risk / deaths / censored /
    * S(t). The survival product is an exact left fold over the
    * duration-sorted domain table via the `aggregate` HOF — each step
    * is one IEEE division and one multiplication, both correctly
    * rounded, so any engine's fold replays it bit-for-bit (the oracle
    * is a recursive CTE); output rounded to 6dp.
    *
    * Scale shape: the subject table is already one key-hash aggregate
    * of the caller's; here one map-side-combinable count per distinct
    * duration + a reverse-cumulative window and the fold over the
    * DURATION DOMAIN (calendar-bounded), never the subjects.
    */
  def kaplanMeier(subjects: DataFrame, durCol: Column,
                  censoredCol: Column): DataFrame = {
    val byDur = subjects.groupBy(durCol.cast("long").as("dur"))
      .agg(count(when(!censoredCol, 1)).as("deaths"),
        count(when(censoredCol, 1)).as("censored"))
    val wAtRisk = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = byDur.select(col("dur"), col("deaths"), col("censored"),
      sum(col("deaths") + col("censored")).over(wAtRisk).as("at_risk"))
    val init = expr(
      "CAST(array() AS array<struct<dur:bigint,deaths:bigint," +
        "censored:bigint,at_risk:bigint,s:double>>)")
    val folded = risk
      .agg(sort_array(collect_list(struct(col("dur"), col("deaths"),
        col("censored"), col("at_risk")))).as("__rows"))
      .select(foldAgg(col("__rows"), init, (acc: Column, e: Column) =>
        concat(acc, array(struct(
          e.getField("dur").as("dur"),
          e.getField("deaths").as("deaths"),
          e.getField("censored").as("censored"),
          e.getField("at_risk").as("at_risk"),
          (when(size(acc) === 0, lit(1.0))
            .otherwise(element_at(acc, -1).getField("s")) *
            ((e.getField("at_risk") - e.getField("deaths"))
              .cast("double") / e.getField("at_risk"))).as("s")))))
        .as("__f"))
    folded.select(explode(col("__f")).as("e"))
      .select(col("e.dur").as("dur"), col("e.at_risk").as("at_risk"),
        col("e.deaths").as("deaths"), col("e.censored").as("censored"),
        round(col("e.s"), 6).as("survival"))
  }

  /** Leave-one-out contribution audit: for each group (source, shard,
    * snapshot…), the corpus mean of `scoreCol` with that group REMOVED,
    * and the delta against the full-corpus mean — the cheapest data
    * valuation there is ("which source drags corpus quality?"), exact
    * rather than sampled because LOO means decompose over group
    * aggregates: mean₋g = (T − t_g)/(N − n_g). Positive delta = the
    * corpus improves without the group.
    *
    * ONE map-side-combinable (group, count, sum) aggregate is the only
    * full-data pass; totals are a broadcast re-aggregation of the
    * group-domain table. Delta compares the 6dp-ROUNDED LOO and corpus
    * means so the verdict replays. Single-group corpora have no LOO —
    * null.
    */
  def leaveOneOutContribution(df: DataFrame, groupCol: Column,
                              scoreCol: Column): DataFrame = {
    val g = df.groupBy(groupCol.as("__g"))
      .agg(count(lit(1)).as("n_rows"), sum(scoreCol).as("__t"))
    val tot = g.agg(sum(col("n_rows")).as("__nn"), sum(col("__t")).as("__tt"))
    g.crossJoin(broadcast(tot))
      .select(col("__g").as("group"), col("n_rows"),
        round(col("__t") / col("n_rows"), 6).as("mean_group"),
        round(col("__tt") / col("__nn"), 6).as("corpus_mean"),
        when(col("__nn") > col("n_rows"),
          round((col("__tt") - col("__t")) / (col("__nn") - col("n_rows")),
            6)).as("loo_mean"),
        when(col("__nn") > col("n_rows"),
          round(round((col("__tt") - col("__t")) /
            (col("__nn") - col("n_rows")), 6) -
            round(col("__tt") / col("__nn"), 6), 6)).as("delta"))
  }

  /** Per-column profile drift between a baseline and current
    * population: null rate plus mean (numeric) / mean length (string)
    * per column per side, with absolute deltas — the schema-health
    * companion to [[psiDrift]] (PSI grades ONE column's distribution;
    * this sweeps every column for the cheap early signals: a null-rate
    * jump is an upstream extraction break, a mean-length collapse is a
    * truncating producer). ONE conditional aggregate pass computes both
    * sides of every column — no per-column scan, no count-distinct
    * expand — then a literal stack unpivots to the audit's long form
    * (the `profile_events` pattern). Deltas compare 6dp-rounded sides.
    */
  def profileDrift(df: DataFrame, isBaseline: Column, numCols: Seq[String],
                   strCols: Seq[String]): DataFrame = {
    require(numCols.nonEmpty || strCols.nonEmpty, "need columns")
    def side(base: Boolean, c: Column) =
      when(if (base) isBaseline else !isBaseline, c)
    def nullRate(base: Boolean, c: String) =
      round(count(side(base, when(col(c).isNull, 1))).cast("double") /
        count(side(base, lit(1))), 6)
    val aggs = numCols.flatMap { c =>
      Seq(nullRate(base = true, c).as(s"__nr_b_$c"),
        nullRate(base = false, c).as(s"__nr_c_$c"),
        round(avg(side(base = true, col(c).cast("double"))), 6)
          .as(s"__m_b_$c"),
        round(avg(side(base = false, col(c).cast("double"))), 6)
          .as(s"__m_c_$c"))
    } ++ strCols.flatMap { c =>
      Seq(nullRate(base = true, c).as(s"__nr_b_$c"),
        nullRate(base = false, c).as(s"__nr_c_$c"),
        round(avg(side(base = true, length(col(c)).cast("double"))), 6)
          .as(s"__m_b_$c"),
        round(avg(side(base = false, length(col(c)).cast("double"))), 6)
          .as(s"__m_c_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = numCols.map(c => (c, "mean")) ++
      strCols.map(c => (c, "mean_length"))
    val rows = entries.flatMap { case (c, metric) => Seq(
      struct(lit(c).as("column"), lit("null_rate").as("metric"),
        col(s"__nr_b_$c").as("val_base"), col(s"__nr_c_$c").as("val_cur")),
      struct(lit(c).as("column"), lit(metric).as("metric"),
        col(s"__m_b_$c").as("val_base"), col(s"__m_c_$c").as("val_cur")))
    }
    wide.select(explode(array(rows: _*)).as("e"))
      .select(col("e.column").as("column"), col("e.metric").as("metric"),
        col("e.val_base").as("val_base"), col("e.val_cur").as("val_cur"),
        round(abs(col("e.val_cur") - col("e.val_base")), 6).as("abs_delta"))
  }

  /** Mutual information (bits) between two categorical columns — the
    * column-dependence audit: MI ≈ 0 says `y` adds signal `x` doesn't
    * have; MI ≈ min(H) says one column is (nearly) a function of the
    * other and a stratified sample over both is redundant. The same
    * Shannon machinery as the decomposition engine's attribute-set
    * entropies, surfaced for pipeline metadata.
    *
    * ONE full-data pass (the joint count aggregate, map-side
    * combinable, |X|·|Y| groups); marginal counts come from two window
    * sums OVER THE JOINT TABLE — Σ_x c_x·log2 c_x = Σ_xy c_xy·log2 c_x,
    * so no second corpus scan. All entropies use the exact-count
    * identity H = log2 N − (Σ c·log2 c)/N (`text_char_entropy`'s form).
    * Output: h_x, h_y, h_xy, mi = h_x + h_y − h_xy, and nmi = mi /
    * min(h_x, h_y) (null when a column is constant).
    */
  def mutualInformation(df: DataFrame, xCol: Column,
                        yCol: Column): DataFrame = {
    val joint = df.groupBy(xCol.as("__x"), yCol.as("__y"))
      .agg(count(lit(1)).as("__c"))
    val wx = Window.partitionBy(col("__x"))
    val wy = Window.partitionBy(col("__y"))
    val withMarg = joint.select(col("__c").cast("double").as("c"),
      sum(col("__c")).over(wx).cast("double").as("cx"),
      sum(col("__c")).over(wy).cast("double").as("cy"))
    val agg = withMarg.agg(sum(col("c")).as("n"),
      sum(col("c") * log(2.0, col("c"))).as("__sxy"),
      sum(col("c") * log(2.0, col("cx"))).as("__sx"),
      sum(col("c") * log(2.0, col("cy"))).as("__sy"))
    agg.select(
      round(log(2.0, col("n")) - col("__sx") / col("n"), 6).as("h_x"),
      round(log(2.0, col("n")) - col("__sy") / col("n"), 6).as("h_y"),
      round(log(2.0, col("n")) - col("__sxy") / col("n"), 6).as("h_xy"),
      round((log(2.0, col("n")) - col("__sx") / col("n")) +
        (log(2.0, col("n")) - col("__sy") / col("n")) -
        (log(2.0, col("n")) - col("__sxy") / col("n")), 6).as("mi_bits"),
      when(least(round(log(2.0, col("n")) - col("__sx") / col("n"), 6),
        round(log(2.0, col("n")) - col("__sy") / col("n"), 6)) === 0.0,
        lit(null).cast("double"))
        .otherwise(round(
          ((log(2.0, col("n")) - col("__sx") / col("n")) +
            (log(2.0, col("n")) - col("__sy") / col("n")) -
            (log(2.0, col("n")) - col("__sxy") / col("n"))) /
            least(log(2.0, col("n")) - col("__sx") / col("n"),
              log(2.0, col("n")) - col("__sy") / col("n")), 6))
        .as("nmi"))
  }

  /** Poisson-bootstrap confidence interval for the corpus mean of
    * `valueCol` — THE distributed bootstrap: classical resampling needs
    * a global sample-with-replacement per replicate (unshardable), the
    * Poisson approximation instead gives every row an independent
    * Poisson(1) multiplicity per replicate, so all `b` replicates are
    * ONE combinable aggregate over a row×replicate explode that
    * partial-aggregates down to `b` cells per task — nothing about the
    * corpus ever centralizes.
    *
    * Multiplicities are deterministic, not RNG: u = the pinned
    * `hashSample` md5 draw keyed (salt, row key, replicate), inverted
    * through the Poisson(1) CDF as fixed 9dp literal thresholds
    * (0 ≤ w ≤ 5; the truncated tail is ~6e-4 of draws at w=5 — pinned,
    * replayable, and immaterial to the interval). Any engine replays
    * the exact multiset. For integer-valued `valueCol` every replicate
    * mean is an exact integer ratio — bit-stable under partition order;
    * real-valued metrics ride the usual 6dp pin. CI bounds are exact
    * percentiles over the DOMAIN-sized (b rows) replicate means;
    * replicates whose total weight is 0 (vanishing probability beyond
    * toy corpora) are dropped.
    */
  def poissonBootstrapCi(df: DataFrame, keyCol: String, valueCol: String,
                         b: Int, salt: String = "bs"): DataFrame = {
    require(b >= 2, s"need b >= 2 resamples, got $b")
    val x = df.select(col(keyCol).cast("string").as("k"),
      col(valueCol).cast("double").as("x"))
    val reps = x.select(col("k"), col("x"),
      explode(sequence(lit(1), lit(b))).as("rep"))
    val h = conv(substring(md5(concat(lit(salt), lit(":"), col("k"),
      lit(":"), col("rep").cast("string"))), 1, 8), 16, 10).cast("double")
    val u = (h + 1.0) / 4294967296.0
    val w = when(u < 0.367879441, 0L).when(u < 0.735758882, 1L)
      .when(u < 0.919698603, 2L).when(u < 0.980988177, 3L)
      .when(u < 0.996340153, 4L).otherwise(5L)
    val means = reps.withColumn("w", w)
      .groupBy(col("rep"))
      .agg(sum(col("w") * col("x")).as("sx"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .select((col("sx") / col("sw")).as("m"))
    val base = x.agg(count(lit(1)).as("n_rows"),
      round(avg(col("x")), 6).as("mean"))
    means.agg(count(lit(1)).as("n_resamples"),
        round(percentile(col("m"), lit(0.025)), 6).as("ci_lo"),
        round(percentile(col("m"), lit(0.975)), 6).as("ci_hi"),
        round(stddev_samp(col("m")), 6).as("se_boot"))
      .crossJoin(broadcast(base))
      .select(col("n_rows"), col("mean"), col("n_resamples"),
        col("ci_lo"), col("ci_hi"), col("se_boot"))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13) for a two-arm
    * experiment: per-unit post-period metric Y adjusted by the
    * pre-period covariate X, Yadj = Y − θ(X − mean(X)) with the pooled
    * θ = cov(X,Y)/var(X). Arm assignment is a pinned md5 bit of the
    * unit key (engine-portable, the same family as [[cmsBucket]]'s),
    * so the whole experiment — assignment, θ, adjusted means — replays
    * exactly in SQL.
    *
    * Determinism: per-unit X/Y are exact DECIMAL(38,6) sums of the
    * 6dp-rounded value (addition order can't perturb them), and the
    * cross-moments Σx, Σy, Σxy, Σx² are exact DECIMAL sums of those —
    * θ and the adjusted means are computed in double only from those
    * few exact totals, so they are bit-deterministic across engines
    * and partitionings. (Plain double covar_samp would be Welford-merge
    * order-dependent.)
    *
    * Scale shape: one unit-keyed conditional aggregate (the only
    * full-data shuffle), then a single-row moment aggregate broadcast
    * back over the unit table — no quadratic stage, no global sort.
    * Output: one row per arm with raw and adjusted means, plus the
    * pooled θ, the diff-in-means before/after adjustment, and the
    * variance-reduction ratio 1 − var(Yadj)/var(Y) repeated per row.
    */
  def cuped(df: DataFrame, unitCol: Column, valueCol: Column,
            isPre: Column, salt: String = "cuped"): DataFrame = {
    val v = round(valueCol, 6).cast("decimal(38,6)")
    val arm = (conv(substring(md5(concat(lit(salt), lit(":"),
      unitCol.cast("string"))), 1, 8), 16, 10).cast("long") % 2).cast("int")
    // DECIMAL(18,6) per-unit totals: sf0.1-scale per-user sums are
    // ≤ ~1e6, and (18,6)×(18,6) products stay inside DECIMAL(38,12) in
    // BOTH engines (a (38,6) square would overflow DuckDB's 38-digit
    // multiply), so the oracle replays every sum exactly.
    val units = df.groupBy(unitCol.as("unit"), arm.as("arm"))
      .agg(coalesce(sum(when(isPre, v)), lit(0)).cast("decimal(18,6)").as("x"),
        coalesce(sum(when(!isPre, v)), lit(0)).cast("decimal(18,6)").as("y"))
    val unitsC = graft.data.ScopedCaches.track(units)
    val mom = unitsC.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum((col("x") * col("y")).cast("decimal(38,12)")).cast("double")
        .as("sxy"),
      sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double")
        .as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,12)")).cast("double")
        .as("syy"))
      .select(col("n"), (col("sx") / col("n")).as("mx"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) *
          (col("sxy") - col("sx") * col("sy") / col("n")) /
          ((col("sxx") - col("sx") * col("sx") / col("n")) *
            (col("syy") - col("sy") * col("sy") / col("n"))))
          .as("var_reduction"))
    // E[Y − θ(X − mx)] is linear, so arm means of the adjusted metric
    // come straight from the exact per-arm decimal sums — no second
    // (order-sensitive) double pass over units. var_reduction is the
    // classic CUPED identity ρ² = cov²/(varX·varY).
    val perArm = unitsC.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("x")).cast("double").as("__sxa"),
        sum(col("y")).cast("double").as("__sya"))
      .crossJoin(broadcast(mom))
      .select(col("arm"), col("n_units"),
        (col("__sya") / col("n_units")).as("__my"),
        (col("__sya") / col("n_units") - col("theta") *
          (col("__sxa") / col("n_units") - col("mx"))).as("__madj"),
        col("theta"), col("var_reduction"))
    val overall = perArm.agg(
      round(first(col("theta")), 6).as("theta"),
      round(max(when(col("arm") === 1, col("__my"))) -
        max(when(col("arm") === 0, col("__my"))), 6).as("diff_raw"),
      round(max(when(col("arm") === 1, col("__madj"))) -
        max(when(col("arm") === 0, col("__madj"))), 6).as("diff_adj"),
      round(first(col("var_reduction")), 6).as("var_reduction"))
    perArm.select(col("arm"), col("n_units"),
        round(col("__my"), 6).as("mean_y"),
        round(col("__madj"), 6).as("mean_y_adj"))
      .crossJoin(broadcast(overall))
  }

  /** Difference-in-differences over the same pinned-arm split as
    * [[cuped]]: the four (arm × pre/post) cell means of `valueCol` and
    * the DiD estimate (T,post − T,pre) − (C,post − C,pre). Cell sums
    * are exact DECIMAL(38,6) of the 6dp-rounded value, so the estimate
    * is bit-deterministic. One conditional aggregate over 2 groups —
    * nothing here changes at 100 TB. Output: one row per arm with both
    * period means, plus the DiD estimate repeated.
    */
  def diffInDiff(df: DataFrame, unitCol: Column, valueCol: Column,
                 isPre: Column, salt: String = "cuped"): DataFrame = {
    val v = round(valueCol, 6).cast("decimal(38,6)")
    val arm = (conv(substring(md5(concat(lit(salt), lit(":"),
      unitCol.cast("string"))), 1, 8), 16, 10).cast("long") % 2).cast("int")
    val cells = df.groupBy(arm.as("arm"))
      .agg(count(when(isPre, 1)).as("n_pre"),
        count(when(!isPre, 1)).as("n_post"),
        (sum(when(isPre, v)).cast("double") / count(when(isPre, 1)))
          .as("__m_pre"),
        (sum(when(!isPre, v)).cast("double") / count(when(!isPre, 1)))
          .as("__m_post"))
    val did = cells.agg(round(
      max(when(col("arm") === 1, col("__m_post") - col("__m_pre"))) -
        max(when(col("arm") === 0, col("__m_post") - col("__m_pre"))), 6)
      .as("did_estimate"))
    cells.select(col("arm"), col("n_pre"), col("n_post"),
        round(col("__m_pre"), 6).as("mean_pre"),
        round(col("__m_post"), 6).as("mean_post"))
      .crossJoin(broadcast(did))
  }

  /** Pairwise Pearson correlation matrix over `cols` (upper triangle,
    * one row per pair) in ONE combinable aggregate pass: every Σx, Σx²
    * and Σxy is an exact DECIMAL sum of 6dp-rounded values (the same
    * order-immunity argument as [[cuped]]), and each r is assembled in
    * double from its five exact totals. p columns → p(p+1)/2 decimal
    * sums in a single-row aggregate; no shuffle wider than that row.
    */
  /** Wald SPRT monitoring view (Wald 1945) for a Bernoulli metric on
    * the experiment arm: H0 p = p0 vs H1 p = p1 over arm-B trials in
    * arrival order, checkpointed per time bucket. Each row is one
    * checkpoint with the cumulative trial/success counts, the log-
    * likelihood ratio llr = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0)),
    * and the Wald-boundary state at that point: `accept_h1` when
    * llr ≥ ln((1−β)/α), `accept_h0` when llr ≤ ln(β/(1−α)), else
    * `continue`. This is the MONITORING view — a sequential deployment
    * stops at the first non-continue row; later rows show where the
    * trajectory went had it kept sampling.
    *
    * Arm assignment is the same pinned md5 split as [[cuped]] (arm 1 =
    * treatment), so every engine and every retry sees identical trials.
    * Determinism: n and k are exact integers; the llr is integer counts
    * × two log constants — double error stays ~ulp·n, far inside the
    * 6dp pin; boundary constants are 6dp-pinned on both sides before
    * the comparison.
    *
    * Scale shape: ONE conditional aggregate per (bucket) is the only
    * full-data shuffle; the cumulative window runs over the bucket
    * DOMAIN (hours of the experiment — thousands, not rows), so the
    * unpartitioned window is deliberate and bounded.
    */
  def sprtMonitor(df: DataFrame, unitCol: Column, tsCol: String,
                  isSuccess: Column, p0: Double, p1: Double,
                  alpha: Double, beta: Double,
                  salt: String = "sprt"): DataFrame =
    sprtFinish(sprtHourly(df, unitCol, tsCol, isSuccess, salt),
      p0, p1, alpha, beta)

  /** The pinned md5 treatment-arm bit shared by [[cuped]]-style
    * experiment ops and [[sprtHourly]]: 1 = treatment.
    */
  def treatmentArm(unitCol: Column, salt: String): Column =
    (conv(substring(md5(concat(lit(salt), lit(":"),
      unitCol.cast("string"))), 1, 8), 16, 10).cast("long") % 2).cast("int")

  /** The arm-B (bucket, trials, successes) per tumbling event-time hour
    * under [[sprtMonitor]], batch or streaming. Streamed, it runs in
    * append mode and emits each hour once the 1-hour watermark closes
    * it. The cumulative LLR is deliberately NOT computed in-stream:
    * running totals from the stream's beginning would be a single-key
    * unbounded state. The closed hours land in a sink and
    * [[sprtFinish]] applies the boundary math over that (hour-domain)
    * table, replaying the batch monitor on every closed hour.
    */
  def sprtHourly(df: DataFrame, unitCol: Column, tsCol: String,
                 isSuccess: Column, salt: String = "sprt"): DataFrame =
    df.withWatermark(tsCol, "1 hour")
      .filter(treatmentArm(unitCol, salt) === 1)
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).as("trials"),
        sum(when(isSuccess, 1L).otherwise(0L)).as("successes"))
      .select(col("w.start").as("bucket"), col("trials"), col("successes"))

  /** The LLR/boundary tail of [[sprtMonitor]] over an already-bucketed
    * (bucket, trials, successes) table, e.g. a streamed [[sprtHourly]]
    * sink.
    */
  def sprtFinish(buckets: DataFrame, p0: Double, p1: Double,
                 alpha: Double, beta: Double): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "p0, p1 must be distinct probabilities in (0,1)")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "alpha, beta must be in (0,1)")
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val llr = col("cum_k") * log(lit(p1 / p0)) +
      (col("cum_n") - col("cum_k")) * log(lit((1 - p1) / (1 - p0)))
    val upper = round(log(lit((1 - beta) / alpha)), 6)
    val lower = round(log(lit(beta / (1 - alpha))), 6)
    buckets
      .withColumn("cum_n", sum(col("trials")).over(w))
      .withColumn("cum_k", sum(col("successes")).over(w))
      .select(col("bucket"), col("trials"), col("successes"),
        col("cum_n"), col("cum_k"),
        round(col("cum_k").cast("double") / col("cum_n"), 6)
          .as("cum_rate"),
        round(llr, 6).as("llr"),
        when(round(llr, 6) >= upper, "accept_h1")
          .when(round(llr, 6) <= lower, "accept_h0")
          .otherwise("continue").as("state"))
  }

  /** Empirical-Bayes (James-Stein-style) shrinkage of per-group means:
    * each group's mean is pulled toward the grand mean with weight
    * w_h = τ²/(τ² + σ²/n_h) — the random-effects partial pooling that
    * fixes the classic league-table fallacy where small groups top and
    * bottom every ranking by noise alone. σ² is the pooled within-
    * group variance; τ² the method-of-moments between-group component
    * max(0, B − σ²·avg(1/n_h)) with B = Σ(m_h−m̄)²/(k−1); τ² = 0
    * collapses every group to the grand mean, w → 1 as n_h grows.
    *
    * Determinism: group sums are exact DECIMALs of the 6dp-rounded
    * value; every cross-GROUP accumulation (within-SS, between-SS,
    * Σ1/n) is pinned to a scaled BIGINT per group BEFORE summing, so
    * group-order never perturbs the variance components; the remaining
    * arithmetic is fixed-order doubles on those exact totals.
    *
    * Scale shape: one group-keyed aggregate is the only full-data
    * shuffle; all moments and the final shrinkage run on the GROUP
    * domain with broadcast scalars.
    */
  def jamesSteinShrink(df: DataFrame, groupCol: Column,
                       valueCol: Column): DataFrame = {
    val v = round(valueCol, 6).cast("decimal(18,6)")
    val grp = df.groupBy(groupCol.as("h"))
      .agg(count(lit(1)).as("n"), sum(v).cast("decimal(18,6)").as("sx"),
        sum((v.cast("decimal(19,6)") * v.cast("decimal(19,6)"))
          .cast("decimal(38,12)")).as("sxx"))
    val grpC = graft.data.ScopedCaches.track(grp)
    val sxd = col("sx").cast("double")
    val sxxd = col("sxx").cast("double")
    val glob = grpC.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
        sum(col("sx")).cast("double").as("sxtot"),
        sum(round((sxxd - sxd * sxd / col("n")) * 1e6).cast("long"))
          .as("wss6"),
        sum(round((lit(1.0) / col("n")) * 1e12).cast("long")).as("inv12"))
      .select(col("nn"), col("k"),
        (col("sxtot") / col("nn")).as("gm"),
        (col("wss6").cast("double") / lit(1e6) / (col("nn") - col("k")))
          .as("sigma2"),
        (col("inv12").cast("double") / lit(1e12) / col("k")).as("avginv"))
    val bv = grpC.crossJoin(broadcast(glob))
      .select(round((sxd / col("n") - col("gm")) *
        (sxd / col("n") - col("gm")) * 1e12).cast("long").as("b12"))
      .agg(sum(col("b12")).as("bv12"))
    val glob2 = glob.crossJoin(broadcast(bv))
      .select(col("gm"), col("sigma2"),
        greatest(lit(0.0),
          col("bv12").cast("double") / lit(1e12) / (col("k") - 1) -
            col("sigma2") * col("avginv")).as("tau2"))
    grpC.crossJoin(broadcast(glob2))
      .select(col("h").as("grp"), col("n"),
        round(sxd / col("n"), 6).as("raw_mean"),
        round(when(col("tau2") === 0, lit(0.0))
          .otherwise(col("tau2") /
            (col("tau2") + col("sigma2") / col("n"))), 6).as("weight"),
        round(col("gm") + when(col("tau2") === 0, lit(0.0))
          .otherwise(col("tau2") /
            (col("tau2") + col("sigma2") / col("n"))) *
          (sxd / col("n") - col("gm")), 6).as("shrunk_mean"),
        round(col("sigma2"), 6).as("sigma2"),
        round(col("tau2"), 6).as("tau2"))
  }

  /** Per-segment uplift readout of the pinned experiment: for each
    * segment, both arms' trial/success counts, rates, and the uplift
    * rate_B − rate_A — the heterogeneous-treatment-effect table behind
    * "the average effect is +1%, but WHERE" (and the input any
    * qini/uplift ranking starts from). Same md5 arm as
    * [[sprtMonitor]]/[[cuped]] so all experiment readouts describe the
    * same split. Counts are exact integers from ONE conditional
    * aggregate; rates and uplift are fixed-order int ratios 6dp-pinned;
    * segments with an empty arm yield null rate/uplift rather than a
    * division blow-up.
    */
  def upliftBySegment(df: DataFrame, unitCol: Column, segmentCol: Column,
                      isSuccess: Column,
                      salt: String = "sprt"): DataFrame = {
    val arm = treatmentArm(unitCol, salt)
    val s = when(isSuccess, 1L).otherwise(0L)
    def rate(kc: Column, nc: Column): Column =
      when(nc === 0, lit(null).cast("double"))
        .otherwise(round(kc.cast("double") / nc, 6))
    df.groupBy(segmentCol.as("segment"))
      .agg(coalesce(sum(when(arm === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_a"),
        coalesce(sum(when(arm === 0, s).otherwise(0L)), lit(0L)).as("k_a"),
        coalesce(sum(when(arm === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_b"),
        coalesce(sum(when(arm === 1, s).otherwise(0L)), lit(0L)).as("k_b"))
      .select(col("segment"), col("n_a"), col("k_a"), col("n_b"),
        col("k_b"),
        rate(col("k_a"), col("n_a")).as("rate_a"),
        rate(col("k_b"), col("n_b")).as("rate_b"),
        when(col("n_a") === 0 || col("n_b") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("k_b").cast("double") / col("n_b") -
            col("k_a").cast("double") / col("n_a"), 6)).as("uplift"))
  }

  /** Two-sample Kolmogorov-Smirnov drift test: D = max |F̂₁ − F̂₂| over
    * the pooled observed support, plus the large-sample α = 0.05
    * critical value 1.358·√((n₁+n₂)/(n₁n₂)) and the reject flag — the
    * whole-distribution complement of [[psiDrift]]: PSI grades binned
    * mass movement against a pinned baseline, KS catches ANY CDF gap
    * (shape, tail, median shift) with a distribution-free null.
    *
    * Distributed shape: the same histogram decomposition as
    * [[giniConcentration]] — per-(rounded value) side counts are one
    * combinable aggregate; the CDFs are cumulative window sums over
    * the DISTINCT-VALUE domain (bounded by value cardinality, not row
    * count). Determinism: counts exact, F̂ are exact-int ratios, the
    * max is over identical doubles; D and the decision are 6dp-pinned
    * (the flag compares the ROUNDED D to the rounded critical value,
    * so both engines flip together).
    */
  /** Earth-mover (Wasserstein-1) drift between the baseline and
    * comparison distributions of a value column:
    * W1 = ∫|F₁(v) − F₂(v)|dv over the merged 6dp support — the
    * magnitude-aware companion to [[ksDrift]] (KS says the CDFs
    * differ; W1 says how much probability mass moved how FAR, in the
    * value's own units — a whole-distribution 1-cent shift and a
    * 10-dollar shift have the same KS but a 1000× different W1).
    *
    * Same support-table shape as [[ksDrift]]: one (value, side) count,
    * cumulative sums over the support, then each support gap's
    * |ΔCDF|·dv term is ×10⁹-pinned to a BIGINT (counts are exact
    * integers, the 6dp support values identical doubles in any
    * engine), so the cross-gap sum is order-free and the statistic
    * replays exactly in SQL. The support cumulative runs as the
    * two-phase bucketed prefix sum ([[domainPrefixSums]]); at 100 TB
    * pre-bin the value (the [[graft.ops.Sketches.histCells]] grid) and
    * run the same fold on bin edges.
    */
  def emdDrift(df: DataFrame, valueCol: Column,
               isBaseline: Column): DataFrame = {
    val h = df.groupBy(round(valueCol, 6).as("v"))
      .agg(coalesce(sum(when(isBaseline, 1L).otherwise(0L)), lit(0L))
          .as("c1"),
        coalesce(sum(when(!isBaseline, 1L).otherwise(0L)), lit(0L))
          .as("c2"))
    val tot = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val terms = domainPrefixSums(h, "v", Seq("c1", "c2"), withLead = true)
      .withColumn("f1", col("cum_c1"))
      .withColumn("f2", col("cum_c2"))
      .withColumn("dv", col("lead_v") - col("v"))
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        round(abs(col("f1").cast("double") / col("n1") -
          col("f2").cast("double") / col("n2")) * col("dv") * lit(1.0e9))
          .cast("long").as("t9"))
    terms.agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("t9")).as("s9"))
      .select(col("n1"), col("n2"),
        round(col("s9").cast("double") / lit(1.0e9), 6).as("emd"))
  }

  def ksDrift(df: DataFrame, valueCol: Column,
              isBaseline: Column): DataFrame = {
    val h = df.groupBy(round(valueCol, 6).as("v"))
      .agg(coalesce(sum(when(isBaseline, 1L).otherwise(0L)), lit(0L))
          .as("c1"),
        coalesce(sum(when(!isBaseline, 1L).otherwise(0L)), lit(0L))
          .as("c2"))
    val tot = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val gaps = domainPrefixSums(h, "v", Seq("c1", "c2"))
      .withColumn("f1", col("cum_c1"))
      .withColumn("f2", col("cum_c2"))
      .crossJoin(broadcast(tot))
      .select(abs(col("f1").cast("double") / col("n1") -
        col("f2").cast("double") / col("n2")).as("gap"),
        col("n1"), col("n2"))
    gaps.agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("gap")).as("d"))
      .select(col("n1"), col("n2"), round(col("d"), 6).as("ks_d"),
        round(lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
          (col("n1") * col("n2"))), 6).as("crit_05"),
        (round(col("d"), 6) >
          round(lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2"))), 6)).as("reject_05"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) test between two samples — the
    * nonparametric companion to the Welch t: compares the full value
    * RANKINGS, so it detects shifts the mean-based test misses under
    * heavy tails or outliers (exactly the distributions event values
    * have). Average-rank tie handling with the standard tie-corrected
    * normal approximation:
    * U₁ = R₁ − n₁(n₁+1)/2, σ² = n₁n₂/12·[(n+1) − Σ(t³−t)/(n(n−1))].
    *
    * Distributed shape: the same histogram decomposition as [[ksDrift]]
    * / [[rocAuc]] — one combinable (6dp value → per-group count)
    * aggregate collapses the stream to the distinct-value domain; the
    * cumulative after it runs over that bounded domain, never rows,
    * as the two-phase bucketed prefix sum ([[domainPrefixSums]]) so
    * even a high-cardinality domain never recreates a global
    * single-partition sort. Determinism: the doubled rank sum 2R₁ = Σ c₁(2·below
    * + t + 1) and the tie term Σ(t³−t) are exact DECIMAL(38,0) (rank
    * sums are O(n²), past BIGINT at petabyte row counts); only the
    * final scalar z arithmetic is floating, in a pinned order.
    */
  def mannWhitneyU(df: DataFrame, valueCol: Column,
                   isGroup1: Column): DataFrame = {
    val h = df.groupBy(round(valueCol, 6).as("v"))
      .agg(coalesce(sum(when(isGroup1, 1L).otherwise(0L)), lit(0L))
          .as("c1"),
        coalesce(sum(when(!isGroup1, 1L).otherwise(0L)), lit(0L))
          .as("c2"))
    val cum = domainPrefixSums(h.withColumn("t", col("c1") + col("c2")),
        "v", Seq("t"))
      .withColumn("below", col("cum_t") - col("t"))
    val dec = "decimal(38,0)"
    val a = cum.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum((col("c1") * (lit(2) * col("below") + col("t") + 1))
        .cast(dec)).as("r1x2"),
      sum((col("t") * col("t") * col("t") - col("t")).cast(dec))
        .as("ties3"))
    val n = (col("n1") + col("n2")).cast("double")
    val u1 = (col("r1x2").cast("double") -
      col("n1").cast("double") * (col("n1") + lit(1)) -
      col("n1").cast("double") * col("n2")) / 2 // 2U₁ − n₁n₂, halved → U₁ − μ
    val muU = col("n1").cast("double") * col("n2") / 2
    val sigma = sqrt(col("n1").cast("double") * col("n2") / 12 *
      (n + 1 - col("ties3").cast("double") / (n * (n - 1))))
    a.select(col("n1"), col("n2"),
      round((col("r1x2").cast("double") -
        col("n1").cast("double") * (col("n1") + lit(1))) / 2, 6).as("u1"),
      round(muU, 6).as("mu_u"), round(sigma, 6).as("sigma_u"),
      round(u1 / sigma, 6).as("z"))
  }

  /** Cliff's delta (Cliff 1993) — the nonparametric EFFECT SIZE the
    * Mann–Whitney z needs beside it: δ = (#{x>y} − #{x<y}) / (n₁n₂)
    * over all cross-group pairs, i.e. how often a group-1 value beats
    * a group-2 value minus the reverse, in [−1, 1], invariant to any
    * monotone transform and meaningful when n is so large that z
    * rejects for trivial shifts. |δ| < .147 negligible / < .33 small /
    * < .474 medium (Romano 2006) — emitted as a label so the readout
    * is self-contained.
    *
    * Distributed shape: the [[mannWhitneyU]] histogram decomposition —
    * one combinable (6dp value → per-group count) aggregate, one
    * cumulative window over the distinct-value domain. #{x>y} =
    * Σ_v c₁(v)·below₂(v) exactly (DECIMAL(38,0), widened before the
    * product); δ is one division of exact integers.
    */
  def cliffsDelta(df: DataFrame, valueCol: Column,
                  isGroup1: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val h = df.groupBy(round(valueCol, 6).as("v"))
      .agg(coalesce(sum(when(isGroup1, 1L).otherwise(0L)), lit(0L))
          .as("c1"),
        coalesce(sum(when(!isGroup1, 1L).otherwise(0L)), lit(0L))
          .as("c2"))
    val cum = domainPrefixSums(h, "v", Seq("c1", "c2"))
      .withColumn("below1", col("cum_c1") - col("c1"))
      .withColumn("below2", col("cum_c2") - col("c2"))
    val a = cum.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c1").cast(dec) * col("below2").cast(dec)).as("gt"),
      sum(col("c2").cast(dec) * col("below1").cast(dec)).as("lt"))
    val nn = col("n1").cast("double") * col("n2").cast("double")
    val delta = (col("gt").cast("double") - col("lt").cast("double")) / nn
    val d6 = round(delta * 1e6).cast("long")
    a.select(col("n1"), col("n2"),
      when(col("n1") > 0 && col("n2") > 0, d6).as("delta6"),
      when(col("n1") > 0 && col("n2") > 0,
        when(abs(d6) < 147000L, lit("negligible"))
          .when(abs(d6) < 330000L, lit("small"))
          .when(abs(d6) < 474000L, lit("medium"))
          .otherwise(lit("large"))).as("magnitude"))
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) — the k-sample
    * extension of [[mannWhitneyU]]: do ANY of the groups' value
    * distributions sit at a different location, judged on ranks, so
    * heavy tails and outliers (event values' natural shape) can't fake
    * or mask a shift the way they do for one-way ANOVA's F. H =
    * 12/(N(N+1))·Σ R_g²/n_g − 3(N+1) with average-rank ties and the
    * standard correction H' = H / (1 − Σ(t³−t)/(N³−N)); H' ~ χ²(k−1)
    * under the null. Reject flag against the caller-pinned critical
    * value (e.g. 9.487729 for k=5, α=.05).
    *
    * Distributed shape: the same histogram decomposition as
    * [[mannWhitneyU]]/[[ksDrift]] — ONE combinable (6dp value, group)
    * count collapses the corpus; the rank window runs over the
    * distinct-value domain, never rows. Determinism: doubled rank sums
    * 2R_g = Σ c_g(2·below+t+1) and Σ(t³−t) are exact DECIMAL(38,0);
    * each group's R_g²/n_g term is pinned to a ×10⁶ BIGINT before the
    * cross-group sum, so the only float sums are over exact integers
    * in a fixed order. Groups with no rows simply don't appear; k < 2
    * yields null H (no test).
    */
  def kruskalWallis(df: DataFrame, valueCol: Column, groupCol: Column,
                    critValue: Double): DataFrame = {
    val dec = "decimal(38,0)"
    val h = df.groupBy(round(valueCol, 6).as("v"), groupCol.as("g"))
      .agg(count(lit(1)).as("c"))
    // per distinct value: pooled count t and pooled count strictly below
    val distinctV = domainPrefixSums(
        h.groupBy(col("v")).agg(sum(col("c")).as("t")), "v", Seq("t"))
      .withColumn("below", col("cum_t") - col("t"))
    val ranked = h.join(distinctV, "v")
    val perG = ranked.groupBy(col("g"))
      .agg(sum(col("c")).as("ng"),
        // widen BEFORE the product: c x doubled-rank is O(N^2) per row
        // on a hot value, past BIGINT at petabyte counts
        sum(col("c").cast(dec) *
          (lit(2) * col("below") + col("t") + 1).cast(dec)).as("r2x"))
    val ties = distinctV.agg(
      sum(col("t").cast(dec)).as("n"),
      sum(col("t").cast(dec) * col("t").cast(dec) * col("t").cast(dec) -
        col("t").cast(dec)).as("ties3"))
    // group term R_g^2/n_g = (2R_g)^2 / (4 n_g), x1e6-pinned so the
    // cross-group sum is an exact integer sum in any order
    val term6 = round(col("r2x").cast("double") * col("r2x").cast("double") /
      (lit(4.0) * col("ng").cast("double")) * 1e6).cast(dec)
    val agg = perG.agg(count(lit(1)).as("n_groups"),
      sum(term6).as("s6"))
      .crossJoin(broadcast(ties))
    val nD = col("n").cast("double")
    val hRaw = lit(12.0) / (nD * (nD + 1)) *
      (col("s6").cast("double") / 1e6) - lit(3.0) * (nD + 1)
    val corr = lit(1.0) - col("ties3").cast("double") / (nD * nD * nD - nD)
    val hAdj = round(hRaw / corr, 6)
    agg.select(col("n_groups"), col("n").cast("long").as("n"),
      when(col("n_groups") >= 2 && corr > 0, hAdj).as("h_stat"),
      when(col("n_groups") >= 2 && corr > 0, hAdj > critValue)
        .as("reject"))
  }

  /** Spearman rank correlation between two numeric columns — the
    * monotone-association companion to [[corrMatrix]]'s Pearson: ranks
    * are immune to the outliers and nonlinear (but monotone) links
    * that deflate r. Average-rank ties via the doubled-rank identity
    * 2·r̄(v) = 2·rank_min(v) + t(v) − 1, so every rank is an exact
    * integer; Pearson on the doubled ranks equals Pearson on ranks.
    *
    * Intended for DOMAIN-BOUNDED frames (daily aggregates, group
    * stats): the two ranking windows are global sorts over the input,
    * so aggregate first — ranking 10¹² raw rows on one partition is
    * the anti-pattern; ranking the 366-row daily rollup is free.
    * Determinism: all five moment sums are DECIMAL(38,0) over integer
    * doubled ranks; only the final ρ division is floating.
    */
  def spearmanCorr(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val base = df.select(xCol.as("x"), yCol.as("y"))
    val rx = lit(2) * rank().over(Window.orderBy(col("x"))) +
      count(lit(1)).over(Window.partitionBy(col("x"))) - 1
    val ry = lit(2) * rank().over(Window.orderBy(col("y"))) +
      count(lit(1)).over(Window.partitionBy(col("y"))) - 1
    val dec = "decimal(38,0)"
    val a = base.select(rx.cast("long").as("rx"), ry.cast("long").as("ry"))
      .agg(count(lit(1)).as("n"),
        sum((col("rx") * col("ry")).cast(dec)).as("sxy"),
        sum(col("rx").cast(dec)).as("sx"),
        sum(col("ry").cast(dec)).as("sy"),
        sum((col("rx") * col("rx")).cast(dec)).as("sxx"),
        sum((col("ry") * col("ry")).cast(dec)).as("syy"))
    a.select(col("n"),
      round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
        (sqrt(col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) *
         sqrt(col("n").cast("double") * col("syy").cast("double") -
           col("sy").cast("double") * col("sy").cast("double"))), 6)
        .as("rho"))
  }

  /** Cramér's V association between two categorical columns: V =
    * √(χ²/(N·(min(r,c)−1))) ∈ [0,1] — the effect-size companion the
    * raw χ² lacks (χ² grows with N; V answers "is this association
    * STRONG, not just detectable", the pairwise-categorical entry of
    * the same audit family as [[mutualInformation]]). Expected cells
    * come from the margins; absent (x,y) combos contribute their full
    * expected mass via the margin-pair domain, not just observed
    * cells.
    *
    * Determinism: all margins exact integers; each cell's χ² term is
    * a fixed-order double pinned to a ×10⁹ BIGINT before the
    * cross-cell sum. Scale: one (x,y) aggregate, margins broadcast,
    * the term table is the r×c DOMAIN.
    */
  def cramersV(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val cells = df.groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("o"))
    val cellsC = graft.data.ScopedCaches.track(cells)
    val rx = cellsC.groupBy(col("x")).agg(sum(col("o")).as("nx"))
    val cy = cellsC.groupBy(col("y")).agg(sum(col("o")).as("ny"))
    val tot = cellsC.agg(sum(col("o")).as("nn"))
    val dims = rx.agg(count(lit(1)).as("r"))
      .crossJoin(cy.agg(count(lit(1)).as("c")))
    // full margin-pair domain so empty observed cells still pay e
    val grid = broadcast(rx).crossJoin(broadcast(cy))
      .join(cellsC, Seq("x", "y"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
    val e = col("nx").cast("double") * col("ny") / col("nn")
    val term = (col("o") - e) * (col("o") - e) / e
    grid.select(round(term * 1e9).cast("long").as("t9"))
      .agg(sum(col("t9")).as("s9"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(dims))
      .select(col("nn").as("n"), col("r"), col("c"),
        round(col("s9").cast("double") / lit(1e9), 6).as("chi2"),
        round(sqrt(col("s9").cast("double") / lit(1e9) /
          (col("nn") * (least(col("r"), col("c")) - 1))), 6)
          .as("cramers_v"))
  }

  /** Exact ROC-AUC of a score against a binary label, with Gini
    * (2·AUC−1): the threshold-free ranking quality of any scorer —
    * the eval the confusion-matrix family ([[graft.ops.Embeddings
    * .centroidClassifierEval]]) can't give, since accuracy moves with
    * the cut while AUC grades the whole ranking. Mann-Whitney
    * formulation with the standard tie treatment (a tied pos/neg pair
    * counts ½): AUC = Σ_g [p_g·n_below(g) + ½·p_g·n_g] / (P·N) over
    * SCORE GROUPS g, never row pairs.
    *
    * Distributed shape: same histogram decomposition as [[ksDrift]] —
    * one combinable (6dp-rounded score → pos/neg count) aggregate
    * collapses the stream to the distinct-score domain, then one
    * cumulative over that domain (bounded by score cardinality,
    * ≤ 2·10⁶+1 for any [-1,1] score at 6dp, and run as the two-phase
    * bucketed prefix sum [[domainPrefixSums]]). Determinism: the
    * pair-count numerator is an exact BIGINT (doubled to keep the ½
    * integral); only the final two divisions are floating, in a
    * pinned order.
    */
  def rocAuc(df: DataFrame, scoreCol: Column, isPositive: Column): DataFrame = {
    val g = df.groupBy(round(scoreCol, 6).as("s"))
      .agg(coalesce(sum(when(isPositive, 1L).otherwise(0L)), lit(0L))
          .as("p"),
        coalesce(sum(when(!isPositive, 1L).otherwise(0L)), lit(0L))
          .as("n"))
    domainPrefixSums(g, "s", Seq("n"))
      .withColumn("cn", col("cum_n") - col("n"))
      .agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
        sum(col("p") * (lit(2L) * col("cn") + col("n"))).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"),
        round(col("num2").cast("double") /
          (col("n_pos").cast("double") * col("n_neg")) - lit(1.0), 6)
          .as("gini"))
  }

  /** Expected Calibration Error audit of a probabilistic classifier:
    * per-row (confidence, was-it-correct) pairs bucketed into `bins`
    * equal-width confidence bands, each band reporting its size, mean
    * confidence, and accuracy; ECE = Σ_b (n_b/N)·|acc_b − conf_b| —
    * "when the model says 80%, is it right 80% of the time?", the
    * trust audit [[rocAuc]] (pure ranking) deliberately ignores.
    *
    * Determinism: confidence is 6dp-pinned, then scaled to an exact
    * ×10⁶ BIGINT — band assignment is pure integer division (no float
    * boundary can flip between engines) and per-band mean confidence
    * sums integers. Accuracy is an exact int ratio; each band's ECE
    * term is pinned to a ×10⁹ BIGINT before the cross-band sum (the
    * [[cramersV]] discipline). Empty bands are kept via a bins-sized
    * spine and contribute zero. Scale: one combinable aggregate over
    * `bins` groups; everything after is domain-sized.
    */
  def calibrationEce(df: DataFrame, confCol: Column, isCorrect: Column,
                     bins: Int = 10): DataFrame = {
    require(bins >= 1, s"need bins >= 1, got $bins")
    val b = df.select(
      round(round(confCol, 6) * lit(1e6), 0).cast("long").as("c6"),
      when(isCorrect, 1L).otherwise(0L).as("ok"))
      .select(least(expr(s"(c6 * $bins) div 1000000"),
        lit(bins - 1L)).cast("int").as("bin"), col("c6"), col("ok"))
    val g = b.groupBy(col("bin")).agg(count(lit(1)).as("cnt"),
      sum(col("c6")).as("sc6"), sum(col("ok")).as("nok"))
    val sp = df.sparkSession.range(bins)
      .select(col("id").cast("int").as("bin"))
    val cells = sp.join(g, Seq("bin"), "left")
      .na.fill(0L, Seq("cnt", "sc6", "nok"))
    val tot = cells.agg(sum(col("cnt")).as("nn"))
    val x = cells.select(col("bin"), col("cnt"),
      when(col("cnt") > 0,
        (col("sc6").cast("double") / lit(1e6)) / col("cnt"))
        .otherwise(lit(0.0)).as("ac"),
      when(col("cnt") > 0, col("nok").cast("double") / col("cnt"))
        .otherwise(lit(0.0)).as("aa"))
    val x2 = x.withColumn("t9",
      round(col("cnt") * abs(col("aa") - col("ac")) * lit(1e9), 0)
        .cast("long"))
    val e = x2.agg(sum(col("t9")).as("e9")).crossJoin(broadcast(tot))
    x2.crossJoin(broadcast(e))
      .select(col("bin"), col("cnt"), round(col("ac"), 6).as("avg_conf"),
        round(col("aa"), 6).as("accuracy"),
        round(col("e9").cast("double") / lit(1e9) / col("nn"), 6)
          .as("ece"))
  }

  /** Isotonic (PAV) calibration of a confidence score against observed
    * correctness — the standard post-hoc calibrator: [[calibrationEce]]
    * MEASURES miscalibration, this FIXES it, fitting the best
    * monotone-non-decreasing accuracy-vs-confidence map. Same 1e6-
    * pinned confidence binning as the ECE; the fit uses the exact
    * minimax characterization of isotonic regression,
    * iso(i) = max_{j≤i} min_{k≥j} pooled-rate(j..k), instead of the
    * sequential pool-adjacent-violators loop — identical result, but
    * each pooled rate reads off two prefix-sum differences, so the
    * whole fit is three joins over the BIN domain (B² pairs for B
    * bins), embarrassingly parallel and replayable in plain SQL where
    * a PAV stack machine isn't.
    *
    * Scale: one combinable bin aggregate over the corpus; everything
    * after runs on ≤B rows. Determinism: pooled rates are exact-int
    * ratios evaluated once per (j,k) in a fixed expression; min/max
    * over doubles are order-independent.
    */
  def isotonicCalibration(df: DataFrame, confCol: Column,
                          isCorrect: Column, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"need bins >= 1, got $bins")
    val b = df.select(
      round(round(confCol, 6) * lit(1e6), 0).cast("long").as("c6"),
      when(isCorrect, 1L).otherwise(0L).as("ok"))
      .select(least(expr(s"(c6 * $bins) div 1000000"),
        lit(bins - 1L)).cast("int").as("bin"), col("ok"))
    val g = b.groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"), sum(col("ok")).as("nok"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = graft.data.ScopedCaches.track(
      g.withColumn("cn", sum(col("cnt")).over(w))
        .withColumn("cc", sum(col("nok")).over(w))
        .withColumn("pn", col("cn") - col("cnt"))
        .withColumn("pc", col("cc") - col("nok")))
    val pj = pre.select(col("bin").as("jb"), col("pn"), col("pc"))
    val pk = pre.select(col("bin").as("kb"), col("cn"), col("cc"))
    val minK = pj.join(pk, col("kb") >= col("jb"))
      .select(col("jb"), ((col("cc") - col("pc")).cast("double") /
        (col("cn") - col("pn"))).as("r"))
      .groupBy(col("jb")).agg(min(col("r")).as("mr"))
    pre.select(col("bin"), col("cnt"), col("nok"))
      .join(minK, col("jb") <= col("bin"))
      .groupBy(col("bin"), col("cnt"), col("nok"))
      .agg(max(col("mr")).as("iso"))
      .select(col("bin"), col("cnt"), col("nok"),
        round(col("nok").cast("double") / col("cnt"), 6).as("emp_rate"),
        round(col("iso"), 6).as("iso_rate"))
  }

  /** Cross-group quantile normalization: replace each row's value with
    * the GLOBAL value at the row's within-group percentile, so every
    * group's distribution is mapped onto the corpus distribution —
    * the standard fix when per-source scores aren't comparable (one
    * source's "0.8 quality" is another's 0.5) and a shared threshold
    * would silently over-select the generous scorer.
    *
    * Within-group percentile is the MIDRANK of the row's value over
    * the group's value histogram, p = (rank_lo + (c_v+1)/2 − 1) /
    * (n_g − 1) (ties share one p; a singleton group pins p = 0.5);
    * the global map is linear interpolation over a 1001-point exact
    * percentile grid — Spark `percentile` and DuckDB `quantile_cont`
    * interpolate identically, and the grid lookup arithmetic is the
    * same fixed-order double expression on both engines.
    *
    * Scale shape: one (group × distinct value) histogram aggregate,
    * a cumulative window over that DOMAIN (partitioned by group), the
    * single-row grid broadcast, and a broadcast join back onto the
    * stream by (group, value) — no corpus-sized sort anywhere.
    */
  def quantileNormalize(df: DataFrame, groupCol: Column, valueCol: Column,
                        outCols: Seq[String]): DataFrame = {
    val base = df.select(outCols.map(col) :+ groupCol.as("__g") :+
      round(valueCol, 6).as("__v"): _*)
    val h = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val wg = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy(col("__g"))
    val ranked = h
      .withColumn("__lo", coalesce(sum(col("__c")).over(wg), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wn))
      .withColumn("__p", when(col("__n") > 1,
        (col("__lo").cast("double") + (col("__c") + 1L) / lit(2.0) -
          lit(1.0)) / (col("__n") - 1L)).otherwise(lit(0.5)))
    val grid = base.agg(percentile(col("__v"),
      typedLit((0 to 1000).map(_ / 1000.0).toArray)).as("__grid"))
    val pos = col("__p") * lit(1000.0)
    val i0 = floor(pos).cast("int")
    val frac = pos - i0
    val mapped = ranked.crossJoin(broadcast(grid))
      .withColumn("__norm",
        element_at(col("__grid"), i0 + 1) * (lit(1.0) - frac) +
          element_at(col("__grid"), least(i0 + 1, lit(1000)) + 1) * frac)
      .select(col("__g"), col("__v"), round(col("__p"), 6).as("pctile"),
        round(col("__norm"), 6).as("value_norm"))
    base.join(broadcast(mapped), Seq("__g", "__v"))
      .select(outCols.map(col) :+ col("__g").as("group_key") :+
        col("__v").as("value") :+ col("pctile") :+ col("value_norm"): _*)
  }

  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    // (18,6), not (38,6): the squares must fit a DuckDB 38-digit
    // multiply for the oracle to replay them exactly (see [[cuped]])
    val vs = cols.map(c => round(col(c), 6).cast("decimal(18,6)").as(s"__$c"))
    val base = df.select(vs: _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = Seq(count(lit(1)).cast("double").as("n")) ++
      cols.flatMap(c => Seq(
        sum(col(s"__$c")).cast("double").as(s"s_$c"),
        sum((col(s"__$c") * col(s"__$c")).cast("decimal(38,12)"))
          .cast("double").as(s"ss_$c"))) ++
      pairs.map { case (a, b) =>
        sum((col(s"__$a") * col(s"__$b")).cast("decimal(38,12)"))
          .cast("double").as(s"sp_${a}_$b") }
    val mom = base.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        round((col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b") / col("n")) /
          sqrt((col(s"ss_$a") - col(s"s_$a") * col(s"s_$a") / col("n")) *
            (col(s"ss_$b") - col(s"s_$b") * col(s"s_$b") / col("n"))), 6)
          .as("pearson_r"))
    }
    mom.select(explode(array(rows: _*)).as("p"))
      .select(col("p.col_x"), col("p.col_y"), col("p.pearson_r"))
  }

  /** Simpson diversity profile per group: λ = Σ nᵢ(nᵢ−1)/(N(N−1)) —
    * the probability two draws WITHOUT replacement share a category —
    * plus the Gini–Simpson index 1−λ. The concentration companion to
    * entropy-based diversity ([[mutualInformation]] et al.): λ weights
    * dominant categories quadratically, so a creeping monoculture in a
    * source shows up here before it moves Shannon entropy.
    *
    * One (group, category) combinable count, one group-level fold;
    * all numerators/denominators exact integers (DECIMAL(38,0) for
    * the pair sums), one fixed-order division each.
    */
  def simpsonDiversity(df: DataFrame, groupCol: Column,
                       catCol: Column): DataFrame = {
    val cells = df.groupBy(groupCol.as("g"), catCol.as("c"))
      .agg(count(lit(1)).as("o"))
    cells.groupBy(col("g"))
      .agg(sum(col("o")).as("n"), count(lit(1)).as("n_cats"),
        sum((col("o") * (col("o") - 1L)).cast("decimal(38,0)")).as("pp"))
      .select(col("g"), col("n"), col("n_cats"),
        when(col("n") < 2, lit(null).cast("double"))
          .otherwise(round(col("pp").cast("double") /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)),
            6)).as("simpson_lambda"),
        when(col("n") < 2, lit(null).cast("double"))
          .otherwise(round(lit(1.0) - col("pp").cast("double") /
            (col("n").cast("double") * (col("n").cast("double") - 1.0)),
            6)).as("gini_simpson"))
  }

  /** Kendall τ-b rank correlation between two columns — the
    * pair-concordance companion to [[spearmanCorr]]: robust to the
    * same monotone transforms, but built from pairwise order
    * agreement, so its value reads directly as P(concordant) −
    * P(discordant) with a principled tie correction:
    *   τ_b = (C − D) / √((n₀ − t_x)(n₀ − t_y)),  n₀ = n(n−1)/2.
    *
    * Intended for DOMAIN-sized inputs (a daily rollup, a per-group
    * summary): the O(n²) pair self-join is bounded by the calendar,
    * never the corpus. C, D, and the tie counts are exact integer
    * sums over sign products; only the final τ division is floating
    * and fixed-order.
    */
  def kendallTau(df: DataFrame, keyCol: Column, xCol: Column,
                 yCol: Column): DataFrame = {
    val base = graft.data.ScopedCaches.track(
      df.select(keyCol.as("k"), xCol.cast("long").as("x"),
        yCol.cast("long").as("y")))
    val a = base.select(col("k").as("ka"), col("x").as("xa"),
      col("y").as("ya"))
    val b = base.select(col("k").as("kb"), col("x").as("xb"),
      col("y").as("yb"))
    val sp = signum((col("xb") - col("xa")).cast("double")) *
      signum((col("yb") - col("ya")).cast("double"))
    val pairs = a.join(b, col("ka") < col("kb"))
      .agg(sum(when(sp === 1.0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sp === -1.0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ties_y"))
    val n = base.agg(count(lit(1)).as("n"))
    pairs.crossJoin(broadcast(n))
      .select(col("n"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        round((col("concordant") - col("discordant")).cast("double") /
          sqrt((col("n").cast("double") * (col("n") - 1L) / 2.0 -
              col("ties_x")) *
            (col("n").cast("double") * (col("n") - 1L) / 2.0 -
              col("ties_y"))), 6).as("tau_b"))
  }

  /** Mann–Kendall trend test (Mann 1945, Kendall 1975) on a keyed
    * series: S = Σ_{i<j} sign(x_j − x_i), the nonparametric "is there
    * a monotonic trend AT ALL" verdict that pairs with
    * [[graft.ops.TimeSeries]]' Theil–Sen slope (which says how steep)
    * — robust to outliers and any monotone transform, the standard
    * first question for a daily volume series. Tie-corrected normal
    * approximation: Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, with
    * the ±1 continuity correction on S; reject at the caller's pinned
    * two-sided critical value (1.959964 for α=.05).
    *
    * Exactness: S and the tie term are exact integer sums (the pair
    * scan is the [[kendallTau]] O(domain²) join — intended for the
    * CALENDAR-bounded daily rollup, never raw rows); z is one
    * fixed-order double expression of exact integers, and the verdict
    * compares the ROUNDED z so both engines flip together.
    */
  def mannKendall(df: DataFrame, keyCol: Column, xCol: Column,
                  critValue: Double = 1.959964): DataFrame = {
    val base = graft.data.ScopedCaches.track(
      df.select(keyCol.as("k"), xCol.cast("long").as("x")))
    val a = base.select(col("k").as("ka"), col("x").as("xa"))
    val b = base.select(col("k").as("kb"), col("x").as("xb"))
    val s = a.join(b, col("ka") < col("kb"))
      .agg(sum(signum((col("xb") - col("xa")).cast("double"))
        .cast("long")).as("s"))
    val ties = base.groupBy(col("x")).agg(count(lit(1)).as("t"))
      .agg(count(lit(1)).cast("long").as("n_distinct"),
        sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tsum"))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1) * (lit(2.0) * nD + 5) -
      col("tsum").cast("double")) / 18.0
    val z = when(col("s") > 0,
        (col("s").cast("double") - 1) / sqrt(varS))
      .when(col("s") < 0, (col("s").cast("double") + 1) / sqrt(varS))
      .otherwise(lit(0.0))
    s.crossJoin(broadcast(ties))
      .select(col("n"), col("s"),
        when(varS > 0, round(z, 6)).as("z"),
        when(varS > 0, abs(round(z, 6)) > critValue).as("reject"))
  }

  /** Benjamini–Hochberg FDR screen across per-group association tests:
    * for every value of `groupCol`, the 2×2 χ² (1 df) of membership in
    * that group vs the boolean `contrast` (e.g. weekend), converted to
    * a two-sided normal p-value, then the BH step-up at level `alpha`
    * across the m groups — the multiple-testing-honest version of "which
    * event types skew toward weekends", where testing every type at raw
    * α would drown in false positives.
    *
    * p-values use the Abramowitz–Stegun 7.1.26 erfc polynomial (max
    * abs error 1.5e-7 — far below any sane α), a fixed-order double
    * expression both engines evaluate identically up to libm's exp.
    * BH: sort p ascending, crit_i = i·α/m, reject every rank ≤ the
    * largest i with p_(i) ≤ crit_i. All 2×2 cells are exact integer
    * counts from ONE combinable aggregate; the test table is
    * m-group-sized.
    */
  def bhFdrScreen(df: DataFrame, groupCol: Column, contrast: Column,
                  alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"need 0 < alpha < 1, got $alpha")
    val cells = df.groupBy(groupCol.as("g"))
      .agg(sum(when(contrast, 1L).otherwise(0L)).as("a"),
        sum(when(contrast, 0L).otherwise(1L)).as("b"))
    val tot = cells.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
      count(lit(1)).as("m"))
    val withTot = cells.crossJoin(broadcast(tot))
      .select(col("g"), col("a"), col("b"),
        (col("ta") - col("a")).as("c"), (col("tb") - col("b")).as("d"),
        col("m"))
    val nD = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val det = col("a").cast("double") * col("d").cast("double") -
      col("b").cast("double") * col("c").cast("double")
    val chi2 = nD * det * det /
      ((col("a") + col("b")).cast("double") *
        (col("c") + col("d")).cast("double") *
        (col("a") + col("c")).cast("double") *
        (col("b") + col("d")).cast("double"))
    // two-sided normal p for z = sqrt(chi2): p = erfc(z/sqrt(2)), via
    // A&S 7.1.26 with t = 1/(1 + 0.3275911*x), x = z/sqrt(2).
    val x = sqrt(chi2 / 2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) +
        t * lit(1.061405429)))))
    val scored = withTot.select(col("g"), col("a").as("n_yes"),
      col("b").as("n_no"), col("m"),
      round(chi2, 6).as("chi2"),
      round(poly * exp(-(x * x)), 6).as("p_value"))
    val w = Window.orderBy(col("p_value").asc, col("g").asc)
    val ranked = scored.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("bh_crit",
        round(col("rank").cast("double") * lit(alpha) /
          col("m").cast("double"), 6))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked
      .withColumn("cutoff", max(when(col("p_value") <= col("bh_crit"),
        col("rank"))).over(wAll))
      .select(col("g"), col("n_yes"), col("n_no"), col("chi2"),
        col("p_value"), col("rank"), col("bh_crit"),
        when(col("cutoff").isNotNull && col("rank") <= col("cutoff"),
          lit(1L)).otherwise(lit(0L)).as("reject"))
  }

  /** Two-component 1-D Gaussian mixture fit by `iters` EM steps from a
    * pinned deterministic init (means at the ¼ and ¾ points of the
    * value range, equal weights) — does the value column hide TWO
    * populations (bot vs human spend, two pricing tiers) that every
    * single-mode statistic averages away. The fitted (w, μ, σ) pairs
    * are the readout; a near-degenerate fit (w→0 or μ₁≈μ₂) means one
    * mode is enough.
    *
    * Determinism: parameters are re-pinned to 6dp after EVERY step
    * (the CUSUM convention), per-row responsibilities are ×10⁶-pinned
    * BIGINTs and the weighted moments are pinned-integer sums
    * (r₆·x·10³ and r₆·x² rounded per row), so each step's aggregate is
    * order-free and the whole trajectory replays exactly in SQL with
    * unrolled CTEs. Rows where both component densities underflow get
    * r = 0.5 in both engines. Execution: `iters`+1 corpus passes, each
    * ONE map-side-combinable aggregate against broadcast one-row
    * params — the EM working set is the parameter row, never the data.
    * Zero-range input returns the degenerate single-point answer.
    */
  def gmm2Em(df: DataFrame, valueCol: Column, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val dec = "decimal(38,0)"
    val x = df.select(valueCol.cast("double").as("x"))
      .filter(col("x").isNotNull)
    val xc = graft.data.ScopedCaches.track(x)
    var params = xc.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .select(lit(0.5).as("w1"),
        round(col("mn") + (col("mx") - col("mn")) / 4.0, 6).as("mu1"),
        round(col("mn") + (col("mx") - col("mn")) * 3.0 / 4.0, 6)
          .as("mu2"),
        round(greatest((col("mx") - col("mn")) / 4.0 *
          ((col("mx") - col("mn")) / 4.0), lit(1.0e-6)), 6).as("s1"),
        round(greatest((col("mx") - col("mn")) / 4.0 *
          ((col("mx") - col("mn")) / 4.0), lit(1.0e-6)), 6).as("s2"))
    for (_ <- 1 to iters) {
      val p1 = col("w1") *
        exp((col("x") - col("mu1")) * (col("x") - col("mu1")) /
          (lit(-2.0) * col("s1"))) / sqrt(col("s1"))
      val p2 = (lit(1.0) - col("w1")) *
        exp((col("x") - col("mu2")) * (col("x") - col("mu2")) /
          (lit(-2.0) * col("s2"))) / sqrt(col("s2"))
      val r6 = round(when(p1 + p2 > 0.0, p1 / (p1 + p2))
        .otherwise(lit(0.5)) * lit(1.0e6)).cast("long")
      val mom = xc.crossJoin(broadcast(params))
        .select(col("x"), r6.as("r6"))
        .agg(count(lit(1)).as("n"),
          sum(col("r6").cast(dec)).as("sr"),
          sum(round(col("r6") * col("x") * lit(1.0e3)).cast(dec)).as("sx1"),
          sum(round(col("r6") * col("x") * col("x")).cast(dec)).as("sxx1"),
          sum(round((lit(1000000L) - col("r6")) * col("x") * lit(1.0e3))
            .cast(dec)).as("sx2"),
          sum(round((lit(1000000L) - col("r6")) * col("x") * col("x"))
            .cast(dec)).as("sxx2"))
      def upd(sx: String, sxx: String, sr: Column) = {
        val srG = greatest(sr.cast("double"), lit(1.0))
        val mu = round(col(sx).cast("double") / (lit(1.0e3) * srG), 6)
        (mu, round(greatest(col(sxx).cast("double") / srG - mu * mu,
          lit(1.0e-6)), 6))
      }
      val sr1 = col("sr")
      val sr2 = col("n").cast(dec) * lit(1000000L) - col("sr")
      val (mu1n, s1n) = upd("sx1", "sxx1", sr1)
      val (mu2n, s2n) = upd("sx2", "sxx2", sr2)
      params = mom.select(
        round(col("sr").cast("double") /
          (col("n").cast("double") * 1.0e6), 6).as("w1"),
        mu1n.as("mu1"), mu2n.as("mu2"), s1n.as("s1"), s2n.as("s2"))
    }
    params.select(col("w1"), col("mu1"),
      round(sqrt(col("s1")), 6).as("sigma1"),
      (lit(1.0) - col("w1")).as("w2"), col("mu2"),
      round(sqrt(col("s2")), 6).as("sigma2"))
  }

  /** Benford's-law first-digit expectations, ×10⁹ BIGINT pins of
    * log10(1 + 1/d) — shared by the op and its oracle SQL builder so
    * both engines compare against the SAME literals.
    */
  val BenfordPpb: Seq[(Int, Long)] = (1 to 9).map(d =>
    d -> math.round(math.log10(1.0 + 1.0 / d) * 1e9))

  /** Benford first-digit audit — the classic fabricated-/truncated-data
    * DQ screen for naturally-spread positive amounts (prices, revenues,
    * populations): observed first-digit distribution vs Benford's
    * P(d) = log10(1+1/d), with the chi-square goodness-of-fit statistic.
    *
    * `intVal` must be an exact positive integer column (callers pin
    * floats first, e.g. cents = round(price·100)): the first digit is
    * substring 1 of the BIGINT's decimal rendering — integer→string is
    * exact and identical in every engine, where floor(log10(x))'s libm
    * ulp at exact powers of ten can flip the digit across engines.
    * Rows with `intVal` ≤ 0 or null are excluded (Benford is defined
    * on positive magnitudes).
    *
    * Chi-square without float-sum drift: each digit's contribution
    * (n_d − N·p_d)²/(N·p_d) is a fixed-order double expression on
    * exact integers, pinned to a ×10⁶ BIGINT; the 9-term total is an
    * exact integer sum unpinned once at the end. Digits missing from
    * the data zero-fill via a 9-row domain join, so the statistic is
    * always over all 9 cells.
    *
    * Scale shape: one combinable 9-cell aggregate over the scan (the
    * digit ladder is codegen'd scan-side work); everything after is a
    * 9-row domain table. 100 TB costs one map-side-combined shuffle of
    * ≤ 9 cells per task.
    */
  def benfordAudit(df: DataFrame, intVal: Column): DataFrame = {
    val v = intVal.cast("long")
    val digit = substring(v.cast("string"), 1, 1).cast("int")
    val counts = df.where(v > 0L)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val sp = df.sparkSession
    import sp.implicits._
    val domain = Seq.range(1, 10).toDF("digit")
    val filled = domain.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
    val tot = filled.agg(sum(col("n")).as("tot"))
    val expPpb = BenfordPpb.foldLeft(lit(null).cast("long")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    val withExp = filled.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), col("tot"), expPpb.as("ppb"))
    val e = col("tot").cast("double") * (col("ppb").cast("double") / 1e9)
    val contrib6 = when(col("tot") > 0L,
      round((col("n").cast("double") - e) * (col("n").cast("double") - e) /
        e * 1e6).cast("long")).otherwise(lit(null).cast("long"))
    val cells = withExp.select(col("digit"), col("n"), col("tot"),
      when(col("tot") > 0L, round(col("n").cast("double") /
        col("tot").cast("double") * 1e6).cast("long"))
        .otherwise(0L).as("obs_ppm"),
      (round(col("ppb").cast("double") / 1e3)).cast("long").as("exp_ppm"),
      contrib6.as("chi2_contrib_x6"))
    val chi2 = cells.agg(sum(col("chi2_contrib_x6")).as("c6"))
      .select(round(col("c6").cast("double") / 1e6, 6).as("chi2"))
    cells.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("chi2_contrib_x6"), col("chi2"))
  }
}
