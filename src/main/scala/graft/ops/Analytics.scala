package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-analytics operators: long→wide pivot with a pinned
  * domain, per-key time-range rolling aggregates, population z-score
  * outlier flagging, and a Deequ-style constraint evaluator. These are
  * thin, deliberately: each is the *scale-correct* arrangement of
  * built-in Catalyst operators (explicit pivot values, fused window
  * frames, broadcast stats joins, single-scan audit aggregates), which
  * is the part users get wrong at 100 TB.
  */
object Analytics {

  /** Counts of `pivotCol` values per `keyCol` group, pivoted wide with
    * an EXPLICIT value domain. Pinned values keep the pivot a single
    * plan-time-schema aggregation; an unpinned pivot runs a distinct
    * collect over the full column first — never acceptable when the
    * domain is known. Absent (key, value) combos are 0, not null.
    */
  def pivotCounts(df: DataFrame, keyCol: Column, keyName: String,
                  pivotCol: String, values: Seq[String]): DataFrame =
    df.groupBy(keyCol.as(keyName))
      .pivot(pivotCol, values)
      .count()
      .na.fill(0L)

  /** Per-key trailing time-range aggregates at every row: count and sum
    * of `valCol` over [ts − windowMicros, ts], the frame inclusive at
    * both ends, ordered by epoch MICROSECONDS (integer — no
    * sub-second truncation drift between engines). One shuffle on
    * `keyCol`; both frames evaluate in a single Window pass.
    */
  def rollingByKey(df: DataFrame, keyCol: String, tsCol: String,
                   valCol: String, windowMicros: Long,
                   outCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowMicros, Window.currentRow)
    df.select(outCols.map(col) :+
      count(lit(1)).over(w).as("roll_cnt") :+
      round(sum(col(valCol)).over(w), 6).as("roll_sum"): _*)
  }

  /** Rows whose `valCol` sits >= `minZ` sample standard deviations from
    * their group's mean. The per-group statistics table (one row per
    * group) is broadcast back onto the stream, so flagging is map-side:
    * two scans, one tiny shuffle, no window over the full data. Groups
    * with undefined deviation (a single row, or constant values → sd
    * 0/null) flag nothing: z is null there and null comparisons are
    * false. The ROUNDED score is compared, so an oracle can reproduce
    * the boundary exactly.
    */
  def zscoreOutliers(df: DataFrame, groupCol: String, valCol: String,
                     minZ: Double, outCols: Seq[String]): DataFrame = {
    val stats = df.groupBy(groupCol)
      .agg(avg(valCol).as("m"), stddev_samp(valCol).as("sd"))
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn("z", round((col(valCol) - col("m")) /
        when(col("sd") === 0d, lit(null)).otherwise(col("sd")), 6))
      .filter(abs(col("z")) >= minZ)
      .select(outCols.map(col) :+ col("z"): _*)
  }

  /** Curriculum binning: assign every row to one of `k` global
    * score-quantile bins (bin = #thresholds strictly below the score,
    * ties landing in the lower bin). This is the scale-correct form of
    * `ntile(k)` OVER the whole table — a global-order window moves
    * every row to ONE partition, while here the k−1 exact thresholds
    * (Spark `percentile` == `quantile_cont` interpolation, over
    * 6dp-rounded scores for cross-engine parity) reduce to a single
    * broadcast row and binning is a scan-side fold. Rows beyond
    * `outCols` carry (`score`, `bin`).
    */
  def quantileBins(df: DataFrame, scoreCol: Column, k: Int,
                   outCols: Seq[String]): DataFrame = {
    require(k >= 2, s"need at least 2 bins, got $k")
    val scored = df.withColumn("score", round(scoreCol, 6))
    val thr = scored.agg(
      transform(
        percentile(col("score"),
          array((1 until k).map(i => lit(i.toDouble / k)): _*)),
        t => round(t, 6)).as("thr"))
    scored.crossJoin(broadcast(thr))
      .select(outCols.map(col) :+ col("score") :+
        aggregate(col("thr"), lit(0),
          (acc, t) => acc + when(col("score") > t, 1).otherwise(0))
          .as("bin"): _*)
  }

  /** One data-quality constraint: a name, a displayed metric expression
    * (any type — cast to double or null), and a boolean pass predicate,
    * both evaluated over the single global aggregate row.
    */
  final case class Constraint(name: String, metric: Column, passed: Column)

  /** Evaluate a Deequ-style constraint suite in ONE full scan: all
    * aggregates ride a single global aggregation (distinct counts
    * included), then each constraint unpivots to a
    * (`constraint`, `metric`, `passed`) row. The scan is the audit's
    * cost floor at any scale; this adds nothing beyond it.
    */
  def dqSuite(df: DataFrame, aggs: Seq[Column],
              constraints: Seq[Constraint]): DataFrame = {
    // explode-of-structs over the one aggregate row, NOT a union of
    // per-constraint selects — a union would replay the aggregation
    // per constraint (ReuseExchange dedupes the shuffle but not the
    // final-phase aggs), while this is one job end to end
    val rows = array(constraints.map(c =>
      struct(lit(c.name).as("constraint"),
        c.metric.cast("double").as("metric"),
        c.passed.as("passed"))): _*)
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(rows).as("r"))
      .select("r.*")
  }

  /** k-anonymity audit (Sweeney 2002): every combination of the
    * quasi-identifier columns held by fewer than k rows is a
    * re-identification risk — the census a privacy review runs before
    * releasing a corpus keyed by (language, source, length band, ...).
    * Returns the risky groups with their exact sizes; groups at or
    * above k are suppressed (cnt == k is anonymous by definition).
    * One map-side-combinable groupBy; the output is bounded by the
    * quasi-identifier domain, never the corpus, so the audit's cost
    * floor at 100 TB is the single scan.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[Column], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2 (k=1 flags nothing), got $k")
    df.groupBy(quasiCols: _*).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") < k)
  }

  /** l-diversity audit (Machanavajjhala 2007) — the attribute-disclosure
    * complement of [[kAnonymity]]: a quasi-identifier group can be
    * k-anonymous yet leak its sensitive attribute outright when every
    * member shares one value (the "homogeneity attack"). Returns each
    * QI group holding fewer than `l` DISTINCT values of `sensitiveCol`,
    * with its row count, distinct-sensitive count, and the Shannon
    * entropy (base 2, 6dp) of the group's sensitive distribution — the
    * graded signal behind the binary distinct-l verdict (entropy
    * l-diversity asks H ≥ log2 l).
    *
    * Scale shape: one map-side-combinable (QI × sensitive) cell count,
    * then a second combinable aggregate over cells — output bounded by
    * the QI domain. The sensitive column never leaves the aggregate as
    * values, only as counts, so the audit itself discloses nothing.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[Column],
                 sensitiveCol: Column, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(l >= 2, s"l must be >= 2 (l=1 flags nothing), got $l")
    val cells = df.groupBy(quasiCols :+ sensitiveCol.as("__s"): _*)
      .agg(count(lit(1)).as("__c"))
    val qNames = cells.columns.filterNot(Set("__s", "__c"))
    cells.groupBy(qNames.map(col): _*)
      .agg(sum(col("__c")).as("cnt"),
        count(lit(1)).as("n_sensitive"),
        round(log2(sum(col("__c")).cast("double")) -
          sum(col("__c") * log2(col("__c").cast("double"))) /
            sum(col("__c")).cast("double"), 6).as("sens_entropy"))
      .filter(col("n_sensitive") < l)
  }

  /** t-closeness audit (Li 2007) — the distributional complement of
    * [[lDiversity]]: a group can hold many distinct sensitive values
    * yet still leak by *skew* (90% of one source inside a group that is
    * 5% of it globally). Flags each quasi-identifier group whose
    * sensitive-value distribution sits farther than `t` from the global
    * distribution in total variation distance
    * (TVD = ½ Σ_s |p_group(s) − p_global(s)|).
    *
    * The TVD numerator is computed in exact integer arithmetic —
    * ½ Σ |c·N − g·cnt| / (cnt·N) with c,g,cnt,N all counts — so the
    * result is order-independent and replayable bit-for-bit; a naive
    * float sum would vary with partition merge order.
    *
    * Scale shape: one (QI × sensitive) cell count over the corpus, one
    * global sensitive count, then joins bounded by QI-domain ×
    * sensitive-domain — the global 1-row total and the sensitive-domain
    * table are broadcast. The corpus is scanned twice (cells + global);
    * at 100 TB fold both from one cached cell count if the QI domain is
    * small enough to re-aggregate.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[Column],
                 sensitiveCol: Column, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    val cells = df.groupBy(quasiCols :+ sensitiveCol.as("__s"): _*)
      .agg(count(lit(1)).as("__c"))
    val qNames = cells.columns.filterNot(Set("__s", "__c")).toSeq
    val groups = cells.groupBy(qNames.map(col): _*)
      .agg(sum(col("__c")).as("cnt"))
    val global = cells.groupBy(col("__s"))
      .agg(sum(col("__c")).as("__g"))
    val total = global.agg(sum(col("__g")).as("__n"))
    // QI-groups × full sensitive domain (so absent values contribute
    // |0·N − g·cnt|), then the observed cell count where one exists.
    groups.crossJoin(broadcast(global)).crossJoin(broadcast(total))
      .join(cells, qNames :+ "__s", "left")
      .na.fill(0L, Seq("__c"))
      .groupBy((qNames.map(col) :+ col("cnt") :+ col("__n")): _*)
      .agg(sum(abs(col("__c") * col("__n") - col("__g") * col("cnt")))
        .as("__num"))
      .withColumn("tvd", round(col("__num").cast("double") /
        (lit(2.0) * col("cnt") * col("__n")), 6))
      .filter(col("tvd") > t)
      .select((qNames.map(col) :+ col("cnt") :+ col("tvd")): _*)
  }

  /** Daily time series with gap-filling and a running total: aggregate
    * `df` to per-day counts, left-join onto a generated date spine from
    * the observed min to max day (absent days are explicit zeros — the
    * difference between "no errors" and "no data" that a bare groupBy
    * erases, and exactly where a naive monitoring query silently lies),
    * then a cumulative sum ordered by day.
    *
    * Scale shape: this is the aggregate-THEN-window pattern. The only
    * corpus-sized stage is the first map-side-combinable daily count;
    * the spine (`sequence` exploded from a 1-row min/max aggregate),
    * the join, and the running-total window all operate on |days| rows.
    * The window's single global partition — normally a scale smell —
    * is therefore bounded by the calendar, not the data; windowing the
    * raw events by a global ts order instead would sort the corpus on
    * one partition.
    */
  def dailySpineCumulative(df: DataFrame, tsCol: Column): DataFrame = {
    val daily = df.select(to_date(tsCol).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("__d0"),
      max(col("day")).as("__d1"))
    val spine = bounds.select(explode(
      sequence(col("__d0"), col("__d1"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("cum_n", sum(col("n")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Referential-integrity audit over a set of FK edges: per edge, the
    * number of child rows whose (non-null) FK matches no parent key
    * (`orphan_fk_rows` — actual violations) and the number of parent
    * keys no child references (`unreferenced_parents` — not a
    * violation, but the dead-dimension signal that catches truncated
    * loads). NULL FKs are not orphans, per SQL FK semantics.
    *
    * Scale shape: each edge is two anti-joins on key projections —
    * column-pruned at the scan, keys deduplicated before joining, AQE
    * free to broadcast the small side — each collapsing to a 1-row
    * count; the edges union into one plan so the audit is a single
    * job, not a driver loop of actions.
    */
  def refIntegrity(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "need at least one FK edge")
    edges.map { case (name, child, fk, parent, pk) =>
      val orphans = child.select(col(fk).as("k"))
        .filter(col("k").isNotNull)
        .join(parent.select(col(pk).as("k")).distinct(), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("orphan_fk_rows"))
      val unref = parent.select(col(pk).as("k")).distinct()
        .join(child.select(col(fk).as("k")).distinct(), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("unreferenced_parents"))
      orphans.crossJoin(unref)
        .select(lit(name).as("edge"), col("orphan_fk_rows"),
          col("unreferenced_parents"))
    }.reduce(_ unionByName _)
  }

  /** First-order Markov transition matrix over per-key event sequences:
    * for each key's events ordered by (`tsCol`, `tieCol`), count each
    * adjacent (`from_type` → `to_type`) step and emit the
    * row-normalized probability — the behavioral fingerprint behind
    * next-event prediction, funnel-drop diagnosis, and bot detection
    * (bots have near-deterministic rows). The tie column makes the
    * sequence — and therefore every count — well-defined when
    * timestamps collide.
    *
    * Scale shape: ONE shuffle (the per-key window's hash partitioning);
    * `lead` needs no frame buffering beyond the sort Spark already does
    * per partition. The (from, to) stream then map-side-combines into a
    * type-domain² table, and row totals are a domain-sized groupBy
    * joined back — nothing driver-side, nothing quadratic in events.
    */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val steps = df
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = steps.groupBy(col("from_type"))
      .agg(sum(col("cnt")).as("__tot"))
    steps.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("cnt"),
        round(col("cnt") / col("__tot"), 6).as("prob"))
  }

  /** Entropy rate of the first-order event-type chain: H_rate =
    * Σ_s π̂(s)·H(next | s), with π̂ the empirical from-state frequency
    * and per-state entropy via the exact-count identity H_s =
    * log2(n_s) − Σ_t c_st·log2(c_st)/n_s (the EntropyEngine form).
    * Reported against the marginal next-event entropy: info_gain =
    * H_marginal − H_rate is the bits of predictability the previous
    * event buys — 0 means the chain is memoryless, large means
    * behavior is strongly sequential (sessionize before you sample!).
    *
    * Determinism: every Σ over states/cells of a float term is pinned
    * to a ×10⁹ BIGINT per cell BEFORE the sum (exact in any order);
    * the identity keeps each term a log2 of an exact integer count.
    * Same (ts, tie) ordering as [[transitionMatrix]], so both describe
    * the same chain. One window pass + type-domain aggregates.
    */
  def chainEntropyRate(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val steps = df
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val cells = steps.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val cellsC = graft.data.ScopedCaches.track(cells)
    val states = cellsC.groupBy(col("from_type"))
      .agg(sum(col("c")).as("n"),
        sum(round(col("c") * log2(col("c")) * 1e9).cast("long"))
          .as("e9"))
      .select(col("from_type"), col("n"),
        (log2(col("n")) -
          col("e9").cast("double") / lit(1e9) / col("n")).as("hs"))
    val statesC = graft.data.ScopedCaches.track(states)
    val bigN = statesC.agg(sum(col("n")).as("nn"))
    val rate = statesC.crossJoin(broadcast(bigN))
      .select(round((col("n").cast("double") / col("nn")) * col("hs") *
        1e9).cast("long").as("t9"))
      .agg(sum(col("t9")).as("r9"))
      .crossJoin(broadcast(bigN))
      .select(col("r9"), col("nn"))
    val marg = cellsC.groupBy(col("to_type"))
      .agg(sum(col("c")).as("m"))
      .agg(sum(round(col("m") * log2(col("m")) * 1e9).cast("long"))
        .as("me9"))
    val scalars = rate.crossJoin(broadcast(marg))
      .select(
        (col("r9").cast("double") / lit(1e9)).as("hr"),
        (log2(col("nn")) -
          col("me9").cast("double") / lit(1e9) / col("nn")).as("hm"))
      .select(round(col("hr"), 6).as("entropy_rate"),
        round(col("hm"), 6).as("h_marginal"),
        round(col("hm") - col("hr"), 6).as("info_gain"))
    statesC.select(col("from_type"), col("n").as("n_out"),
        round(col("hs"), 6).as("h_state"))
      .crossJoin(broadcast(scalars))
  }

  /** Last-touch (last-click) conversion attribution: each conversion
    * event credits the user's most recent touch-channel event within
    * `windowSec` seconds, else "direct" — the standard marketing /
    * growth attribution report. One pass: a per-user running
    * max-of-(ts, tie, channel) struct over PRECEDING rows carries the
    * latest touch to every event (struct max is lexicographic, so ties
    * on ts resolve by the tie column — both engines see the same
    * sequence, [[transitionMatrix]]'s rule), conversions then compare
    * recency against the window. No self-join of the stream against
    * itself; the report is a channel-domain-sized combinable count.
    */
  def lastTouchAttribution(df: DataFrame, keyCol: String, tsCol: String,
                           tieCol: String, typeCol: String,
                           conversionType: String,
                           touchTypes: Seq[String],
                           windowSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "touchTypes must be non-empty and exclude the conversion type")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lt = max(when(col(typeCol).isin(touchTypes: _*),
      struct(col(tsCol).as("ts"), col(tieCol).as("tie"),
        col(typeCol).as("ch")))).over(w)
    val attributed = df.withColumn("__lt", lt)
      .filter(col(typeCol) === conversionType)
      .select(when(col("__lt").isNull ||
          col(tsCol).cast("long") - col("__lt.ts").cast("long") >
            windowSec, "direct")
        .otherwise(col("__lt.ch")).as("channel"))
    val tot = attributed.agg(count(lit(1)).as("__tot"))
    attributed.groupBy(col("channel"))
      .agg(count(lit(1)).as("conversions"))
      .crossJoin(broadcast(tot))
      .select(col("channel"), col("conversions"),
        round(col("conversions").cast("double") / col("__tot"), 6)
          .as("share"))
  }

  /** Exact Shapley-value attribution over exposure coalitions (the
    * data-driven attribution the position heuristics approximate —
    * Shapley is the unique credit split satisfying efficiency/symmetry/
    * dummy): each user's exposure set S ⊆ touchTypes and conversion
    * flag define the coalition value v(S) = P(convert | exposure = S);
    * channel i earns φ_i = Σ_{S∌i} |S|!(n−1−|S|)!/n!·[v(S∪i) − v(S)].
    *
    * Computable EXACTLY because the coalition domain is 2^|channels|,
    * not users: one combinable per-user aggregate collapses the corpus
    * to a (mask → users, conversions) table of ≤2ⁿ rows; the Shapley
    * sum is a self-join on that domain. Unobserved coalitions take
    * v = 0 via an explicit mask spine. Determinism: v is pinned to a
    * ×10⁹ BIGINT per mask; the factorial weights are scaled to
    * integers (×n!), so the φ numerator is an exact integer sum —
    * only the single final division is floating.
    */
  def shapleyAttribution(df: DataFrame, keyCol: String, typeCol: String,
                         conversionType: String,
                         touchTypes: Seq[String]): DataFrame = {
    val n = touchTypes.size
    require(n >= 1 && n <= 10, s"need 1..10 touch types, got $n")
    require(!touchTypes.contains(conversionType),
      "touchTypes must exclude the conversion type")
    val bits = touchTypes.sorted.zipWithIndex.map { case (t, i) =>
      (t, 1 << i)
    }
    val mask = bits.map { case (t, b) =>
      max(when(col(typeCol) === t, b).otherwise(0))
    }.reduce(_ + _)
    val users = df.groupBy(col(keyCol))
      .agg(mask.as("mask"),
        max(when(col(typeCol) === conversionType, 1L).otherwise(0L))
          .as("conv"))
    val vt = users.groupBy(col("mask"))
      .agg(count(lit(1)).as("nu"), sum(col("conv")).as("nc"))
    val spine = df.sparkSession.range(1 << n)
      .select(col("id").cast("int").as("mask"))
    // v(S) pinned to an exact ×1e9 integer per coalition
    val v9 = spine.join(vt, Seq("mask"), "left")
      .select(col("mask"), coalesce(col("nu"), lit(0L)).as("n_users"),
        round(coalesce(col("nc").cast("double") / col("nu"), lit(0.0))
          * 1e9).cast("long").as("v9"))
    val v9C = graft.data.ScopedCaches.track(v9)
    // integer weights m(k) = k!·(n−1−k)!, denominator n!
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val mW = (0 until n).map(k => fact(k) * fact(n - 1 - k))
    val wCase = mW.zipWithIndex.tail.foldLeft(
      when(bit_count(col("mask")) === 0, mW.head)) { case (acc, (m, k)) =>
      acc.when(bit_count(col("mask")) === k, m)
    }
    val chSession = df.sparkSession
    import chSession.implicits._
    val ch = bits.toDF("channel", "bit")
    // join v(S ∪ {i}) by mask identity: S ∪ i has mask S + bit
    val phi = broadcast(ch).crossJoin(v9C.select(col("mask"),
        col("v9").as("vs")))
      .filter((col("mask").bitwiseAND(col("bit"))) === 0)
      .withColumn("m_with", col("mask") + col("bit"))
      .join(v9C.select(col("mask").as("m_with"), col("v9").as("vsi")),
        Seq("m_with"))
      .groupBy(col("channel"))
      .agg(sum(wCase.cast("long") * (col("vsi") - col("vs")))
        .as("phi_num"))
    phi.select(col("channel"),
      round(col("phi_num").cast("double") / (fact(n) * 1e9), 6)
        .as("phi"))
  }

  /** Cohort LTV triangle: users cohorted by FIRST-signup epoch-week,
    * purchase revenue accumulated by weeks-since-signup — the
    * lifetime-value report behind "does week-N monetization improve
    * cohort over cohort". Weeks are integer epoch-day arithmetic
    * (floor-div 7, positive domain), never engine week functions.
    * Pre-signup purchases are excluded; users who never signed up and
    * cohorts with no purchases emit no cells. Per-cell revenue is
    * 2dp-pinned, and the cumulative column sums the PINNED cells (2dp
    * values are integers ×100 — the running sum is exact), so the
    * triangle replays bit-for-bit.
    *
    * Scale shape: first-signup and cohort sizes are combinable
    * aggregates; the purchase join shuffles on the user key once; the
    * cumulative window runs over the (cohorts × weeks) DOMAIN table.
    */
  def cohortLtv(df: DataFrame, keyCol: String, tsCol: String,
                typeCol: String, signupType: String, purchaseType: String,
                valueCol: String): DataFrame = {
    val s = df.filter(col(typeCol) === signupType)
      .groupBy(col(keyCol).as("u"))
      .agg(min(to_date(col(tsCol))).as("sd"))
      .select(col("u"), col("sd"),
        floor(unix_date(col("sd")) / 7).as("cw"))
    val sizes = s.groupBy(col("cw")).agg(count(lit(1)).as("n_users"))
    val p = df.filter(col(typeCol) === purchaseType)
      .select(col(keyCol).as("u"), to_date(col(tsCol)).as("pd"),
        col(valueCol).as("v"))
    val cells = p.join(s, "u")
      .filter(col("pd") >= col("sd"))
      .groupBy(col("cw"),
        floor((unix_date(col("pd")) - unix_date(col("sd"))) / lit(7))
          .as("weeks_since"))
      .agg(round(sum(col("v")), 2).as("revenue"))
    val w = Window.partitionBy(col("cw")).orderBy(col("weeks_since"))
    cells.join(broadcast(sizes), "cw")
      .withColumn("cum_revenue", round(sum(col("revenue")).over(w), 2))
      .select(col("cw").as("cohort_week"), col("weeks_since"),
        col("n_users"), col("revenue"), col("cum_revenue"),
        round(col("cum_revenue") / col("n_users"), 6).as("ltv_per_user"))
  }

  /** Linear multi-touch attribution: every touch-channel event inside
    * the lookback window of a conversion shares the credit equally
    * (credit 1/n per touch; conversions with no in-window touch credit
    * "direct" in full) — the fairness-spread complement of
    * [[lastTouchAttribution]] (last-touch over-credits the bottom of
    * the funnel; linear shows which channels participate at all).
    *
    * Shape: conversions left-join touches per user with the window
    * range predicate — the shuffle key is the user, and the per-user
    * pair fan-out is bounded by events-per-user × window, never
    * corpus²; per-conversion touch counts are a window count over the
    * same partitioning. A touch strictly "before" means (ts, tie) <
    * (ts, tie) — same-instant ties resolve by the tie column, so both
    * engines see identical touch sets.
    */
  def linearAttribution(df: DataFrame, keyCol: String, tsCol: String,
                        tieCol: String, typeCol: String,
                        conversionType: String, touchTypes: Seq[String],
                        windowSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "touchTypes must be non-empty and exclude the conversion type")
    val conv = df.filter(col(typeCol) === conversionType)
      .select(col(keyCol).as("__k"), col(tsCol).as("__cts"),
        col(tieCol).as("__ctie"))
    val touch = df.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(keyCol).as("__k"), col(tsCol).as("__tts"),
        col(tieCol).as("__ttie"), col(typeCol).as("__ch"))
    val joined = conv.join(touch,
      conv("__k") === touch("__k") &&
        (col("__tts") < col("__cts") ||
          (col("__tts") === col("__cts") && col("__ttie") < col("__ctie"))) &&
        col("__cts").cast("long") - col("__tts").cast("long") <= windowSec,
      "left")
      .select(conv("__k").as("k"), col("__cts"), col("__ctie"),
        col("__ch"))
    val w = Window.partitionBy(col("k"), col("__cts"), col("__ctie"))
    val credited = joined
      .withColumn("__n", count(col("__ch")).over(w))
      .select(
        coalesce(col("__ch"), lit("direct")).as("channel"),
        when(col("__n") === 0, lit(1.0))
          .otherwise(lit(1.0) / col("__n")).as("credit"))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("touches"),
        round(sum(col("credit")), 6).as("credited"))
  }

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution: the
    * FIRST and LAST in-window touch of each conversion get 40% of the
    * credit each and the middle touches split the remaining 20%
    * equally; 1 touch takes 100%, 2 touches split 50/50, and a
    * conversion with no in-window touch credits "direct" in full. The
    * standard middle ground between [[lastTouchAttribution]] (all
    * credit at the bottom of the funnel) and [[linearAttribution]]
    * (position-blind): discovery and closing both matter more than the
    * nurturing middle.
    *
    * Shape: identical join skeleton to [[linearAttribution]] — one
    * shuffle on the user key, pair fan-out bounded by events-per-user
    * × window. Position and touch count are a row_number + count over
    * the SAME per-conversion partitioning (one window pass), ordered by
    * (ts, tie) so both engines see identical positions. All credits
    * are small rationals; only the final per-channel sum is rounded.
    */
  def positionAttribution(df: DataFrame, keyCol: String, tsCol: String,
                          tieCol: String, typeCol: String,
                          conversionType: String, touchTypes: Seq[String],
                          windowSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "touchTypes must be non-empty and exclude the conversion type")
    val conv = df.filter(col(typeCol) === conversionType)
      .select(col(keyCol).as("__k"), col(tsCol).as("__cts"),
        col(tieCol).as("__ctie"))
    val touch = df.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(keyCol).as("__k"), col(tsCol).as("__tts"),
        col(tieCol).as("__ttie"), col(typeCol).as("__ch"))
    val joined = conv.join(touch,
      conv("__k") === touch("__k") &&
        (col("__tts") < col("__cts") ||
          (col("__tts") === col("__cts") && col("__ttie") < col("__ctie"))) &&
        col("__cts").cast("long") - col("__tts").cast("long") <= windowSec,
      "left")
      .select(conv("__k").as("k"), col("__cts"), col("__ctie"),
        col("__tts"), col("__ttie"), col("__ch"))
    val part = Window.partitionBy(col("k"), col("__cts"), col("__ctie"))
    val ord = part.orderBy(col("__tts").asc, col("__ttie").asc)
    val credited = joined
      .withColumn("__n", count(col("__ch")).over(part))
      .withColumn("__pos", row_number().over(ord))
      .select(
        coalesce(col("__ch"), lit("direct")).as("channel"),
        when(col("__n") === 0, lit(1.0))
          .when(col("__n") === 1, lit(1.0))
          .when(col("__n") === 2, lit(0.5))
          .when(col("__pos") === 1 || col("__pos") === col("__n"), lit(0.4))
          .otherwise(lit(0.2) / (col("__n") - 2)).as("credit"))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("touches"),
        round(sum(col("credit")), 6).as("credited"))
  }

  /** Time-decay multi-touch attribution with EXACT power-of-two decay:
    * a touch Δt seconds before its conversion earns raw weight
    * 2^(−⌊Δt / halfLifeSec⌋), normalized per conversion so each
    * conversion distributes exactly one unit of credit; no in-window
    * touch → "direct" in full. The floor-bucketed exponent keeps every
    * raw weight a dyadic rational — sums and ratios of these are exact
    * in binary doubles, so the report replays bit-for-bit across
    * engines (a continuous exp(−λΔt) would hang determinism on libm).
    * Recency-weighted credit is the standard answer to last-touch's
    * winner-take-all and linear's flat split.
    *
    * Shape: same single user-key shuffle as the other attribution
    * variants; the per-conversion normalizer is a window sum over the
    * same partitioning (exponent spread is ≤ window/halfLife ≈ 2⁴ here,
    * far inside the double mantissa, so the window sum is exact in any
    * accumulation order).
    */
  def timeDecayAttribution(df: DataFrame, keyCol: String, tsCol: String,
                           tieCol: String, typeCol: String,
                           conversionType: String, touchTypes: Seq[String],
                           windowSec: Long, halfLifeSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "touchTypes must be non-empty and exclude the conversion type")
    require(halfLifeSec > 0, "halfLifeSec must be positive")
    val conv = df.filter(col(typeCol) === conversionType)
      .select(col(keyCol).as("__k"), col(tsCol).as("__cts"),
        col(tieCol).as("__ctie"))
    val touch = df.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(keyCol).as("__k"), col(tsCol).as("__tts"),
        col(tieCol).as("__ttie"), col(typeCol).as("__ch"))
    val joined = conv.join(touch,
      conv("__k") === touch("__k") &&
        (col("__tts") < col("__cts") ||
          (col("__tts") === col("__cts") && col("__ttie") < col("__ctie"))) &&
        col("__cts").cast("long") - col("__tts").cast("long") <= windowSec,
      "left")
      .select(conv("__k").as("k"), col("__cts"), col("__ctie"),
        col("__tts"), col("__ch"))
    val part = Window.partitionBy(col("k"), col("__cts"), col("__ctie"))
    val raw = when(col("__ch").isNull, lit(0.0)).otherwise(
      pow(lit(2.0), -floor((col("__cts").cast("long") -
        col("__tts").cast("long")) / lit(halfLifeSec))))
    val credited = joined
      .withColumn("__w", raw)
      .withColumn("__tot", sum(col("__w")).over(part))
      .select(
        coalesce(col("__ch"), lit("direct")).as("channel"),
        when(col("__tot") === 0, lit(1.0))
          .otherwise(col("__w") / col("__tot")).as("credit"))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("touches"),
        round(sum(col("credit")), 6).as("credited"))
  }

  /** Stationary distribution of the first-order event-type Markov
    * chain — the long-run fraction of time the process spends in each
    * type, the summary behind "where does user attention equilibrate"
    * and the baseline for spotting types whose observed share diverges
    * from their dynamics. Power iteration from the uniform vector over
    * [[transitionMatrix]]'s row-normalized 6dp probabilities, `iters`
    * pinned iterations; convergence is geometric in the chain's second
    * eigenvalue, so ~12 iterations land well under the 6dp grain for
    * well-mixed behavioral chains. Terminal types (observed only as
    * targets) have no outgoing row: mass stepping into them is
    * reclaimed by renormalizing each iterate — PageRank's
    * dangling-node treatment — and every iterate is re-pinned to 6dp
    * so both engines walk the identical trajectory.
    *
    * Scale shape: the matrix and the iterate are TYPE-DOMAIN-sized; the
    * only full-data pass is [[transitionMatrix]]'s single shuffle. The
    * iteration is domain-sized joins, broadcast totals, no collects.
    */
  def markovStationary(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, typeCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val tm = graft.data.ScopedCaches.materialize(
      transitionMatrix(df, keyCol, tsCol, tieCol, typeCol)
        .select(col("from_type"), col("to_type"), col("prob")))
    val states = tm.select(col("from_type").as("state"))
      .union(tm.select(col("to_type"))).distinct()
    val nn = states.agg(count(lit(1)).cast("double").as("__n"))
    var pi = states.crossJoin(broadcast(nn))
      .select(col("state"), round(lit(1.0) / col("__n"), 6).as("p"))
    for (_ <- 1 to iters) {
      val stepped = pi.join(tm, col("state") === col("from_type"))
        .groupBy(col("to_type"))
        .agg(sum(col("p") * col("prob")).as("pr"))
        .withColumnRenamed("to_type", "state")
      val tot = stepped.agg(sum(col("pr")).as("__tot"))
      // localCheckpoint truncates the growing lineage ([[
      // graft.ops.Dedup.connectedComponents]]'s trick): the iterate
      // references `stepped` twice (cells + total), so an unrolled
      // plan would DOUBLE per iteration — 2^iters subtrees is an OOM
      // in plan stringification long before execution. The iterate is
      // type-domain-sized, so materializing it is free.
      pi = states.join(stepped, Seq("state"), "left")
        .crossJoin(broadcast(tot))
        .select(col("state"),
          round(coalesce(col("pr"), lit(0.0)) / col("__tot"), 6).as("p"))
        .localCheckpoint()
    }
    pi.select(col("state"), col("p").as("pi"))
  }

  /** Benford first-digit audit: the distribution of leading significant
    * digits of a positive value column vs Benford's law
    * p(d) = log10(1 + 1/d), with chi-square. A strong deviation on
    * organically-generated amounts is the classic fabricated-data /
    * broken-generator signal (synthetic uniform values, like this
    * fixture's, deviate hugely — which is the audit working). The digit
    * comes from the STRING of the 6dp-scaled integer — never
    * floor(log10): float log of an exact power of ten can land a hair
    * low and misread 1000 as leading digit 9.
    *
    * Scale shape: scan-side digit extraction, one 9-cell combinable
    * count, a 9-row spine join so absent digits still contribute to
    * chi-square.
    */
  def benfordAudit(df: DataFrame, valCol: String): DataFrame = {
    val v6 = round(col(valCol) * 1e6, 0).cast("long")
    val digits = df.select(v6.as("v")).filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val tot = digits.agg(sum(col("cnt")).cast("double").as("__tot"))
    val cells = spine.join(digits, Seq("digit"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        col("__tot") * log(10.0, lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("__c",
        (col("cnt") - col("expected")) * (col("cnt") - col("expected")) /
          col("expected"))
    val chi2 = cells.agg(sum(col("__c")).as("__chi2"))
    cells.crossJoin(broadcast(chi2))
      .select(col("digit"), col("cnt"), round(col("expected"), 6).as("expected"),
        round(col("__c"), 6).as("contrib"), round(col("__chi2"), 6).as("chi2"))
  }

  /** Daily peak concurrency: sessionize (same `gapMinutes` idle rule as
    * `ev_sessionize`), then sweep-line over session intervals — +1 at
    * session start, −1 just after session end (end-inclusive presence),
    * running-summed within each day with ties ordered (−1 before +1, so
    * adjacent sessions never double-count) — reporting each day's
    * maximum simultaneous open sessions. Sessions spanning midnight are
    * handled by a CARRYOVER term (sessions open at the day's first
    * instant), counted by a broadcast day-spine join, so per-day sweeps
    * stay independent.
    *
    * Scale shape: sessionization is the standard key-partitioned
    * window; the sweep is partitioned by DAY — at extreme events/day,
    * sub-partition the sweep by hour with the same carryover
    * construction (the correction term is the whole trick, and it
    * nests). The spine join is day-domain × midnight-crossing sessions
    * only.
    */
  def maxConcurrencyDaily(df: DataFrame, keyCol: String, tsCol: String,
                          gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc)
    val gapUs = gapMinutes * 60L * 1000000L
    val newS = when(lag(col(tsCol), 1).over(w).isNull ||
      unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w)) > gapUs,
      1).otherwise(0)
    // session-domain-sized and read three times (two delta legs + the
    // carryover join) — materialize so the event window runs once
    val sessions = graft.data.ScopedCaches.materialize(df
      .select(col(keyCol), col(tsCol),
        sum(newS).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("sid"))
      .groupBy(col(keyCol), col("sid"))
      .agg(min(unix_micros(col(tsCol))).as("s_us"),
        max(unix_micros(col(tsCol))).as("e_us"))
      .select(col("s_us"), (col("e_us") + 1).as("e_excl_us")))
    val deltas = sessions.select(col("s_us").as("us"), lit(1).as("delta"))
      .unionByName(sessions.select(col("e_excl_us").as("us"),
        lit(-1).as("delta")))
      // integer div, not float floor: an exact-midnight end must land
      // on the same side in every engine
      .withColumn("day", expr("us div 86400000000"))
    val sweepW = Window.partitionBy(col("day"))
      .orderBy(col("us").asc, col("delta").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val sweep = deltas
      .withColumn("run", sum(col("delta")).over(sweepW))
      .groupBy(col("day")).agg(max(col("run")).as("max_run"))
    // carryover as an EXPLODE-days aggregate, not a non-equi spine join
    // (a 30-row x millions-of-sessions nested loop was the first cut's
    // cost): each session fans out to the days it is open AT the first
    // instant of — one per crossed midnight, zero for same-day sessions
    // — and a combinable count per day does the rest.
    val carry = sessions
      .select(expr("s_us div 86400000000").as("s_day"),
        expr("(e_excl_us - 1) div 86400000000").as("e_day"))
      .where(col("e_day") >= col("s_day") + 1)
      .select(explode(sequence(col("s_day") + 1, col("e_day"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("carry"))
    sweep.join(carry, Seq("day"), "left")
      .withColumn("carry", coalesce(col("carry"), lit(0L)))
      // ISO string, not DATE: the oracle gate hashes DATE values
      // engine-version-dependently; a VARCHAR day is stable everywhere
      .select(date_format(timestamp_micros(col("day") * 86400000000L),
          "yyyy-MM-dd").as("day"),
        greatest(col("carry"), col("carry") + col("max_run"))
          .as("max_concurrency"))
  }

  /** RFM segmentation (recency / frequency / monetary): per key,
    * recency = days since last event vs the corpus max timestamp,
    * frequency = event count, monetary = value sum; each dimension
    * tercile-binned by the [[quantileBins]] rule (bin = number of
    * thresholds strictly below the 6dp-rounded score, ties to the
    * LOWER bin), then the 27 possible `r-f-m` segments reported with
    * member counts — the classic lifecycle segmentation, composed from
    * the same exact-percentile machinery as the other binning ops.
    * Note recency bins ascend with STALENESS (bin 2 = longest quiet).
    *
    * Scale shape: one key-hash aggregate builds the per-key metric
    * table (key-domain-sized); the nine thresholds are one single-row
    * aggregate broadcast back; the segment report is a ≤27-group
    * combinable count.
    */
  def rfmSegments(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String): DataFrame = {
    val maxTs = df.agg(max(unix_micros(col(tsCol))).as("__maxus"))
    val perKey = df.groupBy(col(keyCol))
      .agg(max(unix_micros(col(tsCol))).as("__lastus"),
        count(lit(1)).cast("double").as("f"),
        round(sum(col(valCol)), 6).as("m"))
      .crossJoin(broadcast(maxTs))
      .select(col(keyCol),
        ((col("__maxus") - col("__lastus")) / lit(86400000000L).cast("double"))
          .as("r"), col("f"), col("m"))
    def bins(c: String) = {
      val scored = round(col(c), 6)
      val thr = perKey.agg(transform(
        percentile(scored, array(lit(1.0 / 3), lit(2.0 / 3))),
        t => round(t, 6)).as(s"__thr_$c"))
      (scored, thr)
    }
    val (rS, rT) = bins("r"); val (fS, fT) = bins("f"); val (mS, mT) = bins("m")
    def bin(s: Column, thrCol: Column) =
      aggregate(thrCol, lit(0), (acc, t) => acc + when(s > t, 1).otherwise(0))
    perKey.crossJoin(broadcast(rT)).crossJoin(broadcast(fT))
      .crossJoin(broadcast(mT))
      .select(bin(rS, col("__thr_r")).as("r_bin"),
        bin(fS, col("__thr_f")).as("f_bin"),
        bin(mS, col("__thr_m")).as("m_bin"))
      .groupBy(col("r_bin"), col("f_bin"), col("m_bin"))
      .agg(count(lit(1)).as("n_keys"))
  }

  /** Inter-arrival gap quantiles: per key, the integer-microsecond gap
    * between consecutive events (time order, `tieCol` breaking equal
    * timestamps), then exact p50/p90/p99 of all gaps — the feed-health
    * metric behind watermark sizing and ingestion SLAs (how long can a
    * key go quiet before state should be dropped?).
    *
    * Scale shape: one key-partitioned window (per-key history bounded
    * by human activity) and one single-row exact-percentile aggregate
    * over integer gaps — exact percentile sorts inside one reduce; the
    * documented swap at extreme N is `approx_percentile`, plumbing
    * unchanged.
    */
  def interarrivalQuantiles(df: DataFrame, keyCol: String, tsCol: String,
                            tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    df.select((unix_micros(col(tsCol)) -
        lag(unix_micros(col(tsCol)), 1).over(w)).as("gap_us"))
      .filter(col("gap_us").isNotNull)
      .agg(count(lit(1)).as("n_gaps"),
        round(percentile(col("gap_us"), lit(0.5)), 6).as("p50_us"),
        round(percentile(col("gap_us"), lit(0.9)), 6).as("p90_us"),
        round(percentile(col("gap_us"), lit(0.99)), 6).as("p99_us"))
  }

  /** Top event-type trigram paths: for every key's time-ordered event
    * sequence, count consecutive (t1, t2, t3) triples corpus-wide and
    * return the `topK` most frequent — the second-order sequence-mining
    * complement of [[transitionMatrix]] (first-order edges can't tell
    * "view→click→purchase" from "view→click→error"; the funnel designer
    * needs the triple). The top-k order is TOTAL (count desc, then the
    * path lexicographically), so the limit boundary is deterministic and
    * any engine replays it.
    *
    * Scale shape: the window is partitioned by `keyCol` — per-key
    * history is bounded by human activity, so no single partition grows
    * with corpus size — and the trigram aggregate is map-side
    * combinable over a domain of at most |types|^3 keys; the final
    * top-k is a TakeOrdered, never a global sort.
    */
  def topPaths(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
               typeCol: String, topK: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    df.select(col(typeCol).as("t1"),
        lead(col(typeCol), 1).over(w).as("t2"),
        lead(col(typeCol), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
      .limit(topK)
  }

  /** Association rules over baskets (Agrawal–Srikant support/confidence
    * plus lift): for every ordered pair of distinct items co-occurring
    * in at least `minPairCount` baskets, emit the pair count, support,
    * confidence(antecedent → consequent), and lift — the market-basket
    * view of an event stream (basket = user or session, item = event
    * type) that powers "users who X also Y" and feature co-occurrence
    * audits. Both directions of a pair are emitted, since confidence is
    * asymmetric. All ratios round to 6dp against exact integer counts,
    * so any engine replays them.
    *
    * Scale shape: the corpus-sized stages are the (basket, item)
    * distinct (one shuffle, map-side combinable) and the self-join on
    * `basket` — and per-basket work is bounded by the ITEM DOMAIN, not
    * the basket's raw event count, because distinct items per basket
    * ≤ |domain|. Pair counts then map-side-combine into a ≤ |domain|²
    * table; item supports and the basket total are domain-sized /
    * 1-row broadcasts. Nothing is ever quadratic in baskets or events.
    */
  def assocRules(df: DataFrame, basketCol: String, itemCol: String,
                 minPairCount: Long): DataFrame = {
    val bi = df.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .distinct()
    val nBaskets = bi.agg(count_distinct(col("b")).as("__n"))
    val itemCnt = bi.groupBy(col("i")).agg(count(lit(1)).as("__ic"))
    val pairs = bi.as("l")
      .join(bi.as("r"), col("l.b") === col("r.b") &&
        col("l.i") < col("r.i"))
      .groupBy(col("l.i").as("a"), col("r.i").as("c"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minPairCount)
    val both = pairs.select(col("a"), col("c"), col("pair_cnt"))
      .unionByName(pairs.select(col("c").as("a"), col("a").as("c"),
        col("pair_cnt")))
    both
      .join(broadcast(itemCnt.select(col("i").as("a"),
        col("__ic").as("__ca"))), Seq("a"))
      .join(broadcast(itemCnt.select(col("i").as("c"),
        col("__ic").as("__cc"))), Seq("c"))
      .crossJoin(broadcast(nBaskets))
      .select(col("a").as("antecedent"), col("c").as("consequent"),
        col("pair_cnt"),
        round(col("pair_cnt") / col("__n"), 6).as("support"),
        round(col("pair_cnt") / col("__ca"), 6).as("confidence"),
        round(col("pair_cnt") * col("__n") / (col("__ca") * col("__cc")), 6)
          .as("lift"))
  }

  /** Conversion latency: for every key with at least one `fromVal`
    * event, the first `fromVal` timestamp, the first `toVal` timestamp
    * AT OR AFTER it (null if the key never converts), and the latency
    * in exact integer microseconds — the funnel-edge timing behind
    * activation dashboards and time-to-convert SLAs. Latencies are
    * integer epoch-micro differences, so every engine agrees bit-for-bit.
    *
    * Scale shape: two filtered key-hash aggregations (both map-side
    * combinable) and one join on the key — all on the same hash
    * partitioning, so AQE reuses the exchange; nothing windows the raw
    * stream and per-key state is two timestamps.
    */
  def timeToConversion(df: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, fromVal: String,
                       toVal: String): DataFrame = {
    val starts = df.filter(col(typeCol) === fromVal)
      .groupBy(col(keyCol)).agg(min(col(tsCol)).as("from_ts"))
    val convs = df.filter(col(typeCol) === toVal)
      .select(col(keyCol), col(tsCol))
      .join(starts, Seq(keyCol))
      .filter(col(tsCol) >= col("from_ts"))
      .groupBy(col(keyCol)).agg(min(col(tsCol)).as("to_ts"))
    starts.join(convs, Seq(keyCol), "left")
      .select(col(keyCol), col("from_ts"), col("to_ts"),
        (unix_micros(col("to_ts")) - unix_micros(col("from_ts")))
          .as("latency_us"))
  }

  /** Conversion-window funnel (Amplitude/Mixpanel semantics): the user
    * enters at their FIRST `steps(0)` event; each later step binds to
    * the EARLIEST qualifying event strictly after the previous bound
    * step and within `windowMicros` of it — greedy chaining, so "did
    * the user convert" has one deterministic answer. This is a
    * different operator from the first-occurrence funnel
    * (`ev_funnel`): there, a purchase three weeks after the click still
    * counts; here the conversion window is the product question.
    * Returns one row of per-stage user counts plus 6dp conversion
    * rates against stage 1.
    *
    * Scale shape: stage i is a filtered key-hash aggregate joined to
    * stage i-1 on the key — every join and groupBy shares the same
    * hash partitioning, so AQE reuses one exchange chain; per-key state
    * is one timestamp per stage, never an event list. Latencies are
    * integer epoch-micros, exact in any engine.
    */
  def windowedFunnel(df: DataFrame, keyCol: String, tsCol: String,
                     typeCol: String, steps: Seq[String],
                     windowMicros: Long): DataFrame = {
    require(steps.size >= 2, s"need >= 2 steps, got ${steps.size}")
    val us = unix_micros(col(tsCol))
    def stageEvents(t: String) =
      df.filter(col(typeCol) === t).select(col(keyCol), us.as("__t"))
    // greedy chain: each stage keeps only (key, bound time) — per-key
    // state is one timestamp, and each stage's survivor count rides a
    // one-row aggregate cross-joined into the report
    val stage1 = stageEvents(steps.head)
      .groupBy(col(keyCol)).agg(min(col("__t")).as("t_1"))
    var counts = stage1.agg(count(lit(1)).as("n_1"))
    var chain = stage1
    for (i <- 1 until steps.size) {
      val prev = s"t_$i"
      chain = stageEvents(steps(i))
        .join(chain, Seq(keyCol))
        .filter(col("__t") > col(prev) &&
          col("__t") <= col(prev) + windowMicros)
        .groupBy(col(keyCol)).agg(min(col("__t")).as(s"t_${i + 1}"))
      counts = counts.crossJoin(chain.agg(count(lit(1)).as(s"n_${i + 1}")))
    }
    val rates = (2 to steps.size).map(i =>
      round(col(s"n_$i").cast("double") / col("n_1"), 6).as(s"rate_$i"))
    counts.select((1 to steps.size).map(i => col(s"n_$i")) ++ rates: _*)
  }

  /** Distinct keys per sliding time window (`windowDur` long, advancing
    * every `slideDur`): the rolling-active-users metric, batch or
    * streaming. Uses Spark's built-in `window()` generator — epoch-aligned
    * starts, each event fanning out to exactly windowDur/slideDur windows
    * — with an EXACT distinct count per window. Emits the window start
    * both as a timestamp and as integer epoch micros (`ws_us`), so the
    * alignment arithmetic replays in any engine.
    *
    * Streaming forbids `count_distinct`, so the count is the
    * dedup-then-count idiom: dropDuplicates on (window, key), then a
    * windowed count (null keys dropped first, as `count(DISTINCT)` does).
    * Streamed, both are append-mode stateful operators bounded by the
    * 1-hour watermark, which the window struct's event-time metadata
    * carries: dedup state is (open windows) x (keys active in them), the
    * count state one long per open window.
    *
    * Scale shape: the fan-out factor is the constant windowDur/slideDur
    * (4 at 24h/6h), applied scan-side by the TimeWindow expression; the
    * batch plan is the standard two-phase (window, key) dedup + count.
    * At extreme cardinality swap the distinct for the KMV/HLL sketches
    * in [[Sketches]] — the windowing plumbing is unchanged.
    */
  def slidingDistinct(df: DataFrame, tsCol: String, keyCol: String,
                      windowDur: String, slideDur: String): DataFrame =
    df.withWatermark(tsCol, "1 hour")
      .filter(col(keyCol).isNotNull)
      .select(window(col(tsCol), windowDur, slideDur).as("w"), col(keyCol))
      .dropDuplicates("w", keyCol)
      .groupBy(col("w")).agg(count(lit(1)).as("n_distinct"))
      .select(col("w.start").as("window_start"),
        unix_micros(col("w.start")).as("ws_us"), col("n_distinct"))

  /** Robust outlier flagging via the modified z-score (Iglewicz–Hoaglin):
    * score = 0.6745 · (x − median) / MAD, flagging |score| ≥ `minScore`
    * (3.5 is the published default). The robust complement of
    * [[zscoreOutliers]]: median/MAD are immune to the very outliers a
    * mean/sd flagger is distorted by, which is what you want on
    * heavy-tailed value streams. Groups with MAD 0 (over half the
    * values identical) flag nothing — score is null there, and the
    * degenerate group needs a domain rule, not a statistic. Values and
    * both statistics round to 6dp so every verdict replays exactly.
    *
    * Scale shape: two exact-percentile aggregations over the group
    * domain (median, then median of |x − median| after a broadcast
    * join of the medians back), each reducing to one domain-sized
    * table; flagging is scan-side against the broadcast stats. No
    * window over the data, no global sort. At extreme N swap in
    * `approx_percentile`; the flagging plumbing is unchanged.
    */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String,
                  minScore: Double, outCols: Seq[String]): DataFrame = {
    val v = df.withColumn("value", round(col(valCol), 6))
    val med = v.groupBy(col(groupCol))
      .agg(round(percentile(col("value"), lit(0.5)), 6).as("__med"))
    val mad = v.join(broadcast(med), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(round(percentile(abs(col("value") - col("__med")), lit(0.5)), 6)
        .as("__mad"))
    v.join(broadcast(med), Seq(groupCol))
      .join(broadcast(mad), Seq(groupCol))
      .withColumn("score", round(lit(0.6745) * (col("value") - col("__med")) /
        when(col("__mad") === 0d, lit(null)).otherwise(col("__mad")), 6))
      .filter(abs(col("score")) >= minScore)
      .select(outCols.map(col) :+ col("value") :+ col("score"): _*)
  }

  /** Winsorization: clip `valueCol` to its exact [pLow, pHigh] quantile
    * band and flag which rows were clipped — the robust outlier
    * treatment for numeric feature prep (heavy-tailed amounts,
    * latencies, lengths) where z-score trimming is distorted by the
    * very outliers it hunts. Emits `outCols` + the 6dp-rounded input
    * `value`, the clipped `value_w`, and `clip` ∈ {low, in, high}.
    *
    * Values and the two thresholds round to 6dp (Spark `percentile` ==
    * DuckDB `quantile_cont` linear interpolation on identical inputs)
    * so the band — and therefore every row's verdict — replays exactly
    * in any engine.
    *
    * Scale shape: the thresholds are ONE single-row exact-percentile
    * aggregate broadcast back onto the stream; clipping is a scan-side
    * `least/greatest` fold, so the whole operator costs one pass plus a
    * 1-row broadcast — never a global sort. (Exact percentile sorts
    * per-group inside one reduce; at extreme N swap in
    * `approx_percentile` — the clip plumbing is unchanged.)
    */
  /** Daily new-vs-returning actives — the growth dashboard's first
    * panel: per day, distinct active keys split by whether this is the
    * key's first-ever day, plus the cumulative distinct-keys curve.
    *
    * Scale shape: one (day, key) distinct (two-phase, map-side
    * partial), one per-key min-day aggregate on the SAME key hash (AQE
    * reuses the exchange for the join), then a day-domain-sized count +
    * cumulative window over the calendar. No window ever touches the
    * raw stream.
    */
  def newVsReturning(df: DataFrame, keyCol: String,
                     tsCol: String): DataFrame = {
    val dayKey = df.select(to_date(col(tsCol)).as("day"), col(keyCol))
      .distinct()
    val firstDay = dayKey.groupBy(col(keyCol))
      .agg(min(col("day")).as("__first"))
    val daily = dayKey.join(firstDay, Seq(keyCol))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active"),
        count(when(col("day") === col("__first"), 1)).as("new_keys"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("day"), col("active"), col("new_keys"),
      (col("active") - col("new_keys")).as("returning"),
      sum(col("new_keys")).over(wCum).as("cum_keys"))
  }

  def winsorize(df: DataFrame, valueCol: Column, pLow: Double,
                pHigh: Double, outCols: Seq[String]): DataFrame = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val v = df.withColumn("value", round(valueCol, 6))
    val thr = v.agg(
      round(percentile(col("value"), lit(pLow)), 6).as("__lo"),
      round(percentile(col("value"), lit(pHigh)), 6).as("__hi"))
    v.crossJoin(broadcast(thr))
      .select(outCols.map(col) :+ col("value") :+
        least(greatest(col("value"), col("__lo")), col("__hi"))
          .as("value_w") :+
        when(col("value") < col("__lo"), "low")
          .when(col("value") > col("__hi"), "high")
          .otherwise("in").as("clip"): _*)
  }
}
