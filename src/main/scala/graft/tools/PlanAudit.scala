package graft.tools

import graft.{Sessions, SparkEntry}

import scala.util.control.NonFatal

/** Registry-wide physical-plan audit for quadratic join shapes — the
  * structural guard for the bug class that cost `er_sorted_neighborhood`
  * 577 s at sf0.1 (a rank-window RANGE predicate Spark could only
  * execute as a BroadcastNestedLoopJoin over |dict|² row pairs; fixed
  * to an exploded-offset equi-join, 485× faster, commit "Fix
  * sorted-neighborhood window join").
  *
  * Rule: a `CartesianProduct`, or a `BroadcastNestedLoopJoin` carrying
  * a join CONDITION, means Spark is filtering a quadratic candidate
  * space row-by-row — either a bug, or a deliberate exact baseline /
  * domain-bounded statistic that must be ON THE ALLOWLIST with its
  * reason. Condition-free BNLJ cross joins are not flagged: they are
  * the one-row broadcast folds (stats × totals) used throughout and
  * carry no quadratic work.
  *
  * Exits non-zero if any query outside the allowlist plans a flagged
  * node, so the round loop catches a regression the day it lands
  * instead of at the closing campaign.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir]   (default sf0.001)
  */
object PlanAudit {

  /** Reviewed quadratic-join shapes. Every entry is (query, why the
    * nested loop is the intended plan).
    */
  val allowed: Map[String, String] = Map(
    // labeled exact baselines (their scale paths are the LSH/sample
    // variants; the quadratic IS the contract)
    "sim_cosine_pairs" -> "exact all-pairs cosine baseline",
    "emb_mmd_split" -> "exact quadratic-kernel MMD estimator",
    "emb_alignment_uniformity" -> "exact all-pairs alignment/uniformity",
    "emb_lof_outliers" ->
      "exact all-pairs LOF baseline (scale form: _sampled)",
    "emb_intrinsic_dim" ->
      "exact all-pairs TwoNN baseline (scale form: _sampled)",
    // registered scale paths: the same quadratic kernel, bounded by a
    // deterministic hash sample of the cloud — |sample|² pairs by
    // construction, which is the documented 100 TB form
    "emb_mmd_split_sampled" -> "quadratic bounded by hash sample",
    "emb_alignment_uniformity_sampled" -> "quadratic bounded by hash sample",
    "emb_lof_outliers_sampled" -> "quadratic bounded by hash sample",
    "emb_intrinsic_dim_sampled" -> "quadratic bounded by hash sample",
    "sim_cosine_pairs_sampled" -> "quadratic bounded by hash sample",
    "dedup_signal_triage" ->
      "exact multi-signal triage baseline (scale form: _lsh)",
    // probe-set-bounded NOT(id = query_id) nested loops: the build side
    // is a literal handful of query ids (isin filter, broadcast), so
    // the loop is O(corpus x |queries|) — linear in the corpus. The
    // correct plan for brute-force top-k probes; the ANN variants are
    // the corpus x corpus scale path.
    "sim_ann_topk_brute" -> "probe-set-bounded (|queries| broadcast rows)",
    "sim_ann_recall_pinned" -> "probe-set-bounded (|queries| broadcast rows)",
    "sim_ann_topk_pq" -> "probe-set-bounded (|queries| broadcast rows)",
    "sim_ann_topk_pq_pinned" ->
      "probe-set-bounded (|queries| broadcast rows)",
    "sim_maxsim_topk" -> "probe-set-bounded (|queries| broadcast rows)",
    "emb_hard_negatives" -> "probe-set-bounded (fixed <=200 broadcast probes, one corpus scan)",
    "emb_margin_mine" ->
      "probe-set-bounded (fixed <=20 broadcast probes, one corpus scan)",
    "search_mmr_rerank" -> "probe-set-bounded (|queries| broadcast rows)",
    "emb_knn_classifier" -> "probe-set-bounded (|queries| broadcast rows)",
    "emb_matryoshka_recall" ->
      "probe-set-bounded (|queries| broadcast rows)",
    "search_hybrid_rrf" -> "probe-set-bounded (|queries| broadcast rows)",
    "mm_feature_ann_pipeline" ->
      "probe-set-bounded (|queries| broadcast rows)",
    "sim_ann_rbo_lsh" ->
      "probe-set-bounded (composes brute+LSH ranking legs)",
    "ev_pettitt_changepoint" ->
      "O(days^2) U-statistic pair join, calendar-bounded",
    // calendar/domain-bounded non-equi joins (≤ |days|² or grid rows)
    "ev_kendall_tau" -> "O(days^2) pair join, calendar-bounded",
    "ev_mann_kendall" -> "O(days^2) pair join, calendar-bounded",
    "ev_theilsen_trend" -> "O(days^2) pairwise slopes, calendar-bounded",
    "ev_forecast_backtest" -> "fold x horizon grid, calendar-bounded",
    "ev_forecast_conformal" -> "fold x horizon grid, calendar-bounded",
    "doc_source_overlap_kmv" ->
      "source-pair grid (groups^2 rows), sketch-sized inputs",
    "emb_isotonic_calibration" ->
      "PAVA block joins over the score-bin grid")

  /** Reviewed non-codegen object aggregates (`collect_list`/
    * `collect_set` → `ObjectHashAggregate`). Every use in the registry
    * is domain-bounded BY REVIEW — daily series, per-doc position
    * lists, bounded band/bucket lists — but the adamic-adar A/B showed
    * a corpus-scale one costs 20%+, so this census is a SNAPSHOT, not
    * a printout: a query planning an object aggregate that is not
    * acknowledged here fails the audit (review it, then add it), and
    * an acknowledged name whose plan no longer carries one fails as
    * stale (same rule as the join allowlist — a dead entry could mask
    * a future real regression under a reused name).
    */
  val objectAggAcknowledged: Set[String] = Set(
    "dedup_lines", "dedup_simhash_pairs", "dedup_simhash_sigs",
    "dedup_span_removal", "doc_bootstrap_ci", "doc_curriculum_bins",
    "doc_quantile_normalize", "dq_key_skew_orders", "emb_logreg_epochs",
    "emb_pca_top_component", "ev_autocorr_daily", "ev_cusum_changepoint",
    "ev_ewma_daily", "ev_holt_daily", "ev_holt_winters_daily",
    "ev_hurst_rs", "ev_interarrival_quantiles", "ev_kalman_level",
    "ev_mad_outliers", "ev_p50_by_type", "ev_periodogram",
    "ev_psi_value_drift", "ev_rfm_segments", "ev_survival_km",
    "ev_theilsen_trend", "ev_value_quantiles", "ev_winsorize",
    "doc_quality_sweep",
    "pipeline_governance", "search_mmr_rerank", "text_ccnet_buckets",
    "text_ccnet_kn_agreement", "text_drop_stopwords", "text_quality_gate",
    "text_rake_keyphrases")

  /** (unacknowledged new names, stale acknowledged names) — pure so the
    * snapshot rule itself is spec-tested.
    */
  private[tools] def objectAggDrift(found: Set[String],
      acknowledged: Set[String]): (Set[String], Set[String]) =
    (found -- acknowledged, acknowledged -- found)

  /** Reviewed unpartitioned windows (`Window.orderBy` / `partitionBy()`
    * with no partition columns → an Exchange SinglePartition feeding
    * one task). Every acknowledged use runs over a POST-AGGREGATE or
    * POST-LIMIT domain-sized frame — sources, languages, days, score
    * bins, top-k rows — where one partition of ≤ thousands of rows is
    * free and correct. Ranking a corpus-sized input on one partition is
    * the anti-pattern this census exists to catch (`spearmanCorr`'s
    * aggregate-first rule): a query planning an unpartitioned Window
    * that is not acknowledged here fails the audit, and a stale
    * acknowledgement fails too, exactly like the object-agg snapshot.
    */
  val unpartWindowAcknowledged: Map[String, String] = Map(
    // sources-sized aggregates: the window totals a ≤|sources| frame
    "doc_doremi_weights" -> "softmax totals over the |sources| aggregate",
    "doc_temperature_mix" -> "weight totals over the |sources| aggregate",
    "doc_unimax_plan" ->
      "water-filling rank/prefix over the |sources| aggregate",
    // domainPrefixSums' band-offset pass: a cumulative over the ≤64
    // bucket totals of the two-phase prefix sum (the per-value pass is
    // partitioned by band; only the band rollup is single-partition)
    "emb_centroid_auc" -> "domainPrefixSums band offsets (<=64 rows)",
    "ev_emd_value_drift" -> "domainPrefixSums band offsets (<=64 rows)",
    "ev_ks_drift" -> "domainPrefixSums band offsets (<=64 rows)",
    "ev_mannwhitney_u" -> "domainPrefixSums band offsets (<=64 rows)",
    "ev_kruskal_wallis" -> "domainPrefixSums band offsets (<=64 rows)",
    // top-k-limited: a TakeOrdered limit runs FIRST, the rank window
    // orders the surviving <=k rows
    "emb_lof_outliers" -> "rank over the top-k-limited LOF rows",
    "emb_lof_outliers_sampled" -> "rank over the top-k-limited LOF rows",
    "li_adamic_adar" -> "rank over the top-k-limited candidate rows",
    "li_local_clustering" -> "rank over the top-k-limited node rows",
    "search_hybrid_rrf" -> "rank over the top-k-limited fused rows",
    "text_bm25_rank" -> "rank over the top-k-limited scored rows",
    "text_zipf_fit" -> "rank over the TakeOrdered top-V terms",
    "text_vocab_coverage" -> "rank+cumulative over TakeOrdered top-V terms",
    "text_hill_tail" -> "rank over the TakeOrdered top k+1 terms",
    // calendar / bucket / grid domains: the window input is a
    // domain-sized aggregate, never corpus rows
    "er_sorted_neighborhood" ->
      "sequencing rank over the distinct-name dictionary (the SN key)",
    "ev_bh_fdr_weekend" -> "BH ranking over the hypothesis-group grid",
    "ev_burst_surprise" -> "top-burst pick over the daily rollup",
    "ev_cliffs_delta" -> "cumulative over the daily rollup",
    "ev_daily_error_cumulative" -> "cumulative over the daily rollup",
    "ev_gini_user_concentration" ->
      "rank runs over the count-of-counts histogram, not keys",
    "ev_granger_leadlag" -> "lag windows over the daily rollup",
    "ev_new_vs_returning" -> "cumulative over the daily rollup",
    "ev_periodogram" -> "peak rank over <=|days|/2 frequency bins",
    "ev_pettitt_changepoint" -> "U-statistic scan over the daily rollup",
    "ev_seasonal_decompose" -> "moving average over the daily rollup",
    "ev_spearman_daily" -> "rank windows over the daily rollup",
    "ev_sprt_monitor" -> "cumulative over the bucket sequence",
    "ev_survival_km" -> "at-risk cumulative over the duration domain",
    "ev_value_quantiles" -> "cumulative over fixed histogram bins",
    "emb_isotonic_calibration" -> "PAVA passes over the score-bin grid",
    "profile_events" -> "top-3 rank over <=64 MG candidate keys",
    "q_pareto_frontier" -> "skyline band offsets over <=64 buckets",
    "text_heaps_law" -> "cumulative over <=|buckets| checkpoints")

  /** A physical `Window` node line with NO partition spec. The plan
    * string renders TOP-LEVEL bracket groups: `[exprs], [partSpec],
    * [orderSpec]` (3 groups, partitioned+ordered), `[exprs],
    * [partSpec]` (2, partitioned frame-only), `[exprs], [orderSpec]`
    * (2, UNPARTITIONED ordered) or `[exprs]` (1, unpartitioned
    * frame-only — e.g. `partitionBy()` totals). Count alone cannot
    * split the two 2-group cases, so the detector also checks whether
    * the LAST group is an order spec — order entries always render
    * with an ` ASC NULLS `/` DESC NULLS ` marker, which a bare
    * partition-attribute list never carries. `WindowGroupLimit` (no
    * space-bracket after "Window") and brackets nested inside
    * expressions don't confuse it.
    */
  private[tools] def unpartitionedWindowHit(line: String): Boolean = {
    val i = line.indexOf("Window [")
    if (i < 0 || (i > 0 && line.charAt(i - 1).isLetter)) return false
    var depth = 0
    var k = i + 7
    var groups = 0
    var lastStart = -1
    var lastGroup = ""
    while (k < line.length) {
      line.charAt(k) match {
        case '[' =>
          if (depth == 0) { groups += 1; lastStart = k + 1 }
          depth += 1
        case ']' =>
          depth -= 1
          if (depth == 0) lastGroup = line.substring(lastStart, k)
        case _ =>
      }
      k += 1
    }
    val lastIsOrderSpec = lastGroup.contains(" ASC NULLS ") ||
      lastGroup.contains(" DESC NULLS ")
    groups == 1 || (groups == 2 && lastIsOrderSpec)
  }

  /** An attribute reference on each side of <, >, <= or >= inside one
    * comparison (no crossing parentheses) — a range predicate over
    * both inputs, the shape BNLJ can only evaluate per row pair.
    */
  private val rangeOnAttrs =
    """[^()]*#\d+L?[^()]* (<|>|<=|>=) [^()]*#\d+L?[^()]*""".r

  /** `NOT (attr = attr)` — the all-pairs-except-self join shape
    * (`a.join(b, col("id1") =!= col("id2"))`). Spark can only plan it
    * as a nested loop over |a|×|b| row pairs, exactly as quadratic as
    * a range condition; round 7's audit missed it and two all-pairs
    * baselines planned BNLJ invisibly. `NOT (attr = literal)` probe
    * filters don't match (no second `#ref`).
    *
    * Implemented as a balanced-paren scan, not a regex: the round-8
    * regex used `[^()]*` on both sides of the `=`, so a condition
    * wrapping an attribute in a function call — `NOT (cast(a#1 as
    * bigint) = b#2)` — silently evaded the detector. The scan finds
    * each `NOT (…)` group (balanced), splits it at every TOP-LEVEL
    * ` = `, and flags when both sides of one split carry a `#N`
    * attribute reference at any nesting depth.
    */
  private val attrRef = """#\d+""".r
  private[tools] def notEqualOnAttrsHit(line: String): Boolean = {
    var from = line.indexOf("NOT (")
    while (from >= 0) {
      val open = from + 4
      var depth = 0
      var k = open
      var end = -1
      while (k < line.length && end < 0) {
        line.charAt(k) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = k
          case _ =>
        }
        k += 1
      }
      if (end > open) {
        val body = line.substring(open + 1, end)
        // top-level " = " positions (depth 0 within the NOT group)
        var d = 0
        var i = 0
        while (i < body.length) {
          body.charAt(i) match {
            case '(' => d += 1
            case ')' => d -= 1
            case '=' if d == 0 && i >= 2 && i + 1 < body.length &&
                body.charAt(i - 1) == ' ' && body.charAt(i + 1) == ' ' &&
                body.charAt(i - 2) != '<' && body.charAt(i - 2) != '>' &&
                body.charAt(i - 2) != '!' && body.charAt(i - 2) != '=' =>
              if (attrRef.findFirstIn(body.substring(0, i - 1)).isDefined &&
                attrRef.findFirstIn(body.substring(i + 2)).isDefined)
                return true
            case _ =>
          }
          i += 1
        }
      }
      from = line.indexOf("NOT (", from + 1)
    }
    false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder(graft.Env.cpus(default = 8)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var bad = List.empty[(String, String)]
    var reviewed = 0
    // Non-codegen object aggregates: snapshot-checked against
    // [[objectAggAcknowledged]] below.
    var objAgg = List.empty[String]
    // Unpartitioned windows: snapshot-checked against
    // [[unpartWindowAcknowledged]] below.
    var unpartWin = List.empty[String]
    for (q <- SparkEntry.registry) {
      val hits: Seq[String] =
        try {
          val plan = q.fn(spark, sfDir).queryExecution.executedPlan
            .toString.linesIterator.map(_.trim).toSeq
          if (plan.exists(_.contains("ObjectHashAggregate")))
            objAgg ::= q.name
          if (plan.exists(unpartitionedWindowHit))
            unpartWin ::= q.name
          plan.filter(l => l.contains("CartesianProduct")) ++
            // the er_sorted_neighborhood bug class: a nested-loop join
            // whose condition RANGE-compares — or NOT-EQUAL-compares —
            // attributes from both sides. Spark evaluates either per
            // row pair, so unless a side is domain-bounded (the
            // allowlist's job to attest), the work is quadratic.
            // NOT(attr = literal) probes and pushed one-sided filters
            // don't match.
            plan.filter(l => l.contains("BroadcastNestedLoopJoin") &&
              (rangeOnAttrs.findFirstIn(l).isDefined ||
                notEqualOnAttrsHit(l)))
        } catch {
          case NonFatal(e) => Seq(s"PLANNING FAILED: ${e.getMessage}")
        }
      if (hits.nonEmpty) {
        if (allowed.contains(q.name)) {
          reviewed += 1
          println(s"[plan-audit] ok (allowlisted) ${q.name}: " +
            allowed(q.name))
        } else bad ::= (q.name, hits.mkString(" | ").take(300))
      }
    }
    val (newObjAgg, staleObjAgg) =
      objectAggDrift(objAgg.toSet, objectAggAcknowledged)
    println(s"[plan-audit] ${objAgg.size} queries with non-codegen object " +
      s"aggregates (acknowledged ${objectAggAcknowledged.size}): " +
      objAgg.reverse.sorted.mkString(", "))
    if (newObjAgg.nonEmpty)
      println("[plan-audit] UNACKNOWLEDGED object aggregates (review the " +
        s"bound, then add to objectAggAcknowledged): " +
        newObjAgg.toSeq.sorted.mkString(", "))
    if (staleObjAgg.nonEmpty)
      println("[plan-audit] STALE object-aggregate acknowledgements: " +
        staleObjAgg.toSeq.sorted.mkString(", "))
    val (newUnpartWin, staleUnpartWin) =
      objectAggDrift(unpartWin.toSet, unpartWindowAcknowledged.keySet)
    println(s"[plan-audit] ${unpartWin.size} queries with unpartitioned " +
      s"windows (acknowledged ${unpartWindowAcknowledged.size}): " +
      unpartWin.reverse.sorted.mkString(", "))
    if (newUnpartWin.nonEmpty)
      println("[plan-audit] UNACKNOWLEDGED unpartitioned windows (review " +
        "the frame bound, then add to unpartWindowAcknowledged with the " +
        "reason): " + newUnpartWin.toSeq.sorted.mkString(", "))
    if (staleUnpartWin.nonEmpty)
      println("[plan-audit] STALE unpartitioned-window acknowledgements: " +
        staleUnpartWin.toSeq.sorted.mkString(", "))
    println(s"[plan-audit] ${SparkEntry.registry.size} queries, " +
      s"$reviewed allowlisted quadratic shapes, ${bad.size} violations")
    bad.reverse.foreach { case (n, h) => println(s"[plan-audit] BAD $n: $h") }
    val stale = allowed.keySet -- SparkEntry.registry.map(_.name).toSet
    if (stale.nonEmpty)
      println(s"[plan-audit] STALE allowlist entries: ${stale.mkString(", ")}")
    spark.stop()
    // stale entries fail too: a dead entry can silently mask a future
    // real violation under a reused query name
    if (bad.nonEmpty || stale.nonEmpty ||
      newObjAgg.nonEmpty || staleObjAgg.nonEmpty ||
      newUnpartWin.nonEmpty || staleUnpartWin.nonEmpty) sys.exit(1)
  }
}
