package graft.queries

import graft.Tables
import graft.ops.{Analytics, Embeddings, Stats, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distribution-statistics governance queries: PSI drift, Gini/Lorenz
  * activity concentration, Kaplan-Meier conversion survival. Oracles
  * replay the statistic exactly — quantile edges via `quantile_cont`,
  * rank sums via the same histogram decomposition, and the KM product
  * via a recursive CTE that matches the Spark fold bit-for-bit before
  * the 6dp output rounding (see [[graft.ops.Stats]]).
  */
object StatsQueries {

  /** PSI of the event `value` distribution, baseline = the stream
    * before 2024-01-15 (the same pivot as `ev_impact_welch` — detect
    * with CUSUM, quantify with Welch-t, grade the whole-distribution
    * shift with PSI), 10 baseline-decile bands.
    */
  private def evPsiValueDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Stats.psiDrift(ev, col("value"),
      col("ts") < lit("2024-01-15").cast("timestamp"), bins = 10)
  }

  private val evPsiValueDriftSql =
    """WITH e AS (SELECT round(value, 6) AS v,
      |                  ts < TIMESTAMP '2024-01-15' AS isb FROM events),
      |ed AS (SELECT list_transform(
      |         quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |         x -> round(x, 6)) AS edges
      |       FROM e WHERE isb),
      |b AS (SELECT CAST(1 + list_sum(list_transform(ed.edges,
      |               t -> CASE WHEN e.v > t THEN 1 ELSE 0 END)) AS INT)
      |               AS bin,
      |             e.isb
      |      FROM e CROSS JOIN ed),
      |c AS (SELECT bin, count(*) FILTER (isb) AS cnt_base,
      |             count(*) FILTER (NOT isb) AS cnt_cur
      |      FROM b GROUP BY 1),
      |sp AS (SELECT CAST(unnest(range(1, 11)) AS INT) AS bin),
      |cells AS (
      |  SELECT sp.bin,
      |         CASE WHEN sp.bin > 1 THEN ed.edges[sp.bin - 1] END AS lo,
      |         CASE WHEN sp.bin < 10 THEN ed.edges[sp.bin] END AS hi,
      |         CAST(coalesce(c.cnt_base, 0) AS BIGINT) AS cnt_base,
      |         CAST(coalesce(c.cnt_cur, 0) AS BIGINT) AS cnt_cur
      |  FROM sp LEFT JOIN c USING (bin) CROSS JOIN ed),
      |t AS (SELECT CAST(sum(cnt_base) AS DOUBLE) AS tb,
      |             CAST(sum(cnt_cur) AS DOUBLE) AS tc FROM cells),
      |x AS (SELECT bin, lo, hi, cnt_base, cnt_cur,
      |             (cnt_base + 0.5) / (tb + 5.0) AS pb,
      |             (cnt_cur + 0.5) / (tc + 5.0) AS pc
      |      FROM cells CROSS JOIN t),
      |x2 AS (SELECT bin, lo, hi, cnt_base, cnt_cur, pb, pc,
      |              (pc - pb) * ln(pc / pb) AS cx FROM x),
      |ps AS (SELECT sum(cx) AS psi FROM x2)
      |SELECT bin, lo, hi, cnt_base, cnt_cur,
      |       round(pb, 6) AS p_base, round(pc, 6) AS p_cur,
      |       round(cx, 6) AS contrib, round(ps.psi, 6) AS psi
      |FROM x2 CROSS JOIN ps""".stripMargin

  /** Gini + top-1%/top-10% share of events per user — the activity-
    * concentration audit behind bot triage and per-key skew planning.
    */
  private def evGiniUsers(s: SparkSession, dir: String): DataFrame =
    Stats.giniConcentration(Tables.events(s, dir), col("user_id"))

  private val evGiniUsersSql =
    """WITH k AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      |h AS (SELECT c, count(*) AS m FROM k GROUP BY 1),
      |t AS (SELECT CAST(sum(m) AS BIGINT) AS n,
      |             CAST(sum(c * m) AS BIGINT) AS tt FROM h),
      |r AS (SELECT c, m,
      |        CAST(coalesce(sum(m) OVER (ORDER BY c ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS below,
      |        CAST(coalesce(sum(m) OVER (ORDER BY c DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS above
      |      FROM h),
      |a AS (SELECT
      |        CAST(sum(c * (m * below + m * (m + 1) // 2)) AS BIGINT) AS s,
      |        CAST(sum(c * greatest(0, least(m,
      |          CAST(ceil(t.n / 100.0) AS BIGINT) - above))) AS BIGINT)
      |          AS top1,
      |        CAST(sum(c * greatest(0, least(m,
      |          CAST(ceil(t.n / 10.0) AS BIGINT) - above))) AS BIGINT)
      |          AS top10
      |      FROM r CROSS JOIN t)
      |SELECT t.n AS n_keys, t.tt AS total,
      |       round(2.0 * a.s / (t.n * t.tt) - (t.n + 1.0) / t.n, 6)
      |         AS gini,
      |       round(CAST(a.top1 AS DOUBLE) / t.tt, 6) AS top1_pct_share,
      |       round(CAST(a.top10 AS DOUBLE) / t.tt, 6) AS top10_pct_share
      |FROM a CROSS JOIN t""".stripMargin

  /** Kaplan-Meier signup→purchase conversion survival in whole days:
    * subjects are `ev_time_to_conversion`'s per-user table (the two ops
    * compose); never-converted users are right-censored at the last
    * observed day of the stream. On this dense synthetic stream every
    * user converts, so `censored` is all-zero here — the censored path
    * is exercised by the spec's planted fixture; the registry row gates
    * the risk-set/fold arithmetic.
    */
  private def evSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val conv = Analytics.timeToConversion(ev, "user_id", "ts",
      "event_type", "signup", "purchase")
    val maxDay = ev.agg(max(to_date(col("ts"))).as("__md"))
    val subjects = conv.crossJoin(broadcast(maxDay))
      .select(
        when(col("to_ts").isNull,
          datediff(col("__md"), to_date(col("from_ts"))))
          .otherwise(datediff(to_date(col("to_ts")),
            to_date(col("from_ts")))).as("dur"),
        col("to_ts").isNull.as("censored"))
    Stats.kaplanMeier(subjects, col("dur"), col("censored"))
  }

  private val evSurvivalKmSql =
    """WITH RECURSIVE s AS (
      |  SELECT user_id, min(ts) AS from_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS to_ts
      |      FROM events e JOIN s ON s.user_id = e.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts >= s.from_ts
      |      GROUP BY 1),
      |mx AS (SELECT max(CAST(ts AS DATE)) AS md FROM events),
      |subj AS (
      |  SELECT CAST(CASE WHEN c.to_ts IS NULL
      |           THEN datediff('day', CAST(s.from_ts AS DATE), mx.md)
      |           ELSE datediff('day', CAST(s.from_ts AS DATE),
      |                         CAST(c.to_ts AS DATE)) END AS BIGINT)
      |           AS dur,
      |         c.to_ts IS NULL AS cen
      |  FROM s LEFT JOIN c USING (user_id) CROSS JOIN mx),
      |g AS (SELECT dur,
      |             CAST(count(*) FILTER (NOT cen) AS BIGINT) AS deaths,
      |             CAST(count(*) FILTER (cen) AS BIGINT) AS censored
      |      FROM subj GROUP BY 1),
      |rsk AS (SELECT dur, deaths, censored,
      |          CAST(sum(deaths + censored) OVER (ORDER BY dur ASC
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |            AS BIGINT) AS at_risk,
      |          row_number() OVER (ORDER BY dur ASC) AS rn
      |        FROM g),
      |km AS (
      |  SELECT rn, dur, deaths, censored, at_risk,
      |         CAST(at_risk - deaths AS DOUBLE) / at_risk AS sv
      |  FROM rsk WHERE rn = 1
      |  UNION ALL
      |  SELECT r.rn, r.dur, r.deaths, r.censored, r.at_risk,
      |         km.sv * (CAST(r.at_risk - r.deaths AS DOUBLE) / r.at_risk)
      |  FROM km JOIN rsk r ON r.rn = km.rn + 1)
      |SELECT dur, at_risk, deaths, censored, round(sv, 6) AS survival
      |FROM km""".stripMargin

  /** Mutual information between a document's declared language and its
    * source — the metadata-dependence audit (high NMI ⇒ source nearly
    * determines language, so per-source sampling already stratifies by
    * language; ~0 ⇒ the two columns carry independent signal). The
    * oracle mirrors the `ln/ln(2)` float path Spark's `log(2, x)`
    * takes, like the char-entropy oracle.
    */
  private def docMiLangSource(s: SparkSession, dir: String): DataFrame =
    Stats.mutualInformation(Tables.documents(s, dir),
      col("lang"), col("source"))

  private val docMiLangSourceSql =
    """WITH j AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS c
      |           FROM documents GROUP BY 1, 2),
      |m AS (SELECT c,
      |        CAST(sum(c) OVER (PARTITION BY lang) AS DOUBLE) AS cx,
      |        CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE) AS cy
      |      FROM j),
      |a AS (SELECT sum(c) AS n,
      |             sum(c * (ln(c) / ln(2.0))) AS sxy,
      |             sum(c * (ln(cx) / ln(2.0))) AS sx,
      |             sum(c * (ln(cy) / ln(2.0))) AS sy
      |      FROM m)
      |SELECT round(ln(n) / ln(2.0) - sx / n, 6) AS h_x,
      |       round(ln(n) / ln(2.0) - sy / n, 6) AS h_y,
      |       round(ln(n) / ln(2.0) - sxy / n, 6) AS h_xy,
      |       round((ln(n) / ln(2.0) - sx / n) + (ln(n) / ln(2.0) - sy / n)
      |             - (ln(n) / ln(2.0) - sxy / n), 6) AS mi_bits,
      |       CASE WHEN least(round(ln(n) / ln(2.0) - sx / n, 6),
      |                       round(ln(n) / ln(2.0) - sy / n, 6)) = 0.0
      |            THEN NULL
      |            ELSE round(((ln(n) / ln(2.0) - sx / n)
      |                        + (ln(n) / ln(2.0) - sy / n)
      |                        - (ln(n) / ln(2.0) - sxy / n))
      |                       / least(ln(n) / ln(2.0) - sx / n,
      |                               ln(n) / ln(2.0) - sy / n), 6)
      |       END AS nmi
      |FROM a""".stripMargin

  /** Leave-one-source-out quality contribution: the corpus-mean quality
    * delta from removing each source — exact data valuation from one
    * aggregate (see [[graft.ops.Stats.leaveOneOutContribution]]); the
    * per-doc score is `text_quality`'s composite, whose SQL the oracle
    * inlines.
    */
  private def docSourceLooQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Stats.leaveOneOutContribution(
      docs.select(col("source"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("q")),
      col("source"), col("q"))
      .withColumnRenamed("group", "source")
  }

  private val docSourceLooQualitySql =
    """WITH b AS (
      |  SELECT source, trim(text) AS t,
      |    CAST(greatest(length(trim(text)), 1) AS DOUBLE) AS len,
      |    CAST(greatest(length(string_split_regex(lower(trim(text)),
      |      '\s+')), 1) AS DOUBLE) AS ntoks
      |  FROM documents),
      |q AS (SELECT source,
      |  round(((len - length(regexp_replace(t, '[a-zA-Z]', '', 'g')))
      |      / len) * 0.5
      |    + (CASE WHEN length(regexp_replace(t, '\s+', '', 'g')) / ntoks
      |            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.25
      |    + (CASE WHEN length(t) BETWEEN 50 AND 100000
      |            THEN 1.0 ELSE 0.0 END) * 0.25, 6) AS q
      |  FROM b),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |             sum(q) AS t FROM q GROUP BY 1),
      |tt AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nn, sum(t) AS tt
      |       FROM g)
      |SELECT source, g.n_rows,
      |       round(g.t / g.n_rows, 6) AS mean_group,
      |       round(tt.tt / tt.nn, 6) AS corpus_mean,
      |       CASE WHEN tt.nn > g.n_rows
      |            THEN round((tt.tt - g.t) / (tt.nn - g.n_rows), 6)
      |       END AS loo_mean,
      |       CASE WHEN tt.nn > g.n_rows
      |            THEN round(round((tt.tt - g.t) / (tt.nn - g.n_rows), 6)
      |                       - round(tt.tt / tt.nn, 6), 6)
      |       END AS delta
      |FROM g CROSS JOIN tt""".stripMargin

  /** Per-column profile drift of the events table around 2024-01-15:
    * null rates + means (numeric) / mean lengths (string), both sides
    * from ONE conditional pass. See [[graft.ops.Stats.profileDrift]].
    */
  private def dqProfileDriftEvents(s: SparkSession, dir: String): DataFrame =
    Stats.profileDrift(Tables.events(s, dir),
      col("ts") < lit("2024-01-15").cast("timestamp"),
      numCols = Seq("value", "user_id"),
      strCols = Seq("event_type", "props"))

  private val dqProfileDriftEventsSql = {
    def nr(base: String, c: String) =
      s"""round(CAST(count(CASE WHEN $base AND $c IS NULL THEN 1 END)
         |  AS DOUBLE) / count(CASE WHEN $base THEN 1 END), 6)""".stripMargin
    def mean(base: String, e: String) =
      s"round(avg(CASE WHEN $base THEN $e END), 6)"
    def block(c: String, metric: String, e: String) =
      s"""SELECT '$c' AS "column", 'null_rate' AS metric,
         |  ${nr("isb", c)} AS val_base, ${nr("NOT isb", c)} AS val_cur
         |FROM e
         |UNION ALL
         |SELECT '$c', '$metric', ${mean("isb", e)}, ${mean("NOT isb", e)}
         |FROM e""".stripMargin
    val blocks = Seq(
      block("value", "mean", "CAST(value AS DOUBLE)"),
      block("user_id", "mean", "CAST(user_id AS DOUBLE)"),
      block("event_type", "mean_length",
        "CAST(length(event_type) AS DOUBLE)"),
      block("props", "mean_length", "CAST(length(props) AS DOUBLE)"))
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT *, ts < TIMESTAMP '2024-01-15' AS isb
       |           FROM events),
       |u AS ($blocks)
       |SELECT "column", metric, val_base, val_cur,
       |       round(abs(val_cur - val_base), 6) AS abs_delta
       |FROM u""".stripMargin
  }

  /** Poisson-bootstrap 95% CI for the corpus mean document length
    * (200 deterministic replicates) — see
    * [[graft.ops.Stats.poissonBootstrapCi]].
    */
  private def docBootstrapCi(s: SparkSession, dir: String): DataFrame =
    Stats.poissonBootstrapCi(Tables.documents(s, dir), "doc_id",
      "n_chars", b = 200)

  private val docBootstrapCiSql =
    """WITH x AS (SELECT CAST(doc_id AS VARCHAR) AS k,
      |             CAST(n_chars AS DOUBLE) AS x
      |           FROM documents),
      |reps AS (SELECT k, x, r.rep FROM x CROSS JOIN range(1, 201) r(rep)),
      |ws AS (SELECT x, rep,
      |         CASE WHEN u < 0.367879441 THEN 0
      |              WHEN u < 0.735758882 THEN 1
      |              WHEN u < 0.919698603 THEN 2
      |              WHEN u < 0.980988177 THEN 3
      |              WHEN u < 0.996340153 THEN 4
      |              ELSE 5 END AS w
      |       FROM (SELECT x, rep,
      |               (CAST('0x' || substr(md5('bs:' || k || ':' ||
      |                  CAST(rep AS VARCHAR)), 1, 8) AS BIGINT) + 1.0)
      |                 / 4294967296.0 AS u
      |             FROM reps)),
      |m AS (SELECT rep, sum(w * x) / sum(w) AS m FROM ws
      |      GROUP BY 1 HAVING sum(w) > 0),
      |base AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |                round(avg(x), 6) AS mean FROM x)
      |SELECT base.n_rows, base.mean,
      |       CAST(count(*) AS BIGINT) AS n_resamples,
      |       round(quantile_cont(m, 0.025), 6) AS ci_lo,
      |       round(quantile_cont(m, 0.975), 6) AS ci_hi,
      |       round(stddev_samp(m), 6) AS se_boot
      |FROM m CROSS JOIN base GROUP BY 1, 2""".stripMargin

  /** CUPED-adjusted experiment readout over events: units = users,
    * arms = pinned md5 bit, covariate X = pre-2024-01-15 per-user value
    * total, metric Y = post-period total. Every sum the estimate
    * touches is an exact DECIMAL, so the oracle replays θ, the
    * adjusted means, and the ρ² variance reduction bit-for-bit.
    */
  private def evCupedImpact(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Stats.cuped(ev, col("user_id"), col("value"),
      col("ts") < lit("2024-01-15").cast("timestamp"))
  }

  private val evCupedImpactSql =
    """WITH u AS (
      |  SELECT CAST(CAST('0x' || substr(md5('cuped:' ||
      |           CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS INT)
      |           AS arm,
      |         CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
      |           THEN CAST(round(value, 6) AS DECIMAL(38,6)) END), 0)
      |           AS DECIMAL(18,6)) AS x,
      |         CAST(coalesce(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15')
      |           THEN CAST(round(value, 6) AS DECIMAL(38,6)) END), 0)
      |           AS DECIMAL(18,6)) AS y
      |  FROM events GROUP BY user_id, 1),
      |mom AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
      |           AS DOUBLE) AS sxy,
      |         CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
      |           AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
      |           AS DOUBLE) AS syy
      |  FROM u),
      |th AS (
      |  SELECT n, sx / n AS mx,
      |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
      |         ((sxy - sx * sy / n) * (sxy - sx * sy / n)) /
      |           ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS vr
      |  FROM mom),
      |pa AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
      |              CAST(sum(x) AS DOUBLE) AS sxa,
      |              CAST(sum(y) AS DOUBLE) AS sya
      |       FROM u GROUP BY 1),
      |pa2 AS (SELECT arm, n_units, sya / n_units AS my,
      |               sya / n_units - th.theta * (sxa / n_units - th.mx)
      |                 AS madj,
      |               th.theta AS theta, th.vr AS vr
      |        FROM pa CROSS JOIN th),
      |ov AS (SELECT round(max(theta), 6) AS theta,
      |              round(max(CASE WHEN arm = 1 THEN my END) -
      |                    max(CASE WHEN arm = 0 THEN my END), 6) AS diff_raw,
      |              round(max(CASE WHEN arm = 1 THEN madj END) -
      |                    max(CASE WHEN arm = 0 THEN madj END), 6)
      |                AS diff_adj,
      |              round(max(vr), 6) AS var_reduction
      |       FROM pa2)
      |SELECT arm, n_units, round(my, 6) AS mean_y,
      |       round(madj, 6) AS mean_y_adj, ov.theta, ov.diff_raw,
      |       ov.diff_adj, ov.var_reduction
      |FROM pa2 CROSS JOIN ov""".stripMargin

  /** Difference-in-differences on the same pinned split and pivot:
    * the 2×2 (arm × period) cell means and the DiD interaction.
    */
  private def evDidEstimate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Stats.diffInDiff(ev, col("user_id"), col("value"),
      col("ts") < lit("2024-01-15").cast("timestamp"))
  }

  private val evDidEstimateSql =
    """WITH c AS (
      |  SELECT CAST(CAST('0x' || substr(md5('cuped:' ||
      |           CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS INT)
      |           AS arm,
      |         count(*) FILTER (ts < TIMESTAMP '2024-01-15') AS n_pre,
      |         count(*) FILTER (NOT (ts < TIMESTAMP '2024-01-15'))
      |           AS n_post,
      |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
      |             THEN CAST(round(value, 6) AS DECIMAL(38,6)) END)
      |             AS DOUBLE) /
      |           count(*) FILTER (ts < TIMESTAMP '2024-01-15') AS m_pre,
      |         CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15')
      |             THEN CAST(round(value, 6) AS DECIMAL(38,6)) END)
      |             AS DOUBLE) /
      |           count(*) FILTER (NOT (ts < TIMESTAMP '2024-01-15'))
      |           AS m_post
      |  FROM events GROUP BY 1),
      |d AS (SELECT round(
      |        max(CASE WHEN arm = 1 THEN m_post - m_pre END) -
      |        max(CASE WHEN arm = 0 THEN m_post - m_pre END), 6)
      |        AS did_estimate FROM c)
      |SELECT arm, n_pre, n_post, round(m_pre, 6) AS mean_pre,
      |       round(m_post, 6) AS mean_post, d.did_estimate
      |FROM c CROSS JOIN d""".stripMargin

  /** Wald SPRT monitoring view: is the purchase share of arm-B events
    * p1 = 0.21 rather than p0 = 0.19, α = 0.05 / β = 0.10, hourly
    * checkpoints — see [[graft.ops.Stats.sprtMonitor]]. The oracle
    * writes every probability constant as the SAME double expression
    * (e.g. `(1-0.21)/(1-0.19)`, never a pre-simplified `0.79/0.81`,
    * which is a DIFFERENT double) so both engines feed ln identical
    * arguments.
    */
  private def evSprtMonitor(s: SparkSession, dir: String): DataFrame =
    Stats.sprtMonitor(Tables.events(s, dir), col("event_id"), "ts",
      col("event_type") === "purchase", p0 = 0.19, p1 = 0.21,
      alpha = 0.05, beta = 0.10)

  private val evSprtMonitorSql =
    """WITH b AS (
      |  SELECT date_trunc('hour', ts) AS bucket,
      |         CAST(count(*) AS BIGINT) AS trials,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS successes
      |  FROM events
      |  WHERE CAST(CAST('0x' || substr(md5('sprt:' ||
      |          CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS INT)
      |          = 1
      |  GROUP BY 1),
      |c AS (
      |  SELECT bucket, trials, successes,
      |         CAST(sum(trials) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
      |         CAST(sum(successes) OVER (ORDER BY bucket) AS BIGINT)
      |           AS cum_k
      |  FROM b)
      |SELECT bucket, trials, successes, cum_n, cum_k,
      |       round(CAST(cum_k AS DOUBLE) / cum_n, 6) AS cum_rate,
      |       round(cum_k * ln(0.21 / 0.19) +
      |             (cum_n - cum_k) * ln((1 - 0.21) / (1 - 0.19)), 6)
      |         AS llr,
      |       CASE WHEN round(cum_k * ln(0.21 / 0.19) +
      |                 (cum_n - cum_k) * ln((1 - 0.21) / (1 - 0.19)), 6)
      |                 >= round(ln((1 - 0.10) / 0.05), 6)
      |              THEN 'accept_h1'
      |            WHEN round(cum_k * ln(0.21 / 0.19) +
      |                 (cum_n - cum_k) * ln((1 - 0.21) / (1 - 0.19)), 6)
      |                 <= round(ln(0.10 / (1 - 0.05)), 6)
      |              THEN 'accept_h0'
      |            ELSE 'continue' END AS state
      |FROM c""".stripMargin

  /** Empirical-Bayes shrinkage of per-source mean document length —
    * see [[graft.ops.Stats.jamesSteinShrink]].
    */
  private def docShrunkSourceMeans(s: SparkSession,
                                   dir: String): DataFrame =
    Stats.jamesSteinShrink(Tables.documents(s, dir), col("source"),
      col("n_chars"))

  private val docShrunkSourceMeansSql =
    """WITH grp AS (
      |  SELECT source AS h, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(round(n_chars, 6) AS DECIMAL(38,6)))
      |           AS DECIMAL(18,6)) AS sx,
      |         sum(CAST(CAST(round(n_chars, 6) AS DECIMAL(19,6)) *
      |           CAST(round(n_chars, 6) AS DECIMAL(19,6))
      |           AS DECIMAL(38,12))) AS sxx
      |  FROM documents GROUP BY 1),
      |gtot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn,
      |         CAST(count(*) AS BIGINT) AS k,
      |         CAST(sum(sx) AS DOUBLE) AS sxtot,
      |         CAST(sum(CAST(round((CAST(sxx AS DOUBLE) -
      |           CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) * 1e6)
      |           AS BIGINT)) AS BIGINT) AS wss6,
      |         CAST(sum(CAST(round((CAST(1 AS DOUBLE) / n) * 1e12)
      |           AS BIGINT)) AS BIGINT) AS inv12
      |  FROM grp),
      |g2 AS (SELECT nn, k, sxtot / nn AS gm,
      |         CAST(wss6 AS DOUBLE) / 1e6 / (nn - k) AS sigma2,
      |         CAST(inv12 AS DOUBLE) / 1e12 / k AS avginv
      |       FROM gtot),
      |bv AS (SELECT CAST(sum(CAST(round(
      |         (CAST(sx AS DOUBLE) / n - gm) *
      |         (CAST(sx AS DOUBLE) / n - gm) * 1e12) AS BIGINT))
      |         AS BIGINT) AS bv12
      |       FROM grp CROSS JOIN g2),
      |g3 AS (SELECT gm, sigma2, k,
      |         greatest(0.0, CAST(bv12 AS DOUBLE) / 1e12 / (k - 1) -
      |           sigma2 * avginv) AS tau2
      |       FROM g2 CROSS JOIN bv)
      |SELECT h AS grp, n, round(CAST(sx AS DOUBLE) / n, 6) AS raw_mean,
      |       round(CASE WHEN tau2 = 0 THEN 0.0
      |         ELSE tau2 / (tau2 + sigma2 / n) END, 6) AS weight,
      |       round(gm + CASE WHEN tau2 = 0 THEN 0.0
      |         ELSE tau2 / (tau2 + sigma2 / n) END *
      |         (CAST(sx AS DOUBLE) / n - gm), 6) AS shrunk_mean,
      |       round(sigma2, 6) AS sigma2, round(tau2, 6) AS tau2
      |FROM grp CROSS JOIN g3""".stripMargin

  /** Day-part uplift readout of the same pinned event-level experiment
    * as `ev_sprt_monitor` — see [[graft.ops.Stats.upliftBySegment]].
    */
  private def evUpliftDaypart(s: SparkSession, dir: String): DataFrame =
    Stats.upliftBySegment(Tables.events(s, dir), col("event_id"),
      floor(hour(col("ts")) / 6).cast("int"),
      col("event_type") === "purchase")

  private val evUpliftDaypartSql =
    """WITH e AS (
      |  SELECT CAST(floor(hour(ts) / 6) AS INT) AS segment,
      |         CAST(CAST('0x' || substr(md5('sprt:' ||
      |           CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % 2
      |           AS INT) AS arm,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
      |  FROM events),
      |c AS (SELECT segment,
      |        CAST(coalesce(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0)
      |          AS BIGINT) AS n_a,
      |        CAST(coalesce(sum(CASE WHEN arm = 0 THEN s ELSE 0 END), 0)
      |          AS BIGINT) AS k_a,
      |        CAST(coalesce(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0)
      |          AS BIGINT) AS n_b,
      |        CAST(coalesce(sum(CASE WHEN arm = 1 THEN s ELSE 0 END), 0)
      |          AS BIGINT) AS k_b
      |      FROM e GROUP BY 1)
      |SELECT segment, n_a, k_a, n_b, k_b,
      |       CASE WHEN n_a = 0 THEN NULL
      |            ELSE round(CAST(k_a AS DOUBLE) / n_a, 6) END AS rate_a,
      |       CASE WHEN n_b = 0 THEN NULL
      |            ELSE round(CAST(k_b AS DOUBLE) / n_b, 6) END AS rate_b,
      |       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
      |            ELSE round(CAST(k_b AS DOUBLE) / n_b -
      |                       CAST(k_a AS DOUBLE) / n_a, 6) END AS uplift
      |FROM c""".stripMargin

  /** Two-sample KS drift of the event `value` distribution across the
    * same pre/post pivot as PSI — see [[graft.ops.Stats.ksDrift]].
    */
  /** Two-component Gaussian mixture fit of the event value
    * distribution (3 EM steps, pinned init) — is there a second
    * population hiding under the single-mode stats. See
    * [[graft.ops.Stats.gmm2Em]].
    */
  private def evGmm2Value(s: SparkSession, dir: String): DataFrame =
    Stats.gmm2Em(Tables.events(s, dir), col("value"), iters = 3)

  private val evGmm2ValueSql = {
    val iter = (i: Int) => {
      val p = s"p${i - 1}"
      s"""m$i AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(r6) AS HUGEINT) AS sr,
         |    CAST(sum(CAST(round(r6 * x * 1e3) AS HUGEINT)) AS HUGEINT)
         |      AS sx1,
         |    CAST(sum(CAST(round(r6 * x * x) AS HUGEINT)) AS HUGEINT)
         |      AS sxx1,
         |    CAST(sum(CAST(round((1000000 - r6) * x * 1e3) AS HUGEINT))
         |      AS HUGEINT) AS sx2,
         |    CAST(sum(CAST(round((1000000 - r6) * x * x) AS HUGEINT))
         |      AS HUGEINT) AS sxx2
         |  FROM (SELECT x, CAST(round(CASE WHEN p1d + p2d > 0
         |          THEN p1d / (p1d + p2d) ELSE 0.5 END * 1e6) AS BIGINT)
         |          AS r6
         |        FROM (SELECT x,
         |                w1 * exp((x - mu1) * (x - mu1) / (-2.0 * s1)) /
         |                  sqrt(s1) AS p1d,
         |                (1.0 - w1) * exp((x - mu2) * (x - mu2) /
         |                  (-2.0 * s2)) / sqrt(s2) AS p2d
         |              FROM xs CROSS JOIN $p))),
         |p$i AS (
         |  SELECT round(CAST(sr AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * 1e6), 6) AS w1,
         |    round(CAST(sx1 AS DOUBLE) /
         |      (1e3 * greatest(CAST(sr AS DOUBLE), 1.0)), 6) AS mu1,
         |    round(CAST(sx2 AS DOUBLE) /
         |      (1e3 * greatest(CAST(CAST(n AS HUGEINT) * 1000000 - sr
         |        AS DOUBLE), 1.0)), 6) AS mu2,
         |    round(greatest(CAST(sxx1 AS DOUBLE) /
         |        greatest(CAST(sr AS DOUBLE), 1.0) - mu1 * mu1,
         |      0.000001), 6) AS s1,
         |    round(greatest(CAST(sxx2 AS DOUBLE) /
         |        greatest(CAST(CAST(n AS HUGEINT) * 1000000 - sr
         |          AS DOUBLE), 1.0) - mu2 * mu2,
         |      0.000001), 6) AS s2
         |  FROM m$i)""".stripMargin
    }
    s"""WITH xs AS (SELECT CAST(value AS DOUBLE) AS x FROM events
       |            WHERE value IS NOT NULL),
       |p0 AS (
       |  SELECT 0.5 AS w1,
       |    round(mn + (mx - mn) / 4.0, 6) AS mu1,
       |    round(mn + (mx - mn) * 3.0 / 4.0, 6) AS mu2,
       |    round(greatest((mx - mn) / 4.0 * ((mx - mn) / 4.0),
       |      0.000001), 6) AS s1,
       |    round(greatest((mx - mn) / 4.0 * ((mx - mn) / 4.0),
       |      0.000001), 6) AS s2
       |  FROM (SELECT min(x) AS mn, max(x) AS mx FROM xs)),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT w1, mu1, round(sqrt(s1), 6) AS sigma1,
       |       1.0 - w1 AS w2, mu2, round(sqrt(s2), 6) AS sigma2
       |FROM p3""".stripMargin
  }

  /** Earth-mover drift of `value` across the same pre/post pivot as
    * PSI and KS — mass moved × distance moved, in value units. See
    * [[graft.ops.Stats.emdDrift]].
    */
  private def evEmdDrift(s: SparkSession, dir: String): DataFrame =
    Stats.emdDrift(Tables.events(s, dir), col("value"),
      col("ts") < lit("2024-01-15").cast("timestamp"))

  private val evEmdDriftSql =
    """WITH h AS (SELECT round(value, 6) AS v,
      |         CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1,
      |         CAST(coalesce(sum(CASE WHEN NOT (ts < TIMESTAMP
      |           '2024-01-15') THEN 1 ELSE 0 END), 0) AS BIGINT) AS c2
      |       FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |             CAST(sum(c2) AS BIGINT) AS n2 FROM h),
      |g AS (SELECT n1, n2,
      |        CAST(round(abs(CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE)
      |            / n1 -
      |          CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) / n2) *
      |          (lead(v) OVER (ORDER BY v) - v) * 1000000000.0)
      |          AS BIGINT) AS t9
      |      FROM h CROSS JOIN t),
      |m AS (SELECT max(n1) AS n1, max(n2) AS n2,
      |        CAST(sum(t9) AS BIGINT) AS s9 FROM g)
      |SELECT n1, n2, round(CAST(s9 AS DOUBLE) / 1000000000.0, 6) AS emd
      |FROM m""".stripMargin

  private def evKsDrift(s: SparkSession, dir: String): DataFrame =
    Stats.ksDrift(Tables.events(s, dir), col("value"),
      col("ts") < lit("2024-01-15").cast("timestamp"))

  private val evKsDriftSql =
    """WITH h AS (SELECT round(value, 6) AS v,
      |         CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1,
      |         CAST(coalesce(sum(CASE WHEN NOT (ts < TIMESTAMP
      |           '2024-01-15') THEN 1 ELSE 0 END), 0) AS BIGINT) AS c2
      |       FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |             CAST(sum(c2) AS BIGINT) AS n2 FROM h),
      |g AS (SELECT abs(CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) / n1 -
      |             CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) / n2)
      |        AS gap, n1, n2
      |      FROM h CROSS JOIN t),
      |m AS (SELECT max(n1) AS n1, max(n2) AS n2, max(gap) AS d FROM g)
      |SELECT n1, n2, round(d, 6) AS ks_d,
      |       round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)), 6)
      |         AS crit_05,
      |       round(d, 6) >
      |         round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)), 6)
      |         AS reject_05
      |FROM m""".stripMargin

  /** Cliff's delta for click-vs-view values — the effect size beside
    * `ev_mannwhitney_u`'s significance: HOW MUCH one distribution
    * dominates, scale-free, with the Romano magnitude label. See
    * [[graft.ops.Stats.cliffsDelta]].
    */
  private def evCliffsDelta(s: SparkSession, dir: String): DataFrame =
    Stats.cliffsDelta(
      Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view")),
      col("value"), col("event_type") === "click")

  private val evCliffsDeltaSql =
    """WITH h AS (SELECT round(value, 6) AS v,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'click'
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'view'
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS c2
      |       FROM events WHERE event_type IN ('click', 'view')
      |       GROUP BY 1),
      |cum AS (SELECT c1, c2,
      |          sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c1
      |            AS below1,
      |          sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c2
      |            AS below2
      |        FROM h),
      |a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |        CAST(sum(c2) AS BIGINT) AS n2,
      |        CAST(sum(CAST(c1 AS HUGEINT) * below2) AS HUGEINT) AS gt,
      |        CAST(sum(CAST(c2 AS HUGEINT) * below1) AS HUGEINT) AS lt
      |      FROM cum),
      |f AS (SELECT n1, n2,
      |        CASE WHEN n1 > 0 AND n2 > 0 THEN
      |          CAST(round((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE)) /
      |            (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) * 1000000.0)
      |            AS BIGINT) END AS delta6
      |      FROM a)
      |SELECT n1, n2, delta6,
      |       CASE WHEN delta6 IS NULL THEN NULL
      |            WHEN abs(delta6) < 147000 THEN 'negligible'
      |            WHEN abs(delta6) < 330000 THEN 'small'
      |            WHEN abs(delta6) < 474000 THEN 'medium'
      |            ELSE 'large' END AS magnitude
      |FROM f""".stripMargin

  /** Kruskal–Wallis H across ALL event types' value distributions —
    * the k-sample rank test beside `ev_mannwhitney_u`'s two-sample one:
    * "does ANY event type's value distribution sit elsewhere", robust
    * to heavy tails. χ²(k−1) critical at α=.05 for the 5-type events
    * table = 9.487729 (pinned literal — H is compared, never a p-value
    * integral). See [[graft.ops.Stats.kruskalWallis]].
    */
  private def evKruskalWallis(s: SparkSession, dir: String): DataFrame =
    Stats.kruskalWallis(Tables.events(s, dir), col("value"),
      col("event_type"), critValue = 9.487729)

  private val evKruskalWallisSql =
    """WITH h AS (SELECT round(value, 6) AS v, event_type AS g,
      |             CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY 1, 2),
      |dv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM h GROUP BY 1),
      |db AS (SELECT v, t,
      |         CAST(coalesce(sum(t) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS below
      |       FROM dv),
      |pg AS (SELECT h.g, CAST(sum(h.c) AS BIGINT) AS ng,
      |         CAST(sum(CAST(h.c AS HUGEINT) * (2 * db.below + db.t + 1))
      |           AS HUGEINT) AS r2x
      |       FROM h JOIN db ON db.v = h.v GROUP BY 1),
      |ties AS (SELECT CAST(sum(t) AS HUGEINT) AS n,
      |           CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
      |             AS ties3
      |         FROM dv),
      |terms AS (SELECT count(*) AS n_groups,
      |            CAST(sum(CAST(round(CAST(r2x AS DOUBLE) *
      |              CAST(r2x AS DOUBLE) / (4.0 * CAST(ng AS DOUBLE))
      |              * 1000000.0) AS HUGEINT)) AS HUGEINT) AS s6
      |          FROM pg),
      |f AS (SELECT n_groups, CAST(ties.n AS BIGINT) AS n,
      |        (12.0 / (CAST(ties.n AS DOUBLE) * (CAST(ties.n AS DOUBLE)
      |           + 1)) * (CAST(s6 AS DOUBLE) / 1000000.0)
      |         - 3.0 * (CAST(ties.n AS DOUBLE) + 1)) /
      |        (1.0 - CAST(ties3 AS DOUBLE) /
      |          (CAST(ties.n AS DOUBLE) * CAST(ties.n AS DOUBLE) *
      |           CAST(ties.n AS DOUBLE) - CAST(ties.n AS DOUBLE)))
      |          AS h_raw,
      |        1.0 - CAST(ties3 AS DOUBLE) /
      |          (CAST(ties.n AS DOUBLE) * CAST(ties.n AS DOUBLE) *
      |           CAST(ties.n AS DOUBLE) - CAST(ties.n AS DOUBLE)) AS corr
      |      FROM terms CROSS JOIN ties)
      |SELECT n_groups, n,
      |       CASE WHEN n_groups >= 2 AND corr > 0
      |            THEN round(h_raw, 6) END AS h_stat,
      |       CASE WHEN n_groups >= 2 AND corr > 0
      |            THEN round(h_raw, 6) > 9.487729 END AS reject
      |FROM f""".stripMargin

  /** Mann-Whitney U comparing the `value` distribution of click vs view
    * events — the rank-based two-sample test beside `ev_impact_welch`'s
    * mean-based one: robust to the heavy tails event values carry. The
    * oracle replays the identical histogram decomposition (doubled
    * integer rank sums, tie-corrected σ), so agreement is exact up to
    * the shared 6dp output rounding. See
    * [[graft.ops.Stats.mannWhitneyU]].
    */
  private def evMannWhitneyU(s: SparkSession, dir: String): DataFrame =
    Stats.mannWhitneyU(
      Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view")),
      col("value"), col("event_type") === "click")

  private val evMannWhitneyUSql =
    """WITH h AS (SELECT round(value, 6) AS v,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'click'
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'view'
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS c2
      |       FROM events WHERE event_type IN ('click', 'view')
      |       GROUP BY 1),
      |c AS (SELECT c1, c1 + c2 AS t,
      |             sum(c1 + c2) OVER (ORDER BY v) - (c1 + c2) AS below
      |      FROM h),
      |a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |             CAST(sum(t - c1) AS BIGINT) AS n2,
      |             CAST(sum(c1 * (2 * below + t + 1)) AS HUGEINT) AS r1x2,
      |             CAST(sum(t * t * t - t) AS HUGEINT) AS ties3
      |      FROM c)
      |SELECT n1, n2,
      |  round((CAST(r1x2 AS DOUBLE) -
      |    CAST(n1 AS DOUBLE) * (n1 + 1)) / 2, 6) AS u1,
      |  round(CAST(n1 AS DOUBLE) * n2 / 2, 6) AS mu_u,
      |  round(sqrt(CAST(n1 AS DOUBLE) * n2 / 12 *
      |    (CAST(n1 + n2 AS DOUBLE) + 1 - CAST(ties3 AS DOUBLE) /
      |      (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1)))),
      |    6) AS sigma_u,
      |  round(((CAST(r1x2 AS DOUBLE) -
      |      CAST(n1 AS DOUBLE) * (n1 + 1) -
      |      CAST(n1 AS DOUBLE) * n2) / 2) /
      |    sqrt(CAST(n1 AS DOUBLE) * n2 / 12 *
      |      (CAST(n1 + n2 AS DOUBLE) + 1 - CAST(ties3 AS DOUBLE) /
      |        (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1)))),
      |    6) AS z
      |FROM a""".stripMargin

  /** Histogram-based split finding (the LightGBM inner loop) over
    * every embedding dimension against the one-vs-rest target
    * label == 3, 32 equal-width bins: per dimension, the threshold
    * with the largest exact Gini-impurity decrease — which dimensions
    * carry label signal, and where to cut them. See
    * [[graft.ops.Embeddings.histSplitFinding]].
    */
  private def embHistSplit(s: SparkSession, dir: String): DataFrame =
    Embeddings.histSplitFinding(Tables.embeddings(s, dir),
      "vec_id", "embedding", col("label") === 3, bins = 32)

  private val embHistSplitSql =
    """WITH v AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
      |    unnest(embedding)::DOUBLE AS x,
      |    CASE WHEN label = 3 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings),
      |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM v GROUP BY 1),
      |b AS (SELECT v.dim, v.pos,
      |    CASE WHEN st.mx > st.mn THEN least(CAST(floor(
      |        (v.x - st.mn) / (st.mx - st.mn) * 32) AS INT), 31)
      |      ELSE 0 END AS bin
      |  FROM v JOIN st USING (dim)),
      |cells AS (SELECT dim, bin, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(pos) AS BIGINT) AS np
      |  FROM b GROUP BY 1, 2),
      |cum AS (SELECT dim, bin,
      |    CAST(sum(n) OVER (PARTITION BY dim ORDER BY bin) AS BIGINT) AS nl,
      |    CAST(sum(np) OVER (PARTITION BY dim ORDER BY bin) AS BIGINT) AS pl,
      |    CAST(sum(n) OVER (PARTITION BY dim) AS BIGINT) AS nt,
      |    CAST(sum(np) OVER (PARTITION BY dim) AS BIGINT) AS pt
      |  FROM cells),
      |cand AS (SELECT dim, bin, nl, pl, nt - nl AS nr, pt - pl AS pr,
      |    nt, pt,
      |    2.0 * pt * (nt - pt) / (CAST(nt AS DOUBLE) * nt) -
      |    2.0 * pl * (nl - pl) / (CAST(nl AS DOUBLE) * nt) -
      |    2.0 * (pt - pl) * ((nt - nl) - (pt - pl)) /
      |      (CAST(nt - nl AS DOUBLE) * nt) AS gain
      |  FROM cum WHERE nl > 0 AND nt - nl > 0),
      |best AS (SELECT *, row_number() OVER
      |    (PARTITION BY dim ORDER BY gain DESC, bin) AS rn FROM cand)
      |SELECT best.dim,
      |  CAST(round((st.mn + (bin + 1) * (st.mx - st.mn) / 32) * 1000000.0)
      |    AS BIGINT) AS split_x6,
      |  nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right,
      |  CAST(round(gain * 1000000.0) AS BIGINT) AS gain6
      |FROM best JOIN st ON best.dim = st.dim WHERE rn = 1""".stripMargin

  /** Spearman rank correlation between daily click volume and daily
    * purchase volume — "do high-click days rank as high-purchase
    * days", robust to the volume spikes that drive Pearson. Aggregate-
    * first: the corpus collapses to per-day counts before the ranking
    * windows, so the global sorts run over the calendar, never rows.
    * See [[graft.ops.Stats.spearmanCorr]].
    */
  private def evSpearmanDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    Stats.spearmanCorr(daily, col("x"), col("y"))
  }

  private val evSpearmanDailySql =
    """WITH d AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |r AS (SELECT
      |    2 * rank() OVER (ORDER BY x) +
      |      count(*) OVER (PARTITION BY x) - 1 AS rx,
      |    2 * rank() OVER (ORDER BY y) +
      |      count(*) OVER (PARTITION BY y) - 1 AS ry
      |  FROM d),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(rx * ry) AS HUGEINT) AS sxy,
      |    CAST(sum(rx) AS HUGEINT) AS sx,
      |    CAST(sum(ry) AS HUGEINT) AS sy,
      |    CAST(sum(rx * rx) AS HUGEINT) AS sxx,
      |    CAST(sum(ry * ry) AS HUGEINT) AS syy
      |  FROM r)
      |SELECT n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |       CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
      |FROM a""".stripMargin

  /** Cramér's V between event type and day-of-week — see
    * [[graft.ops.Stats.cramersV]]. Day-of-week via integer epoch-day
    * mod 7 (0 = Thursday), never engine week functions.
    */
  private def evCramersV(s: SparkSession, dir: String): DataFrame =
    Stats.cramersV(Tables.events(s, dir), col("event_type"),
      pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        lit(7)))

  private val evCramersVSql =
    """WITH cells AS (
      |  SELECT event_type AS x,
      |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
      |           AS y,
      |         CAST(count(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1, 2),
      |rx AS (SELECT x, CAST(sum(o) AS BIGINT) AS nx
      |       FROM cells GROUP BY 1),
      |cy AS (SELECT y, CAST(sum(o) AS BIGINT) AS ny
      |       FROM cells GROUP BY 1),
      |tt AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
      |dims AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM rx) AS r,
      |                (SELECT CAST(count(*) AS BIGINT) FROM cy) AS c),
      |grid AS (SELECT rx.x, cy.y, rx.nx, cy.ny,
      |           coalesce(cells.o, 0) AS o, tt.nn
      |         FROM rx CROSS JOIN cy
      |         LEFT JOIN cells USING (x, y) CROSS JOIN tt),
      |s AS (SELECT CAST(sum(CAST(round(
      |        (o - CAST(nx AS DOUBLE) * ny / nn) *
      |        (o - CAST(nx AS DOUBLE) * ny / nn) /
      |        (CAST(nx AS DOUBLE) * ny / nn) * 1e9) AS BIGINT))
      |        AS BIGINT) AS s9
      |      FROM grid)
      |SELECT tt.nn AS n, dims.r, dims.c,
      |       round(CAST(s9 AS DOUBLE) / 1e9, 6) AS chi2,
      |       round(sqrt(CAST(s9 AS DOUBLE) / 1e9 /
      |         (tt.nn * (least(dims.r, dims.c) - 1))), 6) AS cramers_v
      |FROM s CROSS JOIN tt CROSS JOIN dims""".stripMargin

  /** Pairwise Pearson correlation matrix over the four lineitem
    * numeric measures — one combinable pass, exact decimal moments.
    */
  private def liCorrMatrix(s: SparkSession, dir: String): DataFrame =
    Stats.corrMatrix(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  private val liCorrMatrixSql = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val b = cols.map(c =>
      s"CAST(round($c, 6) AS DECIMAL(18,6)) AS $c").mkString(", ")
    val moms = (Seq("CAST(count(*) AS DOUBLE) AS n") ++
      cols.flatMap(c => Seq(
        s"CAST(sum($c) AS DOUBLE) AS s_$c",
        s"CAST(sum(CAST($c AS DECIMAL(19,6)) * CAST($c AS DECIMAL(19,6))) AS DOUBLE) AS ss_$c")) ++
      (for { i <- cols.indices; j <- cols.indices if i < j }
        yield s"CAST(sum(CAST(${cols(i)} AS DECIMAL(19,6)) * CAST(${cols(j)} AS DECIMAL(19,6))) AS DOUBLE) AS sp_${cols(i)}_${cols(j)}"))
      .mkString(",\n       ")
    val rows = (for { i <- cols.indices; j <- cols.indices if i < j } yield {
      val (a, c) = (cols(i), cols(j))
      s"SELECT '$a' AS col_x, '$c' AS col_y, round((sp_${a}_$c - s_$a * s_$c / n) / sqrt((ss_$a - s_$a * s_$a / n) * (ss_$c - s_$c * s_$c / n)), 6) AS pearson_r FROM m"
    }).mkString("\nUNION ALL\n")
    s"WITH b AS (SELECT $b FROM lineitem),\nm AS (SELECT $moms FROM b)\n$rows"
  }

  /** ROC-AUC of "cosine to the label-0 centroid" as a one-vs-rest
    * label-0 detector — the threshold-free companion of the
    * confusion-matrix evals (`emb_centroid_classifier`, `emb_knn_*`):
    * does the geometric score RANK label-0 vectors above the rest,
    * regardless of any cut? See [[graft.ops.Stats.rocAuc]]. The
    * centroid is the 6dp-rounded label-0 dimension means collected as
    * a literal (the pinned-IVF bounded-collect pattern), so the score
    * is scan-side codegen (`cosine_sim`) and the AUC itself is the
    * distinct-score-domain fold.
    */
  private def embCentroidAuc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{call_function, typedLit}
    val df = Tables.embeddings(s, dir)
    val c0: Array[Double] =
      Embeddings.labelCentroids(df, "vec_id", "embedding", "label")
        .filter(col("label") === 0).collect()
        .map(r => (r.getInt(1), r.getDouble(3))).sortBy(_._1).map(_._2)
    require(c0.nonEmpty, "no label-0 vectors in corpus")
    val scored = df.select(
      round(call_function("cosine_sim",
        transform(col("embedding"), x => x.cast("double")),
        typedLit(c0)), 6).as("score"),
      (col("label") === 0).as("isp"))
    Stats.rocAuc(scored, col("score"), col("isp"))
  }

  private val embCentroidAucSql =
    """WITH v AS (SELECT embedding::DOUBLE[] AS v, label = 0 AS isp
      |           FROM embeddings),
      |cm AS (SELECT CAST(i - 1 AS INT) AS pos,
      |         round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6)
      |           AS c
      |       FROM (SELECT embedding,
      |               unnest(generate_series(1, length(embedding))) AS i
      |             FROM embeddings WHERE label = 0) u
      |       GROUP BY 1),
      |cent AS (SELECT list(c ORDER BY pos) AS cv FROM cm),
      |sc AS (SELECT round(list_cosine_similarity(v.v, cent.cv), 6) AS s,
      |              isp
      |       FROM v CROSS JOIN cent),
      |g AS (SELECT s,
      |        CAST(coalesce(sum(CASE WHEN isp THEN 1 ELSE 0 END), 0)
      |          AS BIGINT) AS p,
      |        CAST(coalesce(sum(CASE WHEN isp THEN 0 ELSE 1 END), 0)
      |          AS BIGINT) AS n
      |      FROM sc GROUP BY 1),
      |c AS (SELECT p, n,
      |        CAST(coalesce(sum(n) OVER (ORDER BY s
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS cn
      |      FROM g),
      |a AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
      |             CAST(sum(n) AS BIGINT) AS n_neg,
      |             CAST(sum(p * (2 * cn + n)) AS BIGINT) AS num2
      |      FROM c)
      |SELECT n_pos, n_neg,
      |       round(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6)
      |         AS auc,
      |       round(CAST(num2 AS DOUBLE)
      |         / (CAST(n_pos AS DOUBLE) * n_neg) - 1.0, 6) AS gini
      |FROM a""".stripMargin

  /** ECE calibration audit of the softmax-over-centroid-cosines
    * classifier (temperature 10, the sharpening that turns [-1,1]
    * cosines into a usable confidence spread): per-row confidence =
    * softmax probability of the argmax label, correctness against the
    * true label, folded through [[graft.ops.Stats.calibrationEce]].
    * Scale shape: centroids are a bounded collect (labels × dims);
    * score + softmax + argmax are all scan-side over centroid
    * literals (the `greatest`-struct argmin trick of
    * `emb_centroid_classifier`); the audit itself is a 10-group
    * aggregate.
    */
  /** (conf, okp) per embedding row under the centroid softmax
    * classifier — the shared scored input of `emb_calibration_ece` and
    * `emb_isotonic_calibration`.
    */
  private def centroidScored(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{call_function, typedLit}
    val df = Tables.embeddings(s, dir)
    val cents: Seq[(Int, Array[Double])] =
      Embeddings.labelCentroids(df, "vec_id", "embedding", "label")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(3)))
        .groupBy(_._1)
        .map { case (lb, rows) => lb -> rows.sortBy(_._2).map(_._3).toArray }
        .toSeq.sortBy(_._1)
    require(cents.nonEmpty, "no labels in corpus")
    val v = df.select(col("label").cast("int").as("tl"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    def sim(c: Array[Double]): Column =
      round(call_function("cosine_sim", col("v"), typedLit(c)), 6)
    // argmax by (rounded cosine, then smallest label)
    val best = greatest(cents.map { case (lb, c) =>
      struct(sim(c).as("s"), lit(-lb).as("nl"))
    }: _*)
    // denominator summed in ascending-label order on both engines
    val denom = cents.map { case (_, c) => exp(lit(10.0) * sim(c)) }
      .reduce(_ + _)
    v.select(
      (exp(lit(10.0) * best.getField("s")) / denom).as("conf"),
      ((-best.getField("nl")) === col("tl")).as("okp"))
  }

  private def embCalibrationEce(s: SparkSession, dir: String): DataFrame =
    Stats.calibrationEce(centroidScored(s, dir), col("conf"), col("okp"))

  /** Isotonic (PAV) calibration of the centroid-softmax confidence
    * against observed correctness, over the same 10 pinned bins as
    * `emb_calibration_ece` — the fitted monotone map that repairs the
    * miscalibration the ECE measures. See
    * [[graft.ops.Stats.isotonicCalibration]].
    */
  private def embIsotonic(s: SparkSession, dir: String): DataFrame =
    Stats.isotonicCalibration(centroidScored(s, dir), col("conf"),
      col("okp"))

  /** Shared oracle prefix: per-row (c6-pinned confidence, ok) under
    * the centroid softmax classifier, CTEs `v`..`rowconf`. */
  private val centroidScoredSqlPrefix =
    """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
      |                  CAST(label AS INT) AS tl FROM embeddings),
      |cm AS (SELECT label AS cl, CAST(i - 1 AS INT) AS pos,
      |         round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6)
      |           AS c
      |       FROM (SELECT label, embedding,
      |               unnest(generate_series(1, length(embedding))) AS i
      |             FROM embeddings) u
      |       GROUP BY 1, 2),
      |cent AS (SELECT cl, list(c ORDER BY pos) AS cv FROM cm GROUP BY 1),
      |sc AS (SELECT v.id, v.tl, cent.cl,
      |         round(list_cosine_similarity(v.v, cent.cv), 6) AS s
      |       FROM v CROSS JOIN cent),
      |den AS (SELECT id, list_sum(list_transform(list(s ORDER BY cl),
      |          x -> exp(10.0 * x))) AS d
      |        FROM sc GROUP BY 1),
      |p AS (SELECT id, tl, cl AS pl, s AS smax FROM (
      |        SELECT id, tl, cl, s, row_number() OVER (
      |          PARTITION BY id ORDER BY s DESC, cl) AS rn FROM sc) t
      |      WHERE rn = 1),
      |rowconf AS (SELECT CAST(round(round(exp(10.0 * p.smax) / den.d, 6)
      |              * 1e6, 0) AS BIGINT) AS c6,
      |              CASE WHEN p.pl = p.tl THEN 1 ELSE 0 END AS ok
      |            FROM p JOIN den USING (id)),
      |""".stripMargin

  private val embCalibrationEceSql = centroidScoredSqlPrefix +
    """      |g AS (SELECT CAST(least((c6 * 10) // 1000000, 9) AS INT) AS bin,
      |        CAST(count(*) AS BIGINT) AS cnt,
      |        CAST(sum(c6) AS BIGINT) AS sc6,
      |        CAST(sum(ok) AS BIGINT) AS nok
      |      FROM rowconf GROUP BY 1),
      |sp AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
      |cells AS (SELECT sp.bin, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt,
      |            CAST(coalesce(sc6, 0) AS BIGINT) AS sc6,
      |            CAST(coalesce(nok, 0) AS BIGINT) AS nok
      |          FROM sp LEFT JOIN g USING (bin)),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM cells),
      |x AS (SELECT bin, cnt,
      |        CASE WHEN cnt > 0
      |          THEN (CAST(sc6 AS DOUBLE) / 1e6) / cnt ELSE 0.0 END AS ac,
      |        CASE WHEN cnt > 0
      |          THEN CAST(nok AS DOUBLE) / cnt ELSE 0.0 END AS aa
      |      FROM cells),
      |x2 AS (SELECT bin, cnt, ac, aa,
      |         CAST(round(cnt * abs(aa - ac) * 1e9, 0) AS BIGINT) AS t9
      |       FROM x),
      |e AS (SELECT CAST(sum(t9) AS BIGINT) AS e9 FROM x2)
      |SELECT bin, cnt, round(ac, 6) AS avg_conf, round(aa, 6) AS accuracy,
      |       round(CAST(e9 AS DOUBLE) / 1e9 / t.nn, 6) AS ece
      |FROM x2 CROSS JOIN e CROSS JOIN t""".stripMargin

  private val embIsotonicSql = centroidScoredSqlPrefix +
    """g AS (SELECT CAST(least((c6 * 10) // 1000000, 9) AS INT) AS bin,
      |        CAST(count(*) AS BIGINT) AS cnt,
      |        CAST(sum(ok) AS BIGINT) AS nok
      |      FROM rowconf GROUP BY 1),
      |pre AS (SELECT bin, cnt, nok,
      |          CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cn,
      |          CAST(sum(nok) OVER (ORDER BY bin) AS BIGINT) AS cc
      |        FROM g),
      |p2 AS (SELECT bin, cnt, nok, cn, cc, cn - cnt AS pn,
      |         cc - nok AS pc FROM pre),
      |mk AS (SELECT j.bin AS jb,
      |         min(CAST(k.cc - j.pc AS DOUBLE) / (k.cn - j.pn)) AS mr
      |       FROM p2 j JOIN p2 k ON k.bin >= j.bin GROUP BY 1),
      |iso AS (SELECT i.bin, i.cnt, i.nok, max(mk.mr) AS iso
      |        FROM p2 i JOIN mk ON mk.jb <= i.bin GROUP BY 1, 2, 3)
      |SELECT bin, cnt, nok,
      |  round(CAST(nok AS DOUBLE) / cnt, 6) AS emp_rate,
      |  round(iso, 6) AS iso_rate
      |FROM iso""".stripMargin

  /** Quantile-normalize document length across sources: each doc's
    * n_chars is replaced by the GLOBAL length at its within-source
    * percentile, making length-based curation thresholds comparable
    * across sources with very different length profiles. See
    * [[graft.ops.Stats.quantileNormalize]].
    */
  private def docQuantileNormalize(s: SparkSession, dir: String): DataFrame =
    Stats.quantileNormalize(Tables.documents(s, dir), col("source"),
      col("n_chars").cast("double"), outCols = Seq("doc_id"))

  private val docQuantileNormalizeSql =
    """WITH base AS (SELECT doc_id, source AS g,
      |                     round(CAST(n_chars AS DOUBLE), 6) AS v
      |              FROM documents),
      |h AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
      |      FROM base GROUP BY 1, 2),
      |r AS (SELECT g, v, c,
      |        CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS lo,
      |        CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
      |      FROM h),
      |pp AS (SELECT g, v, CASE WHEN n > 1
      |         THEN (CAST(lo AS DOUBLE) + (c + 1) / 2.0 - 1.0) / (n - 1)
      |         ELSE 0.5 END AS p
      |       FROM r),
      |gr AS (SELECT quantile_cont(v, list_transform(range(0, 1001),
      |         i -> i / 1000.0)) AS grid FROM base),
      |m AS (SELECT g, v, p, p * 1000.0 AS pos FROM pp),
      |m2 AS (SELECT g, v, p, CAST(floor(pos) AS INT) AS i0,
      |              pos - CAST(floor(pos) AS INT) AS frac
      |       FROM m),
      |m3 AS (SELECT g, v, round(p, 6) AS pctile,
      |         round(grid[i0 + 1] * (1.0 - frac)
      |           + grid[least(i0 + 1, 1000) + 1] * frac, 6) AS value_norm
      |       FROM m2 CROSS JOIN gr)
      |SELECT base.doc_id, base.g AS group_key, base.v AS value,
      |       m3.pctile, m3.value_norm
      |FROM base JOIN m3 ON base.g = m3.g AND base.v = m3.v""".stripMargin

  /** Pairwise unigram cross-entropy matrix between sources — which
    * sources are redundant registers of each other. See
    * [[graft.ops.TextAnalysis.sourceCrossEntropy]].
    */
  private def docSourceCrossEntropy(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.sourceCrossEntropy(
      Tables.documents(s, dir), "source", "text")

  /** Which sources share CONTENT: pairwise shingle-set Jaccard between
    * sources, estimated from 128-value KMV sketches — see
    * [[graft.ops.Sketches.kmvJaccardByGroup]].
    */
  private def docSourceOverlapKmv(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .select(col("source"), lower(trim(col("text"))).as("t"))
      .select(col("source"), col("t"),
        explode(sequence(lit(1),
          greatest(length(col("t")) - 7, lit(1)))).as("i"))
      .select(col("source"), col("t").substr(col("i"), lit(8)).as("s"))
    graft.ops.Sketches.kmvJaccardByGroup(sh, "source", "s", k = 128)
  }

  private val docSourceOverlapKmvSql =
    """WITH t AS (SELECT source, lower(trim(text)) AS txt FROM documents),
      |sh AS (SELECT source AS g, substr(txt, CAST(i AS INT), 8) AS s
      |       FROM (SELECT source, txt,
      |               unnest(generate_series(1,
      |                 greatest(length(txt) - 7, 1))) AS i
      |             FROM t) u),
      |hs AS (SELECT DISTINCT g,
      |         CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h
      |       FROM sh),
      |sk AS (SELECT g, h FROM (SELECT g, h, row_number() OVER
      |         (PARTITION BY g ORDER BY h) AS rn FROM hs)
      |       WHERE rn <= 128),
      |gs AS (SELECT DISTINCT g FROM sk),
      |pairs AS (SELECT a.g AS ga, b.g AS gb
      |          FROM gs a JOIN gs b ON a.g < b.g),
      |tag AS (SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
      |        FROM pairs p JOIN sk s ON s.g = p.ga
      |        UNION ALL
      |        SELECT p.ga, p.gb, s.h, 0, 1
      |        FROM pairs p JOIN sk s ON s.g = p.gb),
      |m AS (SELECT ga, gb, h, max(in_a) AS a, max(in_b) AS b
      |      FROM tag GROUP BY 1, 2, 3),
      |r AS (SELECT ga, gb, a, b, row_number() OVER
      |        (PARTITION BY ga, gb ORDER BY h) AS rn FROM m)
      |SELECT ga AS src, gb AS tgt,
      |       CAST(count(*) AS BIGINT) AS union_used,
      |       CAST(sum(a * b) AS BIGINT) AS hits,
      |       round(CAST(sum(a * b) AS DOUBLE) / count(*), 6)
      |         AS jaccard_kmv
      |FROM r WHERE rn <= 128 GROUP BY 1, 2""".stripMargin

  /** Burrows' Delta 20×20 register-distance matrix between sources over
    * the corpus's top-50 words — see
    * [[graft.ops.TextAnalysis.burrowsDelta]].
    */
  private def docBurrowsDelta(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.burrowsDelta(Tables.documents(s, dir), "source", "text",
      m = 50)

  private val docBurrowsDeltaSql =
    """WITH toks AS (SELECT source AS g,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |cnt AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
      |        FROM toks GROUP BY 1, 2),
      |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS tot
      |        FROM cnt GROUP BY 1),
      |top AS (SELECT w FROM (SELECT w, sum(c) AS gc FROM cnt GROUP BY 1)
      |        ORDER BY gc DESC, w LIMIT 50),
      |f AS (SELECT tot.g, top.w,
      |        CAST(round(1e9 * CAST(coalesce(c.c, 0) AS DOUBLE) /
      |          CAST(tot.tot AS DOUBLE)) AS BIGINT) AS f9
      |      FROM tot CROSS JOIN top
      |      LEFT JOIN cnt c ON c.g = tot.g AND c.w = top.w),
      |mom AS (SELECT w, CAST(count(*) AS BIGINT) AS s,
      |          CAST(sum(f9) AS BIGINT) AS sf,
      |          CAST(sum(CAST(f9 AS HUGEINT) * f9) AS HUGEINT) AS sf2
      |        FROM f GROUP BY 1),
      |z AS (SELECT f.g, f.w,
      |        CASE WHEN (CAST(sf2 AS DOUBLE) -
      |            CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE) /
      |              CAST(s AS DOUBLE)) / (CAST(s AS DOUBLE) - 1.0) > 0
      |        THEN CAST(round(1e6 *
      |          (CAST(f9 AS DOUBLE) - CAST(sf AS DOUBLE) /
      |            CAST(s AS DOUBLE)) /
      |          sqrt((CAST(sf2 AS DOUBLE) -
      |            CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE) /
      |              CAST(s AS DOUBLE)) / (CAST(s AS DOUBLE) - 1.0)))
      |          AS BIGINT) END AS z6
      |      FROM f JOIN mom ON mom.w = f.w WHERE mom.s > 1),
      |zz AS (SELECT * FROM z WHERE z6 IS NOT NULL),
      |d AS (SELECT a.g AS src, b.g AS tgt,
      |        CAST(sum(abs(a.z6 - b.z6)) AS BIGINT) AS sz,
      |        CAST(count(*) AS BIGINT) AS n_words
      |      FROM zz a JOIN zz b ON a.w = b.w GROUP BY 1, 2)
      |SELECT src, tgt, n_words,
      |       round(CAST(sz AS DOUBLE) /
      |         (CAST(n_words AS DOUBLE) * 1e6), 6) AS delta
      |FROM d""".stripMargin

  private val docSourceCrossEntropySql =
    """WITH toks AS (SELECT source AS g,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |cnt AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
      |        FROM toks GROUP BY 1, 2),
      |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS tot
      |        FROM cnt GROUP BY 1),
      |vs AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vsz FROM cnt),
      |grid AS (SELECT DISTINCT w FROM cnt),
      |model AS (SELECT t.g AS tgt, grid.w,
      |    CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE) /
      |      CAST(t.tot + vs.vsz AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      AS l6
      |  FROM grid CROSS JOIN tot t CROSS JOIN vs
      |  LEFT JOIN cnt c ON c.g = t.g AND c.w = grid.w),
      |h AS (SELECT s.g AS src, m.tgt,
      |    CAST(sum(s.c * m.l6) AS BIGINT) AS sl
      |  FROM cnt s JOIN model m ON m.w = s.w GROUP BY 1, 2)
      |SELECT src, tgt, tot.tot AS n_tokens_src,
      |  round(-(CAST(sl AS DOUBLE)) /
      |    (CAST(tot.tot AS DOUBLE) * 1000000.0), 6) AS h_nats
      |FROM h JOIN tot ON tot.g = src""".stripMargin

  /** The documented 100 TB form of the four exact all-pairs embedding
    * diagnostics: run the same quadratic kernel on a deterministic
    * fixed-BUDGET [[graft.ops.Sampling.hashSampleBudget]] shard —
    * ~`embSampleTarget` rows at ANY corpus size, so the pair stage is
    * capped at O(target²) forever where a fixed RATE would only delay
    * the quadratic (the subsampling-unbiasedness argument is in each
    * op's scaladoc). Registered as the `_sampled` twins below,
    * oracle-checked: the oracle derives the identical md5 threshold
    * from its own count(*), so the selected shard replays exactly
    * (rate-1 corner uses hexThreshold's all-keep sentinel on both
    * sides).
    */
  private val embSampleTarget = 250L
  private val embSampleSalt = "shard"
  private def embSampled(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hashSampleBudget(Tables.embeddings(s, dir), "vec_id",
      embSampleTarget, embSampleSalt)
  private def embSampleWhere: String =
    s"""WHERE md5('$embSampleSalt:' || CAST(vec_id AS VARCHAR)) <
       |  (SELECT CASE WHEN cnt <= $embSampleTarget THEN 'ffffffffg'
       |     ELSE printf('%08x', CAST(round($embSampleTarget.0 / cnt
       |       * 4294967296.0) AS BIGINT)) END
       |   FROM (SELECT count(*) AS cnt FROM embeddings))""".stripMargin

  /** Top-20 LOF outliers of the embedding cloud (k=5, squared-L2
    * variant) — the exact all-pairs baseline. See
    * [[graft.ops.Similarity.lofOutliers]].
    */
  private def embLofOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.lofOutliers(Tables.embeddings(s, dir),
      "vec_id", "embedding", k = 5, topK = 20)

  private def embLofOutliersSampled(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.lofOutliers(embSampled(s, dir),
      "vec_id", "embedding", k = 5, topK = 20)

  private def embLofOutliersSqlFor(where: String) =
    s"""WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings
      |           $where),
      |p AS (SELECT id1, id2, list_dot_product(dv, dv) AS l2
      |      FROM (SELECT a.id AS id1, b.id AS id2,
      |              [CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)
      |                for z in list_zip(a.v, b.v)] AS dv
      |            FROM v a JOIN v b ON a.id <> b.id)),
      |knn AS (SELECT id1, id2,
      |          CAST(round(l2 * 1000000000.0) AS BIGINT) AS d9
      |        FROM (SELECT id1, id2, l2, row_number() OVER
      |                (PARTITION BY id1 ORDER BY l2, id2) AS rn FROM p)
      |        WHERE rn <= 5),
      |kd AS (SELECT id1 AS id, max(d9) AS kd9 FROM knn GROUP BY 1),
      |lrd AS (SELECT k.id1 AS id,
      |          CASE WHEN CAST(sum(greatest(kd.kd9, k.d9)) AS BIGINT) > 0
      |            THEN CAST(round(5e18 /
      |              CAST(CAST(sum(greatest(kd.kd9, k.d9)) AS BIGINT)
      |                AS DOUBLE)) AS BIGINT) END AS lrd9
      |        FROM knn k JOIN kd ON kd.id = k.id2 GROUP BY 1),
      |ag AS (SELECT k.id1 AS id, CAST(sum(nl.lrd9) AS BIGINT) AS snl9,
      |         count(nl.lrd9) AS n_nl
      |       FROM knn k JOIN lrd nl ON nl.id = k.id2 GROUP BY 1),
      |lf AS (SELECT ag.id,
      |         CASE WHEN ag.n_nl = 5 AND lrd.lrd9 IS NOT NULL THEN
      |           round(CAST(ag.snl9 AS DOUBLE) /
      |             (5.0 * CAST(lrd.lrd9 AS DOUBLE)), 6) END AS lof
      |       FROM ag JOIN lrd ON lrd.id = ag.id),
      |top AS (SELECT id, lof, CAST(row_number() OVER
      |          (ORDER BY lof DESC, id) AS BIGINT) AS rank
      |        FROM lf WHERE lof IS NOT NULL)
      |SELECT id, lof, rank FROM top WHERE rank <= 20""".stripMargin

  private val embLofOutliersSql = embLofOutliersSqlFor("")
  private def embLofOutliersSampledSql = embLofOutliersSqlFor(embSampleWhere)

  /** Alignment / uniformity of the embedding space against its labels
    * — the collapse detector. See
    * [[graft.ops.Similarity.alignmentUniformity]].
    */
  private def embAlignUniformity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.alignmentUniformity(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label")

  private def embAlignUniformitySampled(s: SparkSession,
                                        dir: String): DataFrame =
    graft.ops.Similarity.alignmentUniformity(embSampled(s, dir),
      "vec_id", "embedding", "label")

  private def embAlignUniformitySqlFor(where: String) =
    s"""WITH v AS (SELECT vec_id AS id, embedding AS v, label
      |           FROM embeddings $where),
      |p AS (SELECT l1 = l2 AS pos,
      |        CAST(round(list_dot_product(dv, dv) * 1000000000.0)
      |          AS BIGINT) AS d9,
      |        CAST(round(exp(list_dot_product(dv, dv) * -2.0)
      |          * 1000000000.0) AS BIGINT) AS e9
      |      FROM (SELECT a.label AS l1, b.label AS l2,
      |              [CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)
      |                for z in list_zip(a.v, b.v)] AS dv
      |            FROM v a JOIN v b ON a.id < b.id)),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |        CAST(sum(e9) AS HUGEINT) AS se9,
      |        CAST(sum(CASE WHEN pos THEN 1 END) AS BIGINT) AS n_pos,
      |        CAST(sum(CASE WHEN pos THEN d9 END) AS HUGEINT) AS sd9
      |      FROM p)
      |SELECT n_pairs, n_pos,
      |  CASE WHEN n_pos > 0 THEN
      |    round(CAST(sd9 AS DOUBLE) / 1000000000.0 /
      |      CAST(n_pos AS DOUBLE), 6) END AS alignment,
      |  CASE WHEN se9 > 0 THEN
      |    round(ln(CAST(se9 AS DOUBLE) / 1000000000.0 /
      |      CAST(n_pairs AS DOUBLE)), 6) END AS uniformity
      |FROM g""".stripMargin

  private val embAlignUniformitySql = embAlignUniformitySqlFor("")
  private def embAlignUniformitySampledSql =
    embAlignUniformitySqlFor(embSampleWhere)

  /** TwoNN intrinsic dimension of the embedding cloud — the exact
    * all-pairs baseline. See
    * [[graft.ops.Similarity.intrinsicDimTwoNN]].
    */
  private def embIntrinsicDim(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.intrinsicDimTwoNN(Tables.embeddings(s, dir),
      "vec_id", "embedding")

  private def embIntrinsicDimSampled(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.intrinsicDimTwoNN(embSampled(s, dir),
      "vec_id", "embedding")

  private def embIntrinsicDimSqlFor(where: String) =
    s"""WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings
      |           $where),
      |p AS (SELECT id1, id2, list_dot_product(dv, dv) AS l2
      |      FROM (SELECT a.id AS id1, b.id AS id2,
      |              [CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)
      |                for z in list_zip(a.v, b.v)] AS dv
      |            FROM v a JOIN v b ON a.id <> b.id)),
      |r AS (SELECT id1, id2, l2,
      |        row_number() OVER (PARTITION BY id1 ORDER BY l2, id2)
      |          AS rn
      |      FROM p),
      |nn AS (SELECT id1, min(CASE WHEN rn = 1 THEN l2 END) AS l1,
      |         min(CASE WHEN rn = 2 THEN l2 END) AS l2nd
      |       FROM r WHERE rn <= 2 GROUP BY 1),
      |x AS (SELECT id1, CASE WHEN l1 > 0 THEN
      |        CAST(round(0.5 * ln(l2nd / l1) * 1000000000.0) AS BIGINT)
      |        END AS lnr
      |      FROM nn),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(count(lnr) AS BIGINT) AS n_valid,
      |        CAST(sum(lnr) AS BIGINT) AS slnr FROM x)
      |SELECT n, n_valid,
      |  CASE WHEN slnr > 0 THEN
      |    round(CAST(n_valid AS DOUBLE) /
      |      (CAST(slnr AS DOUBLE) / 1000000000.0), 6) END AS id_mle
      |FROM a""".stripMargin

  private val embIntrinsicDimSql = embIntrinsicDimSqlFor("")
  private def embIntrinsicDimSampledSql = embIntrinsicDimSqlFor(embSampleWhere)

  /** Simpson diversity of the language mix per source — quadratic
    * concentration, the monoculture early-warning the Shannon-based
    * audits smooth over. See [[graft.ops.Stats.simpsonDiversity]].
    */
  private def docSimpsonDiversity(s: SparkSession, dir: String): DataFrame =
    Stats.simpsonDiversity(Tables.documents(s, dir), col("source"),
      col("lang"))

  private val docSimpsonDiversitySql =
    """WITH cells AS (SELECT source AS g, lang AS c,
      |    CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2)
      |SELECT g, CAST(sum(o) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS n_cats,
      |  CASE WHEN sum(o) < 2 THEN NULL
      |       ELSE round(CAST(sum(o * (o - 1)) AS DOUBLE) /
      |         (CAST(sum(o) AS DOUBLE) * (CAST(sum(o) AS DOUBLE) - 1.0)),
      |         6) END AS simpson_lambda,
      |  CASE WHEN sum(o) < 2 THEN NULL
      |       ELSE round(1.0 - CAST(sum(o * (o - 1)) AS DOUBLE) /
      |         (CAST(sum(o) AS DOUBLE) * (CAST(sum(o) AS DOUBLE) - 1.0)),
      |         6) END AS gini_simpson
      |FROM cells GROUP BY 1""".stripMargin

  /** Unbiased quadratic-kernel MMD² between two deterministic
    * hash-halves of the embeddings table — multivariate embedding-
    * distribution drift. See [[graft.ops.Embeddings.mmdQuadraticSplit]]
    * for why the kernel is poly-2 (fixed-order `vec_dot` polynomial →
    * exact ×10⁹ BIGINT pinning) rather than RBF.
    */
  private def embMmdSplit(s: SparkSession, dir: String): DataFrame =
    Embeddings.mmdQuadraticSplit(Tables.embeddings(s, dir), "vec_id",
      "embedding", salt = "mmd")

  private def embMmdSplitSampled(s: SparkSession, dir: String): DataFrame =
    Embeddings.mmdQuadraticSplit(embSampled(s, dir), "vec_id",
      "embedding", salt = "mmd")

  private def embMmdSplitSqlFor(where: String) = {
    val t = graft.ops.Sampling.hexThreshold(0.5)
    s"""WITH e AS (SELECT vec_id AS id, embedding AS v,
       |    CASE WHEN md5('mmd:' || CAST(vec_id AS VARCHAR)) < '$t'
       |      THEN 'a' ELSE 'b' END AS s
       |  FROM embeddings $where),
       |p AS (SELECT l.s AS s1, r.s AS s2,
       |    CAST(round((1.0 + list_dot_product(l.v, r.v)) *
       |      (1.0 + list_dot_product(l.v, r.v)) * 1000000000.0)
       |      AS BIGINT) AS kp
       |  FROM e l JOIN e r ON l.id < r.id),
       |sums AS (SELECT
       |    CAST(sum(CASE WHEN s1 = 'a' AND s2 = 'a' THEN kp ELSE 0 END)
       |      AS BIGINT) AS saa,
       |    CAST(sum(CASE WHEN s1 = 'b' AND s2 = 'b' THEN kp ELSE 0 END)
       |      AS BIGINT) AS sbb,
       |    CAST(sum(CASE WHEN s1 <> s2 THEN kp ELSE 0 END) AS BIGINT)
       |      AS sab
       |  FROM p),
       |cnt AS (SELECT
       |    CAST(sum(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS m,
       |    CAST(sum(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n
       |  FROM e)
       |SELECT m, n,
       |  round(2.0 * (CAST(saa AS DOUBLE) / 1000000000.0) /
       |      (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0)) +
       |    2.0 * (CAST(sbb AS DOUBLE) / 1000000000.0) /
       |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) -
       |    2.0 * (CAST(sab AS DOUBLE) / 1000000000.0) /
       |      (CAST(m AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS mmd2
       |FROM sums CROSS JOIN cnt""".stripMargin
  }

  private val embMmdSplitSql = embMmdSplitSqlFor("")
  private def embMmdSplitSampledSql = embMmdSplitSqlFor(embSampleWhere)

  /** Participation ratio of the embedding covariance spectrum —
    * PR = (Σλ)²/Σλ² via covariance-moment traces, no eigen. Linear in
    * corpus size (unlike the all-pairs diagnostics this one needs no
    * sampled twin). See [[graft.ops.Embeddings.participationRatio]].
    */
  private def embParticipationRatio(s: SparkSession, dir: String): DataFrame =
    Embeddings.participationRatio(Tables.embeddings(s, dir), "embedding")

  private val embParticipationRatioSql =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(max(len(v)) AS INT) AS d FROM e),
      |sx AS (SELECT k,
      |         CAST(sum(CAST(round(v[k] * 1000000000.0) AS BIGINT))
      |           AS BIGINT) AS sx9
      |       FROM (SELECT v, unnest(generate_series(1, len(v))) AS k
      |             FROM e) GROUP BY 1),
      |sxy AS (SELECT i, j,
      |          CAST(sum(CAST(round(v[i] * v[j] * 1000000000.0) AS BIGINT))
      |            AS BIGINT) AS sxy9
      |        FROM (SELECT v, i, unnest(generate_series(i, len(v))) AS j
      |              FROM (SELECT v, unnest(generate_series(1, len(v))) AS i
      |                    FROM e))
      |        GROUP BY 1, 2),
      |c AS (SELECT i, j, n, d,
      |        CAST(round((CAST(sxy9 AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) -
      |          (CAST(a.sx9 AS DOUBLE) / 1e9 / CAST(n AS DOUBLE)) *
      |          (CAST(b.sx9 AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))) *
      |          1000000000.0) AS BIGINT) AS c9
      |      FROM sxy JOIN sx a ON sxy.i = a.k JOIN sx b ON sxy.j = b.k
      |           CROSS JOIN nd),
      |f AS (SELECT n, d,
      |        CAST(sum(CASE WHEN i = j THEN c9 ELSE 0 END) AS BIGINT)
      |          AS tr9,
      |        sum(CASE WHEN i = j THEN 1 ELSE 2 END *
      |          CAST(c9 AS HUGEINT) * c9) AS t2d
      |      FROM c GROUP BY 1, 2)
      |SELECT d, n,
      |  round(CAST(tr9 AS DOUBLE) / 1e9, 6) AS trace_cov,
      |  round(CAST(t2d AS DOUBLE) / 1e18, 6) AS trace_cov2,
      |  CASE WHEN t2d = 0 THEN NULL
      |       ELSE round((CAST(tr9 AS DOUBLE) / 1e9) *
      |         (CAST(tr9 AS DOUBLE) / 1e9) / (CAST(t2d AS DOUBLE) / 1e18),
      |         6) END AS participation_ratio,
      |  CASE WHEN t2d = 0 THEN NULL
      |       ELSE CAST(round((CAST(tr9 AS DOUBLE) / 1e9) *
      |         (CAST(tr9 AS DOUBLE) / 1e9) / (CAST(t2d AS DOUBLE) / 1e18) /
      |         CAST(d AS DOUBLE) * 1000000.0) AS BIGINT)
      |       END AS effective_rank_ppm
      |FROM f""".stripMargin

  /** Mann–Kendall monotonic-trend verdict on the daily event count —
    * the significance half of the Theil–Sen pairing (`ev_theilsen_trend`
    * gives the robust slope; this says whether the trend is real).
    * O(days²) pair join on the calendar rollup, tie-corrected normal z
    * at α=.05. See [[graft.ops.Stats.mannKendall]].
    */
  private def evMannKendall(s: SparkSession, dir: String): DataFrame =
    Stats.mannKendall(
      Tables.events(s, dir).groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x")),
      col("day"), col("x"))

  private val evMannKendallSql =
    """WITH d AS (SELECT CAST(ts AS DATE) AS day,
      |             CAST(count(*) AS BIGINT) AS x
      |           FROM events GROUP BY 1),
      |sp AS (SELECT CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT)
      |         AS s
      |       FROM d a JOIN d b ON a.day < b.day),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct,
      |         CAST(sum(t) AS BIGINT) AS n,
      |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
      |       FROM (SELECT x, CAST(count(*) AS BIGINT) AS t
      |             FROM d GROUP BY 1)),
      |f AS (SELECT n, s,
      |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) *
      |          (2.0 * CAST(n AS DOUBLE) + 5) - CAST(tsum AS DOUBLE))
      |          / 18.0 AS vs
      |      FROM sp CROSS JOIN tt)
      |SELECT n, s,
      |       CASE WHEN vs > 0 THEN round(
      |         CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(vs)
      |              WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(vs)
      |              ELSE 0.0 END, 6) END AS z,
      |       CASE WHEN vs > 0 THEN abs(round(
      |         CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(vs)
      |              WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(vs)
      |              ELSE 0.0 END, 6)) > 1.959964 END AS reject
      |FROM f""".stripMargin

  /** Kendall τ-b between daily click and purchase volumes — the
    * pair-concordance twin of `ev_spearman_daily`. The O(days²) pair
    * join runs on the calendar-sized daily rollup. See
    * [[graft.ops.Stats.kendallTau]].
    */
  private def evKendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    Stats.kendallTau(daily, col("day"), col("x"), col("y"))
  }

  private val evKendallTauSql =
    """WITH d AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |p AS (SELECT
      |    CAST(sum(CASE WHEN sign(b.x - a.x) * sign(b.y - a.y) = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |    CAST(sum(CASE WHEN sign(b.x - a.x) * sign(b.y - a.y) = -1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_x,
      |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_y
      |  FROM d a JOIN d b ON a.day < b.day),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
      |SELECT n, concordant, discordant, ties_x, ties_y,
      |  round(CAST(concordant - discordant AS DOUBLE) /
      |    sqrt((CAST(n AS DOUBLE) * (n - 1) / 2.0 - ties_x) *
      |         (CAST(n AS DOUBLE) * (n - 1) / 2.0 - ties_y)), 6) AS tau_b
      |FROM p CROSS JOIN n""".stripMargin

  /** Benjamini–Hochberg FDR screen (α = 0.05) over per-event-type
    * weekend-association χ² tests — which event types significantly
    * skew toward weekends, honest under multiple testing. Weekend =
    * epoch-day mod 7 ∈ {2, 3} (day 0 = Thursday → Sat, Sun), the same
    * engine-free day-of-week arithmetic as `ev_cramers_v_dow`. See
    * [[graft.ops.Stats.bhFdrScreen]].
    */
  private def evBhFdrWeekend(s: SparkSession, dir: String): DataFrame =
    Stats.bhFdrScreen(Tables.events(s, dir), col("event_type"),
      pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
        lit(7)).isin(2, 3), alpha = 0.05)

  private val evBhFdrWeekendSql =
    """WITH cells AS (SELECT event_type AS g,
      |    CAST(sum(CASE WHEN datediff('day', DATE '1970-01-01',
      |        CAST(ts AS DATE)) % 7 IN (2, 3) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN datediff('day', DATE '1970-01-01',
      |        CAST(ts AS DATE)) % 7 IN (2, 3) THEN 0 ELSE 1 END)
      |      AS BIGINT) AS b
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
      |    CAST(sum(b) AS BIGINT) AS tb,
      |    CAST(count(*) AS BIGINT) AS m FROM cells),
      |t2 AS (SELECT g, a, b, ta - a AS c, tb - b AS d, m
      |       FROM cells CROSS JOIN tot),
      |chi AS (SELECT g, a AS n_yes, b AS n_no, m,
      |    CAST(a + b + c + d AS DOUBLE) *
      |      (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) -
      |       CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) *
      |      (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) -
      |       CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) /
      |      (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) *
      |       CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
      |  FROM t2),
      |pv AS (SELECT g, n_yes, n_no, m, round(chi2, 6) AS chi2,
      |    round((1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0))) *
      |      (0.254829592 + (1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0))) *
      |      (-0.284496736 + (1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0))) *
      |      (1.421413741 + (1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0))) *
      |      (-1.453152027 + (1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0))) *
      |        1.061405429)))) *
      |      exp(-(sqrt(chi2 / 2.0) * sqrt(chi2 / 2.0))), 6) AS p_value
      |  FROM chi),
      |rk AS (SELECT *, CAST(row_number() OVER
      |      (ORDER BY p_value, g) AS BIGINT) AS rank,
      |    round(CAST(row_number() OVER (ORDER BY p_value, g) AS DOUBLE)
      |      * 0.05 / m, 6) AS bh_crit
      |  FROM pv),
      |cut AS (SELECT max(CASE WHEN p_value <= bh_crit THEN rank END)
      |    AS cutoff FROM rk)
      |SELECT g, n_yes, n_no, chi2, p_value, rank, bh_crit,
      |  CAST(CASE WHEN cutoff IS NOT NULL AND rank <= cutoff
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject
      |FROM rk CROSS JOIN cut""".stripMargin

  def qs: Seq[QueryDef] = Seq(
    QueryDef("ev_kendall_tau", evKendallTau, Some(evKendallTauSql)),
    QueryDef("emb_mmd_split", embMmdSplit, Some(embMmdSplitSql)),
    QueryDef("emb_participation_ratio", embParticipationRatio,
      Some(embParticipationRatioSql)),
    QueryDef("doc_simpson_diversity", docSimpsonDiversity,
      Some(docSimpsonDiversitySql)),
    QueryDef("doc_burrows_delta", docBurrowsDelta,
      Some(docBurrowsDeltaSql)),
    QueryDef("doc_source_overlap_kmv", docSourceOverlapKmv,
      Some(docSourceOverlapKmvSql)),
    QueryDef("doc_source_cross_entropy", docSourceCrossEntropy,
      Some(docSourceCrossEntropySql)),
    QueryDef("emb_intrinsic_dim", embIntrinsicDim,
      Some(embIntrinsicDimSql)),
    QueryDef("emb_lof_outliers", embLofOutliers,
      Some(embLofOutliersSql)),
    QueryDef("emb_alignment_uniformity", embAlignUniformity,
      Some(embAlignUniformitySql)),
    QueryDef("emb_mmd_split_sampled", embMmdSplitSampled,
      Some(embMmdSplitSampledSql)),
    QueryDef("emb_intrinsic_dim_sampled", embIntrinsicDimSampled,
      Some(embIntrinsicDimSampledSql)),
    QueryDef("emb_lof_outliers_sampled", embLofOutliersSampled,
      Some(embLofOutliersSampledSql)),
    QueryDef("emb_alignment_uniformity_sampled", embAlignUniformitySampled,
      Some(embAlignUniformitySampledSql)),
    QueryDef("ev_bh_fdr_weekend", evBhFdrWeekend, Some(evBhFdrWeekendSql)),
    QueryDef("ev_cuped_impact", evCupedImpact, Some(evCupedImpactSql)),
    QueryDef("ev_did_estimate", evDidEstimate, Some(evDidEstimateSql)),
    QueryDef("li_corr_matrix", liCorrMatrix, Some(liCorrMatrixSql)),
    QueryDef("ev_sprt_monitor", evSprtMonitor, Some(evSprtMonitorSql)),
    QueryDef("ev_uplift_daypart", evUpliftDaypart,
      Some(evUpliftDaypartSql)),
    QueryDef("ev_ks_drift", evKsDrift, Some(evKsDriftSql)),
    QueryDef("ev_emd_value_drift", evEmdDrift, Some(evEmdDriftSql)),
    QueryDef("ev_gmm2_value", evGmm2Value, Some(evGmm2ValueSql)),
    QueryDef("ev_mannwhitney_u", evMannWhitneyU, Some(evMannWhitneyUSql)),
    QueryDef("ev_kruskal_wallis", evKruskalWallis,
      Some(evKruskalWallisSql)),
    QueryDef("ev_cliffs_delta", evCliffsDelta, Some(evCliffsDeltaSql)),
    QueryDef("ev_mann_kendall", evMannKendall, Some(evMannKendallSql)),
    QueryDef("ev_spearman_daily", evSpearmanDaily, Some(evSpearmanDailySql)),
    QueryDef("emb_hist_split", embHistSplit, Some(embHistSplitSql)),
    QueryDef("ev_cramers_v_dow", evCramersV, Some(evCramersVSql)),
    QueryDef("doc_shrunk_source_means", docShrunkSourceMeans,
      Some(docShrunkSourceMeansSql)),
    QueryDef("doc_bootstrap_ci", docBootstrapCi, Some(docBootstrapCiSql)),
    QueryDef("ev_psi_value_drift", evPsiValueDrift, Some(evPsiValueDriftSql)),
    QueryDef("ev_gini_user_concentration", evGiniUsers, Some(evGiniUsersSql)),
    QueryDef("ev_survival_km", evSurvivalKm, Some(evSurvivalKmSql)),
    QueryDef("doc_mi_lang_source", docMiLangSource, Some(docMiLangSourceSql)),
    QueryDef("doc_source_loo_quality", docSourceLooQuality,
      Some(docSourceLooQualitySql)),
    QueryDef("dq_profile_drift_events", dqProfileDriftEvents,
      Some(dqProfileDriftEventsSql)),
    QueryDef("emb_centroid_auc", embCentroidAuc, Some(embCentroidAucSql)),
    QueryDef("emb_isotonic_calibration", embIsotonic, Some(embIsotonicSql)),
    QueryDef("emb_calibration_ece", embCalibrationEce,
      Some(embCalibrationEceSql)),
    QueryDef("doc_quantile_normalize", docQuantileNormalize,
      Some(docQuantileNormalizeSql)),
  )
}
