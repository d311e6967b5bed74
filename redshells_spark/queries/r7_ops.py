"""Round-7 batch 1: the experimentation / causal-readout tier
(off-policy IPS/SNIPS value, propensity-stratified ATE,
difference-in-differences, CUPED) plus survival, time-series ACF,
distribution-level embedding drift, corpus growth law, graph
modularity, and Brier-score decomposition — each with an exact DuckDB
oracle.

The reference builds logged-feedback training data
(app/word_item_similarity/make_click_train_data.py); this tier is the
readout side of that same log at warehouse scale. Shared determinism
discipline (see _shared.py header): exact int64 sums everywhere,
doubles only in final scalar formulas over those integers.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403
from redshells_spark.timeutil import event_us  # noqa: E402

_CENTS_SQL = "CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000

# ------------------------------------------------- off-policy evaluation


@q(
    "ips_policy_value",
    f"""WITH lg AS (SELECT event_type AS action, {_CENTS_SQL} AS r FROM events),
       per AS (SELECT action, CAST(count(*) AS BIGINT) AS n_a,
                      CAST(sum(r) AS BIGINT) AS r_a
               FROM lg GROUP BY 1),
       tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS n,
                      CAST(count(*) AS BIGINT) AS k FROM per),
       uni AS (SELECT p.action, p.n_a, p.r_a, t.n,
                      (1000000 // t.k) * t.n // p.n_a AS w_raw_e6
               FROM per p CROSS JOIN tot t),
       uq AS (SELECT 'uniform' AS policy,
                     CAST(max(n) AS BIGINT) AS n_logged,
                     CAST(sum(n_a) AS BIGINT) AS n_matched,
                     CAST(sum(least(w_raw_e6, 10000000) * n_a) AS BIGINT) AS sum_w_e6,
                     CAST(sum(least(w_raw_e6, 10000000) * r_a) AS BIGINT) AS wr_e6,
                     CAST(sum(CASE WHEN w_raw_e6 > 10000000 THEN n_a ELSE 0 END)
                          AS BIGINT) AS n_clipped,
                     CAST(max(w_raw_e6) AS BIGINT) AS max_w_e6
              FROM uni),
       grd AS (SELECT p.action, p.n_a, p.r_a, t.n,
                      1000000 * t.n // p.n_a AS w_raw_e6
               FROM per p CROSS JOIN tot t WHERE p.action = 'purchase'),
       gq AS (SELECT 'greedy_purchase' AS policy,
                     CAST(max(n) AS BIGINT) AS n_logged,
                     CAST(sum(n_a) AS BIGINT) AS n_matched,
                     CAST(sum(least(w_raw_e6, 10000000) * n_a) AS BIGINT) AS sum_w_e6,
                     CAST(sum(least(w_raw_e6, 10000000) * r_a) AS BIGINT) AS wr_e6,
                     CAST(sum(CASE WHEN w_raw_e6 > 10000000 THEN n_a ELSE 0 END)
                          AS BIGINT) AS n_clipped,
                     CAST(max(w_raw_e6) AS BIGINT) AS max_w_e6
              FROM grd),
       u AS (SELECT * FROM uq UNION ALL SELECT * FROM gq)
       SELECT policy, n_logged, n_matched, sum_w_e6,
              CAST(wr_e6 AS DOUBLE)
                / (CAST(n_logged AS DOUBLE) * CAST(1000000 AS DOUBLE))
                AS ips_value_cents,
              CAST(wr_e6 AS DOUBLE) / CAST(sum_w_e6 AS DOUBLE)
                AS snips_value_cents,
              CAST(n_clipped AS DOUBLE) / CAST(n_logged AS DOUBLE) AS clip_frac,
              max_w_e6
       FROM u""",
)
def _ips_policy_value(spark, sf_dir):
    """Off-policy value of two target policies over the event log as a
    logged bandit dataset (action = event_type, reward = cents,
    behavior propensity = empirical action share): clipped IPS and
    self-normalized SNIPS (Dudik/Langford OPE; clip per Bottou et al.
    2013, c=10). Weights collapse to per-ACTION exact e6 integers, so
    the whole estimator is ONE map-combined groupBy over the log plus
    arithmetic on an action-bounded relation — the evaluation side of
    the reference's make_click_train_data feedback loop, and the
    pre-deploy gate for any policy trained on it. operators/
    experiment.py:ips_policy_value."""
    from redshells_spark.operators.experiment import cents, ips_policy_value

    lg = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"), cents("value").alias("r")
    )
    uni = ips_policy_value(lg, "action", "r", None, "uniform", clip=10)
    grd = ips_policy_value(
        lg, "action", "r", ["purchase"], "greedy_purchase", clip=10
    )
    return uni.unionByName(grd)


# ------------------------------------------------- stratified ATE


@q(
    "propensity_stratified_ate",
    f"""WITH u AS (SELECT user_id,
                 max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS treat,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN {_CENTS_SQL} ELSE 0 END) AS BIGINT) AS y,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      AS BIGINT) AS x
          FROM events GROUP BY 1),
       lvl AS (SELECT x, CAST(count(*) AS BIGINT) AS n_l FROM u GROUP BY 1),
       lv2 AS (SELECT x, n_l,
                      CAST(coalesce(sum(n_l) OVER (ORDER BY x ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS cum_before
               FROM lvl),
       ut AS (SELECT CAST(sum(n_l) AS BIGINT) AS u_total FROM lvl),
       st AS (SELECT l.x, CAST(5 * l.cum_before // t.u_total AS BIGINT) AS stratum
              FROM lv2 l CROSS JOIN ut t),
       per AS (SELECT s.stratum,
                 CAST(sum(CASE WHEN u.treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                 CAST(sum(CASE WHEN u.treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                 CAST(sum(CASE WHEN u.treat = 1 THEN u.y ELSE 0 END) AS BIGINT) AS sy_t,
                 CAST(sum(CASE WHEN u.treat = 0 THEN u.y ELSE 0 END) AS BIGINT) AS sy_c
               FROM u JOIN st s ON s.x = u.x GROUP BY 1),
       ninc AS (SELECT CAST(sum(n_t + n_c) AS BIGINT) AS n_overlap
                FROM per WHERE n_t > 0 AND n_c > 0),
       ate AS (SELECT max(i.n_overlap) AS n_overlap,
                      round(sum(round(
                        (CAST(p.n_t + p.n_c AS DOUBLE) / CAST(i.n_overlap AS DOUBLE))
                        * (CAST(p.sy_t AS DOUBLE) / CAST(p.n_t AS DOUBLE)
                           - CAST(p.sy_c AS DOUBLE) / CAST(p.n_c AS DOUBLE)), 9)), 6)
                        AS ate_cents
               FROM per p CROSS JOIN ninc i WHERE p.n_t > 0 AND p.n_c > 0)
       SELECT p.stratum, p.n_t, p.n_c,
              CASE WHEN p.n_t > 0
                   THEN CAST(p.sy_t AS DOUBLE) / CAST(p.n_t AS DOUBLE) END
                AS mean_y_treated,
              CASE WHEN p.n_c > 0
                   THEN CAST(p.sy_c AS DOUBLE) / CAST(p.n_c AS DOUBLE) END
                AS mean_y_control,
              CASE WHEN p.n_t > 0 AND p.n_c > 0
                   THEN CAST(p.sy_t AS DOUBLE) / CAST(p.n_t AS DOUBLE)
                        - CAST(p.sy_c AS DOUBLE) / CAST(p.n_c AS DOUBLE) END
                AS diff_cents,
              a.n_overlap, a.ate_cents
       FROM per p CROSS JOIN ate a""",
)
def _propensity_stratified_ate(spark, sf_dir):
    """Subclassification ATE (Rosenbaum & Rubin 1984): does signing up
    cause purchase revenue, adjusting for engagement? Units = users,
    treatment = any signup event, outcome = purchase cents, covariate
    = click count, 5 quantile strata. The quantile boundaries come
    from the DISTINCT-CLICK-COUNT level table (weighted-median
    pattern: the only window runs over bounded distinct values, never
    users), per-stratum cells are exact int64, and the overlap-
    weighted ATE sums <= 5 round-9 double terms. operators/
    experiment.py:stratified_ate."""
    from redshells_spark.operators.experiment import cents, stratified_ate

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("treat"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
        )
        .cast("long")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    return stratified_ate(units, "treat", "y", "x", n_strata=5)


# ------------------------------------------------- diff-in-diff


@q(
    "diff_in_diff",
    f"""WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m
                FROM events),
       b AS (SELECT event_type,
                    CAST(user_id % 2 AS BIGINT) AS treat,
                    CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                         THEN 1 ELSE 0 END AS post,
                    {_CENTS_SQL} AS r
             FROM events),
       agg AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN r ELSE 0 END) AS BIGINT) AS s_t0,
                 CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN r ELSE 0 END) AS BIGINT) AS s_t1,
                 CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN r ELSE 0 END) AS BIGINT) AS s_c0,
                 CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN r ELSE 0 END) AS BIGINT) AS s_c1,
                 CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
                 CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
                 CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
                 CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1
               FROM b GROUP BY 1)
       SELECT event_type, n_total,
              CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE) AS mean_treat_pre,
              CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE) AS mean_treat_post,
              CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE) AS mean_ctrl_pre,
              CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE) AS mean_ctrl_post,
              (CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)
               - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE))
              - (CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)
                 - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)) AS did_cents
       FROM agg""",
)
def _diff_in_diff(spark, sf_dir):
    """Two-group two-period difference-in-differences of mean event
    value per event type (Card & Krueger form): treatment = odd
    user_id, period split at the global time midpoint. One exact
    min/max pass for the split point, then ONE map-combined
    aggregation building all eight (sum, count) cells per type — each
    mean is a single double division of exact ints. Event-type-bounded
    output; no second shuffle. operators/experiment.py:diff_in_diff."""
    from redshells_spark.operators.experiment import cents, diff_in_diff

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    base = ev.select("event_type", "user_id", "value", us)
    mid = base.agg(
        F.expr("(min(us) + max(us)) div 2").cast("long").alias("mid_us")
    )
    b = base.crossJoin(F.broadcast(mid)).select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("treat"),
        (F.col("us") >= F.col("mid_us")).cast("int").alias("post"),
        cents("value").alias("r"),
    )
    return diff_in_diff(b, ["event_type"], "treat", "post", "r")


# ------------------------------------------------- CUPED


@q(
    "cuped_adjusted_metrics",
    f"""WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m
                FROM events),
       u AS (SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
                    CAST(sum(CASE WHEN epoch_us(ts) < (SELECT m FROM mid)
                                  THEN {_CENTS_SQL} ELSE 0 END) AS BIGINT) AS x,
                    CAST(sum(CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                                  THEN {_CENTS_SQL} ELSE 0 END) AS BIGINT) AS y
             FROM events GROUP BY 1),
       pooled AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM u),
       th AS (SELECT n, sx,
                     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
                     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho2
              FROM pooled),
       pv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_units,
                     CAST(sum(x) AS BIGINT) AS svx,
                     CAST(sum(y) AS BIGINT) AS svy
              FROM u GROUP BY 1)
       SELECT v.variant, v.n_units,
              CAST(v.svx AS DOUBLE) / CAST(v.n_units AS DOUBLE) AS mean_pre_cents,
              CAST(v.svy AS DOUBLE) / CAST(v.n_units AS DOUBLE) AS mean_post_cents,
              t.theta,
              CAST(v.svy AS DOUBLE) / CAST(v.n_units AS DOUBLE)
              - t.theta * (CAST(v.svx AS DOUBLE) / CAST(v.n_units AS DOUBLE)
                           - CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE))
                AS adj_mean_post_cents,
              t.rho2 AS variance_reduction
       FROM pv v CROSS JOIN th t""",
)
def _cuped_adjusted_metrics(spark, sf_dir):
    """CUPED-adjusted A/B readout (Deng et al. WSDM 2013): per-user
    pre-period spend as the control covariate for post-period spend,
    variant = user parity, pooled theta = cov(X,Y)/var(X). The five
    pooled sums are exact int64 from one per-user pass; theta / rho^2
    / adjusted means are double expressions over those exact integers
    (n*Sxy would overflow int64 at ~1e6 heavy users, so the combine
    step is float-on-exact-ints — bit-deterministic on both engines).
    This is THE variance-reduction workhorse for experiment readouts
    over warehouse-scale logs. operators/experiment.py:cuped_adjusted."""
    from redshells_spark.operators.experiment import cents, cuped_adjusted

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    base = ev.select("user_id", "value", us)
    mid = base.agg(
        F.expr("(min(us) + max(us)) div 2").cast("long").alias("mid_us")
    )
    per_user = (
        base.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid_us"), cents("value")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("us") >= F.col("mid_us"), cents("value")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("long"))
    )
    return cuped_adjusted(per_user, "variant", "x", "y")


# ------------------------------------------------- autocorrelation


@q(
    "autocorrelation_lags",
    f"""WITH r AS (SELECT min(epoch_us(ts)) // {_DAY_US} AS mn,
                     max(epoch_us(ts)) // {_DAY_US} AS mx FROM events),
       days AS (SELECT unnest(range(r.mn, r.mx + 1)) AS day FROM r),
       e AS (SELECT epoch_us(ts) // {_DAY_US} AS day,
                    CAST(count(*) AS BIGINT) AS n
             FROM events GROUP BY 1),
       c AS (SELECT d.day, CAST(coalesce(e.n, 0) AS BIGINT) AS n
             FROM days d LEFT JOIN e USING (day)),
       lags AS (SELECT unnest(range(1, 8)) AS lag),
       p AS (SELECT l.lag,
                    CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(sum(a.n) AS BIGINT) AS sa,
                    CAST(sum(b.n) AS BIGINT) AS sb,
                    CAST(sum(a.n * b.n) AS BIGINT) AS sab,
                    CAST(sum(a.n * a.n) AS BIGINT) AS saa,
                    CAST(sum(b.n * b.n) AS BIGINT) AS sbb
             FROM c a CROSS JOIN lags l JOIN c b ON b.day = a.day + l.lag
             GROUP BY 1)
       SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
              CASE WHEN sqrt((CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                             * (CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
                                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) > 0
                   THEN round((CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                              / sqrt((CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
                                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                                     * (CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
                                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
              END AS acf
       FROM p""",
)
def _autocorrelation_lags(spark, sf_dir):
    """Daily-event-count autocorrelation at lags 1..7 — the weekly
    periodicity / burst-structure probe for event streams. The fact
    table collapses to a DENSE zero-filled day series first (bounded
    by the observation window, not the event count), so the lag
    self-join and the six exact int64 sums per lag run on a tiny
    relation at any scale; each correlation is one double formula
    over those ints. operators/drift.py:lagged_autocorrelation."""
    from redshells_spark.operators.drift import lagged_autocorrelation

    ev = _t(spark, sf_dir, "events")
    day = F.expr(f"us div {_DAY_US}").alias("day")
    e = ev.select(event_us(ev).alias("us")).select(day).groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rng = e.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    days = rng.select(F.explode(F.sequence("mn", "mx")).alias("day"))
    dense = days.join(e, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    return lagged_autocorrelation(dense, "day", "n", max_lag=7)


# ------------------------------------------------- Kaplan-Meier


@q(
    "kaplan_meier_churn",
    f"""WITH gm AS (SELECT max(epoch_us(ts)) AS mx FROM events),
       u AS (SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
             FROM events GROUP BY 1),
       d AS (SELECT (l - f) // {_HOUR_US} AS t,
                    CASE WHEN l > (SELECT mx FROM gm) - {12 * _HOUR_US}
                         THEN 0 ELSE 1 END AS ev
             FROM u),
       lvl AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at_t,
                      CAST(sum(ev) AS BIGINT) AS d_at_t
               FROM d GROUP BY 1),
       tot AS (SELECT CAST(sum(n_at_t) AS BIGINT) AS n_total FROM lvl),
       lv2 AS (SELECT t, n_at_t, d_at_t,
                      CAST((SELECT n_total FROM tot)
                           - coalesce(sum(n_at_t) OVER (ORDER BY t ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
               FROM lvl),
       lv3 AS (SELECT t, d_at_t, n_risk,
                      CASE WHEN d_at_t >= n_risk THEN CAST(-1e30 AS DOUBLE)
                           WHEN d_at_t > 0
                           THEN ln(CAST(1 AS DOUBLE)
                                   - CAST(d_at_t AS DOUBLE) / CAST(n_risk AS DOUBLE))
                           ELSE CAST(0 AS DOUBLE) END AS ln_term
               FROM lv2),
       s AS (SELECT t, n_risk, d_at_t,
                    round(exp(sum(ln_term) OVER (ORDER BY t ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                      AS survival
             FROM lv3)
       SELECT CAST(t AS BIGINT) AS duration_hours, n_risk,
              d_at_t AS n_events, survival
       FROM s WHERE d_at_t > 0""",
)
def _kaplan_meier_churn(spark, sf_dir):
    """Kaplan-Meier user-lifetime survival curve (Kaplan & Meier 1958)
    with right-censoring: lifetime = hours between a user's first and
    last event; users still active in the final 12 hours of the
    observation window are censored (the testdata log spans ~30 days
    with hour-scale idle gaps — hour granularity is what makes the
    death distribution non-degenerate). The estimator runs on the
    DISTINCT-DURATION level table (bounded by the window's hour count,
    never by user count), so past one per-user min/max pass the plan
    is scale-free; at-risk counts are exact int64 prefix sums and the
    survival product is exp(cumsum(ln)) in pinned ascending order,
    rounded to 6. operators/survival.py:kaplan_meier."""
    from redshells_spark.operators.survival import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    u = (
        ev.select("user_id", us)
        .groupBy("user_id")
        .agg(F.min("us").alias("f"), F.max("us").alias("l"))
    )
    gm = u.agg(F.max("l").alias("mx"))
    d = u.crossJoin(F.broadcast(gm)).select(
        F.expr(f"(l - f) div {_HOUR_US}").cast("long").alias("duration_hours"),
        F.when(F.col("l") > F.col("mx") - F.lit(12 * _HOUR_US), 0)
        .otherwise(1)
        .alias("event"),
    )
    return kaplan_meier(d, "duration_hours", "event")


# ------------------------------------------------- Frechet distance


@q(
    "frechet_embedding_distance",
    """WITH ex AS (SELECT label AS grp, generate_subscripts(embedding, 1) AS dim,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings),
       m AS (SELECT grp, dim, CAST(count(*) AS BIGINT) AS n,
                    round(sum(v), 9) AS s1, round(sum(v * v), 9) AS s2
             FROM ex GROUP BY 1, 2),
       mm AS (SELECT grp, dim, n,
                     s1 / CAST(n AS DOUBLE) AS mean,
                     greatest(s2 / CAST(n AS DOUBLE)
                              - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),
                              CAST(0 AS DOUBLE)) AS var
              FROM m),
       p AS (SELECT a.grp AS group_a, b.grp AS group_b, a.n AS n_a, b.n AS n_b,
                    round((a.mean - b.mean) * (a.mean - b.mean), 9) AS md9,
                    round(a.var + b.var
                          - CAST(2 AS DOUBLE) * sqrt(a.var * b.var), 9) AS cd9
             FROM mm a JOIN mm b ON a.dim = b.dim AND a.grp < b.grp)
       SELECT CAST(group_a AS BIGINT) AS group_a, CAST(group_b AS BIGINT) AS group_b,
              CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
              round(sum(md9), 6) AS mean_dist2,
              round(sum(cd9), 6) AS cov_dist2,
              round(sum(md9) + sum(cd9), 6) AS fd2
       FROM p GROUP BY 1, 2""",
)
def _frechet_embedding_distance(spark, sf_dir):
    """Diagonal-covariance Frechet distance (the FID construction,
    Heusel et al. 2017) between every pair of embedding label groups —
    distribution-level drift between sources/snapshots of an embedding
    column, where pairwise row similarity is the wrong tool. The fact
    table reduces to (group, dim) first/second moments in ONE explode +
    aggregation; the pair join runs over |groups| x dims summary rows.
    Round-9 moment sums absorb cross-engine double reassociation;
    everything downstream is scalar math on identical doubles.
    similarity/distribution.py:frechet_diagonal_distance."""
    from redshells_spark.similarity.distribution import frechet_diagonal_distance

    emb = _t(spark, sf_dir, "embeddings")
    out = frechet_diagonal_distance(emb, "label", "embedding")
    return out.select(
        F.col("group_a").cast("long").alias("group_a"),
        F.col("group_b").cast("long").alias("group_b"),
        "n_a",
        "n_b",
        "mean_dist2",
        "cov_dist2",
        "fd2",
    )


# ------------------------------------------------- Heaps' law


@q(
    "heaps_law_fit",
    f"""WITH {_TOK_SQL},
       mx AS (SELECT max(doc_id) AS md FROM documents),
       tb AS (SELECT t.doc_id * 10 // (mx.md + 1) AS bucket, t.token
              FROM tok t CROSS JOIN mx),
       cnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok FROM tb GROUP BY 1),
       fst AS (SELECT token, CAST(min(bucket) AS BIGINT) AS fb FROM tb GROUP BY 1),
       vcb AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new
               FROM fst GROUP BY 1),
       cum AS (SELECT c.bucket,
                      CAST(sum(c.n_tok) OVER (ORDER BY c.bucket ASC) AS BIGINT)
                        AS cum_tokens,
                      CAST(sum(coalesce(v.n_new, 0)) OVER (ORDER BY c.bucket ASC)
                        AS BIGINT) AS cum_vocab
               FROM cnt c LEFT JOIN vcb v USING (bucket)),
       pt AS (SELECT CAST(count(*) AS BIGINT) AS np,
                     sum(ln(CAST(cum_tokens AS DOUBLE))) AS sx,
                     sum(ln(CAST(cum_vocab AS DOUBLE))) AS sy,
                     sum(ln(CAST(cum_tokens AS DOUBLE))
                         * ln(CAST(cum_vocab AS DOUBLE))) AS sxy,
                     sum(ln(CAST(cum_tokens AS DOUBLE))
                         * ln(CAST(cum_tokens AS DOUBLE))) AS sxx
              FROM cum)
       SELECT CAST(cum.bucket AS BIGINT) AS bucket, cum.cum_tokens, cum.cum_vocab,
              round((CAST(np AS DOUBLE) * sxy - sx * sy)
                    / (CAST(np AS DOUBLE) * sxx - sx * sx), 6) AS heaps_beta,
              round(exp((sy - ((CAST(np AS DOUBLE) * sxy - sx * sy)
                               / (CAST(np AS DOUBLE) * sxx - sx * sx)) * sx)
                        / CAST(np AS DOUBLE)), 6) AS heaps_k
       FROM cum CROSS JOIN pt""",
)
def _heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit V(n) = K * n^beta of vocabulary growth: docs are
    split into 10 ordered doc_id ranges, cumulative token totals and
    first-occurrence vocabulary counts per range are exact int64, and
    (beta, K) come from a 10-point log-log OLS — the corpus-growth
    profile that predicts vocab size (and tokenizer OOV pressure) at
    1000x the data from a prefix. Token totals and min-first-bucket
    are map-combinable; the only window runs over the 10-row bucket
    relation. Companion to vocab_coverage_curve / hill_tail_index."""
    toks = _tokens(spark, sf_dir)
    mx = toks.agg(F.max("doc_id").alias("md"))
    tb = toks.crossJoin(F.broadcast(mx)).select(
        F.expr("doc_id * 10 div (md + 1)").cast("long").alias("bucket"),
        F.explode("tokens").alias("token"),
    )
    cnt = tb.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    fst = tb.groupBy("token").agg(F.min("bucket").cast("long").alias("fb"))
    vcb = fst.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        cnt.join(vcb, "bucket", "left")
        .select("bucket", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            "bucket",
            F.sum("n_tok").over(w).cast("long").alias("cum_tokens"),
            F.sum("n_new").over(w).cast("long").alias("cum_vocab"),
        )
    )
    lx = F.log(F.col("cum_tokens").cast("double"))
    ly = F.log(F.col("cum_vocab").cast("double"))
    pt = cum.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    beta = (d("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        d("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return cum.crossJoin(F.broadcast(pt)).select(
        F.col("bucket").cast("long").alias("bucket"),
        "cum_tokens",
        "cum_vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp((F.col("sy") - beta * F.col("sx")) / d("np")), 6).alias(
            "heaps_k"
        ),
    )


# ------------------------------------------------- graph modularity


@q(
    "graph_modularity",
    """WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (SELECT src, dst FROM e0
                 UNION SELECT dst AS src, src AS dst FROM e0),
       cm AS (SELECT 'c' || c_custkey AS node, n_name AS community
              FROM customer JOIN nation ON n_nationkey = c_nationkey
              UNION ALL
              SELECT 's' || s_suppkey AS node, n_name AS community
              FROM supplier JOIN nation ON n_nationkey = s_nationkey),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
       dc AS (SELECT m.community, CAST(sum(d.deg) AS BIGINT) AS degree_sum
              FROM deg d JOIN cm m ON m.node = d.src GROUP BY 1),
       ac AS (SELECT ms.community, CAST(count(*) AS BIGINT) AS internal_arcs
              FROM edges e JOIN cm ms ON ms.node = e.src
                           JOIN cm md ON md.node = e.dst
              WHERE ms.community = md.community GROUP BY 1),
       tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM edges),
       per AS (SELECT d.community,
                      CAST(coalesce(a.internal_arcs, 0) AS BIGINT) AS internal_arcs,
                      d.degree_sum,
                      round(CAST(coalesce(a.internal_arcs, 0) AS DOUBLE)
                              / CAST(t.two_m AS DOUBLE)
                            - (CAST(d.degree_sum AS DOUBLE) / CAST(t.two_m AS DOUBLE))
                              * (CAST(d.degree_sum AS DOUBLE) / CAST(t.two_m AS DOUBLE)),
                            9) AS q_term
               FROM dc d LEFT JOIN ac a USING (community) CROSS JOIN tm t)
       SELECT community, internal_arcs, degree_sum, q_term FROM per
       UNION ALL
       SELECT '__total__' AS community,
              CAST(sum(internal_arcs) AS BIGINT) AS internal_arcs,
              CAST(sum(degree_sum) AS BIGINT) AS degree_sum,
              round(sum(q_term), 6) AS q_term
       FROM per""",
)
def _graph_modularity(spark, sf_dir):
    """Newman modularity of the nation partition over the symmetrized
    customer-supplier co-purchase graph (Newman & Girvan 2004): does
    trade cluster along nations? Q = sum_c[a_c/2m - (d_c/2m)^2] with
    exact int64 arc/degree masses from the SAME cached edge relation
    pagerank_copurchase and the BFS queries consume; q_terms are
    round-9 doubles summed over the nation-bounded relation (round-6
    '__total__' row). Degree groupBy + two community joins — no window
    ever touches the edge list. operators/graph.py:partition_modularity."""
    from redshells_spark.operators.graph import partition_modularity
    from redshells_spark.queries.text import (
        _copurchase_deg,
        _copurchase_edges_weighted,
    )

    edges = _copurchase_edges_weighted(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cm = (
        cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"),
            F.col("n_name").alias("community"),
        )
        .unionByName(
            supp.join(nat, supp["s_nationkey"] == nat["n_nationkey"]).select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"),
                F.col("n_name").alias("community"),
            )
        )
    )
    return partition_modularity(
        edges, cm, "node", "community", degrees=_copurchase_deg(spark, sf_dir)
    )


# ------------------------------------------------- Brier decomposition


@q(
    "brier_decomposition",
    """WITH b AS (SELECT ((event_id * 1103515245 + 12345) % 2147483647) % 1000001
                    AS p_e6,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
              FROM events),
       bb AS (SELECT p_e6 * 10 // 1000001 AS bin, p_e6, o FROM b),
       per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(p_e6) AS BIGINT) AS sp,
                      CAST(sum(o) AS BIGINT) AS so,
                      CAST(sum(p_e6 * p_e6) AS BIGINT) AS spp,
                      CAST(sum(p_e6 * o) AS BIGINT) AS spo
               FROM bb GROUP BY 1),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(so) AS BIGINT) AS soo,
                      CAST(sum(spp) AS BIGINT) AS sppt,
                      CAST(sum(spo) AS BIGINT) AS spot,
                      CAST(sum(sp) AS BIGINT) AS spt
               FROM per),
       terms AS (SELECT p.bin, p.n, p.sp, p.so,
                        round(CAST(p.n AS DOUBLE)
                              * (CAST(p.sp AS DOUBLE)
                                   / (CAST(p.n AS DOUBLE) * CAST(1000000 AS DOUBLE))
                                 - CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE))
                              * (CAST(p.sp AS DOUBLE)
                                   / (CAST(p.n AS DOUBLE) * CAST(1000000 AS DOUBLE))
                                 - CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE)), 9)
                          AS rel9,
                        round(CAST(p.n AS DOUBLE)
                              * (CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE)
                                 - CAST(t.soo AS DOUBLE) / CAST(t.nn AS DOUBLE))
                              * (CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE)
                                 - CAST(t.soo AS DOUBLE) / CAST(t.nn AS DOUBLE)), 9)
                          AS res9
                 FROM per p CROSS JOIN tot t),
       summ AS (SELECT round(sum(rel9) / CAST(max(t.nn) AS DOUBLE), 6) AS reliability,
                       round(sum(res9) / CAST(max(t.nn) AS DOUBLE), 6) AS resolution,
                       round(CAST(max(t.soo) AS DOUBLE) / CAST(max(t.nn) AS DOUBLE)
                             * (CAST(1 AS DOUBLE)
                                - CAST(max(t.soo) AS DOUBLE) / CAST(max(t.nn) AS DOUBLE)),
                             6) AS uncertainty,
                       round((CAST(max(t.sppt) AS DOUBLE)
                                / (CAST(1000000 AS DOUBLE) * CAST(1000000 AS DOUBLE))
                              - CAST(2 AS DOUBLE) * CAST(max(t.spot) AS DOUBLE)
                                / CAST(1000000 AS DOUBLE)
                              + CAST(max(t.soo) AS DOUBLE))
                             / CAST(max(t.nn) AS DOUBLE), 6) AS brier
                FROM terms c CROSS JOIN tot t)
       SELECT c.bin, c.n,
              CAST(c.sp AS DOUBLE) / (CAST(c.n AS DOUBLE) * CAST(1000000 AS DOUBLE))
                AS mean_p,
              CAST(c.so AS DOUBLE) / CAST(c.n AS DOUBLE) AS frac_pos,
              s.brier, s.reliability, s.resolution, s.uncertainty
       FROM terms c CROSS JOIN summ s""",
)
def _brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score (Murphy 1973):
    brier = reliability - resolution + uncertainty over 10 probability
    bins, for a deterministic hash-synthesized forecast of the
    purchase outcome (the same multiplicative-hash score discipline
    the sampling queries use — no engine RNG). Complements
    expected_calibration_error: ECE measures miscalibration magnitude,
    the decomposition splits skill into calibration vs discrimination.
    Bin cells are exact int64 from one pass; REL/RES terms are round-9
    doubles over a 10-row relation; the identity
    brier ~= rel - res + unc is pinned in tests/test_r7_ops.py."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        F.expr("((event_id * 1103515245 + 12345) % 2147483647) % 1000001")
        .cast("long")
        .alias("p_e6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    bb = b.select(F.expr("p_e6 * 10 div 1000001").cast("long").alias("bin"), "p_e6", "o")
    per = bb.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p_e6").cast("long").alias("sp"),
        F.sum("o").cast("long").alias("so"),
        F.sum(F.col("p_e6") * F.col("p_e6")).cast("long").alias("spp"),
        F.sum(F.col("p_e6") * F.col("o")).cast("long").alias("spo"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("so").cast("long").alias("soo"),
        F.sum("spp").cast("long").alias("sppt"),
        F.sum("spo").cast("long").alias("spot"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    e6d = F.lit(1000000.0)
    terms = per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "sp",
        "so",
        "nn",
        "soo",
        "sppt",
        "spot",
        F.round(
            d("n")
            * (d("sp") / (d("n") * e6d) - d("so") / d("n"))
            * (d("sp") / (d("n") * e6d) - d("so") / d("n")),
            9,
        ).alias("rel9"),
        F.round(
            d("n")
            * (d("so") / d("n") - d("soo") / d("nn"))
            * (d("so") / d("n") - d("soo") / d("nn")),
            9,
        ).alias("res9"),
    )
    summ = terms.agg(
        F.round(F.sum("rel9") / F.max("nn").cast("double"), 6).alias("reliability"),
        F.round(F.sum("res9") / F.max("nn").cast("double"), 6).alias("resolution"),
        F.round(
            F.max("soo").cast("double")
            / F.max("nn").cast("double")
            * (F.lit(1.0) - F.max("soo").cast("double") / F.max("nn").cast("double")),
            6,
        ).alias("uncertainty"),
        F.round(
            (
                F.max("sppt").cast("double") / (e6d * e6d)
                - F.lit(2.0) * F.max("spot").cast("double") / e6d
                + F.max("soo").cast("double")
            )
            / F.max("nn").cast("double"),
            6,
        ).alias("brier"),
    )
    return terms.crossJoin(F.broadcast(summ)).select(
        "bin",
        "n",
        (d("sp") / (d("n") * e6d)).alias("mean_p"),
        (d("so") / d("n")).alias("frac_pos"),
        "brier",
        "reliability",
        "resolution",
        "uncertainty",
    )
