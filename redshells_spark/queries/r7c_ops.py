"""Round-7 batch 3: survival/duration completion (Nelson-Aalen
cumulative hazard, two-sample log-rank test), multi-objective readouts
(exact Pareto-frontier skyline via a domain-bounded level table),
self-join-size estimation (AMS F2 tug-of-war sketch vs the exact
second moment), per-group 2x2 PCA (closed-form eigen readout from
exact integer moments), deterministic graph communities (min-label
propagation) and truncated Katz centrality as exact walk counts,
quantile forecast evaluation (pinball loss on integer cents),
privacy auditing (l-diversity on top of the k-anonymity audit),
classic LM smoothing (Good-Turing frequency-of-frequencies) and the
Zipf rank-frequency fit, sequential behavior mining (first-occurrence
event-order motifs), and distribution-level causal readout (quantile
treatment effects via distributed rank selection).

Shared determinism discipline (the r6/r7 house style): every
cross-row aggregation is exact int64 — transcendental per-row terms
(ln/entropy/expected-count formulas over exact integer inputs) are
quantized with floor(x*1e9 + 0.5) BEFORE summation; doubles appear
only in final single-shot scalar formulas, rounded in-query on both
engines. Windows run over domain-bounded level tables (distinct
durations, order-count levels, 16 sketch replicas, top-100 vocab),
never over fact-proportional row sets; the one fact-scale order
statistic (QTE) goes through data/sharding.distributed_rank.

Reference parity notes: survival/uplift/causal readouts extend the
reference's logged-feedback evaluation surface
(app/word_item_similarity/make_click_train_data.py); the token-level
statistics ride the same corpus relations as train_dictionary
(train/train_dictionary.py) and tfidf.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000

_CENTS = "CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
_VCENTS = "CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"

# churn-duration derivation shared by the survival family (identical
# to kaplan_meier_churn's: lifetime in hours, censor-at-window-tail)
_CHURN_SQL = f"""gm AS (SELECT max(epoch_us(ts)) AS mx FROM events),
       u AS (SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
             FROM events GROUP BY 1),
       d AS (SELECT user_id, (l - f) // {_HOUR_US} AS t,
                    CASE WHEN l > (SELECT mx FROM gm) - {12 * _HOUR_US}
                         THEN 0 ELSE 1 END AS ev
             FROM u)"""


def _churn_durations(spark, sf_dir):
    """(user_id, duration_hours, event) — the KM/NA/log-rank input."""
    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    u = (
        ev.select("user_id", us)
        .groupBy("user_id")
        .agg(F.min("us").alias("f"), F.max("us").alias("l"))
    )
    gm = u.agg(F.max("l").alias("mx"))
    return u.crossJoin(F.broadcast(gm)).select(
        "user_id",
        F.expr(f"(l - f) div {_HOUR_US}").cast("long").alias("duration_hours"),
        F.when(F.col("l") > F.col("mx") - F.lit(12 * _HOUR_US), 0)
        .otherwise(1)
        .alias("event"),
    )


# ------------------------------------------------ Nelson-Aalen hazard


@q(
    "nelson_aalen_hazard",
    f"""WITH {_CHURN_SQL},
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
       lv3 AS (SELECT t, n_risk, d_at_t,
                      CAST(d_at_t * 1000000000 // n_risk AS BIGINT) AS haz_e9,
                      CAST(d_at_t * 1000000000000 // (n_risk * n_risk) AS BIGINT)
                        AS var_e12
               FROM lv2),
       s AS (SELECT t, n_risk, d_at_t,
                    CAST(sum(haz_e9) OVER wt AS BIGINT) AS cum_haz_e9,
                    CAST(sum(var_e12) OVER wt AS BIGINT) AS cum_var_e12
             FROM lv3
             WINDOW wt AS (ORDER BY t ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT CAST(t AS BIGINT) AS duration_hours, n_risk,
              d_at_t AS n_events,
              round(CAST(cum_haz_e9 AS DOUBLE)
                    / CAST(1000000000 AS DOUBLE), 6) AS cum_hazard,
              round(sqrt(CAST(cum_var_e12 AS DOUBLE)
                         / CAST(1000000000000 AS DOUBLE)), 6) AS hazard_se
       FROM s WHERE d_at_t > 0""",
)
def _nelson_aalen_hazard(spark, sf_dir):
    """Nelson-Aalen cumulative user-churn hazard H(t) = sum(d_i/n_i)
    (Aalen 1978) over the same lifetime/censoring derivation as
    kaplan_meier_churn. STRONGER determinism than KM's exp(cumsum(ln)):
    each hazard increment is the pure integer division d*1e9 div n
    (variance: d*1e12 div n^2), so the cumulative sums are exact int64
    — no float is ever aggregated anywhere. Runs entirely on the
    distinct-duration level table (bounded by the observation window's
    hour count, never user count). operators/survival.py:nelson_aalen."""
    from redshells_spark.operators.survival import nelson_aalen

    d = _churn_durations(spark, sf_dir).select("duration_hours", "event")
    return nelson_aalen(d, "duration_hours", "event")


# ------------------------------------------------- log-rank test


@q(
    "log_rank_churn",
    f"""WITH {_CHURN_SQL},
       dg AS (SELECT t, ev, CAST(user_id % 2 AS BIGINT) AS g FROM d),
       lvl AS (SELECT t,
                CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
                CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
                CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d1,
                CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d2
               FROM dg GROUP BY 1),
       tot AS (SELECT CAST(sum(a1) AS BIGINT) AS t1,
                      CAST(sum(a2) AS BIGINT) AS t2 FROM lvl),
       lv2 AS (SELECT t, d1, d2,
                CAST((SELECT t1 FROM tot)
                     - coalesce(sum(a1) OVER wb, 0) AS BIGINT) AS n1r,
                CAST((SELECT t2 FROM tot)
                     - coalesce(sum(a2) OVER wb, 0) AS BIGINT) AS n2r
               FROM lvl
               WINDOW wb AS (ORDER BY t ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       lv3 AS (SELECT d1, d2, n1r, n2r,
                      CAST(d1 + d2 AS BIGINT) AS dj,
                      CAST(n1r + n2r AS BIGINT) AS nj
               FROM lv2 WHERE d1 + d2 > 0),
       lv4 AS (SELECT d1, d2,
                CAST(floor(CAST(dj AS DOUBLE) * CAST(n1r AS DOUBLE)
                           / CAST(nj AS DOUBLE)
                           * CAST(1000000000 AS DOUBLE)
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS e1_e9,
                CASE WHEN nj > 1 THEN
                  CAST(floor(CAST(dj AS DOUBLE) * CAST(n1r AS DOUBLE)
                             / CAST(nj AS DOUBLE)
                             * CAST(n2r AS DOUBLE) / CAST(nj AS DOUBLE)
                             * CAST(nj - dj AS DOUBLE)
                             / CAST(nj - 1 AS DOUBLE)
                             * CAST(1000000000 AS DOUBLE)
                             + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE 0 END AS v_e9
               FROM lv3),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
                      CAST(sum(d1) AS BIGINT) AS o1,
                      CAST(sum(d2) AS BIGINT) AS o2,
                      CAST(sum(e1_e9) AS BIGINT) AS se1,
                      CAST(sum(v_e9) AS BIGINT) AS sv
               FROM lv4)
       SELECT n_times, o1, o2,
              round(CAST(se1 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS e1,
              round(CAST(sv AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS var_lr,
              round((CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)
                     / CAST(1000000000 AS DOUBLE))
                    * (CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)
                       / CAST(1000000000 AS DOUBLE))
                    / (CAST(sv AS DOUBLE) / CAST(1000000000 AS DOUBLE)), 6)
                AS chi2,
              round((CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)
                     / CAST(1000000000 AS DOUBLE))
                    / sqrt(CAST(sv AS DOUBLE) / CAST(1000000000 AS DOUBLE)), 6)
                AS z
       FROM agg""",
)
def _log_rank_churn(spark, sf_dir):
    """Two-sample log-rank test (Mantel 1966) comparing the churn
    hazard of even vs odd user cohorts over the shared lifetime
    derivation: per event time the expected-death and hypergeometric-
    variance terms are single double expressions over exact int64
    level counts, floor(x*1e9+0.5)-quantized BEFORE aggregation, so
    the test statistic is bit-stable under any partition order. The
    whole test runs on the distinct-duration level table.
    operators/survival.py:log_rank."""
    from redshells_spark.operators.survival import log_rank

    d = _churn_durations(spark, sf_dir).select(
        "duration_hours", "event", (F.col("user_id") % 2).cast("long").alias("grp")
    )
    return log_rank(d, "duration_hours", "event", "grp")


# ------------------------------------------------- Pareto frontier


@q(
    "pareto_frontier_spend",
    f"""WITH c AS (SELECT o_custkey,
                CAST(sum({_CENTS}) AS BIGINT) AS spend_e2,
                CAST(count(*) AS BIGINT) AS n_orders
              FROM orders GROUP BY 1),
       lvl AS (SELECT n_orders, CAST(max(spend_e2) AS BIGINT) AS ms
               FROM c GROUP BY 1),
       l2 AS (SELECT n_orders, ms,
                     max(ms) OVER (ORDER BY n_orders DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS m_above
              FROM lvl)
       SELECT c.o_custkey AS custkey, c.spend_e2, c.n_orders
       FROM c JOIN l2 USING (n_orders)
       WHERE c.spend_e2 = l2.ms
         AND (l2.m_above IS NULL OR c.spend_e2 > l2.m_above)""",
)
def _pareto_frontier_spend(spark, sf_dir):
    """Exact 2-D Pareto frontier (skyline, Borzsony et al. 2001) of
    customers on (total spend, order count): a customer survives iff
    no other weakly dominates it on both axes with one strict. The
    trick that makes this scale-free: dominance only needs the
    ORDER-COUNT LEVEL TABLE (max spend per distinct order count — a
    domain bounded by per-customer order multiplicity, ~tens of
    values, never customer count). A point survives iff its spend
    equals its level's max AND beats the suffix-max of all strictly
    higher levels — one tiny window + one broadcast join back, no
    fact-scale sort anywhere."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(money_units(F.col("o_totalprice"), 100)).cast("long").alias("spend_e2"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    lvl = c.groupBy("n_orders").agg(F.max("spend_e2").cast("long").alias("ms"))
    w = Window.orderBy(F.col("n_orders").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    l2 = lvl.withColumn("m_above", F.max("ms").over(w))
    return (
        c.join(F.broadcast(l2), "n_orders")
        .filter(
            (F.col("spend_e2") == F.col("ms"))
            & (F.col("m_above").isNull() | (F.col("spend_e2") > F.col("m_above")))
        )
        .select(F.col("o_custkey").alias("custkey"), "spend_e2", "n_orders")
    )


# ------------------------------------------------- AMS F2 sketch


@q(
    "ams_f2_join_size",
    """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1),
       f2 AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_f2 FROM c),
       reps AS (SELECT unnest(generate_series(0, 15)) AS rep),
       s AS (SELECT r.rep,
                CAST(sum(CASE WHEN substr(md5(CAST(c.user_id AS VARCHAR)
                                           || ':' || CAST(r.rep AS VARCHAR)), 1, 1)
                              IN ('0','2','4','6','8','a','c','e')
                         THEN c.cnt ELSE -c.cnt END) AS BIGINT) AS counter
             FROM c CROSS JOIN reps r GROUP BY 1),
       e AS (SELECT rep, CAST(counter * counter AS BIGINT) AS est,
                    row_number() OVER (ORDER BY counter * counter, rep) AS rk
             FROM s),
       med AS (SELECT CAST((min(CASE WHEN rk = 8 THEN est END)
                            + min(CASE WHEN rk = 9 THEN est END)) // 2
                        AS BIGINT) AS ams_est
               FROM e)
       SELECT f2.exact_f2, med.ams_est,
              CAST(abs(med.ams_est - f2.exact_f2) * 1000000 // f2.exact_f2
                AS BIGINT) AS abs_rel_err_e6
       FROM f2 CROSS JOIN med""",
)
def _ams_f2_join_size(spark, sf_dir):
    """AMS tug-of-war sketch (Alon, Matias & Szegedy 1996) estimating
    the events self-join size on user_id (F2 = sum of squared key
    frequencies — the classic join-cardinality planning statistic),
    checked against the exact second moment. 16 +/-1 replicas keyed on
    md5 parity (identical hex in both engines); each replica counter is
    one exact int64 sum over the per-user count relation (16x a
    USER-level relation, not 16x the fact table), the estimate is the
    median replica counter^2 (floor-mean of ranks 8/9), and the
    reported relative error is integer-quantized. The sketch side is
    what survives at 100 TB; the exact side is the grading contract."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    f2 = c.agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("exact_f2"))
    reps = spark.range(16).select(F.col("id").cast("long").alias("rep"))
    s = (
        c.crossJoin(F.broadcast(reps))
        .select(
            "rep",
            F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.col("rep").cast("string"),
                        )
                    ),
                    1,
                    1,
                ).isin("0", "2", "4", "6", "8", "a", "c", "e"),
                F.col("cnt"),
            )
            .otherwise(-F.col("cnt"))
            .alias("signed"),
        )
        .groupBy("rep")
        .agg(F.sum("signed").cast("long").alias("counter"))
    )
    e = s.select(
        "rep", (F.col("counter") * F.col("counter")).cast("long").alias("est")
    )
    w = Window.orderBy(F.col("est").asc(), F.col("rep").asc())
    rk = e.withColumn("rk", F.row_number().over(w))
    med = rk.agg(
        F.expr(
            "cast((min(case when rk = 8 then est end)"
            " + min(case when rk = 9 then est end)) div 2 as long)"
        ).alias("ams_est")
    )
    return (
        f2.crossJoin(F.broadcast(med))
        .select(
            "exact_f2",
            "ams_est",
            F.expr("abs(ams_est - exact_f2) * 1000000 div exact_f2")
            .cast("long")
            .alias("abs_rel_err_e6"),
        )
    )


# ------------------------------------------------- grouped 2x2 PCA


@q(
    "grouped_pca_2d",
    f"""WITH b AS (SELECT event_type,
                {_VCENTS} AS x,
                CAST((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) AS y
              FROM events),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM b GROUP BY 1),
       cv AS (SELECT event_type, n,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS a,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS bb,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cc
              FROM m),
       ei AS (SELECT event_type, n, a, bb, cc,
               (a + cc) / CAST(2 AS DOUBLE)
                 + sqrt((a - cc) / CAST(2 AS DOUBLE)
                        * ((a - cc) / CAST(2 AS DOUBLE)) + bb * bb) AS lam1,
               (a + cc) / CAST(2 AS DOUBLE)
                 - sqrt((a - cc) / CAST(2 AS DOUBLE)
                        * ((a - cc) / CAST(2 AS DOUBLE)) + bb * bb) AS lam2
              FROM cv)
       SELECT event_type, n, round(lam1, 6) AS lam1, round(lam2, 6) AS lam2,
              round(lam1 / (a + cc), 6) AS explained_ratio,
              round(degrees(atan2(bb, lam1 - cc)), 4) AS angle_deg
       FROM ei""",
)
def _grouped_pca_2d(spark, sf_dir):
    """Per-event-type 2x2 PCA of (value cents, hour-of-day): the
    covariance matrix comes from SIX exact int64 moment sums (one
    map-combined groupBy — the only shuffle), and the eigen readout is
    the closed form lam = m +/- sqrt(((a-c)/2)^2 + b^2) evaluated once
    per group with IDENTICAL IEEE expression trees on both engines.
    The distributed part never touches a double; eigenvalues, explained
    ratio and principal angle are final single-shot formulas. This is
    the relational form of per-segment feature-correlation profiling
    (dimension_reduction's 2-D diagnostic twin)."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_type", money_units(F.col("value"), 100).alias("x"),
        event_us(ev).alias("us")
    ).select(
        "event_type",
        "x",
        F.expr(f"(us div {_HOUR_US}) % 24").cast("long").alias("y"),
    )
    m = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    a = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / nd) / nd
    bb = (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / nd) / nd
    cc = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double") / nd) / nd
    cv = m.select("event_type", "n", a.alias("a"), bb.alias("bb"), cc.alias("cc"))
    half = (F.col("a") + F.col("cc")) / F.lit(2.0)
    root = F.sqrt(
        (F.col("a") - F.col("cc")) / F.lit(2.0)
        * ((F.col("a") - F.col("cc")) / F.lit(2.0))
        + F.col("bb") * F.col("bb")
    )
    ei = cv.select(
        "event_type", "n", "a", "bb", "cc",
        (half + root).alias("lam1"),
        (half - root).alias("lam2"),
    )
    return ei.select(
        "event_type",
        "n",
        F.round(F.col("lam1"), 6).alias("lam1"),
        F.round(F.col("lam2"), 6).alias("lam2"),
        F.round(F.col("lam1") / (F.col("a") + F.col("cc")), 6).alias(
            "explained_ratio"
        ),
        F.round(F.degrees(F.atan2(F.col("bb"), F.col("lam1") - F.col("cc"))), 4).alias(
            "angle_deg"
        ),
    )


# ------------------------------------------------- graph communities

_EDGES_SQL = """e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0)"""


def _lpa_oracle_sql(rounds: int = 3) -> str:
    steps = []
    prev = "lab0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""lab{i} AS (SELECT node, min(lab) AS lab FROM (
           SELECT e.dst AS node, l.lab FROM edges e JOIN {prev} l ON l.node = e.src
           UNION ALL SELECT node, lab FROM {prev}) GROUP BY 1)"""
        )
        prev = f"lab{i}"
    joined = ",\n       ".join(steps)
    return f"""WITH {_EDGES_SQL},
       n0 AS (SELECT DISTINCT src AS node FROM edges),
       lab0 AS (SELECT node, node AS lab FROM n0),
       {joined}
       SELECT lab AS community, CAST(count(*) AS BIGINT) AS size
       FROM {prev} GROUP BY 1 ORDER BY size DESC, community ASC LIMIT 20"""


@q("label_propagation_communities", _lpa_oracle_sql(2))
def _label_propagation_communities(spark, sf_dir):
    """Deterministic min-label propagation (the reproducible variant
    of Raghavan et al. 2007) over the symmetrized customer-supplier
    purchase graph: 2 synchronous rounds of label = min(self,
    in-neighbors), then the top-20 communities by size (2 rounds keeps
    the mesoscale structure; by round 3 the min label floods this
    dense graph to one component — the connected-components readout
    near_dup_components already owns). Each round is
    one co-partitioned hash join + one min-combine groupBy — the
    relational Pregel step pagerank_copurchase uses, sharing the same
    cached edge relation. Min as the combiner (not mode) is what makes
    the fixpoint engine-independent. operators/graph.py:
    min_label_propagation."""
    from redshells_spark.operators.graph import min_label_propagation
    from redshells_spark.queries.text import _copurchase_edges_weighted

    lab = min_label_propagation(_copurchase_edges_weighted(spark, sf_dir), rounds=2)
    return (
        lab.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .orderBy(F.col("size").desc(), F.col("community").asc())
        .limit(20)
    )


# ------------------------------------------------- Katz walk counts


@q(
    "katz_centrality_paths",
    f"""WITH {_EDGES_SQL},
       w1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS w1
              FROM edges GROUP BY 1),
       w2 AS (SELECT e.dst AS node, CAST(sum(w.w1) AS BIGINT) AS w2
              FROM edges e JOIN w1 w ON w.node = e.src GROUP BY 1),
       w3 AS (SELECT e.dst AS node, CAST(sum(w.w2) AS BIGINT) AS w3
              FROM edges e JOIN w2 w ON w.node = e.src GROUP BY 1)
       SELECT n.node, n.w1, s2.w2, s3.w3,
              CAST(16 * n.w1 + 4 * s2.w2 + s3.w3 AS BIGINT) AS katz_x64
       FROM w1 n JOIN w2 s2 USING (node) JOIN w3 s3 USING (node)
       ORDER BY katz_x64 DESC, node ASC LIMIT 20""",
)
def _katz_centrality_paths(spark, sf_dir):
    """Truncated Katz centrality (Katz 1953, beta=1/4, depth 3) kept
    as EXACT integer walk counts: katz_x64 = 16*w1 + 4*w2 + w3 where
    w_k counts length-k walks ending at the node — no float anywhere.
    Two chained hash joins apply A^T to the degree vector; the top-20
    readout is an orderBy+limit (TakeOrdered, never a global window).
    Shares the cached copurchase edge relation. operators/graph.py:
    katz_walk_counts."""
    from redshells_spark.operators.graph import katz_walk_counts
    from redshells_spark.queries.text import _copurchase_edges_weighted

    k = katz_walk_counts(_copurchase_edges_weighted(spark, sf_dir))
    return k.orderBy(F.col("katz_x64").desc(), F.col("node").asc()).limit(20)


# ------------------------------------------------- pinball loss


@q(
    "pinball_forecast_eval",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t FROM events),
       pr AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(sum({_VCENTS}) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pr.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pr USING (t)),
       p AS (SELECT a.t, a.v, b.v AS f FROM s a JOIN s b ON b.t = a.t - 7),
       taus AS (SELECT unnest([1, 5, 9]) AS tau_tenths),
       l AS (SELECT tau_tenths, CAST(count(*) AS BIGINT) AS n_days,
                    CAST(sum(CASE WHEN v - f >= 0 THEN tau_tenths * (v - f)
                             ELSE (tau_tenths - 10) * (v - f) END) AS BIGINT)
                      AS loss_sum_e3
             FROM p CROSS JOIN taus GROUP BY 1)
       SELECT CAST(tau_tenths AS BIGINT) AS tau_tenths, n_days, loss_sum_e3,
              round(CAST(loss_sum_e3 AS DOUBLE)
                    / CAST(n_days * 10 AS DOUBLE), 4) AS mean_loss_cents
       FROM l ORDER BY tau_tenths""",
)
def _pinball_forecast_eval(spark, sf_dir):
    """Pinball (quantile) loss of the seasonal-naive forecast y_hat_t
    = y_(t-7) on daily purchase revenue, at tau in {0.1, 0.5, 0.9} —
    the quantile-forecast evaluation that grades a probabilistic
    forecaster (Koenker & Bassett 1978). With integer-cent residuals
    and tau in tenths, 10x the loss is EXACT int64 (tau*d vs
    (tau-10)*d), so the per-tau sums are order-free; the only double
    is the final mean. Day grid and the 7-day self-join run on the
    date-bounded level table."""
    ev = _t(spark, sf_dir, "events")
    ev2 = ev.select(
        "event_type", money_units(F.col("value"), 100).alias("vc"),
        event_us(ev).alias("us")
    ).select("event_type", "vc", F.expr(f"us div {_DAY_US}").cast("long").alias("t"))
    days = ev2.select("t").distinct()
    pr = (
        ev2.filter(F.col("event_type") == "purchase")
        .groupBy("t")
        .agg(F.sum("vc").cast("long").alias("v"))
    )
    s = days.join(pr, "t", "left").select(
        "t", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("v")
    )
    a = s.alias("a")
    b = s.select((F.col("t") + 7).alias("t"), F.col("v").alias("f")).alias("b")
    p = a.join(b, "t").select("t", "v", "f")
    taus = spark.createDataFrame([(1,), (5,), (9,)], "tau_tenths long")
    d = F.col("v") - F.col("f")
    l = (
        p.crossJoin(F.broadcast(taus))
        .select(
            "tau_tenths",
            F.when(d >= 0, F.col("tau_tenths") * d)
            .otherwise((F.col("tau_tenths") - 10) * d)
            .cast("long")
            .alias("loss10"),
        )
        .groupBy("tau_tenths")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("loss10").cast("long").alias("loss_sum_e3"),
        )
    )
    return l.select(
        F.col("tau_tenths").cast("long"),
        "n_days",
        "loss_sum_e3",
        F.round(
            F.col("loss_sum_e3").cast("double")
            / (F.col("n_days") * 10).cast("double"),
            4,
        ).alias("mean_loss_cents"),
    )


# ------------------------------------------------- l-diversity audit


@q(
    "l_diversity_audit",
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
                CASE WHEN c_acctbal < 0 THEN 'neg'
                     WHEN c_acctbal < 5000 THEN 'mid'
                     ELSE 'high' END AS sens
              FROM customer),
       cls AS (SELECT c_nationkey, c_mktsegment, sens,
                      CAST(count(*) AS BIGINT) AS n_s
               FROM b GROUP BY 1, 2, 3),
       tot AS (SELECT c_nationkey, c_mktsegment,
                      CAST(sum(n_s) AS BIGINT) AS k,
                      CAST(count(*) AS BIGINT) AS l_distinct
               FROM cls GROUP BY 1, 2),
       tm AS (SELECT c.c_nationkey, c.c_mktsegment,
                CAST(floor(-(CAST(c.n_s AS DOUBLE) / CAST(t.k AS DOUBLE))
                           * ln(CAST(c.n_s AS DOUBLE) / CAST(t.k AS DOUBLE))
                           * CAST(1000000000 AS DOUBLE)
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS term_e9
              FROM cls c JOIN tot t USING (c_nationkey, c_mktsegment)),
       ent AS (SELECT c_nationkey, c_mktsegment,
                      CAST(sum(term_e9) AS BIGINT) AS ent_e9
               FROM tm GROUP BY 1, 2)
       SELECT CAST(t.c_nationkey AS BIGINT) AS nationkey, t.c_mktsegment AS segment,
              t.k, t.l_distinct,
              round(exp(CAST(e.ent_e9 AS DOUBLE)
                        / CAST(1000000000 AS DOUBLE)), 4) AS entropy_l,
              CAST(t.k >= 5 AS BIGINT) AS meets_k5,
              CAST(t.l_distinct >= 2 AS BIGINT) AS meets_l2
       FROM tot t JOIN ent e USING (c_nationkey, c_mktsegment)""",
)
def _l_diversity_audit(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007) layered on the
    k-anonymity quasi-identifier groups (nation x market segment):
    per group, the distinct count and the ENTROPY l-diversity of the
    sensitive attribute (account-balance band) — entropy_l = exp(H)
    where each class term -(p)ln(p) is a single double over exact
    int64 class counts, e9-quantized before the per-group sum so H is
    partition-order-free. Flags carry the k>=5 / l>=2 release gates.
    Extends k_anonymity_audit; same relations, one extra level table."""
    cust = _t(spark, sf_dir, "customer")
    b = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("sens"),
    )
    cls = b.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    tot = cls.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_s").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
    )
    p = F.col("n_s").cast("double") / F.col("k").cast("double")
    tm = cls.join(tot, ["c_nationkey", "c_mktsegment"]).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor((-p) * F.log(p) * F.lit(1.0e9) + F.lit(0.5))
        .cast("long")
        .alias("term_e9"),
    )
    ent = tm.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("term_e9").cast("long").alias("ent_e9")
    )
    return (
        tot.join(ent, ["c_nationkey", "c_mktsegment"])
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            "k",
            "l_distinct",
            F.round(F.exp(F.col("ent_e9").cast("double") / F.lit(1.0e9)), 4).alias(
                "entropy_l"
            ),
            (F.col("k") >= 5).cast("long").alias("meets_k5"),
            (F.col("l_distinct") >= 2).cast("long").alias("meets_l2"),
        )
    )


# ------------------------------------------------- Good-Turing


@q(
    "good_turing_bigrams",
    f"""WITH {_TOK_SQL},
       bg AS (SELECT a.token || ' ' || b.token AS gram
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       c AS (SELECT gram, CAST(count(*) AS BIGINT) AS r FROM bg GROUP BY 1),
       nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM c GROUP BY 1),
       tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_grams,
                      CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT)
                        AS n1
               FROM nr)
       SELECT CAST(a.r AS BIGINT) AS r, a.n_r,
              CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r1,
              round(CAST(a.r + 1 AS DOUBLE) * CAST(coalesce(b.n_r, 0) AS DOUBLE)
                    / CAST(a.n_r AS DOUBLE), 6) AS r_star,
              round(CAST(t.n1 AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6)
                AS p_unseen
       FROM nr a LEFT JOIN nr b ON b.r = a.r + 1 CROSS JOIN tot t
       WHERE a.r <= 10 ORDER BY a.r""",
)
def _good_turing_bigrams(spark, sf_dir):
    """Good-Turing adjusted counts r* = (r+1)·N_(r+1)/N_r for word
    bigrams (Good 1953) — the frequency-of-frequencies smoothing table
    an n-gram LM uses for unseen-mass estimation, with the leave-mass
    p0 = N_1/N. Bigrams come from one positional self-join (token-
    volume linear); everything downstream runs on the FREQUENCY-OF-
    FREQUENCIES level table (bounded by max gram count, a domain not a
    row count). All counts exact int64; the adjusted count and unseen
    mass are final one-shot ratios. Companion to kn_perplexity's
    Kneser-Ney table (text/ngram_lm.py)."""
    toks = _tokens(spark, sf_dir)
    flat = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    a = flat.select("doc_id", "pos", F.col("token").alias("ta"))
    b = flat.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("token").alias("tb")
    )
    bg = a.join(b, ["doc_id", "pos"]).select(
        F.concat(F.col("ta"), F.lit(" "), F.col("tb")).alias("gram")
    )
    c = bg.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("r"))
    nr = c.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    tot = nr.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    nxt = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        nr.filter(F.col("r") <= 10)
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long"),
            "n_r",
            F.coalesce(F.col("n_r1"), F.lit(0)).cast("long").alias("n_r1"),
            F.round(
                (F.col("r") + 1).cast("double")
                * F.coalesce(F.col("n_r1"), F.lit(0)).cast("double")
                / F.col("n_r").cast("double"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("n1").cast("double") / F.col("n_grams").cast("double"), 6
            ).alias("p_unseen"),
        )
    )


# ------------------------------------------------- Zipf fit


@q(
    "zipf_law_fit",
    f"""WITH {_TOK_SQL},
       c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
       top AS (SELECT token, freq, rnk FROM (
                 SELECT token, freq,
                        row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk
                 FROM c) WHERE rnk <= 100),
       qx AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lx,
                     CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ly
              FROM top),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
                    CAST(sum(ly) AS BIGINT) AS sy,
                    CAST(sum(lx * lx) AS BIGINT) AS sxx,
                    CAST(sum(lx * ly) AS BIGINT) AS sxy,
                    CAST(sum(ly * ly) AS BIGINT) AS syy
             FROM qx)
       SELECT n AS n_terms,
              round(CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
              round((CAST(sy AS DOUBLE)
                     - CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE), 6)
                AS intercept_ln,
              round(CAST(n * sxy - sx * sy AS DOUBLE)
                    * CAST(n * sxy - sx * sy AS DOUBLE)
                    / (CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
       FROM s""",
)
def _zipf_law_fit(spark, sf_dir):
    """Zipf rank-frequency fit (Zipf 1949): OLS slope of ln(freq) on
    ln(rank) over the top-100 vocabulary — the corpus-health power-law
    readout next to heaps_law_fit and hill_tail_index. The ln values
    are e6-quantized per term so the OLS moment sums are EXACT int64
    (the heaps-law idiom); slope/intercept/r2 are final one-shot double
    ratios of those integers. The ranking window runs over the
    vocab-bounded count relation, never the token stream."""
    toks = _tokens(spark, sf_dir)
    flat = toks.select("doc_id", F.explode("tokens").alias("token"))
    c = flat.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    top = c.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 100)
    qx = top.select(
        F.floor(F.log(F.col("rnk").cast("double")) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("freq").cast("double")) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("ly"),
    )
    s = qx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("ly") * F.col("ly")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(num / den, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - num / den * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("intercept_ln"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


# ------------------------------------------------- event-order motifs


@q(
    "frequent_event_sequences",
    """WITH f AS (SELECT user_id, event_type, min(epoch_us(ts)) AS fts
              FROM events GROUP BY 1, 2),
       s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
             FROM f GROUP BY 1),
       p AS (SELECT a.event_type AS lhs, b.event_type AS rhs,
                    CAST(count(*) AS BIGINT) AS support
             FROM f a JOIN f b
               ON a.user_id = b.user_id AND a.fts < b.fts
             GROUP BY 1, 2)
       SELECT p.lhs, p.rhs, p.support, s.n_users AS n_lhs,
              round(CAST(p.support AS DOUBLE) / CAST(s.n_users AS DOUBLE), 6)
                AS confidence
       FROM p JOIN s ON s.event_type = p.lhs
       WHERE p.support >= 5""",
)
def _frequent_event_sequences(spark, sf_dir):
    """Sequential-pattern support (the length-2 core of PrefixSpan,
    Pei et al. 2001): for each ordered pair of event types, the number
    of users whose FIRST occurrence of the lhs type precedes their
    first occurrence of the rhs type, with confidence = support /
    users-having-lhs. One per-(user, type) min aggregation, then a
    user-co-partitioned self-join over the <=|types| rows per user —
    never events x events. The behavioral-ordering companion to
    association_rules (co-occurrence) and event_transition_matrix
    (adjacent steps)."""
    ev = _t(spark, sf_dir, "events")
    f = (
        ev.select("user_id", "event_type", event_us(ev).alias("us"))
        .groupBy("user_id", "event_type")
        .agg(F.min("us").alias("fts"))
    )
    s = f.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    a = f.select("user_id", F.col("event_type").alias("lhs"), F.col("fts").alias("fa"))
    b = f.select("user_id", F.col("event_type").alias("rhs"), F.col("fts").alias("fb"))
    p = (
        a.join(b, "user_id")
        .filter(F.col("fa") < F.col("fb"))
        .groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 5)
    )
    return p.join(
        F.broadcast(s.select(F.col("event_type").alias("lhs"), "n_users")), "lhs"
    ).select(
        "lhs",
        "rhs",
        "support",
        F.col("n_users").alias("n_lhs"),
        F.round(
            F.col("support").cast("double") / F.col("n_users").cast("double"), 6
        ).alias("confidence"),
    )


# ------------------------------------------------- quantile treatment effects


@q(
    "quantile_treatment_effect",
    f"""WITH u AS (SELECT user_id,
                CAST(user_id % 2 AS BIGINT) AS treat,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN {_VCENTS}
                         ELSE 0 END) AS BIGINT) AS outcome
              FROM events GROUP BY 1),
       rk AS (SELECT treat, outcome,
                CAST(row_number() OVER (PARTITION BY treat
                       ORDER BY outcome, user_id) AS BIGINT) AS i,
                CAST(count(*) OVER (PARTITION BY treat) AS BIGINT) AS n
              FROM u),
       dec AS (SELECT unnest(generate_series(1, 9)) AS decile),
       per AS (SELECT r.treat, d.decile,
                CAST(max(CASE WHEN (10 * r.i >= d.decile * (r.n + 1)
                                    AND 10 * (r.i - 1) < d.decile * (r.n + 1))
                               OR (r.i = r.n
                                   AND 10 * r.n < d.decile * (r.n + 1))
                          THEN r.outcome END) AS BIGINT) AS qv,
                CAST(max(r.n) AS BIGINT) AS n
               FROM rk r CROSS JOIN dec d GROUP BY 1, 2)
       SELECT CAST(decile AS BIGINT) AS decile,
              max(CASE WHEN treat = 1 THEN n END) AS n_treat,
              max(CASE WHEN treat = 0 THEN n END) AS n_ctrl,
              max(CASE WHEN treat = 1 THEN qv END) AS q_treat_e2,
              max(CASE WHEN treat = 0 THEN qv END) AS q_ctrl_e2,
              max(CASE WHEN treat = 1 THEN qv END)
                - max(CASE WHEN treat = 0 THEN qv END) AS qte_e2
       FROM per GROUP BY 1 ORDER BY 1""",
)
def _quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effects (Doksum 1974): the difference of
    exact per-group outcome deciles (total purchase cents per user)
    between the two user-id experiment buckets (the hash-bucket
    assignment real A/B systems use) — the distributional
    causal readout that mean-based ATE queries miss (heavy-tail
    lifts, median no-ops). Deciles are ceil(q(n+1))-th order
    statistics selected with pure integer rank inequalities; ranks
    come from data/sharding.distributed_rank partitioned by arm
    (range shuffle + per-partition row_number + broadcast offsets —
    NO single-reducer sort), so the plan holds at 10^9 users. The
    9-decile expansion rides a broadcast nested-loop join."""
    from redshells_spark.data.sharding import distributed_rank

    ev = _t(spark, sf_dir, "events")
    u = (
        ev.select(
            "user_id",
            "event_type",
            money_units(F.col("value"), 100).alias("vc"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("vc")).otherwise(0))
            .cast("long")
            .alias("outcome"),
        )
        .select("user_id", (F.col("user_id") % 2).cast("long").alias("treat"), "outcome")
    )
    cnt = u.groupBy("treat").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = (
        distributed_rank(
            u,
            [F.col("outcome").asc(), F.col("user_id").asc()],
            out_col="__i0",
            partition_cols=["treat"],
        )
        .join(F.broadcast(cnt), "treat")
        .select("treat", "outcome", (F.col("__i0") + 1).cast("long").alias("i"), "n")
    )
    dec = spark.range(1, 10).select(F.col("id").cast("long").alias("decile"))
    cond = (
        (10 * F.col("i") >= F.col("decile") * (F.col("n") + 1))
        & (10 * (F.col("i") - 1) < F.col("decile") * (F.col("n") + 1))
    ) | (
        (F.col("i") == F.col("n"))
        & (10 * F.col("n") < F.col("decile") * (F.col("n") + 1))
    )
    per = (
        rk.crossJoin(F.broadcast(dec))
        .groupBy("treat", "decile")
        .agg(
            F.max(F.when(cond, F.col("outcome"))).cast("long").alias("qv"),
            F.max("n").cast("long").alias("n"),
        )
    )
    qt = F.max(F.when(F.col("treat") == 1, F.col("qv")))
    qc = F.max(F.when(F.col("treat") == 0, F.col("qv")))
    return (
        per.groupBy("decile")
        .agg(
            F.max(F.when(F.col("treat") == 1, F.col("n"))).cast("long").alias("n_treat"),
            F.max(F.when(F.col("treat") == 0, F.col("n"))).cast("long").alias("n_ctrl"),
            qt.cast("long").alias("q_treat_e2"),
            qc.cast("long").alias("q_ctrl_e2"),
            (qt - qc).cast("long").alias("qte_e2"),
        )
        .orderBy("decile")
    )
