"""Round-7 batch 5: clustering-evaluation and distributional-audit
tier — adjusted Rand index and normalized mutual information between
two deterministic clusterings of the embedding corpus, centroid-based
silhouette per cluster, Spiegelhalter's calibration Z test, and the
Theil/Atkinson inequality indices on customer spend.

House determinism rules: contingency/margin counts exact int64;
per-row/per-cell transcendental terms (ln, silhouette ratios)
e6/e9-quantized BEFORE summation; final statistics one-shot double
formulas rounded in-query; the only windows are per-vector argmin
partitions and domain-bounded level tables. Distance folds reuse the
index-ordered zip_with/list_reduce arithmetic of the IVF family so
assignments agree bit-for-bit across engines
(similarity/ann.py:assign_to_centroids precedent).
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

# deterministic second clustering for the agreement metrics: 8 buckets
# of the e6-quantized squared norm (data-driven, engine-identical)
_N2_SQL = """list_reduce(list_transform(range(1, 65),
                    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
                    (acc, x) -> acc + x)"""

_CONTINGENCY_SQL = f"""nb AS (
         SELECT vec_id, CAST(label AS BIGINT) AS a,
                CAST(floor({_N2_SQL} * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS n2_e6
         FROM embeddings),
       mxn AS (SELECT CAST(max(n2_e6) AS BIGINT) AS mx FROM nb),
       pts AS (SELECT a, CAST(n2_e6 * 8 // (mxn.mx + 1) AS BIGINT) AS b
               FROM nb CROSS JOIN mxn),
       ct AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nij
              FROM pts GROUP BY 1, 2),
       ma AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY 1),
       mb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY 1),
       nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct)"""


def _norm_buckets(spark, sf_dir):
    """(vec_id, a=label, b=norm-octile) — the two clusterings the
    agreement metrics compare. The squared-norm fold runs in index
    order (zip_with left fold == DuckDB list_reduce over range)."""
    emb = _t(spark, sf_dir, "embeddings")
    n2 = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nb = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("a"),
        F.floor(n2 * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("n2_e6"),
    ).localCheckpoint(eager=True)  # 3 ints/vector — the max-probe and
    # the bucketing both consume it; unpinned, the 64-dim norm fold
    # (the expensive projection) ran twice
    mxn = nb.agg(F.max("n2_e6").alias("mx"))
    return nb.crossJoin(F.broadcast(mxn)).select(
        "a", F.expr("cast(n2_e6 * 8 div (mx + 1) as long)").alias("b")
    )


@session_cached
def _contingency(spark, sf_dir):
    # level-table bounded (|labels| x 8 octiles) but consumed by 3-4
    # branches in EACH of ari/nmi — without the pin every margin and
    # total re-ran the corpus norm fold (18 embeddings scans at the
    # round-8 plan audit). Cached: ari and nmi share one build.
    return (
        _norm_buckets(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint(eager=True)
    )


# --------------------------------------------- adjusted Rand index


@q(
    "adjusted_rand_index",
    f"""WITH {_CONTINGENCY_SQL},
       s AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS sum_ij FROM ct),
       sa AS (SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS sum_a FROM ma),
       sb AS (SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS sum_b FROM mb),
       cc AS (SELECT CAST(n.n * (n.n - 1) // 2 AS BIGINT) AS cn2, n.n FROM nn n)
       SELECT cc.n, s.sum_ij, sa.sum_a, sb.sum_b,
              round((CAST(s.sum_ij AS DOUBLE)
                     - CAST(sa.sum_a AS DOUBLE) * CAST(sb.sum_b AS DOUBLE)
                       / CAST(cc.cn2 AS DOUBLE))
                    / ((CAST(sa.sum_a AS DOUBLE) + CAST(sb.sum_b AS DOUBLE))
                       / CAST(2 AS DOUBLE)
                       - CAST(sa.sum_a AS DOUBLE) * CAST(sb.sum_b AS DOUBLE)
                         / CAST(cc.cn2 AS DOUBLE)), 6) AS ari
       FROM s CROSS JOIN sa CROSS JOIN sb CROSS JOIN cc""",
)
def _adjusted_rand_index(spark, sf_dir):
    """Adjusted Rand index (Hubert & Arabie 1985) between the label
    clustering and the norm-octile clustering of the embedding corpus
    — the chance-corrected partition-agreement metric an embedding
    pipeline tracks across re-clusterings. All pair counts C(n,2) are
    exact int64 over the contingency level table (|A|x|B| cells); the
    expected-index correction is one final double formula. At 10^9
    vectors the only fact-scale work is one map-combined groupBy."""
    ct = _contingency(spark, sf_dir)
    ma = ct.groupBy("a").agg(F.sum("nij").cast("long").alias("ai"))
    mb = ct.groupBy("b").agg(F.sum("nij").cast("long").alias("bj"))
    s = ct.agg(
        F.sum(F.expr("nij * (nij - 1) div 2")).cast("long").alias("sum_ij")
    )
    sa = ma.agg(F.sum(F.expr("ai * (ai - 1) div 2")).cast("long").alias("sum_a"))
    sb = mb.agg(F.sum(F.expr("bj * (bj - 1) div 2")).cast("long").alias("sum_b"))
    nn = ct.agg(F.sum("nij").cast("long").alias("n"))
    cc = nn.select("n", F.expr("cast(n * (n - 1) div 2 as long)").alias("cn2"))
    one = (
        s.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(cc))
    )
    exp = (
        F.col("sum_a").cast("double")
        * F.col("sum_b").cast("double")
        / F.col("cn2").cast("double")
    )
    return one.select(
        "n",
        "sum_ij",
        "sum_a",
        "sum_b",
        F.round(
            (F.col("sum_ij").cast("double") - exp)
            / (
                (F.col("sum_a").cast("double") + F.col("sum_b").cast("double"))
                / F.lit(2.0)
                - exp
            ),
            6,
        ).alias("ari"),
    )


# --------------------------------------- normalized mutual information


@q(
    "nmi_clusterings",
    f"""WITH {_CONTINGENCY_SQL},
       mi AS (SELECT CAST(sum(CAST(floor(
                (CAST(ct.nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * ln(CAST(ct.nij AS DOUBLE) * CAST(nn.n AS DOUBLE)
                     / (CAST(ma.ai AS DOUBLE) * CAST(mb.bj AS DOUBLE)))
                * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS mi_e9
             FROM ct JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nn),
       ha AS (SELECT CAST(sum(CAST(floor(
                -(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * ln(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS ha_e9
             FROM ma CROSS JOIN nn),
       hb AS (SELECT CAST(sum(CAST(floor(
                -(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * ln(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS hb_e9
             FROM mb CROSS JOIN nn)
       SELECT nn.n,
              round(CAST(mi.mi_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS mutual_info,
              round(CAST(ha.ha_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS h_labels,
              round(CAST(hb.hb_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS h_buckets,
              round(CAST(mi.mi_e9 AS DOUBLE)
                    / ((CAST(ha.ha_e9 AS DOUBLE) + CAST(hb.hb_e9 AS DOUBLE))
                       / CAST(2 AS DOUBLE)), 6) AS nmi
       FROM mi CROSS JOIN ha CROSS JOIN hb CROSS JOIN nn""",
)
def _nmi_clusterings(spark, sf_dir):
    """Normalized mutual information (arithmetic-mean normalization,
    the scikit-learn default) between the same two clusterings as
    adjusted_rand_index — the information-theoretic agreement twin.
    Every MI/entropy term is a single double over exact int64
    contingency counts, e9-quantized BEFORE the cell-level sums
    (|A|x|B| cells, a level table), so the statistic is
    partition-order-free."""
    ct = _contingency(spark, sf_dir)
    ma = ct.groupBy("a").agg(F.sum("nij").cast("long").alias("ai"))
    mb = ct.groupBy("b").agg(F.sum("nij").cast("long").alias("bj"))
    nn = ct.agg(F.sum("nij").cast("long").alias("n"))
    nd = F.col("n").cast("double")
    mi_term = (
        (F.col("nij").cast("double") / nd)
        * F.log(
            F.col("nij").cast("double")
            * nd
            / (F.col("ai").cast("double") * F.col("bj").cast("double"))
        )
        * F.lit(1.0e9)
        + F.lit(0.5)
    )
    mi = (
        ct.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(nn))
        .select(F.floor(mi_term).cast("long").alias("t"))
        .agg(F.sum("t").cast("long").alias("mi_e9"))
    )

    def _entropy(margin, col, out):
        p = F.col(col).cast("double") / nd
        return (
            margin.crossJoin(F.broadcast(nn))
            .select(
                F.floor((-p) * F.log(p) * F.lit(1.0e9) + F.lit(0.5))
                .cast("long")
                .alias("t")
            )
            .agg(F.sum("t").cast("long").alias(out))
        )

    ha = _entropy(ma, "ai", "ha_e9")
    hb = _entropy(mb, "bj", "hb_e9")
    one = (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(nn))
    )
    e9 = F.lit(1.0e9)
    return one.select(
        "n",
        F.round(F.col("mi_e9").cast("double") / e9, 6).alias("mutual_info"),
        F.round(F.col("ha_e9").cast("double") / e9, 6).alias("h_labels"),
        F.round(F.col("hb_e9").cast("double") / e9, 6).alias("h_buckets"),
        F.round(
            F.col("mi_e9").cast("double")
            / (
                (F.col("ha_e9").cast("double") + F.col("hb_e9").cast("double"))
                / F.lit(2.0)
            ),
            6,
        ).alias("nmi"),
    )


# --------------------------------------------- centroid silhouette


@q(
    "centroid_silhouette",
    """WITH cent AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                embedding
         FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),
       d2 AS (
         SELECT e.vec_id AS eid, c.cid AS cid,
                list_reduce(list_transform(range(1, 65),
                    i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                       * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                    (acc, x) -> acc + x) AS d2
         FROM embeddings e CROSS JOIN cent c),
       r AS (SELECT eid, cid, d2,
                    row_number() OVER (PARTITION BY eid
                                       ORDER BY d2 ASC, cid ASC) AS rn
             FROM d2),
       pv AS (SELECT eid,
                     CAST(max(CASE WHEN rn = 1 THEN cid END) AS BIGINT) AS cid,
                     max(CASE WHEN rn = 1 THEN d2 END) AS a2,
                     max(CASE WHEN rn = 2 THEN d2 END) AS b2
              FROM r WHERE rn <= 2 GROUP BY 1),
       sil AS (SELECT cid,
                CAST(floor(CASE WHEN greatest(sqrt(a2), sqrt(b2))
                                     > CAST(0 AS DOUBLE)
                   THEN (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
                   ELSE CAST(0 AS DOUBLE) END * 1000000
                   + CAST(0.5 AS DOUBLE)) AS BIGINT) AS s_e6
               FROM pv)
       SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
              round(CAST(sum(s_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    / CAST(1000000 AS DOUBLE), 6) AS mean_silhouette
       FROM sil GROUP BY 1""",
)
def _centroid_silhouette(spark, sf_dir):
    """Centroid-based silhouette per cluster (the simplified silhouette
    of Hruschka et al.: distances to centroids, not all-pairs — THE
    scale-safe variant, O(N*k) not O(N^2)): a = distance to own
    centroid, b = distance to the nearest other centroid, s = (b-a)/
    max(a,b), e6-quantized per point before the per-cluster mean.
    Centroids are the strided corpus vectors the IVF oracle family
    pins; the distance fold runs in index order on both engines so
    assignments and s-values agree bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cent_df = spark.createDataFrame(
        [([[float(x) for x in r["embedding"]] for r in cent_rows],)],
        "__cents array<array<double>>",
    )
    dists = F.transform(
        F.col("__cents"),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.transform(F.col("embedding"), lambda x: x.cast("double")),
                    c,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("cid"),
        ),
    )
    # spread the corpus before the O(k*d) distance fold — a small
    # corpus arrives as one scan split and would run the heaviest
    # expression on one core (the SemDeDup assignment precedent);
    # per-point s_e6 is an exact int64 so partitioning cannot change
    # the per-cluster sums
    n_part = spark.sparkContext.defaultParallelism
    two = (
        emb.repartition(n_part, "vec_id")
        .crossJoin(F.broadcast(cent_df))
        .select(F.slice(F.array_sort(dists), 1, 2).alias("t2"))
        .select(
            F.col("t2")[0]["cid"].cast("long").alias("cid"),
            F.col("t2")[0]["d"].alias("a2"),
            F.col("t2")[1]["d"].alias("b2"),
        )
    )
    ga = F.greatest(F.sqrt(F.col("a2")), F.sqrt(F.col("b2")))
    s = F.when(
        ga > F.lit(0.0),
        (F.sqrt(F.col("b2")) - F.sqrt(F.col("a2"))) / ga,
    ).otherwise(F.lit(0.0))
    sil = two.select(
        "cid",
        F.floor(s * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("s_e6"),
    )
    return sil.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(
            F.sum("s_e6").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("mean_silhouette"),
    )


# --------------------------------------------- Spiegelhalter Z


@q(
    "spiegelhalter_z",
    """WITH b AS (SELECT ((event_id * 1103515245 + 12345) % 2147483647) % 1000001
                    AS p_e6,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
             FROM events),
       t AS (SELECT
            CAST(floor((CAST(o AS DOUBLE)
                        - CAST(p_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE))
                       * (CAST(1 AS DOUBLE)
                          - CAST(2 AS DOUBLE) * CAST(p_e6 AS DOUBLE)
                            / CAST(1000000 AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS num_e9,
            CAST(floor((CAST(1 AS DOUBLE)
                        - CAST(2 AS DOUBLE) * CAST(p_e6 AS DOUBLE)
                          / CAST(1000000 AS DOUBLE))
                       * (CAST(1 AS DOUBLE)
                          - CAST(2 AS DOUBLE) * CAST(p_e6 AS DOUBLE)
                            / CAST(1000000 AS DOUBLE))
                       * (CAST(p_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE))
                       * (CAST(1 AS DOUBLE)
                          - CAST(p_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS den_e9
           FROM b),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(num_e9) AS BIGINT) AS snum,
                      CAST(sum(den_e9) AS BIGINT) AS sden
               FROM t)
       SELECT n,
              round((CAST(snum AS DOUBLE) / CAST(1000000000 AS DOUBLE))
                    / sqrt(CAST(sden AS DOUBLE) / CAST(1000000000 AS DOUBLE)), 6)
                AS z,
              CAST(abs((CAST(snum AS DOUBLE) / CAST(1000000000 AS DOUBLE))
                       / sqrt(CAST(sden AS DOUBLE)
                              / CAST(1000000000 AS DOUBLE)))
                   > CAST(1.96 AS DOUBLE) AS BIGINT) AS reject_005
       FROM agg""",
)
def _spiegelhalter_z(spark, sf_dir):
    """Spiegelhalter's calibration Z test (1986): Z = sum((o-p)(1-2p))
    / sqrt(sum((1-2p)^2 p(1-p))) over the same deterministic empirical
    scorer the Brier decomposition grades — the global-calibration
    significance check next to expected_calibration_error's bin-level
    view. Per-row numerator/denominator terms are single doubles over
    the exact e6 score, e9-quantized before the two int64 sums."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        (
            ((F.col("event_id") * 1103515245 + 12345) % 2147483647) % 1000001
        ).alias("p_e6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    p = F.col("p_e6").cast("double") / F.lit(1000000.0)
    one_m2p = F.lit(1.0) - F.lit(2.0) * F.col("p_e6").cast("double") / F.lit(
        1000000.0
    )
    num = (
        F.floor(
            (F.col("o").cast("double") - p) * one_m2p * F.lit(1.0e9) + F.lit(0.5)
        )
        .cast("long")
        .alias("num_e9")
    )
    den = (
        F.floor(one_m2p * one_m2p * p * (F.lit(1.0) - p) * F.lit(1.0e9) + F.lit(0.5))
        .cast("long")
        .alias("den_e9")
    )
    agg = b.select(num, den).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("num_e9").cast("long").alias("snum"),
        F.sum("den_e9").cast("long").alias("sden"),
    )
    e9 = F.lit(1.0e9)
    z = (F.col("snum").cast("double") / e9) / F.sqrt(
        F.col("sden").cast("double") / e9
    )
    return agg.select(
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).cast("long").alias("reject_005"),
    )


# --------------------------------------------- Theil / Atkinson


@q(
    "theil_atkinson_inequality",
    """WITH c AS (SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                         AS BIGINT)) AS BIGINT) AS x
              FROM orders GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS xt FROM c),
       t AS (SELECT
            CAST(floor((CAST(c.x AS DOUBLE) / CAST(tot.xt AS DOUBLE))
                       * ln(CAST(c.x AS DOUBLE) * CAST(tot.n AS DOUBLE)
                            / CAST(tot.xt AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS theil_e9,
            CAST(floor(ln(CAST(c.x AS DOUBLE)) * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lnx_e9
           FROM c CROSS JOIN tot),
       agg AS (SELECT CAST(sum(theil_e9) AS BIGINT) AS st,
                      CAST(sum(lnx_e9) AS BIGINT) AS sl
               FROM t)
       SELECT tot.n AS n_customers, tot.xt AS total_spend_e2,
              round(CAST(agg.st AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS theil_t,
              round(CAST(1 AS DOUBLE)
                    - exp(CAST(agg.sl AS DOUBLE) / CAST(tot.n AS DOUBLE)
                          / CAST(1000000000 AS DOUBLE))
                      * CAST(tot.n AS DOUBLE) / CAST(tot.xt AS DOUBLE), 6)
                AS atkinson_1
       FROM agg CROSS JOIN tot""",
)
def _theil_atkinson_inequality(spark, sf_dir):
    """Theil T and Atkinson(epsilon=1) inequality indices of customer
    spend — the decomposable-entropy companions to
    revenue_concentration's Gini/HHI. Theil term (x/X)ln(x*n/X) and
    ln(x) are single doubles over exact cent totals, e9-quantized
    before the two global int64 sums; Atkinson(1) = 1 - geomean/mean
    composes from the ln-sum in one final formula. One map-combined
    per-customer aggregation is the only fact-scale work."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(money_units(F.col("o_totalprice"), 100)).cast("long").alias("x")
    )
    tot = c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("xt"),
    )
    xd = F.col("x").cast("double")
    theil_term = (
        (xd / F.col("xt").cast("double"))
        * F.log(xd * F.col("n").cast("double") / F.col("xt").cast("double"))
        * F.lit(1.0e9)
        + F.lit(0.5)
    )
    t = c.crossJoin(F.broadcast(tot)).select(
        F.floor(theil_term).cast("long").alias("theil_e9"),
        F.floor(F.log(xd) * F.lit(1.0e9) + F.lit(0.5)).cast("long").alias("lnx_e9"),
    )
    agg = t.agg(
        F.sum("theil_e9").cast("long").alias("st"),
        F.sum("lnx_e9").cast("long").alias("sl"),
    )
    one = agg.crossJoin(F.broadcast(tot))
    e9 = F.lit(1.0e9)
    return one.select(
        F.col("n").alias("n_customers"),
        F.col("xt").alias("total_spend_e2"),
        F.round(F.col("st").cast("double") / e9, 6).alias("theil_t"),
        F.round(
            F.lit(1.0)
            - F.exp(
                F.col("sl").cast("double") / F.col("n").cast("double") / e9
            )
            * F.col("n").cast("double")
            / F.col("xt").cast("double"),
            6,
        ).alias("atkinson_1"),
    )
