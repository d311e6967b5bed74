"""Round-7 batch 7: graph-analytics completion and corpus-diversity
tier — local clustering coefficients and degree assortativity over the
part co-purchase graph, classic link-prediction scores (common
neighbors / Jaccard / Adamic-Adar), Yule's K lexical diversity,
token burstiness, the Page-Hinkley drift monitor, and Theil's
uncertainty coefficient completing the categorical-association family.

House determinism rules: adjacency, degree, wedge, and contingency
counts exact int64; 1/ln(deg) and entropy terms e9-quantized BEFORE
summation; ratios exported as exact integer divisions (e6) or one
final fixed IEEE tree; windows only over day-level or bounded level
tables, ties always broken by a key column. Graph relations are
dimension-scale (parts), never fact-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from redshells_spark.queries._shared import *  # noqa: F401,F403

_DAY_US = 86_400_000_000

# ----------------------------------------------------------------
# shared part co-purchase graph (same construction as triangle_counts:
# parts bought with quantity >= 45 in the same order, id-canonical
# pairs) — session_cached like text._copurchase_edges_weighted, so
# the three graph queries below build it once.

_PART_EDGES_SQL = """li AS (SELECT l_orderkey, l_partkey FROM lineitem
             WHERE l_quantity >= 45),
       e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             FROM li a JOIN li b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       und AS (SELECT a AS src, b AS dst FROM e
               UNION ALL SELECT b, a FROM e),
       deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
               FROM und GROUP BY 1)"""


@session_cached
def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) distinct part co-purchase edges, cached."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b"))
    e = a.join(b, "k").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    return e.cache()


def _und(spark, sf_dir):
    e = _part_edges(spark, sf_dir)
    return e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


@session_cached
def _part_deg(spark, sf_dir):
    # the degree relation is tiny (one row per part) but each lazy
    # reference re-shuffles the symmetrized edge union; assortativity
    # alone references it three times — cache it
    return (
        _und(spark, sf_dir)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .cache()
    )


# ------------------------------------------ local clustering coefficient


@q(
    "local_clustering_coefficient",
    f"""WITH {_PART_EDGES_SQL},
       tri AS (SELECT e1.a AS a, e1.b AS b, e2.c AS c
               FROM e e1
               JOIN (SELECT a AS b, b AS c FROM e) e2 ON e2.b = e1.b
               JOIN (SELECT a, b AS c FROM e) e3 ON e3.a = e1.a AND e3.c = e2.c),
       tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
              GROUP BY node),
       lcc AS (SELECT deg.node, deg.deg,
                      CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
                      CAST(2 * coalesce(tn.n_tri, 0) * 1000000
                           // (deg.deg * (deg.deg - 1)) AS BIGINT) AS lcc_e6
               FROM deg LEFT JOIN tn USING (node)
               WHERE deg.deg >= 2),
       avg_g AS (SELECT CAST(sum(lcc_e6) // count(*) AS BIGINT) AS avg_lcc_e6
                 FROM lcc)
       SELECT CAST(lcc.node AS BIGINT) AS node, lcc.deg, lcc.n_tri,
              lcc.lcc_e6, avg_g.avg_lcc_e6
       FROM lcc CROSS JOIN avg_g
       ORDER BY lcc.lcc_e6 DESC, lcc.n_tri DESC, lcc.node ASC
       LIMIT 20""",
)
def _local_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per node (Watts & Strogatz 1998)
    over the part co-purchase graph: lcc = 2*triangles/(deg*(deg-1)),
    exported as an exact e6 integer division, plus the network-average
    coefficient over all deg>=2 nodes. Triangles reuse the id-ordered
    wedge-closure joins of triangle_counts (each triangle enumerated
    once); degree and triangle relations are dimension-scale (parts),
    so the top-20 is a TakeOrdered over a bounded relation — no global
    window, no fact-scale sort."""
    from redshells_spark.operators.graph import count_triangles_per_node

    e = _part_edges(spark, sf_dir)
    deg = _part_deg(spark, sf_dir)
    tn = count_triangles_per_node(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    ).select(F.col("node"), F.col("n_triangles").alias("n_tri"))
    lcc = (
        deg.filter(F.col("deg") >= 2)
        .join(tn, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "cast(2 * coalesce(n_tri, 0) * 1000000"
                " div (deg * (deg - 1)) as long)"
            ).alias("lcc_e6"),
        )
        # both avg_g and the final select consume lcc — pin it so the
        # triangle-closure joins run once (before-plan: 42 scans)
        .localCheckpoint(eager=True)  # node-bounded
    )
    avg_g = lcc.agg(
        F.expr("cast(sum(lcc_e6) div count(*) as long)").alias("avg_lcc_e6")
    )
    return (
        lcc.crossJoin(F.broadcast(avg_g))
        .select(
            F.col("node").cast("long").alias("node"),
            "deg",
            "n_tri",
            "lcc_e6",
            "avg_lcc_e6",
        )
        .orderBy(
            F.col("lcc_e6").desc(), F.col("n_tri").desc(), F.col("node").asc()
        )
        .limit(20)
    )


# ---------------------------------------------- degree assortativity


@q(
    "degree_assortativity",
    f"""WITH {_PART_EDGES_SQL},
       j AS (SELECT d1.deg AS da, d2.deg AS db
             FROM und
             JOIN deg d1 ON d1.node = und.src
             JOIN deg d2 ON d2.node = und.dst),
       s AS (SELECT CAST(count(*) AS BIGINT) AS m,
                    CAST(sum(da) AS BIGINT) AS sx,
                    CAST(sum(da * da) AS BIGINT) AS sxx,
                    CAST(sum(da * db) AS BIGINT) AS sxy
             FROM j),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       SELECT nn.n_nodes, s.m AS n_directed_edges,
              round((CAST(s.m AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                     - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
                    / (CAST(s.m AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                       - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)), 6)
                AS assortativity
       FROM s CROSS JOIN nn""",
)
def _degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the part co-purchase
    graph: the Pearson correlation of endpoint degrees over the
    symmetrized edge list (both directions, so the two marginals are
    identical and r = (m*sxy - sx^2)/(m*sxx - sx^2)). The four moment
    sums are exact int64 over one dimension-scale join; the final
    ratio is a single fixed IEEE tree (products taken in double —
    m*sxy exceeds int64 at 10x). Disassortative r < 0 is the expected
    co-purchase signature (hubs link to leaves)."""
    und, deg = _und(spark, sf_dir), _part_deg(spark, sf_dir)
    j = (
        und.join(
            deg.select(F.col("node").alias("src"), F.col("deg").alias("da")), "src"
        )
        .join(
            deg.select(F.col("node").alias("dst"), F.col("deg").alias("db")), "dst"
        )
        .select("da", "db")
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("da").cast("long").alias("sx"),
        F.sum(F.col("da") * F.col("da")).cast("long").alias("sxx"),
        F.sum(F.col("da") * F.col("db")).cast("long").alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    md, sxd = F.col("m").cast("double"), F.col("sx").cast("double")
    return s.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("m").alias("n_directed_edges"),
        F.round(
            (md * F.col("sxy").cast("double") - sxd * sxd)
            / (md * F.col("sxx").cast("double") - sxd * sxd),
            6,
        ).alias("assortativity"),
    )


# ------------------------------------------------ link prediction


@q(
    "link_prediction_scores",
    f"""WITH {_PART_EDGES_SQL},
       ctr AS (SELECT node, deg,
                      CAST(floor(CAST(1000000000 AS DOUBLE)
                                 / ln(CAST(deg AS DOUBLE))
                                 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS invln_e9
               FROM deg WHERE deg >= 2),
       wedge AS (SELECT u1.dst AS a, u2.dst AS b, ctr.invln_e9
                 FROM und u1
                 JOIN und u2 ON u1.src = u2.src AND u1.dst < u2.dst
                 JOIN ctr ON ctr.node = u1.src),
       cand AS (SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS cn,
                       CAST(sum(w.invln_e9) AS BIGINT) AS aa_e9
                FROM wedge w
                LEFT JOIN e ON e.a = w.a AND e.b = w.b
                WHERE e.a IS NULL
                GROUP BY 1, 2)
       SELECT CAST(cand.a AS BIGINT) AS a, CAST(cand.b AS BIGINT) AS b,
              cand.cn, cand.aa_e9,
              CAST(cand.cn * 1000000 // (d1.deg + d2.deg - cand.cn) AS BIGINT)
                AS jaccard_e6,
              d1.deg AS deg_a, d2.deg AS deg_b
       FROM cand
       JOIN deg d1 ON d1.node = cand.a
       JOIN deg d2 ON d2.node = cand.b
       ORDER BY cand.aa_e9 DESC, cand.a ASC, cand.b ASC
       LIMIT 20""",
)
def _link_prediction_scores(spark, sf_dir):
    """Classic link-prediction scores (Liben-Nowell & Kleinberg 2003)
    for non-adjacent part pairs sharing >=1 co-purchase neighbor:
    common-neighbor count, neighbor-set Jaccard (exact e6 integer
    division), and Adamic-Adar with each center's 1/ln(deg) term
    e9-quantized BEFORE the per-pair sum (a wedge center always has
    deg >= 2, so ln > 0). Candidates come from one wedge self-join on
    the symmetrized dimension-scale adjacency, existing edges drop via
    an anti join, and the top-20 is a TakeOrdered with full tie-break.
    At 10^9 lines everything downstream of the first groupBy is
    bounded by the part dimension and sum(deg^2), not the fact table."""
    e = _part_edges(spark, sf_dir)
    und, deg = _und(spark, sf_dir), _part_deg(spark, sf_dir)
    ctr = deg.filter(F.col("deg") >= 2).select(
        F.col("node"),
        F.floor(F.lit(1000000000.0) / F.log(F.col("deg").cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("invln_e9"),
    )
    u1 = und.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    u2 = und.select(F.col("src").alias("w"), F.col("dst").alias("b"))
    wedge = (
        u1.join(u2, "w")
        .filter(F.col("a") < F.col("b"))
        .join(ctr.select(F.col("node").alias("w"), "invln_e9"), "w")
    )
    cand = (
        wedge.join(e, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum("invln_e9").cast("long").alias("aa_e9"),
        )
    )
    d1 = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    d2 = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(d1, "a")
        .join(d2, "b")
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            "cn",
            "aa_e9",
            F.expr(
                "cast(cn * 1000000 div (deg_a + deg_b - cn) as long)"
            ).alias("jaccard_e6"),
            F.col("deg_a").alias("deg_a"),
            F.col("deg_b").alias("deg_b"),
        )
        .orderBy(F.col("aa_e9").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


# ------------------------------------------------ Yule's K diversity


@q(
    "yule_k_diversity",
    """WITH tok AS (
         SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                         t -> t <> '')) AS token
         FROM documents),
       tf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
       fof AS (SELECT lang, c, CAST(count(*) AS BIGINT) AS f
               FROM tf GROUP BY 1, 2),
       s AS (SELECT lang,
                    CAST(sum(f) AS BIGINT) AS vocab,
                    CAST(sum(c * f) AS BIGINT) AS n_tokens,
                    CAST(sum(c * c * f) AS BIGINT) AS sum_c2
             FROM fof GROUP BY 1)
       SELECT lang, n_tokens, vocab,
              round(CAST(10000 AS DOUBLE)
                    * CAST(sum_c2 - n_tokens AS DOUBLE)
                    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 4)
                AS yule_k
       FROM s ORDER BY lang""",
)
def _yule_k_diversity(spark, sf_dir):
    """Yule's characteristic K (Yule 1944) per language — the
    repeat-rate lexical-diversity statistic that, unlike TTR, is
    length-invariant: K = 10^4 * (sum_f f^2*V_f - N)/N^2, entirely
    from the frequency-of-frequencies level table (the same relation
    Chao1 and Good-Turing consume), all sums exact int64 and one
    final double. High K = repetitive corpus slice — the quality
    signal used alongside gopher_repetition_battery."""
    toks = _tokens(spark, sf_dir)
    tok = toks.select("lang", F.explode("tokens").alias("token"))
    tf = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    fof = tf.groupBy("lang", "c").agg(F.count(F.lit(1)).cast("long").alias("f"))
    s = fof.groupBy("lang").agg(
        F.sum("f").cast("long").alias("vocab"),
        F.sum(F.col("c") * F.col("f")).cast("long").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c") * F.col("f")).cast("long").alias("sum_c2"),
    )
    nd = F.col("n_tokens").cast("double")
    return s.select(
        "lang",
        "n_tokens",
        "vocab",
        F.round(
            F.lit(10000.0) * (F.col("sum_c2") - F.col("n_tokens")).cast("double")
            / (nd * nd),
            4,
        ).alias("yule_k"),
    ).orderBy("lang")


# ------------------------------------------------ token burstiness


@q(
    "token_burstiness_topk",
    """WITH tok AS (
         SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                           t -> t <> '')) AS token
         FROM documents),
       s AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
                    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             FROM tok GROUP BY 1)
       SELECT token, tf, df,
              CAST(tf * 1000000 // df AS BIGINT) AS burstiness_e6
       FROM s WHERE df >= 20
       ORDER BY tf * 1000000 // df DESC, token ASC
       LIMIT 20""",
)
def _token_burstiness_topk(spark, sf_dir):
    """Token burstiness (Church & Gale 1995): mean occurrences per
    containing document tf/df, exported as an exact e6 integer
    division — bursty tokens (high tf/df) concentrate in few documents
    and are the ones dedup shingles and quality filters should weight;
    uniform tokens approach 1.0. One map-combined count plus one exact
    distinct-doc count per token; top-20 among df>=20 tokens with a
    full tie-break. Dimension-scale output at any corpus size."""
    toks = _tokens(spark, sf_dir)
    tok = toks.select("doc_id", F.explode("tokens").alias("token"))
    s = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        s.filter(F.col("df") >= 20)
        .select(
            "token",
            "tf",
            "df",
            F.expr("cast(tf * 1000000 div df as long)").alias("burstiness_e6"),
        )
        .orderBy(F.col("burstiness_e6").desc(), F.col("token").asc())
        .limit(20)
    )


# ------------------------------------------------ Page-Hinkley drift


@q(
    "page_hinkley_drift",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t)),
       mu AS (SELECT CAST(sum(v) // count(*) AS BIGINT) AS mu0 FROM s),
       c AS (SELECT t, v,
                    CAST(sum(v) OVER wt AS BIGINT) AS cum,
                    CAST(row_number() OVER (ORDER BY t ASC) AS BIGINT) AS i
             FROM s
             WINDOW wt AS (ORDER BY t ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       m AS (SELECT t, v,
                    CAST(sum(v * 1000000 - (cum * 1000000 // i)) OVER wt
                         AS BIGINT) AS m_e6
             FROM c
             WINDOW wt AS (ORDER BY t ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       ph AS (SELECT t, v, m_e6,
                     CAST(m_e6 - min(m_e6) OVER wt AS BIGINT) AS ph_e6
              FROM m
              WINDOW wt AS (ORDER BY t ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT ph.t, ph.v, ph.m_e6, ph.ph_e6,
              round(CAST(5.0 AS DOUBLE) * sqrt(CAST(mu.mu0 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE), 6) AS threshold_e6,
              CAST(CASE WHEN CAST(ph.ph_e6 AS DOUBLE)
                             > CAST(5.0 AS DOUBLE)
                               * sqrt(CAST(mu.mu0 AS DOUBLE))
                               * CAST(1000000 AS DOUBLE)
                        THEN 1 ELSE 0 END AS BIGINT) AS alarm
       FROM ph CROSS JOIN mu
       ORDER BY ph.t""",
)
def _page_hinkley_drift(spark, sf_dir):
    """Page-Hinkley upward-drift monitor (Page 1954; the standard
    stream-drift test next to CUSUM) on the dense daily purchase-count
    series: m_t = sum_i (x_i - xbar_i) with the RUNNING mean folded to
    exact integers (x*1e6 - cum*1e6 div i per day), PH_t = m_t -
    min_s<=t m_s via one running-min window — the reset-free closed
    form, no recursion. All chart columns exact int64; the only double
    is the 5*sqrt(mu0) alarm threshold. Windows run over the
    day-level relation (time-bounded, never fact-scale).
    operators/changepoint.py:page_hinkley_monitor; the same monitor
    runs from the streaming SPRT ingest state
    (streaming/sprt.py:page_hinkley_from_sprt_state, parity-pinned)."""
    from redshells_spark.operators.changepoint import page_hinkley_monitor

    s = _daily_purchases(spark, sf_dir)
    return page_hinkley_monitor(s, "t", "v")


# ----------------------------------------- Theil's U (uncertainty coef)


@q(
    "theils_u_matrix",
    """WITH src AS (
         SELECT 'orders_status_priority' AS pair, o_orderstatus AS a,
                o_orderpriority AS b
         FROM orders
         UNION ALL
         SELECT 'lineitem_flag_status', l_returnflag, l_linestatus
         FROM lineitem
         UNION ALL
         SELECT 'cust_segment_priority', c.c_mktsegment, o.o_orderpriority
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       ct AS (SELECT pair, a, b, CAST(count(*) AS BIGINT) AS nij
              FROM src GROUP BY 1, 2, 3),
       ra AS (SELECT pair, a, CAST(sum(nij) AS BIGINT) AS ri
              FROM ct GROUP BY 1, 2),
       cb AS (SELECT pair, b, CAST(sum(nij) AS BIGINT) AS cj
              FROM ct GROUP BY 1, 2),
       nn AS (SELECT pair, CAST(sum(nij) AS BIGINT) AS n FROM ct GROUP BY 1),
       ha AS (SELECT ra.pair,
                     CAST(sum(CAST(floor(
                       -(CAST(ra.ri AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * ln(CAST(ra.ri AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS ha_e9
              FROM ra JOIN nn USING (pair) GROUP BY 1),
       hb AS (SELECT cb.pair,
                     CAST(sum(CAST(floor(
                       -(CAST(cb.cj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * ln(CAST(cb.cj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hb_e9
              FROM cb JOIN nn USING (pair) GROUP BY 1),
       hab AS (SELECT ct.pair,
                      CAST(sum(CAST(floor(
                        -(CAST(ct.nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
                        * ln(CAST(ct.nij AS DOUBLE) / CAST(cb.cj AS DOUBLE))
                        * CAST(1000000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hab_e9
               FROM ct
               JOIN cb ON cb.pair = ct.pair AND cb.b = ct.b
               JOIN nn ON nn.pair = ct.pair
               GROUP BY 1),
       hba AS (SELECT ct.pair,
                      CAST(sum(CAST(floor(
                        -(CAST(ct.nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
                        * ln(CAST(ct.nij AS DOUBLE) / CAST(ra.ri AS DOUBLE))
                        * CAST(1000000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hba_e9
               FROM ct
               JOIN ra ON ra.pair = ct.pair AND ra.a = ct.a
               JOIN nn ON nn.pair = ct.pair
               GROUP BY 1)
       SELECT nn.pair, nn.n, ha.ha_e9, hb.hb_e9,
              round(CAST(ha.ha_e9 - hab.hab_e9 AS DOUBLE)
                    / CAST(ha.ha_e9 AS DOUBLE), 6) AS u_a_given_b,
              round(CAST(hb.hb_e9 - hba.hba_e9 AS DOUBLE)
                    / CAST(hb.hb_e9 AS DOUBLE), 6) AS u_b_given_a
       FROM nn
       JOIN ha USING (pair) JOIN hb USING (pair)
       JOIN hab USING (pair) JOIN hba USING (pair)
       ORDER BY nn.pair""",
)
def _theils_u_matrix(spark, sf_dir):
    """Theil's uncertainty coefficient U (Theil 1970) for the same
    three categorical pairs cramers_v_matrix profiles — the
    ASYMMETRIC association measure ("how much of A does knowing B
    explain") that V cannot express: U(A|B) = (H(A)-H(A|B))/H(A).
    Every entropy is a sum of e9-quantized -p*ln(p) terms over exact
    int64 contingency/margin counts (the l_diversity_audit idiom), so
    both U directions are ratios of exact integers with one final
    double division. Cells are domain-bounded; fact-scale work is the
    same groupBys V already pays."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cu = _t(spark, sf_dir, "customer")
    src = (
        o.select(
            F.lit("orders_status_priority").alias("pair"),
            F.col("o_orderstatus").alias("a"),
            F.col("o_orderpriority").alias("b"),
        )
        .unionAll(
            li.select(
                F.lit("lineitem_flag_status").alias("pair"),
                F.col("l_returnflag").alias("a"),
                F.col("l_linestatus").alias("b"),
            )
        )
        .unionAll(
            o.join(cu, o["o_custkey"] == cu["c_custkey"]).select(
                F.lit("cust_segment_priority").alias("pair"),
                F.col("c_mktsegment").alias("a"),
                F.col("o_orderpriority").alias("b"),
            )
        )
    )
    # the contingency table is domain-bounded (tens of cells) but its
    # subtree is the fact-scale 3-way union — materialize it once; the
    # before-plan re-expanded it for each of the five downstream
    # references (88 parquet scans, 84 Exchanges)
    ct = (
        src.groupBy("pair", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint(eager=True)
    )
    ra = ct.groupBy("pair", "a").agg(F.sum("nij").cast("long").alias("ri"))
    cb = ct.groupBy("pair", "b").agg(F.sum("nij").cast("long").alias("cj"))
    nn = ct.groupBy("pair").agg(F.sum("nij").cast("long").alias("n"))

    def _ent_term(p_num, p_den, l_num, l_den):
        return (
            F.floor(
                -(p_num.cast("double") / p_den.cast("double"))
                * F.log(l_num.cast("double") / l_den.cast("double"))
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
        ).cast("long")

    ha = (
        ra.join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("ri"), F.col("n"), F.col("ri"), F.col("n")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("ha_e9"))
    )
    hb = (
        cb.join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("cj"), F.col("n"), F.col("cj"), F.col("n")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("hb_e9"))
    )
    hab = (
        ct.join(cb, ["pair", "b"])
        .join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("nij"), F.col("n"), F.col("nij"), F.col("cj")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("hab_e9"))
    )
    hba = (
        ct.join(ra, ["pair", "a"])
        .join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("nij"), F.col("n"), F.col("nij"), F.col("ri")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("hba_e9"))
    )
    out = (
        nn.join(ha, "pair").join(hb, "pair").join(hab, "pair").join(hba, "pair")
    )
    return out.select(
        "pair",
        "n",
        "ha_e9",
        "hb_e9",
        F.round(
            (F.col("ha_e9") - F.col("hab_e9")).cast("double")
            / F.col("ha_e9").cast("double"),
            6,
        ).alias("u_a_given_b"),
        F.round(
            (F.col("hb_e9") - F.col("hba_e9")).cast("double")
            / F.col("hb_e9").cast("double"),
            6,
        ).alias("u_b_given_a"),
    ).orderBy("pair")
