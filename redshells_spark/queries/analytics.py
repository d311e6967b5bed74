"""Product analytics (funnels, retention, sessions), correlated-subquery shapes, sketch algebra, graph ops, windows breadth, robust stats, CDC.

Split from the former single-file queries.py (round 4); registration
order within and across tier modules is preserved by the package
__init__ import order and pinned by tests/test_ann_recall.py.
"""

from redshells_spark.queries._shared import *  # noqa: F401,F403
from redshells_spark.queries.text import (  # noqa: F401,E402
    _copurchase_edges_weighted,
    _duck_h60,
)

# ------------------------------------------------- product analytics tier

_FUNNEL_STEPS = ("signup", "view", "click", "purchase")


@q(
    "funnel_conversion",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       s1 AS (SELECT user_id, min(us) AS t1 FROM e
              WHERE event_type = 'signup' GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
              WHERE event_type = 'view' AND us > t1 GROUP BY e.user_id),
       s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
              WHERE event_type = 'click' AND us > t2 GROUP BY e.user_id),
       s4 AS (SELECT e.user_id, min(us) AS t4 FROM e JOIN s3 USING (user_id)
              WHERE event_type = 'purchase' AND us > t3 GROUP BY e.user_id),
       c AS (SELECT (SELECT count(*) FROM s1) AS c1, (SELECT count(*) FROM s2) AS c2,
                    (SELECT count(*) FROM s3) AS c3, (SELECT count(*) FROM s4) AS c4)
       SELECT 1::BIGINT AS step_no, 'signup' AS step_name, c1 AS users,
              round(c1::DOUBLE / c1, 4) AS conv_from_first FROM c
       UNION ALL SELECT 2, 'view', c2, round(c2::DOUBLE / c1, 4) FROM c
       UNION ALL SELECT 3, 'click', c3, round(c3::DOUBLE / c1, 4) FROM c
       UNION ALL SELECT 4, 'purchase', c4, round(c4::DOUBLE / c1, 4) FROM c
       ORDER BY step_no""",
)
def _funnel_conversion(spark, sf_dir):
    """Ordered event funnel (operators/funnel.py): k−1 sequential
    filtered min-aggregations — each stage shuffles only that step's
    events and joins the shrinking reached-set (AQE broadcasts it).
    Greedy earliest-witness matching; no window over the full stream,
    no collect_list. Oracle unrolls the same stages as chained CTEs."""
    from redshells_spark.operators.funnel import funnel_conversion

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", event_us(ev, "ts").alias("__us"))
    return funnel_conversion(e, list(_FUNNEL_STEPS))


@q(
    "retention_cohorts",
    """WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
                  FROM events),
       f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
       a AS (SELECT e.user_id, f.cohort_week, e.week - f.cohort_week AS week_offset
             FROM e JOIN f USING (user_id)),
       c AS (SELECT cohort_week, week_offset, count(*) AS active_users
             FROM a GROUP BY 1, 2),
       s AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1)
       SELECT c.cohort_week, c.week_offset, c.active_users, s.cohort_size,
              round(c.active_users::DOUBLE / s.cohort_size, 4) AS retention
       FROM c JOIN s USING (cohort_week)
       ORDER BY cohort_week, week_offset""",
)
def _retention_cohorts(spark, sf_dir):
    """Weekly retention triangle (operators/funnel.py): epoch-aligned
    integer week buckets (pure int64 `div` — cross-engine exact), two
    16-byte-row aggregations; cohort sizes join back broadcast-small."""
    from redshells_spark.operators.funnel import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", event_us(ev, "ts").alias("__us"))
    return retention_cohorts(e)


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@q(
    "pivot_event_matrix",
    """SELECT epoch_us(ts) // 86400000000 AS day,
              count(*) FILTER (WHERE event_type = 'click') AS click,
              count(*) FILTER (WHERE event_type = 'error') AS error,
              count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              count(*) FILTER (WHERE event_type = 'signup') AS signup,
              count(*) FILTER (WHERE event_type = 'view') AS view
       FROM events GROUP BY day""",
)
def _pivot_event_matrix(spark, sf_dir):
    """PIVOT: day × event_type count matrix. Pivot values are passed
    explicitly — without the list Spark runs an eager collect-distinct
    job over the full table just to name the columns, and an
    unbounded value set would mint an unbounded schema. One shuffle,
    partial aggregation preserved (pivot compiles to the same
    hash-aggregate as the oracle's FILTER form)."""
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.select("event_type", event_us(ev, "ts").alias("__us"))
        .withColumn("day", F.expr("`__us` div 86400000000"))
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.na.fill(0, list(_EVENT_TYPES))


@q(
    "unpivot_event_matrix",
    """SELECT epoch_us(ts) // 86400000000 AS day, event_type, count(*) AS cnt
       FROM events GROUP BY day, event_type""",
)
def _unpivot_event_matrix(spark, sf_dir):
    """UNPIVOT (melt) round-trip: the pivoted matrix stacks back to
    long form via `unpivot`; zero-filled cells (combos absent from the
    data) are dropped so the round-trip equals the plain group-by
    oracle. Narrow op — no extra shuffle beyond the pivot's."""
    piv = _pivot_event_matrix(spark, sf_dir)
    return piv.unpivot("day", list(_EVENT_TYPES), "event_type", "cnt").filter(
        F.col("cnt") > 0
    )


@q(
    "customer_spend_quartiles",
    """WITH s AS (SELECT o_custkey,
                         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS spend_c
                  FROM orders GROUP BY o_custkey)
       SELECT o_custkey, spend_c,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile,
              round(percent_rank() OVER w, 4) AS pct_rank,
              round(cume_dist() OVER w, 4) AS cum_dist
       FROM s
       WINDOW w AS (ORDER BY spend_c ASC, o_custkey ASC)""",
)
def _customer_spend_quartiles(spark, sf_dir):
    """Ranking-window breadth: ntile/percent_rank/cume_dist over
    per-customer revenue. Revenue sums as integer cents (order-free);
    the ordering (spend, custkey) is a TOTAL order, so all three
    window functions are pure functions of (rank i, n) and compute
    from data/sharding.distributed_rank (range shuffle +
    per-partition row_number + broadcast offset map — bit-identical
    ranks, NO single-reducer sort; per-customer relations reach 1e9+
    rows at 100 TB, where a global window is the anti-pattern this
    repo's plan audit flags): tie-free cume_dist = i/n, percent_rank
    = (i−1)/(n−1), and ntile(4) by its first-(n mod 4)-buckets-get-
    ceil(n/4) definition in integer arithmetic."""
    from redshells_spark.data.sharding import distributed_rank

    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("spend_c")
    )
    nrow = s.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = (
        distributed_rank(
            s, [F.col("spend_c").asc(), F.col("o_custkey").asc()], out_col="__i0"
        )
        .crossJoin(F.broadcast(nrow))
        .withColumn("i", (F.col("__i0") + 1).cast("long"))
    )
    # ntile(4): q = n div 4, r = n mod 4; buckets 1..r hold q+1 rows —
    # all integer (ceil(a/b) = (a+b−1) div b); greatest(q,1) keeps the
    # dead branch ANSI-safe when n < 4
    ntile4 = F.expr(
        "CASE WHEN i <= (n % 4) * ((n div 4) + 1)"
        " THEN (i + (n div 4)) div ((n div 4) + 1)"
        " ELSE (n % 4) + (i - (n % 4) * ((n div 4) + 1) + (n div 4) - 1)"
        "      div greatest(n div 4, 1) END"
    )
    return rk.select(
        "o_custkey",
        "spend_c",
        ntile4.cast("long").alias("quartile"),
        _r4(
            (F.col("i") - 1) / F.greatest(F.col("n") - 1, F.lit(1)), "pct_rank"
        ),
        _r4(F.col("i") / F.col("n"), "cum_dist"),
    )


@q(
    "event_value_outliers",
    """WITH e AS (SELECT event_id, event_type,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
       st AS (SELECT event_type, count(*) AS n,
                     sum(CAST(vc AS DOUBLE)) AS s,
                     sum(CAST(vc AS DOUBLE) * CAST(vc AS DOUBLE)) AS ss
              FROM e GROUP BY event_type)
       SELECT event_id, e.event_type,
              round((vc - s / n) / sqrt(ss / n - (s / n) * (s / n)), 4) AS zscore
       FROM e JOIN st ON e.event_type = st.event_type
       WHERE abs((vc - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 2.0""",
)
def _event_value_outliers(spark, sf_dir):
    """Z-score anomaly detection per event_type: group stats from
    integer-cents sums (sum/sumsq of exact ints folded as doubles in
    deterministic partial-agg order — both engines see identical
    inputs, and +-fold of these magnitudes is exact), stats broadcast
    back onto the stream (5-row build side), outliers filtered at
    |z| > 2. Identical IEEE expression on both engines.

    Sums fold as DOUBLE not int64: at sf1+ `sum(vc*vc)` overflows
    int64 (~4e18 at sf0.1) while doubles stay exact until 2^53."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vc").cast("double")).alias("s"),
        F.sum(F.col("vc").cast("double") * F.col("vc").cast("double")).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("vc") - mean) / F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    return (
        e.join(F.broadcast(st), "event_type")
        .filter(F.abs(z) > 2.0)
        .select("event_id", "event_type", _r4(z, "zscore"))
    )


@q(
    "edit_distance_join",
    """WITH d AS (SELECT DISTINCT p_name FROM part)
       SELECT a.p_name AS s1, b.p_name AS s2,
              CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       FROM d a JOIN d b ON a.p_name < b.p_name
       WHERE levenshtein(a.p_name, b.p_name) <= 2""",
)
def _edit_distance_join(spark, sf_dir):
    """PassJoin edit-distance self-join (similarity/stringjoin.py) over
    the *distinct-string domain* — the scale-correct form: p_name has
    ~3% distinct values, so joining raw rows would square the
    duplicate groups; dedupe first, let consumers fan results back out
    by key. Candidates come from an equi-join on (L, seg_no, segment)
    keys (pigeonhole blocking), verified with one levenshtein per
    candidate. Oracle brute-forces the tiny distinct domain."""
    from redshells_spark.similarity.stringjoin import edit_distance_join

    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    out = edit_distance_join(names, id_col="p_name", str_col="p_name", k=2)
    return out.select(F.col("id1").alias("s1"), F.col("id2").alias("s2"), "dist")


@q(
    "token_jaccard_join",
    f"""WITH {_TOK_SQL},
       t AS (SELECT DISTINCT doc_id, token FROM tok),
       sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
       i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
             FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT id1, id2, inter, na.n AS n1, nb.n AS n2,
              round(inter::DOUBLE / (na.n + nb.n - inter), 4) AS jaccard
       FROM i JOIN sz na ON i.id1 = na.doc_id JOIN sz nb ON i.id2 = nb.doc_id
       WHERE inter::DOUBLE / (na.n + nb.n - inter) >= 0.8""",
)
def _token_jaccard_join(spark, sf_dir):
    """AllPairs/PPJoin prefix-filtered exact Jaccard self-join
    (similarity/stringjoin.py): candidates must share one of each
    set's rarest n−ceil(τn)+1 tokens (frequency-ascending canonical
    order), so the explode touches prefixes only; exact intersections
    are computed FROM the candidate pairs, never a full token⋈token
    join. Oracle brute-forces via the full token join (fine at
    sf0.01; the Spark side is the sub-quadratic plan)."""
    from redshells_spark.similarity.stringjoin import token_jaccard_join

    # pass the cached per-doc ARRAY relation: the rank-sorted index is
    # then built in-row (zero doc-keyed shuffles) — the long form would
    # explode + distinct + re-group arrays the cache already holds
    toks = _tokens(spark, sf_dir).select("doc_id", "tokens")
    return token_jaccard_join(
        None,
        id_col="doc_id",
        token_col="token",
        threshold=0.8,
        arrays_df=toks,
        arrays_col="tokens",
    )


# -------------------------------------- correlated-subquery SQL shapes


@q(
    "q17_small_quantity_revenue",
    """WITH li AS (SELECT l_partkey, l_quantity,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
                   FROM lineitem),
       thresh AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS q_thresh
                  FROM li GROUP BY l_partkey)
       SELECT round(CAST(sum(price_c) AS DOUBLE) / 100.0 / 7.0, 4) AS avg_yearly,
              count(*) AS n_lines
       FROM li JOIN part ON p_partkey = li.l_partkey
               JOIN thresh ON thresh.l_partkey = li.l_partkey
       WHERE p_brand = 'Brand#12' AND li.l_quantity < q_thresh""",
)
def _q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue of below-20%-of-average-quantity
    lineitems for one brand — the classic *correlated scalar
    subquery*, decorrelated into one per-part aggregate joined back
    (exactly what Catalyst does to the subquery form; written
    explicitly so the plan is one shuffle + one broadcastable join,
    not a per-row subquery). Quantities are integer-valued doubles so
    avg() folds exactly in any order; revenue sums as integer cents."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_c"),
    )
    thresh = li.groupBy("l_partkey").agg((F.lit(0.2) * F.avg("l_quantity")).alias("q_thresh"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("q_thresh"))
    )
    return joined.agg(
        _r4(F.sum("price_c") / 100.0 / 7.0, "avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "q22_idle_customers",
    """WITH c AS (SELECT c_custkey, c_mktsegment,
                         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                  FROM customer)
       SELECT c_mktsegment, count(*) AS n_cust,
              round(CAST(sum(bal_c) AS DOUBLE) / 100.0, 4) AS total_bal
       FROM c
       WHERE bal_c > (SELECT avg(bal_c) FROM c WHERE bal_c > 0)
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND epoch_us(o.o_orderdate) >= 946684800000000)
       GROUP BY c_mktsegment""",
)
def _q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no order
    since 2000-01-01, per segment — a *scalar subquery* (global
    positive-balance average) plus a *NOT EXISTS anti join*, run
    through spark.sql so Catalyst performs the decorrelation itself:
    the scalar subquery evaluates once (ReusedSubquery); NOT EXISTS
    compiles to a left-anti hash join (plan-asserted in
    tests/test_subquery_shapes.py). Balances ride as integer cents —
    avg() of exact ints divides identically on both engines. The
    recency cutoff is pre-normalized to epoch micros in Python
    (dtype-dispatched) so the SQL is identical under either physical
    date encoding."""
    o = _t(spark, sf_dir, "orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__q22_customer")
    o.select(
        "o_custkey", event_us(o, "o_orderdate").alias("od_us")
    ).createOrReplaceTempView("__q22_orders")
    return spark.sql(
        """WITH c AS (SELECT c_custkey, c_mktsegment,
                             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                      FROM __q22_customer)
           SELECT c_mktsegment, count(*) AS n_cust,
                  round(CAST(sum(bal_c) AS DOUBLE) / 100.0, 4) AS total_bal
           FROM c
           WHERE bal_c > (SELECT avg(bal_c) FROM c WHERE bal_c > 0)
             AND NOT EXISTS (SELECT 1 FROM __q22_orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.od_us >= 946684800000000)
           GROUP BY c_mktsegment"""
    )


@q(
    "q4_late_shipments_exists",
    """SELECT o_orderpriority, count(*) AS n_orders
       FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND epoch_us(l.l_shipdate) >
                           epoch_us(o.o_orderdate) + 60 * 86400000000)
       GROUP BY o_orderpriority""",
)
def _q4_late_shipments_exists(spark, sf_dir):
    """TPC-H Q4 shape: orders with any lineitem shipping >60 days
    after the order date, counted per priority. EXISTS with a
    non-equi residual compiles to a left-semi hash join on the order
    key (the residual evaluates post-probe); time math is integer
    microseconds via the dtype-dispatched helpers."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o2 = o.select("o_orderkey", "o_orderpriority", event_us(o, "o_orderdate").alias("o_us"))
    l2 = li.select("l_orderkey", event_us(li, "l_shipdate").alias("s_us"))
    sel = o2.join(
        l2,
        (o2.o_orderkey == l2.l_orderkey)
        & (l2.s_us > o2.o_us + F.lit(60 * 86_400_000_000)),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# ------------------------------------ sketch algebra / graph / series

_KMV_SA_K = 64


@q(
    "kmv_set_overlap",
    f"""WITH h AS (SELECT DISTINCT event_type, {_duck_h60("user_id")} AS h FROM events),
       kept AS (SELECT event_type, h FROM (
                  SELECT event_type, h,
                         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
                  FROM h) WHERE rn <= {_KMV_SA_K}),
       pr AS (SELECT a.event_type AS g1, b.event_type AS g2
              FROM (SELECT DISTINCT event_type FROM kept) a
              JOIN (SELECT DISTINCT event_type FROM kept) b ON a.event_type < b.event_type),
       m AS (SELECT g1, g2, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
               SELECT pr.g1, pr.g2, k.h, 1 AS in_a, 0 AS in_b
               FROM pr JOIN kept k ON k.event_type = pr.g1
               UNION ALL
               SELECT pr.g1, pr.g2, k.h, 0, 1
               FROM pr JOIN kept k ON k.event_type = pr.g2)
             GROUP BY g1, g2, h),
       top AS (SELECT * FROM (
                 SELECT m.*, row_number() OVER (PARTITION BY g1, g2 ORDER BY h ASC) AS rn
                 FROM m) WHERE rn <= {_KMV_SA_K}),
       a AS (SELECT g1, g2, count(*) AS n_kept, max(h) AS hk,
                    sum(in_a * in_b) AS inter_hashes
             FROM top GROUP BY g1, g2)
       SELECT g1, g2, n_kept::BIGINT AS n_kept, inter_hashes::BIGINT AS inter_hashes,
              round(CASE WHEN n_kept < {_KMV_SA_K} THEN n_kept::DOUBLE
                    ELSE {_KMV_SA_K - 1}.0 * 1152921504606846976.0 / hk::DOUBLE END, 4)
                AS union_est,
              round((inter_hashes::DOUBLE / n_kept) *
                    (CASE WHEN n_kept < {_KMV_SA_K} THEN n_kept::DOUBLE
                     ELSE {_KMV_SA_K - 1}.0 * 1152921504606846976.0 / hk::DOUBLE END), 4)
                AS inter_est,
              round(inter_hashes::DOUBLE / n_kept, 4) AS jaccard_est
       FROM a""",
)
def _kmv_set_overlap(spark, sf_dir):
    """KMV multiset algebra (operators/sketches.py:kmv_set_algebra,
    Beyer et al. SIGMOD'07): union/intersection/Jaccard estimates
    between every event-type pair's user sets, computed purely from
    merged k-minimum sketches — raw values are scanned once, all pair
    math runs on ≤ k·|groups| hashes. Portable md5 ranks + IEEE
    estimate arithmetic → the DuckDB oracle reproduces every estimate
    bit-for-bit (an approximate aggregate with an exact check)."""
    from redshells_spark.operators.sketches import kmv_set_algebra

    ev = _t(spark, sf_dir, "events")
    return kmv_set_algebra(ev, "event_type", "user_id", k=_KMV_SA_K)


@q(
    "k_hop_reachability",
    """WITH RECURSIVE e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                                    's' || CAST(l_suppkey AS VARCHAR) AS dst
                             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       walk(node, dist) AS (
         SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR), 0
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_7'
         UNION
         SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON w.node = e.src
         WHERE w.dist < 3)
       SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node""",
)
def _k_hop_reachability(spark, sf_dir):
    """Bounded BFS (operators/graph.py:k_hop_distances): min-hop
    distance from NATION_7 suppliers over the symmetrized co-purchase
    graph, 3 supersteps of frontier-join + min-fold (the relational
    Pregel shape, localCheckpoint-bounded lineage). Oracle is a
    recursive CTE with UNION (set) semantics so states dedupe instead
    of enumerating all ~57M length-3 walks."""
    from redshells_spark.operators.graph import k_hop_distances

    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    sources = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return k_hop_distances(_copurchase_edges_weighted(spark, sf_dir), sources, k=3)


@q(
    "association_rules",
    """WITH items AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                      FROM lineitem JOIN part ON p_partkey = l_partkey),
       nb AS (SELECT count(DISTINCT b) AS n FROM items),
       cnt AS (SELECT i, count(*) AS c FROM items GROUP BY i),
       p AS (SELECT a.i AS item1, b.i AS item2, count(*) AS pair_count
             FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
             GROUP BY 1, 2
             HAVING count(*) >= 2)
       SELECT item1, item2, pair_count, c1.c AS count1, c2.c AS count2,
              round(pair_count::DOUBLE / nb.n, 4) AS support,
              round(pair_count::DOUBLE / c1.c, 4) AS confidence_1_to_2,
              round(pair_count::DOUBLE / c2.c, 4) AS confidence_2_to_1,
              round((pair_count * nb.n::DOUBLE) / (c1.c * c2.c), 4) AS lift
       FROM p JOIN cnt c1 ON c1.i = p.item1 JOIN cnt c2 ON c2.i = p.item2, nb""",
)
def _association_rules(spark, sf_dir):
    """Pairwise association rules (operators/assoc.py): brand
    co-occurrence within orders — support/confidence/lift from one
    within-basket self-join (fan-out bounded by basket size, never
    table size) + broadcast support joins. Exact-integer ratios →
    cross-engine-stable doubles."""
    from redshells_spark.operators.assoc import association_rules_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    return association_rules_pairs(
        baskets, basket_col="l_orderkey", item_col="p_brand", min_pair_support=2
    )


_EWMA_ALPHA = 0.3
_EWMA_W = 8
_EWMA_COEFS = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_W)]


def _ewma_oracle_sql() -> str:
    num = " + ".join(
        f"{c!r} * coalesce(lag(vc, {j}) OVER w, 0)" for j, c in enumerate(_EWMA_COEFS)
    )
    den = " + ".join(
        f"CASE WHEN lag(vc, {j}) OVER w IS NULL THEN 0.0 ELSE {c!r} END"
        for j, c in enumerate(_EWMA_COEFS)
    )
    return f"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                      CAST(round(value * 100) AS BIGINT) AS vc
               FROM events)
       SELECT event_id, user_id, round(({num}) / ({den}), 4) AS ewma_c
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)"""


@q("ewma_user_values", _ewma_oracle_sql())
def _ewma_user_values(spark, sf_dir):
    """Truncated-window EWMA (window width 8, α=0.3): the classic
    time-series smoother as a *fixed linear combination of lags* —
    pure window codegen, no recursion, no UDF. Truncation keeps the
    recurrence relational (the exact infinite-memory EWMA is a
    sequential scan); with (1−α)^8 ≈ 0.06 the truncation error is
    <6% of the steady-state weight mass, and the divisor re-normalizes
    over the lags actually present so series starts are unbiased.
    Coefficients are embedded as identical Python-rendered double
    literals on both engines; values ride as integer cents → every
    product and the final divide are reproducible IEEE arithmetic."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        event_us(ev, "ts").alias("__us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("__us").asc(), F.col("event_id").asc())
    lags = [F.col("vc") if j == 0 else F.lag("vc", j).over(w) for j in range(_EWMA_W)]
    num = None
    den = None
    for j, (c, lg) in enumerate(zip(_EWMA_COEFS, lags)):
        term = F.lit(c) * F.coalesce(lg.cast("double"), F.lit(0.0))
        dterm = F.when(lg.isNull(), F.lit(0.0)).otherwise(F.lit(c))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return e.select("event_id", "user_id", _r4(num / den, "ewma_c"))


# ----------------------------------- windows breadth / robust stats / CDC


@q(
    "scd2_intervals",
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
                  FROM events WHERE event_type IN ('signup', 'purchase', 'error'))
       SELECT event_id, user_id, event_type,
              us AS valid_from_us,
              lead(us) OVER w AS valid_to_us,
              CASE WHEN lead(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)""",
)
def _scd2_intervals(spark, sf_dir):
    """SCD Type-2 dimension build from a change stream: each change
    row gets a validity interval [valid_from, valid_to) via one lead()
    window — the standard CDC-to-dimension compaction (pairs with
    `latest_by_key`, which keeps only the open row). One shuffle on
    the business key; no self-join (the naive SCD2 build joins the
    stream to itself on adjacent change ranks)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type").isin("signup", "purchase", "error")).select(
        "event_id", "user_id", "event_type", event_us(ev, "ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("us").asc(), F.col("event_id").asc())
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w).alias("valid_to_us"),
        F.when(F.lead("us").over(w).isNull(), 1).otherwise(0).alias("is_current"),
    )


@q(
    "grouped_mad",
    """WITH e AS (SELECT event_type, event_id,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
       m AS (SELECT event_type, vc AS med FROM (
               SELECT event_type, vc, event_id,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY vc ASC, event_id ASC) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM e) WHERE rn = (n + 1) // 2),
       d AS (SELECT e.event_type, abs(vc - med) AS dev, event_id
             FROM e JOIN m ON e.event_type = m.event_type)
       SELECT event_type, med, mad FROM (
         SELECT d.event_type, m.med, dev AS mad,
                row_number() OVER (PARTITION BY d.event_type
                                   ORDER BY dev ASC, event_id ASC) AS rn,
                count(*) OVER (PARTITION BY d.event_type) AS n
         FROM d JOIN m ON d.event_type = m.event_type) WHERE rn = (n + 1) // 2""",
)
def _grouped_mad(spark, sf_dir):
    """Robust dispersion: median absolute deviation per group via two
    window rank-selections (lower median both times — everything stays
    exact int64 cents end-to-end, no percentile-interpolation semantics
    to reconcile). Group medians broadcast back (|groups| rows);
    identical shape to `grouped_median_price`, iterated."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "event_id", F.round(F.col("value") * 100, 0).cast("long").alias("vc")
    )

    def lower_median(df, val_col, out_col):
        w = Window.partitionBy("event_type").orderBy(
            F.col(val_col).asc(), F.col("event_id").asc()
        )
        wn = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(val_col).alias(out_col))
        )

    med = lower_median(e, "vc", "med")
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", F.abs(F.col("vc") - F.col("med")).alias("dev")
    )
    mad = lower_median(dev, "dev", "mad")
    return med.join(mad, "event_type").select("event_type", "med", "mad")


@q(
    "first_last_events",
    """SELECT DISTINCT user_id,
              first_value(event_type) OVER w AS first_type,
              last_value(event_type) OVER w AS last_type,
              nth_value(event_type, 2) OVER w AS second_type,
              count(*) OVER (PARTITION BY user_id) AS n_events
       FROM (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events)
       WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
)
def _first_last_events(spark, sf_dir):
    """first_value / last_value / nth_value over a full-partition
    frame (the UNBOUNDED FOLLOWING frame is what makes last/nth
    well-defined — the default frame stops at CURRENT ROW), collapsed
    to one row per user. Tie-broken ordering keeps both engines on the
    same witness rows."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", event_us(ev, "ts").alias("us"), "event_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_events"),
    ).distinct()


@q(
    "session_paths",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                         epoch_us(ts) // 86400000000 AS day
                  FROM events),
       p AS (SELECT user_id, day,
                    string_agg(event_type, '>' ORDER BY us ASC, event_id ASC) AS path
             FROM e GROUP BY user_id, day)
       SELECT path, count(*) AS n_sessions
       FROM p GROUP BY path HAVING count(*) >= 5""",
)
def _session_paths(spark, sf_dir):
    """Path analysis: per user-day ordered event-type sequences,
    aggregated to the common paths (≥5 occurrences). The ordered
    string_agg is the canonical cross-engine rendering of a sequence
    (array ordering + hashing differ between engines); at 100 TB the
    per-session path build is one groupBy whose values are tiny
    ordered strings, and the path popularity count shuffles only the
    distinct path strings."""
    ev = _t(spark, sf_dir, "events")
    # day bucket from the normalized microseconds (integer div)
    e = ev.select(
        "user_id", "event_type", event_us(ev, "ts").alias("us"), "event_id"
    ).withColumn("day", F.expr("us div 86400000000"))
    # one aggregation: collect (us, event_id, type) structs, sort —
    # struct ordering is lexicographic on fields, so this IS the
    # (us, event_id) order — then project the types out
    paths = e.groupBy("user_id", "day").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .filter(F.col("n_sessions") >= 5)
    )




@q(
    "ctr_wilson_bounds",
    """WITH s AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
                  AS hits
         FROM events GROUP BY event_type),
       w AS (
         SELECT event_type, n, hits,
                CAST(hits AS DOUBLE) / n AS p,
                CAST(1.96 AS DOUBLE) AS z
         FROM s)
       SELECT event_type, n, hits, p AS rate,
              (p + z * z / (2 * n)
               - z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                / (1 + z * z / n) AS wilson_lo,
              (p + z * z / (2 * n)
               + z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                / (1 + z * z / n) AS wilson_hi
       FROM w""",
)
def _ctr_wilson_bounds(spark, sf_dir):
    """Wilson score interval for per-event-type hit rates (value > 50
    as the 'conversion') — the correct small-n confidence bound for
    any rate metric on a data card. IEEE sqrt is correctly rounded, so
    with identical operands the ENTIRE interval is cross-engine
    bit-exact: full-precision export, no rounding anywhere. One
    map-combined aggregate."""
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("value") > 50).cast("int")).cast("long").alias("hits"),
    )
    p = F.col("hits").cast("double") / F.col("n")
    z = F.lit(1.96)
    center = p + z * z / (2 * F.col("n"))
    margin = z * F.sqrt(
        p * (F.lit(1) - p) / F.col("n")
        + z * z / (4 * F.col("n") * F.col("n"))
    )
    denom = F.lit(1) + z * z / F.col("n")
    return s.select(
        "event_type",
        "n",
        "hits",
        p.alias("rate"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    )


@q(
    "event_transition_matrix",
    """WITH seq AS (
         SELECT user_id, event_type,
                lag(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ) AS prev_type
         FROM events),
       c AS (SELECT prev_type, event_type AS next_type,
                    CAST(count(*) AS BIGINT) AS n
             FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT prev_type, sum(n) AS n_from FROM c GROUP BY 1)
       SELECT c.prev_type, c.next_type, c.n,
              CAST(c.n AS DOUBLE) / t.n_from AS prob
       FROM c JOIN t USING (prev_type)""",
)
def _event_transition_matrix(spark, sf_dir):
    """First-order behavioral transition matrix: P(next event type |
    previous event type) over per-user event sequences — the Markov
    summary behind funnel/assist analyses. One window (keyed on
    user_id, (ts, event_id) tie-broken), two map-combined aggregates;
    the probability is an identical-operand IEEE division of exact
    longs — full-precision export."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return c.join(t, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from")).alias("prob"),
    )
