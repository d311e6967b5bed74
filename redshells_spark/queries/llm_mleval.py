"""Trend/forecast, BPE/chunking tier, warehouse ops, exact-arithmetic ML/eval tier.

Split from the former single-file queries.py (round 4); registration
order within and across tier modules is preserved by the package
__init__ import order and pinned by tests/test_ann_recall.py.
"""

from redshells_spark.queries._shared import *  # noqa: F401,F403
from redshells_spark.queries.text import _duck_h60  # noqa: F401,E402

# ------------------------------------------------ trend / forecast

_HOUR_US = 3_600_000_000
_EV_EPOCH_HOURS = 473_352  # 2024-01-01 00:00 UTC in whole hours
_US_2024_01_22 = 1_705_881_600 * 1_000_000
_US_2024_01_29 = 1_706_486_400 * 1_000_000


@q(
    "grouped_ols_trend",
    f"""WITH pts AS (SELECT event_type,
                           epoch_us(ts) // {_HOUR_US} - {_EV_EPOCH_HOURS} AS x,
                           CAST(round(value * 100) AS BIGINT) AS y
                    FROM events),
       m AS (SELECT event_type, count(*) AS n,
                    sum(x) AS sx, sum(y) AS sy,
                    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
             FROM pts GROUP BY event_type)
       SELECT event_type, n,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6) AS slope,
              round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                     - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6) AS intercept,
              round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
       FROM m""",
)
def _grouped_ols_trend(spark, sf_dir):
    """Per-group simple linear regression (value ~ hours-since-epoch)
    in closed form from FIVE exact integer moments — one aggregate
    pass, no iteration, no MLlib. x rides as whole hours (offset to
    keep magnitudes small), y as integer cents, so every sum is
    order-independent; the slope/intercept/R² arithmetic happens once
    per GROUP on already-exact moments, with the same literal
    expression tree on both engines (IEEE doubles are deterministic
    given identical inputs and op order). At 100 TB this is one
    map-side-combined shuffle of 7 longs per group."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        (event_us(ev, "ts") / F.lit(_HOUR_US)).cast("long").alias("x_raw"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    ).select(
        "event_type", (F.col("x_raw") - _EV_EPOCH_HOURS).alias("x"), "y"
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, sxy, syy = (F.col(c).cast("double") for c in ("sxx", "sxy", "syy"))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num / den
    return m.select(
        "event_type",
        "n",
        F.round(slope / 100.0, 6).alias("slope"),
        F.round((sy / n - slope * (sx / n)) / 100.0, 6).alias("intercept"),
        F.round((num * num) / (den * (n * syy - sy * sy)), 6).alias("r2"),
    )


@q(
    "seasonal_baseline_forecast",
    f"""WITH ev AS (SELECT event_type, epoch_us(ts) AS us,
                          (epoch_us(ts) // {_HOUR_US}) % 24 AS hod,
                          CAST(round(value * 100) AS BIGINT) AS v_c
                   FROM events),
       train AS (SELECT event_type, hod, sum(v_c) AS s, count(*) AS c
                 FROM ev WHERE us < {_US_2024_01_22} GROUP BY event_type, hod),
       test AS (SELECT event_type, hod, v_c FROM ev
                WHERE us >= {_US_2024_01_22} AND us < {_US_2024_01_29}),
       terms AS (SELECT t.event_type,
                        CAST(round(abs(CAST(t.v_c AS DOUBLE) * CAST(tr.c AS DOUBLE)
                                       - CAST(tr.s AS DOUBLE))
                                   * 1000000.0 / CAST(tr.c AS DOUBLE)) AS BIGINT) AS err_u
                 FROM test t JOIN train tr
                   ON t.event_type = tr.event_type AND t.hod = tr.hod)
       SELECT event_type, count(*) AS n_test,
              round(CAST(sum(err_u) AS DOUBLE) / 1000000.0 / count(*) / 100.0, 4) AS mae
       FROM terms GROUP BY event_type""",
)
def _seasonal_baseline_forecast(spark, sf_dir):
    """Seasonal-naive backtest: the forecast for (event_type,
    hour-of-day) is the training-window mean; score one held-out week
    by MAE. The per-row error is converted to an exact integer
    micro-unit (|v·c − s|/c rounded to 1e-6) BEFORE summing, so the
    aggregate is order-free and cross-engine identical — the same
    fixed-point discipline as the chi-square and A/B queries. The
    hour-of-day profile is a tiny broadcast join onto the test scan;
    train is one map-combined aggregate."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        event_us(ev, "ts").alias("us"),
        ((event_us(ev, "ts") / F.lit(_HOUR_US)).cast("long") % 24).alias("hod"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    )
    train = (
        base.filter(F.col("us") < _US_2024_01_22)
        .groupBy("event_type", "hod")
        .agg(F.sum("v_c").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    test = base.filter(
        (F.col("us") >= _US_2024_01_22) & (F.col("us") < _US_2024_01_29)
    ).select("event_type", "hod", "v_c")
    err_u = F.round(
        F.abs(
            F.col("v_c").cast("double") * F.col("c").cast("double")
            - F.col("s").cast("double")
        )
        * 1_000_000.0
        / F.col("c").cast("double"),
        0,
    ).cast("long")
    terms = test.join(F.broadcast(train), ["event_type", "hod"]).select(
        "event_type", err_u.alias("err_u")
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(
            F.sum("err_u").cast("double") / 1_000_000.0 / F.count(F.lit(1)) / 100.0, 4
        ).alias("mae"),
    )


# ------------------------------------------------------- BPE / chunking tier


def _bpe_cte(k: int, min_count: int = 2) -> str:
    """CTE chain that replays distributed BPE training in DuckDB: the
    same bracketed-symbol representation as ``text/bpe.py``, with each
    merge = one pair-count aggregate + one arg-max + one replace().
    ``replace`` is non-overlapping left-to-right in both engines, which
    on the bracketed form IS greedy BPE application — so the learned
    table and every intermediate segmentation are bit-identical."""
    parts = [
        """wf AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq
               FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
               WHERE word <> '' GROUP BY word)""",
        """w0 AS MATERIALIZED (SELECT word, freq,
                      regexp_replace(word, '(.)', '[\\1]', 'g') AS sym FROM wf)""",
    ]
    for i in range(1, k + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (SELECT toks[j] AS lhs, toks[j + 1] AS rhs, sum(freq)::BIGINT AS c
              FROM (SELECT freq, toks, unnest(range(1, len(toks))) AS j
                    FROM (SELECT freq,
                                 string_split(substr(sym, 2, length(sym) - 2), '][') AS toks
                          FROM {prev})
                    WHERE len(toks) >= 2)
              GROUP BY 1, 2)"""
        )
        parts.append(
            f"""b{i} AS MATERIALIZED (SELECT lhs, rhs, c FROM p{i} WHERE c >= {min_count}
              ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1)"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (SELECT word, freq,
                      replace(sym,
                              '[' || (SELECT lhs FROM b{i}) || '][' || (SELECT rhs FROM b{i}) || ']',
                              '[' || (SELECT lhs FROM b{i}) || (SELECT rhs FROM b{i}) || ']') AS sym
              FROM {prev})"""
        )
    return ",\n       ".join(parts)


_BPE_K = 8


@session_cached
def _bpe_trained(spark: SparkSession, sf_dir: str):
    """(merges_df, segmented_words) for the documents corpus, cached
    per (session, sf) — bpe_merge_table and bpe_subtoken_counts share
    one training run, mirroring how a pipeline would persist the merge
    table once and apply it everywhere."""
    from redshells_spark.text.bpe import learn_bpe_merges, word_freq_table

    return learn_bpe_merges(word_freq_table(_t(spark, sf_dir, "documents")), _BPE_K)


@q(
    "bpe_merge_table",
    f"""WITH {_bpe_cte(_BPE_K)}
       """
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, lhs, rhs, lhs || rhs AS merged, c AS pair_count FROM b{i}"
        for i in range(1, _BPE_K + 1)
    ),
)
def _bpe_merge_table(spark, sf_dir):
    """Distributed BPE tokenizer training (text/bpe.py): 8 merges
    learned over the word-frequency table — one corpus pass total,
    then per merge one pair-count aggregate over the (small) distinct
    word relation and a single-row collect. The DuckDB oracle replays
    the identical algorithm as unrolled CTEs; the merge table, with
    its count-desc/pair-asc tie-break, is bit-reproducible."""
    merges, _ = _bpe_trained(spark, sf_dir)
    return merges.select(
        F.col("rank").alias("merge_rank"),
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        "merged",
        "pair_count",
    )


@q(
    "bpe_subtoken_counts",
    f"""WITH {_bpe_cte(_BPE_K)}
       SELECT d.doc_id, count(*)::BIGINT AS n_tokens,
              sum(len(string_split(substr(w.sym, 2, length(w.sym) - 2), '][')))::BIGINT
                  AS n_subtokens
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
       JOIN w{_BPE_K} w USING (word)
       WHERE d.word <> ''
       GROUP BY d.doc_id""",
)
def _bpe_subtoken_counts(spark, sf_dir):
    """Corpus application of the learned BPE merges: exploded tokens
    broadcast-join the trained word table (distinct words ≪ corpus) to
    count subtokens per document — the scale path for segmenting
    100 TB with a merge table trained once."""
    from redshells_spark.text.bpe import subtoken_count_per_doc

    _, seg = _bpe_trained(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    out = subtoken_count_per_doc(docs, seg)
    return out.select("doc_id", "n_tokens", F.col("n_subtokens").cast("long").alias("n_subtokens"))


@q(
    "bpe_encode",
    f"""WITH {_bpe_cte(_BPE_K)},
       seg AS (SELECT word,
                      string_split(substr(sym, 2, length(sym) - 2), '][') AS subs
               FROM w{_BPE_K}),
       vs AS (SELECT sub AS subtoken, sum(freq)::BIGINT AS n_uses
              FROM (SELECT freq,
                           unnest(string_split(substr(sym, 2, length(sym) - 2), '][')) AS sub
                    FROM w{_BPE_K})
              GROUP BY 1),
       vocab AS (SELECT CAST(row_number() OVER (ORDER BY n_uses DESC, subtoken ASC) - 1
                             AS BIGINT) AS token_id,
                        subtoken
                 FROM vs),
       d AS (SELECT doc_id, word, CAST(pos - 1 AS BIGINT) AS pos FROM
               (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                       generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents)
             WHERE word <> ''),
       e AS (SELECT d.doc_id, d.pos,
                    CAST(generate_subscripts(g.subs, 1) - 1 AS BIGINT) AS sub_pos,
                    unnest(g.subs) AS subtoken
             FROM d JOIN seg g ON g.word = d.word)
       SELECT e.doc_id, e.pos, e.sub_pos, v.token_id
       FROM e JOIN vocab v USING (subtoken)""",
)
def _bpe_encode(spark, sf_dir):
    """Corpus encoding with the trained tokenizer (text/bpe.py
    bpe_vocab + bpe_encode): dense subtoken ids assigned by
    (corpus-use desc, subtoken asc) over the vocabulary relation, then
    every document becomes its (pos, sub_pos, token_id) sequence via
    two broadcast joins inside codegen — one corpus scan, no global
    sort. The whole train→segment→assign-ids→encode pipeline is
    replayed by the DuckDB oracle and hash-MATCHes."""
    from redshells_spark.text.bpe import bpe_encode, bpe_vocab

    _, seg = _bpe_trained(spark, sf_dir)
    vocab = bpe_vocab(seg)
    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, seg, vocab)


@q(
    "chunk_documents",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t),
       c AS (SELECT doc_id, start,
                    list_slice(toks, start + 1, least(start + 32, len(toks))) AS chunk
             FROM s)
       SELECT doc_id, start // 24 AS chunk_id, start AS chunk_start,
              len(chunk)::BIGINT AS n_chunk_tokens,
              array_to_string(chunk, ' ') AS chunk_text
       FROM c""",
)
def _chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (text/chunking.py): 32-token
    chunks at stride 24 — a pure generator (sequence+explode), zero
    shuffles, pipelined into whatever consumes the chunks."""
    from redshells_spark.text.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


@q(
    "within_doc_token_dedup",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       e AS (SELECT doc_id, len(toks) AS n, unnest(range(1, len(toks) + 1)) AS pos, toks FROM t),
       x AS (SELECT doc_id, n, pos, toks[pos] AS unit FROM e),
       k AS (SELECT doc_id, n, pos, unit,
                    row_number() OVER (PARTITION BY doc_id, unit ORDER BY pos ASC) AS rn
             FROM x)
       SELECT doc_id, string_agg(unit, ' ' ORDER BY pos ASC) AS text,
              max(n)::BIGINT AS n_units, (max(n) - count(*))::BIGINT AS n_removed
       FROM k WHERE rn = 1 GROUP BY doc_id""",
)
def _within_doc_token_dedup(spark, sf_dir):
    """C4-style within-document dedup (text/chunking.py): drop
    repeated units keeping the first occurrence, rebuild the text in
    original order. Registered on tokens (the corpus has no newlines);
    the line variant is the same operator with unit_sep='\\n'."""
    from redshells_spark.text.chunking import dedup_within_doc

    return dedup_within_doc(_t(spark, sf_dir, "documents"))


@q(
    "scd2_user_event_type",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
       c AS (SELECT user_id, event_type, us, event_id,
                    CASE WHEN lag(event_type) OVER
                              (PARTITION BY user_id ORDER BY us ASC, event_id ASC)
                              IS DISTINCT FROM event_type
                         THEN 1 ELSE 0 END AS chg
             FROM e),
       i AS (SELECT user_id, event_type, us, event_id,
                    sum(chg) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS island
             FROM c),
       a AS (SELECT user_id, island, min(event_type) AS event_type,
                    min(us) AS valid_from_us, count(*)::BIGINT AS n_events
             FROM i GROUP BY user_id, island)
       SELECT user_id, event_type, valid_from_us,
              lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island ASC)
                  AS valid_to_us,
              n_events
       FROM a""",
)
def _scd2_user_event_type(spark, sf_dir):
    """SCD type-2 interval construction (operators/scd.py): collapse
    each user's event stream into half-open validity intervals per run
    of equal event_type — the gaps-and-islands shape, partitioned by
    the entity key so 100 TB shuffles once by user. event_id breaks
    timestamp ties, making the interval table deterministic."""
    from redshells_spark.operators.scd import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", event_us(ev, "ts").alias("us"), "event_id"
    )
    out = scd2_intervals(base, "user_id", "event_type", "us", tie_break="event_id")
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "n_events",
    )


@q(
    "compaction_plan",
    """WITH f AS (SELECT printf('doc_%08d', doc_id) AS path, n_chars AS bytes
                  FROM documents),
       p AS (SELECT path, bytes,
                    coalesce(sum(bytes) OVER (ORDER BY path ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS prefix
             FROM f)
       SELECT CAST(prefix // 4000 AS BIGINT) AS bin, count(*)::BIGINT AS n_files,
              sum(bytes)::BIGINT AS total_bytes,
              min(path) AS first_path, max(path) AS last_path
       FROM p GROUP BY 1""",
)
def _compaction_plan(spark, sf_dir):
    """Small-file compaction planning (operators/layout.py): files in
    path order bin by exclusive-prefix-sum div target — a metadata-only
    global window (the manifest, not the data), after which each bin
    rewrites independently. Documents stand in as the file inventory
    (path=doc_id, bytes=n_chars, 4 KB target)."""
    from redshells_spark.operators.layout import plan_compaction

    files = _t(spark, sf_dir, "documents").select(
        F.format_string("doc_%08d", F.col("doc_id")).alias("path"),
        F.col("n_chars").alias("bytes"),
    )
    return plan_compaction(files, target_bytes=4000)


@q(
    "cdc_merge_snapshot",
    """WITH base AS (SELECT user_id, event_id, value FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
       ch AS (SELECT user_id, event_id, value, epoch_us(ts) AS version,
                     CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op
              FROM events WHERE event_id % 2 = 1),
       latest AS (SELECT user_id, event_id, value, op FROM (
              SELECT user_id, event_id, value, op,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY version DESC, event_id DESC) AS rn
              FROM ch) WHERE rn = 1)
       SELECT user_id, event_id, round(value, 4) AS value
       FROM base WHERE user_id NOT IN (SELECT user_id FROM latest)
       UNION ALL
       SELECT user_id, event_id, round(value, 4) AS value
       FROM latest WHERE op <> 'D'""",
)
def _cdc_merge_snapshot(spark, sf_dir):
    """MERGE semantics (operators/cdc.py:apply_changes): even events
    form the base snapshot (latest per user), odd events a change
    stream where clicks delete the key and everything else upserts;
    latest version wins with an event-id tie-break. The base is only
    touched by one anti-join on the compacted delta's (broadcast) key
    set — the delta-vs-base asymmetry a 100 TB MERGE depends on."""
    from redshells_spark.operators.cdc import apply_changes

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    base = (
        ev.filter(F.col("event_id") % 2 == 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )
    changes = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        "event_id",
        "value",
        us.alias("version"),
        F.when(F.col("event_type") == "click", F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    snap = apply_changes(
        base, changes, ["user_id"], "version", tie_break="event_id"
    )
    return snap.select("user_id", "event_id", _r4(F.col("value"), "value"))


@q(
    "max_concurrent_events",
    """WITH iv AS (SELECT event_type, epoch_us(ts) AS s,
                          epoch_us(ts) + 1800000000 AS e FROM events),
       pts AS (SELECT event_type, s AS t, 1 AS delta FROM iv
               UNION ALL
               SELECT event_type, e AS t, -1 AS delta FROM iv),
       r AS (SELECT event_type,
                    sum(delta) OVER (PARTITION BY event_type
                                     ORDER BY t ASC, delta ASC
                                     ROWS UNBOUNDED PRECEDING) AS open
             FROM pts)
       SELECT event_type, max(open)::BIGINT AS max_concurrent
       FROM r GROUP BY event_type""",
)
def _max_concurrent_events(spark, sf_dir):
    """Sweep-line peak concurrency (operators/intervals.py): each
    event opens a 30-minute [start, end) interval; per event_type the
    running ±1 sum's max is the peak number of simultaneously open
    intervals. Ends sort before starts at the same instant (half-open
    semantics); the sweep partitions by group so each key is an
    independent sort — no global order."""
    from redshells_spark.operators.intervals import max_concurrency

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    iv = ev.select(
        "event_type", us.alias("s"), (us + F.lit(1_800_000_000)).alias("e")
    )
    return max_concurrency(iv, "s", "e", ["event_type"])


@q(
    "interval_coverage_users",
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                          epoch_us(ts) + 1800000000 AS e FROM events),
       f AS (SELECT user_id, s, e,
                    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                              IS NULL
                           OR s > max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         THEN 1 ELSE 0 END AS ni
             FROM iv),
       isl AS (SELECT user_id, s, e,
                      sum(ni) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                                    ROWS UNBOUNDED PRECEDING) AS island
               FROM f),
       g AS (SELECT user_id, island, max(e) - min(s) AS len
             FROM isl GROUP BY user_id, island)
       SELECT user_id, sum(len)::BIGINT AS covered, count(*)::BIGINT AS n_islands
       FROM g GROUP BY user_id""",
)
def _interval_coverage_users(spark, sf_dir):
    """Merged interval coverage (operators/intervals.py): per user,
    total active time under 30-minute event intervals with overlaps
    merged — islands begin where a start exceeds the running max of
    prior ends (gaps-and-islands, keyed by user)."""
    from redshells_spark.operators.intervals import merged_coverage

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    iv = ev.select("user_id", us.alias("s"), (us + F.lit(1_800_000_000)).alias("e"))
    return merged_coverage(iv, "s", "e", ["user_id"])


@q(
    "spearman_by_group",
    f"""WITH r AS (SELECT l_returnflag,
                    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity ASC)
                      + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
                      AS x,
                    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC)
                      + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
                      AS y
             FROM lineitem),
       m AS (SELECT l_returnflag, count(*) AS n,
                    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                    sum(x * x) AS sxx, sum(y * y) AS syy
             FROM r GROUP BY l_returnflag)
       SELECT l_returnflag,
              {corr_e4_sql('(n * sxy - sx * sy)', '(n * sxx - sx * sx)', '(n * syy - sy * sy)', '//')} AS spearman,
              n FROM m""",
)
def _spearman_by_group(spark, sf_dir):
    """Spearman rank correlation per group: average ranks computed
    tie-independently as min-rank + (tie_count − 1)/2 — doubled to the
    INTEGER 2·rank + ties − 1 (Pearson is affine-invariant, so the ×2
    cancels), which makes every co-moment an exact integer sum — the
    engine-internal corr() streams float partials in engine order, the
    correlation_stats boundary class (functions/exact.py:corr_e4_sql).
    All windows partition by the group key, so each group ranks
    independently (the global-Spearman variant would need a single
    total order; per-group is the shape that scales)."""
    li = _t(spark, sf_dir, "lineitem")
    wq = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").asc())
    wp = Window.partitionBy("l_returnflag").orderBy(F.col("l_extendedprice").asc())
    x = (
        2 * F.rank().over(wq).cast("long")
        + F.count(F.lit(1)).over(Window.partitionBy("l_returnflag", "l_quantity"))
        - 1
    )
    y = (
        2 * F.rank().over(wp).cast("long")
        + F.count(F.lit(1)).over(Window.partitionBy("l_returnflag", "l_extendedprice"))
        - 1
    )
    ranked = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — Σy² > int64
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
    )
    return m.selectExpr(
        "l_returnflag",
        corr_e4_sql(
            "(n * sxy - sx * sy)",
            "(n * sxx - sx * sx)",
            "(n * syy - sy * sy)",
            "div",
        )
        + " AS spearman",
        "n",
    )


@q(
    "equi_depth_histogram",
    """WITH b AS (SELECT event_type, value,
                    ntile(8) OVER (PARTITION BY event_type
                                   ORDER BY value ASC, event_id ASC) AS bucket
             FROM events)
       SELECT event_type, bucket, count(*) AS n,
              round(min(value), 4) AS lo, round(max(value), 4) AS hi
       FROM b GROUP BY event_type, bucket""",
)
def _equi_depth_histogram(spark, sf_dir):
    """Equi-depth (equal-frequency) histogram per group via ntile —
    the summary statistics engines keep for selectivity estimation.
    event_id breaks value ties so bucket boundaries are deterministic.
    Partitioned by event_type: per-group ntile windows, no global
    sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("bucket", F.ntile(8).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r4(F.min("value"), "lo"),
            _r4(F.max("value"), "hi"),
        )
    )


@q(
    "key_skew_profile",
    """SELECT user_id, count(*) AS rows,
              round(count(*) / (SELECT count(*)::DOUBLE FROM events), 6) AS share
       FROM events GROUP BY user_id
       ORDER BY rows DESC, user_id ASC LIMIT 10""",
)
def _key_skew_profile(spark, sf_dir):
    """Skew diagnostic (operators/skew.py:key_skew_profile): the
    top-10 heaviest keys and their row share — the number that decides
    whether a join/aggregate needs salting (share ≫ 1/partitions).
    One aggregate + TakeOrderedAndProject; the kind of probe a planner
    runs before choosing the salted path."""
    from redshells_spark.operators.skew import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_n=10)


@q(
    "k_anonymity_audit",
    """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
                         count(DISTINCT c_acctbal) AS n_sensitive
                  FROM customer GROUP BY 1, 2)
       SELECT count(*) AS n_classes,
              sum(CASE WHEN n_rows < 50 THEN 1 ELSE 0 END)::BIGINT AS k_violating_classes,
              sum(CASE WHEN n_rows < 50 THEN n_rows ELSE 0 END)::BIGINT AS rows_at_risk,
              round(sum(CASE WHEN n_rows < 50 THEN n_rows ELSE 0 END)
                    / sum(n_rows)::DOUBLE, 6) AS risk_share,
              sum(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END)::BIGINT
                  AS l_violating_classes
       FROM c""",
)
def _k_anonymity_audit(spark, sf_dir):
    """Release-audit governance op (operators/privacy.py): equivalence
    classes over the quasi-identifiers (nation, market segment) with
    account balance as the sensitive attribute — k=50 anonymity and
    l=2 diversity in ONE groupBy + summary aggregate, map-side
    combined, no driver state."""
    from redshells_spark.operators.privacy import k_anonymity_audit

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], k=50, sensitive_col="c_acctbal"
    )


@q(
    "cms_user_counts",
    """WITH ks AS (SELECT user_id, count(*)::BIGINT AS true_cnt
                   FROM events GROUP BY user_id),
       probes AS (SELECT user_id, true_cnt FROM ks
                  ORDER BY true_cnt DESC, user_id ASC LIMIT 10),
       rj AS (SELECT unnest(range(0, 4)) AS j),
       cells AS (SELECT j,
                        (((user_id % 2147483647) * 2654435761 + j * 1099087573 + 40503)
                         % 2147483647) % 512 AS bucket,
                        count(*)::BIGINT AS c
                 FROM events, rj GROUP BY 1, 2),
       pe AS (SELECT p.user_id, p.true_cnt, r.j,
                     (((p.user_id % 2147483647) * 2654435761 + r.j * 1099087573 + 40503)
                      % 2147483647) % 512 AS bucket
              FROM probes p, rj r)
       SELECT pe.user_id, pe.true_cnt, min(c.c) AS est
       FROM pe JOIN cells c ON c.j = pe.j AND c.bucket = pe.bucket
       GROUP BY 1, 2""",
)
def _cms_user_counts(spark, sf_dir):
    """Count-Min sketch (operators/sketches.py): depth-4 × width-512
    frequency sketch of user ids built with portable multiplicative
    hashing — partial aggregation collapses each task to ≤ d·w cells
    before the one shuffle, and probes broadcast-join the (tiny) cell
    table. Probing the 10 heaviest users shows est ≥ true with the
    same numbers in both engines: an approximate structure under the
    exact correctness contract (same discipline as the KMV suite)."""
    from redshells_spark.operators.sketches import cms_build, cms_lookup

    ev = _t(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", depth=4, width=512)
    true = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    probes = true.orderBy(F.col("true_cnt").desc(), F.col("user_id").asc()).limit(10)
    return cms_lookup(sketch, probes, "user_id", depth=4, width=512)


@q(
    "corpus_chunking_pipeline",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       e AS (SELECT doc_id, len(toks) AS n, unnest(range(1, len(toks) + 1)) AS pos, toks
             FROM t),
       x AS (SELECT doc_id, n, pos, toks[pos] AS unit FROM e),
       kk AS (SELECT doc_id, n, pos, unit,
                     row_number() OVER (PARTITION BY doc_id, unit ORDER BY pos ASC) AS rn
              FROM x),
       dd AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos ASC) AS text,
                     max(n) AS n_units, max(n) - count(*) AS n_removed
              FROM kk WHERE rn = 1 GROUP BY doc_id),
       kept AS (SELECT dd.doc_id, dd.text, d.source
                FROM dd JOIN documents d USING (doc_id)
                WHERE dd.n_removed * 2 < dd.n_units),
       kt AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM kept),
       s AS (SELECT doc_id, source, toks, unnest(range(0, len(toks), 24)) AS start
             FROM kt),
       c AS (SELECT doc_id, source,
                    len(list_slice(toks, start + 1, least(start + 32, len(toks))))
                        AS n_chunk_tokens
             FROM s)
       SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
              sum(n_chunk_tokens)::BIGINT AS n_tokens
       FROM c GROUP BY source""",
)
def _corpus_chunking_pipeline(spark, sf_dir):
    """Composite LLM-corpus preparation: within-document dedup →
    repetition-quality gate (docs that lost ≥ half their tokens to
    repeats are dropped) → overlapping 32/24 chunking → per-source
    accounting. Chains three oracle-green operators end-to-end; the
    only shuffles are the dedup windows (keyed by doc) and the final
    per-source aggregate — chunking itself is generator-only."""
    from redshells_spark.text.chunking import chunk_documents, dedup_within_doc

    docs = _t(spark, sf_dir, "documents")
    dd = dedup_within_doc(docs)
    kept = (
        dd.filter(F.col("n_removed") * 2 < F.col("n_units"))
        .join(docs.select("doc_id", "source"), on="doc_id")
        .select("doc_id", "text", "source")
    )
    chunks = chunk_documents(kept, chunk_tokens=32, stride=24).join(
        kept.select("doc_id", "source"), on="doc_id"
    )
    return chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
    )


def _ranking_eval_oracle_sql() -> str:
    from redshells_spark.operators.ranking import _lcm_upto, discount_nanos

    d = discount_nanos(10)
    idcg = [sum(d[:i]) for i in range(1, 11)]
    lcm = _lcm_upto(10)
    darr = "[" + ", ".join(str(x) for x in d) + "]"
    iarr = "[" + ", ".join(str(x) for x in idcg) + "]"
    return f"""WITH base AS (SELECT o_custkey AS u, p_brand AS i, o_orderkey % 2 AS odd
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                                 JOIN part ON p_partkey = l_partkey),
       train AS (SELECT u, i, count(*) AS cnt FROM base WHERE odd = 0 GROUP BY u, i),
       recs AS (SELECT u, i, rk FROM (
                  SELECT u, i, row_number() OVER (PARTITION BY u
                                 ORDER BY cnt DESC, i ASC) AS rk
                  FROM train) WHERE rk <= 10),
       truth AS (SELECT DISTINCT u, i FROM base WHERE odd = 1),
       nrel AS (SELECT u, count(*) AS n_rel FROM truth GROUP BY u),
       hits AS (SELECT r.u, r.rk FROM recs r JOIN truth t ON t.u = r.u AND t.i = r.i),
       sc AS (SELECT u, rk, ({darr})[rk] AS dcg_n,
                     (row_number() OVER (PARTITION BY u ORDER BY rk ASC) * {lcm}) // rk
                         AS ap_n
              FROM hits),
       pu AS (SELECT u, count(*)::BIGINT AS n_hits, sum(dcg_n)::BIGINT AS dcg,
                     sum(ap_n)::BIGINT AS ap
              FROM sc GROUP BY u),
       ev AS (SELECT n.u, n.n_rel FROM nrel n
              WHERE n.u IN (SELECT DISTINCT u FROM recs))
       SELECT ev.u AS user_id, ev.n_rel, coalesce(pu.n_hits, 0)::BIGINT AS n_hits,
              round(coalesce(pu.n_hits, 0) / 10.0, 4) AS precision_at_k,
              round(coalesce(pu.n_hits, 0)::DOUBLE / ev.n_rel, 4) AS recall_at_k,
              round(coalesce(pu.ap, 0)::DOUBLE
                    / ({lcm} * least(ev.n_rel, 10)), 4) AS map_at_k,
              round(coalesce(pu.dcg, 0)::DOUBLE
                    / ({iarr})[least(ev.n_rel, 10)], 4) AS ndcg_at_k
       FROM ev LEFT JOIN pu ON pu.u = ev.u"""


@q("ranking_eval_metrics", _ranking_eval_oracle_sql())
def _ranking_eval_metrics(spark, sf_dir):
    """Recommender evaluation (operators/ranking.py): train a
    count-based brand ranker on even orders, score top-10 recs per
    customer against odd-order truth with precision/recall/MAP/NDCG@10.
    Transcendentals never enter the distributed aggregation — NDCG
    discounts are driver-precomputed integer nano-unit literals and AP
    terms are lcm-scaled exact integers, so an *evaluation metric*
    lands inside the bit-exact oracle contract."""
    from redshells_spark.operators.ranking import ranking_metrics_at_k

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("o_custkey").alias("u"),
            F.col("p_brand").alias("i"),
            (F.col("o_orderkey") % 2).alias("odd"),
        )
    )
    # ONE fact pass: the (u, brand, odd) counts are customer x 25-brand
    # bounded and both the train counts and the odd-order truth pairs
    # derive from them — unpinned, train and truth each re-ran the
    # 3-table join (12 scans at the r8 audit)
    cnts = (
        base.groupBy("u", "i", "odd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    train = cnts.filter(F.col("odd") == 0).select("u", "i", "cnt")
    wrk = Window.partitionBy("u").orderBy(F.col("cnt").desc(), F.col("i").asc())
    recs = (
        train.withColumn("rk", F.row_number().over(wrk)).filter(F.col("rk") <= 10)
    )
    truth = cnts.filter(F.col("odd") == 1).select("u", "i")
    out = ranking_metrics_at_k(
        recs, truth, k=10, user_col="u", item_col="i", rank_col="rk"
    )
    return out.select(
        F.col("u").alias("user_id"),
        "n_rel",
        "n_hits",
        F.col("precision").alias("precision_at_k"),
        F.col("recall").alias("recall_at_k"),
        "map_at_k",
        F.col("ndcg").alias("ndcg_at_k"),
    )


@q(
    "grouped_mad_outliers",
    """WITH r AS (SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY value ASC, event_id ASC) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
             FROM events),
       med AS (SELECT event_type, value AS m FROM r WHERE rn = (n + 1) // 2),
       d AS (SELECT e.event_type, e.value, e.event_id, abs(e.value - med.m) AS dev,
                    med.m
             FROM events e JOIN med USING (event_type)),
       r2 AS (SELECT event_type, m, dev,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY dev ASC, event_id ASC) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM d),
       mad AS (SELECT event_type, m, dev AS mad, n FROM r2 WHERE rn = (n + 1) // 2)
       SELECT d.event_type, any_value(mad.n)::BIGINT AS n,
              round(any_value(mad.m), 4) AS median_value,
              round(any_value(mad.mad), 4) AS mad,
              sum(CASE WHEN mad.mad > 0 AND d.dev > 3 * mad.mad
                       THEN 1 ELSE 0 END)::BIGINT AS n_outliers
       FROM d JOIN mad USING (event_type)
       GROUP BY d.event_type""",
)
def _grouped_mad_outliers(spark, sf_dir):
    """Robust outlier detection per group: exact lower median via
    window selection (same trick as grouped_median_price — no
    percentile semantics to reconcile), MAD as the median of absolute
    deviations, outliers = |x − median| > 3·MAD. Two key-partitioned
    window passes + one broadcast join of the 5-row median table; the
    robust pair (median, MAD) survives the heavy-tailed values that
    wreck mean/stddev z-scores."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    wv = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    med = (
        ev.withColumn("rn", F.row_number().over(wv))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("m"))
    )
    d = ev.join(F.broadcast(med), on="event_type").select(
        "event_type", "event_id", "m", F.abs(F.col("value") - F.col("m")).alias("dev")
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.col("dev").asc(), F.col("event_id").asc()
    )
    mad = (
        d.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("dev").alias("mad"), "n")
    )
    return (
        d.join(F.broadcast(mad), on="event_type")
        .groupBy("event_type")
        .agg(
            F.any_value(F.col("n")).cast("long").alias("n"),
            _r4(F.any_value(F.col("m")), "median_value"),
            _r4(F.any_value(F.col("mad")), "mad"),
            F.sum(
                ((F.col("mad") > 0) & (F.col("dev") > 3 * F.col("mad"))).cast("long")
            ).cast("long").alias("n_outliers"),
        )
    )


def _kmeans_oracle_sql(iterations: int = 2) -> str:
    """Unrolled integer Lloyd's iterations (see ml/kmeans_int.py).
    MATERIALIZED CTEs — pts feeds every iteration and DuckDB would
    otherwise inline-re-expand it (same lesson as the BPE oracle)."""
    parts = [
        """pts AS MATERIALIZED (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                  (floor(unnest(embedding)::DOUBLE * 1000000 + 0.5))::BIGINT
                      + 4000000 AS x
           FROM embeddings)""",
        """c0 AS MATERIALIZED (SELECT vec_id // 62 AS cid, dim, x AS c
           FROM pts WHERE vec_id % 62 = 0 AND vec_id < 496)""",
    ]
    prev = "c0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""a{i} AS MATERIALIZED (SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                       ORDER BY d2 ASC, cid ASC) AS rn
            FROM (SELECT p.vec_id, c.cid,
                         sum((p.x - c.c) * (p.x - c.c))::BIGINT AS d2
                  FROM pts p JOIN {prev} c ON c.dim = p.dim
                  GROUP BY p.vec_id, c.cid)) WHERE rn = 1)"""
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
            SELECT a.cid, p.dim,
                   (2 * sum(p.x) + count(*)) // (2 * count(*)) AS c
            FROM pts p JOIN a{i} a USING (vec_id) GROUP BY a.cid, p.dim)"""
        )
        prev = f"c{i}"
    parts.append(
        f"""df AS MATERIALIZED (
        SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
        FROM (SELECT p.vec_id, c.cid,
                     sum((p.x - c.c) * (p.x - c.c))::BIGINT AS d2
              FROM pts p JOIN {prev} c ON c.dim = p.dim
              GROUP BY p.vec_id, c.cid))"""
    )
    parts.append(
        f"cs AS (SELECT cid, sum(c)::BIGINT AS c_checksum FROM {prev} GROUP BY cid)"
    )
    body = ",\n       ".join(parts)
    return f"""WITH {body}
       SELECT a.cid, count(*) AS n_members, sum(a.d2)::BIGINT AS inertia,
              cs.c_checksum
       FROM df a JOIN cs USING (cid) WHERE a.rn = 1
       GROUP BY a.cid, cs.c_checksum"""


@q("kmeans_lloyd_exact", _kmeans_oracle_sql(2))
def _kmeans_lloyd_exact_query(spark, sf_dir):
    """Distributed Lloyd's K-means under the EXACT contract
    (ml/kmeans_int.py): fixed-point integer components (offset keeps
    them non-negative so Spark div == DuckDB // == floor), integer
    centroid updates via (2s+n) div 2n, int64 distances, (dist, cid)
    tie-breaks — 8 strided seed centroids, 2 iterations, per-cluster
    sizes + inertia + centroid checksum all hash-MATCH an unrolled-CTE
    oracle. MLlib KMeans remains the production default; this is the
    variant a cross-engine correctness gate can hold."""
    from redshells_spark.ml.kmeans_int import explode_points, kmeans_lloyd_exact

    emb = _t(spark, sf_dir, "embeddings")
    # pts feeds every superstep (assignment + update per iteration):
    # materialize once, same as the graph/assoc relations
    pts = explode_points(emb).localCheckpoint(eager=True)
    cent0 = pts.filter((F.col("vec_id") % 62 == 0) & (F.col("vec_id") < 496)).select(
        F.expr("vec_id div 62").alias("cid"), "dim", F.col("x").alias("c")
    )
    assign, cent = kmeans_lloyd_exact(pts, cent0, iterations=2)
    cs = cent.groupBy("cid").agg(F.sum("c").cast("long").alias("c_checksum"))
    return (
        assign.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d2").cast("long").alias("inertia"),
        )
        .join(cs, on="cid")
    )


@q(
    "decision_stump_returnflag",
    """WITH m AS (SELECT 'l_quantity' AS feature, l_quantity::DOUBLE AS value,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label
                  FROM lineitem
           UNION ALL
           SELECT 'l_discount', l_discount::DOUBLE,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem),
       pv AS (SELECT feature, value, count(*)::BIGINT AS n_v,
                     sum(label)::BIGINT AS pos_v
              FROM m GROUP BY 1, 2),
       sc AS (SELECT feature, value,
                     sum(n_v) OVER (PARTITION BY feature ORDER BY value ASC
                                    ROWS UNBOUNDED PRECEDING) AS n_left,
                     sum(pos_v) OVER (PARTITION BY feature ORDER BY value ASC
                                      ROWS UNBOUNDED PRECEDING) AS pos_left,
                     sum(n_v) OVER (PARTITION BY feature) AS n,
                     sum(pos_v) OVER (PARTITION BY feature) AS pos
              FROM pv),
       g AS (SELECT feature, value AS threshold,
                    n_left::BIGINT AS n_left, (n - n_left)::BIGINT AS n_right,
                    pos_left::BIGINT AS pos_left,
                    (pos - pos_left)::BIGINT AS pos_right, n::BIGINT AS n
             FROM sc WHERE n - n_left > 0),
       sg AS (SELECT feature, threshold, n_left, n_right, pos_left, pos_right, n,
                     ((n_left * n_left - pos_left * pos_left
                       - (n_left - pos_left) * (n_left - pos_left))::DOUBLE / n_left
                      + (n_right * n_right - pos_right * pos_right
                         - (n_right - pos_right) * (n_right - pos_right))::DOUBLE
                        / n_right) AS gcost
              FROM g)
       SELECT feature, threshold, n_left, n_right, pos_left, pos_right,
              round(gcost / n, 6) AS gini,
              round((greatest(pos_left, n_left - pos_left)
                     + greatest(pos_right, n_right - pos_right))::DOUBLE / n, 4)
                  AS accuracy
       FROM sg ORDER BY gcost ASC, feature ASC, threshold ASC LIMIT 1""",
)
def _decision_stump_returnflag(spark, sf_dir):
    """Exact depth-1 CART induction (ml/decision_stump.py): per
    feature one map-combined aggregate to distinct values, one prefix
    window, integer Gini operands — the split score is a fixed
    expression over identical integers, so both engines compute the
    identical double and the argmin split hash-MATCHes. Approximate
    quantile binning (the MLlib/XGBoost trick) plugs in upstream for
    high-cardinality features without changing the scoring."""
    from redshells_spark.ml.decision_stump import best_stump

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        "l_discount",
        (F.col("l_returnflag") == "R").cast("long").alias("is_return"),
    )
    return best_stump(li, ["l_quantity", "l_discount"], "is_return")


_DAY_US_SD = 86_400_000_000


@q(
    "seasonal_decompose_profile",
    f"""WITH daily AS (SELECT event_type, epoch_us(ts) // {_DAY_US_SD} AS day,
                       sum(CAST(round(value * 100, 0) AS BIGINT)) AS v_c
                FROM events GROUP BY 1, 2),
       tr AS (SELECT event_type, day, v_c,
                     sum(v_c) OVER (PARTITION BY event_type ORDER BY day ASC
                                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
                     count(*) OVER (PARTITION BY event_type ORDER BY day ASC
                                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7n
              FROM daily),
       det AS (SELECT event_type, day % 7 AS dow,
                      7 * v_c - t7 AS d_x7
               FROM tr WHERE t7n = 7)
       SELECT event_type, dow, count(*)::BIGINT AS n_days,
              CAST(floor((sum(d_x7)::DOUBLE / count(*)) / 700.0 * 10000 + 0.5)
                   AS BIGINT) AS seasonal_e4
       FROM det GROUP BY event_type, dow""",
)
def _seasonal_decompose_profile(spark, sf_dir):
    """STL-lite seasonal profile under the exact contract: daily sums
    carried as integer cents, the 7-day centered moving trend kept as
    the un-divided window SUM (detrended value = 7·v − Σ₇ stays
    integer — no float drift in any aggregate), weekday seasonal
    means exported via the floor(x·1e4+0.5) fixed-point (one IEEE
    division + one multiply — identical in both engines, sidestepping
    their different round() semantics). Interior days only (full
    7-day window), all windows partitioned by series key."""
    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    daily = (
        ev.select(
            "event_type",
            (us / F.lit(_DAY_US_SD)).cast("long").alias("day"),
            F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_c").alias("v_c"))
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "v_c",
        F.sum("v_c").over(w7).alias("t7"),
        F.count(F.lit(1)).over(w7).alias("t7n"),
    )
    det = tr.filter(F.col("t7n") == 7).select(
        "event_type",
        (F.col("day") % 7).alias("dow"),
        (F.lit(7) * F.col("v_c") - F.col("t7")).alias("d_x7"),
    )
    return det.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.floor(
            (F.sum("d_x7").cast("double") / F.count(F.lit(1)))
            / 700.0
            * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("seasonal_e4"),
    )


def _bellman_ford_oracle_sql(rounds: int = 3) -> str:
    parts = [
        """e0 AS (SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
                         count(*) AS cnt
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  GROUP BY 1, 2)""",
        """edges AS MATERIALIZED (
             SELECT src, dst, 1000000 // cnt AS w FROM e0
             UNION ALL SELECT dst AS src, src AS dst, 1000000 // cnt FROM e0)""",
        """d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist
                  FROM (VALUES ('c1'), ('c2'), ('c3')) t(node))""",
    ]
    prev = "d0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
             SELECT node, dist FROM {prev}
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM {prev} d JOIN edges e ON e.src = d.node) GROUP BY node)"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n       ".join(parts)
        + f"\n       SELECT node, dist FROM {prev}"
    )


@q("weighted_shortest_paths", _bellman_ford_oracle_sql(3))
def _weighted_shortest_paths(spark, sf_dir):
    """Bounded Bellman-Ford (operators/graph.py:bounded_shortest_paths)
    over the co-purchase graph with integer tie-strength weights
    (1e6 div purchase count — stronger ties are shorter): 3 relaxation
    supersteps from three seed customers. Only improved nodes
    propagate per round (equal to full relaxation — unchanged nodes
    regenerate already-folded candidates), frontier broadcasts, edge
    relation checkpointed once. Integer weights keep every path length
    exact, so the distance table hash-MATCHes the unrolled oracle."""
    from redshells_spark.operators.graph import bounded_shortest_paths
    from redshells_spark.queries.text import _copurchase_edges_weighted

    # the symmetrized (src, dst, cnt) relation is the shared cached
    # graph-tier materialization — the weight map is a narrow select
    edges = _copurchase_edges_weighted(spark, sf_dir).select(
        "src", "dst", F.expr("1000000 div cnt").alias("w")
    )
    sources = spark.createDataFrame([("c1",), ("c2",), ("c3",)], "node string")
    return bounded_shortest_paths(edges, sources, k=3)


@q(
    "temperature_mix_weights",
    """WITH c AS (SELECT source, count(*)::BIGINT AS n_rows
                  FROM documents GROUP BY source),
       m AS (SELECT min(n_rows) AS n_min FROM c)
       SELECT source, n_rows,
              sqrt(m.n_min::DOUBLE / c.n_rows) AS sample_prob,
              CAST(floor(sqrt(m.n_min::DOUBLE / c.n_rows) * 1000000 + 0.5)
                   AS BIGINT) AS prob_e6
       FROM c, m""",
)
def _temperature_mix_weights(spark, sf_dir):
    """Temperature-2 corpus mixing (data/sampling.py): the multilingual
    p^(1/T) rebalance reduced to the closed form sqrt(n_min/n_g) — one
    integer ratio + one correctly-rounded sqrt per group, NO float
    aggregation anywhere, so even this 'soft' sampling policy is under
    the bit-exact oracle contract."""
    from redshells_spark.data.sampling import temperature_mix_weights

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix_weights(docs, "source", temperature=2.0)


@q(
    "impute_group_median",
    """WITH holey AS (SELECT event_id, event_type,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
            FROM events),
       nn AS (SELECT event_type, value, event_id FROM holey WHERE value IS NOT NULL),
       r AS (SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY value ASC, event_id ASC) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
             FROM nn),
       med AS (SELECT event_type, value AS m FROM r WHERE rn = (n + 1) // 2)
       SELECT h.event_type,
              sum(CASE WHEN h.value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_imputed,
              count(*)::BIGINT AS n_rows,
              CAST(sum(CAST(round(coalesce(h.value, med.m) * 10000, 0) AS BIGINT))
                   AS BIGINT) AS imputed_sum_e4
       FROM holey h JOIN med USING (event_type)
       GROUP BY h.event_type""",
)
def _impute_group_median(spark, sf_dir):
    """Median imputation (data/frame_ops.py:impute_with_group_median):
    every 7th event's value is knocked out, then refilled with the
    exact per-group lower median — rank-selection, not engine
    percentiles, so the repaired table is bit-reproducible. Checksum =
    order-free integer sum of 1e-4-scaled values."""
    from redshells_spark.data.frame_ops import impute_with_group_median

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")).alias(
            "value"
        ),
    )
    imputed = impute_with_group_median(
        ev, "value", ["event_type"], "event_id", flag_column="was_imputed"
    )
    return imputed.groupBy("event_type").agg(
        F.sum("was_imputed").cast("long").alias("n_imputed"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias("imputed_sum_e4"),
    )


@q(
    "target_encode_returnflag",
    """WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag AS cat,
                  CAST(round(l_extendedprice * 1000000, 0) AS BIGINT) AS y
                  FROM lineitem),
       s AS (SELECT cat, sum(y)::BIGINT AS s, count(*)::BIGINT AS n
             FROM t GROUP BY cat)
       SELECT t.l_orderkey, t.l_linenumber, t.cat,
              CASE WHEN s.n > 1
                   THEN CAST(floor((s.s - t.y)::DOUBLE / (s.n - 1) + 0.5) AS BIGINT)
              END AS te
       FROM t JOIN s USING (cat)""",
)
def _target_encode_shipmode(spark, sf_dir):
    """Leave-one-out target encoding (data/frame_ops.py:
    target_encode_loo): return flag → mean extended price of the
    OTHER rows in the category, (sum − y)/(n − 1) over exact fixed-point
    integers with one fixed-shape division per row — leakage-free
    categorical features under the bit-exact contract. One broadcast
    of the per-category sums; the fact table never shuffles."""
    from redshells_spark.data.frame_ops import target_encode_loo

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_returnflag").alias("cat"), "l_extendedprice"
    )
    out = target_encode_loo(li, "cat", "l_extendedprice", output_column="te")
    return out.select("l_orderkey", "l_linenumber", "cat", "te")


@q(
    "kfold_assignment",
    """WITH f AS (SELECT ((o_custkey * 2654435761 + 42) % 4294967296) % 5 AS fold,
                         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS p_c
                  FROM orders)
       SELECT fold, count(*) AS n_rows,
              round(sum(p_c) / 100.0 / count(*), 4) AS avg_totalprice
       FROM f GROUP BY fold""",
)
def _kfold_assignment(spark, sf_dir):
    """Deterministic group-aware k-fold CV assignment
    (data/frame_ops.py:kfold_column): folds from the portable
    multiplicative hash of the CUSTOMER key, so every customer's
    orders share a fold (no group leakage across folds). Fold
    balance + per-fold target means as exact-integer checks."""
    from redshells_spark.data.frame_ops import kfold_column

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    folded = kfold_column(o, "o_custkey", k=5, seed=42)
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            / 100.0
            / F.count(F.lit(1)),
            4,
        ).alias("avg_totalprice"),
    )


@q(
    "grouped_ols_two_features",
    """WITH m AS (SELECT l_returnflag,
                count(*)::BIGINT AS n,
                sum(CAST(l_quantity AS BIGINT))::BIGINT AS sx,
                sum(CAST(round(l_discount * 100, 0) AS BIGINT))::BIGINT AS sz,
                sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS sy,
                sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))::BIGINT AS sxx,
                sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                    * CAST(round(l_discount * 100, 0) AS BIGINT))::BIGINT AS szz,
                sum(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_discount * 100, 0) AS BIGINT))::BIGINT AS sxz,
                sum(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS sxy,
                sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                    * CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS szy
           FROM lineitem GROUP BY l_returnflag),
       c AS (SELECT l_returnflag, n, sx, sz, sy,
                    (n::DOUBLE * sxx) - (sx::DOUBLE * sx) AS cxx,
                    (n::DOUBLE * szz) - (sz::DOUBLE * sz) AS czz,
                    (n::DOUBLE * sxz) - (sx::DOUBLE * sz) AS cxz,
                    (n::DOUBLE * sxy) - (sx::DOUBLE * sy) AS cxy,
                    (n::DOUBLE * szy) - (sz::DOUBLE * sy) AS czy
             FROM m),
       b AS (SELECT l_returnflag, n, sx, sz, sy,
                    ((czz * cxy) - (cxz * czy)) / ((cxx * czz) - (cxz * cxz)) AS b1,
                    ((cxx * czy) - (cxz * cxy)) / ((cxx * czz) - (cxz * cxz)) AS b2
             FROM c)
       SELECT l_returnflag, n,
              CAST(floor(b1 * 1000000 + 0.5) AS BIGINT) AS beta_qty_e6,
              CAST(floor(b2 * 1000000 + 0.5) AS BIGINT) AS beta_disc_e6,
              CAST(floor(((sy::DOUBLE - (b1 * sx)) - (b2 * sz)) / n * 100 + 0.5)
                   AS BIGINT) AS intercept_c
       FROM b""",
)
def _grouped_ols_two_features(spark, sf_dir):
    """Closed-form multivariate regression per group: price ~ quantity
    + discount via the 2×2 normal equations solved from NINE exact
    integer moments (one map-combined aggregate — the only distributed
    pass). The centered cross-products and determinant ratios are
    FIXED expression trees over those integers, mirrored
    parenthesis-for-parenthesis in the oracle, so every double is
    IEEE-identical cross-engine and the coefficients export exactly at
    fixed point. The one-feature version is grouped_ols_trend; this is
    the genuinely multivariate shape (quantity and discount enter
    jointly)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    z = F.round(F.col("l_discount") * 100, 0).cast("long")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(z).alias("sz"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(z * z).alias("szz"),
        F.sum(x * z).alias("sxz"),
        F.sum(x * y).alias("sxy"),
        F.sum(z * y).alias("szy"),
    )
    nd = F.col("n").cast("double")
    cxx = (nd * F.col("sxx")) - (F.col("sx").cast("double") * F.col("sx"))
    czz = (nd * F.col("szz")) - (F.col("sz").cast("double") * F.col("sz"))
    cxz = (nd * F.col("sxz")) - (F.col("sx").cast("double") * F.col("sz"))
    cxy = (nd * F.col("sxy")) - (F.col("sx").cast("double") * F.col("sy"))
    czy = (nd * F.col("szy")) - (F.col("sz").cast("double") * F.col("sy"))
    det = (cxx * czz) - (cxz * cxz)
    b1 = ((czz * cxy) - (cxz * czy)) / det
    b2 = ((cxx * czy) - (cxz * cxy)) / det
    return m.select(
        "l_returnflag",
        "n",
        F.floor(b1 * 1_000_000 + F.lit(0.5)).cast("long").alias("beta_qty_e6"),
        F.floor(b2 * 1_000_000 + F.lit(0.5)).cast("long").alias("beta_disc_e6"),
        F.floor(
            ((F.col("sy").cast("double") - (b1 * F.col("sx"))) - (b2 * F.col("sz")))
            / F.col("n")
            * 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("intercept_c"),
    )


@q(
    "calibration_lift_table",
    """WITH tr AS (SELECT CAST(l_quantity AS BIGINT) AS q,
                  count(*)::BIGINT AS n_q,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos_q
           FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
       te AS (SELECT l.l_orderkey, l.l_linenumber,
                     CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                     CAST(floor(tr.pos_q::DOUBLE * 1000000000 / tr.n_q + 0.5)
                          AS BIGINT) AS score_e9
              FROM lineitem l JOIN tr ON tr.q = CAST(l.l_quantity AS BIGINT)
              WHERE l.l_orderkey % 2 = 1),
       d AS (SELECT y, score_e9,
                    ntile(10) OVER (ORDER BY score_e9 DESC, l_orderkey ASC,
                                    l_linenumber ASC) AS decile
             FROM te),
       g AS (SELECT decile, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
                    sum(score_e9)::BIGINT AS sum_score_e9
             FROM d GROUP BY decile)
       SELECT decile, n, n_pos,
              (2 * n_pos * 1000000 + n) // (2 * n) AS obs_rate_e6,
              (2 * (sum_score_e9 // 1000) + n) // (2 * n) AS pred_rate_e6,
              sum(n_pos) OVER (ORDER BY decile ASC ROWS UNBOUNDED PRECEDING)::BIGINT
                  AS cum_pos
       FROM g""",
)
def _calibration_lift_table(spark, sf_dir):
    """Model calibration + lift/gains table, entirely in exact integer
    arithmetic: a per-quantity empirical return-rate model fit on even
    orders scores odd orders (score exported as floor-e9 fixed point —
    summable with no float drift), deciles by descending score with
    unique tie-breaks, then observed vs predicted rates per decile
    ((2a+b) div 2b exact rounding) and the cumulative-positives gains
    curve. Completes the evaluation suite (AUC, RMSE, ranking
    metrics) with the reliability diagram every production scorer
    ships with.

    Scale note: exact global deciles need one total order (the ntile
    window's single-partition exchange — fine for eval sets, which are
    samples by construction). At full-corpus scale the standard move
    is boundary binning: approx-quantile score cut points, then a
    broadcast range join — same statistics, no global sort, slightly
    different tie handling; this query keeps exact ntile because the
    oracle contract pins exact tie semantics."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    tr = (
        li.filter(F.col("l_orderkey") % 2 == 0)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n_q"), F.sum("y").alias("pos_q"))
    )
    te = (
        li.filter(F.col("l_orderkey") % 2 == 1)
        .join(F.broadcast(tr), on="q")
        .select(
            "l_orderkey",
            "l_linenumber",
            "y",
            F.floor(
                F.col("pos_q").cast("double") * 1_000_000_000 / F.col("n_q")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("score_e9"),
        )
    )
    w = Window.orderBy(
        F.col("score_e9").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    g = (
        te.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.sum("score_e9").alias("sum_score_e9"),
        )
    )
    wc = Window.orderBy(F.col("decile").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return g.select(
        "decile",
        "n",
        "n_pos",
        F.expr("(2 * n_pos * 1000000 + n) div (2 * n)").alias("obs_rate_e6"),
        F.expr("(2 * (sum_score_e9 div 1000) + n) div (2 * n)").alias("pred_rate_e6"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
    )


@q(
    "isotonic_calibration",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s, count(*)::BIGINT AS n,
                   sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos
            FROM lineitem GROUP BY 1),
       pref AS (SELECT s, n, pos,
                 sum(n) OVER (ORDER BY s ASC ROWS UNBOUNDED PRECEDING) AS cn,
                 sum(pos) OVER (ORDER BY s ASC ROWS UNBOUNDED PRECEDING) AS cp,
                 row_number() OVER (ORDER BY s ASC) AS i
          FROM lv),
       lo AS (SELECT i AS j, cn - n AS n_lo, cp - pos AS p_lo FROM pref),
       hi AS (SELECT i AS k, cn AS n_hi, cp AS p_hi FROM pref),
       rg AS (SELECT j, k, (p_hi - p_lo)::DOUBLE / (n_hi - n_lo) AS avg
              FROM lo JOIN hi ON j <= k),
       im AS (SELECT p.i, p.s, p.n, p.pos, r.j, min(r.avg) AS mn
              FROM pref p JOIN rg r ON r.j <= p.i AND r.k >= p.i
              GROUP BY p.i, p.s, p.n, p.pos, r.j)
       SELECT s AS score, n, pos,
              CAST(floor(max(mn) * 1000000000 + 0.5) AS BIGINT) AS iso_e9
       FROM im GROUP BY i, s, n, pos""",
)
def _isotonic_calibration(spark, sf_dir):
    """Isotonic (monotone) calibration of the quantity→return-rate
    relationship via the exact PAV solution (ml/isotonic_exact.py):
    one corpus-wide map-combined aggregate to distinct score levels,
    then the unique isotonic least-squares fit from the max-min
    closed form over exact integer prefix sums — a regression fit
    whose fitted values hash-MATCH the oracle (PAV-reference parity
    pinned in tests)."""
    from redshells_spark.ml.isotonic_exact import isotonic_fit_exact

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("score"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    return isotonic_fit_exact(li, "score", "y")


@q(
    "exact_auc",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
                  sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT AS neg
           FROM lineitem GROUP BY 1),
       c AS (SELECT s, pos, neg,
                    coalesce(sum(neg) OVER (ORDER BY s ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS cnb
             FROM lv),
       t AS (SELECT sum(pos * (2 * cnb + neg))::BIGINT AS num2,
                    sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n
             FROM c)
       SELECT p AS n_pos, n AS n_neg,
              CAST((2 * CAST(num2 AS HUGEINT) * 1000000 + 2 * CAST(p AS HUGEINT) * n)
                     // (4 * CAST(p AS HUGEINT) * n) AS BIGINT) AS auc_e6
       FROM t""",
)
def _exact_auc(spark, sf_dir):
    """Exact ROC AUC from the score LEVEL table: AUC = Σ_s pos_s ·
    (neg_below_s + neg_s/2) / (P·N) — the Mann-Whitney U with tied
    scores handled by the ½-credit convention, computed entirely in
    integers (doubled to clear the half, exported as the exact rounded
    ratio). The corpus collapses to distinct score levels in one
    map-combined aggregate, so no global rank window ever runs —
    THE scale shape for AUC at 100 TB (per-row rank windows are the
    anti-pattern). Completes the eval suite: AUC, RMSE, ranking@k,
    calibration, isotonic fit, all oracle-exact."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("s").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = lv.withColumn("cnb", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    t = c.agg(
        F.sum(F.col("pos") * (2 * F.col("cnb") + F.col("neg"))).alias("num2"),
        F.sum("pos").alias("p"),
        F.sum("neg").alias("n"),
    )
    # num2 ≈ 2·P·N, so 2·num2·1e6 blows int64 past ~1.5M positives ×
    # 4.5M negatives (the factor-10 corpus found this live) — the
    # ratio runs in exact DECIMAL(38,0) (Spark) / HUGEINT (DuckDB),
    # good to ~1e15-row corpora, and only the ≤1e6 result is BIGINT.
    return t.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.expr(
            "CAST((2 * CAST(num2 AS DECIMAL(38,0)) * 1000000"
            " + 2 * CAST(p AS DECIMAL(38,0)) * n)"
            " div (4 * CAST(p AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("auc_e6"),
    )


@q(
    "auc_by_segment",
    """WITH lv AS (SELECT l_linestatus AS seg, CAST(l_quantity AS BIGINT) AS s,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
                  sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT AS neg
           FROM lineitem GROUP BY 1, 2),
       c AS (SELECT seg, pos, neg,
                    coalesce(sum(neg) OVER (PARTITION BY seg ORDER BY s ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS cnb
             FROM lv),
       t AS (SELECT seg, sum(pos * (2 * cnb + neg))::BIGINT AS num2,
                    sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n
             FROM c GROUP BY seg)
       SELECT seg, p AS n_pos, n AS n_neg,
              CASE WHEN p > 0 AND n > 0
                   THEN CAST((2 * CAST(num2 AS HUGEINT) * 1000000
                              + 2 * CAST(p AS HUGEINT) * n)
                             // (4 * CAST(p AS HUGEINT) * n) AS BIGINT)
              END AS auc_e6
       FROM t""",
)
def _auc_by_segment(spark, sf_dir):
    """Per-segment exact AUC (model-fairness slicing): the same
    level-table Mann-Whitney as exact_auc, windows and aggregates
    partitioned by the segment key — every slice's AUC in one pass,
    no per-row ranks. Degenerate slices (single-class) report NULL
    instead of a fabricated 0.5."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("seg"),
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("seg", "s").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    w = Window.partitionBy("seg").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = lv.withColumn("cnb", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    t = c.groupBy("seg").agg(
        F.sum(F.col("pos") * (2 * F.col("cnb") + F.col("neg"))).alias("num2"),
        F.sum("pos").alias("p"),
        F.sum("neg").alias("n"),
    )
    return t.select(
        "seg",
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.when(
            (F.col("p") > 0) & (F.col("n") > 0),
            F.expr(
                "CAST((2 * CAST(num2 AS DECIMAL(38,0)) * 1000000"
                " + 2 * CAST(p AS DECIMAL(38,0)) * n)"
                " div (4 * CAST(p AS DECIMAL(38,0)) * n) AS BIGINT)"
            ),
        ).alias("auc_e6"),
    )


@q(
    "pr_curve",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  count(*)::BIGINT AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos
           FROM lineitem GROUP BY 1),
       c AS (SELECT s,
                    sum(n) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_n,
                    sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_pos,
                    (SELECT sum(pos) FROM lv) AS p_total
             FROM lv)
       SELECT s AS threshold, cum_n::BIGINT AS n_predicted,
              cum_pos::BIGINT AS n_hit,
              CAST((2 * cum_pos * 1000000 + cum_n) // (2 * cum_n)
                   AS BIGINT) AS precision_e6,
              CAST((2 * cum_pos * 1000000 + p_total) // (2 * p_total)
                   AS BIGINT) AS recall_e6
       FROM c""",
)
def _pr_curve(spark, sf_dir):
    """Precision-recall curve at every score threshold, from the level
    table's descending cumulative counts — one aggregate + one window,
    each output value ONE exact integer ratio ((2a+b) div 2b), so the
    whole curve is bit-reproducible and no per-row sort ever runs.
    (A scalar average-precision would sum fractions with different
    denominators — order-dependent floats; the curve form keeps every
    number exact, and AP integrates from it client-side if wanted.)"""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(Window.unboundedPreceding, 0)
    c = (
        lv.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pos", F.sum("pos").over(w))
        .withColumn("p_total", F.sum("pos").over(Window.partitionBy()))
    )
    return c.select(
        F.col("s").alias("threshold"),
        F.col("cum_n").alias("n_predicted"),
        F.col("cum_pos").alias("n_hit"),
        F.expr("(2 * cum_pos * 1000000 + cum_n) div (2 * cum_n)").alias("precision_e6"),
        F.expr("(2 * cum_pos * 1000000 + p_total) div (2 * p_total)").alias("recall_e6"),
    )


@q(
    "best_f1_threshold",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  count(*)::BIGINT AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos
           FROM lineitem GROUP BY 1),
       c AS (SELECT s,
                    sum(n) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_n,
                    sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_pos,
                    (SELECT sum(pos) FROM lv) AS p_total
             FROM lv),
       f AS (SELECT s, cum_n::BIGINT AS n_predicted, cum_pos::BIGINT AS n_hit,
                    CAST((2 * (2 * cum_pos) * 1000000 + (cum_n + p_total))
                             // (2 * (cum_n + p_total)) AS BIGINT) AS f1_e6
             FROM c)
       SELECT s AS threshold, n_predicted, n_hit, f1_e6
       FROM f ORDER BY f1_e6 DESC, s ASC LIMIT 1""",
)
def _best_f1_threshold(spark, sf_dir):
    """Decision-threshold tuning: F1 at a threshold reduces to the
    single rational 2·TP / (n_predicted + n_actual), so the argmax
    over the level table is an exact-integer comparison (e6 fixed
    point, threshold tie-break) — one aggregate, one window, one
    TakeOrderedAndProject. Closes the threshold-selection loop over
    the PR curve."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("s").agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    w = Window.orderBy(F.col("s").desc()).rowsBetween(Window.unboundedPreceding, 0)
    c = (
        lv.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pos", F.sum("pos").over(w))
        .withColumn("p_total", F.sum("pos").over(Window.partitionBy()))
    )
    f = c.select(
        F.col("s").alias("threshold"),
        F.col("cum_n").alias("n_predicted"),
        F.col("cum_pos").alias("n_hit"),
        F.expr(
            "(2 * (2 * cum_pos) * 1000000 + (cum_n + p_total))"
            " div (2 * (cum_n + p_total))"
        ).alias("f1_e6"),
    )
    return f.orderBy(F.col("f1_e6").desc(), F.col("threshold").asc()).limit(1)




# ------------------------------------------------ DSIR data selection

_DSIR_B = 64  # hashed-feature buckets; smoothing mass = alpha * B = 32


@q(
    "dsir_importance_weights",
    f"""WITH tok AS (
         SELECT doc_id, lang = 'en' AS is_t,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS gram
         FROM documents),
       db AS (
         SELECT doc_id, is_t, {_duck_h60("gram")} % {_DSIR_B} AS bucket,
                count(*) AS n
         FROM tok GROUP BY 1, 2, 3),
       raw AS (SELECT bucket, sum(n) AS c_raw FROM db GROUP BY 1),
       tgt AS (SELECT bucket, sum(n) AS c_tgt FROM db WHERE is_t GROUP BY 1),
       stats AS (SELECT raw.bucket, c_raw, coalesce(c_tgt, 0) AS c_tgt
                 FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket),
       tot AS (SELECT sum(c_raw) AS nr, sum(c_tgt) AS nt FROM stats),
       term AS (
         SELECT db.doc_id,
                db.n * (ln((s.c_tgt + CAST(0.5 AS DOUBLE))
                           / (tot.nt + CAST(32 AS DOUBLE)))
                      - ln((s.c_raw + CAST(0.5 AS DOUBLE))
                           / (tot.nr + CAST(32 AS DOUBLE)))) AS t
         FROM db JOIN stats s ON db.bucket = s.bucket, tot),
       w AS (SELECT doc_id, round(sum(t), 4) AS log_weight
             FROM term GROUP BY doc_id)
       SELECT doc_id, log_weight,
              row_number() OVER (ORDER BY log_weight DESC, doc_id ASC)
                <= 100 AS keep
       FROM w""",
)
def _dsir_importance_weights(spark, sf_dir):
    """DSIR data selection (data/dsir.py, Xie et al. 2023): hashed
    bag-of-words importance weights of every document against the
    lang='en' target slice, plus the deterministic top-100 resample
    flag. One corpus shuffle (doc×bucket counts); the 64-row
    distribution tables broadcast back; ln ratios agree cross-engine
    under the round-4 export (same family as ngram_lm_perplexity's
    log2). Ranking runs on the ROUNDED weight with a doc_id tie-break
    so the keep set is engine-independent."""
    from redshells_spark.data.dsir import dsir_log_weights, dsir_select_top

    docs = _t(spark, sf_dir, "documents")
    w = dsir_log_weights(
        docs, F.col("lang") == "en", num_buckets=_DSIR_B, alpha=0.5
    ).select("doc_id", _r4(F.col("log_weight"), "log_weight"))
    return dsir_select_top(w, 100)


@q(
    "tokenizer_fertility",
    f"""WITH {_bpe_cte(_BPE_K)},
       c AS (
         SELECT d.doc_id, d.source, count(*) AS n_words,
                sum(len(string_split(substr(w.sym, 2, length(w.sym) - 2), '][')))
                    AS n_subtokens
         FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
               FROM documents) d
         JOIN w{_BPE_K} w USING (word)
         WHERE d.word <> ''
         GROUP BY 1, 2)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_words) AS BIGINT) AS n_words,
              CAST(sum(n_subtokens) AS BIGINT) AS n_subtokens,
              CAST(sum(n_subtokens) AS DOUBLE) / sum(n_words) AS fertility
       FROM c GROUP BY source""",
)
def _tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility (subtokens per word) by corpus source — the
    data-card stat that decides whether a tokenizer under- or
    over-segments a domain (fertility ≈ 1 wastes vocab, ≫ 1 wastes
    context window). Rides the trained BPE segmentation: exploded
    tokens broadcast-join the word table, roll up per source. The
    fertility ratio is one identical-operand IEEE division of two
    exact longs — full-precision export, no rounding."""
    from redshells_spark.text.bpe import subtoken_count_per_doc

    _, seg = _bpe_trained(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    per_doc = subtoken_count_per_doc(docs, seg)
    j = per_doc.join(docs.select("doc_id", "source"), "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_words"),
        F.sum("n_subtokens").cast("long").alias("n_subtokens"),
        (F.sum("n_subtokens").cast("double") / F.sum("n_tokens")).alias(
            "fertility"
        ),
    )


@q(
    "rag_context_pack",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t),
       ch AS (SELECT doc_id * 100 + start // 24 AS cid,
                     list_slice(toks, start + 1, least(start + 32, len(toks))) AS chunk
              FROM s),
       ctok AS (SELECT cid, len(chunk) AS n_chunk_tokens,
                       list_filter(list_transform(chunk, x -> lower(x)),
                                   x -> x <> '') AS toks2
                FROM ch),
       tok AS (SELECT cid, unnest(toks2) AS term FROM ctok),
       dl AS (SELECT cid, count(*) AS dl FROM tok GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
       p AS (SELECT cid, term, count(*) AS tf FROM tok
             WHERE term IN ('spark', 'join', 'window', 'stream', 'hash')
             GROUP BY 1, 2),
       dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
       sc AS (
         SELECT p.cid,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * dl.dl
                          / (st.dl_sum / st.n_docs))) AS t
         FROM p JOIN dl USING (cid) JOIN dft USING (term), st),
       top AS (SELECT cid, round(sum(t), 4) AS score
               FROM sc GROUP BY cid
               ORDER BY score DESC, cid ASC LIMIT 30),
       packed AS (
         SELECT top.cid, top.score, ctok.n_chunk_tokens,
                CAST(row_number() OVER (ORDER BY top.score DESC, top.cid ASC)
                     AS BIGINT) AS rank,
                sum(ctok.n_chunk_tokens)
                  OVER (ORDER BY top.score DESC, top.cid ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum_tokens
         FROM top JOIN ctok USING (cid))
       SELECT rank, cid // 100 AS doc_id, cid % 100 AS chunk_id, score,
              CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens,
              CAST(cum_tokens AS BIGINT) AS cum_tokens
       FROM packed WHERE cum_tokens <= 256""",
)
def _rag_context_pack(spark, sf_dir):
    """RAG retrieval composite: chunk the corpus (32-token windows,
    stride 24 — text/chunking.py), rank chunks against the shared
    KEYWORDS query with BM25 (text/bm25.py, chunk corpus stats), and
    greedily pack the top chunks into a 256-token context budget by
    (score desc, chunk asc) — the retrieve-then-pack stage of a RAG
    serving pipeline as one dataflow. Chunking is a shuffle-free
    generator; BM25 adds one groupBy; packing is a window over the
    already-top-30 relation. The oracle replays every stage."""
    from redshells_spark.text.bm25 import bm25_topk
    from redshells_spark.text.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, stride=24)
    cdocs = chunks.select(
        (F.col("doc_id") * 100 + F.col("chunk_id")).alias("cid"),
        F.col("chunk_text").alias("text"),
        "n_chunk_tokens",
    )
    top = bm25_topk(cdocs, KEYWORDS, k=30, id_column="cid")
    w = Window.orderBy(F.col("score").desc(), F.col("cid").asc())
    packed = (
        top.join(cdocs.select("cid", "n_chunk_tokens"), "cid")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_tokens",
            F.sum("n_chunk_tokens")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .filter(F.col("cum_tokens") <= 256)
    )
    return packed.select(
        "rank",
        (F.col("cid") / 100).cast("long").alias("doc_id"),
        (F.col("cid") % 100).cast("long").alias("chunk_id"),
        "score",
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "cum_tokens",
    )


@q(
    "token_budget_allocation",
    """WITH c AS (
         SELECT source,
                CAST(sum(len(list_filter(string_split(text, ' '),
                                         t -> t <> ''))) AS BIGINT) AS n
         FROM documents GROUP BY source),
       t AS (SELECT sum(n) AS tot FROM c),
       b AS (
         SELECT c.source, c.n,
                CAST((100000 * c.n) // t.tot AS BIGINT) AS floor_share,
                CAST((100000 * c.n) % t.tot AS BIGINT) AS rem
         FROM c, t),
       s AS (SELECT CAST(100000 - sum(floor_share) AS BIGINT) AS short FROM b)
       SELECT b.source, b.n, b.floor_share,
              CAST(row_number() OVER (ORDER BY b.rem DESC, b.source ASC)
                     <= s.short AS BIGINT) AS extra,
              CAST(b.floor_share
                + CAST(row_number() OVER (ORDER BY b.rem DESC, b.source ASC)
                         <= s.short AS BIGINT) AS BIGINT) AS allocation
       FROM b, s""",
)
def _token_budget_allocation(spark, sf_dir):
    """Integer token-budget split across corpus sources by the
    largest-remainder method (data/sampling.py
    largest_remainder_allocation): allocations sum EXACTLY to the
    100k budget, every step integer div/mod — the engine-exact way to
    turn mixing weights into per-source token quotas for a training
    run. One tiny per-source aggregate + one ordered window."""
    from redshells_spark.data.sampling import largest_remainder_allocation

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    counts = (
        docs.select("source", F.size(toks).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n"))
    )
    return largest_remainder_allocation(
        counts, total_budget=100_000, count_column="n"
    )


@q(
    "event_value_histogram",
    """WITH st AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
       b AS (
         SELECT least(CAST(floor((value - st.lo) * 20 / (st.hi - st.lo))
                           AS BIGINT), 19) AS bucket
         FROM events, st),
       h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
             FROM b GROUP BY bucket)
       SELECT h.bucket, h.n,
              round(st.lo + h.bucket * (st.hi - st.lo) / 20, 4) AS bucket_lo,
              round(st.lo + (h.bucket + 1) * (st.hi - st.lo) / 20, 4) AS bucket_hi
       FROM h, st""",
)
def _event_value_histogram(spark, sf_dir):
    """Fixed-width 20-bucket histogram of events.value — the profiling
    primitive for data cards and skew diagnosis. Two passes (one tiny
    min/max agg broadcast back, one map-combined bucket count); bucket
    index = floor((x−lo)·20/(hi−lo)) clamped to 19 — every operand
    identical cross-engine, so bucket assignment is exact and only the
    display bounds are rounded."""
    ev = _t(spark, sf_dir, "events").select("value")
    st = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = ev.crossJoin(F.broadcast(st)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo")) * 20 / (F.col("hi") - F.col("lo"))
            ).cast("long"),
            F.lit(19),
        ).alias("bucket")
    )
    h = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return h.crossJoin(F.broadcast(st)).select(
        "bucket",
        "n",
        _r4(F.col("lo") + F.col("bucket") * (F.col("hi") - F.col("lo")) / 20, "bucket_lo"),
        _r4(F.col("lo") + (F.col("bucket") + 1) * (F.col("hi") - F.col("lo")) / 20, "bucket_hi"),
    )


@q(
    "negative_sampling_table",
    """WITH tok AS (
         SELECT unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS token
         FROM documents),
       c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
       wgt AS (SELECT token, n,
                      pow(CAST(n AS DOUBLE), CAST(0.75 AS DOUBLE)) AS w
               FROM c),
       t AS (SELECT sum(w) AS wt FROM wgt)
       SELECT token, n, round(w / t.wt, 4) AS prob,
              round(sum(w / t.wt) OVER (ORDER BY token ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    4) AS cum_prob
       FROM wgt, t""",
)
def _negative_sampling_table(spark, sf_dir):
    """word2vec negative-sampling distribution (data/sampling.py
    negative_sampling_table; Mikolov et al. 2013): p(w) ∝ count^0.75
    over the corpus vocabulary, with the running CDF for
    inverse-transform draws. Vocabulary-sized relation, one ordered
    window; the CDF accumulates in deterministic (token asc) order on
    both engines so the round-4 export is stable."""
    from redshells_spark.data.sampling import negative_sampling_table

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
        ).alias("token")
    )
    return negative_sampling_table(toks)
