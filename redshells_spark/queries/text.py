"""Text ops: tokenize/dictionary/tfidf, LLM text analysis, plus the round-3 scale tier registered into the driver window (bloom, KMV, pagerank, gapfill, zorder, rolling stats).

Split from the former single-file queries.py (round 4); registration
order within and across tier modules is preserved by the package
__init__ import order and pinned by tests/test_ann_recall.py.
"""

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ------------------------------------------------------------ text ops

@q(
    "token_count",
    """SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> ''))) AS BIGINT) AS n_words,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
       FROM documents""",
)
def _token_count(spark, sf_dir):
    out = token_count(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_words").cast("long").alias("n_words"),
        "n_subword_est",
    )


@q(
    "quality_score",
    """WITH b AS (
         SELECT doc_id, length(text) AS n_chars,
           CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(lower(text), ' '),
                t -> t IN ('the','and','of','to','in','is','that','with','for','it'))) AS BIGINT) AS stop_hits,
           length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
         FROM documents)
       SELECT doc_id,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         round(CASE WHEN n_tokens > 0 THEN (n_chars - n_tokens + 1.0) / n_tokens ELSE 0.0 END, 4) AS mean_word_len,
         round(punct / greatest(n_chars, 1), 4) AS punct_ratio,
         round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
         CAST(round(
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN stop_hits / greatest(n_tokens, 1) >= 0.05 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN punct / greatest(n_chars, 1) <= 0.3 THEN 0.3 ELSE 0.0 END), 4) AS DOUBLE) AS quality
       FROM b""",
)
def _quality_score(spark, sf_dir):
    out = quality_score(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r4(F.col("mean_word_len"), "mean_word_len"),
        _r4(F.col("punct_ratio"), "punct_ratio"),
        _r4(F.col("stopword_ratio"), "stopword_ratio"),
        _r4(F.col("quality"), "quality"),
    )


_LANG_SQL_LISTS = {
    "de": "('der','die','das','und','ist','nicht','mit','ein','zu','den')",
    "en": "('the','and','of','to','in','is','that','with','for','it')",
    "es": "('el','los','las','es','no','una','por','con','para','del')",
    "fr": "('le','la','les','et','est','pas','des','une','dans','que')",
}

@q(
    "detect_language",
    f"""WITH h AS (
         SELECT doc_id,
           {", ".join(
             f"len(list_filter(list_filter(string_split(lower(text), ' '), t -> t <> ''), t -> t IN {lst})) AS hits_{lang}"
             for lang, lst in _LANG_SQL_LISTS.items()
           )}
         FROM documents)
       SELECT doc_id,
         CASE
           WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
           WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
           WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
           WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
           ELSE 'fr'
         END AS lang_pred
       FROM h""",
)
def _detect_language(spark, sf_dir):
    return detect_language(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred")


@q(
    "fingerprint",
    """SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
       FROM documents""",
)
def _fingerprint(spark, sf_dir):
    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@q(
    "exact_dedup",
    """SELECT doc_id, source FROM (
         SELECT doc_id, source, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
         FROM documents) WHERE doc_id = keep""",
)
def _exact_dedup(spark, sf_dir):
    out = exact_dedup(_t(spark, sf_dir, "documents"), normalized=False)
    return out.select("doc_id", "source")


@q(
    "clean_text",
    """SELECT doc_id,
              lower(trim(regexp_replace(
                regexp_replace(
                  regexp_replace(text, '<[^>]+>', ' ', 'g'),
                  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                '\\s+', ' ', 'g'))) AS clean_text
       FROM documents""",
)
def _clean_text(spark, sf_dir):
    """Corpus-cleaning normalization (text/analysis.py:clean_text):
    HTML strip, control-char drop, whitespace collapse, lowercase —
    the pre-tokenize stage, pure codegen."""
    from redshells_spark.text.analysis import clean_text

    return clean_text(
        _t(spark, sf_dir, "documents"), lowercase=True
    ).select("doc_id", "clean_text")


@q(
    "repetition_signals",
    """WITH tok AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
         FROM tok),
       grams AS (
         SELECT doc_id,
                token || '␟' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS gram
         FROM flat QUALIFY gram IS NOT NULL),
       gstats AS (
         SELECT doc_id, max(n) * 1.0 / sum(n) AS top_bigram_frac
         FROM (SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY doc_id, gram)
         GROUP BY doc_id),
       tstats AS (
         SELECT doc_id,
                CASE WHEN len(toks) > 0
                     THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                     ELSE 0.0 END AS repeated_token_frac
         FROM tok)
       SELECT t.doc_id,
              round(coalesce(g.top_bigram_frac, 0.0), 4) AS top_bigram_frac,
              round(t.repeated_token_frac, 4) AS repeated_token_frac
       FROM tstats t LEFT JOIN gstats g ON g.doc_id = t.doc_id""",
)
def _repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters (text/analysis.py:
    repetition_signals): top-bigram fraction + repeated-token
    fraction, the boilerplate/spam removal signals."""
    from redshells_spark.text.analysis import repetition_signals

    out = repetition_signals(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        _r4(F.col("top_bigram_frac"), "top_bigram_frac"),
        _r4(F.col("repeated_token_frac"), "repeated_token_frac"),
    )


@q(
    "redact_pii",
    """SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g') AS redacted_text
       FROM documents""",
)
def _redact_pii(spark, sf_dir):
    """PII scrubbing pass (text/analysis.py:redact_pii): URL, email,
    IPv4 redaction — RE2-compatible regexes, pure codegen."""
    from redshells_spark.text.analysis import redact_pii

    return redact_pii(_t(spark, sf_dir, "documents")).select("doc_id", "redacted_text")


@q(
    "ngram_lm_perplexity",
    """WITH tok AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
         FROM tok),
       pairs AS (
         SELECT doc_id,
                coalesce(lag(token) OVER (PARTITION BY doc_id ORDER BY pos ASC), '␟<s>') AS prev,
                token AS word
         FROM flat),
       bc AS (SELECT prev, word, count(*) AS n FROM pairs GROUP BY prev, word),
       cc AS (SELECT prev, count(*) AS n_prev FROM pairs GROUP BY prev),
       v AS (SELECT count(DISTINCT word) AS vs FROM pairs),
       scored AS (
         SELECT p.doc_id,
                log2((coalesce(bc.n, 0) + 0.1)
                     / (coalesce(cc.n_prev, 0) + 0.1 * (SELECT vs FROM v))) AS lp
         FROM pairs p
         LEFT JOIN bc ON bc.prev = p.prev AND bc.word = p.word
         LEFT JOIN cc ON cc.prev = p.prev)
       SELECT doc_id,
              round(-avg(lp), 4) AS cross_entropy,
              round(pow(2.0, -avg(lp)), 4) AS perplexity
       FROM scored GROUP BY doc_id""",
)
def _ngram_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality filter (text/ngram_lm.py): add-alpha
    bigram LM trained on the corpus, per-doc cross-entropy/perplexity
    scored via a shuffle join on the gram key. Self-scoring here (train
    corpus == target corpus) so the whole stage is one oracle-checkable
    dataflow; production trains once on clean text and broadcasts."""
    from redshells_spark.text.ngram_lm import score_perplexity, train_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs)
    out = score_perplexity(docs, lm, broadcast_lm=True)
    return out.select(
        "doc_id",
        _r4(F.col("cross_entropy"), "cross_entropy"),
        _r4(F.col("perplexity"), "perplexity"),
    )


@q(
    "binary_metadata",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
              md5(text) AS content_id,
              'blob' AS modality
       FROM documents""",
)
def _binary_metadata(spark, sf_dir):
    """Multimodal metadata path (multimodal/binary_ops.py) over an
    opaque binary column — synthesized here by encoding document text
    to bytes, since the testdata ships no true image/audio payloads.
    Everything is JVM-side (length/md5) — the pruning filters a real
    pipeline applies before any decode — and oracle-checkable."""
    from redshells_spark.multimodal.binary_ops import attach_binary_metadata

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return attach_binary_metadata(docs, "payload", modality="blob").select(
        "doc_id", "byte_size", "content_id", "modality"
    )


@q(
    "image_header_dims",
    """SELECT doc_id, f.format,
              CAST((doc_id % 500) + 1 AS BIGINT) AS width,
              CAST(((doc_id * 7) % 400) + 1 AS BIGINT) AS height
       FROM documents, (VALUES ('png'), ('jpeg'), ('gif')) f(format)""",
)
def _image_header_dims(spark, sf_dir):
    """REAL image-header parsing, end-to-end verified: spec-conformant
    PNG/JPEG/GIF headers are constructed JVM-side from doc_id (unhex of
    generated hex — big-endian IHDR, SOF0 marker segment, little-endian
    GIF screen descriptor), then parse_image_headers must invert the
    construction exactly. The oracle recomputes the dims arithmetically
    — a MATCH proves the parser reads the right bytes in the right
    endianness for every format. PNG/GIF parse fully in codegen; JPEG's
    variable-position SOF scan is the one Arrow-batched Python stage."""
    from redshells_spark.multimodal.binary_ops import parse_image_headers

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 500 + 1).cast("long")
    h = ((F.col("doc_id") * 7) % 400 + 1).cast("long")
    w_be = F.lpad(F.hex(w), 8, "0")
    h_be = F.lpad(F.hex(h), 8, "0")
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"), w_be, h_be, F.lit("0806000000")
        )
    )
    jpeg = F.unhex(
        F.concat(
            F.lit("FFD8FFE00010" + "00" * 14 + "FFC0001108"),
            F.lpad(F.hex(h), 4, "0"),
            F.lpad(F.hex(w), 4, "0"),
            F.lit("03"),
        )
    )
    gif = F.unhex(
        F.concat(
            F.lit("474946383961"),
            F.lpad(F.hex(w % 256), 2, "0"),
            F.lpad(F.hex(F.floor(w / 256)), 2, "0"),
            F.lpad(F.hex(h % 256), 2, "0"),
            F.lpad(F.hex(F.floor(h / 256)), 2, "0"),
            F.lit("F70000"),
        )
    )
    payloads = docs.select(
        "doc_id",
        F.explode(F.array(png.alias("p"), jpeg.alias("p"), gif.alias("p"))).alias(
            "payload"
        ),
    )
    return parse_image_headers(payloads, "payload").select(
        "doc_id", "format", "width", "height"
    )


@q(
    "stream_dedup_fingerprints",
    """SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
              min(doc_id) AS first_doc, CAST(count(*) AS BIGINT) AS n
       FROM documents GROUP BY 1""",
)
def _stream_dedup_fingerprints(spark, sf_dir):
    """Ingest-dedup fingerprint (streaming/dedup.py): normalized md5,
    identical in batch and stream — here the batch-parity aggregate a
    stream's state would hold (first arrival + duplicate count)."""
    from redshells_spark.streaming.dedup import fingerprint_column

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", fingerprint_column("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n"))
    )


# Bloom runtime-filter oracle: DuckDB reconstructs the *identical*
# 8192-bit bitmap from portable arithmetic (md5-hex folded to 60 bits,
# Kirsch-Mitzenmacher double hashing with the minhash constant family)
# and therefore the identical false-positive set — an approximate
# operator made exactly checkable. See operators/bloom.py.
_BLOOM_P = 2147483647
# 4096 words = 128 Kbit = 16 KB: ~8 bits/key at sf0.1's ~15k hot keys
# (k=3 → ~3% FP); 256 words saturated there and passed everything
_BLOOM_WORDS = 4096
_BLOOM_M = _BLOOM_WORDS * 32
_BLOOM_K = 3


def _duck_h60(key_sql: str) -> str:
    """DuckDB: first 15 hex digits of md5 as int64 (same fold as
    dedup/simhash.py's portable signatures)."""
    return (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substr(md5(CAST({key_sql} AS VARCHAR)), {i + 1}, 1)) - 1)"
            f" * {16 ** (14 - i)}"
            for i in range(15)
        )
        + ")"
    )


def _bloom_oracle_sql() -> str:
    from redshells_spark.operators.bloom import _hash_consts

    consts = _hash_consts(_BLOOM_K)
    pos_terms = " UNION ALL ".join(
        f"SELECT ((hp * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M} AS p FROM kh" for a, b in consts
    )
    probe_terms = " AND ".join(
        f"(a[((((hp * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M}) // 32)::INTEGER + 1]"
        f" & (1::BIGINT << (((((hp * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M}) % 32)::INTEGER))) <> 0"
        for a, b in consts
    )
    # numeric keys: base hash is key % P directly (no md5) — matches
    # operators/bloom.py's integer fast path
    return f"""WITH keys AS (SELECT DISTINCT o_orderkey AS key FROM orders
                    WHERE o_totalprice > 400000),
       kh AS (SELECT (key::BIGINT % {_BLOOM_P}) AS hp FROM keys),
       pos AS ({pos_terms}),
       words AS (SELECT p // 32 AS word,
                        bit_or(1::BIGINT << (p % 32)::INTEGER) AS bits
                 FROM pos GROUP BY 1),
       dense AS (SELECT g AS word, COALESCE(w.bits, 0::BIGINT) AS bits
                 FROM generate_series(0, {_BLOOM_WORDS - 1}) AS gs(g)
                 LEFT JOIN words w ON w.word = g),
       arr AS (SELECT list(bits ORDER BY word) AS a FROM dense),
       probe AS (SELECT l_orderkey, l_linenumber, l_quantity,
                        (l_orderkey::BIGINT % {_BLOOM_P}) AS hp
                 FROM lineitem)
       SELECT l_orderkey, l_linenumber, l_quantity
       FROM probe, arr WHERE {probe_terms}"""


@q("bloom_filter_probe", _bloom_oracle_sql())
def _bloom_filter_probe(spark, sf_dir):
    """Raw runtime-filter output: lineitem rows whose key passes the
    bloom built from high-value orders — a deterministic superset of
    the true semi-join (the oracle reconstructs the same bitmap, so
    even the false positives MATCH). The fact side is filtered inside
    the scan stage: no shuffle, no join."""
    from redshells_spark.operators.bloom import bloom_contains, build_bloom

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    bloom = build_bloom(
        orders.select(F.col("o_orderkey").alias("key")).dropDuplicates(),
        "key",
        num_words=_BLOOM_WORDS,
        num_hashes=_BLOOM_K,
    )
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(bloom_contains(bloom, "l_orderkey")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@q(
    "bloom_semi_join",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                            WHERE o_totalprice > 400000)""",
)
def _bloom_semi_join(spark, sf_dir):
    """Bloom pre-filter + broadcast semi-join cleanup: exact semi-join
    semantics (the plain-SQL oracle), but the fact scan emits only
    bloom survivors, so the join input is ~FP-rate above the true
    match set instead of the whole table."""
    from redshells_spark.operators.bloom import bloom_semi_join

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = _t(spark, sf_dir, "lineitem")
    return bloom_semi_join(
        li,
        orders.select("o_orderkey"),
        big_key="l_orderkey",
        small_key="o_orderkey",
        num_words=_BLOOM_WORDS,
        num_hashes=_BLOOM_K,
        exact=True,
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@q(
    "time_bucket_gapfill",
    """WITH obs AS (
         SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
                round(avg(value), 10) AS v
         FROM events GROUP BY 1, 2),
       span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1),
       grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
       gfull AS (SELECT g.user_id, g.bucket, o.v
                 FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket),
       w AS (SELECT user_id, bucket, v,
               last_value(v IGNORE NULLS) OVER fw AS prev_v,
               last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER fw AS prev_b,
               first_value(v IGNORE NULLS) OVER bw AS next_v,
               first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER bw AS next_b
             FROM gfull
             WINDOW fw AS (PARTITION BY user_id ORDER BY bucket ROWS UNBOUNDED PRECEDING),
                    bw AS (PARTITION BY user_id ORDER BY bucket
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT user_id, (bucket * 3600)::BIGINT AS bucket_start,
              (v IS NULL)::INTEGER AS is_gap,
              CAST(round(prev_v * 10000) AS BIGINT) AS v_locf_e4,
              CAST(round((CASE WHEN v IS NOT NULL THEN v
                    ELSE prev_v + (next_v - prev_v) * (bucket - prev_b) / (next_b - prev_b)
                    END) * 10000) AS BIGINT) AS v_interp_e4
       FROM w""",
)
def _time_bucket_gapfill(spark, sf_dir):
    """Hypertable-style gap-fill (operators/gapfill.py): hourly per-user
    buckets, missing buckets materialized inside each user's observed
    span, LOCF + linear interpolation. Fills are exported as 1e-4-scaled
    integers: ``round(x*10000)`` rounds the *same* IEEE product on both
    engines, where ``round(x, 4)`` diverges (Spark's exact-BigDecimal
    HALF_UP vs DuckDB's multiply-then-round double-rounding) whenever an
    interpolated value lands exactly on a 5e-5 boundary."""
    from redshells_spark.operators.gapfill import time_bucket_gapfill

    out = time_bucket_gapfill(
        _t(spark, sf_dir, "events"),
        key_column="user_id",
        value_column="value",
        ts_column="ts",
        bucket_seconds=3600,
    )
    return out.select(
        "user_id",
        "bucket_start",
        "is_gap",
        F.round(F.col("v_locf") * 10000, 0).cast("long").alias("v_locf_e4"),
        F.round(F.col("v_interp") * 10000, 0).cast("long").alias("v_interp_e4"),
    )


# PageRank oracle: the power iteration unrolled as CTEs. Every iterate
# is rounded to 10 decimals on BOTH engines, which erases the ~1e-17
# order-of-summation noise of double aggregation and makes the whole
# fixpoint bit-reproducible. Damping constants go through explicit
# DOUBLE casts — DuckDB parses 0.85 as DECIMAL, whose arithmetic would
# diverge from Spark's IEEE doubles.
def _pagerank_oracle_sql(iterations: int = 3) -> str:
    base = "((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))"
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""rk{i} AS (SELECT e.dst AS node,
                     round({base} + CAST(0.85 AS DOUBLE) * sum(p.r / d.deg), 10) AS r
              FROM edges e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst)"""
        )
        prev = f"rk{i}"
    joined = ",\n       ".join(steps)
    return f"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
       deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY 1),
       nn AS (SELECT count(DISTINCT src)::DOUBLE AS n FROM edges),
       r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
              FROM (SELECT DISTINCT src FROM edges)),
       {joined}
       SELECT node, r AS rank FROM {prev}"""


@session_cached
def _copurchase_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, cnt): symmetrized edges WITH the per-pair purchase
    count, cached, so the whole graph tier (pagerank, BFS, LPA, Katz,
    AND the weighted Bellman-Ford) shares ONE materialization of the
    fact join — it costs more than any algorithm's supersteps. The
    count aggregate replaces the former symmetrize-then-dropDuplicates
    (one shuffle, not two): the groupBy yields distinct directed (c→s)
    pairs and the mirror's prefixes are disjoint from them, so the
    union is distinct by construction — bit-identical edge set to
    symmetrize_edges(e0)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    sym = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("cnt"))
    )
    return sym.cache()


@session_cached
def _copurchase_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, deg): outgoing-arc count per node of the symmetrized
    co-purchase graph — the degree relation rich_club_coefficient and
    graph_modularity both derive; cached so the groupBy over the
    ~1M-arc cached edge list runs once instead of once per lazy
    reference (assortativity-style queries read it 3x)."""
    return (
        _copurchase_edges_weighted(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .cache()
    )


@q("pagerank_copurchase", _pagerank_oracle_sql(3))
def _pagerank_copurchase(spark, sf_dir):
    """Distributed PageRank (operators/graph.py) over the symmetrized
    customer–supplier purchase graph: 3 synchronous power steps,
    d=0.85, iterates rounded to 10 decimals for cross-engine
    determinism. Each step is one co-partitioned join + one sum — the
    relational Pregel shape, checkpointed on longer runs."""
    from redshells_spark.operators.graph import pagerank

    return pagerank(
        _copurchase_edges_weighted(spark, sf_dir),
        iterations=3,
        damping=0.85,
        round_digits=10,
        assume_no_dangling=True,  # symmetrize guarantees out-degree ≥ 1
    )


@q(
    "pq_topk",
    """WITH cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                     embedding
              FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),
       ms AS (SELECT unnest(range(8)) AS m),
       sub AS (SELECT m, cid,
                      list_transform(range(1, 9), i -> embedding[m * 8 + i]::DOUBLE) AS cw
               FROM cent, ms),
       vsub AS (SELECT vec_id, m,
                       list_transform(range(1, 9), i -> embedding[m * 8 + i]::DOUBLE) AS v
                FROM embeddings, ms),
       d2 AS (SELECT v.vec_id, v.m, s.cid,
                     list_reduce(list_transform(range(1, 9),
                         i -> (v.v[i] - s.cw[i]) * (v.v[i] - s.cw[i])),
                         (a, b) -> a + b) AS d2
              FROM vsub v JOIN sub s ON s.m = v.m),
       codes AS (SELECT vec_id, m, cid AS code FROM (
                   SELECT vec_id, m, cid,
                          row_number() OVER (PARTITION BY vec_id, m
                                             ORDER BY d2 ASC, cid ASC) AS rn
                   FROM d2) WHERE rn = 1),
       dt AS (SELECT vec_id AS query_id, m, cid,
                     CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS d_e6
              FROM d2 WHERE vec_id < 50),
       adc AS (SELECT t.query_id, c.vec_id, sum(t.d_e6)::BIGINT AS approx_d2_e6
               FROM codes c JOIN dt t ON t.m = c.m AND t.cid = c.code
               GROUP BY 1, 2)
       SELECT query_id, vec_id, approx_d2_e6, CAST(rn AS BIGINT) AS rank
       FROM (SELECT query_id, vec_id, approx_d2_e6,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2_e6 ASC, vec_id ASC) AS rn
             FROM adc)
       WHERE rn <= 10""",
)
def _pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (similarity/pq.py): M=8 subspaces,
    16 strided-corpus codewords each, integer-scaled distance tables.
    Every stage — left-fold subspace distances, argmin codes, ADC
    integer sums, boundary-tie cuts — is pinned bit-for-bit against the
    DuckDB oracle; the approximation error vs exact search is a *fixed
    deterministic function* of the codebooks, not engine noise."""
    from redshells_spark.similarity.pq import pq_adc_topk, pq_codebooks, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id")
        .select("embedding")
        .collect()  # ≤16 rows — bounded codebook probe, mirrors index build
    )
    cbs = pq_codebooks([[float(x) for x in r["embedding"]] for r in cent_rows], num_subspaces=8)
    codes = pq_encode(emb, cbs)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(queries, codes, cbs, k=10)


@q(
    "heavy_hitter_tokens",
    f"""WITH {_TOK_SQL}
       SELECT token, cnt FROM (
         SELECT token, count(*)::BIGINT AS cnt,
                row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rn
         FROM tok GROUP BY token)
       WHERE rn <= 50""",
)
def _heavy_hitter_tokens(spark, sf_dir):
    """Exact top-50 tokens via Misra-Gries candidates + recount
    (operators/heavy_hitters.py): per-partition bounded summaries (no
    shuffle) feed a candidates-only recount, with a per-run exactness
    certificate — so the oracle is the plain top-k SQL even though the
    full token vocabulary never shuffles."""
    from redshells_spark.operators.heavy_hitters import top_k_frequent

    toks = _tokens(spark, sf_dir).select(F.explode("tokens").alias("token"))
    out = top_k_frequent(toks, "token", k=50, capacity=4096)
    return out.select("token", F.col("cnt").cast("long").alias("cnt"))


@q(
    "kmv_distinct_users",
    f"""WITH h AS (SELECT DISTINCT event_type, {_duck_h60("user_id")} AS h FROM events),
       r AS (SELECT event_type, h,
                    row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
             FROM h),
       a AS (SELECT event_type, count(*)::BIGINT AS n_hashes, max(h) AS hk
             FROM r WHERE rn <= 64 GROUP BY 1),
       x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
             FROM events GROUP BY 1)
       SELECT a.event_type, a.n_hashes, x.n_exact,
              round(CASE WHEN a.n_hashes < 64 THEN a.n_hashes::DOUBLE
                    ELSE 63.0 * 1152921504606846976.0 / hk::DOUBLE END, 4) AS kmv_estimate
       FROM a JOIN x ON x.event_type = a.event_type""",
)
def _kmv_distinct_users(spark, sf_dir):
    """K-Minimum-Values distinct-user sketch (operators/sketches.py):
    the portable counterpart to `approx_distinct_users`'s HLL — an
    approximate aggregate whose estimate the DuckDB oracle reproduces
    bit-for-bit (portable md5 hashing + IEEE estimate arithmetic).
    n_exact rides along so the sketch error is visible in the result."""
    from redshells_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    sk = kmv_distinct(ev, ["event_type"], "user_id", k=64)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return sk.join(exact, on="event_type").select(
        "event_type",
        "n_hashes",
        F.col("n_exact").cast("long").alias("n_exact"),
        _r4(F.col("kmv_estimate"), "kmv_estimate"),
    )


@q(
    "rolling_event_stats",
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events)
       SELECT event_id, user_id,
              (count(*) OVER w)::BIGINT AS n_1h,
              (sum(vc) OVER w)::BIGINT AS sum_c_1h,
              round((sum(vc) OVER w)::DOUBLE / (100.0 * (count(*) OVER w)), 4) AS avg_1h
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY us
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
)
def _rolling_event_stats(spark, sf_dir):
    """Sliding event-time aggregate: per event, count/sum/avg of the
    user's trailing 1-hour window via a RANGE frame over microseconds —
    the per-row counterpart to the tumbling `windowed_event_counts`.
    Values ride as integer cents (`round(value*100)` — 2-decimal source
    data), so the sliding sums are order-free integer arithmetic and
    the avg divides identical ints: bit-stable on both engines."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        event_us(ev, "ts").alias("__us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum("vc").over(w).cast("long").alias("sum_c_1h"),
        _r4(
            F.sum("vc").over(w).cast("double") / (F.lit(100.0) * F.count(F.lit(1)).over(w)),
            "avg_1h",
        ),
    )


def _zorder_oracle_sql() -> str:
    from redshells_spark.operators.layout import interleave_sql

    inter = interleave_sql(["su", "st"], bits=16)
    return f"""WITH rng AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
                      min(epoch_us(ts) // 1000000) AS mnt,
                      max(epoch_us(ts) // 1000000) AS mxt
               FROM events),
       e AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec FROM events),
       s AS (SELECT event_id,
                    ((user_id - mnu) * 65535) // (mxu - mnu) AS su,
                    ((sec - mnt) * 65535) // (mxt - mnt) AS st
             FROM e, rng)
       SELECT event_id, {inter} AS zkey FROM s"""


@q("zorder_events", _zorder_oracle_sql())
def _zorder_events(spark, sf_dir):
    """Morton/Z-order layout key over (user_id, event-second)
    (operators/layout.py): the sort key `write_zordered` clusters files
    by, making parquet min/max stats selective on both dimensions. Pure
    int64 scale+interleave arithmetic — the oracle evaluates the same
    generated expression, so physical-layout decisions are part of the
    correctness contract."""
    from redshells_spark.operators.layout import with_zorder_key

    ev = _t(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", event_us(ev, "ts").alias("__us")).withColumn(
        "sec", F.expr("__us div 1000000")
    )
    keyed = with_zorder_key(e, ["user_id", "sec"], bits=16)
    return keyed.select("event_id", F.col("zkey").cast("long").alias("zkey"))


def _profile_oracle_sql() -> str:
    def num(c):
        return f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
              sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
              count(DISTINCT {c})::BIGINT AS n_distinct,
              min({c})::DOUBLE AS min_num, max({c})::DOUBLE AS max_num,
              round(avg({c}::DOUBLE), 4) AS avg_num,
              NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
       FROM orders"""

    def st(c):
        return f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
              sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
              count(DISTINCT {c})::BIGINT AS n_distinct,
              NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num, NULL::DOUBLE AS avg_num,
              min({c}) AS min_str, max({c}) AS max_str
       FROM orders"""

    return " UNION ALL ".join(
        [num("o_custkey"), num("o_totalprice"), st("o_orderstatus"), st("o_orderpriority")]
    )


@q("profile_orders", _profile_oracle_sql())
def _profile_orders(spark, sf_dir):
    """One-pass column profiling (data/profile.py): null counts, exact
    distinct cardinalities, numeric ranges/means and string extremes in
    a single scan — the trust-a-new-drop primitive, oracle-checked per
    statistic. (dtype stays out of the contract: physical int32/int64
    encodings legitimately vary across testdata generations.)"""
    from redshells_spark.data.profile import profile_columns

    prof = profile_columns(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"],
    )
    return prof.select(
        F.col("column").alias("col_name"),
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_num",
        "max_num",
        _r4(F.col("avg_num"), "avg_num"),
        "min_str",
        "max_str",
    )


@q(
    "weighted_sample_orders",
    f"""WITH p AS (SELECT o_orderpriority, o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents,
                  {_duck_h60("'0|' || o_orderkey")} AS u
           FROM orders),
       r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY u / w_cents ASC, o_orderkey ASC) AS rn
             FROM p)
       SELECT o_orderpriority, o_orderkey, w_cents FROM r WHERE rn <= 20""",
)
def _weighted_sample_orders(spark, sf_dir):
    """Priority sampling (data/sampling.py:weighted_sample_priority):
    20 orders per priority class, inclusion ≈ proportional to price,
    without replacement. The priority u/w is one int64→double divide —
    IEEE-identical in DuckDB — so even the *random* sample is
    oracle-exact."""
    from redshells_spark.data.sampling import weighted_sample_priority

    o = _t(spark, sf_dir, "orders").withColumn(
        "w_cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    out = weighted_sample_priority(
        o, "o_orderpriority", "o_orderkey", "w_cents", k=20, seed=0
    )
    return out.select("o_orderpriority", "o_orderkey", "w_cents")


@q(
    "grouped_median_price",
    """WITH r AS (SELECT o_orderpriority, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM orders)
       SELECT o_orderpriority, n::BIGINT AS n,
              round(o_totalprice, 4) AS median_price
       FROM r WHERE rn = (n + 1) // 2""",
)
def _grouped_median_price(spark, sf_dir):
    """Exact per-group lower median via window selection (no
    percentile-function semantics to reconcile across engines: the
    median is literally the row at rank (n+1)/2 under a total order)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    wn = Window.partitionBy("o_orderpriority")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n"),
            _r4(F.col("o_totalprice"), "median_price"),
        )
    )


@q(
    "market_share_asia",
    """WITH rev AS (
         SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                n2.n_name AS supp_nation,
                CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT))
                  AS vol_e4
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         JOIN part     ON l_partkey = p_partkey AND p_size <= 10)
       SELECT o_year, supp_nation,
              CAST(CAST((sum(vol_e4) + 50) // 100 AS BIGINT) AS DOUBLE) / 100
                AS nation_volume,
              count(*) AS n_lines
       FROM rev GROUP BY o_year, supp_nation""",
)
def _market_share_asia(spark, sf_dir):
    """TPC-H Q8-shaped market share: 7-table star join (fact +
    customer-side nation/region, supplier-side nation, part filter).
    Spark-first: every dimension is explicitly broadcast, so the plan
    is a chain of BroadcastHashJoins over ONE fact scan — zero fact
    shuffles until the final aggregate; Catalyst reorders/prunes the
    rest. Revenue carries EXACT integer e4 units (2-decimal price ×
    2-decimal discount) summed as longs — the factor-10 probe caught
    the float-sum version crossing cent-rounding boundaries at 10×
    term counts; integer cents are order-free at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    rev = (
        li.join(F.broadcast(p.select("p_partkey")), li["l_partkey"] == F.col("p_partkey"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"), li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r.select("r_regionkey")), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "supp_nation",
            (
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
                * (
                    F.lit(100)
                    - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
                )
            ).alias("vol_e4"),
        )
    )
    return (
        rev.groupBy("o_year", "supp_nation")
        .agg(F.sum("vol_e4").alias("__s"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            "o_year",
            "supp_nation",
            (F.expr("(__s + 50) div 100").cast("double") / 100).alias(
                "nation_volume"
            ),
            "n_lines",
        )
    )


@q(
    "latest_by_key",
    """SELECT user_id, event_id, round(value, 4) AS value FROM (
         SELECT user_id, event_id, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
)
def _latest_by_key(spark, sf_dir):
    """CDC compaction primitive: latest row per key by version order
    (here event time, id tie-break) — the keep-last window every
    upsert/merge pipeline runs before publishing a snapshot.
    WindowGroupLimit prunes non-latest rows map-side."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", _r4(F.col("value"), "value"))
    )


@q(
    "salted_join_revenue",
    f"""SELECT o_orderpriority, {_MONEY_SUM('l_extendedprice')} AS revenue,
              count(*) AS n_lines
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
)
def _salted_join_revenue(spark, sf_dir):
    """Skew-resistant fact join (operators/skew.py:salted_join): the
    big side takes a deterministic salt, the small side replicates
    ×num_salts, and the join key becomes (key, salt) — a hot orderkey
    spreads over num_salts reducers instead of stalling one. Result is
    identical to the plain join (each fact row matches exactly one
    replica), which is exactly what the oracle checks."""
    from redshells_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, on=["l_orderkey"], num_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        exact_money_sum(F.col("l_extendedprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "triangle_counts",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 45),
       e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             FROM li a JOIN li b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       tri AS (SELECT e1.a AS a, e1.b AS b, e2.c AS c
               FROM e e1
               JOIN (SELECT a AS b, b AS c FROM e) e2 ON e2.b = e1.b
               JOIN (SELECT a, b AS c FROM e) e3 ON e3.a = e1.a AND e3.c = e2.c)
       SELECT node, count(*) AS n_triangles FROM (
         SELECT a AS node FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri)
       GROUP BY node""",
)
def _triangle_counts(spark, sf_dir):
    """Per-node triangle counts (operators/graph.py) over the bulk
    co-purchase part graph (parts bought with quantity ≥ 45 in the same
    order). Id-ordered wedge closure: two equi-joins, each triangle
    enumerated once — the third classic graph kernel next to PageRank
    and connected components, oracle-checked as plain SQL."""
    from redshells_spark.operators.graph import count_triangles_per_node

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .dropDuplicates()
    )
    out = count_triangles_per_node(edges)
    return out.select("node", F.col("n_triangles").cast("long").alias("n_triangles"))


@q(
    "ivfpq_topk",
    """WITH cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                     embedding
              FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),
       cd2 AS (SELECT e.vec_id, c.cid,
                      list_reduce(list_transform(range(1, 65),
                          i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                             * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                          (a, b) -> a + b) AS d2
               FROM embeddings e CROSS JOIN cent c),
       assign AS (SELECT vec_id, cid FROM (
                    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                                           ORDER BY d2 ASC, cid ASC) AS rn
                    FROM cd2) WHERE rn = 1),
       resid AS (SELECT a.vec_id, a.cid,
                        list_transform(range(1, 65),
                            i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
                 FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
                               JOIN cent c ON c.cid = a.cid),
       ptrain AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, r
                  FROM resid WHERE vec_id % 37 = 1 AND vec_id < 593),
       ms AS (SELECT unnest(range(8)) AS m),
       cw AS (SELECT m, j, list_transform(range(1, 9), i -> r[m * 8 + i]) AS cw
              FROM ptrain, ms),
       vsub AS (SELECT vec_id, cid, m, list_transform(range(1, 9), i -> r[m * 8 + i]) AS v
                FROM resid, ms),
       pd2 AS (SELECT v.vec_id, v.cid, v.m, s.j,
                      list_reduce(list_transform(range(1, 9),
                          i -> (v.v[i] - s.cw[i]) * (v.v[i] - s.cw[i])),
                          (a, b) -> a + b) AS d2
               FROM vsub v JOIN cw s ON s.m = v.m),
       codes AS (SELECT vec_id, cid, m, j AS code FROM (
                   SELECT vec_id, cid, m, j,
                          row_number() OVER (PARTITION BY vec_id, m
                                             ORDER BY d2 ASC, j ASC) AS rn
                   FROM pd2) WHERE rn = 1),
       qprobe AS (SELECT vec_id AS query_id, cid FROM (
                    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                                           ORDER BY d2 ASC, cid ASC) AS rn
                    FROM cd2 WHERE vec_id < 30) WHERE rn <= 4),
       qres AS (SELECT q.query_id, q.cid,
                       list_transform(range(1, 65),
                           i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
                FROM qprobe q JOIN embeddings e ON e.vec_id = q.query_id
                              JOIN cent c ON c.cid = q.cid),
       qsub AS (SELECT query_id, cid, m, list_transform(range(1, 9), i -> r[m * 8 + i]) AS v
                FROM qres, ms),
       dt AS (SELECT q.query_id, q.cid, q.m, s.j,
                     CAST(floor(list_reduce(list_transform(range(1, 9),
                         i -> (q.v[i] - s.cw[i]) * (q.v[i] - s.cw[i])),
                         (a, b) -> a + b) * 1000000 + 0.5) AS BIGINT) AS d_e6
              FROM qsub q JOIN cw s ON s.m = q.m),
       adc AS (SELECT t.query_id, c.vec_id, sum(t.d_e6)::BIGINT AS approx_d2_e6
               FROM codes c JOIN dt t ON t.cid = c.cid AND t.m = c.m AND t.j = c.code
               GROUP BY 1, 2)
       SELECT query_id, vec_id, approx_d2_e6, CAST(rn AS BIGINT) AS rank
       FROM (SELECT query_id, vec_id, approx_d2_e6,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2_e6 ASC, vec_id ASC) AS rn
             FROM adc)
       WHERE rn <= 10""",
)
def _ivfpq_topk(spark, sf_dir):
    """IVF-PQ (similarity/pq.py:ivfpq_encode/ivfpq_topk): coarse
    strided centroids partition the corpus into inverted lists, PQ
    codes compress the RESIDUALS (x − centroid), and queries ADC-scan
    only their nprobe nearest cells — the Faiss billion-scale default,
    with every stage (coarse argmin, residual codes, per-cell integer
    distance tables, boundary ties) pinned bit-for-bit against the
    DuckDB oracle."""
    from redshells_spark.similarity.pq import (
        _centroid_d2,
        ivfpq_encode,
        ivfpq_topk,
        pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    centroids = np.asarray(
        [[float(x) for x in r["embedding"]] for r in cent_rows], dtype=np.float64
    )
    train_rows = (
        emb.filter((F.col("vec_id") % 37 == 1) & (F.col("vec_id") < 593))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    train = np.asarray(
        [[float(x) for x in r["embedding"]] for r in train_rows], dtype=np.float64
    )
    # PQ codebooks from the TRAINING VECTORS' residuals in their own
    # coarse cells (numpy left-fold assignment == the oracle's argmin)
    tcid = np.argmin(_centroid_d2(train, centroids), axis=1)
    tres = train - centroids[tcid]
    cbs = pq_codebooks([list(map(float, r)) for r in tres], num_subspaces=8)

    index = ivfpq_encode(emb, centroids, cbs)
    queries = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(queries, index, centroids, cbs, k=10, nprobe=4)


@q(
    "audio_header_fields",
    """SELECT doc_id, 'wav' AS format,
              (doc_id % 2 + 1)::BIGINT AS n_channels,
              (8000 + (doc_id % 5) * 4000)::BIGINT AS sample_rate,
              CAST(16 AS BIGINT) AS bits_per_sample,
              ((doc_id % 100) + 1)::BIGINT AS n_samples
       FROM documents""",
)
def _audio_header_fields(spark, sf_dir):
    """REAL RIFF/WAVE header parsing, end-to-end verified like
    `image_header_dims`: spec-conformant 44-byte PCM headers are
    constructed JVM-side from doc_id (little-endian fmt/data chunks),
    then parse_audio_headers must invert the construction exactly —
    the oracle recomputes every field arithmetically. All codegen, no
    Python stage (WAV's fields sit at fixed offsets, unlike JPEG)."""
    from redshells_spark.multimodal.binary_ops import parse_audio_headers

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    c = (F.col("doc_id") % 2 + 1).cast("long")
    rate = (F.lit(8000) + (F.col("doc_id") % 5) * 4000).cast("long")
    nsamp = (F.col("doc_id") % 100 + 1).cast("long")
    block = c * 2  # 16-bit PCM
    dsize = nsamp * block

    def le16(v):
        return F.concat(
            F.lpad(F.hex(v % 256), 2, "0"), F.lpad(F.hex(F.floor(v / 256)), 2, "0")
        )

    def le32_small(v):  # values < 65536
        return F.concat(le16(v), F.lit("0000"))

    wav = F.unhex(
        F.concat(
            F.lit("52494646"),      # RIFF
            F.lit("00000000"),      # riff size (unread)
            F.lit("57415645"),      # WAVE
            F.lit("666D7420"),      # "fmt "
            F.lit("10000000"),      # fmt chunk size 16
            F.lit("0100"),          # PCM
            le16(c),                # channels      @23
            le32_small(rate),       # sample rate   @25
            F.lit("00000000"),      # byte rate (unread)
            le16(block),            # block align   @33
            F.lit("1000"),          # bits = 16 le  @35
            F.lit("64617461"),      # "data"
            le32_small(dsize),      # data size     @41
        )
    )
    payloads = docs.select("doc_id", wav.alias("payload"))
    out = parse_audio_headers(payloads, "payload")
    return out.select(
        "doc_id", "format", "n_channels", "sample_rate", "bits_per_sample", "n_samples"
    )


@q(
    "train_dictionary",
    f"WITH {_VOCAB_SQL} SELECT token, doc_freq, token_id FROM vocab",
)
def _train_dictionary(spark, sf_dir):
    v = _vocab(spark, sf_dir)
    return v.withColumn("token_id", F.col("token_id").cast("long")).withColumn(
        "doc_freq", F.col("doc_freq").cast("long")
    )


@q(
    "tfidf",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token)
       SELECT tf.doc_id, tf.token,
              round(tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq), 4) AS tfidf
       FROM tf JOIN vocab v ON tf.token = v.token
       WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0""",
)
def _tfidf(spark, sf_dir):
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=False, n_docs=_n_docs(spark, sf_dir))
    return sc.select("doc_id", "token", _r4(F.col("tfidf"), "tfidf"))


@q(
    "tfidf_normalized",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
       scored AS (
         SELECT tf.doc_id, tf.token,
                tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) AS tfidf
         FROM tf JOIN vocab v ON tf.token = v.token
         WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0)
       SELECT doc_id, token,
              round(tfidf / sqrt(sum(tfidf * tfidf) OVER (PARTITION BY doc_id)), 4) AS tfidf
       FROM scored""",
)
def _tfidf_normalized(spark, sf_dir):
    # gensim-default cosine doc-normalization ('nnc') — the variant the
    # reference's TfidfModel applies (model/tfidf.py:11-18)
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=True, n_docs=_n_docs(spark, sf_dir))
    return sc.select("doc_id", "token", _r4(F.col("tfidf"), "tfidf"))


@q(
    "events_cube",
    """SELECT coalesce(event_type, 'ALL') AS etype,
              coalesce(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
              count(*) AS n
       FROM events GROUP BY CUBE (event_type, CAST(user_id % 10 AS VARCHAR))""",
)
def _events_cube(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("string")
    )
    return (
        ev.cube("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("user_bucket", F.lit("ALL")).alias("user_bucket"),
            "n",
        )
    )


@q(
    "tfidf_top_tokens",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
       scored AS (
         SELECT tf.doc_id, tf.token,
                tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) AS tfidf
         FROM tf JOIN vocab v ON tf.token = v.token
         WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0),
       ranked AS (
         SELECT doc_id, token, tfidf,
                row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn,
                ceil(count(*) OVER (PARTITION BY doc_id) * 0.2) + 1 AS k
         FROM scored)
       SELECT doc_id, token, round(tfidf, 4) AS tfidf FROM ranked WHERE rn <= k""",
)
def _tfidf_top_tokens(spark, sf_dir):
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=False, n_docs=_n_docs(spark, sf_dir))
    top = tfidf_top_tokens(sc, keep_top_rate=0.2)
    return top.select("doc_id", "token", _r4(F.col("tfidf"), "tfidf"))


@q(
    "keyword_match",
    f"""SELECT DISTINCT doc_id, token AS keyword
       FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token FROM documents)
       WHERE token IN {str(KEYWORDS)}""",
)
def _keyword_match(spark, sf_dir):
    keywords = _tokens(spark, sf_dir).sparkSession.createDataFrame(
        [(k,) for k in KEYWORDS], "keyword string"
    )
    return keyword_match_join(_tokens(spark, sf_dir), keywords, "doc_id", "tokens")


@q(
    "find_item_keyword",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
       scored AS (
         SELECT tf.doc_id, tf.token,
                tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) AS tfidf
         FROM tf JOIN vocab v ON tf.token = v.token
         WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0),
       ranked AS (
         SELECT doc_id, token, tfidf,
                row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn,
                ceil(count(*) OVER (PARTITION BY doc_id) * 0.3) + 1 AS k
         FROM scored)
       SELECT DISTINCT doc_id, token AS keyword FROM ranked
       WHERE rn <= k AND token IN {str(KEYWORDS)}""",
)
def _find_item_keyword(spark, sf_dir):
    # §2.I composite: per-item top-TF-IDF tokens ∩ keyword list
    # (reference find_item_keyword_by_matching.py:10-42)
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=False, n_docs=_n_docs(spark, sf_dir))
    top = tfidf_top_tokens(sc, keep_top_rate=0.3)
    top_tokens = top.groupBy("doc_id").agg(F.collect_list("token").alias("tokens"))
    keywords = spark.createDataFrame([(k,) for k in KEYWORDS], "keyword string")
    return keyword_match_join(top_tokens, keywords, "doc_id", "tokens")




@q(
    "corpus_report",
    """WITH base AS (
         SELECT source,
                len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
                n_chars,
                md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
         FROM documents)
       SELECT source,
              count(*)::BIGINT AS n_docs,
              sum(n_tok)::BIGINT AS n_tokens,
              round(avg(n_tok), 4) AS avg_tokens,
              round(avg(n_chars), 4) AS avg_chars,
              (count(*) - count(DISTINCT fp))::BIGINT AS n_exact_dup_docs
       FROM base GROUP BY source""",
)
def _corpus_report(spark, sf_dir):
    """Per-source corpus data card: doc/token/char volumes plus the
    exact-duplicate count from the normalized-text fingerprint — the
    report a training-data pipeline publishes per crawl source. One
    scan, map-combined aggregates, the dup count via count(distinct
    fingerprint) per source (partial-aggregated 32-byte hashes, never
    text)."""
    from redshells_spark.text.analysis import fingerprint as add_fp

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    base = add_fp(docs).select(
        "source",
        F.size(toks).alias("n_tok"),
        "n_chars",
        "fingerprint",
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        _r4(F.avg("n_tok"), "avg_tokens"),
        _r4(F.avg("n_chars"), "avg_chars"),
        (F.count(F.lit(1)) - F.countDistinct("fingerprint"))
        .cast("long")
        .alias("n_exact_dup_docs"),
    )


@q(
    "video_frame_sample",
    """WITH p AS (
         SELECT doc_id, hex(encode(text)) AS h,
                greatest(1, octet_length(encode(text)) // 4) AS step
         FROM documents),
       f AS (SELECT doc_id, h, step, k FROM p, range(4) t(k)),
       s AS (SELECT doc_id, k,
                    substr(h, k * step * 2 + 1, step * 2) AS fh
             FROM f)
       SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
              CASE WHEN fh = '' THEN '00' ELSE fh END AS frame_hex,
              CAST(length(CASE WHEN fh = '' THEN '00' ELSE fh END) // 2
                   AS BIGINT) AS frame_bytes
       FROM s""",
)
def _video_frame_sample(spark, sf_dir):
    """Video-ish frame sampling through the REAL mapInPandas operator
    (multimodal/binary_ops.py sample_video_frames): the opaque payload
    (here: encoded text — the env ships no codecs) is sliced into
    num_frames byte ranges worker-side; bytes never touch the driver
    and rows fan out by num_frames — the exact shape a real
    ffmpeg-backed sampler uses. The oracle recomputes every slice on
    the hex image of the payload (byte slicing == hex slicing at 2×
    offsets), so a MATCH proves the batch plumbing byte-for-byte,
    including the short-payload '\\x00' fallback."""
    from redshells_spark.multimodal.binary_ops import sample_video_frames

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = sample_video_frames(docs, "payload", id_column="doc_id", num_frames=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.hex("frame_payload").alias("frame_hex"),
        F.length("frame_payload").cast("long").alias("frame_bytes"),
    )


def _image_feature_sql() -> str:
    """Oracle for image_decode_features: re-derives the md5-chain pixel
    stream (16 px per md5 block) and the 16 mean-pooled block features
    (4 px each) in pure SQL — hex digits parsed with the instr fold,
    the mean as the identical IEEE expression (sum/4)/255."""

    def hv(e: str) -> str:
        return f"(instr('0123456789abcdef', {e}) - 1)"

    branches = []
    for f_idx in range(16):
        j = f_idx // 4
        off = (f_idx % 4) * 8
        terms = []
        for m in range(4):
            c1 = f"substr(m{j}, {off + 2 * m + 1}, 1)"
            c2 = f"substr(m{j}, {off + 2 * m + 2}, 1)"
            terms.append(f"(16 * {hv(c1)} + {hv(c2)})")
        branches.append(
            f"SELECT doc_id, {f_idx} AS f, {' + '.join(terms)} AS s FROM px"
        )
    union = "\n         UNION ALL ".join(branches)
    return f"""WITH px AS (
         SELECT doc_id,
                md5(text || '|px|0') AS m0, md5(text || '|px|1') AS m1,
                md5(text || '|px|2') AS m2, md5(text || '|px|3') AS m3
         FROM documents),
       feats AS ({union})
       SELECT doc_id, CAST(f AS BIGINT) AS feature_idx,
              (CAST(s AS DOUBLE) / 4) / 255 AS value
       FROM feats"""


def _decode_fanout(spark) -> int | None:
    """Per-row-cost gate for the media-decode fan-out (VERDICT r08
    item 6): the md5-chain stub costs ~µs/row, so repartitioning the
    payload bytes across cores loses locally (round-8 A/B measured the
    shuffle > the savings); a REAL codec costs ~ms/row, where decode
    dominates any layout and spreading across the session's cores wins.
    Returns the session core count exactly when the real codec is
    wired (multimodal/binary_ops.CODEC_AVAILABLE), so a production
    decoder scales with no query change."""
    from redshells_spark.multimodal import binary_ops

    if not binary_ops.CODEC_AVAILABLE:
        return None
    return spark.sparkContext.defaultParallelism


@q("image_decode_features", _image_feature_sql())
def _image_decode_features(spark, sf_dir):
    """Decode→featurize through the REAL multimodal pipeline
    (multimodal/binary_ops.py decode_images + extract_image_features):
    two Arrow-batched mapInPandas stages with exactly the schema,
    batching, and partition behavior a PIL/CLIP UDF would use — the
    decoder is the md5-chain stub (pixel_source="md5chain") because
    the env has no codecs, which makes every pixel SQL-reproducible.
    8×8 image, 16 mean-pooled block features; the division tree
    (sum/4)/255 is a fixed IEEE expression, identical in both engines,
    so values are exported at full precision with no rounding."""
    from redshells_spark.multimodal.binary_ops import (
        decode_images,
        extract_image_features,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    decoded = decode_images(
        docs, "payload", id_column="doc_id", height=8, width=8,
        pixel_source="md5chain", target_partitions=_decode_fanout(spark),
    )
    feats = extract_image_features(decoded, id_column="doc_id", feature_dim=16)
    return feats.select("doc_id", F.posexplode("embedding")).select(
        "doc_id",
        F.col("pos").cast("long").alias("feature_idx"),
        F.col("col").alias("value"),
    )


@q(
    "gopher_quality_rules",
    """WITH t AS (
         SELECT doc_id, text,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
                string_split(text, chr(10)) AS lines
         FROM documents),
       m AS (
         SELECT doc_id,
                len(toks) AS n_tokens,
                greatest(len(toks), 1) AS ntd,
                length(array_to_string(toks, '')) AS wl_sum,
                length(text) - length(replace(text, '#', '')) AS n_hash,
                (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
                len(list_intersect(list_distinct(toks),
                    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
                  AS n_stop,
                greatest(len(lines), 1) AS nld,
                len(list_filter(lines, l -> starts_with(l, '- ')
                    OR starts_with(l, '* ') OR starts_with(l, '•'))) AS n_bul,
                len(list_filter(lines, l -> ends_with(l, '...')
                    OR ends_with(l, '…'))) AS n_ele
         FROM t),
       s AS (
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                wl_sum / CAST(ntd AS DOUBLE) AS mean_word_len,
                (n_hash + n_ell) / CAST(ntd AS DOUBLE) AS symbol_word_ratio,
                n_alpha / CAST(ntd AS DOUBLE) AS frac_alpha_words,
                CAST(n_stop AS BIGINT) AS n_gopher_stopwords,
                n_bul / CAST(nld AS DOUBLE) AS frac_bullet_lines,
                n_ele / CAST(nld AS DOUBLE) AS frac_ellipsis_lines
         FROM m)
       SELECT *,
              n_tokens >= 50 AND n_tokens <= 100000
              AND mean_word_len >= 3 AND mean_word_len <= 10
              AND symbol_word_ratio <= CAST(0.1 AS DOUBLE)
              AND frac_alpha_words >= CAST(0.8 AS DOUBLE)
              AND n_gopher_stopwords >= 2
              AND frac_bullet_lines <= CAST(0.9 AS DOUBLE)
              AND frac_ellipsis_lines <= CAST(0.3 AS DOUBLE) AS keep
       FROM s""",
)
def _gopher_quality_rules(spark, sf_dir):
    """Gopher quality-rule battery (text/analysis.py
    gopher_quality_rules; Rae et al. 2021 Table A1): word-count and
    mean-word-length bounds, symbol-to-word ratio, alphabetic-word
    fraction, required stopwords, bullet/ellipsis line fractions, and
    the conjunction keep flag. All signals are fixed expressions over
    integer counts (single identical-operand IEEE divisions), so the
    whole battery — including keep — is exported at full precision
    with no rounding. Pure codegen: runs at parquet-scan speed."""
    from redshells_spark.text.analysis import gopher_quality_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_rules(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len",
        "symbol_word_ratio",
        "frac_alpha_words",
        "n_gopher_stopwords",
        "frac_bullet_lines",
        "frac_ellipsis_lines",
        "keep",
    )


@q(
    "bm25_topk",
    """WITH tok AS (
         SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS term
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
       p AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN ('spark', 'join', 'window', 'stream', 'hash')
             GROUP BY 1, 2),
       dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
       s AS (
         SELECT p.doc_id,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * dl.dl
                          / (st.dl_sum / st.n_docs))) AS t
         FROM p JOIN dl USING (doc_id) JOIN dft USING (term), st)
       SELECT doc_id, round(sum(t), 4) AS score
       FROM s GROUP BY doc_id
       ORDER BY score DESC, doc_id ASC LIMIT 20""",
)
def _bm25_topk(spark, sf_dir):
    """Okapi BM25 ranked retrieval (text/bm25.py) for the shared
    KEYWORDS query: one corpus scan (postings filter pushed into the
    token explode), broadcast df/avgdl stats, one groupBy(doc), and a
    TakeOrderedAndProject top-k on the rounded score with a doc_id
    tie-break. The ln-based idf agrees cross-engine under the round-4
    export like ngram_lm_perplexity's log2."""
    from redshells_spark.text.bm25 import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, KEYWORDS, k=20)


@q(
    "token_entropy_signals",
    """WITH tok AS (
         SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS token
         FROM documents),
       c AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
       d AS (SELECT doc_id,
                    CAST(sum(cnt) AS BIGINT) AS n_tokens,
                    CAST(count(*) AS BIGINT) AS n_distinct,
                    sum(cnt * ln(cnt)) AS s
             FROM c GROUP BY 1)
       SELECT doc_id, n_tokens, n_distinct,
              round(ln(n_tokens) - s / n_tokens, 4) AS entropy,
              round(CASE WHEN n_distinct > 1
                         THEN (ln(n_tokens) - s / n_tokens) / ln(n_distinct)
                         ELSE CAST(0 AS DOUBLE) END, 4) AS norm_entropy
       FROM d""",
)
def _token_entropy_signals(spark, sf_dir):
    """Shannon token-entropy quality signals (text/analysis.py
    token_entropy_signals): low entropy flags boilerplate/repetitive
    docs, near-1 normalized entropy flags random-token garbage. Uses
    the aggregate identity H = ln(n) − (Σ c·ln c)/n — one token-level
    + one doc-level map-combined groupBy, no window. Round-4 export
    absorbs the order-dependent float sum."""
    from redshells_spark.text.analysis import token_entropy_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = token_entropy_signals(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        _r4(F.col("entropy"), "entropy"),
        _r4(F.col("norm_entropy"), "norm_entropy"),
    )


@q(
    "kn_perplexity",
    """WITH tok AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, unnest(toks) AS token,
                generate_subscripts(toks, 1) AS pos
         FROM tok),
       pairs AS (
         SELECT doc_id,
                coalesce(lag(token) OVER (PARTITION BY doc_id ORDER BY pos ASC), '␟<s>') AS prev,
                token AS word
         FROM flat),
       bc AS (SELECT prev, word, count(*) AS n FROM pairs GROUP BY 1, 2),
       ctx AS (SELECT prev, sum(n) AS c_prev, count(*) AS n1p_fwd FROM bc GROUP BY 1),
       cont AS (SELECT word, count(*) AS n1p_bwd FROM bc GROUP BY 1),
       ty AS (SELECT count(*) AS n_types FROM bc),
       sc AS (
         SELECT p.doc_id,
                log2((greatest(bc.n - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                      + CAST(0.75 AS DOUBLE) * ctx.n1p_fwd
                        * (cont.n1p_bwd / ty.n_types))
                     / ctx.c_prev) AS lp
         FROM pairs p
         JOIN bc USING (prev, word)
         JOIN ctx USING (prev)
         JOIN cont USING (word), ty)
       SELECT doc_id,
              round(-avg(lp), 4) AS cross_entropy,
              round(pow(2.0, -avg(lp)), 4) AS perplexity
       FROM sc GROUP BY doc_id""",
)
def _kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney perplexity filter (text/ngram_lm.py
    train_kn_bigram_lm + score_kn_perplexity): the smoothing family
    CCNet's actual KenLM filter uses, relational end-to-end —
    P(w|v) = (max(c−d,0) + d·N1+(v,·)·Pcont(w))/c(v) with the
    continuation distribution Pcont(w) = N1+(·,w)/|bigram types|.
    Self-scoring (train corpus == target corpus) so every context is
    known and the whole train+score dataflow is one oracle-checkable
    graph; production trains once on clean text and broadcasts the
    vocabulary-bounded tables."""
    from redshells_spark.text.ngram_lm import score_kn_perplexity

    docs = _t(spark, sf_dir, "documents")
    lm = _kn_lm(spark, sf_dir)
    out = score_kn_perplexity(docs, lm, broadcast_lm=True)
    return out.select(
        "doc_id",
        _r4(F.col("cross_entropy"), "cross_entropy"),
        _r4(F.col("perplexity"), "perplexity"),
    )


def _video_feature_sql() -> str:
    """Oracle for video_frame_features: replay frame slicing (ASCII
    payload ⇒ byte slicing == character slicing), the md5-chain
    per-frame pixels, block-mean features, and the temporal mean-pool.
    Valid for payloads ≥ num_frames bytes (always true for this
    corpus; the operator itself handles shorter ones — unit-tested)."""

    def hv(e: str) -> str:
        return f"(instr('0123456789abcdef', {e}) - 1)"

    branches = []
    for f_idx in range(16):
        j = f_idx // 4
        off = (f_idx % 4) * 8
        terms = []
        for m in range(4):
            c1 = f"substr(m{j}, {off + 2 * m + 1}, 1)"
            c2 = f"substr(m{j}, {off + 2 * m + 2}, 1)"
            terms.append(f"(16 * {hv(c1)} + {hv(c2)})")
        branches.append(
            f"SELECT doc_id, k, {f_idx} AS f, {' + '.join(terms)} AS s FROM px"
        )
    union = "\n         UNION ALL ".join(branches)
    return f"""WITH p AS (
         SELECT doc_id, text,
                greatest(1, octet_length(encode(text)) // 4) AS step
         FROM documents),
       fr AS (SELECT doc_id, k, substr(text, k * step + 1, step) AS fs
              FROM p, range(4) t(k)),
       px AS (
         SELECT doc_id, k,
                md5(fs || '|px|0') AS m0, md5(fs || '|px|1') AS m1,
                md5(fs || '|px|2') AS m2, md5(fs || '|px|3') AS m3
         FROM fr),
       feats AS ({union})
       SELECT doc_id, CAST(f AS BIGINT) AS feature_idx,
              round(sum((CAST(s AS DOUBLE) / 4) / 255) / count(*), 4) AS value
       FROM feats GROUP BY doc_id, f"""


@q("video_frame_features", _video_feature_sql())
def _video_frame_features(spark, sf_dir):
    """Full video featurization pipeline through the REAL multimodal
    operators: sample_video_frames (byte-range frame extraction) →
    decode_images per frame (md5-chain stub — a real ffmpeg decoder
    slots in unchanged) → extract_image_features per frame → temporal
    mean-pool per video (pool_frame_features). Three Arrow mapInPandas
    stages + one relational pool, payload bytes never on the driver;
    the oracle replays every stage and the round-4 export absorbs the
    4-element pooling sum order."""
    from redshells_spark.multimodal.binary_ops import (
        decode_images,
        extract_image_features,
        pool_frame_features,
        sample_video_frames,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = sample_video_frames(
        docs, "payload", id_column="doc_id", num_frames=4,
        target_partitions=_decode_fanout(spark),
    )
    fdf = frames.select(
        (F.col("doc_id") * 10 + F.col("frame_idx")).alias("fid"),
        F.col("frame_payload").alias("payload"),
    )
    decoded = decode_images(
        fdf, "payload", id_column="fid", height=8, width=8,
        pixel_source="md5chain",
    )
    feats = extract_image_features(decoded, id_column="fid", feature_dim=16)
    vids = feats.select(
        F.expr("fid div 10").alias("doc_id"), "embedding"
    )
    pooled = pool_frame_features(vids, video_id_column="doc_id")
    return pooled.select("doc_id", "feature_idx", _r4(F.col("value"), "value"))


@q(
    "gopher_repetition_battery",
    """WITH t AS (
         SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         FROM documents),
       b AS (SELECT doc_id, toks,
                    CAST(length(array_to_string(toks, '')) AS BIGINT) AS total_chars
             FROM t),
       e AS (SELECT doc_id, total_chars, toks, n,
                    unnest(range(1, len(toks) - n + 2)) AS i
             FROM b, (VALUES (2), (3), (4), (5), (6)) nn(n)
             WHERE len(toks) >= n),
       cnt AS (SELECT doc_id, total_chars, n,
                      array_to_string(list_slice(toks, i, i + n - 1), '␟') AS gram,
                      count(*) AS c
               FROM e GROUP BY 1, 2, 3, 4),
       tops AS (SELECT doc_id, n,
                       CAST(c * (length(gram) - (n - 1)) AS DOUBLE)
                         / total_chars AS frac
                FROM cnt
                WHERE n IN (2, 3, 4)
                QUALIFY row_number() OVER (PARTITION BY doc_id, n
                                           ORDER BY c DESC, gram ASC) = 1),
       dups AS (SELECT doc_id, n + 10 AS n,
                       least(CAST(CAST(sum(CASE WHEN c > 1
                                             THEN c * (length(gram) - (n - 1))
                                             ELSE 0 END) AS BIGINT) AS DOUBLE)
                               / total_chars,
                             CAST(1 AS DOUBLE)) AS frac
                FROM cnt WHERE n IN (5, 6)
                GROUP BY doc_id, n, total_chars),
       u AS (SELECT * FROM tops UNION ALL SELECT * FROM dups),
       pv AS (SELECT doc_id,
                     max(CASE WHEN n = 2 THEN frac END) AS top2_char_frac,
                     max(CASE WHEN n = 3 THEN frac END) AS top3_char_frac,
                     max(CASE WHEN n = 4 THEN frac END) AS top4_char_frac,
                     max(CASE WHEN n = 15 THEN frac END) AS dup5_char_frac,
                     max(CASE WHEN n = 16 THEN frac END) AS dup6_char_frac
              FROM u GROUP BY doc_id)
       SELECT b.doc_id, b.total_chars,
              coalesce(top2_char_frac, CAST(0 AS DOUBLE)) AS top2_char_frac,
              coalesce(top3_char_frac, CAST(0 AS DOUBLE)) AS top3_char_frac,
              coalesce(top4_char_frac, CAST(0 AS DOUBLE)) AS top4_char_frac,
              coalesce(dup5_char_frac, CAST(0 AS DOUBLE)) AS dup5_char_frac,
              coalesce(dup6_char_frac, CAST(0 AS DOUBLE)) AS dup6_char_frac
       FROM b LEFT JOIN pv ON pv.doc_id = b.doc_id""",
)
def _gopher_repetition_battery(spark, sf_dir):
    """The Gopher §A1.1 repetition filters beyond repetition_signals
    (text/analysis.py gopher_repetition_battery): character coverage
    of the single most frequent {2,3,4}-gram and of all duplicated
    {5,6}-grams (multiplicity approximation, capped at 1). Exact
    integer char counts, (count desc, gram asc) tie-break, one
    identical-operand division per fraction — full-precision export,
    no rounding."""
    from redshells_spark.text.analysis import gopher_repetition_battery

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_repetition_battery(docs)
