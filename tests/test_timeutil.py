"""Dual-dtype event-time regression tests.

The driver's testdata has shipped ``events.ts`` as long nanoseconds
(round 1) and as parquet timestamp[us] → TIMESTAMP_NTZ (round 2+);
the round-2 SQL-level CASE guard failed Spark's analyzer on NTZ.
These tests pin the fix: the same logical events produce *identical*
results through sessionize / windowed counts / gap math under every
physical dtype that has shipped (plus plain TIMESTAMP for good
measure).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from redshells_spark.streaming.events import sessionize, windowed_event_counts
from redshells_spark.timeutil import event_ts, event_us

# (event_id, us-since-epoch, user_id, event_type, value)
_BASE = [
    (1, 1_700_000_000_000_000, 1, "click", 1.0),
    (2, 1_700_000_060_000_000, 1, "view", 2.0),  # +60s → same session
    (3, 1_700_003_600_000_000, 1, "click", 3.0),  # +1h   → new session
    (4, 1_700_000_030_000_000, 2, "purchase", 4.0),
    (5, 1_700_007_200_000_000, 2, "click", 5.0),
]


def _variants(spark):
    """The same events under three physical ts dtypes."""
    long_nanos = spark.createDataFrame(
        [(e, us * 1000, u, t, v) for e, us, u, t, v in _BASE],
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    as_ts = spark.createDataFrame(
        [
            (e, datetime.datetime.fromtimestamp(us / 1e6, tz=datetime.timezone.utc), u, t, v)
            for e, us, u, t, v in _BASE
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    as_ntz = as_ts.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return {"long_nanos": long_nanos, "timestamp": as_ts, "timestamp_ntz": as_ntz}


def test_event_us_identical_across_dtypes(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    expect = {e: us for e, us, *_ in _BASE}
    for name, df in _variants(spark).items():
        got = {
            r["event_id"]: r["us"]
            for r in df.select("event_id", event_us(df, "ts").alias("us")).collect()
        }
        assert got == expect, f"dtype variant {name}: {got} != {expect}"


def test_event_ts_round_trips(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for name, df in _variants(spark).items():
        out = df.select(F.unix_micros(event_ts(df, "ts")).alias("us"), "event_id")
        got = {r["event_id"]: r["us"] for r in out.collect()}
        assert got == {e: us for e, us, *_ in _BASE}, f"dtype variant {name}"


@pytest.mark.parametrize("op", ["sessionize", "windowed"])
def test_event_ops_identical_across_dtypes(spark, op):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    results = {}
    for name, df in _variants(spark).items():
        if op == "sessionize":
            out = sessionize(df, gap="30 minutes")
            key = ["user_id", "session_start"]
        else:
            out = windowed_event_counts(df, "1 hour")
            key = ["window_start", "event_type"]
        results[name] = sorted(map(tuple, out.select(*key, "n_events", "sum_value").collect()))
    assert results["long_nanos"] == results["timestamp"] == results["timestamp_ntz"]
    assert len(results["long_nanos"]) > 0


def test_sessionize_semantics(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _variants(spark)["timestamp_ntz"]
    rows = {
        (r["user_id"], r["n_events"])
        for r in sessionize(df, gap="30 minutes").collect()
    }
    # user 1: events 1+2 together (60s apart), event 3 alone; user 2: both alone
    assert rows == {(1, 2), (1, 1), (2, 1)}


def test_event_range_filter_identical_across_dtypes(spark):
    """event_range_filter keeps the same rows under every physical ts
    dtype, and agrees with the event_us() comparison it replaces."""
    from redshells_spark.timeutil import event_range_filter

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    lo, hi = 1_700_000_000_000_000, 1_700_003_600_000_000
    expect = sorted(e for e, us, *_ in _BASE if lo <= us < hi)
    for name, df in _variants(spark).items():
        got = sorted(
            r["event_id"]
            for r in df.filter(event_range_filter(df, "ts", lo, hi)).collect()
        )
        assert got == expect, f"dtype variant {name}: {got} != {expect}"
    # one-sided bounds
    df = _variants(spark)["timestamp_ntz"]
    assert df.filter(event_range_filter(df, "ts", lo_us=hi)).count() == sum(
        1 for _, us, *_ in _BASE if us >= hi
    )


def _restoring(spark, confs):
    """Set ``confs`` on the shared session; return a callable that puts
    the previous values back (the session's defaults are UTC +
    nanos-as-long, which the other tests rely on)."""
    before = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def restore():
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    return restore


def test_table_reads_match_the_oracle_on_a_non_utc_session(spark, sf_dir):
    """The driver runs the registry on its own session, not one from
    get_spark_session, so its time zone need not be UTC. Table reads
    (queries._shared._t) must still give DuckDB's naive-as-UTC event
    times: an hour-of-day query matches its oracle under another zone."""
    import duckdb

    from redshells_spark.queries import get_oracles, get_queries

    name = "seasonal_baseline_forecast"
    restore = _restoring(spark, {"spark.sql.session.timeZone": "America/Los_Angeles"})
    try:
        df = get_queries()[name](spark, sf_dir)
        got = sorted(tuple(r[c] for c in sorted(df.columns)) for r in df.collect())
    finally:
        restore()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    cur = con.execute(get_oracles()[name])
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = sorted(tuple(r[i] for i in order) for r in cur.fetchall())
    assert got == want
    assert len(got) > 0


def test_table_reads_accept_timestamp_nanos(spark, tmp_path):
    """Earlier testdata stored event times as parquet TIMESTAMP(NANOS),
    which Spark reads only under the legacy nanos-as-long conf. A table
    read must set it itself, so such files load on any session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from redshells_spark.queries._shared import _t

    nanos = pa.array([us * 1000 for _, us, *_ in _BASE], pa.timestamp("ns"))
    ids = pa.array([e for e, *_ in _BASE], pa.int64())
    pq.write_table(
        pa.table({"event_id": ids, "ts": nanos}),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    restore = _restoring(spark, {"spark.sql.legacy.parquet.nanosAsLong": "false"})
    try:
        ev = _t(spark, str(tmp_path), "events")
        got = {
            r["event_id"]: r["us"]
            for r in ev.select("event_id", event_us(ev, "ts").alias("us")).collect()
        }
    finally:
        restore()
    assert got == {e: us for e, us, *_ in _BASE}
