"""queries._shared.session_cached: the one per-(application, sf_dir)
cache behind every shared relation of the query registry."""

from __future__ import annotations

from collections import OrderedDict

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from redshells_spark.queries import _shared
from redshells_spark.queries._shared import _SESSION_SCOPES, session_cached


@pytest.fixture
def scopes(monkeypatch):
    # a private scope table: these tests neither see nor evict the
    # relations the registry tests cached in the shared session
    fresh = OrderedDict()
    monkeypatch.setattr(_shared, "_scopes", fresh)
    yield fresh
    for scope in fresh.values():
        for value in scope.values():
            if isinstance(value, DataFrame):
                value.unpersist()


def _counting(make):
    calls = []

    @session_cached
    def build(spark, sf_dir):
        calls.append(sf_dir)
        return make(spark, sf_dir)

    return build, calls


def _frame(spark, sf_dir):
    # one distinct plan per scope, so each scope owns its cache entry
    return spark.range(2).select(F.lit(sf_dir).alias("sf_dir")).cache()


def _dirs(tmp_path, n=_SESSION_SCOPES + 1):
    return [str(tmp_path / f"sf{i}") for i in range(n)]


def test_repeat_call_returns_the_cached_object(spark, scopes, tmp_path):
    build, calls = _counting(_frame)
    first = build(spark, str(tmp_path))
    assert build(spark, str(tmp_path)) is first
    assert calls == [str(tmp_path)]


def test_fifth_scope_evicts_the_least_recently_used(spark, scopes, tmp_path):
    base, calls = _counting(_frame)

    @session_cached
    def derived(spark, sf_dir):
        return base(spark, sf_dir).withColumn("x", F.lit(1)).cache()

    dirs = _dirs(tmp_path)
    frames = [(base(spark, d), derived(spark, d)) for d in dirs]
    # the whole scope leaves: the derived cache together with its input
    assert [f.storageLevel for f in frames[0]] == [StorageLevel.NONE] * 2
    for pair in frames[1:]:
        assert all(f.storageLevel != StorageLevel.NONE for f in pair)
    rebuilt = base(spark, dirs[0])
    assert rebuilt is not frames[0][0]
    assert rebuilt.storageLevel != StorageLevel.NONE
    assert calls == dirs + [dirs[0]]


def test_hit_refreshes_recency(spark, scopes, tmp_path):
    build, calls = _counting(_frame)
    dirs = _dirs(tmp_path)
    frames = [build(spark, d) for d in dirs[:-1]]
    assert build(spark, dirs[0]) is frames[0]  # now the most recent
    build(spark, dirs[-1])
    assert frames[0].storageLevel != StorageLevel.NONE
    assert frames[1].storageLevel == StorageLevel.NONE
    assert build(spark, dirs[0]) is frames[0]
    assert calls == dirs


def test_int_and_tuple_values_are_cached_and_evicted(spark, scopes, tmp_path):
    size, size_calls = _counting(lambda spark, d: len(d))
    pair, pair_calls = _counting(lambda spark, d: (_frame(spark, d), d))
    dirs = _dirs(tmp_path)
    for d in dirs:
        assert size(spark, d) == len(d)
        assert pair(spark, d)[1] == d
    assert pair(spark, dirs[-1]) is pair(spark, dirs[-1])
    assert size(spark, dirs[0]) == len(dirs[0])
    assert pair(spark, dirs[0])[1] == dirs[0]
    assert size_calls == pair_calls == dirs + [dirs[0]]


def test_session_defaults_cover_table_reads(spark):
    # get_spark_session sets the nanos-as-long and UTC read confs up
    # front; _shared._t sets them again for sessions built elsewhere
    # (tests/test_timeutil.py covers that case)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
