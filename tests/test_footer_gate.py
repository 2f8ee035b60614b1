"""Footer gate of a first put: a big input goes straight to the distributed
store, so a big cold aggregate runs once.

On a first put the state's group count is unknown. ``_ParquetEntry``
bounds it by the row count in the input's parquet footers before any row
moves: over ``DRIVER_COLLECT_MAX_ROWS`` the put skips the bounded driver
collect (which would run the whole scan and aggregate only to overflow and
recompute it for the distributed write). Inputs without parquet files keep
the bounded driver attempt; a state that turns out small after the
distributed write comes back as a LocalRelation.

Reference analog: run 1 is one ``Final(Partial(scan))`` whose output
``CacheUpdateAggregateExec`` both stores and re-emits
(``src/aggregate.rs:399,588-601``).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from datafusion_query_cache_spark.cache import _SPARK_MARKERS
from tests.conftest import rows_set

CAP = 20
DAY = 24 * 3600 * 10**9


@pytest.fixture()
def small_cap(monkeypatch):
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", CAP)


@pytest.fixture()
def plain_events(spark):
    """``events`` (1000 rows in one parquet file) under a plain temp view:
    the nano tier does not admit it, so a miss runs the Spark cold path."""
    spark.table("events").createOrReplaceTempView("ev_plain")
    return "ev_plain"


@pytest.fixture()
def put_spy(monkeypatch):
    """Counts ``toArrow`` calls made inside ``_ParquetEntry.put`` and every
    ``limit(cap + 1)`` (the bounded driver collect of ``put`` and
    ``put_split``)."""
    from datafusion_query_cache_spark.cache import _ParquetEntry

    seen = {"in_put": 0, "to_arrow_in_put": 0, "cap_limits": 0}
    put, to_arrow, limit = (
        _ParquetEntry.put, ClassicDataFrame.toArrow, ClassicDataFrame.limit
    )

    def spy_put(self, *a, **kw):
        seen["in_put"] += 1
        try:
            return put(self, *a, **kw)
        finally:
            seen["in_put"] -= 1

    def spy_to_arrow(self):
        if seen["in_put"]:
            seen["to_arrow_in_put"] += 1
        return to_arrow(self)

    def spy_limit(self, n):
        if n == CAP + 1:
            seen["cap_limits"] += 1
        return limit(self, n)

    monkeypatch.setattr(_ParquetEntry, "put", spy_put)
    monkeypatch.setattr(ClassicDataFrame, "toArrow", spy_to_arrow)
    monkeypatch.setattr(ClassicDataFrame, "limit", spy_limit)
    return seen


def _qc(spark, root, now_ns=None):
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        HistoryLog,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    log = HistoryLog()
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(root)),
            default_temporal_column="ts",
            log=log,
            override_now_ns=now_ns,
        ),
    )
    return qc, log


def _state_dirs(root) -> list:
    return [
        os.path.join(r, d)
        for r, ds, _f in os.walk(root)
        for d in ds
        if d.startswith("state-")
    ]


def _meta(root) -> dict:
    (path,) = [
        os.path.join(r, "meta.json")
        for r, _d, fs in os.walk(root)
        if "meta.json" in fs
    ]
    with open(path) as f:
        return json.load(f)


def _footer_rows(path: str) -> int:
    return pads.dataset(
        path, format="parquet", ignore_prefixes=_SPARK_MARKERS
    ).count_rows()


def _ts(ns: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=-(-ns // 1000))
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S.%f}'"


def test_static_cold_load_scans_source_once(
    spark, tmp_path, small_cap, plain_events, put_spy
):
    """A static-bound cold load (the fused ``put_split`` path) over an input
    with more rows and more groups than the cap skips both bounded driver
    collects: the source scan and aggregate run in the distributed write
    only."""
    sql = (
        "SELECT date_trunc('hour', ts) AS h, count(*) AS n, sum(value) AS s "
        f"FROM {plain_events} WHERE ts > '2000-01-01' GROUP BY 1"
    )
    qc, _log = _qc(spark, tmp_path / "c")
    got = qc.sql(sql)
    assert qc.last_decision.cached and not qc.last_decision.cache_hit
    assert put_spy["cap_limits"] == 0
    assert put_spy["to_arrow_in_put"] == 0
    assert rows_set(got) == rows_set(spark.sql(sql))
    meta = _meta(tmp_path / "c")
    assert meta["rows"] > CAP


def test_over_cap_dyn_cold_aggregate_never_collects(
    spark, tmp_path, small_cap, plain_events, put_spy
):
    """``big_state``'s shape: an over-cap cold aggregate with a dynamic
    bound writes its state ``partitionBy(bucket)`` without a driver
    collect, records the footer row count, matches plain Spark, and its
    next refresh takes the bucket-tail store."""
    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
        f"count(*) AS n FROM {plain_events} "
        "WHERE ts > now() - INTERVAL 20 DAY GROUP BY 1, 2 "
        "ORDER BY n DESC, dd, k LIMIT 10"
    )

    def plain(now):
        bound = f"{_ts(now - 20 * DAY)} AND ts < {_ts(now)}"
        return spark.sql(sql.replace("now() - INTERVAL 20 DAY", bound))

    now0 = mx - 2 * DAY
    qc, log = _qc(spark, tmp_path / "c", now0)
    got = qc.sql(sql).collect()
    assert qc.last_decision.cached and not qc.last_decision.cache_hit
    assert put_spy["to_arrow_in_put"] == 0
    assert put_spy["cap_limits"] == 0
    assert got == plain(now0).collect()
    (state,) = _state_dirs(tmp_path / "c")
    buckets = [d for d in os.listdir(state) if "=" in d]
    assert len(buckets) > 1
    meta = _meta(tmp_path / "c")
    assert meta["rows"] == _footer_rows(state) > CAP

    qc.config.override_now_ns = mx + 1
    got = qc.sql(sql).collect()
    assert qc.last_decision.cache_hit
    assert got == plain(mx + 1).collect()
    assert any("bucket-tail layer" in m for m in log.messages())


@pytest.mark.parametrize("bucket", ["timestamp", "date"])
def test_selective_filter_over_big_input_stores_local_state(
    spark, tmp_path, small_cap, put_spy, bucket
):
    """Over-cap input, under-cap state: the distributed write reads back as
    a LocalRelation and the next put takes the driver path."""
    from datafusion_query_cache_spark.cache import ParquetQueryCache

    src = spark.table("events")
    b = F.date_trunc("day", "ts") if bucket == "timestamp" else F.to_date("ts")
    state = (
        src.filter(F.col("event_id") % 100 == 0)
        .groupBy(b.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cache = ParquetQueryCache(str(tmp_path / "c"))
    entry = cache.entry("fp-selective")
    entry.bucket_col = "b"
    stored = entry.put(1, state, spark)
    assert put_spy["cap_limits"] == 0  # footer gate: no driver attempt
    assert stored.isLocal()
    assert rows_set(stored) == rows_set(state)
    (path,) = _state_dirs(tmp_path / "c")
    assert any(d.startswith("b=") for d in os.listdir(path))
    assert 0 < entry.state_rows() == _footer_rows(path) <= CAP

    # the next refresh knows the state is small: bounded driver collect
    stored = entry.put(2, state, spark)
    assert put_spy["cap_limits"] == 1
    assert stored.isLocal()
    assert rows_set(stored) == rows_set(state)
    (path,) = _state_dirs(tmp_path / "c")
    assert os.listdir(path) == ["part-0.parquet"]


def test_local_state_read_back_in_session_time_zone(spark, tmp_path, small_cap):
    """The read-back parses the bucket directory names Spark renders in the
    session time zone: the instants survive a non-UTC session."""
    from datafusion_query_cache_spark.cache import ParquetQueryCache

    src = spark.table("events").filter(F.col("event_id") % 100 == 0)
    state = src.select(
        F.date_trunc("hour", "ts").alias("b"), "event_id", "value"
    )
    cache = ParquetQueryCache(str(tmp_path / "c"))
    entry = cache.entry("fp-tz")
    entry.bucket_col = "b"
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        stored = entry.put(1, state, spark)
        assert stored.isLocal()
        got, want = rows_set(stored), rows_set(state)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert got == want


@pytest.mark.parametrize("groups", [CAP, 3 * CAP])
def test_input_without_parquet_files_keeps_driver_attempt(
    spark, tmp_path, small_cap, put_spy, groups
):
    """No parquet files under the state (``createDataFrame`` and ``range``
    views): the bounded driver attempt runs; it stores a small state
    driver-side and overflows a big one to the distributed write."""
    from datafusion_query_cache_spark.cache import ParquetQueryCache

    rows = [(i % groups, float(i)) for i in range(4 * CAP)]
    spark.createDataFrame(rows, "k long, v double").createOrReplaceTempView(
        "ev_local"
    )
    spark.range(4 * CAP).createOrReplaceTempView("ev_range")
    cache = ParquetQueryCache(str(tmp_path / "c"))
    for i, sql in enumerate(
        [
            "SELECT k, count(*) AS n, sum(v) AS s FROM ev_local GROUP BY k",
            f"SELECT id % {groups} AS k, count(*) AS n FROM ev_range GROUP BY 1",
        ]
    ):
        state = spark.sql(sql)
        assert state.inputFiles() == []
        entry = cache.entry(f"fp-local-{i}")
        stored = entry.put(1, state, spark)
        assert put_spy["cap_limits"] == i + 1
        assert stored.isLocal() == (groups <= CAP)
        assert rows_set(stored) == rows_set(state)
        assert entry.state_rows() == groups


@pytest.mark.parametrize("shape", ["topk", "global"])
def test_plan_row_bound_under_cap_keeps_driver_attempt(
    spark, tmp_path, small_cap, put_spy, shape
):
    """An over-cap input under a plan whose own row bound fits the cap (a
    top-k, a global aggregate) keeps the one-job driver collect."""
    from datafusion_query_cache_spark.cache import ParquetQueryCache

    src = spark.table("events")
    if shape == "topk":
        state = src.select("event_id", "value").orderBy("event_id").limit(5)
    else:
        state = src.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    entry = ParquetQueryCache(str(tmp_path / "c")).entry(f"fp-{shape}")
    stored = entry.put(1, state, spark)
    assert put_spy["cap_limits"] == 1
    assert stored.isLocal()
    assert rows_set(stored) == rows_set(state)


def test_read_back_keeps_state_cardinality_caps(
    spark, tmp_path, small_cap, plain_events
):
    """A small state read back after a footer-gated distributed write is
    checked like a driver-collected one: an over-cap count(DISTINCT) set
    degrades the query to passthrough instead of storing the state."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "c")),
            default_temporal_column="ts",
            distinct_max_values=5,
        ),
    )
    sql = (
        "SELECT event_type, count(DISTINCT event_id) AS u "
        f"FROM {plain_events} GROUP BY 1"
    )
    got = qc.sql(sql)
    assert not qc.last_decision.cached
    assert "distinct_max_values" in (qc.last_decision.reason or "")
    assert rows_set(got) == rows_set(spark.sql(sql))
    assert _state_dirs(tmp_path / "c") == []
