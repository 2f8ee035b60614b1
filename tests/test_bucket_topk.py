"""Bucketed top-k finalize of a layered dynamic-bound refresh.

A big (layered, bucket-partitioned) state whose query groups on its own
time bucket and orders totally over the group keys is finalized on the
driver: per-bucket top-k summaries of the closed buckets, the tail the
refresh just collected (finalize columns included) and the recomputed
boundary bucket, sorted by pyarrow. Every case here lowers the collect cap
so ``events`` (1,000 rows, 30 days, 7 keys a day → ~210 state rows) takes
the layered path, then compares each refresh with plain Spark as-of now,
over refreshes that cross day edges.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

CAP = 80  # state (~210 rows) over it, a 1–2 day tail (7–14 rows) under CAP // 2
DAY = 24 * 3600 * 10**9
HOUR = 3600 * 10**9

TOPK = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
    "count(*) AS n FROM events WHERE ts > now() - INTERVAL {days} DAY "
    "GROUP BY 1, 2 ORDER BY n DESC, dd, k LIMIT {m}"
)


@pytest.fixture()
def layered(monkeypatch):
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", CAP)


def _ts_lit(ns: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ns // 1000)
    return f"TIMESTAMP '{t.isoformat(sep=' ')}'"


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def _rows(df):
    return [tuple(_norm(v) for v in r) for r in df.collect()]


def _plain_at(spark, sql: str, now_ns: int):
    """``sql`` through plain Spark as-of ``now_ns``: rows with ts < now, and
    now() pinned to the same instant."""
    lit = _ts_lit(now_ns)
    sql = sql.replace("now()", lit).replace("WHERE ", f"WHERE ts < {lit} AND ", 1)
    return _rows(spark.sql(sql))


def _nows(spark, start_days_back: float, step_ns: int, n: int):
    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    base = mx // 10**6 * 10**6  # µs-exact for the plain-Spark literal
    first = base - int(start_days_back * DAY)
    return [first + i * step_ns for i in range(n)]


def _run(spark, qc, sql, nows):
    """Each refresh exact vs plain Spark; returns the refresh tiers."""
    tiers = []
    for now in nows:
        qc.config.override_now_ns = now
        got = _rows(qc.sql(sql))
        assert got == _plain_at(spark, sql, now), (sql, now)
        tiers.append(qc.last_decision.refresh_tier)
    return tiers


def _messages(qc):
    return qc.config.log.messages()


def test_bench_shape_rides_bucket_topk(spark, qc, layered):
    """The perfbench ``hicard_25d`` shape: after the cold load every
    refresh (8 h apart, crossing day edges) is served by bucket_topk and
    exact; the summaries are built once, then maintained."""
    sql = TOPK.format(days=10, m=5)
    tiers = _run(spark, qc, sql, _nows(spark, 6, 8 * HOUR, 8))
    assert tiers[0] is None  # cold load
    assert tiers[1:] == ["bucket_topk"] * 7
    built = [m for m in _messages(qc) if "summaries built" in m]
    assert len(built) == 1, built


def test_tie_heavy_limit_cuts_through_a_tie(spark, qc, layered):
    """A constant aggregate ties every group across all buckets; the total
    ORDER BY breaks the tie by bucket and key, and LIMIT 9 cuts through it
    (inside one bucket, past another bucket's seven keys)."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
        "max(1) AS one, count(*) AS n FROM events "
        "WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1, 2 "
        "ORDER BY one DESC, dd DESC, k LIMIT 9"
    )
    tiers = _run(spark, qc, sql, _nows(spark, 6, 8 * HOUR, 6))
    assert tiers[1:] == ["bucket_topk"] * 5
    # equal counts across buckets, cut by LIMIT: the bench ordering
    sql2 = TOPK.format(days=12, m=7)
    assert _run(spark, qc, sql2, _nows(spark, 6, 7 * HOUR, 5))[1:] == [
        "bucket_topk"
    ] * 4


def test_having_applies_before_the_bucket_cut(spark, qc, layered):
    """Ascending by count with HAVING dropping the smaller groups: 5 keys
    share ~33 rows a day, so each bucket's 3 smallest counts mostly fail
    HAVING, and a cut taken before HAVING would keep only rows HAVING then
    removes (newest buckets first, so the answer is not the boundary's)."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 5 AS k, "
        "count(*) AS n FROM events WHERE ts > now() - INTERVAL 10 DAY "
        "GROUP BY 1, 2 HAVING count(*) >= 7 ORDER BY n, dd DESC, k LIMIT 3"
    )
    tiers = _run(spark, qc, sql, _nows(spark, 6, 8 * HOUR, 6))
    assert tiers[1:] == ["bucket_topk"] * 5


def test_window_shorter_than_refresh_gap(spark, qc, layered):
    """A 12-hour window refreshed every 30 hours: the boundary bucket is at
    or past the tail bound, so no closed bucket is summarized and the
    answer comes from the tail and the boundary bucket alone."""
    sql = TOPK.format(days=1, m=4).replace("INTERVAL 1 DAY", "INTERVAL 12 HOUR")
    tiers = _run(spark, qc, sql, _nows(spark, 6, 30 * HOUR, 5))
    assert tiers[1:] == ["bucket_topk"] * 4


def test_second_session_write_invalidates_summaries(spark, qc, layered):
    """Another session sharing the cache writes the entry: this session's
    summaries no longer match the entry's state tag, are rebuilt, and the
    answer stays exact."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        HistoryLog,
        QueryCacheConfig,
    )

    sql = TOPK.format(days=10, m=5)
    n = _nows(spark, 6, 8 * HOUR, 5)
    assert _run(spark, qc, sql, n[:3])[1:] == ["bucket_topk"] * 2
    other = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=qc.config.cache, default_temporal_column="ts", log=HistoryLog()
        ),
    )
    assert _run(spark, other, sql, [n[3]]) == ["bucket_topk"]
    assert _run(spark, qc, sql, [n[4]]) == ["bucket_topk"]
    assert any("invalidated" in m for m in _messages(qc)), _messages(qc)


def test_distributed_tail_write_falls_back(spark, qc, layered):
    """A refresh after a seven-day gap: its tail (7–8 buckets, ~50 rows)
    outgrows the driver-write cap (CAP // 2) and goes to the distributed
    write, so the refresh finalizes classically; the next refresh rebuilds
    the summaries."""
    sql = TOPK.format(days=10, m=5)
    n = _nows(spark, 9, 8 * HOUR, 2)
    later = [n[1] + 7 * DAY, n[1] + 7 * DAY + 8 * HOUR]
    tiers = _run(spark, qc, sql, n + later)
    assert tiers[1:] == ["bucket_topk", "classic", "bucket_topk"]
    assert any("distributed write" in m for m in _messages(qc))


def test_nan_order_key_falls_back(spark, qc, layered):
    """A NaN in a float ORDER BY key: pyarrow would order it unlike Spark
    (NaN greatest), so the refresh refuses and finalizes classically."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
        "max(CASE WHEN event_id % 5 = 0 THEN CAST('NaN' AS DOUBLE) "
        "ELSE value END) AS mx FROM events "
        "WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1, 2 "
        "ORDER BY mx DESC, dd, k LIMIT 5"
    )
    tiers = _run(spark, qc, sql, _nows(spark, 6, 8 * HOUR, 4))
    assert tiers[1:] == ["classic"] * 3
    assert any("NaN" in m and "refused" in m for m in _messages(qc))


def test_non_total_order_refused(spark, qc, layered):
    """ORDER BY without every group key: the per-bucket cut could drop a
    row the global cut keeps among ties, so the refresh stays classic."""
    sql = TOPK.format(days=10, m=5).replace("ORDER BY n DESC, dd, k", "ORDER BY n DESC, dd")
    qc.config.override_now_ns = _nows(spark, 6, 0, 1)[0]
    qc.sql(sql).collect()
    qc.config.override_now_ns += 8 * HOUR
    qc.sql(sql).collect()
    assert qc.last_decision.refresh_tier == "classic"
    assert any("not total" in m for m in _messages(qc))


def test_hot_reload_after_bucket_topk_is_memo_hit(spark, qc, layered):
    """A re-read at the same now after a bucket_topk refresh is a result
    memo hit with no Spark job, rows in order equal to plain Spark."""
    sql = TOPK.format(days=10, m=5)
    n = _nows(spark, 6, 8 * HOUR, 2)
    assert _run(spark, qc, sql, n)[1] == "bucket_topk"
    got = qc.sql(sql)
    assert qc.last_decision.served_from_memo
    sc = spark.sparkContext
    sc.setJobGroup("qc-bucket-topk", "qc-bucket-topk")
    try:
        rows = _rows(got)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("qc-bucket-topk") == []
    assert rows == _plain_at(spark, sql, n[1])
