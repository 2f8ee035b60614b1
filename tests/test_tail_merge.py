"""Tail-only warm merge of a big (layered, bucket-partitioned) state.

A warm refresh of a state over the driver-collect cap merges its fresh
rows into the stored buckets ``>= lo`` only (``lo`` = the old watermark's
bucket), read from the layers that reach ``lo``: every fresh row's bucket
is ``>= lo`` and the merge groups on the bucket, so that merge is exactly
the tail the layered store keeps. Every case lowers the collect cap so
``events`` (1,000 rows over 30 days, ~210 state rows at 7 keys a day)
takes the layered path, and compares each refresh with plain Spark as-of
``now``. The fallbacks (the tail store declining or failing) must store
the FULL merged state, never the tail merge.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

CAP = 80  # state (~210 rows) over it, a 1–2 day tail (7–14 rows) under CAP // 2
DAY = 24 * 3600 * 10**9
HOUR = 3600 * 10**9

STATIC = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
    "count(*) AS n, sum(value) AS s FROM events WHERE ts > {lo} GROUP BY 1, 2"
)
DYN = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
    "count(*) AS n, max(value) AS mx FROM events "
    "WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1, 2"
)
DYN_TOPK = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
    "count(*) AS n FROM events WHERE ts > now() - INTERVAL 10 DAY "
    "GROUP BY 1, 2 ORDER BY n DESC, dd, k LIMIT 5"
)
DYN_HOURLY = (
    "SELECT date_trunc('hour', ts) AS hh, count(*) AS n FROM events "
    "WHERE ts > now() - INTERVAL 3 DAY GROUP BY 1"
)


@pytest.fixture()
def layered(monkeypatch):
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", CAP)
    return _ParquetEntry


def _ts_lit(ns: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ns // 1000)
    return f"TIMESTAMP '{t.isoformat(sep=' ')}'"


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def _rows(df):
    return sorted(
        (tuple(_norm(v) for v in r) for r in df.collect()), key=repr
    )


def _plain_at(spark, sql: str, now_ns: int):
    lit = _ts_lit(now_ns)
    sql = sql.replace("now()", lit).replace("WHERE ", f"WHERE ts < {lit} AND ", 1)
    return _rows(spark.sql(sql))


def _static_sql(spark):
    mn = spark.table("events").agg(F.min("ts")).collect()[0][0]
    return STATIC.format(lo=f"TIMESTAMP '{mn + dt.timedelta(days=3)}'")


def _nows(spark, start_days_back: float, step_ns: int, n: int):
    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    base = mx // 10**6 * 10**6  # µs-exact for the plain-Spark literal
    first = base - int(start_days_back * DAY)
    return [first + i * step_ns for i in range(n)]


def _entry(qc):
    return qc.config.cache.entry(qc.last_decision.fingerprint)


def _spy_full_reads(monkeypatch, cls):
    """Count whole-state reads (``state_df``) during refreshes."""
    calls = []
    orig = cls.state_df

    def spy(self, spark):
        calls.append(self._fp)
        return orig(self, spark)

    monkeypatch.setattr(cls, "state_df", spy)
    return calls


def _refresh_all(spark, qc, sql, nows, full_reads=None):
    """Each run exact vs plain Spark as-of its now; returns per-refresh
    (tier, layer count) after the cold load."""
    out = []
    for i, now in enumerate(nows):
        qc.config.override_now_ns = now
        n_reads = len(full_reads) if full_reads is not None else 0
        got = _rows(qc.sql(sql))
        assert got == _plain_at(spark, sql, now), (sql, i)
        if i:
            assert qc.last_decision.cache_hit
            if full_reads is not None:
                # the tail-only merge never reads the whole state
                assert len(full_reads) == n_reads, (sql, i)
            out.append(
                (qc.last_decision.refresh_tier, _entry(qc).layer_count())
            )
    return out


@pytest.mark.parametrize("shape", ["static", "dynamic", "dynamic_topk", "hourly"])
def test_tail_merge_exact_over_live_layers(spark, qc, layered, monkeypatch, shape):
    """Static and dynamic shapes refreshed every 20 hours: each refresh
    adds a layer (three or more live at the end), merges over the tail
    alone, and stays exact."""
    sql = {
        "static": _static_sql(spark),
        "dynamic": DYN,
        "dynamic_topk": DYN_TOPK,
        "hourly": DYN_HOURLY,
    }[shape]
    reads = _spy_full_reads(monkeypatch, layered)
    res = _refresh_all(spark, qc, sql, _nows(spark, 6, 20 * HOUR, 7), reads)
    assert max(n for _, n in res) >= 3, res
    tails = [m for m in qc.config.log.messages() if "bucket-tail layer" in m]
    assert len(tails) == 6, tails
    want = "bucket_topk" if shape == "dynamic_topk" else "classic"
    assert [t for t, _ in res] == [want] * 6


def test_tail_merge_through_a_layer_fold(spark, qc, layered, monkeypatch):
    """With the layer cap lowered to 3, refreshes fold a layer pair inside
    the tail store; the tail merge stays exact through every fold."""
    monkeypatch.setattr(layered, "BPARTS_COMPACT_AT", 3)
    folds = []
    orig = layered._merge_layer_pair

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        folds.append(out is not None)
        return out

    monkeypatch.setattr(layered, "_merge_layer_pair", spy)
    for sql in (_static_sql(spark), DYN):
        res = _refresh_all(spark, qc, sql, _nows(spark, 8, 20 * HOUR, 8))
        assert all(n <= 3 for _, n in res), res
    assert folds.count(True) >= 4, folds


def test_tail_merge_overflow_to_distributed_write(spark, qc, layered, monkeypatch):
    """A tail the driver write refuses goes to the distributed write; the
    tail merge feeds it just the same."""
    monkeypatch.setattr(layered, "_write_tail_driver", lambda self, *a: False)
    for sql in (_static_sql(spark), DYN_TOPK):
        res = _refresh_all(spark, qc, sql, _nows(spark, 6, 20 * HOUR, 4))
        assert [t for t, _ in res] == ["classic"] * 3


@pytest.mark.parametrize("how", ["declines", "raises", "raises_after_write"])
@pytest.mark.parametrize("shape", ["static", "dynamic"])
def test_tail_store_fallback_stores_full_state(
    spark, qc, layered, monkeypatch, how, shape
):
    """``put_bucket_tail`` declines (returns None: the full put compacts)
    or raises once. The fallback must build the full merge and store the
    WHOLE state: its row count is every group as of now, and the next
    refresh is exact. Storing the tail merge instead loses every bucket
    below the tail. A store that raises after its layer was written keeps
    that write and does not merge the fresh rows a second time."""
    sql = _static_sql(spark) if shape == "static" else DYN
    nows = _nows(spark, 6, 20 * HOUR, 5)
    _refresh_all(spark, qc, sql, nows[:2])
    orig = layered.put_bucket_tail
    fired = []

    def once(self, *a, **k):
        if fired:
            return orig(self, *a, **k)
        fired.append(how)
        if how == "declines":
            return None
        if how == "raises_after_write":
            orig(self, *a, **k)
        raise RuntimeError("injected tail store failure")

    monkeypatch.setattr(layered, "put_bucket_tail", once)
    qc.config.override_now_ns = nows[2]
    assert _rows(qc.sql(sql)) == _plain_at(spark, sql, nows[2])
    assert fired == [how]
    entry = _entry(qc)
    group_sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k "
        f"FROM events WHERE ts < {_ts_lit(nows[2])}"
    )
    if shape == "static":
        group_sql += f" AND {sql.split('WHERE ', 1)[1].split(' GROUP', 1)[0]}"
    n_groups = spark.sql(group_sql).distinct().count()
    assert entry.get(spark).count() == n_groups
    if how != "raises_after_write":
        assert entry.state_rows() == n_groups
        assert entry.layer_count() == 0  # the full put wrote one dir
    _refresh_all(spark, qc, sql, nows[3:])


@pytest.fixture()
def full_plan_strings(spark):
    """Plan strings print scan metadata (PushedFilters, Location) cut at
    100 characters by default; lift the cut for the plan checks."""
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    yield
    spark.conf.set(key, old)


def test_one_filter_plans_keep_pushdown(
    spark, tmp_path, monkeypatch, full_plan_strings
):
    """Pushdown survives the one-filter bounds on a date-partitioned
    source: the cold load's scan, a classic warm refresh's fresh scan and
    its boundary-bucket scan each keep the ts bounds in PushedFilters and
    the d bounds in PartitionFilters; the tail collect reads only the tail
    layer's directory."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", CAP)
    path = str(tmp_path / "events_part")
    spark.table("events").withColumn("d", F.to_date("ts")).write.partitionBy(
        "d"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("events_part_tm")
    root = str(tmp_path / "pc")
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(root), temporal_partition_columns={"ts": "d"}
        ),
    )
    tail_plans = []
    orig = _ParquetEntry._write_tail_driver

    def spy(self, tail, bcol, p, cap):
        layer = (self._meta.get("bparts") or [self._meta.get("state")])[-1]
        plan = tail._jdf.queryExecution().executedPlan().toString()
        tail_plans.append((layer, plan))
        return orig(self, tail, bcol, p, cap)

    monkeypatch.setattr(_ParquetEntry, "_write_tail_driver", spy)

    def src_scans(plan: str):
        """(PushedFilters, PartitionFilters) of each events_part scan."""
        out = []
        for seg in plan.split("FileScan parquet")[1:]:
            seg = seg.split("\n", 1)[0]
            if "events_part" not in seg:
                continue
            pushed = seg.split("PushedFilters: [", 1)[1].split("]", 1)[0]
            parts = seg.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
            out.append((pushed, parts))
        return out

    def assert_bounded(plan: str, lower: bool):
        scans = src_scans(plan)
        assert scans, plan
        for pushed, parts in scans:
            assert "LessThan(ts," in pushed, pushed
            assert "d#" in parts and "<=" in parts, parts
            if lower:
                assert "GreaterThanOrEqual(ts," in pushed, pushed
                assert ">=" in parts, parts

    sql = DYN.replace("FROM events ", "FROM events_part_tm ")
    nows = _nows(spark, 6, 20 * HOUR, 3)
    qc.config.override_now_ns = nows[0]
    qc.sql(sql).collect()
    assert not qc.last_decision.cache_hit
    assert_bounded(
        qc.last_refresh_df._jdf.queryExecution().executedPlan().toString(),
        lower=False,
    )
    for now in nows[1:]:
        qc.config.override_now_ns = now
        got = qc.sql(sql)
        assert qc.last_decision.refresh_tier == "classic"
        assert _rows(got) == _plain_at(spark, sql, now)
        # the fresh scan of the tail merge
        assert_bounded(
            qc.last_refresh_df._jdf.queryExecution().executedPlan().toString(),
            lower=True,
        )
        # the boundary-bucket scan, in the lazily finalized result
        assert_bounded(
            got._jdf.queryExecution().executedPlan().toString(), lower=True
        )
    assert len(tail_plans) == 2
    for layer, plan in tail_plans:
        state_scans = [
            seg.split("\n", 1)[0]
            for seg in plan.split("FileScan parquet")[1:]
            if root in seg.split("\n", 1)[0]
        ]
        assert len(state_scans) == 1, state_scans
        assert f"/{layer}]" in state_scans[0] or f"/{layer}," in state_scans[0], (
            layer,
            state_scans,
        )
