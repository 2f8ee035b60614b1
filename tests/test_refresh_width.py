"""Refresh-shuffle narrowing must be gated by source size (r9 verdict #1).

The r9 regression: the refresh pinned ``spark.sql.shuffle.partitions=2``
+ AQE off unconditionally — an sf0.1-calibrated constant that DOUBLED the
x1000 dynamic warm refresh (A/B: 0.53s at width 8 vs 1.03s at width 2).
The fix gates narrowing on the summed on-disk bytes of the query's source
tables, knowable only for sources registered through
``register_parquet_view``; everything else keeps the session's own shuffle
settings and AQE coalescing — the plan that survives a 100× scale-up.
A narrowed refresh collects on the width-2 AQE-off clone session, never by
changing the caller's session conf.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass
from typing import Tuple

import pytest

from datafusion_query_cache_spark import tiers
from tests.conftest import rows_set

SF_DIR = os.environ.get("QC_TEST_SF_DIR", "/root/testdata/sf0.001")


@dataclass
class _FakeSpec:
    table: str
    tables: Tuple[str, ...] = ()


def test_narrow_ok_registered_small_source(qc_mem):
    # `events` is registered through register_parquet_view by conftest and
    # is far under the 64 MB gate at sf0.001
    assert qc_mem._narrow_refresh_ok(_FakeSpec("events")) is True


def test_no_narrow_unregistered_source(spark, qc_mem):
    # a raw temp view (bench's x100/x1000 tables take this path) has no
    # registry entry — size unknowable, so the session settings stay
    spark.range(10).createOrReplaceTempView("qc_unregistered_v")
    assert qc_mem._narrow_refresh_ok(_FakeSpec("qc_unregistered_v")) is False


def test_no_narrow_over_byte_gate(qc_mem, monkeypatch):
    monkeypatch.setattr(tiers, "REFRESH_NARROW_MAX_BYTES", 1)  # all too big
    qc_mem._src_bytes_memo.clear()
    assert qc_mem._narrow_refresh_ok(_FakeSpec("events")) is False


def test_no_narrow_when_disabled(qc_mem, monkeypatch):
    monkeypatch.setattr(tiers, "REFRESH_NARROW_MAX_BYTES", 0)
    assert qc_mem._narrow_refresh_ok(_FakeSpec("events")) is False


def test_join_spec_sums_all_tables(qc_mem, monkeypatch):
    # multi-table (star-join) spec: gate applies to the SUM of all sources
    spec = _FakeSpec("events", tables=("events", "nation"))
    assert qc_mem._narrow_refresh_ok(spec) is True
    ev = os.path.getsize(os.path.join(SF_DIR, "events.parquet"))
    # nation tips it over
    monkeypatch.setattr(tiers, "REFRESH_NARROW_MAX_BYTES", ev + 1)
    qc_mem._src_bytes_memo.clear()
    assert qc_mem._narrow_refresh_ok(spec) is False


def test_narrowed_refresh_never_changes_caller_conf(spark, tmp_path, monkeypatch):
    """A narrowed lite refresh on `events` collects on the width-2 AQE-off
    clone, while the caller's session reads its own confs throughout."""
    from pyspark.sql import functions as F

    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    own = {k: spark.conf.get(k) for k in keys}
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
        "FROM events WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1"
    )
    # nano off: the refresh takes the Spark-job lite tier
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "qc")),
            default_temporal_column="ts",
            nano_refresh_max_bytes=0,
        ),
    )
    mx_ns = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    day = 24 * 3600 * 1_000_000_000
    qc.config.override_now_ns = mx_ns - 3 * day
    qc.sql(sql).collect()

    collects = []
    inside = []
    frame_cls = type(spark.range(1))  # the classic DataFrame implementation
    real_to_arrow = frame_cls.toArrow
    real_refresh = qc._refresh_to_arrow

    def spy_to_arrow(df):
        if inside:
            collects.append(
                (
                    {k: spark.conf.get(k) for k in keys},
                    df.sparkSession is spark,
                    {k: df.sparkSession.conf.get(k) for k in keys},
                )
            )
        return real_to_arrow(df)

    def spy_refresh(*a, **kw):
        inside.append(1)
        try:
            return real_refresh(*a, **kw)
        finally:
            inside.pop()

    monkeypatch.setattr(frame_cls, "toArrow", spy_to_arrow)
    monkeypatch.setattr(qc, "_refresh_to_arrow", spy_refresh)
    now_ns = mx_ns - day
    qc.config.override_now_ns = now_ns
    got = qc.sql(sql)
    assert qc.last_decision.refresh_tier == "lite"
    assert len(collects) == 1
    parent_confs, on_parent, run_confs = collects[0]
    assert parent_confs == own
    assert not on_parent
    assert run_confs == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "2",
    }
    assert {k: spark.conf.get(k) for k in keys} == own

    lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now_ns // 1000)
    lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
    plain = spark.sql(
        sql.replace("now()", lit).replace("WHERE ", f"WHERE ts < {lit} AND ", 1)
    )
    assert rows_set(got) == rows_set(plain)


def test_strict_errors_mode_raises(spark, qc_mem, monkeypatch):
    """strict_errors (r9 ADVICE): an unexpected engine fault raises
    instead of silently degrading to passthrough."""
    qc_mem.config.strict_errors = True

    def boom(*a, **k):
        raise RuntimeError("injected engine fault")

    monkeypatch.setattr(qc_mem, "_plan_cached", boom)
    with pytest.raises(RuntimeError, match="injected engine fault"):
        qc_mem.sql("SELECT count(*) AS n FROM events")

    qc_mem.config.strict_errors = False
    out = qc_mem.sql("SELECT count(*) AS n FROM events")  # degrades
    assert out.collect()[0]["n"] > 0
    assert qc_mem.last_decision.cached is False
    assert "engine error" in (qc_mem.last_decision.reason or "")


def test_session_memos_bounded(spark, qc_mem):
    """Standing-session driver-memory hygiene: the spec/plan memos clear
    past _MEMO_MAX instead of growing with every distinct ad-hoc query."""
    qc_mem._MEMO_MAX = 5
    for i in range(12):
        qc_mem.sql(
            f"SELECT event_type, count(*) AS n FROM events "
            f"WHERE value > {i} GROUP BY 1"
        ).collect()
    assert len(qc_mem._spec_cache) <= 5
    assert len(qc_mem._plan_cache) <= 5
    # correctness unaffected by a memo clear: re-run an evicted shape
    out = qc_mem.sql(
        "SELECT event_type, count(*) AS n FROM events WHERE value > 0 GROUP BY 1"
    )
    assert out.count() > 0 and qc_mem.last_decision.cached
