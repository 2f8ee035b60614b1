"""Cold loads on the nano tier.

A cache miss over a bytes-gated source registered through
``register_parquet_view`` runs the nano program over the whole history
with an empty starting state, instead of the classic compute-and-store
Spark jobs. It must be invisible in everything but cost: the result rows,
the stored state rows and the stored state schema equal a classic cold
load's (``nano_refresh_max_bytes=0``), the rows equal plain Spark, and
the next refresh still rides nano. Every refusal falls back to the
classic miss exactly.
"""

from __future__ import annotations

import datetime as dt
import math
import uuid

import pytest

DAY = 24 * 3600 * 1_000_000_000
T = "nc_events"

#: the four ``small_dashboard`` panel shapes (perfbench/workloads.py);
#: ``{asof}`` is empty for the cached query and ``AND ts < <now>`` for
#: the plain twin, ``{lo}`` the dynamic lower bound
PANELS = {
    "flagship": (
        "SELECT date_trunc('hour', ts) AS bucket, avg(value) AS avg_value, "
        "min(value) AS min_value, max(value) AS max_value, count(*) AS n "
        "FROM {t} WHERE event_type = 'view' "
        "AND ts > TIMESTAMP '2024-01-03'{asof} "
        "GROUP BY bucket ORDER BY bucket DESC"
    ),
    "daily_window": (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
        "FROM {t} WHERE ts > {lo}{asof} GROUP BY 1"
    ),
    "topk": (
        "SELECT event_id, value FROM {t} WHERE event_type = 'click'{asof} "
        "ORDER BY value DESC, event_id LIMIT 50"
    ),
    "moving_avg": (
        "SELECT dd, n, round(avg(n) OVER (ORDER BY dd ROWS BETWEEN 6 "
        "PRECEDING AND CURRENT ROW) + 1e-9, 2) AS ma7 FROM (SELECT "
        "CAST(date_trunc('day', ts) AS DATE) AS dd, count(*) AS n FROM {t} "
        "WHERE event_type <> 'error'{asof} GROUP BY 1) t ORDER BY dd"
    ),
}


def _lit(now_ns: int) -> str:
    # an instant, not a wall-clock string: the same in every session tz
    return f"timestamp_micros({now_ns // 1000})"


def _cached_sql(panel: str, t: str = T) -> str:
    return PANELS[panel].format(t=t, asof="", lo="now() - INTERVAL 10 DAY")


def _plain_sql(panel: str, now_ns: int, t: str = T) -> str:
    return PANELS[panel].format(
        t=t, asof=f" AND ts < {_lit(now_ns)}", lo=_lit(now_ns - 10 * DAY)
    )


def _write_events(path: str, n: int = 3000, seed: int = 11, extra=()):
    """An events-like parquet: µs timestamps over 30 days of 2024-01,
    five event types, 2% NULL values; ``extra`` rows are appended as
    (ts datetime, event_type, value)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    ts = np.sort(base_us + rng.integers(0, 30 * DAY // 1000, n))
    value = np.round(rng.normal(100.0, 50.0, n), 2).tolist()
    for i in np.nonzero(rng.random(n) < 0.02)[0]:
        value[i] = None
    kinds = np.array(["click", "view", "purchase", "signup", "error"])
    et = kinds[rng.integers(0, 5, n)].tolist()
    ts_l = [dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(u)) for u in ts]
    for ts_x, et_x, v_x in extra:
        ts_l.append(ts_x)
        et.append(et_x)
        value.append(v_x)
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(ts_l)), pa.int64()),
            "ts": pa.array(ts_l, pa.timestamp("us")),
            "event_type": pa.array(et, pa.string()),
            "value": pa.array(value, pa.float64()),
        }
    )
    pq.write_table(tbl, path, row_group_size=500)
    return path


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    p = _write_events(str(tmp_path_factory.mktemp("nc") / "events.parquet"))
    register_parquet_view(spark, T, p)
    return p


@pytest.fixture()
def now_ns():
    # 2024-01-25 00:00:00.000001: mid-history, µs-exact for the plain twin
    return 1_706_140_800_000_000_000 + 1000


def _mk_qc(spark, tmp_path, now, **cfg_kw):
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        HistoryLog,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    cfg = QueryCacheConfig(
        cache=ParquetQueryCache(str(tmp_path / f"qc-{uuid.uuid4().hex[:8]}")),
        default_temporal_column="ts",
        override_now_ns=now,
        log=HistoryLog(),
        strict_errors=True,
        **cfg_kw,
    )
    return CachedSparkSession(spark, cfg)


def _cold(spark, tmp_path, sql, now, **cfg_kw):
    """One cold load: (session, rows in order, decision, Spark jobs run by
    the ``sql()`` call and the collect, entry)."""
    qc = _mk_qc(spark, tmp_path, now, **cfg_kw)
    sc = spark.sparkContext
    group = f"qc-nano-cold-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        rows = [tuple(r) for r in qc.sql(sql).collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    d = qc.last_decision
    return qc, rows, d, jobs, qc.config.cache.entry(d.fingerprint)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _same_rows(xs, ys) -> bool:
    """Equal as multisets, floats within 1e-9 (pyarrow and Spark sum in
    different orders)."""
    key = lambda r: tuple((v is None, repr(v) if isinstance(v, float) else v) for v in r)  # noqa: E731
    xs, ys = sorted(xs, key=key), sorted(ys, key=key)
    return len(xs) == len(ys) and all(
        len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y))
        for x, y in zip(xs, ys)
    )


def rows_set_eq(rows, df_rows) -> bool:
    return _same_rows(rows, [tuple(r) for r in df_rows])


def _state_rows(entry):
    tbl = entry.get_arrow()
    assert tbl is not None
    return [tuple(r.values()) for r in tbl.to_pylist()]


@pytest.mark.parametrize("panel", list(PANELS))
def test_nano_cold_equals_classic_cold(spark, tmp_path, events, now_ns, panel):
    sql = _cached_sql(panel)
    qc, rows, d, jobs, entry = _cold(spark, tmp_path, sql, now_ns)
    _, c_rows, c_d, c_jobs, c_entry = _cold(
        spark, tmp_path, sql, now_ns, nano_refresh_max_bytes=0
    )
    # tiers: nano on the miss, the classic miss with the tier disabled
    assert d.cached and not d.cache_hit and d.refresh_tier == "nano"
    assert c_d.cached and not c_d.cache_hit and c_d.refresh_tier is None
    # same answer as the classic miss and as plain Spark, same order
    assert _same_rows(rows, c_rows)
    if "ORDER BY" in sql:
        assert [r[0] for r in rows] == [r[0] for r in c_rows]
    plain = [tuple(r) for r in spark.sql(_plain_sql(panel, now_ns)).collect()]
    assert _same_rows(rows, plain)
    # same stored state, same stored schema
    assert entry.watermark_ns == c_entry.watermark_ns == now_ns
    assert entry.state_schema() == c_entry.state_schema()
    assert _same_rows(_state_rows(entry), _state_rows(c_entry))
    # the driver-only panels run no Spark job at all
    if panel in ("daily_window", "topk"):
        assert jobs == 0, jobs
    assert jobs < c_jobs
    # the durable donor tags are written as on the classic miss
    tags = qc.config.cache.tags("filter_spec" if panel == "topk" else "agg_spec")
    assert (d.fingerprint in tags) == (panel != "daily_window")
    # the next refresh still rides nano, exact
    nxt = now_ns + DAY
    qc.config.override_now_ns = nxt
    got = [tuple(r) for r in qc.sql(sql).collect()]
    assert qc.last_decision.cache_hit and qc.last_decision.refresh_tier == "nano"
    want = [tuple(r) for r in spark.sql(_plain_sql(panel, nxt)).collect()]
    assert _same_rows(got, want)


def test_plain_temp_view_builds_no_nano_program(spark, tmp_path, events, now_ns, monkeypatch):
    """A view not registered through register_parquet_view never reaches
    the nano builders: the gate is a pure-Python registry lookup."""
    from datafusion_query_cache_spark import nano

    calls = []
    real = nano.build_nano_program
    monkeypatch.setattr(
        nano, "build_nano_program", lambda *a, **k: calls.append(a) or real(*a, **k)
    )
    spark.read.parquet(events).createOrReplaceTempView("nc_plain")
    sql = _cached_sql("flagship", "nc_plain")
    _, rows, d, _, _ = _cold(spark, tmp_path, sql, now_ns)
    assert calls == []
    assert d.cached and d.refresh_tier is None
    plain = spark.sql(_plain_sql("flagship", now_ns, "nc_plain")).collect()
    assert rows_set_eq(rows, plain)


def test_view_replaced_under_registered_name_falls_back(spark, tmp_path, events, now_ns):
    """A registered name later replaced by another view (a filtered
    subset) must not be answered from the registered files."""
    from pyspark.sql import functions as F

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    full = register_parquet_view(spark, "nc_sub", events)
    full.filter(F.col("event_id") % 2 == 0).createOrReplaceTempView("nc_sub")
    try:
        for panel in ("daily_window", "topk"):
            sql = _cached_sql(panel, "nc_sub")
            _, rows, d, _, _ = _cold(spark, tmp_path, sql, now_ns)
            assert d.refresh_tier is None, panel
            plain = spark.sql(_plain_sql(panel, now_ns, "nc_sub")).collect()
            assert rows_set_eq(rows, plain), panel
    finally:
        register_parquet_view(spark, "nc_sub", events)


def test_non_utc_session_falls_back(spark, tmp_path, events, now_ns):
    sql = _cached_sql("flagship")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    try:
        _, rows, d, _, entry = _cold(spark, tmp_path, sql, now_ns)
        _, c_rows, _, _, c_entry = _cold(
            spark, tmp_path, sql, now_ns, nano_refresh_max_bytes=0
        )
        plain = spark.sql(_plain_sql("flagship", now_ns)).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert d.cached and d.refresh_tier is None
    assert rows == c_rows
    assert rows_set_eq(rows, plain)
    assert entry.state_schema() == c_entry.state_schema()


def test_state_over_collect_cap_falls_back(spark, tmp_path, events, now_ns, monkeypatch):
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", 20)
    sql = _cached_sql("flagship")
    qc, rows, d, _, _ = _cold(spark, tmp_path, sql, now_ns)
    assert d.cached and d.refresh_tier is None
    assert any("collect cap" in r.message for r in qc.config.log.history())
    plain = spark.sql(_plain_sql("flagship", now_ns)).collect()
    assert rows_set_eq(rows, plain)


def _register_pre1970(spark, tmp_path, name: str, unit: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    p = _write_events(
        str(tmp_path / f"{name}.parquet"), n=500, seed=3,
        extra=[(dt.datetime(1969, 12, 31, 22, 30), "click", 7.5),
               (dt.datetime(1969, 12, 31, 23, 59, 59, 999999), "view", 8.25)],
    )
    if unit == "ns":
        tbl = pq.read_table(p)
        i = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("ns")))
        pq.write_table(tbl, p)
    register_parquet_view(spark, name, p)


def test_ns_source_with_pre_1970_row_falls_back(spark, tmp_path, now_ns):
    _register_pre1970(spark, tmp_path, "nc_ns_old", "ns")
    sql = _cached_sql("daily_window", "nc_ns_old").replace("10 DAY", "20000 DAY")
    qc, rows, d, _, _ = _cold(spark, tmp_path, sql, now_ns)
    assert d.cached and d.refresh_tier is None
    assert any("negative epoch" in r.message for r in qc.config.log.history())
    plain = spark.sql(
        _plain_sql("daily_window", now_ns, "nc_ns_old").replace(
            _lit(now_ns - 10 * DAY), _lit(now_ns - 20000 * DAY)
        )
    ).collect()
    assert rows_set_eq(rows, plain)
    assert dt.date(1969, 12, 31) in {r[0] for r in rows}


def test_us_source_with_pre_1970_row_rides_nano(spark, tmp_path, now_ns):
    """No lower scan bound on a cold load: the pre-1970 rows of a µs
    source are in the state, bucketed by floor like Spark's date_trunc."""
    _register_pre1970(spark, tmp_path, "nc_us_old", "us")
    for panel in ("flagship", "moving_avg", "topk"):
        sql = _cached_sql(panel, "nc_us_old").replace("2024-01-03", "1969-12-31")
        _, rows, d, _, entry = _cold(spark, tmp_path, sql, now_ns)
        _, c_rows, _, _, c_entry = _cold(
            spark, tmp_path, sql, now_ns, nano_refresh_max_bytes=0
        )
        assert d.refresh_tier == "nano", panel
        assert _same_rows(rows, c_rows), panel
        plain = spark.sql(
            _plain_sql(panel, now_ns, "nc_us_old").replace("2024-01-03", "1969-12-31")
        ).collect()
        assert rows_set_eq(rows, plain), panel
        assert _same_rows(_state_rows(entry), _state_rows(c_entry)), panel
        if panel == "moving_avg":
            assert rows[0][0] == dt.date(1969, 12, 31)


def test_topk_memo_hot_read_builds_no_predicate(spark, tmp_path, events, now_ns, monkeypatch):
    """A top-k hot read served from the result memo looks the memo up
    before compiling the predicate or building the source frame."""
    from datafusion_query_cache_spark import session

    sql = _cached_sql("topk")
    qc = _mk_qc(spark, tmp_path, now_ns)
    first = [tuple(r) for r in qc.sql(sql).collect()]
    calls = []
    real = session.to_column
    monkeypatch.setattr(
        session, "to_column", lambda *a, **k: calls.append(a) or real(*a, **k)
    )
    again = [tuple(r) for r in qc.sql(sql).collect()]
    assert qc.last_decision.served_from_memo
    assert calls == []
    assert again == first


def test_global_aggregate_cold_loads(spark, tmp_path, events, now_ns):
    """A global aggregate rides nano when rows exist; over an empty
    window its state is the one (count 0, sum NULL) row only the Spark
    partial aggregate makes, so the classic miss serves it."""
    for where, tier in (("value > 50", "nano"), ("ts > TIMESTAMP '2030-01-01'", None)):
        sql = f"SELECT count(*) AS n, sum(value) AS s FROM {T} WHERE {where}"
        qc, rows, d, _, _ = _cold(spark, tmp_path, sql, now_ns)
        _, c_rows, _, _, _ = _cold(spark, tmp_path, sql, now_ns, nano_refresh_max_bytes=0)
        assert d.refresh_tier == tier, where
        assert _same_rows(rows, c_rows), where
        assert len(rows) == 1
        qc.config.override_now_ns = now_ns + DAY
        got = [tuple(r) for r in qc.sql(sql).collect()]
        assert qc.last_decision.refresh_tier == "nano", where
        want = spark.sql(f"{sql} AND ts < {_lit(now_ns + DAY)}").collect()
        assert rows_set_eq(got, want), where
