"""Nano + lite dynamic-refresh tier tests.

The tier ladder (nano → lite → classic) must be
invisible in RESULTS: every tier answers exactly what plain Spark SQL
answers with now() pinned to the same literal. These tests pin the tier
taken (``decision.refresh_tier``) AND the values, across agg shapes,
source time-units, interval arithmetic, and every admission fallback.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, rows_set


def _mk_qc(spark, tmp_path, **cfg_kw):
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        HistoryLog,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    cfg = QueryCacheConfig(
        cache=ParquetQueryCache(str(tmp_path / "qc-nano-cache")),
        default_temporal_column="ts",
        log=HistoryLog(),
        **cfg_kw,
    )
    return CachedSparkSession(spark, cfg)


@pytest.fixture()
def now_points(spark):
    """Four advancing now instants: mid-history (genuine fresh data each
    refresh), including one boundary-bucket-edge-aligned instant."""
    mx_ns = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    day = 24 * 3600 * 1_000_000_000
    base = mx_ns - 5 * day
    # strictly ascending (now is wall-clock monotone); the third instant is
    # an exact µs-aligned midnight — a boundary-bucket edge case
    edge = ((base + day // 3) // day + 1) * day
    return [base, base + day // 3, edge, edge + day + 12345]


def _plain(spark, sql: str, now_ns: int):
    lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now_ns // 1000)
    lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
    s = sql.replace("now()", lit)
    return spark.sql(s.replace("WHERE ", f"WHERE ts < {lit} AND ", 1))


DAILY_SQL = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n, "
    "round(sum(value), 2) AS s, min(value) AS mn, max(value) AS mx, "
    "round(avg(value), 3) AS av, count(value) AS nv "
    "FROM events WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1 ORDER BY 1"
)


def _drive(spark, qc, sql, now_points, want_tier):
    """Miss at the first instant, then warm refreshes at the rest; every
    result must equal plain with the pinned literal, on the wanted tier."""
    tiers = []
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain(spark, sql, now_ns)), (
            f"refresh {i} diverged at now={now_ns}"
        )
        if i > 0:
            assert qc.last_decision.cache_hit
            tiers.append(qc.last_decision.refresh_tier)
    assert tiers == [want_tier] * (len(now_points) - 1), tiers


def test_nano_daily_matches_plain(spark, tmp_path, now_points):
    qc = _mk_qc(spark, tmp_path)
    _drive(spark, qc, DAILY_SQL, now_points, "nano")


def test_nano_gte_op_and_plain_group(spark, tmp_path, now_points):
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type, "
        "count(*) AS n FROM events "
        "WHERE ts >= now() - INTERVAL 8 DAY GROUP BY 1, 2 ORDER BY 1, 2"
    )
    qc = _mk_qc(spark, tmp_path)
    _drive(spark, qc, sql, now_points, "nano")


def test_nano_month_interval(spark, tmp_path, now_points):
    sql = (
        "SELECT CAST(date_trunc('week', ts) AS DATE) AS w, count(*) AS n "
        "FROM events WHERE ts > now() - INTERVAL 1 MONTH GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    _drive(spark, qc, sql, now_points, "nano")


def test_nano_zero_fresh_advances_watermark(spark, tmp_path, now_points):
    qc = _mk_qc(spark, tmp_path)
    qc.config.override_now_ns = now_points[0]
    qc.sql(DAILY_SQL).collect()
    # same now +1µs: zero fresh rows, boundary unchanged — still exact
    nxt = now_points[0] + 1000
    qc.config.override_now_ns = nxt
    got = qc.sql(DAILY_SQL)
    assert qc.last_decision.refresh_tier == "nano"
    assert qc.last_decision.fresh_rows_value == 0
    assert rows_set(got) == rows_set(_plain(spark, DAILY_SQL, nxt))


def test_lite_tier_on_predicate(spark, tmp_path, now_points):
    """An OR-of-conditions predicate is outside the nano mask mirror; the
    lite tier (one plain-sized job + driver merge) must take it, exactly."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n, "
        "round(sum(value), 2) AS s FROM events "
        "WHERE (value > 10 OR event_type = 'click') "
        "AND ts > now() - INTERVAL 10 DAY "
        "GROUP BY 1 ORDER BY 1"
    )

    def plain(now_ns):
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        return spark.sql(
            sql.replace("now()", lit).replace(
                "WHERE ", f"WHERE ts < {lit} AND ", 1
            )
        )

    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(plain(now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "lite"


def test_byte_gate_forces_lite(spark, tmp_path, now_points):
    """nano_refresh_max_bytes=0 disables the driver tier: the 100 TB
    admission story — over-budget sources take the distributed path."""
    qc = _mk_qc(spark, tmp_path, nano_refresh_max_bytes=0)
    _drive(spark, qc, DAILY_SQL, now_points, "lite")


def test_classic_when_bucket_not_in_groups(spark, tmp_path, now_points):
    """Global aggregate: cross-bucket merge needed → classic program."""
    sql = (
        "SELECT count(*) AS n, min(value) AS mn, max(value) AS mx "
        "FROM events WHERE ts > now() - INTERVAL 6 DAY"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "classic"


@pytest.mark.parametrize("tier", ["nano", "lite", "classic"])
def test_date_cast_of_sub_day_bucket(spark, tmp_path, now_points, monkeypatch, tier):
    """A DATE cast of an hour truncation buckets by DAY. Its boundary
    bucket must be recomputed day-wide on every tier: with the hour
    granularity the recompute kept only the boundary hour's rows (the
    boundary day read 2 instead of 13) and a refresh dropped a day."""
    sql = (
        "SELECT CAST(date_trunc('hour', ts) AS DATE) AS dd, count(*) AS n "
        "FROM events WHERE ts > now() - INTERVAL 3 DAY GROUP BY 1"
    )
    kw = {}
    if tier == "lite":
        kw["nano_refresh_max_bytes"] = 0
    elif tier == "classic":
        from datafusion_query_cache_spark.cache import _ParquetEntry

        # state over the collect cap: the driver tiers never admit it
        monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", 2)
    qc = _mk_qc(spark, tmp_path, **kw)
    _drive(spark, qc, sql, now_points, tier)


def test_unregistered_source_falls_back(spark, tmp_path, now_points):
    """A view NOT registered through register_parquet_view (derivation
    unknown) must never take the nano tier."""
    from datafusion_query_cache_spark.sources.tables import LOCAL_PARQUET_SOURCES

    spark.table("events").createOrReplaceTempView("events_anon")
    saved = LOCAL_PARQUET_SOURCES.pop("events_anon", None)
    assert "events_anon" not in LOCAL_PARQUET_SOURCES
    sql = DAILY_SQL.replace("FROM events ", "FROM events_anon ")
    qc = _mk_qc(
        spark, tmp_path,
    )
    qc.config.extra_temporal_columns = frozenset()
    for i, now_ns in enumerate(now_points[:3]):
        qc.config.override_now_ns = now_ns
        qc.sql(sql).collect()
        if i > 0:
            assert qc.last_decision.refresh_tier == "lite"
    if saved is not None:
        LOCAL_PARQUET_SOURCES["events_anon"] = saved


def test_nano_ns_long_source(spark, tmp_path, now_points):
    """Epoch-ns parquet (nanosAsLong reads) keep exact ns semantics on the
    driver scan: rows with sub-µs offsets land on the right side of the
    watermark just as in the distributed path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    base = dt.datetime(2024, 3, 1)
    n = 5000
    ts_ns = (
        np.int64(1_709_251_200_000_000_000)  # 2024-03-01 UTC epoch-ns
        + rng.integers(0, 20 * 24 * 3600 * 1_000_000_000, n)
        + rng.integers(0, 1000, n)  # sub-µs offsets
    )
    tbl = pa.table(
        {
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "v": pa.array(rng.normal(50, 10, n)),
            "k": pa.array(rng.choice(["a", "b"], n)),
        }
    )
    p = str(tmp_path / "nsrc.parquet")
    pq.write_table(tbl, p)
    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    register_parquet_view(spark, "ns_events", p)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, k, count(*) AS n, "
        "round(sum(v), 2) AS s FROM ns_events "
        "WHERE ts > now() - INTERVAL 12 DAY GROUP BY 1, 2 ORDER BY 1, 2"
    )
    # µs-aligned now instants: a sub-µs now is exact on the engine's ns
    # axis but inexpressible in the plain twin's µs TIMESTAMP literal
    hi_ns = int(np.max(ts_ns)) // 1000 * 1000 + 1000
    day = 24 * 3600 * 1_000_000_000
    pts = [hi_ns - 4 * day, hi_ns - 2 * day + 17000, hi_ns - day, hi_ns]
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(pts):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace("now()", lit).replace(
                "WHERE ", f"WHERE ts < {lit} AND ", 1
            )
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_nano_ns_long_source_temporal_literal_exact(spark, tmp_path):
    """A static ``ts > TIMESTAMP L`` on an epoch-ns source: the view reads
    ``floor(ns / 1000)`` µs, so a row at ``L·1000 + 500`` ns is NOT
    ``> L`` in Spark, while a raw-ns pyarrow comparison would admit it.
    The nano builders refuse the folded literal on such a source; the
    answer must be exact on whichever tier serves it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_ns = 1_709_251_200_000_000_000  # 2024-03-01 UTC
    hour_ns = 3600 * 1_000_000_000
    ts_ns = [base_ns + i * hour_ns + 777 for i in range(24 * 6)]
    cut_us = (base_ns + 100 * hour_ns) // 1000 + 5  # L, in the fresh tail
    ts_ns += [cut_us * 1000 + 500, cut_us * 1000, cut_us * 1000 + 1000]
    tbl = pa.table(
        {
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "k": pa.array(["a", "b", "c"] * (len(ts_ns) // 3)),
        }
    )
    p = str(tmp_path / "nslit.parquet")
    pq.write_table(tbl, p)
    register_parquet_view(spark, "nslit_events", p)
    sql = (
        "SELECT k, count(*) AS n FROM nslit_events "
        f"WHERE ts > {_ts_lit(cut_us)} GROUP BY 1 ORDER BY 1"
    )
    pts = [base_ns + h * hour_ns for h in (90, 99, 101, 140)]
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(pts):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        expect = spark.sql(
            sql.replace("WHERE ", f"WHERE ts < {_ts_lit(now_ns // 1000)} AND ", 1)
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.cache_hit


def test_paper_headline_bare_string_bound_rides_nano(spark, tmp_path, now_points):
    """The paper's headline query shape (``… WHERE symbol = 'AAPL' AND
    timestamp > '2000-01-01'``): a BARE string bound on the temporal
    column, which Spark casts implicitly. Folded to an exact instant, it
    refreshes on the nano tier from the first refresh, with no failed
    warm path behind it, and answers exactly."""
    sql = (
        "SELECT max(value) AS mx, count(*) AS n FROM events "
        "WHERE event_type = 'click' AND ts > '2024-01-03'"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(
            _plain_static(spark, sql, now_ns)
        ), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.cache_hit
            assert qc.last_decision.refresh_tier == "nano", f"refresh {i}"
    assert not [m for m in qc.config.log.messages() if "warm path failed" in m]


def test_nano_nan_minmax_falls_back(spark, tmp_path):
    """NaN under min/max orders differently in pyarrow than Spark's
    NaN-greatest — the nano scan must refuse and the ladder still answer
    exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    rows = {
        "ts": pa.array(
            [base_us + i * day_us // 4 for i in range(40)], pa.timestamp("us")
        ),
        "v": pa.array(
            [float("nan") if i % 7 == 0 else float(i) for i in range(40)]
        ),
    }
    p = str(tmp_path / "nansrc.parquet")
    pq.write_table(pa.table(rows), p)
    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    register_parquet_view(spark, "nan_events", p)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, max(v) AS mx, "
        "count(*) AS n FROM nan_events "
        "WHERE ts > now() - INTERVAL 6 DAY GROUP BY 1 ORDER BY 1"
    )
    day_ns = day_us * 1000
    hi_ns = (base_us + 10 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate([hi_ns - 2 * day_ns, hi_ns - day_ns, hi_ns]):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace("now()", lit).replace(
                "WHERE ", f"WHERE ts < {lit} AND ", 1
            )
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.refresh_tier != "nano"


def test_eval_bound_matches_jvm(spark, tmp_path):
    """The Python bound evaluator must agree with the JVM evaluation for
    every supported rhs shape, including month-clamp edges."""
    from datafusion_query_cache_spark.nano import eval_bound
    from datafusion_query_cache_spark.plans import classify as C
    from datafusion_query_cache_spark.plans.parser import parse_agg_query

    qc = _mk_qc(spark, tmp_path)
    rhss = [
        "now() - INTERVAL 10 DAY",
        "now() - INTERVAL 36 HOUR",
        "now() - INTERVAL 90 MINUTE",
        "now() - INTERVAL 1 MONTH",
        "now() - INTERVAL 3 MONTH",
        "now() - INTERVAL 1 YEAR",
        "now() - INTERVAL 2 WEEK",
        "current_date() - INTERVAL 5 DAY",
    ]
    nows = [
        1_711_843_200_000_000_000,  # 2024-03-31 00:00 UTC (month clamp)
        1_709_251_200_123_456_789,  # sub-µs now
        1_706_659_165_261_702_001,
    ]
    for rhs_sql in rhss:
        spec = parse_agg_query(
            f"SELECT count(*) AS n FROM events WHERE ts > {rhs_sql}"
        )
        bound = C.classify(spec.predicate, frozenset({"ts"})).bound
        assert bound is not None, rhs_sql
        for now_ns in nows:
            py = eval_bound(bound.rhs, now_ns)
            jvm = qc._eval_bound_value(bound.rhs, now_ns)
            if isinstance(jvm, dt.date) and not isinstance(jvm, dt.datetime):
                jvm = dt.datetime(jvm.year, jvm.month, jvm.day)
            assert py == jvm, (rhs_sql, now_ns, py, jvm)


STATIC_SQL = (
    "SELECT date_trunc('hour', ts) AS h, round(avg(value) + 1e-9, 2) AS av, "
    "count(*) AS n, min(value) AS mn, max(value) AS mx "
    "FROM events WHERE value > 1 GROUP BY 1 ORDER BY 1"
)


def _plain_static(spark, sql: str, now_ns: int):
    """Plain twin with the engine's as-of bound (state scans are bounded
    ts < now)."""
    lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now_ns // 1000)
    lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
    if " WHERE " in sql:
        s = sql.replace("WHERE ", f"WHERE ts < {lit} AND ", 1)
    elif " GROUP BY" in sql:
        s = sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
    else:
        s = f"{sql} WHERE ts < {lit}"
    return spark.sql(s)


def _ts_str(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)).isoformat(
        sep=" "
    )


def _ts_lit(us: int) -> str:
    return f"TIMESTAMP '{_ts_str(us)}'"


def _mid_window_us(pts) -> int:
    """A µs instant inside the second refresh's fresh window [pts[1], pts[2])."""
    return (pts[1] + pts[2]) // 2 // 1000 + 123


def _upper_bound_sql(spark, pts):
    return (
        "SELECT date_trunc('hour', ts) AS h, count(*) AS n, "
        "round(sum(value), 2) AS s FROM events "
        f"WHERE ts < {_ts_lit(_mid_window_us(pts))} GROUP BY 1 ORDER BY 1"
    )


def _exact_row_bound_sql(spark, pts):
    # the bound IS a row's timestamp (with a µs fraction) inside the second
    # refresh's fresh window: `>=` keeps that row, an off-by-one µs drops it
    us = F.unix_micros("ts")
    row_us = (
        spark.table("events")
        .where((us > pts[1] // 1000) & (us < pts[2] // 1000) & (us % 1000 != 0))
        .agg(F.min(us))
        .collect()[0][0]
    )
    assert row_us is not None
    return (
        "SELECT event_type, count(*) AS n, min(value) AS mn FROM events "
        f"WHERE ts >= {_ts_lit(row_us)} GROUP BY 1 ORDER BY 1"
    )


@pytest.mark.parametrize(
    "make_sql",
    [
        lambda spark, pts: STATIC_SQL,
        # the small_dashboard flagship panel (perfbench/workloads.py)
        lambda spark, pts: (
            "SELECT date_trunc('hour', ts) AS bucket, avg(value) AS avg_value, "
            "min(value) AS min_value, max(value) AS max_value, count(*) AS n "
            "FROM events WHERE event_type = 'click' "
            "AND ts > TIMESTAMP '2024-01-03' GROUP BY bucket ORDER BY bucket DESC"
        ),
        _upper_bound_sql,
        _exact_row_bound_sql,
    ],
    ids=["value_pred", "flagship", "ts_upper_in_window", "ts_ge_exact_row"],
)
def test_static_nano_matches_plain(spark, tmp_path, now_points, make_sql):
    """Static warm refreshes on a registered source: no Spark job, exact
    results — incl. an ltz hour bucket (beyond the dynamic nano
    contract), a residual predicate and static bounds on the temporal
    column, whose literals fold to exact µs instants."""
    sql = make_sql(spark, now_points)
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(
            _plain_static(spark, sql, now_ns)
        ), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.cache_hit
            assert qc.last_decision.refresh_tier == "nano"


def test_static_nano_on_arith_args(spark, tmp_path, now_points):
    """``+ - *`` aggregate arguments are mirrored as pyarrow derived
    columns and stay on the nano tier."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "round(sum(value * 2), 2) AS s2, "
        "round(sum(value * (1 - value * 0.001)), 2) AS sx, count(*) AS n "
        "FROM events GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_static_nano_variance(spark, tmp_path, now_points):
    """var/stddev central state (count, mean, M2) merges via the pairwise
    Pébay/Chan Python mirror; finalize mirrors the SQL formula —
    nano-eligible (pyarrow hash mean/variance kernels)."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "round(stddev_samp(value), 4) AS sd, round(var_pop(value), 4) AS vp "
        "FROM events GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_static_nano_count_distinct(spark, tmp_path, now_points):
    """Exact count(DISTINCT non-float col): pyarrow's `distinct` group
    aggregation + Python set-union merge keep it on the nano tier; float
    columns are gated out (NaN set semantics differ)."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "count(DISTINCT event_type) AS dt, count(DISTINCT user_id) AS du, "
        "count(*) AS n FROM events GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"
    # float DISTINCT: no py mirror → a Spark tier serves it, still exact
    sqlf = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "count(DISTINCT value) AS dv FROM events GROUP BY 1 ORDER BY 1"
    )
    qf = _mk_qc(spark, tmp_path / "f")
    for i, now_ns in enumerate(now_points[:3]):
        qf.config.override_now_ns = now_ns
        got = qf.sql(sqlf)
        assert rows_set(got) == rows_set(_plain_static(spark, sqlf, now_ns))
        if i > 0:
            assert qf.last_decision.refresh_tier != "nano"


def test_distinct_cap_trips_through_driver_tier(spark, tmp_path, now_points):
    """A count(DISTINCT) set-state cap trip during a DRIVER-tier
    store-back must surface like any other trip: the session registers
    the denial and the query degrades to exact passthrough."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "count(DISTINCT user_id) AS du FROM events GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path, distinct_max_values=3)
    qc.config.override_now_ns = now_points[0]
    got = qc.sql(sql)  # miss already trips the tiny cap → passthrough
    assert not qc.last_decision.cached
    # passthroughs ARE the plain query: full data, no as-of bound
    assert rows_set(got) == rows_set(spark.sql(sql))

    # trip DURING a driver-tier refresh: seed state under a loose cap,
    # then shrink the cap so the warm store-back exceeds it
    qc2 = _mk_qc(spark, tmp_path / "w", distinct_max_values=100_000)
    qc2.config.override_now_ns = now_points[0]
    qc2.sql(sql).collect()
    qc2.config.distinct_max_values = 3
    qc2.config.override_now_ns = now_points[1]
    got = qc2.sql(sql)
    assert not qc2.last_decision.cached  # degraded, not silently swallowed
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_having_on_driver_tiers(spark, tmp_path, now_points):
    """HAVING filters finalized rows with SQL three-valued semantics —
    the Python mirror keeps the query on the nano tier."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n, "
        "round(sum(value), 2) AS s FROM events GROUP BY 1 "
        "HAVING count(*) > 30 AND sum(value) > 100 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_having_dynamic_window(spark, tmp_path, now_points):
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
        "FROM events WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1 "
        "HAVING count(*) >= 20 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_static_nano_product(spark, tmp_path, now_points):
    """product() merges multiplicatively in Python and pyarrow has the
    matching group aggregation. (No Spark SQL twin exists — `product` is
    DataFrame-API only — so the expectation is built with F.product.)"""
    sql = (
        "SELECT event_type, round(product(1 + value * 0.00001), 6) AS p, "
        "count(*) AS n FROM events GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        expect = (
            spark.table("events")
            .filter(F.col("ts") < F.lit(lit_dt))
            .groupBy("event_type")
            .agg(
                F.round(
                    F.product(1 + F.col("value") * 0.00001), 6
                ).alias("p"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_static_lite_on_division_args(spark, tmp_path, now_points):
    """Division aggregate arguments are outside the nano arg mirror (SQL
    x/0 is NULL, pyarrow differs) but INSIDE the lite contract (partials
    stay in SQL; only merge/finalize need Python mirrors)."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "round(sum(value / 2), 2) AS s2, count(*) AS n "
        "FROM events GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "lite"


def test_static_classic_on_unsupported_agg(spark, tmp_path, now_points):
    """min_by has no Python merge mirror: the classic program must run.
    (var/stddev ride nano; corr/skew/kurt ride lite since the central
    co-moment state gained exact Python mirrors, round-11.)"""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "min_by(event_id, value) AS lo FROM events "
        "GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "classic"


def test_static_lite_corr_skew_kurt(spark, tmp_path, now_points):
    """The central co-moment families (corr/skewness/kurtosis) merge
    driver-side via the pairwise Pébay/Chan mirror — lite-eligible (no
    nano pyarrow recipe), and exact vs plain at every refresh."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "round(corr(value, user_id) + 1e-9, 4) AS cr, "
        "round(skewness(value) + 1e-9, 4) AS sk, "
        "round(kurtosis(value) + 1e-9, 4) AS ku "
        "FROM events GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "lite"


def test_static_nano_global_agg(spark, tmp_path, now_points):
    """Global static aggregate: one-row state merged driver-side."""
    sql = (
        "SELECT count(*) AS n, round(sum(value), 2) AS s, max(value) AS mx "
        "FROM events"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_static_pred_null_semantics(spark, tmp_path):
    """The pyarrow predicate mirror must drop NULL comparisons exactly
    like SQL WHERE."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    tbl = pa.table(
        {
            "ts": pa.array(
                [base_us + i * day_us // 3 for i in range(30)],
                pa.timestamp("us"),
            ),
            "v": pa.array(
                [None if i % 5 == 0 else float(i) for i in range(30)]
            ),
        }
    )
    p = str(tmp_path / "nullsrc.parquet")
    pq.write_table(tbl, p)
    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    register_parquet_view(spark, "null_events", p)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
        "FROM null_events WHERE v > 3 GROUP BY 1 ORDER BY 1"
    )
    day_ns = day_us * 1000
    hi_ns = (base_us + 10 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate([hi_ns - 3 * day_ns, hi_ns - day_ns, hi_ns]):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace("WHERE ", f"WHERE ts < {lit} AND ", 1)
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


@pytest.mark.parametrize(
    "make_pred",
    [
        lambda pts: "value > 10",
        # bare-string static bound (Spark casts it implicitly) cutting rows
        # inside the second refresh's fresh window
        lambda pts: f"ts < '{_ts_str(_mid_window_us(pts))}'",
    ],
    ids=["value_pred", "ts_upper_bare_string"],
)
def test_dyn_nano_with_predicate(spark, tmp_path, now_points, make_pred):
    """Simple residual predicates ride the DYNAMIC nano tier too,
    including a static bound on the temporal column."""
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n, "
        "round(sum(value), 2) AS s FROM events "
        f"WHERE {make_pred(now_points)} AND ts > now() - INTERVAL 10 DAY "
        "GROUP BY 1 ORDER BY 1"
    )
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain(spark, sql, now_ns)), (
            f"refresh {i}"
        )
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_randomized_tier_equivalence(spark, tmp_path):
    """Seeded sweep: random agg/group/filter/window combinations must be
    exact on WHATEVER tier serves them, across an advancing-now flow."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260814)
    mx_ns = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    day = 24 * 3600 * 1_000_000_000

    groups = [
        "CAST(date_trunc('day', ts) AS DATE) AS d",
        "date_trunc('hour', ts) AS h",
        "event_type",
    ]
    aggs = [
        "count(*) AS n",
        "count(value) AS nv",
        "sum(value) AS s",
        "min(value) AS mn",
        "max(value) AS mx",
        "avg(value) AS av",
        "sum(value * 1.5) AS sx",
    ]
    preds = [None, "value > 5", "value <= 80", "event_type != 'click'"]
    windows = [None, "ts > now() - INTERVAL 9 DAY",
               "ts >= now() - INTERVAL 2 WEEK"]

    tiers_seen = set()
    for trial in range(10):
        gs = rng.sample(groups, rng.randint(1, 2))
        ags = rng.sample(aggs, rng.randint(1, 3))
        pred = rng.choice(preds)
        win = rng.choice(windows)
        conds = [c for c in (pred, win) if c]
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        gb = ", ".join(str(i + 1) for i in range(len(gs)))
        sql = (
            f"SELECT {', '.join(gs + ags)} FROM events{where} "
            f"GROUP BY {gb} ORDER BY {gb}"
        )
        qc = _mk_qc(spark, tmp_path / f"t{trial}")
        base = mx_ns - rng.randint(2, 5) * day
        pts = [base, base + day // 2, base + day + rng.randint(0, 10**9)]
        for i, now_ns in enumerate(pts):
            qc.config.override_now_ns = now_ns
            got = qc.sql(sql)
            lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
                microseconds=now_ns // 1000
            )
            lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
            if qc.last_decision.cached:
                # cached answers are as-of the pinned now (state scans are
                # bounded ts < now)
                s = sql.replace("now()", lit)
                if " WHERE " in s:
                    s = s.replace("WHERE ", f"WHERE ts < {lit} AND ", 1)
                else:
                    s = s.replace(
                        " GROUP BY", f" WHERE ts < {lit} GROUP BY", 1
                    )
            else:
                # passthroughs ARE the plain query (live now(), full data)
                s = sql
            # fp sums merge in a different association order than plain's
            # single pass (inherent to ANY incremental tier): compare
            # floats relatively, everything else exactly
            import math

            def _close(a, b):
                if isinstance(a, float) and isinstance(b, float):
                    if math.isnan(a) and math.isnan(b):
                        return True
                    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                return a == b

            g_rows = sorted(
                (tuple(r) for r in got.collect()), key=repr
            )
            p_rows = sorted(
                (tuple(r) for r in spark.sql(s).collect()), key=repr
            )
            assert len(g_rows) == len(p_rows) and all(
                all(_close(a, b) for a, b in zip(gr, pr))
                for gr, pr in zip(g_rows, p_rows)
            ), f"trial {trial} refresh {i}: {sql}"
            if i > 0:
                tiers_seen.add(qc.last_decision.refresh_tier)
    # the sweep must actually exercise the driver tiers, not only classic
    assert "nano" in tiers_seen or "lite" in tiers_seen, tiers_seen


def test_static_nano_star_join(spark, tmp_path):
    """Left-deep equi-joins against registered dims run driver-side
    (the broadcast-join analogue): exact vs plain, no Spark job."""
    from pyspark.sql import functions as F

    sql = (
        "SELECT n.n_name, CAST(date_trunc('month', o.o_orderdate) AS DATE) "
        "AS m, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS rev "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    )
    hi_ns = int(
        spark.table("orders").agg(F.max("o_orderdate_ns")).collect()[0][0]
    )
    day = 24 * 3600 * 1_000_000_000
    qc = _mk_qc(spark, tmp_path)
    qc.config.default_temporal_column = "o_orderdate"
    pts = [hi_ns - 60 * day, hi_ns - 30 * day, hi_ns - 10 * day, hi_ns + day]
    for i, now_ns in enumerate(pts):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace(
                " GROUP BY", f" WHERE o.o_orderdate < {lit} GROUP BY", 1
            )
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_nano_left_join_null_keys(spark, tmp_path):
    """LEFT JOIN keeps unmatched/null-key fact rows with null dim columns
    — the pyarrow join must mirror that exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    fact = pa.table(
        {
            "ts": pa.array(
                [base_us + i * day_us // 2 for i in range(30)],
                pa.timestamp("us"),
            ),
            "k": pa.array(
                [None if i % 7 == 0 else i % 5 for i in range(30)],
                pa.int64(),
            ),
            "v": pa.array([float(i) for i in range(30)]),
        }
    )
    dim = pa.table(
        {
            "dk": pa.array([0, 1, 2], pa.int64()),  # keys 3, 4 unmatched
            "label": pa.array(["a", "b", "c"]),
        }
    )
    pf = str(tmp_path / "jfact.parquet")
    pd_ = str(tmp_path / "jdim.parquet")
    pq.write_table(fact, pf)
    pq.write_table(dim, pd_)
    register_parquet_view(spark, "jfact", pf)
    register_parquet_view(spark, "jdim", pd_)
    sql = (
        "SELECT label, count(*) AS n, round(sum(v), 2) AS s "
        "FROM jfact f LEFT JOIN jdim d ON f.k = d.dk "
        "GROUP BY 1 ORDER BY 1"
    )
    day_ns = day_us * 1000
    hi_ns = (base_us + 16 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate([hi_ns - 5 * day_ns, hi_ns - day_ns, hi_ns]):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_concurrent_refreshes_restore_confs(spark, tmp_path):
    """Two threads refreshing different entries concurrently (one on the
    lite tier, whose collect runs on the AQE-off width-2 clone, one on
    nano) must both stay exact, and the caller's session confs must
    read their own values afterward — no refresh pins the session to
    refresh settings."""
    import threading

    from pyspark.sql import functions as F

    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    mx_ns = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    day = 24 * 3600 * 1_000_000_000
    # nano off keeps qA on lite (its Spark job collects on the clone)
    sql_a = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "round(stddev_samp(value), 4) AS sd FROM events GROUP BY 1 ORDER BY 1"
    )
    sql_b = DAILY_SQL
    qa = _mk_qc(spark, tmp_path / "a", nano_refresh_max_bytes=0)
    qb = _mk_qc(spark, tmp_path / "b")
    for q in (qa, qb):
        q.config.override_now_ns = mx_ns - 3 * day
    qa.sql(sql_a).collect()
    qb.sql(sql_b).collect()

    errs = []

    def drive(qc, sql, pts):
        try:
            for now_ns in pts:
                qc.config.override_now_ns = now_ns
                got = qc.sql(sql)
                assert rows_set(got) == rows_set(
                    _plain_static(spark, sql, now_ns)
                    if "now()" not in sql
                    else _plain(spark, sql, now_ns)
                )
        except Exception as e:  # surfaced after join
            errs.append(e)

    pts_a = [mx_ns - 2 * day, mx_ns - day, mx_ns + 10 ** 9]
    pts_b = [mx_ns - 2 * day + 7, mx_ns - day + 7000, mx_ns + 2 * 10 ** 9]
    ta = threading.Thread(target=drive, args=(qa, sql_a, pts_a))
    tb = threading.Thread(target=drive, args=(qb, sql_b, pts_b))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs, errs
    assert qa.last_decision.refresh_tier == "lite"
    assert qb.last_decision.refresh_tier == "nano"
    after = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    assert after == before, (before, after)


def test_nano_source_drift_rebuild(spark, tmp_path):
    """A re-registered/grown source must NOT be served from the pinned
    file set: the stale program is dropped, the refresh falls to a
    view-resolving tier, and the next refresh rebuilds nano against the
    new files — results exact throughout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000

    def write(n_rows: int):
        tbl = pa.table(
            {
                "ts": pa.array(
                    [base_us + i * day_us // 4 for i in range(n_rows)],
                    pa.timestamp("us"),
                ),
                "v": pa.array([float(i % 17) for i in range(n_rows)]),
            }
        )
        p = str(tmp_path / "growsrc.parquet")
        pq.write_table(tbl, p)
        return p

    p = write(40)
    register_parquet_view(spark, "grow_events", p)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n, "
        "round(sum(v), 2) AS s FROM grow_events GROUP BY 1 ORDER BY 1"
    )
    day_ns = day_us * 1000
    qc = _mk_qc(spark, tmp_path)

    def plain(now_ns):
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        return spark.sql(
            sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
        )

    t0 = (base_us + 8 * day_us) * 1000
    qc.config.override_now_ns = t0
    qc.sql(sql).collect()  # miss
    qc.config.override_now_ns = t0 + day_ns
    qc.sql(sql).collect()
    assert qc.last_decision.refresh_tier == "nano"

    # the source GROWS and is re-registered (new rows extend the tail)
    write(60)
    register_parquet_view(spark, "grow_events", p)
    t2 = (base_us + 16 * day_us) * 1000
    qc.config.override_now_ns = t2
    got = qc.sql(sql)
    # stale program dropped; this refresh is exact on a fallback tier
    assert qc.last_decision.refresh_tier in ("lite", "classic")
    assert rows_set(got) == rows_set(plain(t2))
    # next refresh rebuilds nano over the new files
    t3 = t2 + day_ns
    qc.config.override_now_ns = t3
    got = qc.sql(sql)
    assert qc.last_decision.refresh_tier == "nano"
    assert rows_set(got) == rows_set(plain(t3))


def test_nano_on_memory_cache(spark, now_points):
    """The driver tiers work against the in-process MemoryQueryCache too
    (arrow state round trip via get_arrow/put_arrow)."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        MemoryQueryCache,
        QueryCacheConfig,
    )

    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=MemoryQueryCache(), default_temporal_column="ts"
        ),
    )
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(DAILY_SQL)
        assert rows_set(got) == rows_set(_plain(spark, DAILY_SQL, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_nano_external_writer_coherence(spark, tmp_path, now_points):
    """State is re-read from the entry every refresh: a second session
    writing the same cache dir must be observed, not clobbered."""
    qc1 = _mk_qc(spark, tmp_path)
    qc2 = _mk_qc(spark, tmp_path)
    qc1.config.override_now_ns = now_points[0]
    qc1.sql(DAILY_SQL).collect()
    # second session advances the entry
    qc2.config.override_now_ns = now_points[1]
    qc2.sql(DAILY_SQL).collect()
    assert qc2.last_decision.refresh_tier == "nano"
    # first session refreshes on top of the OTHER session's state
    qc1.config.override_now_ns = now_points[3]
    got = qc1.sql(DAILY_SQL)
    assert qc1.last_decision.refresh_tier == "nano"
    assert rows_set(got) == rows_set(_plain(spark, DAILY_SQL, now_points[3]))


def test_nano_inplace_part_rewrite_invalidates(spark, tmp_path):
    """Rewriting an existing part file IN PLACE (open+truncate, no
    rename) does not bump the directory mtime — the pinned PER-FILE
    stats must still invalidate the program (ADVICE r6, medium)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    d = tmp_path / "dirsrc"
    d.mkdir()

    def part(rows):
        ts, v = zip(*rows)
        return pa.table(
            {
                "ts": pa.array(list(ts), pa.timestamp("us")),
                "v": pa.array([float(x) for x in v]),
            }
        )

    old_days = [(base_us + i * day_us // 4, i % 7) for i in range(20)]
    recent = [(base_us + 5 * day_us + i * day_us // 4, i % 5) for i in range(8)]
    pq.write_table(part(old_days), str(d / "part-0.parquet"))
    pq.write_table(part(recent), str(d / "part-1.parquet"))
    register_parquet_view(spark, "dir_events", str(d))

    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, count(*) AS n, "
        "round(sum(v), 2) AS s FROM dir_events GROUP BY 1 ORDER BY 1"
    )

    def plain(now_ns):
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        return spark.sql(
            sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
        )

    day_ns = day_us * 1000
    t0 = (base_us + 8 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    qc.config.override_now_ns = t0
    qc.sql(sql).collect()  # miss
    qc.config.override_now_ns = t0 + day_ns
    qc.sql(sql).collect()
    assert qc.last_decision.refresh_tier == "nano"

    # in-place rewrite of part-1: same rows plus a fresh tail beyond the
    # watermark; the DIRECTORY mtime must stay put for the repro, so pin
    # it back after the write
    st_dir = os.stat(d)
    tail = [
        (t0 + day_ns + (i + 1) * day_ns // 3, 100 + i) for i in range(6)
    ]
    pq.write_table(
        part(recent + [(ns // 1000, v) for ns, v in tail]),
        str(d / "part-1.parquet"),
    )
    os.utime(d, ns=(st_dir.st_atime_ns, st_dir.st_mtime_ns))

    t2 = t0 + 3 * day_ns
    qc.config.override_now_ns = t2
    got = qc.sql(sql)
    # stale program detected via per-file stats: exact on a fallback tier
    assert qc.last_decision.refresh_tier in ("lite", "classic")
    assert rows_set(got) == rows_set(plain(t2))
    # next refresh rebuilds nano over the rewritten file
    t3 = t2 + day_ns
    qc.config.override_now_ns = t3
    got = qc.sql(sql)
    assert qc.last_decision.refresh_tier == "nano"
    assert rows_set(got) == rows_set(plain(t3))


def test_nano_tz_flip_bypasses_then_resumes(spark, tmp_path, now_points):
    """A session-timezone change AFTER the nano program is memoized must
    bypass the tier per refresh (UTC Python mirrors would bucket in the
    wrong zone); restoring UTC resumes the memoized program."""
    qc = _mk_qc(spark, tmp_path)
    qc.config.override_now_ns = now_points[0]
    qc.sql(DAILY_SQL).collect()  # miss
    qc.config.override_now_ns = now_points[1]
    qc.sql(DAILY_SQL).collect()
    assert qc.last_decision.refresh_tier == "nano"
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        qc.config.override_now_ns = now_points[2]
        qc.sql(DAILY_SQL).collect()
        assert qc.last_decision.refresh_tier != "nano"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    qc.config.override_now_ns = now_points[3]
    got = qc.sql(DAILY_SQL)
    assert qc.last_decision.refresh_tier == "nano"
    assert rows_set(got) == rows_set(_plain(spark, DAILY_SQL, now_points[3]))


def test_static_lite_global_agg_when_nano_gated(spark, tmp_path, now_points):
    """Global static aggregate with the nano byte gate closed: the lite
    SQL must omit the GROUP BY clause (an empty expression list was a
    ParseException that silently nulled the tier — ADVICE r6)."""
    sql = (
        "SELECT count(*) AS n, round(sum(value), 2) AS s, max(value) AS mx "
        "FROM events"
    )
    qc = _mk_qc(spark, tmp_path, nano_refresh_max_bytes=0)
    for i, now_ns in enumerate(now_points):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert rows_set(got) == rows_set(_plain_static(spark, sql, now_ns))
        if i > 0:
            assert qc.last_decision.refresh_tier == "lite"


def test_decimal_round_falls_back_exact(spark, tmp_path):
    """round(max(decimal)) has no float-safe driver mirror: the refresh
    must degrade to the classic program and stay EXACT at full
    decimal precision (ADVICE r6: the float round-trip loses digits)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from decimal import Decimal

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    # 20 significant digits: float64 cannot represent these exactly
    vals = [
        Decimal("12345678901234567.89") + Decimal(i) for i in range(24)
    ]
    tbl = pa.table(
        {
            "ts": pa.array(
                [base_us + i * day_us // 3 for i in range(24)],
                pa.timestamp("us"),
            ),
            "dv": pa.array(vals, pa.decimal128(22, 3)),
        }
    )
    p = str(tmp_path / "decsrc.parquet")
    pq.write_table(tbl, p)
    register_parquet_view(spark, "dec_events", p)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "round(max(dv), 1) AS mx, min(dv) AS mn "
        "FROM dec_events GROUP BY 1 ORDER BY 1"
    )
    day_ns = day_us * 1000
    hi_ns = (base_us + 8 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate([hi_ns - 4 * day_ns, hi_ns - day_ns, hi_ns]):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            # driver tiers raise _LiteUnsupported at finalize → classic
            assert qc.last_decision.refresh_tier == "classic"


def test_nano_bucket_alias_collides_with_derived_name(spark, tmp_path):
    """A bucket alias equal to pyarrow's derived '{col}_{fn}' aggregate
    output name (v_sum alongside sum(v)) must still map state correctly:
    the partials are read POSITIONALLY, not by filtered names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    tbl = pa.table(
        {
            "ts": pa.array(
                [base_us + i * day_us // 3 for i in range(30)],
                pa.timestamp("us"),
            ),
            "v": pa.array([float(i % 11) for i in range(30)]),
        }
    )
    p = str(tmp_path / "aliassrc.parquet")
    pq.write_table(tbl, p)
    register_parquet_view(spark, "alias_events", p)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS v_sum, "
        "round(sum(v), 2) AS s, count(*) AS n "
        "FROM alias_events GROUP BY 1 ORDER BY 1"
    )
    day_ns = day_us * 1000
    hi_ns = (base_us + 10 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate([hi_ns - 3 * day_ns, hi_ns - day_ns, hi_ns]):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.refresh_tier == "nano"


def test_nano_nested_subdir_part_add_invalidates(spark, tmp_path):
    """A part file ADDED under a nested (hive-partition) subdirectory
    bumps only the subdirectory's mtime — the top-level dir stat stays
    put. validate()'s fresh per-source file discovery must still catch
    it: the stale program is dropped, the refresh answers exactly on a
    view-resolving tier, and the next refresh rebuilds nano (ADVICE r7,
    pinned r9)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    d = tmp_path / "hivesrc"
    (d / "day=0").mkdir(parents=True)
    (d / "day=1").mkdir()

    def part(rows):
        ts, v = zip(*rows)
        return pa.table(
            {
                "ts": pa.array(list(ts), pa.timestamp("us")),
                "v": pa.array([float(x) for x in v]),
            }
        )

    old = [(base_us + i * day_us // 4, i % 7) for i in range(20)]
    recent = [(base_us + 5 * day_us + i * day_us // 4, i % 5) for i in range(8)]
    pq.write_table(part(old), str(d / "day=0" / "part-0.parquet"))
    pq.write_table(part(recent), str(d / "day=1" / "part-0.parquet"))
    register_parquet_view(spark, "hive_events", str(d))

    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, count(*) AS n, "
        "round(sum(v), 2) AS s FROM hive_events GROUP BY 1 ORDER BY 1"
    )

    def plain(now_ns):
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        return spark.sql(
            sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
        )

    day_ns = day_us * 1000
    t0 = (base_us + 8 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    qc.config.override_now_ns = t0
    qc.sql(sql).collect()  # miss
    qc.config.override_now_ns = t0 + day_ns
    qc.sql(sql).collect()
    assert qc.last_decision.refresh_tier == "nano"

    # a NEW part file lands under the existing day=1 subdirectory; the
    # ROOT dir mtime must stay put for the repro (only the subdir's
    # mtime moves on a real fs — pin the root back to make that certain)
    st_root = os.stat(d)
    tail = [(t0 + day_ns + (i + 1) * day_ns // 3, 100 + i) for i in range(6)]
    pq.write_table(
        part([(ns // 1000, v) for ns, v in tail]),
        str(d / "day=1" / "part-1.parquet"),
    )
    os.utime(d, ns=(st_root.st_atime_ns, st_root.st_mtime_ns))
    # Spark's view snapshot must see the new file too (the engine's
    # distributed tiers resolve the view; an external writer would
    # refresh the catalog the same way)
    register_parquet_view(spark, "hive_events", str(d))

    # validate() itself must flag the drift (unit-level pin)
    from datafusion_query_cache_spark.nano import NanoUnsupported

    progs = [
        t["nano"]
        for t in qc._tpl_cache.values()
        if isinstance(t, dict)
        and t.get("nano") is not None
        and t["nano"].path == str(d)
    ]
    assert progs, "nano program for the hive source should be memoized"
    for prog in progs:
        with pytest.raises(NanoUnsupported):
            prog.validate("hive_events")

    t2 = t0 + 3 * day_ns
    qc.config.override_now_ns = t2
    got = qc.sql(sql)
    # stale program dropped: exact on a view-resolving fallback tier
    assert qc.last_decision.refresh_tier in ("lite", "classic")
    assert rows_set(got) == rows_set(plain(t2))
    # next refresh rebuilds nano over the grown file set
    t3 = t2 + day_ns
    qc.config.override_now_ns = t3
    got = qc.sql(sql)
    assert qc.last_decision.refresh_tier == "nano"
    assert rows_set(got) == rows_set(plain(t3))


def test_decimal_having_compare_falls_back_exact(spark, tmp_path):
    """A HAVING compare over a decimal aggregate (min(dv) > 0.3) has no
    float-safe driver mirror: Spark compares after a decimal→double
    cast with its own rounding, Python would compare Decimal exactly —
    the lite/nano finalize must degrade to the classic program and
    stay EXACT at full decimal precision (ADVICE r8 guard
    functions/partial.py `_cmp`, pinned r9)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from decimal import Decimal

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    # values straddle the 0.3 HAVING boundary, with >15-significant-digit
    # entries where Decimal-exact and double-cast comparisons diverge
    vals = [
        Decimal("0.299999999999999999"),
        Decimal("0.300000000000000001"),
    ] + [Decimal("0.25") + Decimal(i) / Decimal(10) for i in range(22)]
    tbl = pa.table(
        {
            "ts": pa.array(
                [base_us + i * day_us // 3 for i in range(24)],
                pa.timestamp("us"),
            ),
            "dv": pa.array(vals, pa.decimal128(22, 18)),
        }
    )
    p = str(tmp_path / "deccmpsrc.parquet")
    pq.write_table(tbl, p)
    register_parquet_view(spark, "dec_cmp_events", p)
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "min(dv) AS mn, count(*) AS n "
        "FROM dec_cmp_events GROUP BY 1 HAVING min(dv) > 0.3 ORDER BY 1"
    )
    day_ns = day_us * 1000
    hi_ns = (base_us + 8 * day_us) * 1000
    qc = _mk_qc(spark, tmp_path)
    for i, now_ns in enumerate([hi_ns - 4 * day_ns, hi_ns - day_ns, hi_ns]):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=now_ns // 1000
        )
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        expect = spark.sql(
            sql.replace(" GROUP BY", f" WHERE ts < {lit} GROUP BY", 1)
        )
        assert rows_set(got) == rows_set(expect), f"refresh {i}"
        if i > 0:
            # driver tiers raise _LiteUnsupported at the compare → classic
            assert qc.last_decision.refresh_tier == "classic"
