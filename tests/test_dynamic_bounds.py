"""Dynamic lower bound tests (beyond-reference: README.md:131-132 unchecked
boxes — the reference hard-errors on `ts > now() - INTERVAL`).

Correctness: with ``override_now_ns`` pinned, the cached dynamic query must
equal plain ``spark.sql`` of the same query with now() replaced by the pinned
literal. Efficiency: state is bound-independent, so different Δ share one
cache entry.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from tests.conftest import rows_set


@pytest.fixture()
def pinned(spark):
    """Pin now() to 3 days before the max event ts."""
    ev = spark.table("events")
    mx_ns = int(ev.agg(F.max("ts_ns")).collect()[0][0])
    now_us = mx_ns // 1000 - 3 * 24 * 3600 * 1000000
    now_dt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now_us)
    return now_us * 1000, now_dt


def plain_sql(sql: str, now_dt: dt.datetime) -> str:
    """Reference result: now() pinned to a literal, PLUS the engine's as-of
    upper bound (state scans are bounded ts < now — SURVEY §4.4.2
    improvement — so the comparable plain query needs the same bound; with
    realistic clocks, where now ≥ every ts, the bound is vacuous)."""
    lit = f"TIMESTAMP '{now_dt.isoformat(sep=' ')}'"
    s = sql.replace("now()", lit)
    return s.replace("WHERE ", f"WHERE ts < {lit} AND ", 1)


DYN_QUERIES = [
    # dynamic bound + temporal group-by (bucket = user granularity)
    "SELECT date_trunc('day', ts) AS d, count(*) AS n, round(sum(value), 2) AS s "
    "FROM events WHERE ts > now() - INTERVAL 10 DAY GROUP BY 1 ORDER BY 1",
    # dynamic bound + plain group-by (synthetic hour bucket in state)
    "SELECT event_type, count(*) AS n, round(avg(value), 2) AS a "
    "FROM events WHERE ts >= now() - INTERVAL 7 DAY GROUP BY 1 ORDER BY 1",
    # dynamic bound + global aggregate
    "SELECT count(*) AS n, min(value) AS mn, max(value) AS mx "
    "FROM events WHERE ts > now() - INTERVAL 5 DAY",
    # dynamic bound AND stable predicate
    "SELECT event_type, count(*) AS n FROM events "
    "WHERE value > 10 AND ts > now() - INTERVAL 12 DAY GROUP BY 1",
]


@pytest.mark.parametrize("sql", DYN_QUERIES)
def test_dynamic_bound_matches_pinned_plain(spark, qc, pinned, sql):
    now_ns, now_dt = pinned
    qc.config.override_now_ns = now_ns

    got1 = qc.sql(sql)
    assert qc.last_decision.cached, qc.last_decision.reason
    assert qc.last_decision.dynamic_lower is not None
    expect = spark.sql(plain_sql(sql, now_dt))
    assert rows_set(got1) == rows_set(expect)

    # run 2: hit path (state refresh + boundary recompute)
    got2 = qc.sql(sql)
    assert qc.last_decision.cache_hit
    assert rows_set(got2) == rows_set(expect)


def test_different_deltas_share_state(spark, qc, pinned):
    now_ns, now_dt = pinned
    qc.config.override_now_ns = now_ns
    q1 = "SELECT count(*) AS n FROM events WHERE ts > now() - INTERVAL 5 DAY"
    q2 = "SELECT count(*) AS n FROM events WHERE ts > now() - INTERVAL 10 DAY"
    qc.sql(q1).collect()
    fp1 = qc.last_decision.fingerprint
    out = qc.sql(q2)
    fp2 = qc.last_decision.fingerprint
    assert fp1 == fp2, "bound-independent state must be shared across deltas"
    assert qc.last_decision.cache_hit
    assert rows_set(out) == rows_set(spark.sql(plain_sql(q2, now_dt)))


def test_moving_now_between_runs(spark, qc, pinned):
    """now() advances between runs — the window slides; results must track."""
    now_ns, now_dt = pinned
    sql = (
        "SELECT date_trunc('day', ts) AS d, count(*) AS n FROM events "
        "WHERE ts > now() - INTERVAL 6 DAY GROUP BY 1 ORDER BY 1"
    )
    qc.config.override_now_ns = now_ns
    qc.sql(sql).collect()
    later_ns = now_ns + 2 * 24 * 3600 * 10**9
    later_dt = now_dt + dt.timedelta(days=2)
    qc.config.override_now_ns = later_ns
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit
    assert rows_set(got) == rows_set(spark.sql(plain_sql(sql, later_dt)))


def test_dynamic_upper_bound_still_passthrough(spark, qc):
    df = qc.sql("SELECT count(*) AS n FROM events WHERE ts < now()")
    assert not qc.last_decision.cached
    assert df.collect()[0]["n"] >= 0


def test_classic_dyn_path_non_utc_session_tz(spark, pinned, tmp_path):
    """r5 VERDICT item 8: the classic dyn assembly (used for shapes the
    driver tiers refuse) must be session-timezone exact. Its
    boundary-scan bounds now come from the JVM-evaluated epoch forms of
    the bound and bucket end (session tz, calendar-exact), replacing
    Python naive-datetime math that assumed UTC and papered over the
    difference with +1h of DST slack."""
    from zoneinfo import ZoneInfo

    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    import os
    import time as _time

    now_ns, _ = pinned
    sql = DYN_QUERIES[0]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    old_env_tz = os.environ.get("TZ")
    # BOTH timezones move: the session tz drives JVM-side bucketing, and
    # the PROCESS tz drives how `.collect()` renders timestamps into naive
    # datetimes — the old code fed those naive values into epoch math that
    # assumed UTC, so the bug only bites when the process tz is not UTC.
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:

        def ny_wall(ns):
            # the session-tz wall-clock string denoting the instant `ns`
            return dt.datetime.fromtimestamp(
                ns / 1e9, tz=ZoneInfo("America/New_York")
            ).replace(tzinfo=None)

        cfg = QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "qc-tz")),
            override_now_ns=now_ns,
        )
        qc = CachedSparkSession(spark, cfg)
        qc.sql(sql).collect()  # cold: builds state in NY-bucketed days
        now2_ns = now_ns + 2 * 24 * 3600 * 10**9
        qc.config.override_now_ns = now2_ns
        out = qc.sql(sql)
        assert qc.last_decision.cache_hit
        # nano needs a UTC session and lite refuses the ltz timestamp
        # bucket: the classic assembly serves
        assert qc.last_decision.refresh_tier == "classic"
        assert rows_set(out) == rows_set(
            spark.sql(plain_sql(sql, ny_wall(now2_ns)))
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        if old_env_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_env_tz
        _time.tzset()


def test_classic_dyn_path_non_utc_sub_day_buckets(spark, pinned, tmp_path):
    """The classic dyn assembly under a non-UTC session tz with SUB-DAY
    state buckets (no temporal group-by → config default 'hour'
    granularity, a cross-bucket merge the driver tiers refuse): the
    boundary-bucket recompute must keep the result exact."""
    from zoneinfo import ZoneInfo

    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    now_ns, _ = pinned
    sql = DYN_QUERIES[1]  # GROUP BY event_type → synthetic hour bucket
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        cfg = QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "qc-tz-tpl")),
            override_now_ns=now_ns,
        )
        qc = CachedSparkSession(spark, cfg)
        qc.sql(sql).collect()  # cold
        now2_ns = now_ns + 36 * 3600 * 10**9
        qc.config.override_now_ns = now2_ns
        out = qc.sql(sql)
        assert qc.last_decision.cache_hit
        assert qc.last_decision.refresh_tier == "classic"
        wall = dt.datetime.fromtimestamp(
            now2_ns / 1e9, tz=ZoneInfo("America/New_York")
        ).replace(tzinfo=None)
        assert rows_set(out) == rows_set(spark.sql(plain_sql(sql, wall)))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_dynamic_count_distinct_set_state(spark, tmp_path, pinned):
    """Dynamic bound + count(DISTINCT) — the set-state singleton must cast
    into the stored array dtype (deep-relaxed nullability; a raw cast of
    the nullable-element filter(array(x)) partial into the non-null stored
    element type is refused at analysis — r9 fuzzer find), and every
    refresh must stay exact."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    now_ns, _ = pinned
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, "
        "count(DISTINCT event_type) AS de, count(*) AS n "
        "FROM events WHERE ts > now() - INTERVAL 8 DAY GROUP BY 1"
    )
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "qc-dcd")),
            override_now_ns=now_ns,
        ),
    )
    day_ns = 24 * 3600 * 10**9
    for i, now in enumerate([now_ns, now_ns + day_ns, now_ns + 2 * day_ns]):
        qc.config.override_now_ns = now
        got = qc.sql(sql)
        assert qc.last_decision.cached, qc.last_decision.reason
        if i > 0:
            assert qc.last_decision.cache_hit
        now_dt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now // 1000)
        assert rows_set(got) == rows_set(spark.sql(plain_sql(sql, now_dt)))


@pytest.mark.parametrize("gran", ["day", "hour", "week", "month"])
def test_python_bound_eval_matches_jvm(spark, qc, monkeypatch, gran):
    """Under a UTC session the dynamic bound, its bucket, their epoch µs,
    the bucket end and the old watermark's bucket are computed on the
    driver (no job); each equals the one-row JVM evaluation, at month
    ends, on a leap day and across a Sunday/Monday week edge."""
    from datafusion_query_cache_spark.plans import classify as C
    from datafusion_query_cache_spark.plans.parser import parse_agg_query

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    epoch = dt.datetime(1970, 1, 1)
    instants = [
        dt.datetime(2024, 1, 31, 23, 59, 59, 999999),  # month end
        dt.datetime(2024, 2, 29, 12, 30, 0, 5),  # leap day
        dt.datetime(2024, 3, 1, 0, 0),  # the day after it
        dt.datetime(2024, 3, 31, 6, 0),  # minus a month clamps to Feb 29
        dt.datetime(2024, 4, 7, 23, 59, 59),  # Sunday night
        dt.datetime(2024, 4, 8, 0, 0, 0, 1),  # Monday morning
    ]
    rhss = [
        "now() - INTERVAL 10 DAY",
        "now() - INTERVAL 36 HOUR",
        "now() - INTERVAL 1 MONTH",
        "now() - INTERVAL 2 WEEK",
        "current_date() - INTERVAL 5 DAY",
    ]
    jvm_only = []
    for rhs_sql in rhss:
        spec = parse_agg_query(f"SELECT count(*) AS n FROM events WHERE ts > {rhs_sql}")
        rhs = C.classify(spec.predicate, frozenset({"ts"})).bound.rhs
        for at in instants:
            now_ns = (at - epoch) // dt.timedelta(microseconds=1) * 1000 + 789
            wm_ns = now_ns - 7 * 3600 * 10**9
            py = qc._py_bound_and_bucket(rhs, now_ns, gran, wm_ns)
            assert py is not None, (rhs_sql, at)
            with monkeypatch.context() as m:
                m.setattr(qc, "_py_bound_and_bucket", lambda *a: None)
                jvm = qc._eval_bound_and_bucket(rhs, now_ns, gran, wm_ns)
                jvm_only.append(jvm)
            v = jvm[0]
            if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
                v = dt.datetime(v.year, v.month, v.day)
            assert py == (v,) + tuple(jvm[1:]), (rhs_sql, at, py, jvm)
    assert len(jvm_only) == len(rhss) * len(instants)


def test_python_bound_eval_declines_non_utc(spark, qc):
    """Outside a UTC session the driver-side mirror declines, so the JVM
    job (session-zone calendar semantics) evaluates the bound."""
    from datafusion_query_cache_spark.plans import classify as C
    from datafusion_query_cache_spark.plans.parser import parse_agg_query

    spec = parse_agg_query(
        "SELECT count(*) AS n FROM events WHERE ts > now() - INTERVAL 1 DAY"
    )
    rhs = C.classify(spec.predicate, frozenset({"ts"})).bound.rhs
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    try:
        assert qc._py_bound_and_bucket(rhs, 1_706_659_165_261_702_001, "day") is None
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
