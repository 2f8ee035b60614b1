"""Result memo: a hot read (empty refresh window) at a watermark this
session already finalized returns the memoized DataFrame with zero Spark
work. Sound because state is immutable per watermark and finalize is pure;
any watermark advance changes the key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_set

SQL = (
    "SELECT date_trunc('hour', ts) AS h, count(*) AS n, "
    "round(sum(value), 2) AS s FROM events_rm GROUP BY 1"
)


def _cut(spark):
    return int(spark.table("events").approxQuantile("ts_ns", [0.5], 0.0)[0])


def test_hot_reread_served_from_memo(spark, qc):
    ev = spark.table("events")
    cut = _cut(spark)
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    first = qc.sql(SQL)
    assert not qc.last_decision.served_from_memo
    # re-read at the same (or earlier) now: refresh window provably empty
    qc.config.override_now_ns = cut - 1
    again = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and d.served_from_memo
    assert rows_set(again) == rows_set(first)
    # results are as-of the watermark (ts < cut), like any hot read
    want = (
        ev.filter(F.col("ts_ns") < F.lit(cut))
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    assert rows_set(again) == rows_set(want)


def test_watermark_advance_invalidates_memo(spark, qc):
    ev = spark.table("events")
    cut = _cut(spark)
    ev.filter(F.col("ts_ns") < F.lit(cut)).createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    qc.sql(SQL).collect()
    qc.sql(SQL).collect()
    assert qc.last_decision.served_from_memo  # memo active at wm=cut
    # new data + a later now: must NOT serve the old memo
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut + 10**18
    got = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and not d.served_from_memo
    assert rows_set(got) == rows_set(spark.sql(SQL.replace("events_rm", "events")))
    # and the refreshed result seeds a NEW memo entry at the new watermark
    got2 = qc.sql(SQL)
    assert qc.last_decision.served_from_memo
    assert rows_set(got2) == rows_set(spark.sql(SQL.replace("events_rm", "events")))


def test_refresh_interval_serves_within_window(spark, qc):
    """min_refresh_interval_ns: a re-run within the interval serves as-of
    the stored watermark (zero-work with the memo); past the interval it
    does a real incremental refresh."""
    ev = spark.table("events")
    cut = _cut(spark)
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    qc.config.min_refresh_interval_ns = 10**9  # 1s staleness budget
    first = qc.sql(SQL)
    # 0.5s later: inside the interval → hot (memo) serve as-of cut
    qc.config.override_now_ns = cut + 5 * 10**8
    again = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and d.served_from_memo and d.watermark_ns == cut
    assert rows_set(again) == rows_set(first)
    # 2s later: past the interval → genuine refresh, watermark advances
    qc.config.override_now_ns = cut + 2 * 10**9
    ref = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and not d.served_from_memo
    want = (
        ev.filter(F.col("ts_ns") < F.lit(cut + 2 * 10**9))
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    assert rows_set(ref) == rows_set(want)


def test_memo_disabled_by_config(spark, qc):
    ev = spark.table("events")
    cut = _cut(spark)
    qc.config.result_memo = False
    ev.createOrReplaceTempView("events_rm")
    qc.config.override_now_ns = cut
    first = qc.sql(SQL)
    again = qc.sql(SQL)
    d = qc.last_decision
    assert d.cache_hit and not d.served_from_memo
    assert rows_set(again) == rows_set(first)


def test_memo_keyed_by_post_shape(spark, qc_mem):
    """Queries sharing a fingerprint (same state entry) but differing in
    ORDER BY / LIMIT / select order must NOT share a memoized result —
    r12 find: at a pinned now, `LIMIT 2` hot-served its 2 rows to a later
    `LIMIT 4`, and DESC got the ASC rows."""
    from pyspark.sql import functions as F

    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    qc_mem.config.override_now_ns = mx + 10**9
    base = "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1"
    a = qc_mem.sql(base + " LIMIT 2")
    assert a.count() == 2
    b = qc_mem.sql(base + " LIMIT 4")
    assert b.count() == 4  # was 2 before the fix
    c = qc_mem.sql(base + " DESC LIMIT 2")
    rows = [r[0] for r in c.collect()]
    assert rows == sorted(rows, reverse=True), rows
    # and a TRUE repeat still hot-serves from the memo
    qc_mem.sql(base + " LIMIT 2").collect()
    assert qc_mem.last_decision.served_from_memo


# -- bounded classic, top-k and derived-table results ------------------------

DAY = 24 * 3600 * 10**9

DYN = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, event_id % 7 AS k, "
    "count(*) AS n FROM events WHERE ts > now() - INTERVAL 10 DAY "
    "GROUP BY 1, 2 ORDER BY n DESC, dd, k"
)
TOPK = (
    "SELECT event_id, value FROM events WHERE event_type = 'click' "
    "ORDER BY value DESC, event_id LIMIT 10"
)
MOVING_AVG = (
    "SELECT dd, n, round(avg(n) OVER (ORDER BY dd ROWS BETWEEN 6 PRECEDING "
    "AND CURRENT ROW) + 1e-9, 2) AS ma7 FROM (SELECT CAST(date_trunc('day', ts) "
    "AS DATE) AS dd, count(*) AS n FROM events "
    "WHERE event_type <> 'view' GROUP BY 1) t ORDER BY dd"
)


def _ts_lit(ns: int) -> str:
    import datetime as dt

    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ns // 1000)
    return f"TIMESTAMP '{t.isoformat(sep=' ')}'"


def _plain_at(spark, sql: str, now_ns: int):
    """``sql`` through plain Spark as-of ``now_ns``: rows with ts < now, and
    now() pinned to the same instant."""
    lit = _ts_lit(now_ns)
    sql = sql.replace("now()", lit)
    return spark.sql(sql.replace("WHERE ", f"WHERE ts < {lit} AND ", 1))


def _ordered(df):
    return [tuple(r) for r in df.collect()]


def _collect_jobs(spark, df):
    """(rows in order, Spark jobs the collect launched)."""
    sc = spark.sparkContext
    sc.setJobGroup("qc-result-memo", "qc-result-memo")
    try:
        rows = _ordered(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup("qc-result-memo"))


def _nows(spark):
    mx = int(spark.table("events").agg(F.max("ts_ns")).collect()[0][0])
    base = mx // 10**6 * 10**6  # µs-exact for the plain-Spark literal
    return [base - 3 * DAY, base - 2 * DAY, base - DAY]


@pytest.fixture()
def big_state(monkeypatch):
    """State above the driver-collect cap: the classic (distributed) path."""
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", 20)


def test_dyn_limit_over_big_state_hot_reload_is_memo_hit(spark, qc, big_state):
    """Classic dynamic-bound path, state above the collect cap: the bounded
    result is collected once in sql(); the hot re-read at the same now is
    a memo hit with no Spark job, rows exact vs plain Spark."""
    sql = DYN + " LIMIT 5"
    n0, n1, _ = _nows(spark)
    qc.config.override_now_ns = n0
    qc.sql(sql).collect()
    qc.config.override_now_ns = n1
    qc.sql(sql).collect()  # refresh
    d = qc.last_decision
    assert d.cache_hit and d.refresh_tier == "classic"
    got = qc.sql(sql)
    assert qc.last_decision.served_from_memo
    rows, jobs = _collect_jobs(spark, got)
    assert jobs == 0
    assert rows == _ordered(_plain_at(spark, sql, n1))


def test_dyn_memo_not_shared_across_limit_order_or_now(spark, qc, big_state):
    """Same fingerprint, another LIMIT / ORDER BY / a later now: each is
    planned afresh (no memo), and each is exact."""
    n0, n1, n2 = _nows(spark)
    qc.config.override_now_ns = n0
    qc.sql(DYN + " LIMIT 5").collect()
    qc.config.override_now_ns = n1
    qc.sql(DYN + " LIMIT 5").collect()
    fp = qc.last_decision.fingerprint
    other = [
        DYN + " LIMIT 3",
        DYN.replace("ORDER BY n DESC", "ORDER BY n ASC") + " LIMIT 5",
    ]
    for sql in other:
        got = qc.sql(sql)
        d = qc.last_decision
        assert d.fingerprint == fp and d.cache_hit and not d.served_from_memo
        assert _ordered(got) == _ordered(_plain_at(spark, sql, n1))
    qc.config.override_now_ns = n2
    got = qc.sql(DYN + " LIMIT 5")
    d = qc.last_decision
    assert d.cache_hit and not d.served_from_memo and d.watermark_ns == n1
    assert _ordered(got) == _ordered(_plain_at(spark, DYN + " LIMIT 5", n2))


def test_classic_result_without_limit_stays_lazy(spark, qc, big_state, monkeypatch):
    """No LIMIT → no driver collect inside sql(): the hot re-read result
    stays a lazy plan, is not memoized, and is still exact."""
    n0, n1, _ = _nows(spark)
    for now in (n0, n1):
        qc.config.override_now_ns = now
        qc.sql(DYN).collect()
    frame_cls = type(spark.range(1))
    calls = []
    real = frame_cls.toArrow

    def spy(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(frame_cls, "toArrow", spy)
    got = qc.sql(DYN)
    assert qc.last_decision.cache_hit and not qc.last_decision.served_from_memo
    assert calls == []
    assert not got.isLocal()
    qc.sql(DYN)
    assert not qc.last_decision.served_from_memo
    assert _ordered(got) == _ordered(_plain_at(spark, DYN, n1))


def test_topk_hot_reload_is_memo_hit(spark, qc):
    """The driver top-k tier's result is memoized under the stored
    watermark: the hot re-read runs no Spark job, rows in exact order."""
    n0, n1, _ = _nows(spark)
    qc.config.override_now_ns = n0
    qc.sql(TOPK).collect()
    qc.config.override_now_ns = n1
    qc.sql(TOPK).collect()
    assert qc.last_decision.refresh_tier == "nano"
    got = qc.sql(TOPK)
    assert qc.last_decision.served_from_memo
    rows, jobs = _collect_jobs(spark, got)
    assert jobs == 0
    assert rows == _ordered(_plain_at(spark, TOPK, n1))


def test_derived_table_hot_reload_is_memo_hit(spark, qc):
    """moving_avg shape: the inner is driver-local, so the finalized outer
    window is collected once per watermark; the hot re-read is a memo hit
    with no Spark job and exact rows."""
    n0, n1, _ = _nows(spark)
    qc.config.override_now_ns = n0
    qc.sql(MOVING_AVG).collect()
    qc.config.override_now_ns = n1
    qc.sql(MOVING_AVG).collect()
    assert qc.last_decision.cache_hit
    got = qc.sql(MOVING_AVG)
    assert qc.last_decision.served_from_memo
    rows, jobs = _collect_jobs(spark, got)
    assert jobs == 0
    assert rows == _ordered(_plain_at(spark, MOVING_AVG, n1))


def test_derived_outer_shapes_do_not_share_memo(spark, qc):
    """Two outer shapes over one inner aggregate (one state entry, one
    inner memo key) keep separate memos."""
    n0, _, _ = _nows(spark)
    qc.config.override_now_ns = n0
    a = MOVING_AVG
    b = MOVING_AVG.removesuffix("ORDER BY dd") + "WHERE n > 5 ORDER BY dd DESC"
    for sql in (a, b, a, b):
        got = qc.sql(sql)
        assert _ordered(got) == _ordered(_plain_at(spark, sql, n0))


def test_single_partition_outer_keeps_order_and_ties(spark, qc):
    """The outer replays on one partition when the inner is driver-local:
    no exchange in the plan, ORDER BY with ties and a rank() window over
    tied keys exact vs plain Spark (checked with the memo off, so the
    returned frame is the replayed plan itself)."""
    qc.config.result_memo = False
    sql = (
        "SELECT n, rank() OVER (ORDER BY n) AS r, dense_rank() OVER "
        "(ORDER BY n DESC) AS dr FROM (SELECT event_type, event_id % 3 AS m, "
        "count(*) AS n FROM events WHERE value > 0 GROUP BY 1, 2) t "
        "ORDER BY n DESC"
    )
    n0, n1, _ = _nows(spark)
    for now in (n0, n1):
        qc.config.override_now_ns = now
        got = qc.sql(sql)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        want = _ordered(_plain_at(spark, sql, now))
        rows = _ordered(got)
        assert rows == want  # (n, r, dr) determine a row: ties included
        assert len({r[0] for r in rows}) < len(rows)  # the data has ties


def test_audit_heal_drops_classic_memo(spark, tmp_path, big_state):
    """audit_heal='invalidate' drops the entry's classic result memo: the
    re-read at the same now is recomputed on the diverged data."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )
    from datafusion_query_cache_spark.log import HistoryLog

    sql = (
        "SELECT event_id % 50 AS k, count(*) AS n FROM events "
        "GROUP BY 1 ORDER BY n DESC, k LIMIT 5"
    )
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "heal")),
            default_temporal_column="ts",
            log=HistoryLog(),
            strict_errors=True,
            audit_heal="invalidate",
        ),
    )
    ev = spark.table("events")
    _, cut_ns, _ = _nows(spark)
    cut = F.timestamp_micros(F.lit(cut_ns // 1000))
    try:
        ev.filter(F.col("ts") < cut).createOrReplaceTempView("events")
        qc.config.override_now_ns = cut_ns
        qc.sql(sql).collect()
        assert qc.last_decision.refresh_tier is None  # cold store
        qc.sql(sql).collect()
        assert qc.last_decision.served_from_memo
        fp = qc.last_decision.fingerprint
        # late rows below the watermark: the append-only contract broken
        late = ev.filter(F.col("ts") < cut).limit(200)
        ev.filter(F.col("ts") < cut).unionByName(late).createOrReplaceTempView(
            "events"
        )
        assert qc.audit(fp, buckets=50).ok is False
        assert not [k for k in qc._result_memo if k[0] == fp]
        got = qc.sql(sql)
        d = qc.last_decision
        assert not d.served_from_memo and not d.cache_hit
        assert _ordered(got) == _ordered(spark.sql(sql))
    finally:
        ev.createOrReplaceTempView("events")


@pytest.mark.parametrize("sql", [DYN + " LIMIT 5", TOPK, MOVING_AVG],
                         ids=["classic", "topk", "derived"])
def test_memo_off_disables_new_memo_paths(spark, qc, big_state, sql):
    """result_memo=False: no hot reload of a bounded classic, top-k or
    derived-table result is served from the memo; rows stay exact."""
    qc.config.result_memo = False
    n0, n1, _ = _nows(spark)
    for now in (n0, n1, n1):
        qc.config.override_now_ns = now
        got = qc.sql(sql)
        assert not qc.last_decision.served_from_memo
        assert _ordered(got) == _ordered(_plain_at(spark, sql, now))
    assert not qc._result_memo
