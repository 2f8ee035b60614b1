"""Partition-aware watermark bounds: the refresh scan must prune whole
partitions on a date-partitioned table (config.temporal_partition_columns)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from tests.conftest import rows_set


@pytest.fixture(scope="module")
def partitioned_events(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pe") / "events_part")
    ev = spark.table("events")
    ev.withColumn("d", F.to_date("ts")).write.partitionBy("d").parquet(path)
    df = spark.read.parquet(path)
    df.createOrReplaceTempView("events_part")
    return path


def test_partitioned_refresh_prunes_partitions(spark, tmp_path, partitioned_events):
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    cut = dt.datetime(2024, 1, 25)
    cut_ns = int(cut.replace(tzinfo=dt.timezone.utc).timestamp() * 1e9)
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "pc")),
            override_now_ns=cut_ns,
            temporal_partition_columns={"ts": "d"},
        ),
    )
    sql = (
        "SELECT event_type, count(*) AS n, round(sum(value), 2) AS s "
        "FROM events_part GROUP BY 1"
    )
    qc.sql(sql).collect()

    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit
    # the refresh program (whichever warm path ran) is exposed for plan
    # inspection on last_refresh_df
    plan = qc.last_refresh_df._jdf.queryExecution().executedPlan().toString()
    # at least one scan (the fresh events_part side) must carry partition
    # filters on d — the cached-state scan legitimately has none
    segs = [p.split("]", 1)[0] for p in plan.split("PartitionFilters: [")[1:]]
    assert any("d#" in s for s in segs), f"no partition filters in: {segs}"
    # and results stay exact
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_partitioned_results_exact_over_refreshes(spark, tmp_path, partitioned_events):
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    sql = "SELECT count(*) AS n, round(sum(value), 2) AS s FROM events_part"
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "pc2")),
            temporal_partition_columns={"ts": "d"},
        ),
    )
    for cut_day in (10, 20, 31):
        cut_ns = int(
            dt.datetime(2024, 1, cut_day, tzinfo=dt.timezone.utc).timestamp() * 1e9
        )
        qc.config.override_now_ns = cut_ns
        got = qc.sql(sql)
        expect = spark.sql(
            sql.replace(
                "FROM events_part",
                f"FROM events_part WHERE ts < TIMESTAMP '2024-01-{cut_day:02d}'",
            )
        )
        assert rows_set(got) == rows_set(expect)


def test_dyn_lite_pushes_or_of_ranges(spark, tmp_path):
    """Same pushdown pin for the LITE tier's plain-sized job (a predicate
    forces past nano; count/sum keep the lite driver merge eligible)."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    now1 = int(
        dt.datetime(2024, 1, 26, tzinfo=dt.timezone.utc).timestamp() * 1e9
    )
    now2 = int(
        dt.datetime(2024, 1, 29, tzinfo=dt.timezone.utc).timestamp() * 1e9
    )
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "dpl")),
            override_now_ns=now1,
        ),
    )
    # an OR-of-conditions predicate is outside the nano mask mirror, so
    # the LITE tier (this test's subject) must run the Spark job
    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
        "FROM events WHERE (value > 0 OR event_type = 'click') "
        "AND ts > now() - INTERVAL 10 DAY GROUP BY 1"
    )
    qc.sql(sql).collect()
    qc.config.override_now_ns = now2
    qc.sql(sql).collect()
    assert qc.last_decision.cache_hit
    assert qc.last_decision.refresh_tier == "lite"
    plan = qc.last_refresh_df._jdf.queryExecution().executedPlan().toString()
    pushed = [p.split("]", 1)[0] for p in plan.split("PushedFilters: [")[1:]]
    ors = [s for s in pushed if "Or(" in s]
    assert ors, f"OR-of-ranges not pushed to any scan: {pushed}"
    # the pushed-filter print truncates; the Or-of-And on ts is the pin
    assert any("Or(And(" in s and "ts" in s for s in ors), ors


def test_lite_token_date_bounds_survive_tz_skew(spark, tmp_path):
    """r12 vanilla-fuzz find: the lite program's partition-date pruning
    tokens derived dates in naive UTC, but a partition layout may have been
    materialized under a DIFFERENT session timezone — a Chicago-tz
    session over this repo's UTC-built date partitions dropped a
    boundary-bucket row (silent undercount). The date bounds are now the
    UTC dates of lo - 18 h and hi + 18 h (the widest Java zone offset),
    which is sound under any zone the layout was written in; the exact
    ts bounds still filter rows. This test mirrors the failing scenario
    inside the UTC session by checking the rendered SQL bounds
    directly."""
    from datafusion_query_cache_spark.tiers import RefreshTiers

    sub = RefreshTiers._sub_time_tokens  # staticmethod
    # 2024-01-28 05:26 UTC .. 2024-01-30 00:00 UTC
    lo_ns = 1706419576320708000
    hi_ns = 1706572800000000000
    sql = sub(
        "d >= DATE'__QC_FLO_D__' AND d <= DATE'__QC_FHI_D__'",
        "F", lo_ns, hi_ns,
    )
    # a row at or after 05:26 UTC on Jan 28 is on Jan 27 at the earliest
    # in a zone up to 18 h behind UTC, so Jan 27 must stay; a row before
    # 00:00 UTC on Jan 30 is on Jan 30 at the latest in any zone
    assert "DATE'2024-01-27'" in sql and "DATE'2024-01-30'" in sql, sql


@pytest.fixture(scope="module")
def chicago_events(spark, tmp_path_factory):
    """events written partitionBy(d = to_date(ts)) under an
    America/Chicago session, read back in the suite's UTC session: a row
    in the first six UTC hours of a day sits in the previous day's
    partition."""
    path = str(tmp_path_factory.mktemp("pe_chi") / "events_chi")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    try:
        spark.table("events").withColumn("d", F.to_date("ts")).write.partitionBy(
            "d"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    spark.read.parquet(path).createOrReplaceTempView("events_chi")
    return path


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT event_type, count(*) AS n FROM events_chi GROUP BY 1",
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, count(*) AS n "
        "FROM events_chi WHERE ts > now() - INTERVAL 3 DAY GROUP BY 1",
    ],
    ids=["static", "dynamic"],
)
def test_classic_date_bounds_survive_tz_skew(
    spark, tmp_path, chicago_events, monkeypatch, sql
):
    """The classic program's partition-date bounds come from the same
    widened helper as the lite program's: with the naive-UTC dates alone,
    a refresh window starting at 02:00 UTC pruned the previous Chicago
    date's partition and dropped its rows (silent undercount)."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )
    from datafusion_query_cache_spark.cache import _ParquetEntry

    # state over the collect cap: the driver tiers never admit it
    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", 2)
    day = 24 * 3600 * 10**9
    t0 = int(dt.datetime(2024, 1, 20, 2, tzinfo=dt.timezone.utc).timestamp()) * 10**9
    qc = CachedSparkSession(
        spark,
        QueryCacheConfig(
            cache=ParquetQueryCache(str(tmp_path / "chi")),
            temporal_partition_columns={"ts": "d"},
        ),
    )
    for i in range(4):
        now_ns = t0 + i * day
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        if i > 0:
            assert qc.last_decision.cache_hit
            assert qc.last_decision.refresh_tier == "classic"
        lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now_ns // 1000)
        lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
        plain = sql.replace("now()", lit).replace(
            " GROUP BY", f"{' AND' if 'WHERE' in sql else ' WHERE'} ts < {lit} GROUP BY", 1
        )
        assert rows_set(got) == rows_set(spark.sql(plain)), f"refresh {i}"


@pytest.fixture(scope="module")
def gmt_minus12_events(spark, tmp_path_factory):
    """events written partitionBy(d = to_date(ts)) under an Etc/GMT+12
    (UTC-12) session: a row's partition date is its UTC date 12 h ago."""
    path = str(tmp_path_factory.mktemp("pe_m12") / "events_m12")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Etc/GMT+12")
    try:
        spark.table("events").withColumn("d", F.to_date("ts")).write.partitionBy(
            "d"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    spark.read.parquet(path).createOrReplaceTempView("events_m12")
    return path


def test_lite_boundary_dates_survive_26h_tz_skew(spark, tmp_path, gmt_minus12_events):
    """A Pacific/Kiritimati (UTC+14) session over a UTC-12 layout: the two
    zones differ by 26 h. The bound sits just after the session's midnight
    (10:00 UTC), so a boundary row before 12:00 UTC is in the partition
    two days before the bound's session date. The lite boundary leg once
    bounded its dates by session-zone CASTs widened by one day, pruned
    that partition and undercounted the boundary bucket; its dates now
    follow the same +-18 h UTC rule as the fresh leg."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    sql = (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS dd, count(*) AS n "
        "FROM events_m12 WHERE ts > now() - INTERVAL 3 DAY GROUP BY 1"
    )
    day = 24 * 3600 * 10**9
    t0 = int(dt.datetime(2024, 1, 20, 10, tzinfo=dt.timezone.utc).timestamp())
    t0 = t0 * 10**9 + 10**6
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    try:
        qc = CachedSparkSession(
            spark,
            QueryCacheConfig(
                cache=ParquetQueryCache(str(tmp_path / "m12")),
                temporal_partition_columns={"ts": "d"},
            ),
        )
        skewed = 0
        for i in range(4):
            now_ns = t0 + i * day
            qc.config.override_now_ns = now_ns
            got = qc.sql(sql)
            lit = f"timestamp_micros({now_ns // 1000})"
            plain = sql.replace("now()", lit).replace(
                " GROUP BY", f" AND ts < {lit} GROUP BY", 1
            )
            if i > 0:
                assert qc.last_decision.cache_hit
                assert qc.last_decision.refresh_tier == "lite"
                # boundary rows in the two-days-back partition
                bound_us = (now_ns - 3 * day) // 1000
                skewed += spark.sql(
                    f"SELECT count(*) FROM events_m12 WHERE "
                    f"ts > timestamp_micros({bound_us}) AND "
                    f"ts < timestamp_micros({bound_us + 2 * 3600 * 10**6})"
                ).collect()[0][0]
            assert rows_set(got) == rows_set(spark.sql(plain)), f"refresh {i}"
        assert skewed > 0, "no boundary row in the skewed partition"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
