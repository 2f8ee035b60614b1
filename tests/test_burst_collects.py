"""Cardinality-burst discipline: NO driver collect on the warm path may
materialize more than DRIVER_COLLECT_MAX_ROWS (+1 probe row), even when
the previous state was small and the refresh window explodes group
cardinality — the r15 verdict's last burst-class member, now closed for
the put() refresh branch, put_split, and the lite tier alike.

The burst must spill to the distributed store AND stay exact, and the
fresh-rows Observation must still report the full count (the observe
sits below the merge's groupBy — a pipeline breaker — so the map stage
always completes regardless of the bounded collect above it).

The source is synthesized so the burst respects the append-only
contract: old rows carry few group keys, the fresh window brings
thousands of NEW keys — groups explode, but no row appears
retroactively below the watermark."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import rows_set

CAP = 50
T0_US = 1_700_000_000_000_000  # epoch µs anchor
CUT_US = T0_US + 1_000_000_000  # old rows strictly below
HI_US = CUT_US + 1_000_000_000


def _mk_source(spark):
    """200 old rows over 10 keys (< CUT), 5000 fresh rows over 5000 keys
    (>= CUT) — group cardinality bursts 10 → 5010 in one refresh."""
    old = spark.range(200).select(
        (F.col("id") % 10).alias("k"),
        (F.lit(T0_US) + F.col("id") * 1000).alias("us"),
        (F.col("id") * 1.5).alias("v"),
    )
    fresh = spark.range(5000).select(
        (F.col("id") + 10).alias("k"),
        (F.lit(CUT_US) + F.col("id") * 1000).alias("us"),
        (F.col("id") * 0.25).alias("v"),
    )
    full = old.unionByName(fresh).select(
        "k",
        F.timestamp_micros(F.col("us")).alias("ts"),
        (F.col("us") * 1000).alias("ts_ns"),
        "v",
    )
    return full


@pytest.fixture()
def burst_qc(spark, tmp_path, monkeypatch):
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        HistoryLog,
        ParquetQueryCache,
        QueryCacheConfig,
    )
    from datafusion_query_cache_spark.cache import _ParquetEntry

    monkeypatch.setattr(_ParquetEntry, "DRIVER_COLLECT_MAX_ROWS", CAP)
    cfg = QueryCacheConfig(
        cache=ParquetQueryCache(str(tmp_path / "qc-burst")),
        default_temporal_column="ts",
        log=HistoryLog(),
        nano_refresh_max_bytes=0,  # force the Spark-path tiers
    )
    return CachedSparkSession(spark, cfg)


def _collect_spy(monkeypatch):
    """Record the row count of every Arrow collect."""
    # patch the CLASSIC concrete class — the base pyspark.sql.DataFrame
    # attribute is shadowed by the subclass override on live sessions
    from pyspark.sql.classic.dataframe import DataFrame

    seen = []
    orig = DataFrame.toArrow

    def spy(self):
        tbl = orig(self)
        seen.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    return seen


def test_warm_refresh_burst_spills_distributed(spark, burst_qc, monkeypatch):
    qc = burst_qc
    full = _mk_source(spark)
    cut_ns = CUT_US * 1000
    hi_ns = HI_US * 1000

    # run 1: tiny state (10 groups), pinned now at the cut
    full.filter(F.col("ts_ns") < F.lit(cut_ns)).createOrReplaceTempView(
        "burst_ev"
    )
    qc.config.override_now_ns = cut_ns
    sql = "SELECT k, count(*) AS n, sum(v) AS s FROM burst_ev GROUP BY k"
    r1 = qc.sql(sql)
    assert r1.count() < CAP
    assert not qc.last_decision.cache_hit

    # run 2: the fresh window brings 5000 NEW keys — cardinality burst
    full.createOrReplaceTempView("burst_ev")
    qc.config.override_now_ns = hi_ns

    seen = _collect_spy(monkeypatch)
    r2 = qc.sql(sql)
    d = qc.last_decision
    got = rows_set(r2)
    assert d.cache_hit
    exp = rows_set(full.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    ))
    assert got == exp
    # bounded materialization: NO Arrow collect saw more than CAP+1 rows
    assert seen and max(seen) <= CAP + 1
    # the state went to the distributed store
    entry = qc.config.cache.entry(d.fingerprint)
    assert entry.state_rows() is not None and entry.state_rows() > CAP
    # the Observation survived the bounded collect: full fresh count
    if d.observation is not None:
        assert d.fresh_rows() == 5000

    # run 3: warm on the now-big state — stays distributed, stays exact
    qc.config.override_now_ns = hi_ns + 1
    r3 = qc.sql(sql)
    assert qc.last_decision.cache_hit
    assert rows_set(r3) == exp
    spark.catalog.dropTempView("burst_ev")


def test_dyn_burst_spills_distributed(spark, burst_qc, monkeypatch):
    """Same discipline on the dynamic-bound tier ladder (lite bounded):
    a moving-window query whose refresh bursts falls through to classic +
    distributed store, exactly."""
    qc = burst_qc
    full = _mk_source(spark)
    cut_ns = CUT_US * 1000
    hi_ns = HI_US * 1000

    full.filter(F.col("ts_ns") < F.lit(cut_ns)).createOrReplaceTempView(
        "burst_ev2"
    )
    qc.config.override_now_ns = cut_ns
    sql = (
        "SELECT k, count(*) AS n FROM burst_ev2 "
        "WHERE ts > now() - INTERVAL 2000 DAYS GROUP BY k"
    )
    qc.sql(sql).collect()

    full.createOrReplaceTempView("burst_ev2")
    qc.config.override_now_ns = hi_ns
    seen = _collect_spy(monkeypatch)
    r2 = qc.sql(sql)
    got = rows_set(r2)
    assert qc.last_decision.cache_hit
    lo_us = (hi_ns // 1000) - 2000 * 86400 * 1_000_000
    exp = rows_set(
        full.filter(F.col("ts") > F.timestamp_micros(F.lit(lo_us)))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got == exp
    assert seen and max(seen) <= CAP + 1
    spark.catalog.dropTempView("burst_ev2")
