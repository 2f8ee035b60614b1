"""The AQE-off execution clone must never leak into the caller's session.

r17 scoped ``spark.sql.adaptive.enabled=false`` by flipping the session-
global runtime conf, so any UNRELATED query planned concurrently lost AQE
(skew splitting / partition coalescing) — the r17 advice's cross-thread
leak. r18 moves small-delta commits onto a per-parent ``newSession()``
clone (spread.exec_session); these tests pin the isolation contract.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import functions as F

from datafusion_query_cache_spark.operators.spread import (
    exec_session,
    on_session,
)


def test_exec_session_isolated_and_cached(spark):
    clone = exec_session(spark)
    assert clone is not None
    # AQE off on the clone, untouched on the parent
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # semantics-bearing confs match the parent
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions",
        "spark.sql.join.preferSortMergeJoin",
    ):
        assert clone.conf.get(k) == spark.conf.get(k)
    # one clone per parent (cached)
    assert exec_session(spark) is clone


def test_on_session_transfer_preserves_rows(spark):
    clone = exec_session(spark)
    df = spark.table("documents").filter("doc_id % 3 = 0").select("doc_id")
    moved = on_session(df, clone)
    assert moved.sparkSession is clone
    assert sorted(r[0] for r in moved.collect()) == sorted(
        r[0] for r in df.collect()
    )
    # AQE off shows in the transferred plan's execution, not the parent's
    plan = moved._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" not in plan


def test_concurrent_ingest_keeps_parent_aqe(spark, tmp_path):
    """An ingest commit running in one thread must not strip AQE from a
    query planned concurrently on the caller's session (the r17 leak)."""
    from datafusion_query_cache_spark.operators.incremental_para_dedup import (
        SubstringDedupIndex,
    )

    docs = spark.table("documents")
    idx = SubstringDedupIndex(str(tmp_path / "sd"), window=12)
    idx.update(docs.filter(F.col("doc_id") <= 250))

    stop = threading.Event()
    seen_adaptive: list[bool] = []
    errs: list[BaseException] = []

    def prober():
        # plan (don't run) an unrelated aggregate repeatedly while the
        # ingest thread commits; every plan must keep AdaptiveSparkPlan
        try:
            while not stop.is_set():
                q = spark.table("events").groupBy("event_type").count()
                plan = q._jdf.queryExecution().executedPlan().toString()
                seen_adaptive.append("AdaptiveSparkPlan" in plan)
                time.sleep(0.002)
        except BaseException as e:  # pragma: no cover
            errs.append(e)

    t = threading.Thread(target=prober, daemon=True)
    t.start()
    try:
        idx.update(docs)  # small delta: runs on the AQE-off clone
    finally:
        stop.set()
        t.join(timeout=30)
    assert not errs
    assert seen_adaptive and all(seen_adaptive)
    # and the parent session conf was never flipped
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def _group_job_stats(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return out, sorted(st.getJobIdsForGroup(tag))


def test_refresh_to_arrow_small_plan_one_nonadaptive_job(qc, spark):
    """A refresh collect whose PLAN is provably small must run as ONE
    Spark job (AQE-off clone), not one stage-job per exchange — and
    return exactly the rows the parent-session collect returns."""
    df = spark.table("events").groupBy("event_type").count()
    expect = sorted(map(tuple, df.collect()))
    tbl, jobs = _group_job_stats(
        spark, "rta-small", lambda: qc._refresh_to_arrow(df, 1000, None)
    )
    assert sorted(tuple(r.values()) for r in tbl.to_pylist()) == expect
    assert len(jobs) == 1


def test_refresh_gate_keeps_aqe_for_big_plan(qc, spark, monkeypatch):
    """A plan estimated big stays on the caller's session, AQE on — decided
    by the gate itself, with no env switch. The big frame is only planned;
    the caller-session collect returns the parent-session rows."""
    from datafusion_query_cache_spark.operators import spread

    big = spark.range(10**13).groupBy(F.col("id") % 7).count()
    # the premise: a LIMIT caps Catalyst's estimate, so gating on the
    # limited frame would call this plan small
    assert not spread.is_small_input(big)
    assert spread.is_small_input(big.limit(500_001))
    chosen = qc._refresh_frame(big, None)
    assert chosen.sparkSession is spark
    plan = chosen._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan

    monkeypatch.setattr(spread, "_SMALL_BYTES", 0)  # every plan is big
    df = spark.table("events").groupBy("event_type").count()
    assert qc._refresh_frame(df, None) is df
    expect = sorted(map(tuple, df.collect()))
    tbl = qc._refresh_to_arrow(df, 1000, None)
    assert sorted(tuple(r.values()) for r in tbl.to_pylist()) == expect
