"""Simple filter (non-aggregate) query caching — reference README.md:130's
unimplemented checkbox, implemented here as incrementally-appended row sets
and incrementally-maintained top-k."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from tests.conftest import rows_set


@pytest.fixture()
def split(spark):
    ev = spark.table("events")
    cut_us = int(ev.approxQuantile("ts_ns", [0.5], 0.0)[0]) // 1000
    cut_ns = cut_us * 1000
    cut = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=cut_us)

    def run1():
        ev.filter(F.col("ts") < F.lit(cut)).createOrReplaceTempView("events_f")

    def run2():
        ev.createOrReplaceTempView("events_f")

    yield run1, run2, cut_ns
    spark.catalog.dropTempView("events_f")


FILTER_SQL = (
    "SELECT event_id, event_type, value FROM events_f WHERE value > 100"
)
TOPK_SQL = (
    "SELECT event_id, value FROM events_f WHERE event_type = 'click' "
    "ORDER BY value DESC, event_id LIMIT 15"
)


def test_filter_rows_incremental(spark, qc, split):
    run1, run2, cut_ns = split
    run1()
    qc.config.override_now_ns = cut_ns
    r1 = qc.sql(FILTER_SQL)
    assert qc.last_decision.cached and not qc.last_decision.cache_hit
    assert rows_set(r1) == rows_set(spark.sql(FILTER_SQL))

    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    r2 = qc.sql(FILTER_SQL)
    assert qc.last_decision.cache_hit
    assert rows_set(r2) == rows_set(spark.sql(FILTER_SQL))


def test_filter_rows_multiple_refreshes_compact(spark, qc, split):
    """Many refreshes: parts accumulate and compact; result stays exact."""
    run1, run2, cut_ns = split
    ev = spark.table("events")
    qs = [0.2, 0.4, 0.6, 0.8, 1.0]
    cuts = [int(ev.approxQuantile("ts_ns", [q], 0.0)[0]) // 1000 * 1000 for q in qs]
    cuts[-1] = cuts[-1] + 10**12
    for i, c_ns in enumerate(cuts):
        c = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=c_ns // 1000)
        ev.filter(F.col("ts") < F.lit(c)).createOrReplaceTempView("events_f")
        qc.config.override_now_ns = c_ns
        out = qc.sql(FILTER_SQL)
        if i:
            assert qc.last_decision.cache_hit
        assert rows_set(out) == rows_set(spark.sql(FILTER_SQL))


def test_topk_maintained_incrementally(spark, qc, split):
    run1, run2, cut_ns = split
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(TOPK_SQL).collect()
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(TOPK_SQL)
    assert qc.last_decision.cache_hit
    assert rows_set(got) == rows_set(spark.sql(TOPK_SQL))
    # state stays k rows, not the whole history
    state = qc.config.cache.entry(qc.last_decision.fingerprint)
    assert state.get(spark).count() == 15


def test_select_star_cached(spark, qc, split):
    run1, run2, cut_ns = split
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    sql = "SELECT * FROM events_f WHERE value > 400"
    got = qc.sql(sql)
    assert qc.last_decision.cached
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_limit_without_order_passthrough(qc, spark):
    qc.sql("SELECT event_id FROM events LIMIT 5")
    assert not qc.last_decision.cached
    assert "LIMIT without ORDER BY" in qc.last_decision.reason


def test_volatile_filter_passthrough(qc, spark):
    qc.sql("SELECT event_id FROM events WHERE value > random()")
    assert not qc.last_decision.cached


# --- semantic subsumption (serve `value > 2` from the `value > 1` row set) --


def test_predicate_implies_table():
    from datafusion_query_cache_spark.plans.classify import predicate_implies
    from datafusion_query_cache_spark.plans.ir import BinOp, Col, Lit

    def gt(c, v):
        return BinOp(">", Col(c), Lit(v, "DOUBLE"))

    def ge(c, v):
        return BinOp(">=", Col(c), Lit(v, "DOUBLE"))

    def lt(c, v):
        return BinOp("<", Col(c), Lit(v, "DOUBLE"))

    def eq(c, v):
        return BinOp("=", Col(c), Lit(v, "DOUBLE"))

    AND = lambda a, b: BinOp("and", a, b)

    assert predicate_implies(gt("v", 2), gt("v", 1))
    assert predicate_implies(gt("v", 1), gt("v", 1))
    assert not predicate_implies(gt("v", 1), gt("v", 2))
    assert predicate_implies(ge("v", 2), gt("v", 1))
    assert not predicate_implies(ge("v", 1), gt("v", 1))  # v=1 breaks it
    assert predicate_implies(eq("v", 5), gt("v", 1))
    assert predicate_implies(lt("v", 1), lt("v", 2))
    assert not predicate_implies(lt("v", 3), lt("v", 2))
    # conjunctions: every weak conjunct needs an implying strong conjunct
    assert predicate_implies(AND(gt("v", 2), eq("t", 1)), gt("v", 1))
    assert predicate_implies(AND(gt("v", 2), eq("t", 1)), AND(gt("v", 1), eq("t", 1)))
    assert not predicate_implies(gt("v", 2), AND(gt("v", 1), eq("t", 1)))
    # different columns never imply
    assert not predicate_implies(gt("u", 5), gt("v", 1))
    # reversed literal side normalizes: 1 < v  ≡  v > 1
    assert predicate_implies(gt("v", 2), BinOp("<", Lit(1, "DOUBLE"), Col("v")))
    # weaker=None (no predicate) is implied by anything
    assert predicate_implies(gt("v", 2), None)
    assert not predicate_implies(None, gt("v", 1))


def test_filter_semantic_subsumption_hit(spark, qc):
    """A never-before-seen stronger filter is served from the weaker entry's
    row set + a scan of only rows past the donor's watermark."""
    from pyspark.sql import functions as F

    from tests.conftest import rows_set

    ev = spark.table("events")
    cut_ns = int(ev.approxQuantile("ts_ns", [0.5], 0.0)[0])
    weak_sql = "SELECT event_id, event_type, value FROM events_sub WHERE value > 50"
    strong_sql = "SELECT event_id, event_type, value FROM events_sub WHERE value > 100"

    qc.config.override_now_ns = cut_ns
    ev.filter(F.col("ts_ns") < F.lit(cut_ns)).createOrReplaceTempView("events_sub")
    qc.sql(weak_sql).collect()  # populate the donor
    assert qc.last_decision.cached and not qc.last_decision.cache_hit

    # full data arrives; the STRONGER query has no entry of its own yet
    ev.createOrReplaceTempView("events_sub")
    qc.config.override_now_ns = cut_ns + 10**18
    got = qc.sql(strong_sql)
    d = qc.last_decision
    assert d.cached and d.cache_hit and d.semantic_donor is not None
    assert d.watermark_ns == cut_ns  # scanned only [donor_wm, now)
    assert rows_set(got) == rows_set(spark.sql(strong_sql))

    # and the new entry now refreshes independently (a plain hit)
    qc.config.override_now_ns = cut_ns + 2 * 10**18
    got2 = qc.sql(strong_sql)
    assert qc.last_decision.cache_hit and qc.last_decision.semantic_donor is None
    assert rows_set(got2) == rows_set(spark.sql(strong_sql))


def test_filter_subsumption_rejects_topk_donor(spark, qc):
    """A maintained top-k donor is NOT a row superset — must not be used."""
    from pyspark.sql import functions as F

    from tests.conftest import rows_set

    ev = spark.table("events")
    cut_ns = int(ev.approxQuantile("ts_ns", [0.5], 0.0)[0])
    topk_sql = (
        "SELECT event_id, value FROM events_sub WHERE value > 50 "
        "ORDER BY value DESC LIMIT 5"
    )
    strong_sql = "SELECT event_id, value FROM events_sub WHERE value > 100"
    qc.config.override_now_ns = cut_ns
    ev.filter(F.col("ts_ns") < F.lit(cut_ns)).createOrReplaceTempView("events_sub")
    qc.sql(topk_sql).collect()
    ev.createOrReplaceTempView("events_sub")
    qc.config.override_now_ns = cut_ns + 10**18
    got = qc.sql(strong_sql)
    assert qc.last_decision.semantic_donor is None  # full miss, not subsumed
    assert rows_set(got) == rows_set(spark.sql(strong_sql))


# --- state layout & size bounds (VERDICT r2 item 6) ------------------------


def test_rowset_state_partitioned_by_date(spark, qc, split):
    """Non-top-k row-set state is stored hive-partitioned by the temporal
    DATE (hidden __qc_d column): at 100x the state is big data, and a
    date-partitioned layout makes temporally-bounded reads of it prune
    whole directories."""
    import os

    run1, run2, cut_ns = split
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(FILTER_SQL).collect()
    entry = qc.config.cache.entry(qc.last_decision.fingerprint)
    # layout: every part dir contains __qc_d=<date> hive subdirectories
    part_dirs = [
        os.path.join(entry._dir, p)
        for p in (entry._meta.get("parts") or [entry._meta["state"]])
    ]
    assert part_dirs
    for pd in part_dirs:
        subs = [d for d in os.listdir(pd) if d.startswith("__qc_d=")]
        assert subs, f"no hive partition dirs under {pd}"
    # rows are tracked in meta so the size cap is enforceable
    assert entry.state_rows() == spark.sql(FILTER_SQL).count()

    # pruned read: a date-bounded read of the state lists only matching
    # partition directories (PartitionFilters, not a full-state scan)
    state = entry.get(spark)
    one_day = sorted(
        r["__qc_d"] for r in state.select("__qc_d").distinct().collect()
    )[0]
    bounded = state.filter(F.col("__qc_d") == F.lit(one_day))
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "__qc_d" in m.group(1), plan[:1500]


def test_rowset_state_cap_passthrough(spark, split):
    """Past config.filter_state_max_rows the engine refuses to keep growing
    row-set state: the query degrades to passthrough (correct, uncached)."""
    from datafusion_query_cache_spark import (
        CachedSparkSession,
        MemoryQueryCache,
        QueryCacheConfig,
    )

    run1, run2, cut_ns = split
    cfg = QueryCacheConfig(
        cache=MemoryQueryCache(),
        default_temporal_column="ts",
        override_now_ns=cut_ns,
        filter_state_max_rows=10,  # tiny cap: first run exceeds it
    )
    qc = CachedSparkSession(spark, cfg)
    run1()
    r1 = qc.sql(FILTER_SQL)
    assert qc.last_decision.cached  # first materialization is under way
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    r2 = qc.sql(FILTER_SQL)
    # state (71 rows) now exceeds the cap: passthrough, still correct
    assert not qc.last_decision.cached
    assert "filter_state_max_rows" in (qc.last_decision.reason or "")
    assert rows_set(r2) == rows_set(spark.sql(FILTER_SQL))


def test_stale_state_replaced_not_appended(spark, qc, split):
    """ADVICE r3 (high): an occupied entry whose state fails schema
    validation must be REPLACED by the recompute, not appended to — a plain
    append returns stale-state ∪ full-recompute (duplicated rows)."""
    run1, run2, cut_ns = split
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(FILTER_SQL).collect()
    fp = qc.last_decision.fingerprint

    # Simulate a pre-existing-version entry: rewrite the stored state
    # WITHOUT the hidden __qc_d partition column (guaranteed mismatch).
    entry = qc.config.cache.entry(fp)
    old = entry.get(spark)
    assert "__qc_d" in old.columns
    entry.put(entry.watermark_ns, old.drop("__qc_d"), spark)

    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    r2 = qc.sql(FILTER_SQL)
    assert not qc.last_decision.cache_hit  # recompute path
    got = [r["event_id"] for r in r2.select("event_id").collect()]
    assert len(got) == len(set(got)), "stale state appended: duplicated rows"
    assert rows_set(r2) == rows_set(spark.sql(FILTER_SQL))

    # and the REPLACED state must serve the next (valid) hit correctly
    qc.config.override_now_ns = cut_ns + 2 * 10**17
    r3 = qc.sql(FILTER_SQL)
    assert qc.last_decision.cache_hit
    assert rows_set(r3) == rows_set(spark.sql(FILTER_SQL))


def test_stale_state_replaced_memory_backend(spark, qc_mem, split):
    """Same invariant on the memory backend (its append concatenates
    pandas frames, which would silently duplicate instead of throwing)."""
    run1, run2, cut_ns = split
    qc = qc_mem
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(FILTER_SQL).collect()
    fp = qc.last_decision.fingerprint
    entry = qc.config.cache.entry(fp)
    entry.put(entry.watermark_ns, entry.get(spark).drop("__qc_d"), spark)

    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    r2 = qc.sql(FILTER_SQL)
    assert not qc.last_decision.cache_hit
    got = [r["event_id"] for r in r2.select("event_id").collect()]
    assert len(got) == len(set(got)), "stale state appended: duplicated rows"
    assert rows_set(r2) == rows_set(spark.sql(FILTER_SQL))


def _ordered(df):
    return [tuple(r) for r in df.collect()]


def _plain_at(spark, sql: str, now_ns: int):
    lit_dt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=now_ns // 1000)
    lit = f"TIMESTAMP '{lit_dt.isoformat(sep=' ')}'"
    return spark.sql(sql.replace("WHERE ", f"WHERE ts < {lit} AND ", 1))


@pytest.mark.parametrize(
    "pred",
    ["event_type = 'click'", "event_type = 'click' AND ts > TIMESTAMP '2024-01-10'"],
    ids=["plain", "ts_lower"],
)
def test_topk_nano_tier_on_registered_source(spark, qc, pred):
    """Maintained top-k over a source registered through
    register_parquet_view refreshes on the DRIVER tier (zero Spark jobs,
    nano.NanoTopKProgram): tier pinned AND the ORDERED rows equal plain
    Spark with now() pinned to the same literal — also under a static
    bound on the temporal column (folded to an exact µs instant)."""
    ev = spark.table("events")
    mx_ns = int(ev.agg(F.max("ts_ns")).collect()[0][0])
    day = 24 * 3600 * 10**9
    nows = [mx_ns - 3 * day, mx_ns - 2 * day, mx_ns - day, mx_ns + 1]
    sql = (
        f"SELECT event_id, value FROM events WHERE {pred} "
        "ORDER BY value DESC, event_id LIMIT 10"
    )
    qc.config.override_now_ns = nows[0]
    qc.sql(sql).collect()  # miss
    assert not qc.last_decision.cache_hit
    for now_ns in nows[1:]:
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert qc.last_decision.cache_hit
        assert qc.last_decision.refresh_tier == "nano"
        assert _ordered(got) == _ordered(_plain_at(spark, sql, now_ns))


def test_topk_nano_nulls_mixed_order_exact(spark, qc, tmp_path):
    """NULLS in a sort column with MIXED directions and an explicit NULLS
    FIRST: the driver mirror must reproduce Spark's per-key null
    placement exactly (pyarrow's global null_placement can't — the tier
    uses per-key is-null helper keys)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000
    vals = [None if i % 5 == 0 else float(i % 7) for i in range(40)]
    tbl = pa.table(
        {
            "ts": pa.array(
                [base_us + i * day_us // 4 for i in range(40)],
                pa.timestamp("us"),
            ),
            "id": pa.array(range(40), pa.int64()),
            "v": pa.array(vals, pa.float64()),
        }
    )
    p = str(tmp_path / "nulltopk.parquet")
    pq.write_table(tbl, p)
    register_parquet_view(spark, "nulltopk_events", p)
    sql = (
        "SELECT id, v FROM nulltopk_events WHERE id >= 0 "
        "ORDER BY v DESC NULLS FIRST, id LIMIT 7"
    )
    day_ns = day_us * 1000
    t0 = (base_us + 5 * day_us) * 1000
    qc.config.override_now_ns = t0
    qc.sql(sql).collect()  # miss
    for i, now_ns in enumerate([t0 + day_ns, t0 + 2 * day_ns, t0 + 11 * day_ns]):
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert qc.last_decision.refresh_tier == "nano", f"refresh {i}"
        assert _ordered(got) == _ordered(_plain_at(spark, sql, now_ns)), (
            f"refresh {i}"
        )


def test_topk_nano_drift_falls_back_then_resumes(spark, qc, tmp_path):
    """A grown/re-registered source drops the memoized top-k program: the
    refresh answers exactly on the Spark path, the next one rebuilds the
    driver tier over the new files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_query_cache_spark.sources.tables import register_parquet_view

    base_us = 1_709_251_200_000_000
    day_us = 24 * 3600 * 1_000_000

    def write(n):
        t = pa.table(
            {
                "ts": pa.array(
                    [base_us + i * day_us // 4 for i in range(n)],
                    pa.timestamp("us"),
                ),
                "id": pa.array(range(n), pa.int64()),
                "v": pa.array([float((i * 13) % 29) for i in range(n)]),
            }
        )
        p = str(tmp_path / "growtopk.parquet")
        pq.write_table(t, p)
        return p

    p = write(30)
    register_parquet_view(spark, "growtopk_events", p)
    sql = (
        "SELECT id, v FROM growtopk_events WHERE v > 1 "
        "ORDER BY v DESC, id LIMIT 5"
    )
    day_ns = day_us * 1000
    t0 = (base_us + 5 * day_us) * 1000
    qc.config.override_now_ns = t0
    qc.sql(sql).collect()  # miss
    qc.config.override_now_ns = t0 + day_ns
    qc.sql(sql).collect()
    assert qc.last_decision.refresh_tier == "nano"

    write(50)  # source grows (rewritten in place)
    register_parquet_view(spark, "growtopk_events", p)
    t2 = t0 + 3 * day_ns
    qc.config.override_now_ns = t2
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit
    assert qc.last_decision.refresh_tier == "topk"  # Spark path served
    assert _ordered(got) == _ordered(_plain_at(spark, sql, t2))
    t3 = t2 + day_ns
    qc.config.override_now_ns = t3
    got = qc.sql(sql)
    assert qc.last_decision.refresh_tier == "nano"
    assert _ordered(got) == _ordered(_plain_at(spark, sql, t3))


def test_topk_non_column_item_stays_on_spark_path(spark, qc, split):
    """A computed select item (value * 2) is outside the driver mirror:
    the warm refresh must stay on the Spark path and stay exact."""
    run1, run2, cut_ns = split
    run2()
    sql = (
        "SELECT event_id, value * 2 AS v2 FROM events WHERE value > 1 "
        "ORDER BY v2 DESC, event_id LIMIT 8"
    )
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()  # miss
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit
    assert qc.last_decision.refresh_tier == "topk"  # Spark, not driver, tier
    assert _ordered(got) == _ordered(_plain_at(spark, sql, cut_ns + 10**17))


def test_filter_regressed_now_no_duplicates(spark, qc, split):
    """override_now_ns below the stored watermark (replay knob) must be a
    hot read: no scan, no store, watermark NOT regressed — a regressed
    store would make the next refresh rescan already-stored rows into
    duplicates (r9 review find)."""
    run1, run2, cut_ns = split
    run2()  # full view throughout: only now moves
    sql = "SELECT event_id, value FROM events WHERE value > 10"
    day = 24 * 3600 * 10**9
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()  # miss: rows as-of cut
    fp = qc.last_decision.fingerprint
    wm0 = qc.config.cache.entry(fp).watermark_ns

    qc.config.override_now_ns = cut_ns - 2 * day  # regress below watermark
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit
    rows_regressed = sorted(tuple(r) for r in got.collect())
    assert qc.config.cache.entry(fp).watermark_ns == wm0  # NOT regressed

    qc.config.override_now_ns = cut_ns + 10**17  # advance past all data
    got2 = sorted(tuple(r) for r in qc.sql(sql).collect())
    want = sorted(tuple(r) for r in spark.sql(sql).collect())
    assert got2 == want  # exact — in particular, no duplicated rows
    assert len(rows_regressed) == len(set(rows_regressed))


def test_rowset_state_corruption_self_heals(spark, qc):
    """r10 fuzz find (seed 31337 trial 123): the row-set result LAZILY
    scans the state parquet, so a vandalized part file used to surface as
    the CALLER's FAILED_READ_FILE at collect time. Plan-time footer
    verification must convert it into a self-healed recompute."""
    import glob
    import os

    from pyspark.sql import functions as F

    ev = spark.table("events")
    mx = int(ev.agg(F.max("ts_ns")).collect()[0][0])
    day = 24 * 3600 * 10**9
    sql = (
        "SELECT event_id, event_type, value FROM events "
        "WHERE event_type IN ('click', 'purchase')"
    )
    qc.config.override_now_ns = mx - 2 * day
    qc.sql(sql).collect()
    assert qc.last_decision.cached
    qc.config.override_now_ns = mx - day
    qc.sql(sql).collect()  # one append so multiple part dirs exist

    root = qc.config.cache.root
    victims = [
        f
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    ]
    assert victims
    with open(victims[0], "wb") as fh:
        fh.write(b"\x00CORRUPT")  # truncate: footer gone

    qc.config.override_now_ns = mx + 1
    out = qc.sql(sql)
    got = sorted(tuple(r) for r in out.collect())  # must NOT raise
    assert qc.last_decision.cached
    want = sorted(
        tuple(r)
        for r in spark.sql(
            f"SELECT event_id, event_type, value FROM events "
            f"WHERE event_type IN ('click', 'purchase') AND ts_ns < {mx + 1}"
        ).collect()
    )
    assert got == want
