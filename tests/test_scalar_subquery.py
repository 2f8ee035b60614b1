"""Scalar-subquery aggregates: ``WHERE v > (SELECT avg(v) FROM t)``.

The reference's bottom-up rule rewrites the inner Aggregate like any other
(``src/aggregate.rs:74-76``); here the inner global aggregate runs through
the cached pipeline at plan time, its 1-row value folds into the outer
predicate as a literal, and the outer executes as plain Spark ops (the
outer is deliberately uncached — its fingerprint would churn with every
inner refresh, see ``session._plan_scalar_outer``).
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from tests.conftest import rows_set


def _two_run(qc, spark, sql):
    ev = spark.table("events")
    mx = int(ev.agg(F.max("ts_ns")).collect()[0][0])
    cut_ns = (mx - 2 * 24 * 3600 * 10**9) // 1000 * 1000
    cut = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=cut_ns // 1000)
    ev.filter(F.col("ts") < F.lit(cut)).createOrReplaceTempView("events")
    qc.config.override_now_ns = cut_ns
    try:
        qc.sql(sql).collect()
        assert qc.last_decision.cached, qc.last_decision.reason
        ev.createOrReplaceTempView("events")
        qc.config.override_now_ns = mx + 10**9
        out = qc.sql(sql)
        assert qc.last_decision.cached and qc.last_decision.cache_hit
        return out
    finally:
        ev.createOrReplaceTempView("events")


# -- parsing ------------------------------------------------------------


def test_parse_scalar_subquery():
    from datafusion_query_cache_spark.plans.ir import (
        FilterSpec,
        ScalarSubquery,
    )
    from datafusion_query_cache_spark.plans.parser import (
        parse_query,
        scalar_subqueries,
    )

    s = parse_query(
        "SELECT event_id FROM events "
        "WHERE value > (SELECT avg(value) FROM events)"
    )
    assert isinstance(s, FilterSpec)
    subqs = scalar_subqueries(s)
    assert len(subqs) == 1 and isinstance(subqs[0], ScalarSubquery)
    # the inner spec is a plain single-row AggSpec — the cache entry
    assert subqs[0].spec.table == "events"
    assert len(subqs[0].spec.aggregates) == 1


@pytest.mark.parametrize(
    "sql,msg",
    [
        # grouped inner: not a scalar
        (
            "SELECT event_id FROM events WHERE value > "
            "(SELECT avg(value) FROM events GROUP BY event_type)",
            "one global aggregate",
        ),
        # in ORDER BY: unsupported position
        (
            "SELECT event_id FROM events "
            "ORDER BY (SELECT count(*) FROM events)",
            "scalar subquery in ORDER BY",
        ),
        # r16: STATIC nested scalars now fold (see test_nested_static.py);
        # a VOLATILE inner still refuses — its value moves every run, so
        # the fingerprint-embedded literal would orphan per query
        (
            "SELECT event_id FROM events WHERE value > (SELECT avg(value) "
            "FROM events WHERE value > (SELECT min(value) FROM events "
            "WHERE ts < now()))",
            "nested subquery",
        ),
        # inside a derived table's SELECT items: only WHERE/HAVING fold
        (
            "SELECT n FROM (SELECT event_type, "
            "count(*) / (SELECT count(*) FROM events) AS n FROM events "
            "GROUP BY 1) t",
            "inside a derived table",
        ),
    ],
)
def test_parse_scalar_subquery_unsupported(sql, msg):
    from datafusion_query_cache_spark.plans.ir import Unsupported
    from datafusion_query_cache_spark.plans.parser import parse_query

    with pytest.raises(Unsupported, match=msg):
        parse_query(sql)


def test_parse_exists_handling():
    """r11: the single-equality correlated EXISTS DECORRELATES (see
    test_exists.py); other correlated shapes still stay passthrough."""
    from datafusion_query_cache_spark.plans.ir import InSubquery, Unsupported
    from datafusion_query_cache_spark.plans.parser import (
        parse_query,
        scalar_subqueries,
    )

    s = parse_query(
        "SELECT event_id FROM events e WHERE EXISTS "
        "(SELECT 1 FROM events x WHERE x.event_id = e.event_id)"
    )
    assert isinstance(scalar_subqueries(s)[0], InSubquery)
    with pytest.raises(Unsupported):
        parse_query(
            "SELECT event_id FROM events e WHERE EXISTS "
            "(SELECT 1 FROM events x WHERE x.event_id > e.event_id)"
        )


# -- behavior -----------------------------------------------------------


def test_scalar_subquery_filter_matches_plain(spark, qc_mem):
    sql = (
        "SELECT event_id, value FROM events "
        "WHERE value > (SELECT max(value) FROM events) / 2 ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_scalar_subquery_agg_outer_matches_plain(spark, qc_mem):
    sql = (
        "SELECT event_type, count(*) AS n FROM events "
        "WHERE value > (SELECT max(value) FROM events) / 2 "
        "GROUP BY 1 ORDER BY 1"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_scalar_subquery_in_having(spark, qc_mem):
    sql = (
        "SELECT event_type, count(*) AS n FROM events GROUP BY 1 "
        "HAVING count(*) > (SELECT count(*) FROM events) / 10 ORDER BY 1"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_two_scalar_subqueries_one_entry_each(spark, qc_mem):
    sql = (
        "SELECT event_id FROM events "
        "WHERE value > (SELECT min(value) FROM events) "
        "AND value < (SELECT max(value) FROM events) ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_scalar_subquery_inner_shares_standalone_entry(spark, qc_mem):
    qc_mem.config.override_now_ns = None
    inner = "SELECT max(value) AS m FROM events"
    qc_mem.sql(inner).collect()
    assert qc_mem.last_decision.cached
    fp = qc_mem.last_decision.fingerprint
    qc_mem.sql(
        "SELECT event_id FROM events "
        "WHERE value > (SELECT max(value) AS m FROM events) / 2"
    ).collect()
    d = qc_mem.last_decision
    # the subquery resolved through the SAME cache entry → hit
    assert d.cached and d.cache_hit and d.fingerprint == fp


# -- select-list scalars (share-of-total) --------------------------------


def test_select_scalar_share_of_total_matches_plain(spark, qc_mem):
    sql = (
        "SELECT event_type, count(*) AS n, "
        "round(count(*) / (SELECT count(*) FROM events) + 1e-9, 4) AS share "
        "FROM events GROUP BY 1 ORDER BY share DESC, event_type"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))
    assert "select-list scalar" in qc_mem.last_decision.reason


def test_select_scalar_outer_stays_cached(spark, qc_mem):
    """Unlike the WHERE fold (outer plain), a select-list scalar keeps the
    OUTER aggregate cached: the rollup and the scalar both refresh
    incrementally and the warm read touches no source rows."""
    qc_mem.config.override_now_ns = None
    sql = (
        "SELECT event_type, "
        "count(*) / (SELECT count(*) FROM events) AS share "
        "FROM events GROUP BY 1"
    )
    qc_mem.sql(sql).collect()
    d1 = qc_mem.last_decision
    assert d1.cached and not d1.cache_hit
    out = qc_mem.sql(sql)
    d2 = qc_mem.last_decision
    assert d2.cached and d2.cache_hit  # rollup entry AND scalar entry hit
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_select_scalar_two_scalars_and_limit(spark, qc_mem):
    sql = (
        "SELECT date_trunc('day', ts) AS d, "
        "max(value) - (SELECT min(value) FROM events) AS spread, "
        "round(avg(value) - (SELECT avg(value) FROM events) + 1e-9, 3) "
        "AS delta FROM events GROUP BY 1 ORDER BY 1 LIMIT 10"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_select_scalar_global_outer(spark, qc_mem):
    sql = (
        "SELECT count(*) / (SELECT count(*) FROM events) AS one FROM events"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_select_scalar_plus_where_scalar_runs_plain_outer(spark, qc_mem):
    """WHERE scalar forces the plain-outer path; the select scalar must
    still fold there."""
    qc_mem.config.override_now_ns = None
    sql = (
        "SELECT event_type, "
        "round(count(*) / (SELECT count(*) FROM events) + 1e-9, 4) AS share "
        "FROM events WHERE value > (SELECT max(value) FROM events) / 4 "
        "GROUP BY 1 ORDER BY 1"
    )
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached
    assert "outer plain" in qc_mem.last_decision.reason
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_select_scalar_without_aggregate_passthrough(spark, qc_mem):
    qc_mem.config.override_now_ns = None
    sql = (
        "SELECT event_type, (SELECT count(*) FROM events) AS total "
        "FROM events GROUP BY 1 ORDER BY 1"
    )
    out = qc_mem.sql(sql)
    assert not qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_select_scalar_fingerprint_is_scalar_free(spark, qc_mem):
    """The inner rollup entry must be SHARED with the bare rollup (the
    scalar folds outside the fingerprint), so the bare spelling hits."""
    qc_mem.config.override_now_ns = None
    qc_mem.sql(
        "SELECT event_type, "
        "count(*) / (SELECT count(*) FROM events) AS share "
        "FROM events GROUP BY 1"
    ).collect()
    assert qc_mem.last_decision.cached
    # the same inner state serves a second, differently-scaled scalar
    qc_mem.sql(
        "SELECT event_type, "
        "100 * count(*) / (SELECT count(*) FROM events) AS pct "
        "FROM events GROUP BY 1"
    ).collect()
    d = qc_mem.last_decision
    assert d.cached and d.cache_hit


# -- correlated scalars (r11): decorrelated to broadcast rollup joins ----


def test_correlated_scalar_per_key_threshold(spark, qc_mem):
    """Rows above their own group's average — the per-key threshold
    spelling, decorrelated to a broadcast LEFT JOIN against the cached
    grouped rollup."""
    spark.table("events").createOrReplaceTempView("events_cs")
    sql = (
        "SELECT e.event_id, e.value FROM events e WHERE e.value > "
        "(SELECT avg(x.value) FROM events_cs x "
        "WHERE x.event_type = e.event_type) ORDER BY e.event_id"
    )
    qc_mem.config.override_now_ns = None
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_correlated_scalar_count_empty_group_is_zero(spark, qc_mem):
    """count(*) over an empty correlated set is 0, not NULL — the absent
    key joins to NULL and the count family gets coalesce(…, 0)."""
    spark.table("events").createOrReplaceTempView("events_cs")
    sql = (
        "SELECT count(*) AS n FROM events e WHERE "
        "(SELECT count(*) FROM events_cs x "
        "WHERE x.event_type = e.event_type AND x.value > 1e9) = 0"
    )
    qc_mem.config.override_now_ns = None
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))
    assert out.collect()[0][0] > 0  # every group's filtered count is 0


def test_correlated_scalar_two_run_incremental(spark, qc_mem):
    spark.table("events").createOrReplaceTempView("events_cs")
    # the INNER rollup is over events_cs (static between runs); the outer
    # events view advances — the rollup entry still serves incrementally
    sql = (
        "SELECT e.event_type, count(*) AS n FROM events e WHERE e.value > "
        "(SELECT avg(x.value) FROM events_cs x "
        "WHERE x.event_type = e.event_type) GROUP BY 1 ORDER BY 1"
    )
    out = _two_run(qc_mem, spark, sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_correlated_scalar_unsupported_shapes_passthrough(spark, qc_mem):
    """Composite count expressions and multi-correlation stay passthrough
    — and plain Spark answers them natively (unlike QUALIFY)."""
    spark.table("events").createOrReplaceTempView("events_cs")
    qc_mem.config.override_now_ns = None
    for sql in [
        # count inside a composite: on-empty value not representable
        "SELECT count(*) AS n FROM events e WHERE "
        "(SELECT count(*) + 1 FROM events_cs x "
        "WHERE x.event_type = e.event_type) > 1",
        # a second correlated (non-equality) conjunct
        "SELECT count(*) AS n FROM events e WHERE e.value > "
        "(SELECT max(x.value) FROM events_cs x "
        "WHERE x.user_id = e.user_id AND x.event_id <> e.event_id)",
    ]:
        out = qc_mem.sql(sql)
        assert not qc_mem.last_decision.cached
        assert rows_set(out) == rows_set(spark.sql(sql)), sql


# -- correlated scalars in the SELECT list (r12) -------------------------


def _duck_rows(sql):
    """DuckDB oracle rows for shapes plain Spark cannot run (the
    correlated-scalar-next-to-an-aggregate select item)."""
    import duckdb

    con = duckdb.connect()
    import os

    sf = os.environ.get("QC_TEST_SF_DIR", "/root/testdata/sf0.001")
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    out = []
    for r in con.sql(sql).fetchall():
        out.append(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        )
    return sorted(out, key=repr)


def _round_rows(df):
    out = []
    for r in df.collect():
        out.append(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        )
    return sorted(out, key=repr)


def test_select_corr_scalar_agg_outer_beyond_passthrough(spark, qc_mem):
    """``sum(v) / (SELECT avg(v) WHERE k = o.k)`` next to GROUP BY k —
    plain Spark REFUSES this shape (SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_
    AGGREGATE_FUNCTION); the engine answers it from the cached rollup.
    Oracle: DuckDB."""
    sql = (
        "SELECT event_type, sum(value) / (SELECT avg(value) FROM events e2 "
        "WHERE e2.event_type = o.event_type) AS ratio "
        "FROM events o GROUP BY 1"
    )
    qc_mem.config.override_now_ns = None
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    assert "correlated select scalars" in qc_mem.last_decision.reason
    assert _round_rows(out) == _duck_rows(sql)
    # plain Spark really cannot answer it (the beyond-passthrough claim)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        spark.sql(sql).collect()


def test_select_corr_scalar_count_absent_key_is_zero(spark, qc_mem):
    """count over a correlated set that is empty for some keys → 0 via
    coalesce, not NULL (absent rollup keys join to NULL)."""
    sql = (
        "SELECT event_type, count(*) AS n, "
        "(SELECT count(*) FROM events e2 WHERE "
        "e2.event_type = o.event_type AND e2.value > 1e9) AS big "
        "FROM events o GROUP BY 1"
    )
    qc_mem.config.override_now_ns = None
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    rows = out.collect()
    assert rows and all(r["big"] == 0 for r in rows)
    assert _round_rows(out) == _duck_rows(sql)


def test_select_corr_scalar_two_run_incremental(spark, qc_mem):
    spark.table("events").createOrReplaceTempView("events_cs")
    sql = (
        "SELECT event_type, sum(value) AS sv, "
        "(SELECT avg(value) FROM events_cs e2 "
        "WHERE e2.event_type = o.event_type) AS base "
        "FROM events o GROUP BY 1 ORDER BY 1"
    )
    out = _two_run(qc_mem, spark, sql)
    assert "correlated select scalars" in qc_mem.last_decision.reason
    import duckdb, os

    con = duckdb.connect()
    sf = os.environ.get("QC_TEST_SF_DIR", "/root/testdata/sf0.001")
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    con.sql("CREATE VIEW events_cs AS SELECT * FROM events")
    exp = sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in con.sql(sql).fetchall()
    )
    got = sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in out.collect()
    )
    assert got == exp


def test_select_corr_scalar_filter_outer_matches_plain(spark, qc_mem):
    """Row-level ratio: FilterSpec outer runs plain, the inner rollup is
    cached and broadcast-joined."""
    spark.table("events").createOrReplaceTempView("events_cs")
    sql = (
        "SELECT event_id, value / (SELECT avg(value) FROM events_cs e2 "
        "WHERE e2.event_type = o.event_type) AS share FROM events o"
    )
    qc_mem.config.override_now_ns = None
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_select_uncorr_scalar_filter_outer_matches_plain(spark, qc_mem):
    """Uncorrelated select-item scalar on a non-aggregate outer — folded
    as a plan-time literal (newly admitted by the r12 parser change)."""
    sql = (
        "SELECT event_id, value - (SELECT avg(value) FROM events) AS dev "
        "FROM events WHERE value > 100 ORDER BY event_id LIMIT 20"
    )
    qc_mem.config.override_now_ns = None
    # exact float equality with plain Spark holds for the classic miss,
    # whose avg sums in Spark's order; the nano cold load sums with
    # pyarrow (equal to the last few ulps)
    qc_mem.config.nano_refresh_max_bytes = 0
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in spark.sql(sql).collect()
    ]


def test_select_corr_scalar_unsupported_shapes(spark, qc_mem):
    """Shapes the decorrelation must refuse (passthrough, or Spark's own
    error for shapes Spark also refuses)."""
    from datafusion_query_cache_spark.plans.ir import Unsupported

    qc_mem.config.override_now_ns = None
    # correlation key is NOT a group key → Unsupported inside the planner
    sql_not_group = (
        "SELECT user_id, (SELECT avg(value) FROM events e2 "
        "WHERE e2.event_type = o.event_type) AS base "
        "FROM events o GROUP BY 1"
    )
    # correlated scalar INSIDE an aggregate argument → per-row semantics
    sql_inside_agg = (
        "SELECT event_type, sum(value / (SELECT avg(value) FROM events e2 "
        "WHERE e2.event_type = o.event_type)) AS s "
        "FROM events o GROUP BY 1"
    )
    # mixed: correlated select item + predicate subquery → plain path
    # refuses (joined column would sit unaggregated inside agg())
    sql_mixed = (
        "SELECT event_type, (SELECT avg(value) FROM events e2 "
        "WHERE e2.event_type = o.event_type) AS base, count(*) AS n "
        "FROM events o WHERE value > (SELECT avg(value) FROM events) "
        "GROUP BY 1"
    )
    for sql in (sql_not_group, sql_inside_agg, sql_mixed):
        try:
            qc_mem.sql(sql)
            assert not qc_mem.last_decision.cached, sql
        except Exception:
            # strict-mode rigs surface the passthrough AnalysisException
            # for shapes Spark itself refuses — either way, not cached
            assert not qc_mem.last_decision.cached, sql


# -- multi-equality correlation (r13) ------------------------------------


def test_corr_scalar_two_keys_select_list(spark, qc_mem):
    """SELECT-list correlated scalar with TWO conjunctive equalities →
    composite-key rollup broadcast-joined onto the finalized outer.
    Plain Spark REFUSES this spelling next to GROUP BY — oracle is the
    equivalent handwritten join."""
    sql = (
        "SELECT event_type, user_id % 7 AS ub, sum(value) AS s, "
        "sum(value) / (SELECT avg(e2.value) FROM events e2 "
        "WHERE e2.event_type = events.event_type "
        "AND e2.user_id % 7 = events.user_id % 7) AS ratio "
        "FROM events GROUP BY 1, 2"
    )
    out = _two_run(qc_mem, spark, sql)
    twin = (
        "SELECT a.event_type, a.ub, a.s, a.s / b.av AS ratio FROM "
        "(SELECT event_type, user_id % 7 AS ub, sum(value) AS s "
        " FROM events GROUP BY 1, 2) a LEFT JOIN "
        "(SELECT event_type, user_id % 7 AS ub, avg(value) AS av "
        " FROM events GROUP BY 1, 2) b "
        "ON a.event_type = b.event_type AND a.ub = b.ub"
    )
    assert rows_set(out) == rows_set(spark.sql(twin))


def test_corr_scalar_two_keys_predicate(spark, qc_mem):
    """Predicate-position correlated scalar with two equalities: the
    composite rollup joins onto the raw scan pre-filter; plain Spark
    answers the same SQL — direct twin."""
    sql = (
        "SELECT event_id, value FROM events e "
        "WHERE value > 2 * (SELECT avg(e2.value) FROM events e2 "
        "WHERE e2.event_type = e.event_type AND e2.user_id = e.user_id) "
        "ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in spark.sql(sql).collect()
    ]


def test_corr_exists_two_keys(spark, qc_mem):
    """Two-equality correlated EXISTS → composite-key count rollup,
    coalesce(cnt > 0, FALSE). Plain Spark answers the same SQL."""
    sql = (
        "SELECT event_id, value FROM events e WHERE EXISTS "
        "(SELECT 1 FROM events e2 WHERE e2.event_type = e.event_type "
        "AND e2.user_id = e.user_id AND e2.value > 180) "
        "ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in spark.sql(sql).collect()
    ]


def test_corr_not_exists_two_keys(spark, qc_mem):
    """NOT above the two-key EXISTS fold stays exact (two-valued logic:
    coalesce maps NULL-key and empty-set cases to FALSE before the NOT)."""
    sql = (
        "SELECT event_id FROM events e WHERE NOT EXISTS "
        "(SELECT 1 FROM events e2 WHERE e2.event_type = e.event_type "
        "AND e2.user_id = e.user_id AND e2.value > 180) "
        "ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in spark.sql(sql).collect()
    ]


def test_scalar_subquery_over_joined_inner(spark, qc_mem):
    """r13: joined subquery bodies — the inner star-join aggregate plans
    through the same cached pipeline as a top-level joined aggregate."""
    from pyspark.sql import functions as F

    spark.table("events").select(
        F.col("event_type").alias("t_type")
    ).distinct().withColumn(
        "t_weight", (F.length("t_type") % 3).cast("long")
    ).createOrReplaceTempView("etype_dim3")
    sql = (
        "SELECT event_id, value FROM events WHERE value > 2 * "
        "(SELECT avg(value) FROM events JOIN etype_dim3 ON "
        "event_type = t_type WHERE t_weight = 1) ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in spark.sql(sql).collect()
    ]


def test_in_subquery_over_joined_distinct(spark, qc_mem):
    from pyspark.sql import functions as F

    spark.table("events").select(
        F.col("event_type").alias("t_type")
    ).distinct().withColumn(
        "t_weight", (F.length("t_type") % 3).cast("long")
    ).createOrReplaceTempView("etype_dim3")
    sql = (
        "SELECT event_type, count(*) AS n FROM events WHERE event_type IN "
        "(SELECT DISTINCT t_type FROM events JOIN etype_dim3 ON "
        "event_type = t_type WHERE t_weight = 1) GROUP BY 1 ORDER BY 1"
    )
    out = _two_run(qc_mem, spark, sql)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in spark.sql(sql).collect()
    ]


# -- grouped correlated bodies (r14): GROUP BY on correlation keys -------


def test_corr_grouped_body_shares_ungrouped_entry(spark, qc_mem):
    """A body grouped ON its correlation key is the SAME rollup (the
    equality pins the key, so the group is a no-op): both spellings must
    land on one entry, and results match plain Spark."""
    spark.table("events").createOrReplaceTempView("events_cs")
    qc_mem.config.override_now_ns = None
    ungrouped = (
        "SELECT e.event_type, count(*) AS n FROM events e WHERE e.value > "
        "(SELECT avg(x.value) FROM events_cs x "
        "WHERE x.event_type = e.event_type) GROUP BY 1 ORDER BY 1"
    )
    grouped = (
        "SELECT e.event_type, count(*) AS n FROM events e WHERE e.value > "
        "(SELECT avg(x.value) FROM events_cs x "
        "WHERE x.event_type = e.event_type GROUP BY x.event_type) "
        "GROUP BY 1 ORDER BY 1"
    )
    qc_mem.sql(ungrouped).collect()
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    hist0 = set(qc_mem.config.cache._store)
    out = qc_mem.sql(grouped)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    # no NEW rollup entry: the grouped spelling reused the ungrouped one
    assert set(qc_mem.config.cache._store) == hist0
    assert rows_set(out) == rows_set(spark.sql(grouped))


def test_corr_grouped_body_different_grain_two_run(spark, qc_mem):
    """Predicate spelling, body grouped at a DIFFERENT grain (day) than
    the outer (event_type): two-run incremental, exact vs plain Spark."""
    spark.table("events").createOrReplaceTempView("events_cs")
    sql = (
        "SELECT e.event_type, count(*) AS n FROM events e WHERE e.value > "
        "(SELECT avg(x.value) FROM events_cs x "
        "WHERE date_trunc('day', x.ts) = date_trunc('day', e.ts) "
        "GROUP BY date_trunc('day', x.ts)) GROUP BY 1 ORDER BY 1"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_corr_grouped_select_list_spelling(spark, qc_mem):
    """SELECT-list spelling with a grouped body — beyond passthrough
    (Spark refuses correlated scalars in aggregate context); DuckDB is the
    oracle."""
    import duckdb

    spark.table("events").createOrReplaceTempView("events_cs")
    qc_mem.config.override_now_ns = None
    sql = (
        "SELECT event_type, round(sum(value) / (SELECT avg(value) "
        "FROM events_cs e2 WHERE e2.event_type = e.event_type "
        "GROUP BY e2.event_type), 4) AS rel "
        "FROM events e GROUP BY 1 ORDER BY 1"
    )
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    got = [(r[0], float(r[1])) for r in out.collect()]
    con = duckdb.connect()
    pdf = spark.table("events").toPandas()
    con.register("events", pdf)
    exp = [
        (r[0], float(r[1]))
        for r in con.execute(
            sql.replace("events_cs", "events")
        ).fetchall()
    ]
    assert len(got) == len(exp)
    assert all(
        a[0] == b[0] and abs(a[1] - b[1]) < 1e-9
        for a, b in zip(sorted(got), sorted(exp))
    )


def test_corr_grouped_count_empty_is_null_not_zero(spark, qc_mem):
    """THE semantic distinction: a GROUPED count body yields zero ROWS on
    an empty correlated set (scalar NULL), while the ungrouped body yields
    count=0. Both must match plain Spark exactly."""
    spark.table("events").createOrReplaceTempView("events_cs")
    qc_mem.config.override_now_ns = None
    # per-type rare predicate: some types have qualifying rows, the NULL/0
    # distinction appears for those without any
    hi = spark.sql(
        "SELECT max(value) AS m FROM events WHERE event_type = "
        "(SELECT min(event_type) FROM events)"
    ).collect()[0]["m"]
    ungrouped = (
        "SELECT e.event_type, count(*) AS n FROM events e WHERE "
        "(SELECT count(*) FROM events_cs x WHERE "
        f"x.event_type = e.event_type AND x.value >= {hi}) = 0 "
        "GROUP BY 1 ORDER BY 1"
    )
    grouped = (
        "SELECT e.event_type, count(*) AS n FROM events e WHERE "
        "(SELECT count(*) FROM events_cs x WHERE "
        f"x.event_type = e.event_type AND x.value >= {hi} "
        "GROUP BY x.event_type) = 0 "
        "GROUP BY 1 ORDER BY 1"
    )
    got_u = qc_mem.sql(ungrouped)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    assert rows_set(got_u) == rows_set(spark.sql(ungrouped))
    got_g = qc_mem.sql(grouped)
    assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
    assert rows_set(got_g) == rows_set(spark.sql(grouped))
    # the grouped spelling filters NULL (absent groups), the ungrouped
    # keeps count=0 rows — the two row sets must actually DIFFER here
    assert rows_set(got_u) != rows_set(got_g)


def test_corr_body_having_two_run(spark, qc_mem):
    """HAVING in the body rides the rollup's finalize filter; keys whose
    group fails it vanish → scalar NULL, exactly plain Spark."""
    spark.table("events").createOrReplaceTempView("events_cs")
    sql = (
        "SELECT e.event_type, count(*) AS n FROM events e WHERE e.value > "
        "(SELECT avg(x.value) FROM events_cs x "
        "WHERE x.event_type = e.event_type GROUP BY x.event_type "
        "HAVING count(*) > 10) GROUP BY 1 ORDER BY 1"
    )
    out = _two_run(qc_mem, spark, sql)
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_corr_body_having_distinct_entries(spark, qc_mem):
    """Two bodies differing ONLY in the HAVING literal must not fold to
    one CorrScalar (the r11 EXISTS-fold class, scalar edition)."""
    spark.table("events").createOrReplaceTempView("events_cs")
    qc_mem.config.override_now_ns = None
    t = (
        "SELECT count(*) AS n FROM events e WHERE e.value > "
        "(SELECT avg(x.value) FROM events_cs x "
        "WHERE x.event_type = e.event_type GROUP BY x.event_type "
        "HAVING count(*) > {lit})"
    )
    a = qc_mem.sql(t.format(lit=10)).collect()[0]["n"]
    b = qc_mem.sql(t.format(lit=10**9)).collect()[0]["n"]
    ea = spark.sql(t.format(lit=10)).collect()[0]["n"]
    eb = spark.sql(t.format(lit=10**9)).collect()[0]["n"]
    assert (a, b) == (ea, eb)
    assert b == 0  # impossible HAVING → every scalar NULL → no matches


def test_corr_exists_grouped_and_having(spark, qc_mem):
    """EXISTS over a grouped body ≡ EXISTS over rows (no HAVING); with
    HAVING it rides the count rollup whose keys exist iff the group
    passes — both exact vs plain Spark."""
    spark.table("events").createOrReplaceTempView("events_cs")
    qc_mem.config.override_now_ns = None
    for sql in [
        "SELECT e.event_type, count(*) AS n FROM events e WHERE EXISTS "
        "(SELECT 1 FROM events_cs x WHERE x.user_id = e.user_id "
        "AND x.value > 4.9 GROUP BY x.user_id) GROUP BY 1 ORDER BY 1",
        "SELECT e.event_type, count(*) AS n FROM events e WHERE EXISTS "
        "(SELECT 1 FROM events_cs x WHERE x.user_id = e.user_id "
        "GROUP BY x.user_id HAVING avg(x.value) > 2.5) "
        "GROUP BY 1 ORDER BY 1",
    ]:
        out = qc_mem.sql(sql)
        assert qc_mem.last_decision.cached, qc_mem.last_decision.reason
        assert rows_set(out) == rows_set(spark.sql(sql)), sql


def test_corr_grouped_beyond_keys_passthrough(spark, qc_mem):
    """Grouping beyond the correlation keys can return several rows per
    outer row — refuse, so plain Spark's own error stays authoritative."""
    spark.table("events").createOrReplaceTempView("events_cs")
    qc_mem.config.override_now_ns = None
    with pytest.raises(Exception, match="MORE_THAN_ONE|TOO_MANY_ROWS"):
        qc_mem.sql(
            "SELECT count(*) AS n FROM events e WHERE e.value > "
            "(SELECT avg(x.value) FROM events_cs x "
            "WHERE x.user_id = e.user_id GROUP BY x.event_type)"
        ).collect()
    assert not qc_mem.last_decision.cached
