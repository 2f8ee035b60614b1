"""Uncorrelated [NOT] EXISTS aggregates: ``WHERE EXISTS (SELECT ... FROM t
GROUP BY/HAVING ...)``.

Strictly simpler than the IN fold (``test_in_subquery.py``): the inner
aggregate runs through the cached pipeline at plan time and a single
``limit(1)`` row-existence probe folds to a TRUE/FALSE literal — EXISTS is
never NULL, so there are no three-valued-logic cases. NOT EXISTS arrives as
a NOT above the fold. The reference's bottom-up rule caches the inner
Aggregate wherever it sits (``src/aggregate.rs:74-76``); correlated shapes
stay passthrough (``_reject_foreign_qualifiers``).
"""

from __future__ import annotations

import pytest

from tests.conftest import rows_set
from tests.test_scalar_subquery import _two_run


# -- parsing ------------------------------------------------------------


def test_parse_exists():
    from datafusion_query_cache_spark.plans.ir import (
        ExistsSubquery,
        FilterSpec,
    )
    from datafusion_query_cache_spark.plans.parser import (
        parse_query,
        scalar_subqueries,
    )

    s = parse_query(
        "SELECT event_id FROM events WHERE EXISTS "
        "(SELECT event_type FROM events GROUP BY 1 HAVING count(*) > 3)"
    )
    assert isinstance(s, FilterSpec)
    subqs = scalar_subqueries(s)
    assert len(subqs) == 1 and isinstance(subqs[0], ExistsSubquery)
    inner = subqs[0].spec
    assert inner.table == "events" and len(inner.group_by) == 1


def test_parse_correlated_exists_decorrelates():
    """The top-5 analyst spelling decorrelates to a DISTINCT-IN wrapped in
    coalesce(…, FALSE) — exact EXISTS two-valued logic."""
    from datafusion_query_cache_spark.plans.ir import Func, InSubquery, Lit
    from datafusion_query_cache_spark.plans.parser import (
        parse_query,
        scalar_subqueries,
    )

    s = parse_query(
        "SELECT event_id FROM events e WHERE EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = e.user_id "
        "AND o.o_totalprice > 100)"
    )
    subqs = scalar_subqueries(s)
    assert len(subqs) == 1 and isinstance(subqs[0], InSubquery)
    # the wrapper is coalesce(IN, FALSE)
    wrap = [
        n for n in s.predicate.walk()
        if isinstance(n, Func) and n.name == "coalesce"
    ]
    assert wrap and isinstance(wrap[0].args[0], InSubquery)
    assert isinstance(wrap[0].args[1], Lit) and wrap[0].args[1].value is False
    inner = subqs[0].spec
    assert inner.table == "orders"


def test_parse_correlated_exists_rejected_shapes():
    from datafusion_query_cache_spark.plans.ir import Unsupported
    from datafusion_query_cache_spark.plans.parser import parse_query

    # non-equality correlation
    with pytest.raises(Unsupported, match="correlat"):
        parse_query(
            "SELECT event_id FROM events e WHERE EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey > e.user_id)"
        )
    # two correlated equalities: SUPPORTED since r13 (composite-key count
    # rollup); must lower to a CorrScalar-based predicate, not refuse
    from datafusion_query_cache_spark.plans.ir import CorrScalar

    spec = parse_query(
        "SELECT event_id FROM events e WHERE EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = e.user_id "
        "AND o.o_orderkey = e.event_id)"
    )
    cs = [n for n in spec.predicate.walk() if isinstance(n, CorrScalar)]
    assert len(cs) == 1 and len(cs[0].outer_keys) == 2 and cs[0].count_like
    # outer reference outside the correlated equality
    with pytest.raises(Unsupported, match="correlat"):
        parse_query(
            "SELECT event_id FROM events e WHERE EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = e.user_id "
            "AND o.o_totalprice > e.value)"
        )


# -- behavior -----------------------------------------------------------


def test_exists_true_filter_outer(spark, qc_mem):
    sql = (
        "SELECT event_id, value FROM events WHERE value > 100 AND EXISTS "
        "(SELECT event_type FROM events GROUP BY 1 HAVING count(*) > 5) "
        "ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_exists_false_empties_result(spark, qc_mem):
    # no group can exceed this count: the fold is FALSE, the outer is empty
    sql = (
        "SELECT event_id FROM events WHERE value >= 0 AND EXISTS "
        "(SELECT event_type FROM events GROUP BY 1 "
        "HAVING count(*) > 100000000)"
    )
    out = _two_run(qc_mem, spark, sql)
    assert qc_mem.last_decision.cached
    assert out.count() == 0
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_not_exists_flips(spark, qc_mem):
    sql = (
        "SELECT count(*) AS n FROM events WHERE NOT EXISTS "
        "(SELECT event_type FROM events GROUP BY 1 "
        "HAVING count(*) > 100000000)"
    )
    out = _two_run(qc_mem, spark, sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))
    assert out.collect()[0][0] > 0  # inner empty → NOT EXISTS keeps all


def test_exists_global_inner_always_true(spark, qc_mem):
    # a global aggregate yields exactly one row even over zero input rows:
    # EXISTS over it is structurally TRUE (same in DuckDB/Spark)
    sql = (
        "SELECT count(*) AS n FROM events WHERE EXISTS "
        "(SELECT max(value) FROM events WHERE value > 1e18)"
    )
    out = _two_run(qc_mem, spark, sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_exists_shares_standalone_entry(spark, qc_mem):
    """The EXISTS body and the standalone spelling hit ONE cache entry."""
    qc_mem.config.override_now_ns = None
    inner = "SELECT event_type FROM events GROUP BY 1 HAVING count(*) > 50"
    qc_mem.sql(inner).collect()
    assert qc_mem.last_decision.cached
    fp = qc_mem.last_decision.fingerprint
    qc_mem.sql(
        f"SELECT event_id FROM events WHERE EXISTS ({inner})"
    ).collect()
    d = qc_mem.last_decision
    assert d.cached and d.cache_hit and d.fingerprint == fp


def test_exists_combines_with_in_and_scalar(spark, qc_mem):
    # all three subquery folds in one predicate, each inner its own entry
    sql = (
        "SELECT event_id, value FROM events "
        "WHERE value > (SELECT max(value) FROM events) / 2 "
        "AND event_type IN (SELECT event_type FROM events GROUP BY 1 "
        "HAVING avg(value) > 50) "
        "AND EXISTS (SELECT event_type FROM events GROUP BY 1 "
        "HAVING count(*) > 5) ORDER BY event_id"
    )
    out = _two_run(qc_mem, spark, sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_having_variants_do_not_share_plans(spark, qc_mem):
    """r11 regression: the plan/tier-program memos are keyed on spec.canon(),
    which EXCLUDES having — two queries differing only in the HAVING
    literal must not reuse each other's compiled __qc_having finalize
    (found via a query with two EXISTS inners; it also hit back-to-back
    standalone having-variants in one session)."""
    qc_mem.config.override_now_ns = None
    a = qc_mem.sql(
        "SELECT event_type FROM events GROUP BY 1 HAVING count(*) > 5"
    ).count()
    b = qc_mem.sql(
        "SELECT event_type FROM events GROUP BY 1 "
        "HAVING count(*) > 100000000"
    ).count()
    assert a > 0 and b == 0


def test_correlated_exists_matches_plain(spark, qc_mem):
    sql = (
        "SELECT e.event_id, e.value FROM events e WHERE e.value > 100 "
        "AND EXISTS (SELECT 1 FROM events2 x "
        "WHERE x.event_type = e.event_type AND x.value > 180) "
        "ORDER BY e.event_id"
    )
    ev = spark.table("events")
    ev.createOrReplaceTempView("events2")
    out = _two_run(qc_mem, spark, sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))


def test_correlated_not_exists_matches_plain(spark, qc_mem):
    # NOT EXISTS with NULL-key rows: coalesce(IN, FALSE) keeps NOT exact
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, None, base), (2, "a", base), (3, "zz_unmatched", base)],
        "id int, k string, ts timestamp",
    ).createOrReplaceTempView("probe")
    spark.createDataFrame(
        [("a", base), (None, base)], "k string, ts timestamp"
    ).createOrReplaceTempView("vals")
    sql = (
        "SELECT p.id FROM probe p WHERE NOT EXISTS "
        "(SELECT 1 FROM vals v WHERE v.k = p.k) ORDER BY p.id"
    )
    qc_mem.config.override_now_ns = None
    out = qc_mem.sql(sql)
    assert qc_mem.last_decision.cached
    assert rows_set(out) == rows_set(spark.sql(sql))
    # NULL-key and unmatched probe rows survive NOT EXISTS (ids 1 and 3)
    assert [r[0] for r in out.collect()] == [1, 3]
