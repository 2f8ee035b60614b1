"""FULL OUTER aggregates on the cached path (r15 composite plan).

The union-merge seam cannot maintain FULL OUTER directly (dim-side
NULL-extended rows retract on fresh matches — the r14 refusal), so the
session composes maintainable pieces: cached LEFT half +
cached monotone matched-dim-set + an O(dim) anti side recomputed per
query. These tests pin exactness vs plain Spark — including the
retraction case the seam itself cannot express."""

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
        ev.filter(F.col("ts") < F.lit(cut)).createOrReplaceTempView(
            "events_fo"
        )

    def run2():
        ev.createOrReplaceTempView("events_fo")

    yield run1, run2, cut_ns, cut
    spark.catalog.dropTempView("events_fo")


@pytest.fixture()
def fo_dim(spark):
    # uid-keyed dim with holes on BOTH sides: uids 900+ never match,
    # and plenty of fact uids have no dim row
    spark.range(200).select(
        (F.col("id") + 900).alias("uid"),
        F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias(
            "segment"
        ),
    ).unionByName(
        spark.range(20).select(
            F.col("id").alias("uid"),
            F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias(
                "segment"
            ),
        )
    ).createOrReplaceTempView("fo_dim")
    yield
    spark.catalog.dropTempView("fo_dim")


FO_SQL = (
    "SELECT segment, count(ts) AS nf, count(*) AS n, "
    "round(sum(value), 2) AS sv, round(avg(value), 2) AS av "
    "FROM events_fo FULL JOIN fo_dim ON user_id = uid "
    "GROUP BY 1 ORDER BY 1"
)


def test_full_outer_two_run_exact(spark, qc, split, fo_dim):
    run1, run2, cut_ns, _cut = split
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(FO_SQL).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(FO_SQL)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(FO_SQL))
    # the never-matched dim rows contribute NULL-fact rows: every
    # segment has 40 uid>=900 dim rows, so n exceeds count(ts) by >= 40
    assert all(r["n"] >= r["nf"] + 40 for r in got.collect())


def test_full_outer_retraction_on_late_match(spark, qc, split):
    """THE case the union-merge seam cannot express: a dim row matched
    only by second-half facts is NULL-extended in run 1 and must lose
    that extension (retract) on the warm run-2 read."""
    run1, run2, cut_ns, cut = split
    ev = spark.table("events")
    h1 = [
        int(r[0])
        for r in ev.filter(F.col("ts") < F.lit(cut))
        .select("event_id")
        .limit(5)
        .collect()
    ]
    h2 = [
        int(r[0])
        for r in ev.filter(F.col("ts") >= F.lit(cut))
        .select("event_id")
        .limit(5)
        .collect()
    ]
    rows = (
        [(e, "early") for e in h1]
        + [(e, "late") for e in h2]
        + [(88880001, "never"), (88880002, "never")]
    )
    spark.createDataFrame(rows, "eid long, segment string").createOrReplaceTempView(
        "fo_dim_r"
    )
    sql = (
        "SELECT segment, count(ts) AS nf, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim_r ON event_id = eid GROUP BY 1 ORDER BY 1"
    )
    try:
        run1()
        qc.config.override_now_ns = cut_ns
        r1 = {r["segment"]: (r["nf"], r["n"]) for r in qc.sql(sql).collect()}
        assert r1["late"] == (0, 5)  # NULL-extended: not matched yet
        run2()
        qc.config.override_now_ns = cut_ns + 10**17
        got = qc.sql(sql)
        assert qc.last_decision.cache_hit, qc.last_decision.reason
        r2 = {r["segment"]: (r["nf"], r["n"]) for r in got.collect()}
        assert r2["late"] == (5, 5)  # retracted: matched by fresh facts
        assert r2["never"] == (0, 2)  # still NULL-extended
        assert rows_set(got) == rows_set(spark.sql(sql))
    finally:
        spark.catalog.dropTempView("fo_dim_r")


def test_full_outer_where_and_global(spark, qc, split, fo_dim):
    """WHERE applies post-join over NULL-extended rows too, and the
    global (no GROUP BY) shape merges to one row."""
    run1, run2, cut_ns, _cut = split
    run2()
    # now PAST max(ts): the engine's as-of bound must not cut the data
    # the plain twin sees
    qc.config.override_now_ns = cut_ns + 10**17
    for sql in (
        "SELECT segment, count(*) AS n FROM events_fo FULL JOIN fo_dim "
        "ON user_id = uid WHERE value > 2 GROUP BY 1 ORDER BY 1",
        "SELECT count(*) AS n, count(value) AS nv, min(value) AS mn "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid",
        "SELECT segment, round(avg(value), 2) AS av FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 "
        "ORDER BY 2 DESC NULLS LAST LIMIT 3",
    ):
        got = qc.sql(sql)
        assert qc.last_decision.cached, qc.last_decision.reason
        assert [tuple(map(repr, r)) for r in got.collect()] == [
            tuple(map(repr, r)) for r in spark.sql(sql).collect()
        ] or rows_set(got) == rows_set(spark.sql(sql))


def test_full_outer_unsupported_shapes_passthrough(spark, qc, split, fo_dim):
    """Shapes past the composite's vocabulary refuse → passthrough with
    Spark-exact answers."""
    run2 = split[1]
    run2()
    qc.config.override_now_ns = split[2] + 10**17
    for sql in (
        # DISTINCT over an EXPRESSION argument (plain-column DISTINCT
        # sums and multi-arg count(DISTINCT) tuples cache since r17)
        "SELECT segment, sum(DISTINCT user_id + 1) AS n "
        "FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1",
        # aggregates past the composite's merge vocabulary (the whole
        # percentile family incl. approx, skew/kurt and corr/covar/
        # regr_* cache since r17; mode has no mergeable state here)
        "SELECT segment, mode(value) AS mo FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1",
        # second join above the FULL
        "SELECT n_name, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid "
        "JOIN nation ON uid % 25 = n_nationkey GROUP BY 1 ORDER BY 1",
    ):
        got = qc.sql(sql)
        assert not qc.last_decision.cached, sql
        assert rows_set(got) == rows_set(spark.sql(sql))


@pytest.fixture()
def fo_dimu(spark):
    # SAME-named key: the USING spelling merges it
    spark.range(200).select(
        (F.col("id") + 900).alias("user_id"),
        F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias(
            "segment"
        ),
    ).unionByName(
        spark.range(20).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias(
                "segment"
            ),
        )
    ).createOrReplaceTempView("fo_dimu")
    yield
    spark.catalog.dropTempView("fo_dimu")


def test_full_using_two_run_exact_and_merged_key(spark, qc, split, fo_dimu):
    """FULL ... USING merges the key column: on anti rows the fact side
    is NULL so the merged key IS the dim's value — group-by-merged-key
    must be exact, two-run, including NATURAL FULL (de-sugars here)."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT user_id % 7 AS ub, segment, count(ts) AS nf, count(*) AS n "
        "FROM events_fo FULL JOIN fo_dimu USING (user_id) "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))
    nat = (
        "SELECT segment, count(*) AS n FROM events_fo "
        "NATURAL FULL JOIN fo_dimu GROUP BY 1 ORDER BY 1"
    )
    got2 = qc.sql(nat)
    assert qc.last_decision.cached, qc.last_decision.reason
    assert rows_set(got2) == rows_set(spark.sql(nat))


def test_full_using_side_qualified_key_passthrough(spark, qc, split, fo_dimu):
    """`u.k` / `e.k` after FULL USING is a SIDE's column (NULL on the
    other side's unmatched rows), not the merged one — refuse →
    passthrough, Spark-exact (the r14 wrong-answer class, FULL edition)."""
    run2 = split[1]
    run2()
    qc.config.override_now_ns = split[2] + 10**17
    sql = (
        "SELECT u.user_id AS uu, count(*) AS n FROM events_fo e "
        "FULL JOIN fo_dimu u USING (user_id) GROUP BY 1 ORDER BY 1"
    )
    got = qc.sql(sql)
    assert not qc.last_decision.cached
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_full_outer_having(spark, qc, split, fo_dim):
    """HAVING filters the merged frame: its aggregates rewrite onto the
    same state columns; two-run exact vs plain Spark."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, count(*) AS n, round(avg(value), 2) AS av "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 HAVING count(ts) > 50 AND avg(value) > 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))
    # volatile HAVING must refuse → passthrough
    vol = (
        "SELECT segment, count(*) AS n FROM events_fo FULL JOIN fo_dim "
        "ON user_id = uid GROUP BY 1 "
        "HAVING count(*) > rand() * 10 ORDER BY 1"
    )
    qc.sql(vol)
    assert not qc.last_decision.cached


def test_full_outer_dup_dim_rows_and_null_keys(spark, qc, split):
    """Multiset + NULL semantics: duplicate matched dim rows double the
    fact rows, duplicate UNMATCHED rows NULL-extend once each (left_anti
    preserves multiplicity), NULL join keys never match and always
    NULL-extend — all exactly like plain Spark."""
    run2 = split[1]
    run2()
    qc.config.override_now_ns = split[2] + 10**17
    rows = [
        (1, "a"), (1, "a"),          # duplicate MATCHED dim rows
        (2, None),                    # NULL non-key column
        (None, "z"), (None, "z"),     # duplicate NULL-key rows (never match)
        (999001, "u"), (999001, "u"), # duplicate unmatched rows
        (3, "b"),
    ]
    spark.createDataFrame(rows, "uid long, seg string").createOrReplaceTempView(
        "fo_adv"
    )
    try:
        for sql in (
            "SELECT seg, count(ts) AS nf, count(*) AS n FROM events_fo "
            "FULL JOIN fo_adv ON user_id = uid GROUP BY 1 ORDER BY 1",
            "SELECT uid, count(*) AS n FROM events_fo "
            "FULL JOIN fo_adv ON user_id = uid GROUP BY 1 ORDER BY 1",
        ):
            got = qc.sql(sql)
            assert qc.last_decision.cached, qc.last_decision.reason
            assert rows_set(got) == rows_set(spark.sql(sql))
    finally:
        spark.catalog.dropTempView("fo_adv")


def test_full_outer_under_derived_and_window(spark, qc, split, fo_dim):
    """The subquery path plans a derived FULL aggregate via the same
    composite — outer filters and window replay ride it for free."""
    run2 = split[1]
    run2()
    qc.config.override_now_ns = split[2] + 10**17
    for sql in (
        "SELECT segment, n FROM (SELECT segment, count(*) AS n "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid GROUP BY 1) x "
        "WHERE n > 10 ORDER BY 1",
        "SELECT segment, n, rank() OVER (ORDER BY n DESC, segment) AS r "
        "FROM (SELECT segment, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1) x ORDER BY 3",
    ):
        got = qc.sql(sql)
        assert qc.last_decision.cached, qc.last_decision.reason
        assert rows_set(got) == rows_set(spark.sql(sql))


# --- r16: FULL OUTER over a star (inner/left dim edges + one FULL edge) ---

@pytest.fixture()
def fo_star(spark):
    # inner dim with partial coverage (so INNER vs LEFT edges differ) and
    # a FULL dim with never-matched rows
    spark.sql(
        "SELECT DISTINCT user_id, concat('s', user_id % 4) AS segment "
        "FROM events WHERE user_id % 3 != 0"
    ).createOrReplaceTempView("fo_seg")
    spark.sql(
        "SELECT DISTINCT event_type AS et, upper(event_type) AS big "
        "FROM events UNION ALL "
        "SELECT concat('ghost', CAST(id AS STRING)), 'G' FROM range(5)"
    ).createOrReplaceTempView("fo_fdim")
    yield
    spark.catalog.dropTempView("fo_seg")
    spark.catalog.dropTempView("fo_fdim")


FO_STAR_SQL = (
    "SELECT big, segment, count(ts) AS nf, count(*) AS n, "
    "round(sum(value), 2) AS sv FROM events_fo "
    "JOIN fo_seg USING (user_id) "
    "FULL JOIN fo_fdim ON event_type = et "
    "GROUP BY 1, 2 ORDER BY 1, 2"
)


def test_full_star_two_run_exact(spark, qc, split, fo_star):
    """One FULL edge closing an inner-dim spine: the spine folds into the
    cached fact half; the FULL dim keeps the A/M/anti decomposition.
    Retractions included — a fo_fdim row first matched by second-half
    facts loses its NULL extension on the warm read."""
    run1, run2, cut_ns, _cut = split
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(FO_STAR_SQL).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(FO_STAR_SQL)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(FO_STAR_SQL))


def test_full_star_left_dim_edge_and_where(spark, qc, split, fo_star):
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT big, count(ts) AS nf, count(segment) AS ns, count(*) AS n "
        "FROM events_fo LEFT JOIN fo_seg USING (user_id) "
        "FULL JOIN fo_fdim ON event_type = et "
        "WHERE value > 2 GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_full_star_refusals_passthrough(spark, qc, split, fo_star):
    """Anything but one spine-CLOSING FULL edge refuses to passthrough
    (extends the 5b9d271 table-count hardening property to the star)."""
    run1, _run2, cut_ns, _cut = split
    run1()
    qc.config.override_now_ns = cut_ns
    for sql in [
        # FULL not last: later edges consume the NULL-extended rows
        "SELECT count(*) AS n FROM events_fo "
        "FULL JOIN fo_fdim ON event_type = et JOIN fo_seg USING (user_id)",
        # two FULL edges
        "SELECT count(*) AS n FROM events_fo "
        "FULL JOIN fo_fdim ON event_type = et FULL JOIN fo_seg USING (user_id)",
    ]:
        got = rows_set(qc.sql(sql))
        assert not qc.last_decision.cached, sql
        assert got == rows_set(spark.sql(sql))


def test_full_outer_approx_distinct_two_run(spark, qc, split, fo_dim):
    """r16: approx_count_distinct on the FULL composite — both halves
    produce HLL sketches, the composite unions register-wise and
    estimates AFTER the merge. Register-wise union is deterministic, so
    the incremental result equals plain Spark BIT-exactly."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, approx_count_distinct(user_id) AS u, "
        "count(*) AS n FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_full_outer_count_distinct_two_run(spark, qc, split, fo_dim):
    """r16: exact count(DISTINCT x) on the FULL composite — set states
    on both halves, union merge, cardinality after (plain counts never
    add across halves: the same value can appear on matched and anti
    dim rows). Exact vs plain Spark, retractions included."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, count(DISTINCT user_id) AS du, "
        "count(DISTINCT event_type) AS de, count(*) AS n "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_full_outer_skew_kurt_two_run(spark, qc, split, fo_dim):
    """r17: skewness/kurtosis on the FULL composite — each half's
    (count, sum, var_pop, skewness, kurtosis) states recover central
    (M2, M3, M4); the halves combine with one exact pairwise Pébay
    merge. Both fns of one column share ONE moment struct. Relative
    tolerance: any incremental merge re-associates fp."""
    import math

    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, skewness(value) AS sk, kurtosis(value) AS ku, "
        "var_samp(value) AS vs, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = sorted(tuple(r) for r in qc.sql(sql).collect())
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    want = sorted(tuple(r) for r in spark.sql(sql).collect())
    assert len(got) == len(want)
    for ga, wa in zip(got, want):
        for x, y in zip(ga, wa):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-7, abs_tol=1e-7)
            else:
                assert x == y


def test_full_outer_skew_adversarial_mean(spark, qc):
    """Large-mean data (mean ~1e9, sigma ~1e3): M3/M4 recovered from
    Spark's own builtins per half + the central Pébay merge must stay
    accurate where raw power sums would cancel catastrophically."""
    import math

    from pyspark.sql import functions as F

    spark.range(4000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 7).alias("k"),
        (F.lit(1e9) + (F.col("id") % 2000).cast("double") ** 1.1).alias(
            "v"
        ),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id")
        ).alias("ts"),
    ).createOrReplaceTempView("advm_fact")
    spark.range(10).select(
        F.col("id").alias("k2"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("lbl"),
    ).createOrReplaceTempView("advm_dim")
    try:
        sql = (
            "SELECT lbl, skewness(v) AS sk, kurtosis(v) AS ku, "
            "count(*) AS n FROM advm_fact FULL JOIN advm_dim ON k = k2 "
            "GROUP BY 1 ORDER BY 1"
        )
        got = sorted(tuple(r) for r in qc.sql(sql).collect())
        assert qc.last_decision.cached, qc.last_decision.reason
        want = sorted(tuple(r) for r in spark.sql(sql).collect())
        for ga, wa in zip(got, want):
            for x, y in zip(ga, wa):
                if isinstance(x, float) and isinstance(y, float):
                    assert math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-6)
                else:
                    assert x == y
    finally:
        spark.catalog.dropTempView("advm_fact")
        spark.catalog.dropTempView("advm_dim")


def test_full_outer_multiarg_count_distinct_two_run(spark, qc, split, fo_dim):
    """r17: count(DISTINCT a, b) — distinct TUPLES via a set state over
    __qc_struct tuples (rows with ANY NULL component excluded, SQL
    semantics); union merge + cardinality after, exactly the single-arg
    shape. Exact vs plain Spark, retractions included."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, count(DISTINCT user_id, event_type) AS d2, "
        "count(DISTINCT event_type, value > 50) AS dm, "
        "count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_full_outer_selfmerge_family_two_run(spark, qc, split, fo_dim):
    """r17: product and the bool/bit families on the FULL composite —
    self-merging states (each half's fold re-folds over the union;
    NULL states from all-NULL halves are skipped like SQL null rules).
    Exact vs plain Spark, retractions included."""
    import math

    run1, run2, cut_ns, _cut = split
    # (product() is in the vocabulary too but has no Spark SQL spelling
    # — DataFrame-API / DuckDB-oracle surface only, so no plain twin)
    sql = (
        "SELECT segment, bool_and(value > 0) AS ba, "
        "bool_or(value > 1000) AS bo, "
        "bit_and(user_id) AS band, bit_or(user_id) AS bor, "
        "bit_xor(user_id) AS bxor, "
        "count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = sorted(tuple(r) for r in qc.sql(sql).collect())
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    want = sorted(tuple(r) for r in spark.sql(sql).collect())
    assert len(got) == len(want)
    for ga, wa in zip(got, want):
        for x, y in zip(ga, wa):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
            else:
                assert x == y


def test_full_outer_approx_percentile_band_and_determinism(
    spark, qc, split, fo_dim
):
    """r17: approx_percentile on the FULL composite rides the SAME
    histogram state over a __qc_ddq pre-quantized argument (shared
    ddsketch_quantize binning, eps riding the fingerprint as a
    literal). Sketch estimates differ from plain Spark's, so the
    contract is (a) band: within ~3·eps of the EXACT quantile,
    (b) determinism: two-run incremental ≡ single-shot EXACTLY (bin
    multisets are split-invariant), (c) sketch off → refused,
    passthrough parity."""
    import math
    import tempfile as _tf

    from datafusion_query_cache_spark import (
        CachedSparkSession,
        ParquetQueryCache,
        QueryCacheConfig,
    )

    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, approx_percentile(value, 0.9) AS p90, "
        "percentile_approx(value, 0.5) AS med, count(*) AS n "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 ORDER BY 1"
    )

    def _mk(**kw):
        return CachedSparkSession(
            spark,
            QueryCacheConfig(
                cache=ParquetQueryCache(_tf.mkdtemp(prefix="qc-fap-")),
                default_temporal_column="ts",
                **kw,
            ),
        )

    qca = _mk(override_now_ns=cut_ns)
    run1()
    qca.sql(sql).collect()
    assert qca.last_decision.cached, qca.last_decision.reason
    run2()
    qca.config.override_now_ns = cut_ns + 10**17
    got = {r[0]: r for r in qca.sql(sql).collect()}
    assert qca.last_decision.cache_hit, qca.last_decision.reason
    exact = {
        r[0]: r
        for r in spark.sql(
            "SELECT segment, percentile(value, 0.9) AS p90, "
            "median(value) AS med, count(*) AS n FROM events_fo "
            "FULL JOIN fo_dim ON user_id = uid GROUP BY 1"
        ).collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        for i in (1, 2):
            if exact[k][i] is None:
                assert got[k][i] is None
            else:
                assert math.isclose(
                    got[k][i], exact[k][i], rel_tol=0.03, abs_tol=1e-9
                ), (k, i, got[k][i], exact[k][i])
        assert got[k][3] == exact[k][3]
    single = {r[0]: r for r in _mk().sql(sql).collect()}
    for k in got:
        assert got[k][1] == single[k][1] and got[k][2] == single[k][2], k
    # sketch off -> the composite refuses, passthrough parity
    qoff = _mk(approx_percentile_sketch=False)
    goff = qoff.sql(sql)
    assert not qoff.last_decision.cached
    assert rows_set(goff) == rows_set(spark.sql(sql))


def test_full_outer_corr_covar_regr_two_run(spark, qc, split, fo_dim):
    """r17: the two-column co-moment family on the FULL composite —
    per-half (n, Σx, Σy, C2, M2x, M2y) recovered from Spark's own
    count/sum/covar_pop/var_pop (pair-validity via x+0·y NULL
    propagation), folded with the pairwise co-moment combine.
    corr(a,b) and regr_*(b,a) share ONE struct. Relative tolerance:
    incremental merges re-associate fp."""
    import math

    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, corr(value, user_id) AS co, "
        "covar_samp(value, user_id) AS cs, "
        "covar_pop(value, user_id) AS cp, "
        "regr_slope(user_id, value) AS sl, "
        "regr_intercept(user_id, value) AS ic, "
        "regr_r2(user_id, value) AS r2, "
        "regr_count(user_id, value) AS rc, "
        "regr_avgx(user_id, value) AS ax, "
        "regr_sxy(user_id, value) AS sxy, "
        "count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = sorted(tuple(r) for r in qc.sql(sql).collect())
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    want = sorted(tuple(r) for r in spark.sql(sql).collect())
    assert len(got) == len(want)
    for ga, wa in zip(got, want):
        for x, y in zip(ga, wa):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) or math.isnan(y):
                    assert math.isnan(x) and math.isnan(y)
                else:
                    assert math.isclose(x, y, rel_tol=1e-7, abs_tol=1e-7)
            else:
                assert x == y


def test_full_outer_percentile_two_run(spark, qc, split, fo_dim):
    """r17: exact median/percentile on the FULL composite — both halves
    emit the RLE histogram state (__qc_hist, finalize ≡ state), the
    union merge sorted-flattens the multisets, and the interpolation
    walk runs in the output position. Exact vs plain Spark,
    retractions included; two fractions of one column share ONE
    histogram state."""
    import math

    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, median(value) AS med, "
        "percentile(value, 0.9) AS p90, count(*) AS n "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = sorted(tuple(r) for r in qc.sql(sql).collect())
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    want = sorted(tuple(r) for r in spark.sql(sql).collect())
    assert len(got) == len(want)
    for ga, wa in zip(got, want):
        for x, y in zip(ga, wa):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12)
            else:
                assert x == y


def test_full_outer_distinct_sum_avg_two_run(spark, qc, split, fo_dim):
    """r17: sum/avg(DISTINCT x) on the FULL composite — the same set
    state as count(DISTINCT) (union merge), folded to sum/avg in the
    output position; integral input keeps long sums (the normal path's
    typing). Exact vs plain Spark, retractions included."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, sum(DISTINCT user_id) AS su, "
        "avg(DISTINCT user_id) AS au, count(DISTINCT user_id) AS du, "
        "count(*) AS n FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))
    # DISTINCT over an expression still refuses -> passthrough parity
    bad = (
        "SELECT segment, sum(DISTINCT user_id + 1) AS sx "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid GROUP BY 1"
    )
    got2 = qc.sql(bad)
    assert not qc.last_decision.cached
    assert rows_set(got2) == rows_set(spark.sql(bad))


def test_full_outer_min_by_max_by_two_run(spark, qc, split, fo_dim):
    """r16: argmin/argmax on the FULL composite — pair states (extreme
    value + its key) merged by re-taking the extreme across halves;
    all-NULL anti rows drop out exactly like SQL (min_by skips NULL
    keys). ts_ns orders totally, so the answers are deterministic."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, min_by(event_id, ts_ns) AS first_ev, "
        "max_by(event_id, ts_ns) AS last_ev, count(*) AS n "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_full_outer_first_last_two_run(spark, qc, split, fo_dim):
    """r16: first/last desugar onto the argmin pair states inside the
    composite (the engine's time-series definition: value at the
    extreme timestamp — plain Spark's first() is order-arbitrary, so
    the twin is the min_by/max_by spelling)."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, first(event_id) AS fe, last(event_id) AS le, "
        "count(*) AS n FROM events_fo FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY 1 ORDER BY 1"
    )
    twin = (
        "SELECT segment, min_by(event_id, ts) AS fe, "
        "max_by(event_id, ts) AS le, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(twin))


def test_full_outer_dynamic_bound_and_union_branch(spark, qc, split, fo_dim):
    """r16 composition pins: a dynamic lower bound rides the A half's
    own dyn ladder (anti side pinned at the composite's shared now), and
    a FULL composite works as a UNION branch."""
    run1, run2, cut_ns, _cut = split
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    dyn = (
        "SELECT segment, count(ts) AS nf, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid "
        "WHERE ts > now() - INTERVAL 100000 DAYS GROUP BY 1 ORDER BY 1"
    )
    got = qc.sql(dyn)
    assert qc.last_decision.cached, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(dyn))
    uni = (
        "SELECT segment AS g, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 UNION ALL "
        "SELECT event_type AS g, count(*) AS n FROM events_fo GROUP BY 1 "
        "ORDER BY 1, 2"
    )
    got = qc.sql(uni)
    assert qc.last_decision.cached, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(uni))


def test_audit_on_full_a_half_entry(spark, qc, split, fo_dim):
    run1, run2, cut_ns, _cut = split
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    sql = (
        "SELECT segment, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1"
    )
    qc.sql(sql).collect()
    rep = qc.audit(qc.last_decision.fingerprint, buckets=4)
    assert rep.ok


def test_full_outer_rollup_two_run(spark, qc, split, fo_dim):
    """r16: grouping sets over the FULL composite — the merged frame is
    the finest-granularity state; each coarser set re-aggregates it with
    the composite's own merge vocabulary (incl. set states and argmin
    pairs), grouping() flags as per-part literals. Anti groups' natural
    NULL keys group as values (grouping()=0); subtotal NULLs are typed
    per-part literals."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, user_id % 3 AS ub, grouping(segment) AS gs, "
        "count(*) AS n, count(DISTINCT user_id) AS du, "
        "round(sum(value), 2) AS sv, "
        # skew rides the rollup too (r17): the coarser sets re-FOLD the
        # (n,s,m2,m3,m4) moment structs — the associativity property of
        # the Pébay merge, exercised beyond the 2-element union fold
        "round(skewness(value) + 1e-9, 3) AS sk FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid "
        "GROUP BY ROLLUP (segment, ub) "
        "ORDER BY segment NULLS FIRST, ub NULLS FIRST, gs"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert rows_set(got) == rows_set(spark.sql(sql))


def test_full_outer_var_family_two_run(spark, qc, split, fo_dim):
    """r16: var/stddev family on the FULL composite — each half's
    (count, sum, var_samp) triple recovers its central M2; the two
    halves combine with ONE exact pairwise Chan merge (order pinned by
    array_sort, so the fold is deterministic). Central moments, not raw
    power sums — no catastrophic cancellation at large means. Compared
    with a relative tolerance: any incremental merge re-associates fp
    (the engine's standing var contract)."""
    import math

    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, var_samp(value) AS vs, var_pop(value) AS vp, "
        "stddev(value) AS sd, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid GROUP BY 1 ORDER BY 1"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = sorted(tuple(r) for r in qc.sql(sql).collect())
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    want = sorted(tuple(r) for r in spark.sql(sql).collect())
    assert len(got) == len(want)
    for ga, wa in zip(got, want):
        for x, y in zip(ga, wa):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
            else:
                assert x == y


def test_full_outer_var_adversarial_mean(spark, qc):
    """Large-mean data (mean ~1e9, sigma ~1e3): the pairwise CENTRAL
    merge must stay accurate where raw power sums would cancel
    catastrophically."""
    import math

    from pyspark.sql import functions as F

    spark.range(4000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 7).alias("k"),
        (F.lit(1e9) + (F.col("id") % 2000).cast("double")).alias("v"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id")
        ).alias("ts"),
    ).createOrReplaceTempView("adv_fact")
    spark.range(10).select(
        F.col("id").alias("k2"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("lbl"),
    ).createOrReplaceTempView("adv_dim")
    try:
        sql = (
            "SELECT lbl, var_samp(v) AS vs, stddev_pop(v) AS sp, "
            "count(*) AS n FROM adv_fact FULL JOIN adv_dim ON k = k2 "
            "GROUP BY 1 ORDER BY 1"
        )
        got = sorted(tuple(r) for r in qc.sql(sql).collect())
        assert qc.last_decision.cached, qc.last_decision.reason
        want = sorted(tuple(r) for r in spark.sql(sql).collect())
        for ga, wa in zip(got, want):
            for x, y in zip(ga, wa):
                if isinstance(x, float) and isinstance(y, float):
                    assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                else:
                    assert x == y
    finally:
        spark.catalog.dropTempView("adv_fact")
        spark.catalog.dropTempView("adv_dim")


@pytest.mark.parametrize(
    "nano_bytes, tiers",
    [(None, {"nano"}), (0, {"lite", "classic"})],
    ids=["nano", "lite"],
)
def test_full_outer_a_state_on_every_tier(spark, qc, nano_bytes, tiers):
    """The composite reads the LEFT half's stored state after whatever
    tier refreshed it: over the registered ``events`` and ``customer``
    sources A refreshes on nano (UTC session); with the nano byte gate
    closed it refreshes on lite (or classic where lite refuses). Every
    refresh is exact vs plain Spark over the bounded fact."""
    if nano_bytes is not None:
        qc.config.nano_refresh_max_bytes = nano_bytes
    sql = (
        "SELECT c_mktsegment, count(ts) AS nf, count(*) AS n, "
        "sum(value) AS sv, min(value) AS mn, avg(value) AS av FROM events "
        "FULL JOIN customer ON user_id = c_custkey GROUP BY 1"
    )
    day = 24 * 3600 * 10**9
    t0 = int(dt.datetime(2024, 1, 20, tzinfo=dt.timezone.utc).timestamp()) * 10**9
    for i in range(3):
        now_ns = t0 + i * 3 * day
        qc.config.override_now_ns = now_ns
        got = qc.sql(sql)
        assert qc.last_decision.refresh_tier == "full_outer"
        lit = f"timestamp_micros({now_ns // 1000})"
        plain = sql.replace(
            "FROM events ", f"FROM (SELECT * FROM events WHERE ts < {lit}) e "
        )
        assert rows_set(got) == rows_set(spark.sql(plain)), f"refresh {i}"
        if i > 0:
            assert qc.last_decision.cache_hit
            a_tier = [
                m
                for m in qc.config.log.messages()
                if m.startswith("full-outer composite: A state")
            ][-1].split("(")[1].split(")")[0]
            assert a_tier in tiers, a_tier


def test_full_outer_collect_set_caches(spark, qc, split, fo_dim):
    """An aggregate the normal path decomposes caches over a FULL join
    without a composite-specific spelling: collect_set's set state merges
    the anti rows' NULL-skipping partial into A's state."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, collect_set(value) AS cs, count(*) AS n "
        "FROM events_fo FULL JOIN fo_dim ON user_id = uid GROUP BY 1"
    )

    def rows(df):
        return sorted(
            (r["segment"] or "", tuple(sorted(r["cs"])), r["n"])
            for r in df.collect()
        )

    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    assert rows(got) == rows(spark.sql(sql))


def test_full_outer_dynamic_bound_plans_no_anti(spark, qc, split, fo_dim):
    """A dynamic bound is a conjunct on the fact's temporal column, NULL on
    every anti row, so the answer is the LEFT half's own result: neither
    the matched-set sub-plan nor the anti join is planned."""
    run1, run2, cut_ns, _cut = split
    sql = (
        "SELECT segment, count(ts) AS nf, count(*) AS n FROM events_fo "
        "FULL JOIN fo_dim ON user_id = uid "
        "WHERE ts > now() - INTERVAL 100000 DAYS GROUP BY 1 ORDER BY 1 "
        "LIMIT 4"
    )
    run1()
    qc.config.override_now_ns = cut_ns
    qc.sql(sql).collect()
    run2()
    qc.config.override_now_ns = cut_ns + 10**17
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit, qc.last_decision.reason
    assert qc.last_decision.refresh_tier == "full_outer"
    assert got.collect() == spark.sql(sql).collect()
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in plan, plan
    # the matched set M is the only sub-plan aggregating __qcm
    assert not any(
        "__qcm" in r.fingerprint for r in qc.config.log.history()
    ), [r.message for r in qc.config.log.history()]
