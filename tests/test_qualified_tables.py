"""Catalog-qualified table names on the cached path (r12 verdict item 2):
``db.table`` / ``catalog.db.table`` / backticked spellings parse, cache,
and refresh incrementally. The qualified SPELLING is part of the
fingerprint — ``default.t`` and ``t`` never share entries (conservative:
name equivalence is invisible in the AST)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_set

SQL = (
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n "
    "FROM {t} GROUP BY 1"
)


@pytest.fixture()
def cat_table(spark):
    ev = spark.table("events")
    cut = int(ev.approxQuantile("ts_ns", [0.5], 0.0)[0])
    ev.filter(F.col("ts_ns") < cut).write.mode("overwrite").saveAsTable(
        "default.events_cat"
    )
    yield cut
    spark.sql("DROP TABLE IF EXISTS default.events_cat")


def _two_run(spark, qc, cut, spelling):
    qc.config.override_now_ns = cut
    sql = SQL.format(t=spelling)
    qc.sql(sql).collect()
    assert qc.last_decision.cached, qc.last_decision.reason
    assert not qc.last_decision.cache_hit
    spark.table("events").write.mode("overwrite").saveAsTable(
        "default.events_cat"
    )
    qc.config.override_now_ns = cut + 10**18
    got = qc.sql(sql)
    assert qc.last_decision.cache_hit
    assert rows_set(got) == rows_set(spark.sql(sql))
    return qc.last_decision.fingerprint


def test_db_qualified_two_run(spark, qc, cat_table):
    _two_run(spark, qc, cat_table, "default.events_cat")


def test_catalog_qualified_two_run(spark, qc, cat_table):
    _two_run(spark, qc, cat_table, "spark_catalog.default.events_cat")


def test_backtick_spelling_shares_entry(spark, qc, cat_table):
    """`default`.`events_cat` ≡ default.events_cat after identifier
    normalization: one entry serves both spellings."""
    fp = _two_run(spark, qc, cat_table, "`default`.`events_cat`")
    got = qc.sql(SQL.format(t="default.events_cat"))
    assert qc.last_decision.cache_hit
    assert qc.last_decision.fingerprint == fp


@pytest.mark.parametrize(
    "spelling", ["default.events_cat", "spark_catalog.default.events_cat"]
)
def test_qualified_source_refreshes_on_lite(spark, qc, cat_table, spelling):
    """The lite tier's one SQL job quotes each part of a qualified source
    (`default`.`events_cat`), so the refresh is served by lite, exact, and
    no table-not-found analysis error is logged on the way."""
    _two_run(spark, qc, cat_table, spelling)
    assert qc.last_decision.refresh_tier == "lite"
    bad = [m for m in qc.config.log.messages() if "TABLE_OR_VIEW_NOT_FOUND" in m]
    assert not bad, bad


def test_spellings_get_separate_entries(spark, qc, cat_table):
    """db-qualified vs catalog-qualified: separate fingerprints (never
    share state across names whose equivalence the AST cannot prove)."""
    qc.config.override_now_ns = cat_table
    qc.sql(SQL.format(t="default.events_cat")).collect()
    fp2 = qc.last_decision.fingerprint
    qc.sql(SQL.format(t="spark_catalog.default.events_cat")).collect()
    fp3 = qc.last_decision.fingerprint
    assert fp2 != fp3


def test_qualified_join_dim(spark, qc, cat_table):
    """Unqualified fact joined to a catalog-QUALIFIED dim still caches."""
    spark.table("events").select(
        F.col("event_type").alias("t_type")
    ).distinct().withColumn("t_weight", F.length("t_type")).write.mode(
        "overwrite"
    ).saveAsTable("default.etype_dim")
    try:
        sql = (
            "SELECT t_weight, CAST(date_trunc('day', ts) AS DATE) AS d, "
            "count(*) AS n FROM events "
            "JOIN default.etype_dim ON event_type = t_type "
            "GROUP BY 1, 2"
        )
        qc.config.override_now_ns = cat_table
        qc.sql(sql).collect()
        assert qc.last_decision.cached, qc.last_decision.reason
        qc.config.override_now_ns = cat_table + 10**18
        got = qc.sql(sql)
        assert qc.last_decision.cache_hit
        assert rows_set(got) == rows_set(spark.sql(sql))
    finally:
        spark.sql("DROP TABLE IF EXISTS default.etype_dim")


def test_default_keyword_untouched_in_strings(qc_mem):
    """The default-qualifier rewrite must not touch string literals."""
    got = qc_mem.sql("SELECT 'default.x' AS s, count(*) AS n FROM events GROUP BY 1")
    rows = got.collect()
    assert rows[0]["s"] == "default.x"
