"""Table registration helpers (the reference's MemTable/register analogue,
``examples/demo.rs:21-22,36-37``).

Views are registered over Parquet; at cluster scale these would be catalog
tables with partition columns on the temporal axis so the cache's
``ts >= watermark`` refresh filter prunes whole partitions.
"""

from __future__ import annotations

import os
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: view name → {"path": parquet path, "ts_kinds": {ts col: "us" | "ns_long"},
#: "plan_hash": the view's ``semanticHash``} for views registered through
#: ``register_parquet_view``. This is the
#: admission contract for the driver-local "nano" dynamic-refresh tier
#: (``nano.py``): only sources registered through THIS api — whose exact
#: view derivation (ns-shadow normalization) is therefore known — qualify
#: for driver-side scanning. Arbitrary user views never do.
LOCAL_PARQUET_SOURCES: dict = {}


def _nanos_timestamp_columns(path: str) -> list:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark cannot read those
    natively (PARQUET_TYPE_ILLEGAL); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as epoch-ns
    longs. The reference handles all four Arrow time units at the cache
    boundary (``src/aggregate.rs:431-439``); we normalize at the source."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


def with_ns_shadow(df: DataFrame, *cols: str) -> DataFrame:
    """Normalize the named temporal columns to the engine's two-column shape,
    whatever unit the source carried:

    - ``c``    — µs-precision ``TimestampType`` (user-facing semantics)
    - ``c_ns`` — epoch-nanosecond ``long`` shadow (the engine's watermark axis)

    Handles epoch-ns longs (``nanosAsLong`` parquet reads), µs ``TIMESTAMP``,
    and ``TIMESTAMP_NTZ``. The reference handles all four Arrow time units at
    the cache boundary (``src/aggregate.rs:431-439``); we normalize once at
    the source so the rest of the engine sees a single schema. For ns-long
    sources the shadow IS the scanned attribute (filters on it push into the
    parquet scan); for µs/NTZ sources the shadow is derived, so the engine's
    watermark filter relies on the µs fallback bound on ``c`` itself for
    pushdown (``session.py`` ``time_bounds``) — the shadow then exists for
    API compatibility."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    types = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        t = types.get(c)
        if isinstance(t, LongType):
            # epoch-ns long branch. `div` = exact integral division: `/` on
            # longs goes through DOUBLE, whose 53-bit mantissa rounds
            # epoch-ns (61-bit) values by up to ~128 ns BEFORE truncation —
            # an occasional off-by-1µs timestamp.
            df = df.withColumn(f"{c}_ns", F.col(c)).withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
        elif isinstance(t, (TimestampType, TimestampNTZType)):
            # µs / NTZ branch: the session timezone is pinned to UTC, so
            # NTZ → TimestampType is value-preserving; the shadow is exact
            # (µs * 1000 never overflows long for representable timestamps).
            df = df.withColumn(c, F.col(c).cast("timestamp")).withColumn(
                f"{c}_ns", F.unix_micros(F.col(c)) * F.lit(1000)
            )
    return df


def register_parquet_view(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Register ``path`` as view ``name``, normalizing EVERY timestamp column
    (parquet ns-long, µs TIMESTAMP, or TIMESTAMP_NTZ) via ``with_ns_shadow``
    so downstream code never depends on the writer's time unit."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    df = spark.read.parquet(path)
    ns_cols = set(_nanos_timestamp_columns(path))
    ts_cols = [
        f.name
        for f in df.schema.fields
        if f.name in ns_cols or isinstance(f.dataType, (TimestampType, TimestampNTZType))
    ]
    df = with_ns_shadow(df, *ts_cols)
    df.createOrReplaceTempView(name)
    LOCAL_PARQUET_SOURCES[name] = {
        "path": path,
        "ts_kinds": {
            c: ("ns_long" if c in ns_cols else "us") for c in ts_cols
        },
        # the view's canonical plan: a later createOrReplaceTempView under
        # the same name (a filtered subset, say) changes it, and the nano
        # tier, which reads ``path`` itself, must then stand aside
        "plan_hash": df.semanticHash(),
    }
    return df


def register_testdata(
    spark: SparkSession, sf_dir: str, tables: Optional[Iterable[str]] = None
) -> None:
    """Register the driver's parquet tables as temp views."""
    for t in tables or TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            register_parquet_view(spark, t, p)


def get_session(
    app: str = "datafusion_query_cache_spark",
    cpus: Optional[int] = None,
    warehouse: Optional[str] = None,
) -> SparkSession:
    """Local test/bench session. Cluster deployments bring their own session;
    nothing in the engine assumes local mode. ``warehouse`` points
    ``spark.sql.warehouse.dir`` somewhere disposable (tests use a temp dir
    so managed-table residue never lands in the working tree); it is a
    static conf, honored only by the call that creates the JVM session."""
    n = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # r17 OPT (guide §3.1/§9): let the planner pick a shuffled hash
        # join when its size conditions hold instead of always preferring
        # sort-merge — a FULL OUTER of a 100M-row fact with a small dim
        # then skips sorting the fact side entirely (measured 7.0s -> 3.4s
        # on the bench's qc_fo_x1000_plain; plan: SortMergeJoin FullOuter
        # -> ShuffledHashJoin FullOuter BuildRight). The planner still
        # prefers sort-merge whenever its SIZE ESTIMATE says the build
        # side may not fit a per-partition hash map (the guide's own
        # baseline, §9) — estimates can be wrong above exploded/joined
        # subtrees, where a misjudged SHJ build can OOM where SMJ would
        # spill; flip QC_PREFER_SORT_MERGE_JOIN=true for such workloads.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("QC_PREFER_SORT_MERGE_JOIN", "false"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("QC_DRIVER_MEMORY", "8g"))
    )
    if warehouse:
        b = b.config("spark.sql.warehouse.dir", warehouse)
    return b.getOrCreate()
