"""Scan-parallelism guard for small / unsplittable inputs.

A parquet file is splittable only at ROW-GROUP grain: a file written as one
row group is one scan task no matter how small ``maxPartitionBytes`` is or
how many cores the session has. The bench fixtures (and any compacted small
table) are exactly that shape — so every downstream per-row computation
(shingling, hashing, regex, higher-order array folds) serializes onto one
core out of 32. This is the "one huge unsplittable file" input-skew case of
the optimization guide (§2.5): the fix is one cheap round-robin repartition
of the raw rows immediately after the read, which unlocks full-width scan
stages for everything downstream.

At scale this is a NO-OP by construction: any input whose optimizer size
estimate exceeds the smallness threshold (256 MB, i.e. at most a
couple of scan splits) is returned unchanged, so a 100 TB table never pays
the extra exchange. The gate reads ``optimizedPlan().stats().sizeInBytes``
— driver-side metadata, no Spark job and (unlike a ``df.rdd`` partition
probe) no per-plan deserializer codegen, which measured 0.3-0.6 s per
fresh plan. Cost: one Catalyst analyze+optimize of the input lineage
(~10 ms for the scan/filter inputs the guarded operators receive; a
deeply derived input pays its own plan-optimization once more — pass
such frames through ``localCheckpoint`` first, as the components
pipeline does).
"""

from __future__ import annotations

import threading as _threading
import weakref as _weakref

from pyspark.sql import DataFrame

#: inputs whose optimizer size estimate is at or below this are "small":
#: their scan runs on a handful of tasks at the default 128 MB split size,
#: so per-row-heavy work deserves a spread (and standing-ingest commits
#: deserve the AQE-off clone). Estimates propagate conservatively — a
#: filtered slice of a huge table keeps the table's size, which errs
#: toward NOT treating big-table derivatives as small. A LIMIT caps the
#: estimate, so gate on the frame BEFORE any LIMIT.
_SMALL_BYTES = 256 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df`` (driver metadata, no job)."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def is_small_input(df: DataFrame) -> bool:
    """True when ``df`` is estimated at or under the smallness threshold
    (see module doc). False for streaming inputs or estimate failures."""
    try:
        if df.sparkSession.sparkContext.defaultParallelism <= 1:
            return False
        return _plan_size_bytes(df) <= _SMALL_BYTES
    except Exception:
        return False


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default parallelism
    when its scan would otherwise run on too few tasks (see module doc).

    Row-preserving and deterministic under retries (Spark's
    ``sortBeforeRepartition`` applies); per-row ORDER within a partition is
    the source order of that row's slice, and every operator this guards is
    either per-row or a grouped aggregation, so results are unchanged.
    Streaming inputs fall through untouched.
    """
    if not is_small_input(df):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


#: AQE-off execution clones, per parent session and shuffle width (see
#: :func:`exec_session`). WeakKeyDictionary — a GC'd parent drops its
#: clones, so a reused id() can never alias a dead session's clone.
_CLONE_LOCK = _threading.Lock()
_EXEC_CLONES: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()

#: runtime confs re-pinned from the parent at clone creation.
#: ``newSession()`` already inherits every conf set at BUILDER time (the
#: engine session's whole configuration, ``sources.tables.get_session``);
#: this list covers runtime drift on the confs that bear on results or on
#: the small-commit plan shape.
_CLONE_PIN_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.shuffle.partitions",
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.parquet.compression.codec",
)


def exec_session(spark, width=None):
    """The AQE-OFF execution session for ``spark`` at shuffle ``width`` —
    the one way the engine runs a plan with AQE off.

    Why: AQE materializes every exchange as its own Spark stage-job
    (~0.15 s scheduling each), pure overhead on a plan that carries a few
    hundred rows; with AQE off the same program runs as ONE job per
    action. Why a CLONE and not a runtime-conf flip: ``spark.conf`` is
    session-global, so a flip strips AQE (skew splitting, partition
    coalescing) from any UNRELATED query planned concurrently on the
    caller's session. A ``spark.newSession()`` clone shares the
    SparkContext, cached data and external catalog but has its OWN
    SQLConf. Small programs are rebound onto it via :func:`on_session`
    (a logical-plan transfer — no data moves).

    ``width=None`` keeps the parent's ``spark.sql.shuffle.partitions``:
    the small-delta ingest commits and tiny-graph loops behind the
    ``op_*`` rows (``op_incr_substr_update``, ``op_dedup_cluster_keep``).
    ``width=2`` serves the narrowed warm-refresh collects
    (``tiers._narrow_refresh_ok``) behind the small_dashboard refresh
    row, whose merge shuffle carries O(state) rows. One clone is cached
    per (parent, width).

    Returns ``None`` when cloning is unavailable; callers then run the
    plan on the caller's session, AQE on.
    """
    try:
        with _CLONE_LOCK:
            clones = _EXEC_CLONES.setdefault(spark, {})
            clone = clones.get(width)
            if clone is None:
                clone = spark.newSession()
                for k in _CLONE_PIN_CONFS:
                    try:
                        v = spark.conf.get(k, None)
                        if v is not None:
                            clone.conf.set(k, v)
                    except Exception:
                        pass
                if width is not None:
                    clone.conf.set("spark.sql.shuffle.partitions", str(width))
                clone.conf.set("spark.sql.adaptive.enabled", "false")
                clones[width] = clone
        return clone
    except Exception:
        return None


def on_session(df: DataFrame, target) -> DataFrame:
    """Rebind ``df``'s logical plan onto ``target`` (a session of the
    SAME SparkContext, e.g. an :func:`exec_session` clone).

    A pure driver-side transfer: ``Dataset.ofRows(target, df.analyzed)``
    re-runs analysis on the ALREADY-RESOLVED tree under the target's
    SQLConf (idempotent) — no data moves, and persisted/cached children
    still hit the shared cache (the CacheManager lives in the shared
    state). The analyzed plan is used rather than the raw logical one
    because temp views are NOT shared across sessions: an unresolved
    view reference would fail to re-resolve on the clone, while the
    analyzed tree carries the resolved relations inline. Raises on
    failure so the caller can fall back wholesale to the parent
    session."""
    if target is None or df.sparkSession is target:
        return df
    sess = df.sparkSession
    jdf = sess._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        target._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, target)
